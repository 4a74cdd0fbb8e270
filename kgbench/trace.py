"""Spans, process counters and Spark event-log attribution.

Spans are recorded from the benchmark's own files around each call into the
program; each call's Spark jobs carry the span's job group, so the event log
attributes stage metrics back to the span.  Spans stay in memory and are
written as JSON when the run ends.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.sc = None
        self.cpu_root: int | None = None  # when set, spans record the
        #                                   CPU time of its descendants
        self.spans: list[dict] = []
        self.stages: list[dict] = []  # event-log stages, when parsed
        self._n = 0

    @contextmanager
    def span(self, name: str):
        self._n += 1
        gid = f"{name}#{self._n}"
        if self.sc is not None:
            self.sc.setJobGroup(gid, gid)
        cpu0 = tree_cpu_s(self.cpu_root) if self.cpu_root else None
        t0 = time.perf_counter()
        try:
            yield gid
        finally:
            t1 = time.perf_counter()
            if self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            span = {"name": name, "id": gid, "start": t0, "end": t1}
            if cpu0 is not None:
                span["worker_cpu_s"] = tree_cpu_s(self.cpu_root) - cpu0
            self.spans.append(span)

    def call(self, name: str, fn, *args, **kw):
        with self.span(name):
            return fn(*args, **kw)

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump(dict(extra, spans=self.spans, stages=self.stages), fh,
                      indent=1)


# ---------------------------------------------------------------------------
# /proc readers (psutil is not installed)
# ---------------------------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def hwm_mb(pid: int) -> tuple[float, float]:
    """Peak RSS (``VmHWM``) of ``pid``, and summed over its descendants, in
    MB."""
    own = _status_kb(pid, "VmHWM")
    total = sum(_status_kb(p, "VmHWM") for p in descendants(pid))
    return own / 1024.0, (total - own) / 1024.0


def tree_cpu_s(pid: int) -> float:
    """CPU seconds of the descendants of ``pid`` (not ``pid`` itself),
    including children they have already reaped."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for p in descendants(pid):
        if p == pid:
            continue
        try:
            with open(f"/proc/{p}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        f = stat[stat.rindex(")") + 2:].split()
        total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total / tick
