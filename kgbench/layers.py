"""Set-up and the per-layer measurements of the traced run.

Layers are named after the program's modules: ``kb`` (kb/build.py),
``semantics`` (the per-document calls, timed in process on one pinned core),
``ner`` (pipeline/ner.py), ``run`` (pipeline/run.py), ``catalog``
(io/catalog.py), ``triples`` and ``cc`` (pipeline/triples.py, cc.py) and
``spark`` for engine-wide counters.  Stage metrics come from the Spark event
log, attributed to spans through their job group.
"""

from __future__ import annotations

import json
import os
import pickle
import statistics
import time

SAMPLE_CHARS = 500_000  # in-process sample: the workload's first pages
PASSES = 3


class Setup:
    """JVM launch + session start + KB compile and broadcast + worker
    warm-up: what a user pays before every job.  ``start`` (re)does all of
    it."""

    def __init__(self, wl, n_cores: int, conf: dict, tracer) -> None:
        self.wl = wl
        self.n = n_cores
        self.conf = conf
        self.tr = tracer
        self.spark = None
        self.art = None
        self.jvm_pid = 0
        self.walls: list[float] = []
        self.parts: list[tuple[float, float, float]] = []

    def start(self, cold: bool = True) -> None:
        """Sets up; ``cold`` launches a new JVM, else the session restarts
        in the running one."""
        from ner_spark.kb.build import compile_kb
        from ner_spark.pipeline.ner import extract_mentions
        from ner_spark.session import get_spark

        self.stop(jvm=cold)
        wl, n, tr = self.wl, self.n, self.tr
        t0 = time.perf_counter()
        spark = get_spark("kgbench", master=f"local[{n}]",
                          shuffle_partitions=n, extra=self.conf)
        tr.sc = spark.sparkContext
        t1 = time.perf_counter()
        art = tr.call("kb.compile", compile_kb, spark, wl.kb_rows)
        t2 = time.perf_counter()
        # one page per core: every Python worker starts, unpickles the
        # broadcast and builds its kernel packs
        docs = spark.createDataFrame(
            spark.sparkContext.parallelize(
                list(zip(wl.urls[:n], wl.texts[:n])), n),
            "url string, text string")
        tr.call("warmup", lambda: extract_mentions(docs, art).count())
        t3 = time.perf_counter()
        self.walls.append(t3 - t0)
        self.parts.append((t1 - t0, t2 - t1, t3 - t2))
        self.spark, self.art = spark, art
        self.jvm_pid = spark.sparkContext._gateway.proc.pid

    def stop(self, jvm: bool = True) -> None:
        """Stops the session and, with ``jvm``, its JVM, waiting until the
        JVM ends."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if jvm and gw is not None:
            gw.shutdown()
            gw.proc.stdin.close()  # the JVM exits when its stdin closes
            gw.proc.wait()
            SparkContext._gateway = SparkContext._jvm = None


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _sample(wl) -> tuple[list[str], list[str]]:
    n = chars = 0
    while n < len(wl.texts) and chars < SAMPLE_CHARS:
        chars += len(wl.texts[n])
        n += 1
    return wl.urls[:n], wl.texts[:n]


def _timed(fn, docs) -> float:
    t0 = time.perf_counter()
    for d in docs:
        fn(d)
    return time.perf_counter() - t0


# ---------------------------------------------------------------------------
# semantics: in process, one pinned core
# ---------------------------------------------------------------------------

def semantics(wl, bundle, atm, core: int) -> dict:
    """Per-document layers on the sample: scan, fused scan+resolve, and the
    three Python helpers the kernel call makes (dates, proper nouns,
    paragraph offsets), timed by wrapping them where ``ckernel`` calls
    them."""
    from ner_spark.semantics import ckernel
    from ner_spark.semantics.lang import EN
    from ner_spark.semantics.recognize import scan_and_resolve

    _, docs = _sample(wl)
    n_chars = sum(len(d) for d in docs)
    prev = os.sched_getaffinity(0)
    os.sched_setaffinity(0, {core})
    try:
        # pack build: first kernel call on fresh (unpickled) KB objects,
        # minus a steady call on the same page
        b2, a2 = pickle.loads(pickle.dumps((bundle, atm)))
        first = _timed(lambda d: ckernel.try_scan_resolve(
            b2, a2, d, lang=EN, as_tuples=True), docs[:1])
        steady = _timed(lambda d: ckernel.try_scan_resolve(
            b2, a2, d, lang=EN, as_tuples=True), docs[:1])

        def sr(d):
            return scan_and_resolve(bundle, atm, d, lang=EN, as_tuples=True)

        sr(docs[0])
        t_scan = _median([_timed(atm.scan, docs) for _ in range(PASSES)])
        t_sr = _median([_timed(sr, docs) for _ in range(PASSES)])

        spent = {"dates": [], "proper_nouns": [], "paragraphs": []}
        names = {"dates": "find_dates", "proper_nouns": "find_proper_nouns",
                 "paragraphs": "offsets_of_paragraphs"}
        orig = {k: getattr(ckernel, v) for k, v in names.items()}
        acc: dict[str, float] = {}

        def wrap(key):
            fn = orig[key]

            def timed(*a, **kw):
                t0 = time.perf_counter()
                try:
                    return fn(*a, **kw)
                finally:
                    acc[key] += time.perf_counter() - t0
            return timed

        try:
            for k, v in names.items():
                setattr(ckernel, v, wrap(k))
            for _ in range(PASSES):
                acc.update(dict.fromkeys(names, 0.0))
                for d in docs:
                    sr(d)
                for k in names:
                    spent[k].append(acc[k])
        finally:
            for k, v in names.items():
                setattr(ckernel, v, orig[k])

        n_match = sum(len(atm.scan(d)) for d in docs)
        n_mention = sum(len(sr(d)) for d in docs)
        fallback = sum(ckernel.try_scan_resolve(
            bundle, atm, d, lang=EN, as_tuples=True) is None for d in docs)
    finally:
        os.sched_setaffinity(0, prev)
    helpers = {k: _median(v) for k, v in spent.items()}
    return {
        "semantics.sample_docs": len(docs),
        "semantics.scan_mb_s": n_chars / t_scan / 1e6,
        "semantics.scan_resolve_mb_s": n_chars / t_sr / 1e6,
        "semantics.dates_s": helpers["dates"],
        "semantics.proper_nouns_s": helpers["proper_nouns"],
        "semantics.paragraphs_s": helpers["paragraphs"],
        "semantics.kernel_self_s": t_sr - sum(helpers.values()),
        "semantics.pack_build_s": first - steady,
        "semantics.docs_c": len(docs) - fallback,
        "semantics.docs_fallback": fallback,
        "semantics.mentions_per_match": n_mention / max(n_match, 1),
        "_scan_resolve_s": t_sr,
    }


def boundary(spark, art, wl, t_inprocess: float) -> float:
    """``extract_mentions`` over the semantics sample as one partition, so
    one task on one Python worker, as on ``local[1]``; minus the in-process
    scan+resolve time of the same pages."""
    from ner_spark.pipeline.ner import extract_mentions

    urls, docs = _sample(wl)
    df = spark.createDataFrame(
        spark.sparkContext.parallelize(list(zip(urls, docs)), 1),
        "url string, text string").cache()
    df.count()
    q = extract_mentions(df, art)
    q.count()  # pack build on the worker
    t = _median([_timed(lambda _: q.count(), [0]) for _ in range(PASSES)])
    df.unpersist()
    return t - t_inprocess


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

def read_eventlog(path: str) -> tuple[list[dict], int]:
    """Completed stages with their job group and summed task metrics, and
    the number of failed tasks."""
    group_of: dict[int, str] = {}
    stages: list[dict] = []
    failed = 0
    with open(path) as fh:
        for line in fh:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                for s in e["Stage IDs"]:
                    group_of.setdefault(s, g)
            elif kind == "SparkListenerTaskEnd":
                failed += e["Task End Reason"]["Reason"] != "Success"
            elif kind == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                acc = {a["Name"]: a.get("Value") for a in si["Accumulables"]}

                def m(name, scale=1.0):
                    return float(acc.get("internal.metrics." + name) or 0) \
                        * scale

                stages.append({
                    "group": group_of.get(si["Stage ID"]),
                    "wall_s": (si["Completion Time"]
                               - si["Submission Time"]) / 1e3,
                    "run_s": m("executorRunTime", 1e-3),
                    "gc_s": m("jvmGCTime", 1e-3),
                    "shuffle_read": m("shuffle.read.remoteBytesRead")
                    + m("shuffle.read.localBytesRead"),
                    "shuffle_write": m("shuffle.write.bytesWritten"),
                    "fetch_wait_s": m("shuffle.read.fetchWaitTime", 1e-3),
                    "spill": m("memoryBytesSpilled")
                    + m("diskBytesSpilled"),
                    "output": m("output.bytesWritten"),
                    # Python ran in this stage (not a read of its cache)
                    "udf": "data sent to Python workers" in acc,
                    "py_run_s": float(acc.get("time to run Python workers")
                                      or 0) / 1e3,
                })
    return stages, failed


def _in(stages, groups):
    return [s for s in stages if s["group"] in groups]


def _files(path: str) -> tuple[int, int]:
    n = size = 0
    for dirpath, _, names in os.walk(path):
        for f in names:
            if f.startswith("part-"):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    return n, size


# ---------------------------------------------------------------------------
# the traced run
# ---------------------------------------------------------------------------

def job_layers(j, k: int, tr) -> dict:
    """Per-layer numbers read from the output of traced job ``k`` while
    it is still on disk."""
    from pyspark.sql import functions as F

    from ner_spark.pipeline.triples import redirect_edges, sameas_mapping

    spark, art = j.spark, j.art
    out = os.path.dirname(j.mentions_path(k))
    n_files, n_bytes = _files(out)
    t = spark.read.parquet(os.path.join(out, "triples"))
    pairs = t.filter(F.col("pred") == "coMentionedWith") \
        .agg(F.sum("weight")).collect()[0][0]
    t0 = time.perf_counter()
    tr.call("cc.sameas", lambda: sameas_mapping(art.kb_df).count())
    sameas_s = time.perf_counter() - t0
    return {
        "catalog.files_written": n_files,
        "catalog.bytes_written": n_bytes,
        "ner.rows_in": spark.read.parquet(j.pages_path).count(),
        "ner.rows_out": spark.read.parquet(j.mentions_path(k)).count(),
        "triples.comention_pairs": int(pairs or 0),
        "cc.sameas_s": sameas_s,
        "cc.n_edges": redirect_edges(art.kb_df).count(),
        "kb.n_keys": art.n_keys,
        "kb.broadcast_bytes": len(pickle.dumps(
            art.bundle, pickle.HIGHEST_PROTOCOL)) + len(pickle.dumps(
                art.automaton, pickle.HIGHEST_PROTOCOL)),
    }


def report(tr, setup, j, event_dir: str, cores: list[int], n_triples: int,
           traced_s: float, from_job: dict) -> dict:
    """Every per-layer metric.  Runs, after the traced job: one more traced
    job, the in-process semantics layers, then, in the same JVM, a session
    without the event log, the same job in it (tracing overhead = traced -
    untraced, both in a warm JVM) and the one-worker boundary
    measurement."""
    from kgbench.job import Job

    (session_s, compile_s, warmup_s), = setup.parts  # the traced set-up
    traced_warm, _ = j.run(0, prefix="traced_warm")
    j.remove(0)
    art = setup.art
    sem = semantics(setup.wl, art.bundle, art.automaton, cores[-1])
    app_id = setup.spark.sparkContext.applicationId
    setup.stop(jvm=False)  # flushes the event log
    stages, failed = read_eventlog(os.path.join(event_dir, app_id))
    setup.conf = {k: v for k, v in setup.conf.items()
                  if not k.startswith("spark.eventLog")}
    setup.start(cold=False)
    plain = Job(setup.spark, setup.art, j.pages_path, j.out_root, tr)
    untraced_warm, _ = plain.run(0, prefix="untraced_warm")
    plain.remove(0)

    first = {name: next(s for s in tr.spans if s["name"] == name)
             for name in ("job.extract", "job.build_write", "job.readback",
                          "rerun.extract", "rerun.build_write")}

    def wall(name):
        s = first[name]
        return s["end"] - s["start"]

    ex = _in(stages, {first["job.extract"]["id"]})
    bw = _in(stages, {first["job.build_write"]["id"]})
    job = _in(stages, {first[n]["id"] for n in
                       ("job.extract", "job.build_write", "job.readback")})
    udf = [s for s in ex if s["udf"]]
    extract_s = wall("job.extract")
    vals = {
        "trace.job_s": traced_s,
        "trace.overhead_s": traced_warm - untraced_warm,
        "setup.session_s": session_s,
        "setup.warmup_s": warmup_s,
        "kb.compile_s": compile_s,
        "ner.udf_task_s": sum(s["run_s"] for s in udf),
        "ner.udf_cpu_s": first["job.extract"].get("worker_cpu_s", 0.0),
        "ner.python_run_s": sum(s["py_run_s"] for s in udf),
        "run.extract_s": extract_s,
        "run.checkpoint_s": extract_s - sum(s["wall_s"] for s in udf),
        "run.rerun_skip_s": wall("rerun.extract"),
        "catalog.write_s": sum(s["wall_s"] for s in bw if s["output"] > 0),
        "catalog.readback_s": wall("job.readback"),
        "catalog.rerun_skip_s": wall("rerun.build_write"),
        "triples.build_write_s": wall("job.build_write"),
        "triples.shuffle_read_bytes": sum(s["shuffle_read"] for s in bw),
        "triples.shuffle_write_bytes": sum(s["shuffle_write"] for s in bw),
        "triples.fetch_wait_s": sum(s["fetch_wait_s"] for s in bw),
        "triples.spill_bytes": sum(s["spill"] for s in bw),
        "triples.n_triples": n_triples,
        "spark.gc_s": sum(s["gc_s"] for s in job),
        "spark.failed_tasks": failed,
    }
    vals.update(from_job)
    t_inproc = sem.pop("_scan_resolve_s")
    vals.update(sem)
    vals["ner.boundary_s"] = boundary(setup.spark, setup.art, setup.wl,
                                      t_inproc)
    tr.stages = stages
    return vals
