#!/usr/bin/env python3
"""KG-job benchmark: pages + KB in, canonicalized bucketed triple table out.

    python3 kgbench/run.py --workload web|dense|bigkb --seed N \\
        --seconds S --trace 0|1

Closed loop, one client: one job at a time on ``local[<nproc>]``.  Inputs
are generated from ``--seed`` before anything is timed.  The run repeats
cycles for ``--seconds`` seconds (at least one); a cycle is a cold set-up
(new JVM, session start, KB compile + broadcast, worker warm-up), a job and
a rerun.  It checks every output and prints one JSON object as the last
line of stdout.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` enables the
Spark event log and reports the per-layer metrics (see README.md).  Exits
non-zero when an output check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_build", "kgbench")


def _environment(run_dir: str) -> list[int]:
    """Process environment for this process, the JVM and the Python
    workers; returns the cores the run is pinned to."""
    cores = sorted(os.sched_getaffinity(0))
    os.sched_setaffinity(0, cores)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    pp = os.environ.get("PYTHONPATH")
    os.environ.update({
        # workers import ner_spark from the checkout, wherever they start
        "PYTHONPATH": ROOT + (os.pathsep + pp if pp else ""),
        # a kernel build failure is an error, not a silent 3x slowdown
        "NER_SPARK_CKERNEL": "1",
        "NER_SPARK_CKERNEL_DIR": os.path.join(ROOT, ".bench_build",
                                              "ckernel"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # no hsperfdata files in the system temp dir
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
    })
    sys.path.insert(0, ROOT)
    return cores


def _write_pages(wl, path: str, n_files: int) -> int:
    """Pages as ``n_files`` parquet files; returns the largest file size."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path)
    step = -(-len(wl.urls) // n_files)
    for i in range(n_files):
        sl = slice(i * step, (i + 1) * step)
        pq.write_table(pa.table({"url": wl.urls[sl], "text": wl.texts[sl]}),
                       os.path.join(path, f"part-{i:03d}.parquet"))
    return max(os.path.getsize(os.path.join(path, f))
               for f in os.listdir(path))


def _expected(workload: str, seed: int):
    with open(os.path.join(os.path.dirname(__file__), "expected.json")) as fh:
        return json.load(fh).get(workload, {}).get(str(seed))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["web", "dense", "bigkb"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        return _run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _units(trace: int) -> dict[str, str]:
    """Metric name → unit, from BENCHMARK.json at the checkout root."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}


def _run(args, run_dir: str) -> int:
    cores = _environment(run_dir)
    n = len(cores)

    from ner_spark.semantics import ckernel

    from kgbench import job as J
    from kgbench import layers
    from kgbench.trace import Tracer, hwm_mb
    from kgbench.workloads import WORKLOADS

    units = _units(args.trace)
    if not ckernel.available():  # builds the kernel once per checkout
        raise RuntimeError("C kernel unavailable")
    wl = WORKLOADS[args.workload](args.seed)
    pages_path = os.path.join(run_dir, "pages")
    max_file = _write_pages(wl, pages_path, 2 * n)
    conf = {
        # one input partition per pages file (2 per core)
        "spark.sql.files.maxPartitionBytes": str(max_file),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
    }
    event_dir = os.path.join(run_dir, "eventlog")
    if args.trace:
        os.makedirs(event_dir)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + event_dir,
                     "spark.eventLog.rolling.enabled": "false",
                     "spark.eventLog.compress": "false"})
    tr = Tracer()
    setup = layers.Setup(wl, n, conf, tr)
    out_root = os.path.join(run_dir, "out")
    ref = _expected(args.workload, args.seed)  # (count, fingerprint)
    job_s, rerun_s, errors = [], [], []
    hwm = [0.0, 0.0]  # peak RSS of the JVM, and of the Python workers
    attempted = 0
    from_job: dict = {}
    j = None

    def cycle(k: int) -> tuple[float, float]:
        """A cold set-up, then job + rerun into output ``k``, with every
        output check."""
        nonlocal ref, j
        setup.start()
        spark, art = setup.spark, setup.art
        if args.trace:
            tr.cpu_root = setup.jvm_pid
        j = J.Job(spark, art, pages_path, out_root, tr)
        dt, n_read = j.run(k)
        got = j.fingerprint(k)
        if n_read != got[0]:
            raise J.CheckFailed(f"readback {n_read} != {got[0]} rows")
        dt_re, _ = j.run(k, prefix="rerun")
        if j.fingerprint(k) != got:
            raise J.CheckFailed("rerun changed the triple table")
        if k == 1:
            J.check_mentions(spark, art, j.mentions_path(k), wl.urls,
                             wl.texts)
            if ref is None:  # seed not recorded: build the reference
                ref = j.reference_fingerprint()
        if got != tuple(ref):
            raise J.CheckFailed(f"triples {got} != reference {ref}")
        return dt, dt_re

    # Each cycle is what one spark-submit job pays: a new JVM, set-up, job
    # and rerun.  At least one cycle, and another only while one as long as
    # the last still ends within --seconds.  The traced run makes one.
    t_end = time.perf_counter() + args.seconds
    last = 0.0
    while not attempted or (not errors and not args.trace
                            and time.perf_counter() + last <= t_end):
        t0 = time.perf_counter()
        attempted += 1
        k = attempted
        try:
            dt, dt_re = cycle(k)
            job_s.append(dt)
            rerun_s.append(dt_re)
            if args.trace:
                from_job = layers.job_layers(j, k, tr)
        except Exception as exc:  # a failed job counts in error_rate
            traceback.print_exc()
            errors.append(f"job {k}: {exc}")
        if setup.spark is not None:
            jvm_mb, workers_mb = hwm_mb(setup.jvm_pid)
            hwm = [max(hwm[0], jvm_mb), max(hwm[1], workers_mb)]
        shutil.rmtree(os.path.join(out_root, f"job{k}"), ignore_errors=True)
        last = time.perf_counter() - t0

    failed = len(errors)
    if failed:
        values = {}
    elif args.trace:
        values = layers.report(tr, setup, j, event_dir, cores, ref[0],
                               job_s[0], from_job)
        values.update({"trace.rerun_s": rerun_s[0],
                       "spark.driver_rss_mb": hwm[0]})
    else:
        values = {
            "job_s": statistics.median(job_s),
            "triples_per_s": ref[0] / statistics.median(job_s),
            "setup_s": statistics.median(setup.walls),
            "workers_rss_mb": hwm[1],
        }
    setup.stop()
    if args.trace:
        tr.dump(os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json"),
                {"workload": args.workload, "seed": args.seed,
                 "metrics": values})
    metrics = {name: {"value": values[name], "unit": unit}
               for name, unit in units.items() if name in values}
    for name, m in metrics.items():
        print(f"{args.workload:6s} {name:30s} {m['value']:14.6g} {m['unit']}")
    # printed for the reader, not in the result: too unsteady for a bound
    # (rerun_s, the JVM's share of peak_rss_mb) or always 0 (error_rate)
    if rerun_s:
        print(f"{args.workload:6s} {'rerun_s':30s} "
              f"{statistics.median(rerun_s):14.6g} s")
    print(f"{args.workload:6s} {'peak_rss_mb':30s} {sum(hwm):14.6g} MB")
    print(f"{args.workload:6s} {'error_rate':30s} {failed / attempted:14.6g} "
          f"ratio  ({failed}/{attempted} jobs)")
    print(json.dumps({"reference": ref, "cores": n, "errors": errors,
                      "jobs_s": job_s, "reruns_s": rerun_s,
                      "setups_s": setup.walls, "setup_parts": setup.parts,
                      "rss_mb": hwm}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
