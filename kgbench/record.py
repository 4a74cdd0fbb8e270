#!/usr/bin/env python3
"""Record the reference triple table of each (workload, seed) in
``expected.json``: row count and multiset fingerprint of the table built in
memory (``extract_mentions`` → ``build_triples``, no checkpoint or bucketed
write).  ``run.py`` compares every job against it; for a seed not recorded
it builds the reference itself, which costs one more pipeline pass.

    python3 kgbench/record.py --workloads web,dense,bigkb --seeds 0-30
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from kgbench import run as R  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default="web,dense,bigkb")
    ap.add_argument("--seeds", default="0-30", help="first-last, inclusive")
    args = ap.parse_args()
    lo, hi = (int(x) for x in args.seeds.split("-"))

    run_dir = os.path.join(R.WORK, f"record-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        n = len(R._environment(run_dir))
        from ner_spark.kb.build import compile_kb
        from ner_spark.session import get_spark

        from kgbench.job import Job
        from kgbench.workloads import WORKLOADS

        path = os.path.join(HERE, "expected.json")
        with open(path) as fh:
            expected = json.load(fh)
        spark = get_spark("kgbench-record", master=f"local[{n}]",
                          shuffle_partitions=n,
                          extra={"spark.ui.showConsoleProgress": "false"})
        for name in args.workloads.split(","):
            for seed in range(lo, hi + 1):
                wl = WORKLOADS[name](seed)
                pages = os.path.join(run_dir, "pages")
                shutil.rmtree(pages, ignore_errors=True)
                R._write_pages(wl, pages, 2 * n)
                art = compile_kb(spark, wl.kb_rows)
                ref = Job(spark, art, pages, run_dir, None) \
                    .reference_fingerprint()
                art.kb_df.unpersist()
                expected.setdefault(name, {})[str(seed)] = list(ref)
                print(name, seed, ref, flush=True)
                with open(path + ".tmp", "w") as fh:
                    json.dump(expected, fh, indent=1, sort_keys=True)
                    fh.write("\n")
                os.replace(path + ".tmp", path)
        spark.stop()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
