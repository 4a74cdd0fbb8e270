#!/usr/bin/env python
"""Two-cluster-size scaling evidence for the north rule.

Runs the flagship KG pipeline (pages → mentions → canonicalized triples)
over a deterministic synthetic corpus at the parallelism given by
SPARK_GRAFT_CPUS, with ``--trials K`` timed repetitions after a full
warm-up pass (Python worker pool up, broadcast deserialized, input in
page cache).  Reports min and median per phase — min-of-k is the right
statistic on a shared/noisy host because external load only ever adds
time.  Prints ONE JSON line.

Protocol (BASELINE.md): run interleaved, e.g.
    for i in 1 2 3; do
      SPARK_GRAFT_CPUS=8  python tools/bench_scaling.py 60000 --trials 2
      SPARK_GRAFT_CPUS=32 python tools/bench_scaling.py 60000 --trials 2
    done
    efficiency = (thr_32 / thr_8) / 4
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    n_pages = int(args[0]) if args else 60000
    trials = 2
    for a in sys.argv[1:]:
        if a.startswith("--trials"):
            trials = int(a.split("=", 1)[1]) if "=" in a else int(
                sys.argv[sys.argv.index(a) + 1])
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", 32))

    from pyspark.sql import functions as F

    from ner_spark.fixtures.gen import gen_kb_rows, gen_pages_df
    from ner_spark.kb.build import compile_kb
    from ner_spark.pipeline.ner import extract_mentions
    from ner_spark.pipeline.triples import build_triples
    from ner_spark.session import get_spark

    spark = get_spark("ner-scaling", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)
    kb_rows = gen_kb_rows()

    path = f"/tmp/ner_scaling_pages_{n_pages}.parquet"
    if not os.path.exists(path):
        # fixed partition count so the file layout is run-independent too
        gen_pages_df(spark, kb_rows, n_pages, partitions=64) \
            .write.mode("overwrite").parquet(path)
    pages = spark.read.parquet(path)
    n_chars = pages.select(F.sum(F.length("text"))).collect()[0][0]

    art = compile_kb(spark, kb_rows)

    def one_pass() -> tuple[float, float, int, int]:
        t0 = time.perf_counter()
        mentions = extract_mentions(pages, art).persist()
        n_mentions = mentions.count()
        t_m = time.perf_counter() - t0
        t1 = time.perf_counter()
        n_triples = build_triples(mentions, art.kb_df).count()
        t_t = time.perf_counter() - t1
        mentions.unpersist()
        return t_m, t_t, n_mentions, n_triples

    one_pass()  # warm-up (workers, broadcast, code paths) — not counted
    runs = [one_pass() for _ in range(trials)]
    t_mentions = [r[0] for r in runs]
    t_triples = [r[1] for r in runs]
    t_total = [a + b for a, b, _, _ in runs]
    n_mentions, n_triples = runs[0][2], runs[0][3]

    best_total = min(t_total)
    out = {
        "cpus": cpus,
        "n_pages": n_pages,
        "n_chars": int(n_chars),
        "n_mentions": n_mentions,
        "n_triples": n_triples,
        "trials": trials,
        "sec_mentions_min": round(min(t_mentions), 2),
        "sec_mentions_med": round(statistics.median(t_mentions), 2),
        "sec_triples_min": round(min(t_triples), 2),
        "sec_total_min": round(best_total, 2),
        "pages_per_sec": round(n_pages / best_total, 1),
        "mentions_pages_per_sec": round(n_pages / min(t_mentions), 1),
        "mb_chars_per_sec": round(n_chars / best_total / 1e6, 2),
        "triples_per_sec": round(n_triples / best_total, 1),
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
