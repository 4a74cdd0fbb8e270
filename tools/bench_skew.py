#!/usr/bin/env python
"""Skew-handling evidence for the north rule's "salted repartitioning
before the KB hash join".

In this engine the mention→KB join is BROADCAST (the KB is small next to
the corpus), so hot entities never concentrate on one reducer — the
pipeline's own plans are skew-immune by construction (plan-asserted in
tests/test_plans.py).  The salting device exists for the shape where
that assumption breaks: a KB too large to broadcast (10^8-entity scale)
forces a shuffle join, and a Zipf-hot entity then lands 30% of the big
side on ONE reducer.  This bench measures exactly that shape, three
ways, on a deterministic synthetic mention table:

  * ``smj``     — plain sort-merge join, AQE off (the naive plan)
  * ``aqe``     — AQE skew-join splitting (runtime re-plan)
  * ``salted``  — operators.salted_join (explicit salt, AQE off)

Workload: N mention rows with a ~64-byte payload; entity ids are one hot
key (30% of rows), three warm keys (5% each), the rest uniform over K
entities — the co-mention Zipf profile.  KB side: K entities with a
description payload.  broadcast is disabled (autoBroadcastJoinThreshold
= -1) to model the non-broadcastable KB.

Metrics per variant: wall seconds for a full join + payload-byte-sum
aggregate (min over
interleaved rounds — host-throttle protocol: external load only adds
time; the payload sum keeps Catalyst from pruning the payload out of
the join's shuffle, which would both unrealistically shrink it and
blind AQE's byte-based skew detector), and the per-reduce-partition row distribution of the join output
(max/median/p90 rows per partition) — the direct image of reducer load,
where the skew collapse is visible independently of host noise.

Usage:
    python tools/bench_skew.py [n_rows] [--rounds R] [--salt-k S]
Prints ONE JSON line.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HOT_SHARE = 0.30          # the hot entity's share of mention rows
WARM_SHARE = 0.05         # three warm entities at this share each
N_ENTITIES = 100_000


def build_inputs(spark, n_rows: int):
    from pyspark.sql import functions as F

    hot_pct = int(HOT_SHARE * 100)
    warm_pct = int(WARM_SHARE * 100)
    # deterministic skew assignment by row id (no rand(): same table
    # every run), INTERLEAVED via id % 100 so hot rows appear in every
    # input split — a hot entity is mentioned all over a real corpus,
    # and map-side layout matters: AQE's skew splitter works at
    # map-output-block granularity, so a hot key concentrated in few
    # mappers cannot be split finer than those blocks (salting has no
    # such constraint — it re-keys rows, not blocks)
    base = spark.range(n_rows)
    cent = F.pmod(F.col("id"), F.lit(100))
    entity = (
        F.when(cent < hot_pct, F.lit(0))
        .when(cent < hot_pct + warm_pct, F.lit(1))
        .when(cent < hot_pct + 2 * warm_pct, F.lit(2))
        .when(cent < hot_pct + 3 * warm_pct, F.lit(3))
        .otherwise(F.pmod(F.xxhash64("id"), F.lit(N_ENTITIES)))
    )
    mentions = base.select(
        entity.alias("entity"),
        F.concat(F.lit("https://example.org/page/"),
                 F.col("id").cast("string"),
                 F.lit("#p"), F.pmod(F.col("id"), F.lit(7)).cast("string"),
                 ).alias("url"),
        F.pmod(F.col("id"), F.lit(1000)).alias("par"),
        # incompressible per-row payload: real page rows carry entropy
        # (text fragments, digests); without it lz4 crushes the synthetic
        # urls so far that the hot partition's BYTES (what AQE's skew
        # splitter thresholds on) stop tracking its ROWS (what the
        # reducer actually pays per row to sort/join)
        F.md5(F.col("id").cast("string")).alias("fragment_digest"))
    kb = spark.range(N_ENTITIES).select(
        F.col("id").alias("entity"),
        F.concat(F.lit("entity-description-payload-"),
                 F.col("id").cast("string"),
                 F.lit("-" * 32)).alias("descr"))
    return mentions, kb


def _payload_bytes():
    """Aggregate that forces the PAYLOAD through the shuffle.  A bare
    count() lets Catalyst prune every non-key column out of the join's
    shuffle — the hot partition then carries only the (constant, RLE'd)
    key and AQE's byte-based skew detector sees a few MB where the
    reducer actually processes 3.7M rows.  Real mention rows carry their
    url/fragment payload into the KB join, so the timed action keeps the
    payload columns alive."""
    from pyspark.sql import functions as F

    return F.sum(F.length("url") + F.length("descr")
                 + F.length("fragment_digest")).alias("payload_bytes")


def partition_distribution(joined) -> dict:
    """Rows per reduce partition of the join output — the reducer-load
    image.  Computed Spark-side (one tiny agg), nothing but the
    per-partition counts reach the driver.  The payload-bytes sum keeps
    the shuffle un-pruned (same shape as the timed action)."""
    from pyspark.sql import functions as F

    pdf = (joined.withColumn("_pid", F.spark_partition_id())
           .groupBy("_pid").agg(F.count(F.lit(1)).alias("n"),
                                _payload_bytes())
           .toPandas())
    counts = sorted(int(x) for x in pdf["n"])
    if not counts:
        return {"max": 0, "median": 0, "p90": 0, "n_partitions": 0}
    return {
        "max": counts[-1],
        "median": int(statistics.median(counts)),
        "p90": counts[max(0, int(len(counts) * 0.9) - 1)],
        "n_partitions": len(counts),
    }


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    n_rows = int(args[0]) if args else 5_000_000
    rounds, salt_k = 3, 8
    argv = sys.argv[1:]
    for i, a in enumerate(argv):
        if a.startswith("--rounds"):
            rounds = int(a.split("=", 1)[1]) if "=" in a else int(argv[i + 1])
        if a.startswith("--salt-k"):
            salt_k = int(a.split("=", 1)[1]) if "=" in a else int(argv[i + 1])
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", 32))

    from ner_spark.operators import salted_join
    from ner_spark.session import get_spark

    spark = get_spark("ner-skew-bench", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

    mentions, kb = build_inputs(spark, n_rows)
    mentions = mentions.localCheckpoint()   # inputs materialized once,
    kb = kb.localCheckpoint()               # identical bytes per variant

    def set_mode(mode: str) -> None:
        aqe = mode == "aqe"
        spark.conf.set("spark.sql.adaptive.enabled", str(aqe).lower())
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled",
                       str(aqe).lower())
        if aqe:
            # defaults target 256 MB partitions; at bench scale the hot
            # partition is tens of MB, so lower the trigger so AQE's
            # splitter actually fires (at 100 TB the defaults fire as-is)
            spark.conf.set(
                "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
                "4m")
            spark.conf.set("spark.sql.adaptive.skewJoin."
                           "skewedPartitionFactor", "2.0")
            spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes",
                           "2m")

    def make_join(mode: str):
        if mode == "salted":
            return salted_join(mentions, kb, "entity", salt_k=salt_k)
        return mentions.join(kb, "entity")

    variants = ["smj", "aqe", "salted"]
    times: dict[str, list[float]] = {v: [] for v in variants}
    def timed_action(join_df) -> int:
        row = join_df.agg(
            F.count(F.lit(1)).alias("n"), _payload_bytes()).collect()[0]
        return row["n"]

    from pyspark.sql import functions as F

    # warm-up pass (worker pool, page cache) — untimed
    for v in variants:
        set_mode(v)
        timed_action(make_join(v))
    for _ in range(rounds):            # interleaved A/B/C
        for v in variants:
            set_mode(v)
            t0 = time.monotonic()
            n = timed_action(make_join(v))
            times[v].append(time.monotonic() - t0)
            assert n == n_rows, (v, n)
    dists = {}
    for v in variants:
        set_mode(v)
        dists[v] = partition_distribution(make_join(v))

    out = {
        "metric": "skew_join_sec_min",
        "n_rows": n_rows,
        "hot_share": HOT_SHARE,
        "salt_k": salt_k,
        "cpus": cpus,
        "rounds": rounds,
        "sec_min": {v: round(min(ts), 2) for v, ts in times.items()},
        "sec_all": {v: [round(t, 2) for t in ts] for v, ts in times.items()},
        "partition_rows": dists,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
