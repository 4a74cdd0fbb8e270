"""Physical-plan assertions: the optimizations we rely on at 100 TB must be
visible in the executed plan — pushdown, pruning, broadcast, codegen."""

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.fixture(scope="module")
def parquet_pages(spark, pages_rows, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("pages") / "pages.parquet")
    spark.createDataFrame(
        [(x["url"], x["warc_ts"], x["html"], x["text"], x["lang"])
         for x in pages_rows],
        "url string, warc_ts timestamp, html binary, text string, lang string"
    ).write.mode("overwrite").parquet(p)
    return spark.read.parquet(p)


def test_column_pruning_reaches_scan(spark, parquet_pages, artifacts):
    """ReadSchema of the parquet scan must exclude html/warc_ts/lang."""
    from ner_spark.pipeline.ner import extract_mentions

    plan = _plan(extract_mentions(parquet_pages, artifacts))
    assert "ReadSchema" in plan
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "url" in read_schema and "text" in read_schema
    assert "html" not in read_schema and "warc_ts" not in read_schema


def test_filter_pushdown_reaches_scan(spark, parquet_pages):
    df = parquet_pages.filter(F.col("lang") == "en").select("url")
    plan = _plan(df)
    assert "PushedFilters" in plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln][0]
    assert "lang" in pushed


def test_kb_join_is_broadcast(spark, sf_dir):
    """The KB-shaped small side must broadcast, never shuffle the big side."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    j = o.join(F.broadcast(c), o.o_custkey == c.c_custkey) \
         .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    plan = _plan(j)
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_extract_mentions_zero_shuffle(spark, parquet_pages, artifacts):
    """pages → mentions is one narrow stage: no Exchange in the plan, and
    the UDF exchanges Arrow batches (no pandas conversion)."""
    from ner_spark.pipeline.ner import extract_mentions

    plan = _plan(extract_mentions(parquet_pages, artifacts))
    assert "Exchange" not in plan
    assert "MapInArrow" in plan and "MapInPandas" not in plan


def test_sanitize_is_whole_stage_codegen(spark, parquet_pages):
    from ner_spark.pipeline.ner import sanitized_pages

    plan = _plan(sanitized_pages(parquet_pages))
    # whole-stage-codegen'd operators are printed with the "*(n)" prefix
    assert plan.lstrip().startswith("*(")


def test_build_triples_broadcasts_components(spark, artifacts):
    """The canonical remap is three broadcast left joins on the KB's
    (id, component) pairs — mention sense, co-mention s1 and s2 — and no
    join of the triple build shuffles both sides."""
    from ner_spark.pipeline.triples import build_triples

    mentions = spark.range(0, 1000).select(
        (F.col("id") % 40).cast("string").alias("url"),
        (F.col("id") % 3).cast("int").alias("par"),
        F.lit("kb").alias("kind"),
        (F.col("id") % 145 + 1).cast("int").alias("sense"),
        F.lit(None).cast("string").alias("iso"))
    plan = _plan(build_triples(mentions, artifacts.kb_df))
    lookups = [ln for ln in plan.splitlines()
               if "BroadcastHashJoin" in ln and "LeftOuter" in ln]
    assert len(lookups) == 3, lookups
    assert "SortMergeJoin" not in plan


def test_aggregate_partial_pushdown(spark, sf_dir):
    """groupBy count compiles to partial_count + final count (map-side
    combine) — the property that absorbs Zipf mention skew."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    plan = _plan(li.groupBy("l_returnflag").count())
    assert "partial_count" in plan


def test_arrow_enabled(spark):
    assert spark.conf.get("spark.sql.execution.arrow.pyspark.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_semi_anti_joins_broadcast(spark, sf_dir):
    """EXISTS/NOT-EXISTS compile to single broadcast semi/anti hash joins."""
    import __spark_entry__ as e

    anti = _plan(e.q_customers_without_orders(spark, sf_dir))
    semi = _plan(e.q_customers_with_orders(spark, sf_dir))
    assert "LeftAnti" in anti and "BroadcastHashJoin" in anti
    assert "LeftSemi" in semi and "BroadcastHashJoin" in semi
    assert "SortMergeJoin" not in anti + semi


def test_window_single_shuffle(spark, sf_dir):
    """The per-customer top-k window shuffles exactly once."""
    import __spark_entry__ as e

    plan = _plan(e.q_top_order_per_customer(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1


def test_pack_and_quota_single_shuffle(spark, sf_dir):
    """pack_sequences and source_quota are one-shuffle plans: one Exchange
    (bucket / source key) and no cartesian anywhere."""
    import __spark_entry__ as entrymod

    for q in ("pack_sequences", "source_quota"):
        plan = entrymod.queries()[q](spark, sf_dir) \
            ._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 1, q
        assert "CartesianProduct" not in plan, q


def test_triangle_count_all_equi_joins(spark):
    """The compact-forward triangle plan must be pure equi-joins — a
    CartesianProduct / BroadcastNestedLoopJoin here is the difference
    between O(m^1.5) and never-finishes at web scale.  Asserted on the
    PRE-localCheckpoint plan (the public triangle_count returns a
    checkpointed Scan ExistingRDD whose plan no longer shows the joins
    — asserting there would be vacuous)."""
    from ner_spark.pipeline.graph import (_canonical_edges,
                                          _triangles_canonical)

    df = spark.createDataFrame(
        [(f"e:{a}", f"e:{b}") for a in range(1, 5) for b in range(a + 1, 5)],
        "subj string, obj string")
    e = _canonical_edges(df, "subj", "obj").persist()
    res, oriented = _triangles_canonical(e)
    plan = _plan(res)
    assert "Join" in plan          # guard against the assertion going vacuous
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    oriented.unpersist()
    e.unpersist()


def test_corrupt_triples_no_single_task_stage(spark):
    """The entity-pool index must NOT plan a partition-less Window
    (row_number() over a global order = one Exchange SinglePartition =
    one task sorting the whole pool).  The zipWithIndex construction
    keeps the index assignment parallel: a range-partitioned sort, then
    per-partition contiguous indices."""
    from ner_spark.operators import corrupt_triples

    pos = spark.createDataFrame(
        [("e:1", "p", "e:2"), ("e:3", "p", "e:4")],
        "subj string, pred string, obj string")
    ents = spark.createDataFrame([(f"e:{i}",) for i in range(1, 6)],
                                 "id string")
    plan = _plan(corrupt_triples(pos, ents, k=2))
    assert "Window" not in plan  # no global-order sort stage at all
    # The only SinglePartition exchange allowed is the one-row-per-
    # partition count() reduce (pool size as a broadcast scalar) — it
    # must NOT feed a Sort (that would be the single-task rank we
    # removed).
    for frag in plan.split("Exchange SinglePartition")[1:]:
        first_op = frag.strip().splitlines()[1] if "\n" in frag else ""
        assert "Sort" not in first_op, plan
