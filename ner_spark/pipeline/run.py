"""End-to-end orchestration: pages + KB → canonicalized triple table.

Stage graph (SURVEY §4 target plan):

  pages ──filter todo url-buckets──(narrow mapInPandas, broadcast
        KB+automaton)──► mentions
  mentions ──persist/materialize──┬─► mention triples  (narrow)
                                  └─► co-mention edges (shuffle url,par → agg)
  kb ───────────────────────────────► type/attribute triples (narrow)
  kb.redirects ──CC loop──► sameAs mapping ──broadcast──► canonical remap
  all ──► resumable bucketed write + per-partition lineage

Both bucketed writes (the materialized mentions and the triple table) go
through ``io.catalog.commit_buckets``: per wave, one shuffle on the bucket
column and one dynamic-overwrite write, then lineage from a
partition-pruned readback of the committed files.

``mentions`` is consumed by two branches, so it is persisted (or, with
``materialize_mentions``, written to parquet and re-read — the pattern a
multi-day 100 TB run would use so the expensive scan is checkpointed).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

from pyspark.sql import functions as F

from ner_spark.io.catalog import commit_buckets, resumable_write, with_bucket
from ner_spark.kb.build import KBArtifacts, compile_kb
from ner_spark.pipeline.ner import MENTION_SCHEMA, extract_mentions
from ner_spark.pipeline.triples import build_triples


def extract_mentions_resumable(
    spark: SparkSession,
    pages: DataFrame,
    artifacts: KBArtifacts,
    path: str,
    n_buckets: int = 64,
    url_col: str = "url",
    text_col: str = "text",
    fail_after_buckets: int | None = None,
    waves: int = 1,
    **extract_kw,
) -> DataFrame:
    """Checkpoint-resumable mention extraction: pages are bucketed by
    ``pmod(xxhash64(url), N)`` *before* the expensive UDF, and only pages
    of the buckets :func:`commit_buckets` has left to do reach it, so a
    resumed run re-reads only unprocessed pages — compute-level resume,
    not just write-level (SCALE.md "Resume story").  Returns the full
    mentions table read back from ``path``.

    ``waves`` (>1) splits the todo buckets into that many groups processed
    and committed sequentially — INCREMENTAL checkpointing within a run: a
    driver/cluster loss mid-run preserves every completed wave, and the
    resumed run re-extracts only the rest.  The cost is one extra
    column-pruned pages scan per wave (the bucket predicate is computed
    from the url, so it cannot prune the scan); extraction dominates the
    scan by >10×, so single-digit wave counts bound the loss window to
    1/waves of the phase for a few percent of extra scan — the knob a
    multi-day 100 TB run sets to taste."""
    # cast to string FIRST: the mention-side bucket hashes the string url,
    # and xxhash64(long) != xxhash64(string) for the same value
    pages_b = pages.withColumn(
        "_bucket", F.pmod(F.xxhash64(F.col(url_col).cast("string")),
                          F.lit(n_buckets)).cast("int"))

    def bucketed(todo: list[int]) -> DataFrame:
        mentions = extract_mentions(pages_b.filter(F.col("_bucket").isin(todo)),
                                    artifacts, url_col=url_col,
                                    text_col=text_col, **extract_kw)
        return with_bucket(mentions, "url", n_buckets)

    commit_buckets(spark, path, n_buckets, bucketed, waves=waves,
                   fail_after_buckets=fail_after_buckets)
    return spark.read.schema(MENTION_SCHEMA + ", bucket int").parquet(path) \
        .drop("bucket")


@dataclass
class PipelineResult:
    artifacts: KBArtifacts
    mentions: DataFrame
    triples: DataFrame
    manifest: dict | None = None


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    kb_rows: list[dict],
    out_path: str | None = None,
    n_buckets: int = 64,
    url_col: str = "url",
    text_col: str = "text",
    materialize_mentions: str | None = None,
) -> PipelineResult:
    artifacts = compile_kb(spark, kb_rows)
    if materialize_mentions:
        # checkpoint-resumable: completed url-buckets are pruned from the
        # page scan itself on re-runs
        mentions = extract_mentions_resumable(
            spark, pages, artifacts, materialize_mentions,
            n_buckets=n_buckets, url_col=url_col, text_col=text_col)
    else:
        mentions = extract_mentions(pages, artifacts, url_col=url_col,
                                    text_col=text_col) \
            .persist(StorageLevel.MEMORY_AND_DISK)
    triples = build_triples(mentions, artifacts.kb_df)
    manifest = None
    if out_path:
        manifest = resumable_write(triples, os.path.join(out_path, "triples"),
                                   key="subj", n_buckets=n_buckets)
    return PipelineResult(artifacts, mentions, triples, manifest)
