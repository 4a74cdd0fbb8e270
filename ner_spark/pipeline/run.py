"""The KG job: pages + compiled KB → canonicalized triple table.

Stage graph (SURVEY §4 target plan):

  pages ──filter todo url-buckets──(narrow mapInArrow, broadcast
        KB image + KB bundle; Arrow batches in and out)──► mentions
  mentions ──checkpoint──┬─► sense → component ──► mention triples
                         │   (broadcast join on longs, narrow)
                         └─► co-mention counts (shuffle url,par → agg)
                             ──► s1, s2 → component (broadcast joins)
  kb (id, component) ─────► type/attribute triples, sameAs triples (narrow)
  all ──► resumable bucketed write + per-partition lineage

The sameAs components come compiled in the KB table
(``kb.build.compile_kb``), so building the triples runs no Spark action.
Both bucketed writes (the mentions checkpoint and the triple table) go
through ``io.catalog.commit_buckets``: per wave, one shuffle on the bucket
column and one dynamic-overwrite write, then lineage from a
partition-pruned readback of the committed files (one ``collect``),
which the driver appends to the sidecar.  The driver also reads the
sidecar back itself, and the triple count is the sum of its ``n_rows``.
A fresh job thus runs four Spark actions, per table a write and a
lineage collect; a rerun on a completed output runs none.

``mentions`` is consumed by two branches, so :func:`run_kg_job` always
writes it to parquet and re-reads it: the expensive scan is checkpointed,
and a resumed run extracts only the pages of unfinished buckets.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ner_spark.io.catalog import commit_buckets, lineage_table, \
    resumable_write, with_bucket
from ner_spark.kb.build import KBArtifacts
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
    ``with_bucket`` of the url, the rule that buckets their mentions,
    *before* the expensive UDF, and only pages of the buckets
    :func:`commit_buckets` has left to do reach it, so a resumed run
    re-reads only unprocessed pages — compute-level resume, not just
    write-level (SCALE.md "Resume story").  Returns the full mentions
    table read back from ``path``.

    ``waves`` (>1) splits the todo buckets into that many groups processed
    and committed sequentially — INCREMENTAL checkpointing within a run: a
    driver/cluster loss mid-run preserves every completed wave, and the
    resumed run re-extracts only the rest.  The cost is one extra
    column-pruned pages scan per wave (the bucket predicate is computed
    from the url, so it cannot prune the scan); extraction dominates the
    scan by >10×, so single-digit wave counts bound the loss window to
    1/waves of the phase for a few percent of extra scan — the knob a
    multi-day 100 TB run sets to taste."""
    pages_b = with_bucket(pages, url_col, n_buckets)

    def bucketed(todo: list[int]) -> DataFrame:
        mentions = extract_mentions(pages_b.filter(F.col("bucket").isin(todo)),
                                    artifacts, url_col=url_col,
                                    text_col=text_col, **extract_kw)
        return with_bucket(mentions, "url", n_buckets)

    commit_buckets(spark, path, n_buckets, bucketed, waves=waves,
                   fail_after_buckets=fail_after_buckets)
    return spark.read.schema(MENTION_SCHEMA + ", bucket int").parquet(path) \
        .drop("bucket")


def run_kg_job(spark: SparkSession, pages: DataFrame, artifacts: KBArtifacts,
               out: str, n_buckets: int = 64, waves: int = 1,
               **extract_kw) -> dict:
    """The KG job: checkpoint the mentions to ``out/mentions``
    (:func:`extract_mentions_resumable`), then build the triples from that
    checkpoint and commit them to ``out/triples``.  Re-running on the same
    ``out`` resumes both tables bucket by bucket.  Returns the triple
    count (from the triple table's lineage), the completed and resumed
    triple buckets, and ``phases``: the wall seconds of the two steps."""
    t0 = time.perf_counter()
    mentions = extract_mentions_resumable(
        spark, pages, artifacts, os.path.join(out, "mentions"),
        n_buckets=n_buckets, waves=waves, **extract_kw)
    t1 = time.perf_counter()
    t_path = os.path.join(out, "triples")
    manifest = resumable_write(build_triples(mentions, artifacts.kb_df),
                               t_path, key="subj", n_buckets=n_buckets)
    t2 = time.perf_counter()
    n_rows = lineage_table(spark, t_path).column("n_rows")
    return {"n_triples": sum(n_rows.to_pylist()),
            "buckets_completed": len(manifest["completed"]),
            "buckets_resumed": len(manifest["skipped_resume"]),
            "phases": {"mentions_s": t1 - t0, "triples_s": t2 - t1}}
