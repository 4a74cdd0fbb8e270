"""Incremental co-mention edge maintenance (streaming KG construction).

The batch path (pipeline/triples.py:comention_edges, J9) derives pair
weights with a distinct + self-join — both stateful and awkward on an
unbounded stream.  But the natural streaming unit is the PAGE (a crawled
document arrives exactly once), and every co-mention pair is WITHIN one
page — so the stream pipeline is:

    page stream → stateless mapInPandas (the per-document loop of
    extract_mentions, ``pipeline.ner.resolved_docs``, + within-page pair
    explode) → ONE stateful groupBy(s1, s2) count

No stream-stream join, no streaming distinct, a single state-store
aggregation keyed by the (bounded, KB-sized) entity-pair space.  Each
``availableNow`` trigger folds only the new pages into the running edge
weights via the checkpoint — the KG stays fresh without re-reading the
corpus.  Batch equality with comention_edges is pinned in
tests/test_stream_comention.py.
"""

from __future__ import annotations

from itertools import combinations
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ner_spark.kb.build import KBArtifacts
from ner_spark.pipeline.ner import resolved_docs, sanitized_pages

PAIR_SCHEMA = "url string, par int, s1 int, s2 int"


def comention_pair_stream(pages: DataFrame, artifacts: KBArtifacts,
                          url_col: str = "url", text_col: str = "text",
                          find_names: bool = False) -> DataFrame:
    """pages (streaming or batch) → one row per distinct within-paragraph
    resolved-sense pair (s1 < s2) per page.  Stateless (pure mapInPandas
    over the page batch), so it composes with any streaming aggregation.
    Pair semantics match comention_edges: distinct (url, par, sense) over
    sense-resolved mentions, pairs within the same (url, par).

    The scan modes (-d/-r, ``lang``) come from the artifact and
    ``find_names`` (-n) is forwarded, exactly as in
    :func:`~ner_spark.pipeline.ner.extract_mentions`, so a deployment whose
    batch KG runs a non-default mode gets a streaming KG built from the
    SAME mention set."""
    src = sanitized_pages(pages, url_col, text_col)
    broadcasts = (artifacts.image_bc, artifacts.bundle_bc,
                  artifacts.automaton_bc)
    scan = artifacts.scan_config

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for url, doc in resolved_docs(pdf["url"], pdf["text"],
                                          *broadcasts, find_names=find_names,
                                          **scan):
                per_par: dict[int, set[int]] = {}
                for _, _, par, _, _, sense, _, _ in doc:
                    if sense is not None:
                        per_par.setdefault(par, set()).add(sense)
                for par, senses in per_par.items():
                    for s1, s2 in combinations(sorted(senses), 2):
                        rows.append((url, par, s1, s2))
            yield pd.DataFrame(rows, columns=["url", "par", "s1", "s2"])

    return src.mapInPandas(fn, schema=PAIR_SCHEMA)


def comention_edge_counts(pairs: DataFrame) -> DataFrame:
    """(subj, pred, obj, weight) running edge weights — the streaming
    form of comention_edges' output contract.  On a stream this is the
    single stateful operator (state keyed by the KB-bounded pair space);
    on a batch frame it is a plain agg."""
    return (pairs.groupBy("s1", "s2")
            .agg(F.count(F.lit(1)).alias("weight"))
            .select(F.concat(F.lit("e:"), F.col("s1")).alias("subj"),
                    F.lit("coMentionedWith").alias("pred"),
                    F.concat(F.lit("e:"), F.col("s2")).alias("obj"),
                    "weight"))


def run_comention_counts(spark, input_path: str, checkpoint: str,
                         schema: str, artifacts: KBArtifacts,
                         query_name: str = "comention_counts",
                         dedup_urls_within: str | None = None):
    """File-stream wrapper: fold all currently-available (new) page files
    into the running co-mention edge weights, emitting the full table to
    an in-memory sink (complete mode).  Re-invoking with the same
    checkpoint processes ONLY pages added since the last run — the
    incremental-maintenance contract the test pins.

    Delivery-semantics divergence from batch (documented, opt-in guard):
    pairs are deduplicated per PAGE, while batch ``comention_edges``
    dedups globally on (url, par, sense) — so an upstream that delivers
    the same url twice (re-crawl, at-least-once queue) double-counts
    edge weights where batch would not.  For such sources pass
    ``dedup_urls_within`` (e.g. ``"1 hour"``): a watermark +
    dropDuplicates on url upstream of the stateful count restores
    once-per-page folding within the watermark horizon.  Exactly-once
    file sources (the default crawl layout) need no guard — file sinks
    are tracked by the checkpoint itself."""
    stream = spark.readStream.schema(schema).parquet(input_path)
    if dedup_urls_within is not None:
        stream = (stream.withColumn("_ingest_ts", F.current_timestamp())
                  .withWatermark("_ingest_ts", dedup_urls_within)
                  .dropDuplicatesWithinWatermark(["url"])
                  .drop("_ingest_ts"))
    counts = comention_edge_counts(comention_pair_stream(stream, artifacts))
    return (counts.writeStream.outputMode("complete")
            .format("memory").queryName(query_name)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True).start())
