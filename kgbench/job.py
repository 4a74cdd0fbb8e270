"""The KG job as ``tools/run_job.py`` runs it, plus its output checks.

One job = ``extract_mentions_resumable`` (the mentions checkpoint) →
``resumable_write(build_triples(...))`` → a readback count, on a fresh
output directory.  A rerun repeats the same calls on the completed
directory, so every bucket takes the resume (skip) path.

Every call into the program is wrapped in ``Tracer.call``, which tags its
Spark jobs with a job group and records a span.
"""

from __future__ import annotations

import os
import shutil
import time
from collections import Counter

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

N_BUCKETS = 4
ORACLE_DOCS = 25


class CheckFailed(Exception):
    """An output of the job differs from its reference."""


def table_fingerprint(df: DataFrame) -> tuple[int, int]:
    """(row count, order-insensitive multiset fingerprint) of a bucketed
    triple table: the per-bucket lineage the write records (``bit_xor`` of
    ``xxhash64`` over each row), combined over the buckets."""
    from ner_spark.io.catalog import _lineage_of

    return _combine(_lineage_of(df).collect())


def _combine(lineage_rows) -> tuple[int, int]:
    n = fp = 0
    for r in lineage_rows:
        n += r["n_rows"]
        fp ^= r["fingerprint"]
    return n, fp


class Job:
    """One workload's job inside one Spark session."""

    def __init__(self, spark, art, pages_path: str, out_root: str, tracer):
        self.spark = spark
        self.art = art
        self.pages_path = pages_path
        self.out_root = out_root
        self.tr = tracer

    def _paths(self, k: int) -> tuple[str, str]:
        out = os.path.join(self.out_root, f"job{k}")
        return os.path.join(out, "mentions"), os.path.join(out, "triples")

    def run(self, k: int, prefix: str = "job") -> tuple[float, int]:
        """Runs the job into output ``k``; returns (wall seconds, readback
        triple count)."""
        from ner_spark.io.catalog import resumable_write
        from ner_spark.pipeline.run import extract_mentions_resumable
        from ner_spark.pipeline.triples import build_triples

        spark, art, tr = self.spark, self.art, self.tr
        m_path, t_path = self._paths(k)
        pages = spark.read.parquet(self.pages_path)
        t0 = time.perf_counter()
        mentions = tr.call(f"{prefix}.extract", extract_mentions_resumable,
                           spark, pages, art, m_path, n_buckets=N_BUCKETS)
        tr.call(f"{prefix}.build_write", lambda: resumable_write(
            build_triples(mentions, art.kb_df), t_path, key="subj",
            n_buckets=N_BUCKETS))
        n = tr.call(f"{prefix}.readback",
                    lambda: spark.read.parquet(t_path).count())
        return time.perf_counter() - t0, n

    def fingerprint(self, k: int) -> tuple[int, int]:
        """Fingerprint of the committed triple table; it must agree with the
        per-bucket lineage the write recorded (same row hash)."""
        from ner_spark.io.catalog import read_lineage

        path = self._paths(k)[1]
        got = table_fingerprint(self.spark.read.parquet(path))
        recorded = _combine(read_lineage(self.spark, path).collect())
        if recorded != got:
            raise CheckFailed(f"triple table {got} != its lineage {recorded}")
        return got

    def mentions_path(self, k: int) -> str:
        return self._paths(k)[0]

    def remove(self, k: int) -> None:
        shutil.rmtree(os.path.join(self.out_root, f"job{k}"),
                      ignore_errors=True)

    def reference_fingerprint(self) -> tuple[int, int]:
        """The same triple table built in memory, without the bucketed
        checkpoint, write and resume machinery."""
        from ner_spark.io.catalog import with_bucket
        from ner_spark.pipeline.ner import extract_mentions
        from ner_spark.pipeline.triples import build_triples

        pages = self.spark.read.parquet(self.pages_path)
        mentions = extract_mentions(pages, self.art).persist()
        try:
            return table_fingerprint(with_bucket(
                build_triples(mentions, self.art.kb_df), "subj", N_BUCKETS))
        finally:
            mentions.unpersist()


def check_mentions(spark, art, mentions_path: str, urls: list[str],
                   texts: list[str]) -> None:
    """Mentions of the first ``ORACLE_DOCS`` pages, as checkpointed by the
    job, must equal ``scan_and_resolve`` on the pure-Python path."""
    from ner_spark.semantics import ckernel
    from ner_spark.semantics.lang import EN
    from ner_spark.semantics.recognize import scan_and_resolve
    from ner_spark.semantics.textnorm import sanitize

    sample = dict(zip(urls[:ORACLE_DOCS], texts[:ORACLE_DOCS]))
    cols = ["url", "start", "end", "par", "kind", "text", "sense", "iso",
            "confidence"]
    got = Counter(
        tuple(r) for r in spark.read.parquet(mentions_path)
        .filter(F.col("url").isin(list(sample))).select(*cols).collect())
    bundle, atm = art.bundle, art.automaton
    want: Counter = Counter()
    ckernel.FORCE_DISABLE = True
    try:
        for url, text in sample.items():
            for row in scan_and_resolve(bundle, atm, sanitize(text), lang=EN,
                                        as_tuples=True):
                want[(url,) + tuple(row)] += 1
    finally:
        ckernel.FORCE_DISABLE = False
    if got != want:
        raise CheckFailed(
            f"mentions differ from the Python oracle on {ORACLE_DOCS} pages: "
            f"{sum((got - want).values())} extra, "
            f"{sum((want - got).values())} missing")
