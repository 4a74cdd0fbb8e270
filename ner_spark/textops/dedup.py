"""Deduplication operators for web-scale corpora.

  * exact: md5 hash-groupBy (one shuffle on the 32-char digest);
  * n-gram Jaccard: token-set similarity within a blocking key — the
    verify step of any candidate-pair generator;
  * MinHash + LSH: numpy-vectorized signatures inside a pandas UDF
    (no per-row Python), banded bucketing, bucket equi-join for candidate
    pairs, exact-Jaccard verification of candidates only;
  * SimHash: 64-bit signature via numpy bit tricks, near-dup = small
    Hamming distance, banded on 16-bit chunks so candidates come from an
    equi-join instead of an O(n²) cross join.

Scale notes: every candidate generator here is join-based on a bounded
key (digest / band hash / block), so the quadratic blow-up is limited to
within-bucket pairs; Zipf-heavy buckets are AQE-skew-split and the final
verification is a narrow map over pairs.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ner_spark.textops.analysis import tokens_col

_MERSENNE = (1 << 61) - 1


def exact_duplicates(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """(id, digest, group_size) for docs whose exact text repeats."""
    h = df.select(F.col(id_col), F.md5(F.col(text_col)).alias("digest"))
    sizes = h.groupBy("digest").agg(F.count(F.lit(1)).alias("group_size"))
    return (h.join(sizes, "digest")
             .filter(F.col("group_size") > 1)
             .select(id_col, "digest", "group_size"))


def jaccard_pairs(df: DataFrame, block_col: str, threshold: float = 0.5,
                  id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Distinct-token Jaccard for all pairs sharing ``block_col``."""
    t = df.select(F.col(id_col), F.col(block_col).alias("block"),
                  F.array_distinct(tokens_col(text_col)).alias("toks"))
    a, b = t.alias("a"), t.alias("b")
    pairs = (
        a.join(b, "block")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id1"),
            F.col(f"b.{id_col}").alias("id2"),
            (F.size(F.array_intersect("a.toks", "b.toks")).cast("double")
             / F.size(F.array_union("a.toks", "b.toks"))).alias("jaccard"),
        )
    )
    return pairs.filter(F.col("jaccard") >= threshold) \
                .select("id1", "id2", F.round("jaccard", 6).alias("jaccard"))


def ngram_jaccard_pairs(df: DataFrame, block_col: str, n: int = 3,
                        threshold: float = 0.5, id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Word-n-gram-shingle Jaccard within a blocking key.

    Scale formulation: explode distinct shingles, equi-join on
    (block, shingle) so |intersection| is a pair COUNT — no per-pair array
    intersection, and pairs with zero shared shingles never materialize
    (they cannot pass any threshold > 0).  |union| = n1 + n2 − inter from
    per-doc shingle counts."""
    toks = tokens_col(text_col)
    shingles = F.array_distinct(F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n))))
    t = df.select(F.col(id_col), F.col(block_col).alias("block"),
                  shingles.alias("sh"))
    sizes = t.select(F.col(id_col).alias("_id"), F.size("sh").alias("n_sh"))
    ex = t.select(id_col, "block", F.explode("sh").alias("s"))
    a, b = ex.alias("a"), ex.alias("b")
    inter = (
        a.join(b, ["block", "s"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(F.col(f"a.{id_col}").alias("id1"),
                 F.col(f"b.{id_col}").alias("id2"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    out = (
        inter
        .join(sizes.withColumnRenamed("_id", "id1")
                   .withColumnRenamed("n_sh", "n1"), "id1")
        .join(sizes.withColumnRenamed("_id", "id2")
                   .withColumnRenamed("n_sh", "n2"), "id2")
        .withColumn("jaccard", F.col("inter").cast("double")
                    / (F.col("n1") + F.col("n2") - F.col("inter")))
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select("id1", "id2", F.round("jaccard", 6).alias("jaccard"))


_FNV_OFFSET = 0xCBF29CE484222325
_FNV_PRIME = 0x100000001B3
_MASK64 = 0xFFFFFFFFFFFFFFFF

# per-worker shingle→FNV memo: web vocab is Zipf, so most shingles repeat
# within a worker's lifetime; bounded to keep long-lived executors safe
_FNV_CACHE: dict[str, int] = {}
_FNV_CACHE_MAX = 1 << 20


def _fnv1a(s: str) -> int:
    h = _FNV_CACHE.get(s)
    if h is None:
        h = _FNV_OFFSET
        for byt in s.encode():
            h = ((h ^ byt) * _FNV_PRIME) & _MASK64
        if len(_FNV_CACHE) < _FNV_CACHE_MAX:
            _FNV_CACHE[s] = h
    return h


def _shingle_hashes(text: str, shingle: int) -> np.ndarray:
    toks = [t for t in text.split(" ") if t]
    if len(toks) < shingle:
        grams = [" ".join(toks)] if toks else [""]
    elif shingle == 1:
        grams = toks
    else:
        grams = [" ".join(toks[i:i + shingle]) for i in range(len(toks) - shingle + 1)]
    # stable 64-bit FNV-1a per shingle, memoized per worker
    fnv = _fnv1a
    return np.unique(np.fromiter((fnv(g) for g in grams),
                                 dtype=np.uint64, count=len(grams)))


def minhash_signatures(df: DataFrame, num_hashes: int = 64, shingle: int = 3,
                       seed: int = 42, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """(id, sig array<long>) — k-permutation MinHash over token shingles.
    The affine permutations (a·h+b mod p) are generated once on the driver
    and applied with one numpy broadcast per document batch."""
    rng = np.random.RandomState(seed)
    A = rng.randint(1, _MERSENNE, size=num_hashes, dtype=np.int64)
    B = rng.randint(0, _MERSENNE, size=num_hashes, dtype=np.int64)

    src = df.select(id_col, text_col)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, sigs = [], []
            for i, text in zip(pdf[id_col], pdf[text_col]):
                hs = _shingle_hashes(text, shingle).astype(np.uint64)
                if hs.size == 0:
                    sig = np.zeros(num_hashes, dtype=np.int64)
                else:
                    m = (hs[None, :] * A.astype(np.uint64)[:, None]
                         + B.astype(np.uint64)[:, None]) % np.uint64(_MERSENNE)
                    sig = m.min(axis=1).astype(np.int64)
                ids.append(i)
                sigs.append(sig.tolist())
            yield pd.DataFrame({id_col: ids, "sig": sigs})

    return src.mapInPandas(fn, schema=f"{id_col} long, sig array<long>")


def minhash_lsh_pairs(df: DataFrame, num_hashes: int = 64, bands: int = 16,
                      shingle: int = 3, threshold: float = 0.5,
                      seed: int = 42, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Banded-LSH candidate pairs verified by exact token-shingle Jaccard
    estimate (signature agreement ratio)."""
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(df, num_hashes, shingle, seed, id_col, text_col)
    sigs = sigs.persist()
    banded = sigs.select(
        id_col, "sig",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     F.xxhash64(F.slice("sig", b * rows_per_band + 1, rows_per_band)
                                .cast("array<string>").cast("string")).alias("bh"))
            for b in range(bands)
        ])).alias("bb"),
    ).select(id_col, "sig", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(b, ["band", "bh"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(F.col(f"a.{id_col}").alias("id1"), F.col(f"b.{id_col}").alias("id2"),
                F.col("a.sig").alias("sig1"), F.col("b.sig").alias("sig2"))
        .dropDuplicates(["id1", "id2"])
    )
    est = (
        F.size(F.filter(F.zip_with("sig1", "sig2", lambda x, y: x == y),
                        lambda z: z))
        / F.lit(float(num_hashes))
    )
    out = cand.withColumn("est_jaccard", F.round(est, 4)) \
              .filter(F.col("est_jaccard") >= threshold) \
              .select("id1", "id2", "est_jaccard")
    return out


def lsh_jaccard_pairs(df: DataFrame, block_col: str | None = None,
                      threshold: float = 0.5, num_hashes: int = 128,
                      bands: int | None = None, shingle: int = 1,
                      seed: int = 42,
                      id_col: str = "doc_id", text_col: str = "text"
                      ) -> DataFrame:
    """Exact distinct-shingle Jaccard pairs (``shingle=1`` → token sets,
    n>1 → word n-grams), with MinHash-LSH candidate generation instead of
    an all-pairs cross product — the scale-correct composition of
    :func:`minhash_lsh_pairs` (candidates) and :func:`jaccard_pairs` /
    :func:`ngram_jaccard_pairs` (verify): candidates come from a
    banded-signature equi-join, and the exact Jaccard is computed ONLY on
    candidates.

    Same output contract as the exhaustive kernels (id1 < id2, jaccard ≥
    threshold, rounded 6), so the exhaustive SQL oracle applies verbatim.
    Recall: a pair at true Jaccard s survives with
    p = 1 − (1 − s^rows_per_band)^bands; ``bands=None`` auto-selects the
    band shape for the threshold — 2-row bands at thresholds ≥ 0.5
    (miss ≤ (3/4)^64 ≈ 1e-8 at s=0.5) but 1-row bands below (at s=0.3,
    2-row bands would miss ~0.24% of boundary pairs; 1-row bands miss
    (0.7)^128 ≈ 1e-20 at the cost of a looser candidate filter).
    ``block_col`` optionally scopes pairs to a blocking key (joined into
    the band key, so hot blocks still hash-partition across buckets)."""
    if bands is None:
        bands = num_hashes // 2 if threshold >= 0.5 else num_hashes
    rows_per_band = num_hashes // bands
    if shingle == 1:
        feats = F.array_distinct(tokens_col(text_col))
    else:
        t = tokens_col(text_col)
        feats = F.array_distinct(F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(t) - (shingle - 1), F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(t, i, shingle))))
    toks = df.select(
        F.col(id_col),
        *( [F.col(block_col).alias("block")] if block_col else [] ),
        feats.alias("toks"))
    # signatures over the same shingle features the verify step thresholds
    sigs = minhash_signatures(df, num_hashes, shingle=shingle, seed=seed,
                              id_col=id_col, text_col=text_col)
    banded = sigs.select(
        id_col,
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     F.xxhash64(F.slice("sig", b * rows_per_band + 1, rows_per_band)
                                .cast("array<string>").cast("string")).alias("bh"))
            for b in range(bands)
        ])).alias("bb"),
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))
    join_key = ["band", "bh"]
    if block_col:
        banded = banded.join(
            toks.select(id_col, "block"), id_col)
        join_key = ["block", "band", "bh"]
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(b, join_key)
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(F.col(f"a.{id_col}").alias("id1"),
                F.col(f"b.{id_col}").alias("id2"))
        .dropDuplicates(["id1", "id2"])
    )
    t1 = toks.select(F.col(id_col).alias("id1"), F.col("toks").alias("toks1"))
    t2 = toks.select(F.col(id_col).alias("id2"), F.col("toks").alias("toks2"))
    verified = (
        cand.join(t1, "id1").join(t2, "id2")
        .withColumn("jaccard",
                    F.size(F.array_intersect("toks1", "toks2")).cast("double")
                    / F.size(F.array_union("toks1", "toks2")))
        .filter(F.col("jaccard") >= threshold)
    )
    return verified.select("id1", "id2", F.round("jaccard", 6).alias("jaccard"))


def simhash_signatures(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """64-bit SimHash over token FNV hashes (numpy bit-count trick)."""
    src = df.select(id_col, text_col)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bitmask = (np.uint64(1) << np.arange(64, dtype=np.uint64))
        for pdf in batches:
            ids, sigs = [], []
            for i, text in zip(pdf[id_col], pdf[text_col]):
                hs = _shingle_hashes(text, 1)
                if hs.size == 0:
                    sim = 0
                else:
                    bits = ((hs[:, None] & bitmask[None, :]) != 0).astype(np.int32)
                    v = bits.sum(axis=0) * 2 - hs.size  # +1/-1 vote per bit
                    sim = int(((v > 0).astype(np.uint64) * bitmask).sum())
                ids.append(i)
                sigs.append(np.int64(np.uint64(sim)).item())
            yield pd.DataFrame({id_col: ids, "simhash": sigs})

    return src.mapInPandas(fn, schema=f"{id_col} long, simhash long")


def simhash_band_bounds(max_hamming: int) -> list[tuple[int, int]]:
    """(offset, width) per band: ``max_hamming + 1`` bands covering 64 bits.

    Pigeonhole guarantee: a pair at Hamming distance ≤ ``max_hamming`` has
    at least one band with zero differing bits, so the band equi-join has
    recall 1.0 at the configured radius (round-1 bug: fixed 4×16-bit bands
    silently dropped distance-4..8 pairs at ``max_hamming=8``)."""
    n_bands = max_hamming + 1
    if not 1 <= n_bands <= 64:
        raise ValueError(f"max_hamming must be in [0, 63], got {max_hamming}")
    base, rem = divmod(64, n_bands)
    widths = [base + 1] * rem + [base] * (n_bands - rem)
    bounds, off = [], 0
    for w in widths:
        bounds.append((off, w))
        off += w
    return bounds


def simhash_near_dups(df: DataFrame, max_hamming: int = 3,
                      id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Near-dup pairs by SimHash: band the 64 bits into ``max_hamming + 1``
    chunks (pigeonhole: distance ≤ max_hamming ⇒ one chunk equal), equi-join
    on chunks, verify Hamming distance with bit_count.

    Scale note: larger radii mean narrower bands (64/(h+1) bits) and
    therefore bigger buckets — at web scale keep the radius small (≤3 →
    16-bit bands) or pre-block on a coarse key before banding."""
    def band_col(off: int, w: int):
        col = F.shiftrightunsigned("simhash", off)
        if w < 64:  # w == 64 (radius 0, single band) would overflow the
            col = col.bitwiseAND(F.lit((1 << w) - 1))  # Long mask literal
        return col

    sigs = simhash_signatures(df, id_col, text_col)
    chunks = sigs.select(
        id_col, "simhash",
        F.explode(F.array(*[
            F.struct(F.lit(c).alias("chunk"), band_col(off, w).alias("ck"))
            for c, (off, w) in enumerate(simhash_band_bounds(max_hamming))
        ])).alias("cc"),
    ).select(id_col, "simhash", F.col("cc.chunk").alias("chunk"), F.col("cc.ck").alias("ck"))
    a, b = chunks.alias("a"), chunks.alias("b")
    return (
        a.join(b, ["chunk", "ck"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(F.col(f"a.{id_col}").alias("id1"), F.col(f"b.{id_col}").alias("id2"),
                F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
                 .alias("hamming"))
        .dropDuplicates(["id1", "id2"])
        .filter(F.col("hamming") <= max_hamming)
    )


def dedup_clusters(df: DataFrame, block_col: str | None = "source",
                   threshold: float = 0.5,
                   id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Full corpus dedup verdict: near-dup pairs → connected components →
    one canonical keeper per cluster (min doc id), every document labeled.

    → (doc_id, canonical_id, is_kept): ``canonical_id`` is the smallest
    doc id reachable through Jaccard-≥threshold pairs (singletons map to
    themselves); ``is_kept == (doc_id == canonical_id)`` is the keep/drop
    decision a training-data pipeline applies after near-dup detection.

    Composition of the scale plans: LSH-candidates + exact-verify pairs
    (:func:`lsh_jaccard_pairs`) and the hybrid driver/pointer-jumping CC
    (``pipeline.cc.connected_components``); the corpus join back is on the
    doc id.  The cluster graph is pairs-only (corpus-sized in the worst
    case, tiny in practice), never the documents."""
    from ner_spark.pipeline.cc import connected_components

    pairs = lsh_jaccard_pairs(df, block_col=block_col, threshold=threshold,
                              id_col=id_col, text_col=text_col)
    cc = connected_components(
        pairs.select(F.col("id1").alias("src"), F.col("id2").alias("dst")))
    docs = df.select(F.col(id_col).cast("long").alias("doc_id"))
    return (
        docs.join(cc, docs.doc_id == cc.node, "left")
        .select("doc_id",
                F.coalesce("component", "doc_id").alias("canonical_id"))
        .withColumn("is_kept", F.col("doc_id") == F.col("canonical_id"))
    )


def duplicated_window_stats(df: DataFrame, window: int = 20,
                            id_col: str = "doc_id",
                            text_col: str = "text") -> DataFrame:
    """Exact-substring duplication detection (the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better"
    ExactSubstr detection stage, re-expressed relationally): a document's
    token windows of length ``window`` are fingerprinted (md5 of the
    space-joined window — renders identically in DuckDB, the
    corpus_split precedent), a window is *duplicated* if its fingerprint
    occurs more than once in the corpus (across documents OR repeated
    within one), and each document reports how much of it is covered by
    duplicated windows.

    → (id, n_windows, n_dup_windows, dup_ratio).

    Scale shape: the only shuffle moves 32-hex window digests, never
    text (hash-groupBy with map-side partial count — the exact-dedup
    class); the suffix-array machinery of the reference implementation
    is replaced by the equivalent fixed-window fingerprint join, which
    is the standard distributed form.  Docs shorter than ``window``
    contribute their single whole-text window, so full-doc duplicates
    are still caught."""
    toks = F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
    wins = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - window + 1, F.lit(1))),
        lambda i: F.md5(F.encode(F.concat_ws(" ", F.slice(toks, i, window)),
                                 "utf-8")))
    ex = df.select(F.col(id_col), F.explode(wins).alias("w"))
    dup = (ex.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
             .filter(F.col("c") > 1).select("w"))
    per_doc = (ex.join(dup, "w", "left_semi")
                 .groupBy(id_col).agg(F.count(F.lit(1)).alias("n_dup_windows")))
    totals = df.select(F.col(id_col),
                       F.greatest(F.size(toks) - window + 1, F.lit(1))
                        .alias("n_windows"))
    return (totals.join(per_doc, id_col, "left")
            .select(id_col, "n_windows",
                    F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
                    F.round(F.coalesce("n_dup_windows", F.lit(0))
                            / F.col("n_windows"), 6).alias("dup_ratio")))
