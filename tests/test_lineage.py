"""Resumable bucketed write: kill mid-job, resume, converge to the same
table (north-rule checkpoint/lineage requirement)."""

import glob
import os

import pytest
from pyspark.sql import functions as F

from ner_spark.io.catalog import (_lineage_of, commit_buckets,
                                  completed_buckets, read_lineage,
                                  resumable_write, with_bucket)


@pytest.fixture()
def triple_df(spark):
    return spark.range(0, 500).select(
        F.concat(F.lit("e:"), (F.col("id") % 97).cast("string")).alias("subj"),
        F.lit("p").alias("pred"),
        F.col("id").cast("string").alias("obj"))


def _table_fingerprint(spark, path):
    df = spark.read.parquet(path)
    rows = sorted((r.subj, r.pred, r.obj) for r in df.collect())
    return rows


def test_write_then_resume_noop(spark, triple_df, tmp_path):
    path = str(tmp_path / "t")
    m1 = resumable_write(triple_df, path, n_buckets=8)
    assert len(m1["completed"]) > 0 and m1["skipped_resume"] == []
    before = _table_fingerprint(spark, path)
    m2 = resumable_write(triple_df, path, n_buckets=8)
    assert m2["skipped_resume"] == m1["completed"]  # nothing recomputed
    assert _table_fingerprint(spark, path) == before
    # a URI output path: every step goes through the Hadoop FS
    uri = "file://" + str(tmp_path / "u")
    assert resumable_write(triple_df, uri, n_buckets=8) == m1
    assert resumable_write(triple_df, uri, n_buckets=8) == m2
    assert _table_fingerprint(spark, uri) == before


def test_kill_and_resume_converges(spark, triple_df, tmp_path):
    path = str(tmp_path / "t")
    with pytest.raises(RuntimeError, match="injected failure"):
        resumable_write(triple_df, path, n_buckets=8, fail_after_buckets=3)
    done = sorted(completed_buckets(spark, path))
    assert len(done) == 3
    m = resumable_write(triple_df, path, n_buckets=8)
    assert sorted(m["skipped_resume"]) == done  # exactly the committed ones
    # full content identical to a clean one-shot write
    clean = str(tmp_path / "clean")
    resumable_write(triple_df, clean, n_buckets=8)
    assert _table_fingerprint(spark, path) == _table_fingerprint(spark, clean)


def _by_bucket(lineage_rows):
    return {r.bucket: (r.n_rows, r.fingerprint) for r in lineage_rows}


def test_lineage_counts_match_table(spark, triple_df, artifacts, pages_rows,
                                    tmp_path):
    from ner_spark.pipeline.run import extract_mentions_resumable

    path = str(tmp_path / "t")
    resumable_write(triple_df, path, n_buckets=8)
    lineage = {r.bucket: r.n_rows for r in read_lineage(spark, path).collect()}
    actual = {r.bucket: r.cnt for r in
              spark.read.parquet(path).groupBy("bucket")
              .agg(F.count(F.lit(1)).alias("cnt")).collect()}
    assert lineage == actual
    assert sum(lineage.values()) == 500
    # each recorded fingerprint is that of the committed rows of its bucket
    assert _by_bucket(read_lineage(spark, path).collect()) == _by_bucket(
        _lineage_of(spark.read.parquet(path)).collect())

    # a bucket with no rows is recorded as (b, 0, 0)
    sparse = str(tmp_path / "sparse")
    resumable_write(triple_df.filter(F.col("subj") == "e:1"), sparse,
                    n_buckets=8)
    written = _by_bucket(_lineage_of(spark.read.parquet(sparse)).collect())
    assert len(written) == 1
    assert _by_bucket(read_lineage(spark, sparse).collect()) == {
        b: written.get(b, (0, 0)) for b in range(8)}

    # one parquet file per bucket directory, in both tables
    mentions = str(tmp_path / "m")
    pages = spark.createDataFrame(
        [(p["url"], p["text"]) for p in pages_rows[:30]],
        "url string, text string")
    extract_mentions_resumable(spark, pages, artifacts, mentions, n_buckets=8)
    for table in (path, mentions):
        dirs = glob.glob(os.path.join(table, "bucket=*"))
        assert dirs
        for d in dirs:
            assert len(glob.glob(os.path.join(d, "*.parquet"))) == 1, d


def test_resume_does_not_evaluate_input(spark, triple_df, tmp_path):
    """Once every bucket is committed, a rerun plans nothing: an input
    that raises when evaluated is never touched."""
    path = str(tmp_path / "t")
    resumable_write(triple_df, path, n_buckets=4)

    @F.udf("string")
    def boom(s):
        raise ValueError("input evaluated")

    # on the bucket key, so no bucket filter can skip the UDF
    poisoned = triple_df.withColumn("subj", boom("subj"))
    with pytest.raises(Exception, match="input evaluated"):
        poisoned.collect()
    m = resumable_write(poisoned, path, n_buckets=4)
    assert m["skipped_resume"] == [0, 1, 2, 3]


def test_changed_bucket_count_raises(spark, triple_df, tmp_path):
    """A table committed with 8 buckets is not resumed as a 4-bucket one:
    the sidecar lists buckets 4-7, so the rerun raises naming the path and
    both counts instead of returning the 8-bucket table.  The old count is
    only a lower bound: an 8-bucket waved write killed after buckets 0-5
    lists only those, and a 6-bucket rerun would find every bucket listed
    (the job key of ROADMAP item 6 closes that), so the message names no
    count to rerun with."""
    path = str(tmp_path / "t")
    resumable_write(triple_df, path, n_buckets=8)
    with pytest.raises(ValueError, match=r"t was written with at least 8 "
                                         r"buckets.*this job writes 4"):
        resumable_write(triple_df, path, n_buckets=4)
    assert resumable_write(triple_df, path, n_buckets=8)["skipped_resume"] \
        == list(range(8))

    killed = str(tmp_path / "killed")
    bdf = with_bucket(triple_df, "subj", 8)
    with pytest.raises(RuntimeError, match="injected failure"):
        commit_buckets(spark, killed, 8, lambda todo: bdf.filter(
            F.col("bucket").isin(todo)), waves=4, fail_after_buckets=6)
    assert sorted(completed_buckets(spark, killed)) == list(range(6))
    with pytest.raises(ValueError, match=r"at least 6 buckets.*this job "
                       r"writes 4.*rerun with the bucket count it was "
                       r"written with$"):
        resumable_write(triple_df, killed, n_buckets=4)


def test_lineage_written_by_driver(spark, triple_df, tmp_path):
    """Each wave's lineage is one Parquet file, renamed into place from a
    hidden temp name: no temp file is left behind, and read_lineage gives
    the sidecar's schema."""
    path = tmp_path / "t"
    resumable_write(triple_df, str(path), n_buckets=8)
    names = os.listdir(path / "_lineage")
    parts = [n for n in names if n.endswith(".parquet")]
    assert len(parts) == 1 and parts[0].startswith("part-")
    assert not [n for n in names if n.startswith(".part-")
                and n.endswith(".parquet")]
    assert read_lineage(spark, str(path)).schema.simpleString() == \
        "struct<bucket:int,n_rows:bigint,fingerprint:bigint>"


def test_unreadable_lineage_raises(spark, triple_df, tmp_path):
    """A missing sidecar means nothing is done; hidden and ``_`` names in
    it (temp files, a Spark ``_SUCCESS``) are skipped; a file that exists
    but cannot be read must raise, not silently trigger a full
    recompute."""
    import pyarrow as pa

    assert completed_buckets(spark, str(tmp_path / "fresh")) == []
    path = str(tmp_path / "t")
    resumable_write(triple_df, path, n_buckets=4)
    for name in ("_SUCCESS", ".part-killed.parquet"):
        (tmp_path / "t" / "_lineage" / name).write_bytes(b"")
    assert sorted(completed_buckets(spark, path)) == [0, 1, 2, 3]
    (tmp_path / "t" / "_lineage" / "part-garbage.parquet").write_bytes(
        b"not a parquet file")
    with pytest.raises(pa.ArrowInvalid, match="not a parquet file"):
        completed_buckets(spark, path)


def test_resumable_mentions_compute_prune(spark, artifacts, pages_rows, tmp_path):
    """Mention extraction resume: kill after k buckets, resume, converge;
    completed buckets (incl. zero-mention ones) are pruned from the re-scan."""
    import pytest as _pytest

    from ner_spark.io.catalog import read_lineage
    from ner_spark.pipeline.run import extract_mentions_resumable

    pages = spark.createDataFrame(
        [(p["url"], p["text"]) for p in pages_rows[:30]]
        + [("u-empty-1", "zzz qqq ."), ("u-empty-2", "nothing here .")],
        "url string, text string")
    path = str(tmp_path / "mentions")

    with _pytest.raises(RuntimeError, match="injected failure"):
        extract_mentions_resumable(spark, pages, artifacts, path,
                                   n_buckets=8, fail_after_buckets=3)
    partial_lineage = {r.bucket for r in read_lineage(spark, path).collect()}
    assert len(partial_lineage) == 3

    got = extract_mentions_resumable(spark, pages, artifacts, path, n_buckets=8)
    lineage = {r.bucket: r.n_rows for r in read_lineage(spark, path).collect()}
    assert len(lineage) == 8  # every populated bucket has exactly one row
    # zero-mention buckets recorded too (no eternal re-scan)
    clean = str(tmp_path / "clean")
    want = extract_mentions_resumable(spark, pages, artifacts, clean, n_buckets=8)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    # fully-resumed rerun is a no-op returning the same table
    again = extract_mentions_resumable(spark, pages, artifacts, path, n_buckets=8)
    assert again.count() == got.count()


def test_resumable_mentions_numeric_url_column(spark, artifacts, tmp_path):
    """Numeric url columns must hash consistently on both sides of the
    bucket bookkeeping (page prune vs mention lineage)."""
    from ner_spark.io.catalog import read_lineage
    from ner_spark.pipeline.run import extract_mentions_resumable

    pages = spark.createDataFrame(
        [(i, "George Washington spoke .") for i in range(20)],
        "url long, text string")
    path = str(tmp_path / "m")
    got = extract_mentions_resumable(spark, pages, artifacts, path, n_buckets=4)
    n1 = got.count()
    lineage = {r.bucket: r.n_rows for r in read_lineage(spark, path).collect()}
    assert sum(lineage.values()) == n1 and n1 > 0
    # rerun: everything skipped, identical table
    again = extract_mentions_resumable(spark, pages, artifacts, path, n_buckets=4)
    assert again.count() == n1
    assert len({r.bucket for r in read_lineage(spark, path).collect()}) == len(lineage)


def test_partition_overwrite_mode_restored(spark, tmp_path):
    """resumable writes must not leave partitionOverwriteMode=dynamic on
    the shared session (ADVICE round 1)."""
    from ner_spark.io.catalog import resumable_write

    key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.set(key, "static")
    df = spark.createDataFrame([(f"s{i}", "p", "o") for i in range(10)],
                               "subj string, pred string, obj string")
    resumable_write(df, str(tmp_path / "t"), key="subj", n_buckets=4)
    assert spark.conf.get(key) == "static"
    spark.conf.unset(key)


def test_resumable_mentions_waves(spark, artifacts, pages_rows, tmp_path):
    """Wave-based incremental checkpointing (r5): waves>1 must produce the
    identical mentions table, commit lineage per wave (a kill mid-run
    preserves completed waves), and resume across the wave structure."""
    import pytest as _pytest

    from ner_spark.io.catalog import read_lineage
    from ner_spark.pipeline.run import extract_mentions_resumable

    pages = spark.createDataFrame(
        [(p["url"], p["text"]) for p in pages_rows[:30]]
        + [("u-empty-1", "zzz qqq ."), ("u-empty-2", "nothing here .")],
        "url string, text string")

    # waves=4 ≡ waves=1, row for row
    w1 = extract_mentions_resumable(spark, pages, artifacts,
                                    str(tmp_path / "w1"), n_buckets=8)
    w4 = extract_mentions_resumable(spark, pages, artifacts,
                                    str(tmp_path / "w4"), n_buckets=8,
                                    waves=4)
    assert sorted(map(tuple, w4.collect())) == sorted(map(tuple, w1.collect()))

    # kill inside wave 3 (8 buckets / 4 waves = 2 per wave; fail after 5
    # buckets = waves 1-2 committed + 1 bucket of wave 3)
    path = str(tmp_path / "killed")
    with _pytest.raises(RuntimeError, match="injected failure"):
        extract_mentions_resumable(spark, pages, artifacts, path,
                                   n_buckets=8, waves=4,
                                   fail_after_buckets=5)
    assert len({r.bucket for r in read_lineage(spark, path).collect()}) == 5

    # resume (different wave count on purpose) converges to the same table
    got = extract_mentions_resumable(spark, pages, artifacts, path,
                                     n_buckets=8, waves=2)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, w1.collect()))
    assert len({r.bucket for r in read_lineage(spark, path).collect()}) == 8
