"""Incremental co-mention maintenance: the streaming pipeline must fold
new pages into the running edge weights (checkpoint-driven — a second
trigger reads ONLY the new files) and its final table must equal the
batch comention_edges computation over everything seen so far."""


def _batch_edges(spark, rows, artifacts):
    from ner_spark.pipeline.ner import extract_mentions
    from ner_spark.pipeline.triples import comention_edges

    df = spark.createDataFrame([(p["url"], p["text"]) for p in rows],
                               "url string, text string")
    return {(r.subj, r.obj): r.weight
            for r in comention_edges(
                extract_mentions(df, artifacts)).collect()}


def test_streaming_comention_incremental_equals_batch(
        spark, pages_rows, artifacts, tmp_path):
    from ner_spark.streaming.comention import run_comention_counts

    half = len(pages_rows) // 2
    schema = "url string, text string"
    inp, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")

    def write(rows):
        spark.createDataFrame([(p["url"], p["text"]) for p in rows], schema) \
            .coalesce(1).write.mode("append").parquet(inp)

    write(pages_rows[:half])
    q = run_comention_counts(spark, inp, ckpt, schema, artifacts, "cmt1")
    q.awaitTermination(120)
    got1 = {(r.subj, r.obj): r.weight
            for r in spark.sql("SELECT * FROM cmt1").collect()}
    assert got1 == _batch_edges(spark, pages_rows[:half], artifacts)
    assert len(got1) > 0

    # second increment: new files only are processed; state carries over
    write(pages_rows[half:])
    q = run_comention_counts(spark, inp, ckpt, schema, artifacts, "cmt2")
    q.awaitTermination(120)
    got2 = {(r.subj, r.obj): r.weight
            for r in spark.sql("SELECT * FROM cmt2").collect()}
    assert got2 == _batch_edges(spark, pages_rows, artifacts)
    # the increment really changed the table (weights grew or pairs added)
    assert got2 != got1


def test_pair_stream_is_stateless_streaming_node(spark, artifacts, tmp_path):
    """The pair explode must stay stateless (plain MapInArrow on the
    stream, no pandas conversion) — the ONLY stateful operator is the
    downstream count agg."""
    from ner_spark.streaming.comention import (comention_edge_counts,
                                               comention_pair_stream)

    stream = spark.readStream.schema("url string, text string") \
        .parquet(str(tmp_path))
    pairs = comention_pair_stream(stream, artifacts)
    assert pairs.isStreaming
    plan = pairs._jdf.queryExecution().analyzed().toString()
    assert "MapInArrow" in plan and "MapInPandas" not in plan
    counts = comention_edge_counts(pairs)
    assert counts.isStreaming


def test_pair_stream_forwards_scan_modes(spark, kb_rows, pages_rows):
    """Batch frame over a -d -r (lowercase + deaccent) artifact: the pair
    explode must equal comention_edges over extract_mentions with the same
    artifact, so the shared per-document loop takes the scan modes from the
    artifact.  Accented and upper-cased pages only match when both modes
    reach the scan."""
    from ner_spark.kb.build import compile_kb
    from ner_spark.pipeline.ner import extract_mentions
    from ner_spark.pipeline.triples import comention_edges
    from ner_spark.streaming.comention import (comention_edge_counts,
                                               comention_pair_stream)

    art = compile_kb(spark, kb_rows, lowercase=True, deaccent=True)
    rows = [(p["url"], p["text"].replace("e", "é") if i % 2
             else p["text"].upper()) for i, p in enumerate(pages_rows)]
    df = spark.createDataFrame(rows, "url string, text string")

    def edges(frame):
        return {(r.subj, r.obj): r.weight for r in frame.collect()}

    got = edges(comention_edge_counts(comention_pair_stream(df, art)))
    want = edges(comention_edges(extract_mentions(df, art)))
    assert got == want
    assert len(got) > 0
    # the flags matter on this corpus: an artifact compiled without them
    # finds less
    plain = compile_kb(spark, kb_rows)
    assert got != edges(comention_edge_counts(comention_pair_stream(df, plain)))
