"""Spark pipeline vs the single-document oracle: the parity gate
(BASELINE.json: mention-link P/R ≥ 0.95 on a held-out page set) plus triple
emission and canonicalization."""

import pytest
from pyspark.sql import functions as F

from ner_spark.semantics.recognize import recognize


def _oracle_mentions(kb_rows, pages, artifacts):
    bundle = artifacts.bundle
    atm = artifacts.automaton
    out = set()
    for p in pages:
        for r in recognize(bundle, atm, p["text"]):
            out.add((p["url"], r["start"], r["end"], r["kind"],
                     r["sense"], r["iso"]))
    return out


@pytest.fixture(scope="module")
def pages_df(spark, pages_rows):
    return spark.createDataFrame(
        [(p["url"], p["warc_ts"], p["html"], p["text"], p["lang"])
         for p in pages_rows],
        "url string, warc_ts timestamp, html binary, text string, lang string")


def test_extract_mentions_parity(spark, kb_rows, pages_rows, pages_df, artifacts):
    """Every mention the Spark pipeline emits must match the oracle — the
    held-out pages (last 20) are never used for tuning.  P/R computed
    mention-link-wise; target ≥0.95, expected 1.0."""
    from ner_spark.pipeline.ner import extract_mentions

    got = {(r.url, r.start, r.end, r.kind, r.sense, r.iso)
           for r in extract_mentions(pages_df, artifacts).collect()}
    want = _oracle_mentions(kb_rows, pages_rows, artifacts)
    tp = len(got & want)
    precision = tp / len(got) if got else 1.0
    recall = tp / len(want) if want else 1.0
    assert len(want) > 200, "fixture too small to be meaningful"
    assert precision >= 0.95 and recall >= 0.95, (precision, recall)
    assert got == want  # same semantics modules → exact match expected


def test_mentions_have_kb_coref_date_kinds(spark, pages_df, artifacts):
    from ner_spark.pipeline.ner import extract_mentions

    kinds = {r.kind for r in
             extract_mentions(pages_df, artifacts).select("kind").distinct().collect()}
    assert {"kb", "coref", "date"} <= kinds


def test_triples_schema_and_canonicalization(spark, pages_df, artifacts):
    from ner_spark.pipeline.ner import extract_mentions
    from ner_spark.pipeline.triples import build_triples, sameas_mapping

    mentions = extract_mentions(pages_df, artifacts).persist()
    triples = build_triples(mentions, artifacts.kb_df).persist()
    assert triples.columns == ["subj", "pred", "obj", "weight"]
    preds = {r.pred for r in triples.select("pred").distinct().collect()}
    assert {"mentions", "rdf:type", "coMentionedWith"} <= preds
    # canonicalization: no subject/object may remain that sameAs-maps away
    mapping = sameas_mapping(artifacts.kb_df)
    noncanon = {f"e:{r.node}" for r in
                mapping.filter("node <> component").collect()}
    if noncanon:
        assert "sameAs" in preds
        bad = triples.filter(
            (F.col("pred") != "sameAs")
            & (F.col("subj").isin(list(noncanon))
               | F.col("obj").isin(list(noncanon)))).count()
        assert bad == 0
    mentions.unpersist()
    triples.unpersist()


def test_comention_edges_symmetric_ordering(spark, pages_df, artifacts):
    from ner_spark.pipeline.ner import extract_mentions
    from ner_spark.pipeline.triples import comention_edges

    mentions = extract_mentions(pages_df, artifacts)
    edges = comention_edges(mentions).collect()
    assert edges
    for e in edges:
        # canonical numeric ordering: id(e1) < id(e2)
        assert int(e.subj[2:]) < int(e.obj[2:])
        assert e.weight >= 1


def test_run_kg_job_end_to_end(spark, pages_df, artifacts, tmp_path):
    """The one KG job: a first run commits every bucket of both tables, a
    rerun on the same ``out`` resumes all of them with the same count, and
    waves only change how the mentions checkpoint is committed."""
    from ner_spark.io.catalog import read_lineage
    from ner_spark.pipeline.run import run_kg_job

    def lineage(path):
        return sorted(tuple(r) for r in read_lineage(spark, path).collect())

    out = str(tmp_path / "one")
    first = run_kg_job(spark, pages_df, artifacts, out, n_buckets=8)
    assert first["n_triples"] > 0
    assert (first["buckets_completed"], first["buckets_resumed"]) == (8, 0)
    tables = {t: lineage(f"{out}/{t}") for t in ("mentions", "triples")}
    for rows in tables.values():
        assert [r[0] for r in rows] == list(range(8))
    assert sum(r[1] for r in tables["triples"]) == first["n_triples"]

    again = run_kg_job(spark, pages_df, artifacts, out, n_buckets=8)
    assert again == dict(first, buckets_resumed=8)
    # nothing re-committed: the lineage of both tables is unchanged
    assert {t: lineage(f"{out}/{t}") for t in tables} == tables

    waved = str(tmp_path / "waves")
    res = run_kg_job(spark, pages_df, artifacts, waved, n_buckets=8, waves=2)
    assert res == first
    assert lineage(f"{waved}/triples") == tables["triples"]

def test_null_and_empty_text_safe(spark, artifacts):
    """Crawl tables contain null/empty text; the pipeline must pass them
    through silently (zero mentions), not crash the UDF."""
    from ner_spark.pipeline.ner import extract_mentions

    df = spark.createDataFrame(
        [("u1", None), ("u2", ""), ("u3", "George Washington spoke .")],
        "url string, text string")
    rows = extract_mentions(df, artifacts).collect()
    assert {r.url for r in rows} <= {"u3"}
    assert len(rows) > 0

def test_find_names_parity_spark_vs_oracle(spark, pages_df, artifacts):
    """-n mode parity: the Spark pipeline with find_names matches the
    oracle document-for-document."""
    from ner_spark.pipeline.ner import extract_mentions
    from ner_spark.semantics.recognize import recognize

    sample = pages_df.limit(15)
    got = {(r.url, r.start, r.end, r.kind, r.sense)
           for r in extract_mentions(sample, artifacts,
                                     find_names=True).collect()}
    want = set()
    for p in sample.collect():
        for r in recognize(artifacts.bundle, artifacts.automaton, p.text,
                           find_names=True):
            want.add((p.url, r["start"], r["end"], r["kind"], r["sense"]))
    assert got == want
    assert any(k == "name" for (_, _, _, k, _) in want)


def test_entity_date_edges_matches_pandas_recompute(spark, pages_df,
                                                    artifacts):
    """(entity, iso) per-paragraph co-occurrence weights vs an independent
    pandas recomputation over the same mention rows."""
    from ner_spark.pipeline.ner import extract_mentions
    from ner_spark.pipeline.triples import entity_date_edges

    mentions = extract_mentions(pages_df, artifacts).persist()
    got = {(r.subj, r.obj): r.weight
           for r in entity_date_edges(mentions).collect()}

    pdf = mentions.toPandas()
    ents = {(u, p, s) for u, p, s, k in
            zip(pdf.url, pdf.par, pdf.sense, pdf.kind) if s == s and
            s is not None}
    dates = {(u, p, i) for u, p, i, k in
             zip(pdf.url, pdf.par, pdf.iso, pdf.kind) if k == "date"}
    want: dict = {}
    by_up: dict = {}
    for u, p, i in dates:
        by_up.setdefault((u, p), []).append(i)
    for u, p, s in ents:
        for i in by_up.get((u, p), ()):
            key = (f"e:{int(s)}", i)
            want[key] = want.get(key, 0) + 1
    assert got == want
    assert len(got) > 0, "fixture pages must contain entity+date paragraphs"
    for r in entity_date_edges(mentions).collect()[:1]:
        assert r.pred == "associatedDate"
    mentions.unpersist()


def test_triple_delta_recrawl(spark):
    """triple_delta: pure adds for brand-new triples, del+add pair for a
    weight change, nothing for unchanged rows (multiset, NULL-safe)."""
    from ner_spark.pipeline.triples import triple_delta

    schema = "subj string, pred string, obj string, weight long"
    old = spark.createDataFrame([
        ("u1", "mentions", "e:1", None),        # unchanged
        ("e:1", "coMentionedWith", "e:2", 3),   # weight changes to 5
        ("u9", "mentions", "e:4", None),        # page dropped in recrawl
    ], schema)
    new = spark.createDataFrame([
        ("u1", "mentions", "e:1", None),
        ("e:1", "coMentionedWith", "e:2", 5),
        ("u2", "mentions", "e:3", None),        # brand-new page
    ], schema)
    got = {(r.op, r.subj, r.pred, r.obj, r.weight)
           for r in triple_delta(old, new).collect()}
    assert got == {
        ("add", "e:1", "coMentionedWith", "e:2", 5),
        ("add", "u2", "mentions", "e:3", None),
        ("del", "e:1", "coMentionedWith", "e:2", 3),
        ("del", "u9", "mentions", "e:4", None),
    }


def test_apply_delta_roundtrip(spark):
    """apply_delta(old, triple_delta(old, new)) ≡ new (multiset)."""
    from ner_spark.pipeline.triples import apply_delta, triple_delta

    schema = "subj string, pred string, obj string, weight long"
    old = spark.createDataFrame([
        ("u1", "mentions", "e:1", None),
        ("u1", "mentions", "e:1", None),       # duplicate row (multiset)
        ("e:1", "coMentionedWith", "e:2", 3),
        ("u9", "mentions", "e:4", None),
    ], schema)
    new = spark.createDataFrame([
        ("u1", "mentions", "e:1", None),
        ("e:1", "coMentionedWith", "e:2", 5),
        ("u2", "mentions", "e:3", None),
    ], schema)
    applied = apply_delta(old, triple_delta(old, new))
    roundtrip = sorted((r.subj, r.pred, r.obj, r.weight)
                       for r in applied.collect())
    want = sorted((r.subj, r.pred, r.obj, r.weight)
                  for r in new.collect())
    assert roundtrip == want


def test_kb_artifact_save_load_roundtrip(spark, kb_rows, pages_df,
                                         artifacts, tmp_path):
    """save_kb_artifact → load_kb_artifact reproduces the compiled KB
    exactly: same mention set, same scored-KB rows, same scan config,
    version handshake enforced (the production prebuilt-.dct deployment
    form, ner.py:432-443 / 756-810)."""
    import json
    import os

    import pytest as _pytest

    from ner_spark.kb.build import (compile_kb, load_kb_artifact,
                                    save_kb_artifact)
    from ner_spark.pipeline.ner import extract_mentions

    path = str(tmp_path / "kb_art")
    save_kb_artifact(artifacts, path, kb_version="v1")
    loaded = load_kb_artifact(spark, path, kb_version="v1")

    assert loaded.n_entities == artifacts.n_entities
    assert loaded.n_keys == artifacts.n_keys
    # scored KB identical row-for-row
    cols = sorted(artifacts.kb_df.columns)
    want = sorted(map(tuple, artifacts.kb_df.select(*cols).collect()))
    got = sorted(map(tuple, loaded.kb_df.select(*cols).collect()))
    assert got == want
    # mention extraction identical through the loaded artifact
    key = lambda r: (r.url, r.start, r.end, r.kind, r.sense, r.iso)  # noqa: E731
    m_want = sorted(map(key, extract_mentions(pages_df, artifacts).collect()))
    m_got = sorted(map(key, extract_mentions(pages_df, loaded).collect()))
    assert m_got == m_want and len(m_got) > 200
    # the loaded artifact broadcasts the saved KB image, built nothing
    assert loaded.image_bc.value == artifacts.image_bc.value
    # stale-version handshake fails fast
    with _pytest.raises(ValueError, match="version mismatch"):
        load_kb_artifact(spark, path, kb_version="v2")
    assert loaded.scan_config == {"lowercase": False, "deaccent": False,
                                  "lang": "en"}

    # a -d -r artifact comes back with its scan config and scans with it:
    # on upper-cased, accented pages the mentions only match when both
    # modes reach the scan
    dr = compile_kb(spark, kb_rows, lowercase=True, deaccent=True)
    dr_path = str(tmp_path / "kb_art_dr")
    save_kb_artifact(dr, dr_path)
    dr_loaded = load_kb_artifact(spark, dr_path)
    assert dr_loaded.scan_config == {"lowercase": True, "deaccent": True,
                                     "lang": "en"}
    shouted = pages_df.select(
        "url", F.upper(F.translate("text", "e", "é")).alias("text"))
    m_want = sorted(map(key, extract_mentions(shouted, dr).collect()))
    m_got = sorted(map(key, extract_mentions(shouted, dr_loaded).collect()))
    assert m_got == m_want and len(m_got) > 200

    # a MANIFEST that predates the recorded scan config is refused
    manifest = os.path.join(dr_path, "MANIFEST.json")
    with open(manifest) as fh:
        old = {k: v for k, v in json.load(fh).items()
               if k not in ("lowercase", "deaccent", "lang")}
    with open(manifest, "w") as fh:
        json.dump(old, fh)
    with _pytest.raises(ValueError, match="recompile"):
        load_kb_artifact(spark, dr_path)

    # so is one whose KB image has another format version
    from ner_spark.semantics.ckernel import IMAGE_VERSION

    manifest = os.path.join(path, "MANIFEST.json")
    with open(manifest) as fh:
        old = dict(json.load(fh), image_format=IMAGE_VERSION - 1)
    with open(manifest, "w") as fh:
        json.dump(old, fh)
    with _pytest.raises(ValueError, match="image format.*recompile"):
        load_kb_artifact(spark, path, kb_version="v1")
