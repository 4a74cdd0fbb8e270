"""KB compile artifacts: namelist TSV round-trip, the KB artifact's one
filesystem, typeflag codec."""

import io

from ner_spark.kb.artifacts import (read_namelist_tsv, typeflags,
                                    write_namelist_tsv)
from ner_spark.semantics.kb import KBBundle, build_namelist


def test_namelist_tsv_roundtrip(kb_rows):
    bundle = KBBundle.from_rows(kb_rows)
    nl = build_namelist(bundle)
    buf = io.StringIO()
    write_namelist_tsv(nl, buf)
    buf.seek(0)
    got = read_namelist_tsv(buf)
    assert got == nl
    # fragment marker rendered as 'N'
    buf.seek(0)
    lines = {l.split("\t")[0]: l.split("\t")[1] for l in
             buf.read().splitlines()}
    assert lines["he"] == "N"


def test_kb_artifact_stays_on_the_local_filesystem(spark, artifacts,
                                                   tmp_path):
    """All five artifact files go through the local filesystem: with the
    Hadoop default FS pointing at a scheme no filesystem serves, the
    artifact still saves and loads (a bare ``kb.parquet`` path would
    resolve against the default FS while the pickles, the KB image and
    MANIFEST go through ``open()``)."""
    from ner_spark.kb.build import load_kb_artifact, save_kb_artifact

    path = str(tmp_path / "kb_art")
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    default_fs = conf.get("fs.defaultFS")
    conf.set("fs.defaultFS", "unregistered-scheme:///")
    try:
        save_kb_artifact(artifacts, path, kb_version="v1")
        loaded = load_kb_artifact(spark, path, kb_version="v1")
        assert loaded.kb_df.count() == artifacts.n_entities
    finally:
        conf.set("fs.defaultFS", default_fs)
    assert (tmp_path / "kb_art" / "kb.parquet").is_dir()


def test_typeflags_codec():
    rows = [
        dict(id=1, type="person", name="A B", gender="M", fictional="0"),
        dict(id=2, type="person:fictional", name="C D", gender="F",
             fictional="1"),
        dict(id=3, type="person:group", name="E F", gender=""),
        dict(id=4, type="geographical", name="G"),
        dict(id=5, type="organization", name="H"),
    ]
    kb = KBBundle.from_rows(rows)
    assert typeflags(kb, 1) == "P:::M"
    assert typeflags(kb, 1, ntype="nick") == "P::N:M"
    assert typeflags(kb, 2) == "P:F::F"
    assert typeflags(kb, 3) == "P:G::"
    assert typeflags(kb, 4) == "L"
    assert typeflags(kb, 5) == ""
    assert typeflags(kb, 1, ntype="pseudo") == "P::P:M"
