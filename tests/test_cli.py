"""User-facing surface: LocalRecognizer API + `python -m ner_spark` CLI
(reference ./ner.py parity: stdin, -f, daemon protocol, flags)."""

import os
import subprocess
import sys

import pytest

from ner_spark.api import LocalRecognizer
from ner_spark.io.kbtsv import write_kb_tsv

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

KB_ROWS = [
    dict(id=1, type="person", name="George Washington", gender="M",
         date_of_birth="1732-02-22", jobs="president", roles="president",
         description="First president." * 3, wiki_backlinks=900,
         wiki_hits=900, wiki_ps=1),
    dict(id=2, type="person", name="Marie Curie", gender="F",
         description="Scientist." * 3, jobs="scientist", roles="scientist",
         wiki_backlinks=800, wiki_hits=800, wiki_ps=1),
    dict(id=3, type="geographical", name="Prague", country="Czech Republic",
         description="Capital.", wiki_backlinks=300, wiki_hits=300,
         wiki_ps=1),
]


@pytest.fixture(scope="module")
def kb_tsv(tmp_path_factory):
    p = tmp_path_factory.mktemp("kb") / "KB.tsv"
    with open(p, "w") as fh:
        write_kb_tsv(KB_ROWS, fh)
    return str(p)


def test_local_recognizer_no_spark(kb_tsv):
    rec = LocalRecognizer(kb_tsv=kb_tsv)
    rows = rec.recognize("Marie Curie visited Prague . She lectured .")
    got = {(r["kind"], r["text"], r["sense"]) for r in rows}
    assert ("kb", "Marie Curie", 2) in got
    assert ("kb", "Prague", 3) in got
    assert ("coref", "She", 2) in got
    lines = rec.recognize_lines("Marie Curie spoke .")
    assert lines == ["0\t11\tkb\tMarie Curie\t2"]
    # byte order: the "George" name fragment precedes the full key
    assert [k for k, _ in rec.autocomplete("Geor")] == \
        ["George", "George Washington"]


def _run_cli(args, stdin: str, kb_tsv: str) -> str:
    out = subprocess.run(
        [sys.executable, "-m", "ner_spark", "--kb", kb_tsv, *args],
        input=stdin, capture_output=True, text=True, cwd=ROOT,
        timeout=120)
    assert out.returncode == 0, out.stderr
    return out.stdout


def test_cli_stdin(kb_tsv):
    out = _run_cli([], "George Washington was born on 1732-02-22 .", kb_tsv)
    assert out.splitlines() == [
        "0\t17\tkb\tGeorge Washington\t1",
        "30\t40\tdate\t1732-02-22\t1732-02-22",
    ]


def test_cli_daemon_protocol(kb_tsv):
    stdin = ("George Washington spoke .\nNER_NEW_FILE\n"
             "Marie Curie spoke .\nNER_END\n")
    out = _run_cli(["-d"], stdin, kb_tsv)
    lines = out.splitlines()
    assert "NER_NEW_FILE" in lines and lines[-1] == "NER_END"
    assert any(l.endswith("George Washington\t1") for l in lines)
    assert any(l.endswith("Marie Curie\t2") for l in lines)
    # sync marker order: doc-1 mentions before NER_NEW_FILE
    assert lines.index("NER_NEW_FILE") < lines.index("NER_END")


def test_cli_file_and_lowercase(kb_tsv, tmp_path):
    doc = tmp_path / "doc.txt"
    doc.write_text("MARIE CURIE spoke .")
    # default: no match (uppercase surface not in namelist)
    out = _run_cli(["-f", str(doc)], "", kb_tsv)
    assert out.strip() == ""
    # -l: lowercase automaton + lowercased input
    out = _run_cli(["-f", str(doc), "-l"], "", kb_tsv)
    # the printed text column keeps the ORIGINAL case (the lowered copy is
    # scan-only, ner.py:473-476)
    assert "MARIE CURIE\t2" in out


def test_cli_score_mode(kb_tsv):
    out = _run_cli(["-s"], "Marie Curie visited Prague .", kb_tsv)
    lines = out.splitlines()
    # score mode prints candidate lists with scores (entity.py display_score)
    assert any("\t2 " in l or l.endswith("\t2") for l in lines)
    marie = [l for l in lines if "Marie Curie" in l][0]
    cand_tail = marie.split("\t")[-1]
    assert cand_tail.startswith("2 ")  # "cand score" format
    float(cand_tail.split(" ")[1])     # score parses as a number


def test_engine_propagates_lang(spark):
    """A cs compile reaches the extraction UDF: every document takes the
    Python path on the worker, which decodes the bundle from the image."""
    from ner_spark.kb.build import compile_kb
    from ner_spark.pipeline.ner import extract_mentions

    rows = [dict(id=1, type="person", name="Karel Novák", gender="M",
                 description="Skladatel." * 3, jobs="skladatel",
                 roles="skladatel", wiki_backlinks=50, wiki_hits=50,
                 wiki_ps=1)]
    art = compile_kb(spark, rows, lang="cs")
    df = spark.createDataFrame(
        [("d1", "Karel Novák přijel . Potom on promluvil .")],
        "url string, text string")
    got = {(r.kind, r.text, r.sense)
           for r in extract_mentions(df, art).collect()}
    assert ("coref", "on", 1) in got  # cs pronoun resolved in the UDF


@pytest.mark.parametrize("lang", ["en", "cs"])
def test_local_recognizer_agrees_with_spark_path(spark, kb_rows, pages_rows,
                                                 lang):
    """The CLI front end (LocalRecognizer) and the Spark front end
    (compile_kb → extract_mentions) share one compile and one -d/-r rule:
    with both modes on, upper-cased accented pages give the same
    (start, end, kind, sense) rows through either."""
    from ner_spark.kb.build import compile_kb
    from ner_spark.pipeline.ner import extract_mentions

    pages = [(p["url"], p["text"].upper().replace("E", "É"))
             for p in pages_rows[:20]]
    rec = LocalRecognizer(kb_rows, lowercase=True, deaccent=True, lang=lang)
    want = sorted((url, r["start"], r["end"], r["kind"], r["sense"])
                  for url, text in pages for r in rec.recognize(text))
    art = compile_kb(spark, kb_rows, lowercase=True, deaccent=True,
                     lang=lang)
    df = spark.createDataFrame(pages, "url string, text string")
    got = sorted((r.url, r.start, r.end, r.kind, r.sense)
                 for r in extract_mentions(df, art).collect())
    assert got == want
    assert sum(kind == "kb" for _, _, _, kind, _ in want) > 50
