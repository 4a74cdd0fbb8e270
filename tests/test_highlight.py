"""HTML highlight renderer parity (textops/highlight.py).

The reference's name_recognizer/highlight_names.py is pure-stdlib
Python and imports cleanly, so parity is checked DIRECTLY against it:
same text + figa rows → byte-identical HTML.  (One reference corner is
inherently nondeterministic — partials are iterated from a set(), so a
collision between one partial's start and another's end resolves by
hash order; fixtures avoid that collision.)
"""

import os
import sys

import pytest

from ner_spark.textops.highlight import (decode_ncr, parse_figa_row,
                                         render_html_highlights)

REF = "/root/reference"


@pytest.fixture(scope="module")
def ref_highlight():
    if not os.path.isdir(os.path.join(REF, "name_recognizer")):
        pytest.skip("reference tree not present")
    sys.path.insert(0, REF)
    try:
        from name_recognizer.data_row import DataRow
        from name_recognizer.highlight_names import highlight_names
    finally:
        sys.path.remove(REF)

    def run(text, rows):
        drs = [DataRow("{}\t{}\t{}\t{}".format(*r)) for r in rows]
        return highlight_names(text, drs)

    return run


CASES = [
    # basic person (red, type 1) + geo (green, type 0) + partial purple
    ("I saw New York and Praha ; later York again .",
     [(1, 7, 14, "New York"), (0, 20, 24, "Praha")]),
    # more regex matches than figa rows → degrade to blue (-1)
    ("Echo Echo Echo", [(1, 1, 4, "Echo")]),
    # duplicate rows bump the expected count → type survives
    ("Echo Echo", [(1, 1, 4, "Echo"), (1, 6, 9, "Echo")]),
    # types 7 / 8 spans, and a type-2 name whose boundary chars drop
    ("ab cd ef", [(7, 1, 2, "ab"), (8, 4, 5, "cd"), (3, 7, 8, "ef")]),
    # newline → <br /> rewriting (including the html scaffold's own)
    ("line one\nJan Novak\nline three", [(1, 10, 18, "Jan Novak")]),
    # multi-word name: parts re-highlight purple elsewhere
    ("Antonín Dvořák composed ; Dvořák died .",
     [(1, 1, 14, "Antonín Dvořák")]),
]


@pytest.mark.parametrize("text,rows", CASES)
def test_parity_with_reference(ref_highlight, text, rows):
    assert render_html_highlights(text, rows) == ref_highlight(text, rows)


def test_parse_figa_row_and_ncr():
    assert parse_figa_row("1;3\t7\t14\tNew York") == (1, 7, 14, "New York")
    assert parse_figa_row("bad line") is None
    assert parse_figa_row("1\t\t14\tx") is None
    assert decode_ncr("&#xc599;a") == "řa"


def test_regex_metachar_fragments_survive():
    """Gazetteer surfaces with unbalanced regex metachars ("*NSYNC",
    "Apple (Inc") must not raise re.error — in highlight_pages that
    would kill the whole Spark task.  Valid-regex surfaces keep the
    reference's unescaped over-match quirk; only the would-crash case
    degrades to the escaped literal."""
    text = "I love *NSYNC and Apple (Inc"
    html = render_html_highlights(text, [
        (1, 8, 13, "*NSYNC"), (1, 19, 28, "Apple (Inc")])
    assert '<span style="color: red;" >*NSYNC</span>' in html
    assert "Apple (Inc" in html


def test_highlight_pages_distributed(spark, artifacts, pages_rows):
    from ner_spark.textops.highlight import highlight_pages

    pages = spark.createDataFrame(
        [(r["url"], r["text"]) for r in pages_rows[:8]], "url string, text string")
    out = highlight_pages(pages, artifacts).collect()
    assert len(out) == 8
    assert all(r.html.startswith("<html>") for r in out)
    assert any("<span" in r.html for r in out)
    # no shuffle: single narrow stage, Arrow batches (no pandas) in and out
    plan = highlight_pages(pages, artifacts)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan
    assert "MapInArrow" in plan and "MapInPandas" not in plan


def test_highlight_pages_scans_with_the_artifact_modes(spark, kb_rows):
    """A -d (lowercase) artifact's keys are lowered, so the scan must read
    the lowered text, as scan_mentions and extract_mentions do; the HTML
    keeps the page's case."""
    from ner_spark.kb.build import compile_kb
    from ner_spark.pipeline.ner import extract_mentions, scan_mentions
    from ner_spark.textops.highlight import highlight_pages

    art = compile_kb(spark, kb_rows, lowercase=True)
    pages = spark.createDataFrame(
        [("u1", "Yesterday Marie Krause arrived.")], "url string, text string")
    assert scan_mentions(pages, art).count() == 1
    assert extract_mentions(pages, art).count() == 1
    html = highlight_pages(pages, art).collect()[0].html
    assert '<span style="color: red;" >Marie Krause</span>' in html


def test_highlight_pages_names_its_url_column(spark, artifacts):
    """The output url column is named ``url_col``, whatever the input
    column was called."""
    from ner_spark.textops.highlight import highlight_pages

    pages = spark.createDataFrame(
        [("p1", "Yesterday Marie Krause arrived.")],
        "page string, body string")
    out = highlight_pages(pages, artifacts, url_col="page", text_col="body")
    assert out.columns == ["page", "html"]
    row = out.collect()[0]
    assert row.page == "p1" and "<span" in row.html
