"""Mention extraction: the hot path of the engine.

Design for 100 TB (SURVEY §4 physical plan): the whole per-document NER —
scan + disambiguation + coreference — is ONE narrow ``mapInPandas`` stage
over the pages table.  The reference has no cross-document state
(ner.py:837-856 resets per doc), so this stage needs **zero shuffles**: one
Arrow batch in, mention rows out, the C kernel reading the broadcast KB
image in place (the bundle and automaton broadcasts are unpickled only for
a document that falls back to Python).  Everything relational (dedup,
co-mention join, canonicalization) happens downstream on the much smaller
mentions/triples tables.

Column pruning matters: we select only (url, text) before the UDF so the
parquet/Iceberg scan never reads the binary ``html`` column (verified by
ReadSchema in tests/test_plans.py).

Sanitization (ner.py:611) runs JVM-side as a ``regexp_replace`` with the
exact reference character class — whole-stage-codegen'd, and tested
byte-identical to the Python ``re`` implementation.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ner_spark.kb.build import KBArtifacts

# Java regex equivalent of textnorm.SANITIZE_RE (ner.py:611).  Control chars
# are spelled with \uXXXX escapes so the pattern survives any plan printing.
_SANITIZE_JAVA = "[;\\u0001-\\u0008\\u000e-\\u001f\\u000c\\u007f]"

MENTION_SCHEMA = (
    "url string, start int, end int, par int, kind string, "
    "text string, sense int, iso string, confidence int"
)
SCAN_SCHEMA = "url string, start int, end int, fragment string, ids array<int>"


def sanitized_pages(pages: DataFrame, url_col: str = "url",
                    text_col: str = "text") -> DataFrame:
    """Project to (url, text) — pruning ``html`` — and sanitize JVM-side.
    Null text becomes "" (real crawl tables contain nulls; the reference
    would never see them — stdin always yields a string)."""
    return pages.select(
        F.col(url_col).cast("string").alias("url"),
        F.regexp_replace(F.coalesce(F.col(text_col), F.lit("")),
                         _SANITIZE_JAVA, " ").alias("text"),
    )


def resolved_docs(urls, texts, image_bc, bundle_bc, atm_bc,
                  lang: str = "en", lowercase: bool = False,
                  deaccent: bool = False, find_names: bool = False,
                  names_strict: bool = False):
    """The one per-document loop, shared by :func:`extract_mentions` and the
    streaming co-mention pairs: yields ``(url, rows)`` per sanitized page,
    rows as ``(start, end, par, kind, text, sense, iso, confidence)``
    tuples.  It runs on executors, so the scan modes come as plain values
    (the artifact's ``scan_config``); see :func:`extract_mentions`.

    ``image_bc``, ``bundle_bc`` and ``atm_bc`` are the artifact's
    broadcasts (anything with a ``.value``).  The C kernel gets only the
    KB image; the bundle and the automaton are read the first time a
    document falls back to Python."""
    from ner_spark.semantics import ckernel
    from ner_spark.semantics.lang import get_lang
    from ner_spark.semantics.recognize import resolve_in_python
    from ner_spark.semantics.textnorm import apply_scan_modes

    lang_mod = get_lang(lang)
    image = (ckernel.wrap_image(image_bc.value)
             if ckernel.covers(lang_mod, find_names) else None)
    for url, text in zip(urls, texts):
        text, scan_text = apply_scan_modes(text, lowercase, deaccent)
        rows = None if image is None else ckernel.scan_resolve(
            image, text, scan_text, lang=lang_mod, as_tuples=True)
        if rows is None:
            rows = resolve_in_python(
                bundle_bc.value, atm_bc.value, text, scan_text,
                find_names=find_names, lang=lang_mod, as_tuples=True,
                names_strict=names_strict)
        yield url, rows


def scan_mentions(pages: DataFrame, artifacts: KBArtifacts,
                  url_col: str = "url", text_col: str = "text",
                  byte_offsets: bool = False) -> DataFrame:
    """Raw gazetteer matches only (stage M2) — no resolution.  Useful for
    debugging and for relational-filter queries; the production path is
    :func:`extract_mentions` which fuses scan+resolve in one pass.  Scans
    the same text as :func:`resolved_docs`: deaccented and/or lowered as
    the artifact was compiled.  ``byte_offsets`` mirrors figa ``-b``
    (figa/src/main.cpp:53,108-110): start/end become offsets into the
    UTF-8 byte stream of that scanned text."""
    src = sanitized_pages(pages, url_col, text_col)
    atm_bc = artifacts.automaton_bc
    lowercase, deaccent = artifacts.lowercase, artifacts.deaccent

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ner_spark.semantics.automaton import byte_offset_matches
        from ner_spark.semantics.textnorm import apply_scan_modes

        atm = atm_bc.value
        for pdf in batches:
            rows = []
            for url, text in zip(pdf["url"], pdf["text"]):
                text, scan_text = apply_scan_modes(text, lowercase, deaccent)
                text = scan_text if scan_text is not None else text
                ms = atm.scan(text)
                if byte_offsets:
                    ms = byte_offset_matches(text, ms)
                for m in ms:
                    rows.append((url, m.start, m.end, m.fragment, list(m.ids)))
            yield pd.DataFrame(
                rows, columns=["url", "start", "end", "fragment", "ids"])

    return src.mapInPandas(fn, schema=SCAN_SCHEMA)


def extract_mentions(pages: DataFrame, artifacts: KBArtifacts,
                     url_col: str = "url", text_col: str = "text",
                     find_names: bool = False,
                     names_strict: bool = False) -> DataFrame:
    """pages → final mention rows (scan + stages b-k fused, zero-shuffle).

    The scan modes come from the artifact, as compiled by ``compile_kb``:
    ``lang`` picks the language rules, and ``lowercase``/``deaccent`` (the
    reference's ``-d``/``-r``) go through ``textnorm.apply_scan_modes``:
    ``-r`` transforms the working text, ``-d`` lowers only the scan input
    (mention sources come from the lowered scan; context slices and the
    printed text stay original-case).  NB ``str.lower()`` can change
    length for rare code points (e.g. U+0130 İ → 2 chars), shifting scan
    offsets against the original text — the reference applies
    lowered-scan offsets to the original string with exactly the same
    caveat (bug-for-bug parity).  ``find_names`` enables unknown-name
    discovery (``-n``, ner.py:696-697)."""
    src = sanitized_pages(pages, url_col, text_col)
    broadcasts = (artifacts.image_bc, artifacts.bundle_bc,
                  artifacts.automaton_bc)
    scan = artifacts.scan_config

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["url", "start", "end", "par", "kind", "text",
                "sense", "iso", "confidence"]
        for pdf in batches:
            rows = [(url,) + r
                    for url, doc in resolved_docs(
                        pdf["url"], pdf["text"], *broadcasts,
                        find_names=find_names, names_strict=names_strict,
                        **scan)
                    for r in doc]
            yield pd.DataFrame(rows, columns=cols)

    return src.mapInPandas(fn, schema=MENTION_SCHEMA)
