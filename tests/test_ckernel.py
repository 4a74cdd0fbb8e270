"""Differential parity gate for the compiled scan+resolve kernel.

The fused C kernel (semantics/_resolve_kernel.cpp ``scan_resolve_doc`` via
ckernel.try_scan_resolve, reached through recognize.scan_and_resolve) must
be bug-for-bug identical to the pure-Python ``atm.scan`` + resolve_document
on its covered surface (mode="default", lang="en", find_names=False) —
every row, every field, both output forms.  These tests drive both paths
over the fixture corpora, a hand-built adversarial set, and a seeded random
fuzz mix, and compare outputs exactly.  A parity break here is a release
blocker: the Spark production pipeline dispatches to the kernel
unconditionally.
"""

from __future__ import annotations

import random
import shutil

import pytest

from ner_spark.fixtures.gen import gen_kb_rows, gen_pages
from ner_spark.semantics import ckernel
from ner_spark.semantics.automaton import GazetteerAutomaton
from ner_spark.semantics.kb import KBBundle, build_namelist
from ner_spark.semantics.lang import get_lang
from ner_spark.semantics.recognize import scan_and_resolve
from ner_spark.semantics.resolve import resolve_document

pytestmark = pytest.mark.skipif(
    shutil.which("g++") is None, reason="no C++ toolchain")


@pytest.fixture(scope="module")
def env():
    kb_rows = gen_kb_rows()
    bundle = KBBundle.from_rows(kb_rows)
    lang = get_lang("en")
    namelist = build_namelist(bundle, lang=lang)
    atm = GazetteerAutomaton.build(namelist.items())
    assert ckernel.available(), "kernel must build where g++ exists"
    return bundle, atm, lang, kb_rows


def both(bundle, atm, lang, text, as_tuples=True, split_interval=True):
    """(python, C-fused) — callers assert equal.  The fused call must not
    fall back: a ``None`` from try_scan_resolve would compare Python with
    itself."""
    matches = [(m.ids, m.start, m.end, m.fragment) for m in atm.scan(text)]
    py = resolve_document(text, matches, bundle, lang=lang,
                          as_tuples=as_tuples, split_interval=split_interval)
    assert ckernel.try_scan_resolve(
        bundle, atm, text, lang=lang, as_tuples=as_tuples,
        split_interval=split_interval) is not None, "kernel fell back"
    ck = scan_and_resolve(bundle, atm, text, lang=lang, as_tuples=as_tuples,
                          split_interval=split_interval)
    return py, ck


def test_fixture_corpus_parity(env):
    bundle, atm, lang, kb_rows = env
    for page in gen_pages(kb_rows, n_pages=120, seed=7):
        py, ck = both(bundle, atm, lang, page["text"])
        assert py == ck


def test_dense_corpus_parity_both_forms(env):
    bundle, atm, lang, kb_rows = env
    surfaces = [r["name"] for r in kb_rows if r.get("name")]
    rng = random.Random(3)
    for _ in range(30):
        parts = []
        for _ in range(120):
            parts.append(rng.choice(surfaces))
            parts.append(rng.choice(["filler", "and", "He", "she", "there"]))
        text = " ".join(parts)
        for as_tuples in (True, False):
            py, ck = both(bundle, atm, lang, text, as_tuples=as_tuples)
            assert py == ck


ADVERSARIAL = [
    "",
    "no mentions here at all",
    "Born 12. 11. 1694 and died 1750-03-02, between 1693-1734 overall.",
    "{NAME} was a singer and {NAME}'s brother went into {GEO}.",
    "The {GEO} is big. {NAME} (who was born 1850) is here. He said so.",
    "{NAME} &#x159; and &#x13E; mojibake fragment",
    "{NAME}\n\n{NAME2} in a new paragraph.\r\n\r\nAnd {GEO} after CRLF.",
    "{NAME} {NAME2} adjacent.  {NAME}  {NAME2} double space gap.",
    "She met {NAME2}. Her friend met {NAME}. Who was there?",
    "{NAT} people visited {GEO} on lis. 12, 2007 with {NAME}.",
    "( parens ( nested ) {NAME} was a writer . ) after",
    "the {NAME} with lowercase-the prefix and The {GEO} capital The",
    "Ünïcödé ąccents {NAME} Ž Ř ß text around {GEO}",
    "1999-12-28 -- only a date",
    "There is a place. {NAME} lives there. He is here.",
    "{NAME} was a   singer   {NAME2} is a  writer from {GEO}",
]


def test_adversarial_docs_parity(env):
    bundle, atm, lang, kb_rows = env
    names = [r["name"] for r in kb_rows if "person" in (r.get("type") or "")]
    geos = [r["name"] for r in kb_rows
            if "geographical" in (r.get("type") or "")]
    nats = sorted(bundle.nationality_forms) or ["X"]
    for i, tmpl in enumerate(ADVERSARIAL):
        text = (tmpl.replace("{NAME2}", names[(i + 1) % len(names)])
                    .replace("{NAME}", names[i % len(names)])
                    .replace("{GEO}", geos[i % len(geos)])
                    .replace("{NAT}", nats[i % len(nats)]))
        for split in (True, False):
            py, ck = both(bundle, atm, lang, text, split_interval=split)
            assert py == ck, f"adversarial doc {i}: {text[:60]!r}"


def test_random_fuzz_parity(env):
    """Seeded fuzz: random mixes of KB surfaces, pronouns, dates, unicode
    filler, punctuation, and paragraph breaks through both paths."""
    bundle, atm, lang, kb_rows = env
    surfaces = [r["name"] for r in kb_rows if r.get("name")]
    aliases = [a for r in kb_rows
               for a in (r.get("aliases") or "").split("|") if a]
    pieces = (surfaces + aliases
              + ["he", "She", "his", "her", "who", "There", "there",
                 "was", "is", "were", "a", "singer", "writer", "the",
                 "filler", "wörd", "Ünit", "&#x159;", "12. 11. 1694",
                 "1693-1734", "lis. 12, 2007", "2010", ".", ",", "(", ")",
                 "'s", "-", "\n\n", "\r\n\r\n", "  ", "'"])
    rng = random.Random(20260818)
    for doc_i in range(250):
        n = rng.randint(0, 60)
        text = " ".join(rng.choice(pieces) for _ in range(n))
        py, ck = both(bundle, atm, lang, text)
        assert py == ck, f"fuzz doc {doc_i}: {text[:80]!r}"


def test_uncovered_surfaces_fall_through(env):
    bundle, atm, lang, _ = env
    # non-EN language and -n/-a/-s modes must return None from the kernel
    cs = get_lang("cs")
    assert ckernel.try_scan_resolve(
        bundle, atm, "text", lang=cs, as_tuples=True) is None
    assert ckernel.try_scan_resolve(
        bundle, atm, "text", find_names=True, lang=lang,
        as_tuples=True) is None
    assert ckernel.try_scan_resolve(
        bundle, atm, "text", mode="all", lang=lang) is None
    assert ckernel.try_scan_resolve(
        bundle, atm, "text", lang=lang, as_tuples=True) is not None


def test_force_disable_roundtrip(env):
    bundle, atm, lang, kb_rows = env
    text = gen_pages(kb_rows, n_pages=1, seed=11)[0]["text"]
    r1 = scan_and_resolve(bundle, atm, text, lang=lang, as_tuples=True)
    ckernel.FORCE_DISABLE = True
    try:
        assert ckernel.try_scan_resolve(
            bundle, atm, text, lang=lang, as_tuples=True) is None
        r2 = scan_and_resolve(bundle, atm, text, lang=lang, as_tuples=True)
    finally:
        ckernel.FORCE_DISABLE = False
    assert r1 == r2 and r1
