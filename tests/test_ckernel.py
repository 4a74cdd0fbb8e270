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
from ner_spark.semantics.recognize import resolve_in_python, scan_and_resolve
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


def test_trie_scan_matches_automaton_scan(env):
    """The kernel walks the automaton as a word-id trie in the KB image:
    keys with irregular gaps (double space, tab) never match, a key that
    is only a prefix of another does, longest match wins, punctuation
    attaches with an empty separator, id lists may be empty or hold 0."""
    bundle, _, lang, _ = env
    atm = GazetteerAutomaton.build([
        ("Marie Krause", [1]), ("Marie Krause Jr.", [2, 0]),
        ("Hugo  Wagner", [2]), ("Hugo\tWagner", [2]), ("Hugo", [0]),
        ("Greta Svoboda-Fischer", [3]), ("U.S.", [4]), ("Emil", ()),
        ("http://x.org/a", [5]), ("Alice Peters", [6, 6, 0]),
    ])
    docs = [
        "Marie Krause met Marie Krause Jr. and Hugo Wagner, Hugo  Wagner.",
        "Hugo\tWagner and Greta Svoboda-Fischer in the U.S. with Emil.",
        "see http://x.org/a and Alice Peters.\nMarie\nKrause Marie",
        "Marie Krause Jr Marie Krause Jr. Greta Svoboda -Fischer U.S",
    ]
    for text in docs:
        py = resolve_in_python(bundle, atm, text, lang=lang, as_tuples=True)
        ck = ckernel.try_scan_resolve(bundle, atm, text, lang=lang,
                                      as_tuples=True)
        assert ck == py, text


def test_pickled_bundle_size_unchanged_by_kernel_call(env):
    """Only the bundle's source state rides a pickle: the derived caches
    a kernel call (and the image build) fill stay in the process."""
    import pickle

    bundle, atm, lang, kb_rows = env
    fresh = pickle.loads(pickle.dumps(bundle))
    before = len(pickle.dumps(fresh))
    text = gen_pages(kb_rows, n_pages=1, seed=5)[0]["text"]
    assert scan_and_resolve(fresh, atm, text, lang=lang, as_tuples=True)
    assert fresh.__dict__.get("_ck_image") and fresh._type_arr
    assert len(pickle.dumps(fresh)) == before


def _section(image, name):
    """(offset, nbytes) of a named section of a KB image."""
    import struct

    i = [n for n, _ in ckernel._SECTIONS].index(name)
    return struct.unpack_from("<QQ", image, 16 + 16 * i)


def test_bad_image_raises_value_error(env):
    """A truncated, corrupted or old-version image fails when it is
    wrapped, with ValueError, before the kernel reads any of it."""
    import struct

    bundle, atm, lang, _ = env
    image = ckernel.kb_image(bundle, atm)
    ck = ckernel._load()
    assert ck.IMAGE_VERSION == ckernel.IMAGE_VERSION
    # the intact image wraps, also from a misaligned buffer (copied once)
    text = "Marie Krause met Hugo Wagner. He was here."
    rows = ckernel.scan_resolve(ck.wrap_image(image), text, lang=lang)
    shifted = memoryview(b"x" + image)[1:]
    assert ckernel.scan_resolve(ck.wrap_image(shifted), text,
                                lang=lang) == rows and rows

    def bad(mutate):
        b = bytearray(image)
        mutate(b)
        return bytes(b)

    name_off, _ = _section(image, "name_sid")
    slots_off, _ = _section(image, "w_slots")
    next_off, _ = _section(image, "t_next")
    cases = {
        "truncated header": image[:40],
        "truncated sections": image[:len(image) // 2],
        "one byte short": image[:-1],
        "magic": bad(lambda b: b.__setitem__(slice(0, 8), b"NOTANIMG")),
        "old version": bad(lambda b: struct.pack_into(
            "<I", b, 8, ckernel.IMAGE_VERSION - 1)),
        "section count": bad(lambda b: struct.pack_into("<I", b, 12, 3)),
        "section offset": bad(lambda b: struct.pack_into(
            "<Q", b, 16 + 16 * 4, len(image) + 8)),
        "misaligned section": bad(lambda b: struct.pack_into(
            "<Q", b, 16 + 16 * 4, name_off + 4)),
        "string id": bad(lambda b: struct.pack_into(
            "<i", b, name_off + 4, 1 << 30)),
        "hash slot": bad(lambda b: struct.pack_into(
            "<i", b, slots_off, 1 << 30)),
        "trie state": bad(lambda b: struct.pack_into(
            "<i", b, next_off, 1 << 30)),
    }
    for case, img in cases.items():
        with pytest.raises(ValueError, match="bad KB image"):
            ck.wrap_image(img)
        assert img != image, case


def test_corrupted_image_never_crashes(env):
    """Seeded byte flips anywhere in the image: each wrap either raises
    ValueError or yields an image the kernel scans without crashing
    (rows or Fallback).  Run under ASan/UBSan by test_sanitizers.py."""
    bundle, atm, lang, kb_rows = env
    image = ckernel.kb_image(bundle, atm)
    ck = ckernel._load()
    text = gen_pages(kb_rows, n_pages=1, seed=3)[0]["text"]
    head = 16 + 16 * len(ckernel._SECTIONS)
    rng = random.Random(9)
    n_ok = 0
    for _ in range(300):
        b = bytearray(image)
        for _ in range(rng.randint(1, 4)):
            # the header and table half the time, the sections otherwise
            pos = rng.randrange(head if rng.random() < 0.5 else len(b))
            b[pos] ^= 1 << rng.randrange(8)
        try:
            handle = ck.wrap_image(bytes(b))
        except ValueError:
            continue
        n_ok += 1
        ckernel.scan_resolve(handle, text, lang=lang, as_tuples=True)
    assert n_ok > 0


def test_extraction_reads_only_the_image(env, monkeypatch):
    """resolved_docs hands the kernel only the KB image: when the kernel
    covers every document, the bundle and automaton broadcasts are never
    read; when a document falls back they are, and the rows equal the
    pure-Python path's."""
    from ner_spark.pipeline.ner import resolved_docs

    bundle, atm, lang, kb_rows = env

    class Value:
        def __init__(self, value):
            self._value = value

        @property
        def value(self):
            if isinstance(self._value, Exception):
                raise self._value
            return self._value

    pages = gen_pages(kb_rows, n_pages=20, seed=13)
    urls = [p["url"] for p in pages]
    texts = [p["text"] for p in pages]
    image = Value(ckernel.kb_image(bundle, atm))
    unread = Value(AssertionError("broadcast read on the C path"))
    got = list(resolved_docs(urls, texts, image, unread, unread))

    ckernel.FORCE_DISABLE = True
    try:
        want = list(resolved_docs(urls, texts, unread, Value(bundle),
                                  Value(atm)))
    finally:
        ckernel.FORCE_DISABLE = False
    assert got == want and sum(len(r) for _, r in got) > 50

    # one document falls back: the broadcasts load, rows still equal
    real = ckernel.scan_resolve
    monkeypatch.setattr(ckernel, "scan_resolve", lambda img, text, *a, **k: (
        None if text == texts[3] else real(img, text, *a, **k)))
    with pytest.raises(AssertionError, match="broadcast read"):
        list(resolved_docs(urls, texts, image, unread, unread))
    assert list(resolved_docs(urls, texts, image, Value(bundle),
                              Value(atm))) == want
