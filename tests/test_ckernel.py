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


def both(bundle, atm, lang, text, as_tuples=True):
    """(python, C-fused) — callers assert equal.  The fused call must not
    fall back: a ``None`` from try_scan_resolve would compare Python with
    itself."""
    matches = [(m.ids, m.start, m.end, m.fragment) for m in atm.scan(text)]
    py = resolve_document(text, matches, bundle, lang=lang,
                          as_tuples=as_tuples)
    assert ckernel.try_scan_resolve(
        bundle, atm, text, lang=lang, as_tuples=as_tuples) is not None, \
        "kernel fell back"
    ck = scan_and_resolve(bundle, atm, text, lang=lang, as_tuples=as_tuples)
    return py, ck


def test_fixture_corpus_parity(env):
    bundle, atm, lang, kb_rows = env
    for page in gen_pages(kb_rows, n_pages=120, seed=7):
        py, ck = both(bundle, atm, lang, page["text"])
        assert py == ck
    # long docs: 40 pages joined, hundreds of entity and proper-noun spans
    # each, so the kernel's sentence index and overlap filter meet the
    # scalar Python rules at scale
    pages = [p["text"] for p in gen_pages(kb_rows, n_pages=320, seed=8)]
    for i in range(8):
        text = "\n\n".join(pages[i * 40:(i + 1) * 40])
        assert len(atm.scan(text)) > 384
        py, ck = both(bundle, atm, lang, text)
        assert py == ck, f"long doc {i}"


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
        py, ck = both(bundle, atm, lang, text)
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
    # the configuration alone decides: the kernel declines no document
    assert not hasattr(ckernel._load(), "Fallback")


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
    a kernel call (and the image build) fill stay in the process, and
    neither pickling nor equality sees them."""
    import dataclasses
    import pickle

    bundle, atm, lang, kb_rows = env
    fresh = pickle.loads(pickle.dumps(bundle))
    before = len(pickle.dumps(fresh))
    text = gen_pages(kb_rows, n_pages=1, seed=5)[0]["text"]
    assert scan_and_resolve(fresh, atm, text, lang=lang, as_tuples=True)
    assert fresh.__dict__.get("_ck_image") and "type_arr" in fresh.__dict__
    assert len(pickle.dumps(fresh)) == before
    assert pickle.loads(pickle.dumps(fresh)) == fresh
    assert [f.name for f in dataclasses.fields(KBBundle)] == [
        "cols", "name_dict", "nationality_forms"]


def _section(image, name):
    """(offset, nbytes) of a named section of a KB image."""
    import struct

    i = [n for n, _ in ckernel._SECTIONS].index(name)
    return struct.unpack_from("<QQ", image, 16 + 16 * i)


def test_bad_image_raises_value_error(env):
    """A truncated, corrupted or old-version image, one whose tables hold
    a key, a trie step or a final state twice, or one with a row id out
    of range fails when it is wrapped, with ValueError, before the kernel
    reads any of it."""
    import struct

    bundle, atm, lang, _ = env
    image = ckernel.kb_image(bundle, atm)
    ck = ckernel._load()
    assert ck.IMAGE_VERSION == ckernel.IMAGE_VERSION
    # the intact image wraps, also from a misaligned buffer (copied once)
    text = "Marie Krause met Hugo Wagner. He was here."
    rows = ckernel.scan_resolve(ck.wrap_image(image), text)
    shifted = memoryview(b"x" + image)[1:]
    assert ckernel.scan_resolve(ck.wrap_image(shifted), text) == rows and rows

    def bad(mutate):
        b = bytearray(image)
        mutate(b)
        return bytes(b)

    name_off, _ = _section(image, "name_sid")
    wkey_off, _ = _section(image, "w_key")
    keys_off, keys_len = _section(image, "t_keys")
    final_off, _ = _section(image, "term_state")
    kind_off, _ = _section(image, "ctx_kind")
    tid_off, _ = _section(image, "term_ids")
    nd_off, _ = _section(image, "nd_ids")
    n_states = keys_len // 8 + 1  # the root, and one state per step
    n = bundle.n_rows()
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
        "duplicate word": bad(lambda b: b.__setitem__(
            slice(wkey_off + 4, wkey_off + 8), b[wkey_off:wkey_off + 4])),
        "trie state": bad(lambda b: struct.pack_into(
            "<Q", b, keys_off, n_states << 32)),
        "duplicate trie step": bad(lambda b: b.__setitem__(
            slice(keys_off + 8, keys_off + 16), b[keys_off:keys_off + 8])),
        "final state": bad(lambda b: struct.pack_into(
            "<i", b, final_off, n_states)),
        "duplicate final state": bad(lambda b: b.__setitem__(
            slice(final_off + 4, final_off + 8), b[final_off:final_off + 4])),
        "ctx kind": bad(lambda b: b.__setitem__(kind_off + 1, 4)),
        "term id": bad(lambda b: struct.pack_into("<q", b, tid_off, n + 1)),
        "subname id 0": bad(lambda b: struct.pack_into("<q", b, nd_off, 0)),
        "subname id": bad(lambda b: struct.pack_into(
            "<q", b, nd_off, n + 1)),
    }
    for case, img in cases.items():
        with pytest.raises(ValueError, match="bad KB image"):
            ck.wrap_image(img)
        assert img != image, case


def test_missing_kernel_raises_unless_disabled(monkeypatch, tmp_path):
    """A kernel that fails to build is an error that names the switch, not
    a silent Python path; only NER_SPARK_CKERNEL=0 selects pure Python."""
    def fail(so):
        raise OSError("no compiler")

    monkeypatch.setattr(ckernel, "_compile", fail)
    monkeypatch.setattr(ckernel, "_ck", None)
    monkeypatch.setattr(ckernel, "_load_attempted", False)
    monkeypatch.setenv("NER_SPARK_CKERNEL_DIR", str(tmp_path))
    monkeypatch.delenv("NER_SPARK_CKERNEL", raising=False)
    with pytest.raises(ImportError, match="NER_SPARK_CKERNEL=0"):
        ckernel._load()
    monkeypatch.setenv("NER_SPARK_CKERNEL", "0")
    assert ckernel._load() is None


def test_corrupted_image_never_crashes(env):
    """Seeded byte flips in the image: each wrap either raises ValueError
    or yields an image the kernel scans without crashing into a list of
    rows.  A third of the flips hit the header and section table, a
    third the row ids and trie steps the stages read unchecked once the
    image is wrapped (``term_ids``, ``nd_ids``, ``t_keys``), a third
    anywhere.  Run under ASan/UBSan by test_sanitizers.py."""
    bundle, atm, lang, kb_rows = env
    image = ckernel.kb_image(bundle, atm)
    ck = ckernel._load()
    text = gen_pages(kb_rows, n_pages=1, seed=3)[0]["text"]
    head = 16 + 16 * len(ckernel._SECTIONS)
    trusted = [_section(image, s) for s in ("term_ids", "nd_ids", "t_keys")]
    rng = random.Random(9)
    n_ok = n_ok_trusted = 0
    for _ in range(300):
        b = bytearray(image)
        hit_trusted = False
        for _ in range(rng.randint(1, 4)):
            r = rng.random()
            if r < 1 / 3:
                pos = rng.randrange(head)
            elif r < 2 / 3:
                off, nbytes = rng.choice(trusted)
                pos = off + rng.randrange(nbytes)
                hit_trusted = True
            else:
                pos = rng.randrange(len(b))
            b[pos] ^= 1 << rng.randrange(8)
        try:
            handle = ck.wrap_image(bytes(b))
        except ValueError:
            continue
        n_ok += 1
        n_ok_trusted += hit_trusted
        assert isinstance(ckernel.scan_resolve(handle, text, as_tuples=True),
                          list)
    assert n_ok > 0 and n_ok_trusted > 0


def test_extraction_reads_only_the_image(env, monkeypatch):
    """resolved_docs reads one broadcast, the KB image: on the kernel's
    path no bundle is decoded; on the pure-Python path the bundle and the
    automaton are decoded from the image, and the rows equal the
    kernel's and those of the pure-Python path on the compiled bundle."""
    from types import SimpleNamespace

    from ner_spark.pipeline.ner import resolved_docs

    bundle, atm, lang, kb_rows = env
    pages = gen_pages(kb_rows, n_pages=20, seed=13)
    urls = [p["url"] for p in pages]
    texts = [p["text"] for p in pages]
    image = SimpleNamespace(value=ckernel.kb_image(bundle, atm))
    decoded = []
    decode = ckernel.image_bundle
    monkeypatch.setattr(ckernel, "image_bundle",
                        lambda img: decoded.append(img) or decode(img))
    got = list(resolved_docs(urls, texts, image))
    assert decoded == []

    ckernel.FORCE_DISABLE = True
    try:
        want = list(resolved_docs(urls, texts, image))
    finally:
        ckernel.FORCE_DISABLE = False
    assert len(decoded) == len(texts)
    assert got == want and sum(len(r) for _, r in got) > 50
    assert [r for _, r in want] == [
        resolve_in_python(bundle, atm, t, lang=lang, as_tuples=True)
        for t in texts]


def test_qid_image_refused_at_wrap(env):
    """A ``qid_mode`` compile (automaton values are Q-id numbers, not KB
    rows: an export form) compiles and serializes, but its image fails
    the wrap's row-id check, so extraction over it raises ValueError
    before the first document, also for a configuration the kernel does
    not cover (cs, ``find_names``), instead of a Python path that indexes
    the KB with a Q-id (IndexError)."""
    from types import SimpleNamespace

    from ner_spark.kb.build import compile_gazetteer
    from ner_spark.pipeline.ner import resolved_docs

    _, _, lang, kb_rows = env
    rows = [dict(r, qid=f"Q{1000 + r['id']}") for r in kb_rows]
    bundle, atm = compile_gazetteer(rows, qid_mode=True)
    image = ckernel.kb_image(bundle, atm)
    with pytest.raises(ValueError, match="bad KB image"):
        ckernel._load().wrap_image(image)
    text = gen_pages(kb_rows, n_pages=1, seed=13)[0]["text"]
    for kw in ({}, {"lang": "cs"}, {"find_names": True}):
        texts = iter([text])
        with pytest.raises(ValueError, match="bad KB image"):
            list(resolved_docs(["u"], texts, SimpleNamespace(value=image),
                               **kw))
        assert next(texts, None) == text  # no document was read
    with pytest.raises(ValueError, match="bad KB image"):
        ckernel.try_scan_resolve(bundle, atm, text, lang=lang)
