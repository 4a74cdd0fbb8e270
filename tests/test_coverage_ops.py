"""Coverage operators: KB.tsv round-trip (S3/S4), autocomplete (O4),
lowercase/deaccent automaton variants (F2/F12), word frequency (A13),
daemon protocol (S2), unknown-name discovery (-n)."""

import io

import pytest

from ner_spark.io.kbtsv import read_kb_tsv, write_kb_tsv
from ner_spark.semantics.automaton import GazetteerAutomaton
from ner_spark.semantics.kb import KBBundle, build_namelist
from ner_spark.semantics.recognize import recognize
from ner_spark.streaming.daemon import iter_daemon_documents
from ner_spark.textops.analysis import word_frequency


# -- KB.tsv ----------------------------------------------------------------

def test_kb_tsv_roundtrip(kb_rows):
    buf = io.StringIO()
    write_kb_tsv(kb_rows, buf, version=3)
    buf.seek(0)
    version, head_kb, rows = read_kb_tsv(buf)
    assert version == 3
    assert list(head_kb) == ["generic"]
    assert head_kb["generic"]["TYPE"] == 1 and head_kb["generic"]["NAME"] == 2
    assert len(rows) == len(kb_rows)
    by_id = {r["id"]: r for r in rows}
    for orig in kb_rows:
        got = by_id[orig["id"]]
        assert got["name"] == str(orig["name"])
        assert got["type"] == str(orig["type"])
    # scores computed from the round-tripped rows match the originals
    b1, b2 = KBBundle.from_rows(kb_rows), KBBundle.from_rows(rows)
    assert b1.cols["confidence"] == b2.cols["confidence"]


def test_kb_tsv_rejects_garbage():
    with pytest.raises(ValueError, match="not a KB.tsv"):
        read_kb_tsv(io.StringIO("no version line\n"))


def test_kb_tsv_wikidata_qids_roundtrip(kb_rows):
    """Q-keyed KB.tsv (Wikidata IDs in the ID column): internal ids are the
    1-based data-line numbers; the Q-id round-trips via ``qid``."""
    qrows = [dict(r, qid=f"Q{100 + r['id']}") for r in kb_rows]
    buf = io.StringIO()
    write_kb_tsv(qrows, buf)
    buf.seek(0)
    assert "\nQ101\t" in buf.getvalue()  # the ID cell carries the Q-id
    version, _, rows = read_kb_tsv(buf)
    assert [r["id"] for r in rows] == list(range(1, len(kb_rows) + 1))
    assert [r["qid"] for r in rows] == [f"Q{100 + i}"
                                        for i in range(1, len(kb_rows) + 1)]
    assert rows[0]["name"] == str(kb_rows[0]["name"])


def test_compile_kb_qid_mode(spark, kb_rows):
    """-Q (KB2namelist.py:1027-1030): automaton values are the stripped
    Q-id numbers; rows without a qid keep the line number; the fragment
    marker 0 is untouched; default mode is unchanged by the qid field."""
    from ner_spark.kb.build import compile_kb

    qrows = [dict(r, qid=f"Q{1000 + r['id']}") for r in kb_rows]
    del qrows[2]["qid"]  # a non-Q ID passes through unchanged
    art = compile_kb(spark, qrows, qid_mode=True)
    base = compile_kb(spark, kb_rows)
    # same key set, values remapped line→qid (line 3 kept as-is)
    art_keys = dict(art.automaton.iter_keys())
    base_keys = dict(base.automaton.iter_keys())
    assert art.automaton.n_keys == base.automaton.n_keys
    assert set(art_keys) == set(base_keys)
    for key, ids in base_keys.items():
        got = art_keys[key]
        want: list[int] = []
        for i in ids:
            v = i if i in (0, 3) else 1000 + i
            if v not in want:
                want.append(v)
        assert list(got) == want, key


# -- autocomplete ----------------------------------------------------------

def test_per_type_autocomplete_automata(kb_rows):
    """p/l/x autocomplete automata (create_cedar.sh:521-546): NONACCENT
    keys (lowercase + deaccent), per-class link filtering, fragments and
    pronouns absent, x = union of every class."""
    from ner_spark.kb.build import compile_autocomplete
    from ner_spark.semantics.kb import KBBundle
    from ner_spark.semantics.textnorm import remove_accent

    atms = compile_autocomplete(kb_rows)
    assert set(atms) == {"p", "l", "x"}
    keys = {cls: dict(atm.iter_keys()) for cls, atm in atms.items()}
    kb = KBBundle.from_rows(kb_rows)
    # every key is its own NONACCENT form; no fragment marker anywhere
    for cls, atm in atms.items():
        assert atm.n_keys > 0
        for key, ids in keys[cls].items():
            assert key == remove_accent(key.lower()), (cls, key)
            assert 0 not in ids, (cls, key)
    # class filtering: p links are all persons, l all geographical
    for key, ids in keys["p"].items():
        assert all("person" in kb.get_ent_type(i) for i in ids), key
    for key, ids in keys["l"].items():
        assert all("geographical" in kb.get_ent_type(i) for i in ids), key
    # x carries every class: each p/l entry's ids are a subset of x's
    for cls in ("p", "l"):
        for key, ids in keys[cls].items():
            assert set(ids) <= set(keys["x"][key]), (cls, key)
    # the walk works: a person surname prefix suggests person entries only
    some_person = next(k for k in keys["p"] if " " in k)
    prefix = some_person[: len(some_person) // 2]
    hits = atms["p"].autocomplete(prefix, 5)
    assert hits and all(k.startswith(prefix) for k, _ in hits)


# -- single-automaton autocomplete ------------------------------------------

def test_autocomplete_byte_order_and_limit():
    atm = GazetteerAutomaton.build([
        ("New York", (1,)), ("New Orleans", (2,)), ("New Delhi", (3,)),
        ("Newark", (4,)), ("Old Town", (5,)), ("New", (6,)),
    ])
    got = atm.autocomplete("New", m=3)
    # byte order: ' ' (0x20) < 'a' (0x61) → multiword keys first
    assert [k for k, _ in got] == ["New Delhi", "New Orleans", "New York"]
    got_all = atm.autocomplete("New", m=10)
    assert [k for k, _ in got_all] == [
        "New Delhi", "New Orleans", "New York", "Newark"]
    assert got_all[0][1] == (3,)
    assert atm.autocomplete("Zzz") == []


# -- lowercase/deaccent variants ------------------------------------------

@pytest.fixture(scope="module")
def variant_rows():
    return [
        dict(id=1, type="person", name="Antonín Dvořák", gender="M",
             description="Czech composer." * 3, jobs="composer",
             roles="composer", wiki_backlinks=100, wiki_hits=100, wiki_ps=1),
        dict(id=2, type="geographical", name="Washington",
             country="United States", description="City.",
             wiki_backlinks=10, wiki_hits=10, wiki_ps=1),
    ]


def test_lowercase_variant(spark, variant_rows):
    from ner_spark.kb.build import compile_kb

    art = compile_kb(spark, variant_rows, lowercase=True,
                     add_pronouns=False, add_subname_fragments=False)
    out = recognize(art.bundle, art.automaton,
                    "we saw WASHINGTON yesterday .", lowercase=True)
    # scan happens on the lowered copy, but the printed text is the
    # ORIGINAL-case slice (ner.py:473-476: figa reads .lower(), the Entity
    # keeps input_string)
    assert [(r["text"], r["sense"]) for r in out] == [("WASHINGTON", 2)]


def test_scan_mentions_applies_artifact_scan_modes(spark, variant_rows):
    """scan_mentions scans the text resolved_docs scans: lowered for a
    lowercase artifact (whose keys are all lower-case), deaccented for a
    deaccent one — raw text would miss both."""
    from ner_spark.kb.build import compile_kb
    from ner_spark.pipeline.ner import scan_mentions

    df = spark.createDataFrame(
        [("u1", "we saw WASHINGTON yesterday ."),
         ("u2", "Antonín Dvořák composed music .")], "url string, text string")
    low = compile_kb(spark, variant_rows, lowercase=True,
                     add_pronouns=False, add_subname_fragments=False)
    got = {(r.url, r.start, r.end, tuple(r.ids))
           for r in scan_mentions(df, low).collect()}
    assert ("u1", 7, 17, (2,)) in got
    dea = compile_kb(spark, variant_rows, deaccent=True,
                     add_pronouns=False, add_subname_fragments=False)
    got = {(r.url, r.start, r.end, tuple(r.ids))
           for r in scan_mentions(df, dea).collect()}
    assert ("u2", 0, 14, (1,)) in got


def test_deaccent_variant(spark, variant_rows):
    from ner_spark.kb.build import compile_kb

    art = compile_kb(spark, variant_rows, deaccent=True,
                     add_pronouns=False, add_subname_fragments=False)
    out = recognize(art.bundle, art.automaton,
                    "Antonin Dvorak composed music .", deaccent=True)
    assert [(r["text"], r["sense"]) for r in out] == [("Antonin Dvorak", 1)]


def test_transform_merge_keeps_confidence_order(spark):
    from ner_spark.kb.build import compile_kb

    rows = [
        dict(id=1, type="organization", name="ACME", description="d",
             wiki_backlinks=1, wiki_hits=1, wiki_ps=0),
        dict(id=2, type="organization", name="Acme", description="d" * 50,
             wiki_backlinks=500, wiki_hits=500, wiki_ps=1),
    ]
    art = compile_kb(spark, rows, lowercase=True, add_pronouns=False,
                     add_subname_fragments=False)
    keys = dict(art.automaton.iter_keys())
    # both collapse to 'acme'; higher-confidence id 2 must come first
    assert keys["acme"] == (2, 1)


# -- word frequency --------------------------------------------------------

def test_word_frequency_measures(spark):
    df = spark.createDataFrame(
        [("Prague", 60), ("prague", 30), ("PRAGUE", 10), ("dog", 5)],
        "word string, count long")
    got = {r.word: r for r in word_frequency(df).collect()}
    # all = count / total by lowercase base
    assert got["Prague"].all_measure == pytest.approx(0.6)
    assert got["prague"].all_measure == pytest.approx(0.3)
    assert got["PRAGUE"].all_measure == pytest.approx(0.1)
    # uplow denominator excludes PRAGUE (neither lower nor Title)
    assert got["Prague"].uplow_measure == pytest.approx(round(60 / 90, 6))
    assert got["PRAGUE"].uplow_measure == 0.0
    assert got["Prague"].capital_dominant is True
    assert got["prague"].capital_dominant is False
    assert got["dog"].all_measure == 1.0 and got["dog"].uplow_measure == 1.0


def test_word_frequency_merges_duplicate_rows(spark):
    df = spark.createDataFrame([("a", 1), ("a", 2), ("A", 3)],
                               "word string, count long")
    got = {r.word: r for r in word_frequency(df).collect()}
    assert got["a"].all_measure == pytest.approx(0.5)


# -- daemon protocol -------------------------------------------------------

def test_daemon_protocol_accumulates_and_modes():
    lines = ["doc one line a", "line b", "NER_NEW_FILE",
             "doc two", "NER_NEW_FILE_NAMES",
             "doc three", "NER_END_ALL",
             "never seen", "NER_NEW_FILE"]
    docs = list(iter_daemon_documents(lines))
    assert [(d, m) for d, m, _ in docs] == [
        ("doc one line a\nline b\n", "default"),
        ("doc two\n", "names"),
        ("doc three\n", "all"),      # END token stops the stream
    ]


# -- unknown-name discovery ------------------------------------------------

def test_find_names_discovers_unknown_persons(spark, variant_rows):
    from ner_spark.kb.build import compile_kb

    art = compile_kb(spark, variant_rows, add_pronouns=False,
                     add_subname_fragments=False)
    # NB names at offset 0 are excluded by the proper-noun rule (ner.py:170);
    # the date anchors the entity list — with an EMPTY entities_and_dates
    # the reference's insert loop drops all names (ner.py:271-283, quirk)
    text = "then Unknown Stranger met Zebulon Pike on 12. 1. 1995 ."
    out = recognize(art.bundle, art.automaton, text, find_names=True)
    names = [r for r in out if r["kind"] == "name"]
    assert {r["text"] for r in names} == {"Unknown Stranger", "Zebulon Pike"}
    assert all(r["sense"] < 0 for r in names)  # pseudo ids
    # without the flag only the date remains
    assert [r["kind"] for r in recognize(art.bundle, art.automaton, text)] \
        == ["date"]


def test_find_names_empty_entity_list_quirk(spark, variant_rows):
    from ner_spark.kb.build import compile_kb

    art = compile_kb(spark, variant_rows, add_pronouns=False,
                     add_subname_fragments=False)
    text = "then Unknown Stranger met Zebulon Pike yesterday ."
    assert recognize(art.bundle, art.automaton, text, find_names=True) == []


def test_find_names_possessive_strip(spark, variant_rows):
    from ner_spark.kb.build import compile_kb

    art = compile_kb(spark, variant_rows, add_pronouns=False,
                     add_subname_fragments=False)
    # date anchors the entity list (empty-list quirk, ner.py:271-283)
    text = "we read Milton Friedman's essays on 12. 1. 1995 ."
    out = recognize(art.bundle, art.automaton, text, find_names=True)
    names = [r["text"] for r in out if r["kind"] == "name"]
    assert names == ["Milton Friedman"]


def test_find_names_absorbs_overlapped_entity(spark, variant_rows):
    from ner_spark.kb.build import compile_kb

    art = compile_kb(spark, variant_rows, add_pronouns=False,
                     add_subname_fragments=False)
    # proper noun "Washington Irving House" contains KB entity "Washington"
    text = "they toured Washington Irving House on 12. 1. 1995 ."
    out = recognize(art.bundle, art.automaton, text, find_names=True)
    names = [r for r in out if r["kind"] == "name"]
    assert len(names) == 1
    assert names[0]["text"] == "Washington Irving House"
    assert names[0]["sense"] == 2  # absorbed the entity's sense
    assert not any(r["kind"] == "kb" and r["text"] == "Washington" for r in out)


def test_mode_all_keeps_candidates(spark, variant_rows):
    from ner_spark.kb.build import compile_kb
    from ner_spark.semantics.resolve import resolve_document
    from ner_spark.semantics.textnorm import sanitize

    art = compile_kb(spark, variant_rows, add_pronouns=False,
                     add_subname_fragments=False)
    text = sanitize("near Washington we stopped .")
    ms = art.automaton.scan(text)
    rows_default = resolve_document(
        text, [(m.ids, m.start, m.end, m.fragment) for m in ms], art.bundle)
    rows_all = resolve_document(
        text, [(m.ids, m.start, m.end, m.fragment) for m in ms], art.bundle,
        mode="all")
    assert len(rows_default) == 1 and rows_default[0]["sense"] == 2
    assert len(rows_all) == 1 and rows_all[0]["sense"] is None


# -- URI automaton mode ----------------------------------------------------

def test_uri_mode(spark, variant_rows):
    from ner_spark.kb.build import compile_kb
    from ner_spark.semantics.recognize import recognize

    art = compile_kb(spark, variant_rows, uri_mode=True)
    url = "https://en.wikipedia.org/wiki/Washington"
    # give row 2 that URL
    rows2 = [dict(r) for r in variant_rows]
    rows2[1]["wikipedia_url"] = url
    art = compile_kb(spark, rows2, uri_mode=True)
    text = f"see {url} for details ."
    out = recognize(art.bundle, art.automaton, text)
    assert [(r["text"], r["sense"]) for r in out if r["kind"] == "kb"] == \
        [(url, 2)]
    # plain names do NOT match in uri mode
    assert recognize(art.bundle, art.automaton, "Washington is nice .") == []


def test_render_reference_lines(spark, variant_rows):
    from ner_spark.kb.build import compile_kb
    from ner_spark.semantics.recognize import recognize, render_reference_lines

    art = compile_kb(spark, variant_rows, add_pronouns=False,
                     add_subname_fragments=False)
    text = "We saw Washington on 1999-12-28 ."
    lines = render_reference_lines(
        recognize(art.bundle, art.automaton, text))
    assert lines == [
        "7\t17\tkb\tWashington\t2",
        "21\t31\tdate\t1999-12-28\t1999-12-28",
    ]


# -- language modules (§2.10) ----------------------------------------------

def test_cs_language_module():
    from ner_spark.api import LocalRecognizer

    rows = [
        dict(id=1, type="person", name="Karel Novák", gender="M",
             description="Český skladatel." * 3, jobs="skladatel",
             roles="skladatel", wiki_backlinks=100, wiki_hits=100, wiki_ps=1),
        dict(id=2, type="event", name="Bitva na Moravě", start="1620",
             description="event", wiki_backlinks=10, wiki_hits=10, wiki_ps=1),
        dict(id=3, type="organization", name="Bitva na Moravě",
             description="org named like the event" * 2,
             wiki_backlinks=500, wiki_hits=500, wiki_ps=1),
    ]
    rec = LocalRecognizer(kb_rows=rows, lang="cs")
    # cs pronoun coreference: 'on' resolves to the last male person
    out = rec.recognize("Karel Novák přijel . Potom on promluvil .")
    on = [r for r in out if r["text"] == "on"]
    assert on and on[0]["kind"] == "coref" and on[0]["sense"] == 1
    # cs sense rule: after " během " only event senses survive, so the
    # ambiguous surface resolves to the event (id 2), not the stronger org
    out2 = rec.recognize("Stalo se to během Bitva na Moravě .")
    hit = [r for r in out2 if r["text"] == "Bitva na Moravě"]
    assert hit and hit[0]["sense"] == 2
    # EN pronouns are NOT corefs in cs
    out3 = rec.recognize("Karel Novák přijel . He spoke .")
    assert not any(r["text"] == "He" for r in out3)


def test_sk_language_module():
    from ner_spark.semantics.lang import get_lang

    sk = get_lang("sk")
    assert sk.pronouns["ona"] == "F" and " bol " in sk.verbs
    assert sk.sense_rules is None and sk.location_coref is None
    import pytest as _p
    with _p.raises(ValueError, match="unknown language"):
        get_lang("xx")


def test_find_names_gazetteer_sentence_initial(spark, variant_rows):
    """KB-derived name gazetteer (-n): a run of ≥2 known person subnames
    may open a sentence — the positional proper-noun regex drops
    offset-0 spans (ner.py:170), the gazetteer (the reference
    name_recognizer architecture with KB subnames standing in for its
    absent name lists) recovers it."""
    from ner_spark.kb.build import compile_kb

    art = compile_kb(spark, variant_rows, add_pronouns=False,
                     add_subname_fragments=False)
    # "Dvorak Antonin" is NOT a KB surface form (the automaton knows
    # "Antonín Dvořák"), but both tokens are name_dict subname keys
    text = "Dvorak Antonin spoke first on 12. 1. 1995 ."
    out = recognize(art.bundle, art.automaton, text, find_names=True)
    names = [r for r in out if r["kind"] == "name"]
    assert [(r["text"], r["sense"] < 0) for r in names] == \
        [("Dvorak Antonin", True)]
    # unknown capitalized words at offset 0 stay dropped: not subnames,
    # and the regex's positional rule still applies
    text2 = "Random Stranger spoke first on 12. 1. 1995 ."
    out2 = recognize(art.bundle, art.automaton, text2, find_names=True)
    assert [r["kind"] for r in out2] == ["date"]


def test_gazetteer_name_spans_run_rules():
    """Run mechanics of the gazetteer scanner: single-space separation,
    ≥2 tokens, unknown token breaks the run, mid-word capitals never
    start a token."""
    from ner_spark.semantics.resolve import _gazetteer_name_spans

    nd = {"john": frozenset({1}), "smith": frozenset({1}),
          "ada": frozenset({2})}
    t = "John Smith met Ada and John  Smith saw iJohn Smith"
    spans = _gazetteer_name_spans(t, nd)
    # "John Smith" qualifies; lone "Ada" does not (needs ≥2); the
    # double-space pair does not (not single-space separated); the
    # trailing "Smith" after mid-word "iJohn" is a lone token
    assert spans == [(0, 10)]
    assert _gazetteer_name_spans("John Smith", nd) == [(0, 10)]
    assert _gazetteer_name_spans("john smith", nd) == []  # lowercased text
