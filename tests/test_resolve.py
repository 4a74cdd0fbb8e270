"""Per-document resolution semantics: disambiguation, context scoring,
coreference, relational filters (reference: /root/reference/ner.py:576-714,
ner/entity.py, ner/context.py)."""

import shutil

import pytest

from ner_spark.semantics.kb import KBBundle
from ner_spark.semantics.recognize import recognize
from ner_spark.semantics.resolve import (offsets_of_paragraphs,
                                         remove_shorter_entities, Mention)
from ner_spark.semantics.automaton import GazetteerAutomaton
from ner_spark.semantics.kb import build_namelist


def mk_kb(rows):
    return KBBundle.from_rows(rows)


def mk(kb, **kw):
    atm = GazetteerAutomaton.build(build_namelist(kb, **kw).items())
    return atm


AMBIG_ROWS = [
    # person Washington: strong (high confidence)
    dict(id=1, type="person", name="George Washington", gender="M",
         date_of_birth="1732-02-22", date_of_death="1799-12-14",
         nationalities="American", jobs="president|general",
         roles="president|general",
         description="First president of the United States." * 3,
         wiki_backlinks=1000, wiki_hits=1000, wiki_ps=1),
    # city Washington: weaker
    dict(id=2, type="geographical", name="Washington",
         country="United States", description="US capital city.",
         wiki_backlinks=500, wiki_hits=400, wiki_ps=1),
    dict(id=3, type="geographical", name="Prague", country="Czech Republic",
         description="Capital of the Czech Republic.",
         wiki_backlinks=300, wiki_hits=300, wiki_ps=1),
    dict(id=4, type="nationality", name="American", aliases="Americans",
         country="United States", description="People of the USA."),
    dict(id=5, type="person", name="Marie Curie", gender="F",
         date_of_birth="1867-11-07", date_of_death="1934-07-04",
         nationalities="French", jobs="scientist", roles="scientist",
         description="Physicist and chemist, Nobel laureate." * 2,
         wiki_backlinks=900, wiki_hits=900, wiki_ps=1),
    dict(id=6, type="organization", name="Atlas Institute",
         location="Prague", founded="1900",
         description="Research organization.",
         wiki_backlinks=50, wiki_hits=40, wiki_ps=0),
]


@pytest.fixture(scope="module")
def akb():
    return mk_kb(AMBIG_ROWS)


@pytest.fixture(scope="module")
def aatm(akb):
    return mk(akb)


def run(akb, aatm, text):
    return recognize(akb, aatm, text)


def test_full_name_disambiguates_to_person(akb, aatm):
    out = run(akb, aatm, "George Washington was a famous president .")
    kb_rows = [r for r in out if r["kind"] == "kb"]
    assert any(r["sense"] == 1 and r["text"] == "George Washington"
               for r in kb_rows)


def test_sense_filter_drops_unresolved(akb, aatm):
    out = run(akb, aatm, "Nothing relevant here at all .")
    assert out == []


def test_surname_coref_links_to_antecedent(akb, aatm):
    text = "George Washington led the army . Washington won the battle ."
    out = run(akb, aatm, text)
    corefs = [r for r in out if r["kind"] == "coref"]
    assert len(corefs) == 1
    # coref resolves to the person's sense through the antecedent
    assert corefs[0]["sense"] == 1
    assert corefs[0]["text"] == "Washington"
    assert corefs[0]["start"] == text.index("Washington won")


def test_pronoun_coref_male(akb, aatm):
    text = "George Washington arrived . He spoke first ."
    out = run(akb, aatm, text)
    he = [r for r in out if r["text"] == "He"]
    assert len(he) == 1 and he[0]["kind"] == "coref" and he[0]["sense"] == 1


def test_pronoun_coref_female(akb, aatm):
    text = "Marie Curie arrived . She spoke about science ."
    out = run(akb, aatm, text)
    she = [r for r in out if r["text"] == "She"]
    assert len(she) == 1 and she[0]["sense"] == 5


def test_pronoun_requires_same_paragraph(akb, aatm):
    text = "George Washington arrived .\n\nHe spoke first ."
    out = run(akb, aatm, text)
    he = [r for r in out if r["text"] == "He"]
    # antecedent is in the previous paragraph → register check start >= bop fails
    assert he == []


def test_nationality_is_side_channel_not_mention(akb, aatm):
    out = run(akb, aatm, "Many Americans remember George Washington .")
    assert not any(r["text"] == "Americans" for r in out)


def test_date_detected_and_overlap_resolved(akb, aatm):
    text = "George Washington was born on 1732-02-22 in Virginia ."
    out = run(akb, aatm, text)
    dates = [r for r in out if r["kind"] == "date"]
    assert len(dates) == 1
    assert dates[0]["iso"] == "1732-02-22"
    assert dates[0]["confidence"] == 100


def test_context_date_boosts_person(akb, aatm):
    # bare "Washington" with a birth-date in the paragraph: person context
    # (dates) should outrank the city despite both being candidates
    text = ("George Washington was born on 1732-02-22 . "
            "Washington became president .")
    out = run(akb, aatm, text)
    coref_or_kb = [r for r in out if r["text"] == "Washington"]
    assert coref_or_kb and all(r["sense"] == 1 for r in coref_or_kb)


def test_remove_shorter_entities_first_come():
    m1 = Mention(0, 10, "x", [1])
    m2 = Mention(5, 8, "y", [2])   # overlaps m1 → dropped
    m3 = Mention(11, 15, "z", [3])
    assert remove_shorter_entities([m1, m2, m3]) == [m1, m3]


def test_offsets_of_paragraphs():
    text = "par one line\n\npar two\r\n\r\npar three"
    offs = offsets_of_paragraphs(text)
    assert offs[0] == 0 and len(offs) == 3
    assert text[offs[1]:offs[1] + 7] == "par two"
    assert text[offs[2]:offs[2] + 9] == "par three"


def test_adjacent_same_type_dropped(akb, aatm):
    # two adjacent full-string-type 'geographical' entities are NOT dropped
    # (rule fires only for exact types 'person'/'location'); build a KB where
    # two pure 'person' entities stand adjacent
    rows = [
        dict(id=1, type="person", name="Alice Abel", gender="F",
             description="d" * 30, wiki_backlinks=10, wiki_hits=10, wiki_ps=1),
        dict(id=2, type="person", name="Bob Baker", gender="M",
             description="d" * 30, wiki_backlinks=10, wiki_hits=10, wiki_ps=1),
    ]
    kb = mk_kb(rows)
    atm = mk(kb, add_subname_fragments=False, add_pronouns=False)
    out = recognize(kb, atm, "Alice Abel Bob Baker met .")
    assert out == []  # both dropped (next_to_same_type)
    out2 = recognize(kb, atm, "Alice Abel met Bob Baker .")
    assert {r["sense"] for r in out2} == {1, 2}


def test_en_location_rule_the_prefix():
    rows = [
        dict(id=1, type="geographical:location", name="The Dalles",
             country="United States", description="city",
             wiki_backlinks=10, wiki_hits=10, wiki_ps=1),
    ]
    kb = mk_kb(rows)
    atm = mk(kb, add_pronouns=False, add_subname_fragments=False)
    # 'The '-prefixed location surface is eliminated (en/entity.py:16-17)
    out = recognize(kb, atm, "We visited The Dalles today .")
    assert out == []


def test_there_is_not_coref(akb, aatm):
    out = run(akb, aatm, "There is a monument near Prague .")
    assert not any(r["text"] == "There" for r in out)
    assert any(r["sense"] == 3 for r in out)


def test_output_text_matches_offsets(akb, aatm, pages_rows):
    for page in pages_rows[:10]:
        from ner_spark.semantics.textnorm import sanitize

        text = sanitize(page["text"])
        for r in recognize(akb, aatm, page["text"]):
            if r["kind"] != "date":
                assert text[r["start"]:r["end"]].replace("\n", " ") \
                    .replace("\r", "") == r["text"]


# -- reference quirk guards (SURVEY §1.4) — these protect parity against
# future refactors; each mirrors a specific reference behavior
def test_quirk_geo_context_score_zero(akb):
    """Context.countries is never populated (context.py:56-58,88) so geo
    candidates always get context score 0 — even when the paragraph
    already counts the city's name, it can only win on static score."""
    from ner_spark.semantics.resolve import (Context, Mention, Register,
                                             disambiguate_with_context)

    text = "Washington is big . Washington again ."
    m1 = Mention(0, 10, "Washington", [2])
    m1.candidates = [2]
    m1.preferred_sense = 2
    m1.poorly_disambiguated = False
    m2 = Mention(19, 29, "Washington", [2])
    m2.candidates = [2]
    ctx = Context([m1, m2], akb, offsets_of_paragraphs(text), [], text)
    assert any(b.get("Washington") for b in ctx.mentions[0].values())
    disambiguate_with_context(m2, akb, ctx, Register())
    assert m2.context_score == [0.0]
    assert m2.score == m2.static_score == [akb.get_score(2)]


def test_quirk_char_iteration_buckets(akb):
    """Context buckets per-paragraph mention counts under single CHARS of
    the type string (context.py:109-111) — the well-known quirk; geo
    entities land under the LAST char of their type path."""
    from ner_spark.semantics.resolve import (Context, Mention, Register,
                                             offsets_of_paragraphs)

    text = "Prague is nice . Prague again ."
    m1 = Mention(0, 6, "Prague", [3])
    m1.candidates = [3]
    m1.preferred_sense = 3
    m1.poorly_disambiguated = False
    ctx = Context([m1], akb, offsets_of_paragraphs(text), [], text)
    t = akb.get_ent_type(3)  # 'geographical'
    bucket = ctx.mentions[0].get(t[-1])
    assert bucket and bucket.get("Prague") == 1


def test_quirk_first_candidate_order_is_namelist_order():
    """§1.4.4: candidate order = namelist order (confidence desc), and
    without context the FIRST candidate wins, not the set-iteration order."""
    from ner_spark.semantics.kb import KBBundle, build_namelist
    from ner_spark.semantics.automaton import GazetteerAutomaton
    from ner_spark.semantics.recognize import recognize

    rows = [
        dict(id=1, type="thing", name="Atlas", description="d"),
        dict(id=2, type="thing", name="Atlas", description="d" * 80,
             wiki_backlinks=999, wiki_hits=999, wiki_ps=1),
    ]
    kb = KBBundle.from_rows(rows)
    atm = GazetteerAutomaton.build(
        build_namelist(kb, filter_keys=False, add_pronouns=False,
                       add_subname_fragments=False).items())
    assert dict(atm.iter_keys())["Atlas"] == (2, 1)  # conf desc
    out = recognize(kb, atm, "the Atlas broke .")
    assert out[0]["sense"] == 2


def test_long_document_smoke(akb, aatm):
    """1 MB document: bounded runtime, correct offsets (no quadratic
    behavior in the offset-set algebra)."""
    import time

    block = ("George Washington visited Prague on 1732-02-22 . "
             + "Filler words with Capitalized Tokens appear here . " * 3)
    text = block * (1_000_000 // len(block))
    t0 = time.perf_counter()
    out = recognize(akb, aatm, text)
    dt = time.perf_counter() - t0
    assert dt < 30, dt
    assert len(out) > 1000
    for r in out[:50]:
        if r["kind"] != "date":
            assert text[r["start"]:r["end"]].replace("\n", " ") == r["text"]


# ---------------------------------------------------------------------------
# adjust_coreferences (ner.py:286-332) — the pass the reference runs right
# after add_unknown_names in -n mode
# ---------------------------------------------------------------------------

def _person_kb():
    from ner_spark.semantics.kb import KBBundle

    return KBBundle.from_rows([
        dict(id=1, type="person", name="Alice Brown", gender="F"),
        dict(id=2, type="person", name="Bob Stone", gender="M"),
    ])


def _mk(start, end, frag, senses, *, coref=False, name=False, pref=None):
    from ner_spark.semantics.resolve import Mention

    m = Mention(start, end, frag, [])
    m.senses = list(senses)
    m.is_coreference = coref
    m.is_name = name
    m.preferred_sense = pref
    return m


def test_adjust_coreferences_repoints_pronoun():
    from ner_spark.semantics.resolve import Register, adjust_coreferences

    kb = _person_kb()
    reg = Register()
    filler = _mk(0, 4, "xxxx", [])          # index 0: NOT a person
    prev = _mk(5, 16, "Alice Brown", [1], pref=1)
    n = _mk(20, 31, "Carol Quinn", [-1], name=True)
    he = _mk(35, 37, "He", [], coref=True, pref=1)  # points at prev's sense
    nxt = _mk(40, 49, "Bob Stone", [2], pref=2)
    ed = [filler, prev, n, he, nxt]
    adjust_coreferences(ed, [n], kb, reg)
    assert he.preferred_sense == -1  # re-pointed to the discovered name


def test_adjust_coreferences_prev_at_index_zero_quirk():
    """A person antecedent at list index 0 is falsy → treated as absent,
    so the pronoun is re-pointed unconditionally (reference `if not i_prev`)."""
    from ner_spark.semantics.resolve import Register, adjust_coreferences

    kb = _person_kb()
    reg = Register()
    prev = _mk(0, 11, "Alice Brown", [1], pref=1)   # index 0!
    n = _mk(20, 31, "Carol Quinn", [-1], name=True)
    he = _mk(35, 37, "He", [], coref=True, pref=99)  # sense ≠ prev's
    nxt = _mk(40, 49, "Bob Stone", [2], pref=2)
    ed = [prev, n, he, nxt]
    adjust_coreferences(ed, [n], kb, reg)
    assert he.preferred_sense == -1


def test_adjust_coreferences_no_next_person_breaks_all():
    """`if i_next == None: break` aborts the remaining names too."""
    from ner_spark.semantics.resolve import Register, adjust_coreferences

    kb = _person_kb()
    reg = Register()
    filler = _mk(0, 4, "xxxx", [])
    prev = _mk(5, 16, "Alice Brown", [1], pref=1)
    n1 = _mk(20, 27, "No Next", [-1], name=True)   # nothing after it
    he = _mk(30, 32, "He", [], coref=True, pref=1)
    ed = [filler, prev, n1, he]
    # second name listed AFTER n1 would qualify, but the break skips it
    n2 = _mk(18, 19, "Z", [-2], name=True)
    adjust_coreferences(ed, [n1, n2], kb, reg)
    assert he.preferred_sense == 1  # untouched


def test_adjust_coreferences_next_is_name_skips():
    from ner_spark.semantics.resolve import Register, adjust_coreferences

    kb = _person_kb()
    reg = Register()
    filler = _mk(0, 4, "xxxx", [])
    prev = _mk(5, 16, "Alice Brown", [1], pref=1)
    n = _mk(20, 31, "Carol Quinn", [-1], name=True)
    he = _mk(35, 37, "He", [], coref=True, pref=1)
    nxt = _mk(40, 49, "Dave Quinn", [-5], name=True)  # next person IS a name
    ed = [filler, prev, n, he, nxt]
    adjust_coreferences(ed, [n], kb, reg)
    assert he.preferred_sense == 1  # untouched


# ---------------------------------------------------------------------------
# add_unknown_names merge matrix (ner.py:232-283 with entity.py:424-436
# is_equal / is_overlapping semantics)
# ---------------------------------------------------------------------------

def _names_for(text, ed):
    from ner_spark.semantics.resolve import add_unknown_names

    return add_unknown_names(ed, text)


def test_name_merge_equal_is_dropped():
    text = "xx John Smith yy"
    ent = _mk(3, 13, "John Smith", [7], pref=7)
    ed = [ent]
    new = _names_for(text, ed)
    assert new == [] and ed == [ent]  # equal span+source → name discarded


def test_name_merge_contained_by_entity_is_dropped():
    # entity strictly contains the proper-noun candidate → substring case
    text = "xx Big John Smith yy"
    ent = _mk(3, 17, "Big John Smith", [7], pref=7)
    ed = [ent]
    new = _names_for(text, ed)
    assert new == []


def test_name_merge_containing_absorbs_senses_and_replaces():
    # name candidate contains the entity → union senses, entity removed
    text = "xx John Smith yy"
    ent = _mk(3, 7, "John", [7, 9], pref=7)
    other = _mk(20, 22, "zz", [1], pref=1)
    ed = [ent, other]
    new = _names_for(text, ed)
    assert len(new) == 1
    n = new[0]
    assert n.source == "John Smith"
    assert n.senses == [7, 9]        # absorbed, order preserved
    assert ent not in ed and n in ed  # overlapped entity replaced


def test_name_merge_disjoint_gets_pseudo_sense_and_shares_by_surface():
    text = "John Smith met Mary Stone and John Smith left"
    anchor = _mk(11, 14, "met", [5], pref=5)
    ed = [anchor]
    new = _names_for(text, ed)
    by_src = {}
    for n in new:
        by_src.setdefault(n.source, []).append(n)
    assert all(s < 0 for n in new for s in n.senses)
    js = by_src.get("John Smith", [])
    if len(js) == 2:  # same surface shares the pseudo sense set
        assert js[0].senses == js[1].senses


def test_name_merge_empty_entity_list_drops_names():
    """Reference quirk: with an empty entities_and_dates the insert loop
    never runs, so discovered names vanish (ner.py:271-283)."""
    text = "xx John Smith yy"
    ed = []
    new = _names_for(text, ed)
    assert ed == []  # nothing inserted


def test_as_tuples_matches_dict_rows(kb_rows, pages_rows):
    """The tuple fast path must be field-for-field identical to the dict
    contract on the 8 core fields, across fixture docs incl. find_names."""
    from ner_spark.semantics.automaton import GazetteerAutomaton
    from ner_spark.semantics.kb import KBBundle, build_namelist
    from ner_spark.semantics.resolve import resolve_document

    bundle = KBBundle.from_rows(kb_rows)
    atm = GazetteerAutomaton.build(build_namelist(bundle).items())
    fields = ("start", "end", "par", "kind", "text", "sense", "iso",
              "confidence")
    n_rows = 0
    for page in pages_rows[:40]:
        text = page["text"]
        matches = [(m.ids, m.start, m.end, m.fragment)
                   for m in atm.scan(text)]
        for fn in (False, True):
            dicts = resolve_document(text, matches, bundle, find_names=fn)
            tups = resolve_document(text, matches, bundle, find_names=fn,
                                    as_tuples=True)
            assert [tuple(d[f] for f in fields) for d in dicts] == tups
            n_rows += len(tups)
    assert n_rows > 50
    import pytest
    with pytest.raises(ValueError):
        resolve_document("x", [], bundle, mode="all", as_tuples=True)


# -- verb+JOBS rule (entity.py:151-185) ------------------------------------
# disambiguate_without_context must agree with a direct transcription of
# the reference's per-mention string scan across dot/paren/verb layouts
# (the C kernel's sentence index is held to the same rule by
# tests/test_ckernel.py).

def _ref_verb_jobs(kb, m, text, lang):
    """Direct transcription of entity.py:151-185."""
    from ner_spark.semantics.resolve import _right_sentence

    pflag = kb.person_flag_arr
    verb_index = -1
    sentence = _right_sentence(text, m)
    for verb in lang.verbs:
        verb_index = sentence.find(verb)
        if verb_index != -1:
            break
    if verb_index == -1:
        return None
    for s in m.senses:
        if pflag[s]:
            cand = [p for p in kb.get_multival(s, "JOBS")
                    if sentence.find(" " + p + " ", verb_index) != -1]
            if cand:
                return cand
    return []


@pytest.mark.parametrize("text", [
    "Washington was a president . More text follows here .",
    "Washington was a president",                      # no dot → tail
    "Washington (the general) was a president .",      # paren → scalar path
    "Washington lived here . He was a president .",    # verb after the dot
    "Washington was (a president) .",                  # job inside parens
    "Washington is a general and was a president .",   # two verbs
    "Washington .",                                    # empty sentence
    "Washington was a presi",                          # job cut at EOF
    "Washington was a president. X is . ( ) . was ",   # noise
])
def test_verb_jobs_fast_path_matches_reference_scan(akb, text):
    from ner_spark.semantics.lang import EN
    from ner_spark.semantics.resolve import (Mention, Register,
                                             disambiguate_without_context)

    s = text.index("Washington")
    m = Mention(s, s + len("Washington"), "Washington", [1, 2])
    ref = _ref_verb_jobs(akb, m, text, EN)
    reg = Register()
    disambiguate_without_context(m, akb, text, reg, EN)
    # professions found → only person senses whose JOBS intersect them
    # survive (the geo sense 2 drops); otherwise senses are untouched
    assert m.candidates == ([1] if ref else [1, 2]), (text, ref)


def test_stage_diff_tracer(kb_rows, pages_rows):
    """debugChangesInEntities intent-port (ner.py:598-608): tracing emits
    per-stage unified diffs without changing the resolved output."""
    import io

    from ner_spark.semantics.automaton import GazetteerAutomaton
    from ner_spark.semantics.kb import KBBundle, build_namelist
    from ner_spark.semantics.resolve import (resolve_document,
                                             stage_diff_tracer)

    bundle = KBBundle.from_rows(kb_rows)
    atm = GazetteerAutomaton.build(build_namelist(bundle).items())
    traced_any = False
    for page in pages_rows[:10]:
        text = page["text"]
        matches = [(m.ids, m.start, m.end, m.fragment)
                   for m in atm.scan(text)]
        plain = resolve_document(text, matches, bundle)
        buf = io.StringIO()
        trace, log = stage_diff_tracer(out=buf)
        called = []

        def spy(stage, entities):
            called.append(stage)
            trace(stage, entities)

        traced = resolve_document(text, matches, bundle, trace=spy)
        assert traced == plain            # tracing never changes results
        if matches:
            stages = [s for s, _ in log]
            assert stages[0] == "figa_entities"
            # the log keeps only stages that changed the list
            assert called[-1] == "final_sense_filter"
            body = buf.getvalue()
            assert "--- before" in body and "+++ after" in body
            traced_any = True
    assert traced_any


# -- context reads that decide a sense (context.py:227-328) ----------------
# Two candidates share a name; the second wins on static score alone (its
# description is longer), the first carries what the document mentions.
# Each case asserts the first wins on the Python path (over the compiled
# bundle and over the bundle decoded from the KB image) and on the C path,
# and that blanking the one KB value its rule reads hands the sense back.

needs_kernel = pytest.mark.skipif(shutil.which("g++") is None,
                                  reason="no C++ toolchain")


def _kb_senses(rows, text, blank_forms=False):
    """The kb-row senses of ``text``; the C kernel must cover the document,
    and it and the Python resolver over the image's bundle must agree with
    the Python resolver over the compiled bundle row for row."""
    from ner_spark.semantics import ckernel
    from ner_spark.semantics.lang import EN
    from ner_spark.semantics.recognize import resolve_in_python

    kb = mk_kb(rows)
    if blank_forms:
        kb.nationality_forms = frozenset()
    atm = mk(kb)
    py = resolve_in_python(kb, atm, text, as_tuples=True)
    decoded = ckernel.image_bundle(ckernel.kb_image(kb, atm))
    assert resolve_in_python(decoded, atm, text, as_tuples=True) == py
    assert ckernel.try_scan_resolve(kb, atm, text, lang=EN,
                                    as_tuples=True) == py
    return [r[5] for r in py if r[3] == "kb"]


def _people(**first):
    """Two persons named John Smith (the first overridden by ``first``)
    and a nationality whose lowercase alias can match a person's
    nationalities: those are lowercased, the paragraph's nationality
    mentions are not."""
    a = dict(id=1, type="person", name="John Smith", gender="M",
             nationalities="Czech", roles="composer", description="x" * 90,
             wiki_backlinks=10, wiki_hits=10, wiki_ps=0)
    b = dict(a, id=2, nationalities="Polish", roles="painter",
             description="x" * 100)
    nat = dict(id=3, type="nationality", name="Czech", aliases="czech",
               country="Czechia", description="People of Czechia.")
    return [dict(a, **first), b, nat]


@needs_kernel
def test_context_nationality_decides_sense():
    text = "John Smith was a czech writer ."
    assert _kb_senses(_people(), "John Smith was a writer .") == [2]
    assert _kb_senses(_people(), text) == [1]
    assert _kb_senses(_people(nationalities=""), text) == [2]


@needs_kernel
def test_context_nationality_form_decides_sense():
    """A senseless mention counts as the paragraph's nationality only
    when its surface is one of the KB's nationality forms."""
    text = "John Smith was a czech writer ."
    assert _kb_senses(_people(), text) == [1]
    assert _kb_senses(_people(), text, blank_forms=True) == [2]


@needs_kernel
def test_context_roles_decide_sense():
    """A candidate's ROLES found in its paragraph become the paragraph's
    professions, which score every candidate holding them."""
    text = "John Smith was a composer ."
    assert _kb_senses(_people(), "John Smith was a writer .") == [2]
    assert _kb_senses(_people(), text) == [1]
    assert _kb_senses(_people(roles=""), text) == [2]


def _orgs(**first):
    a = dict(id=1, type="organization", name="Atlas Institute",
             location="Prague", start="1900", description="x" * 90,
             wiki_backlinks=10, wiki_hits=10, wiki_ps=0)
    b = dict(a, id=2, location="Brno", start="1800", description="x" * 100)
    towns = [dict(id=i, type="geographical:settlement", name=n,
                  country="Czechia", description="A town.")
             for i, n in ((3, "Prague"), (4, "Brno"))]
    return [dict(a, **first), b] + towns


@needs_kernel
def test_context_location_never_decides_sense():
    """The reference reads LOCATION only in org_event_percentile's place
    score, which probes the paragraph's 'settlement' mention bucket.
    Mentions are bucketed under single chars of their type string (the
    char-iteration quirk) and under 'person', so that bucket never exists:
    the first organization's LOCATION, mentioned in its paragraph, does not
    win it the sense.  Its START date, read by the same percentile, does."""
    text = "Atlas Institute opened in Prague ."
    assert _kb_senses(_orgs(), text) == [2, 3]
    dated = "Atlas Institute opened in Prague in 1900 ."
    assert _kb_senses(_orgs(), dated) == [1, 3]
    assert _kb_senses(_orgs(start=""), dated) == [2, 3]


@needs_kernel
def test_quirk_org_scored_with_event_columns():
    """entity.py:236-239 passes 'organization' (z) but context.py:307-310
    compares 'organisation' (s) — organizations take the event START/END
    date columns, not FOUNDED/CANCELLED."""
    dated = "Atlas Institute opened in 1900 ."
    assert _kb_senses(_orgs(start="", founded="1900"), dated) == [2]
    assert _kb_senses(_orgs(start="1900"), dated) == [1]


def _org_and_event(org, event):
    """An organization (id 1) and an event (id 2) named alike, each with a
    peer of its own type (ids 3, 4) that sets the type's percentiles: the
    event wins on static score alone."""
    a = dict(id=1, type="organization", name="Atlas Festival",
             description="x" * 90, wiki_backlinks=10, wiki_hits=10, wiki_ps=0)
    b = dict(a, id=2, type="event", description="x" * 100)
    peers = [dict(a, id=3, name="Brno Club", description="x" * 100),
             dict(b, id=4, name="Brno Fair")]
    return [dict(a, **org), dict(b, **event)] + peers


@needs_kernel
def test_context_dates_decide_org_and_event_alike():
    """Organizations and events share one context rule: a paragraph date
    found in the candidate's START or END scores it, whichever kind it
    is."""
    text = "Atlas Festival began in 1900 ."
    assert _kb_senses(_org_and_event({}, {}), text) == [2]
    assert _kb_senses(_org_and_event(dict(start="1900"),
                                     dict(start="1800")), text) == [1]
    assert _kb_senses(_org_and_event(dict(end="1900"), {}), text) == [1]
    # the organization leads on static score; the dated event overtakes it
    lead = dict(description="x" * 100)
    swap = dict(description="x" * 90)
    assert _kb_senses(_org_and_event(lead, swap), text) == [1]
    assert _kb_senses(_org_and_event(lead, dict(swap, end="1900")),
                      text) == [2]
    assert _kb_senses(_org_and_event(lead, dict(swap, start="1900")),
                      text) == [2]
