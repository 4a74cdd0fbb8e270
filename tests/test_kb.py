"""KB model: static scores (Python vs DataFrame job equality), subname
normalization, namelist build rules (reference:
/root/reference/automata/src/metrics_knowledge_base.py:330-387,
libs/entities/persons.py:53-198, KB2namelist.py:824-886,1028-1043,
uniq_namelist.py:44-107, namelist.py:968-1015)."""

import pytest

from ner_spark.semantics.kb import (KBBundle, build_namelist,
                                    get_normalized_subnames, is_unsuitable_key,
                                    parse_aliases_with_ntypes)


@pytest.fixture(scope="module")
def bundle(kb_rows):
    return KBBundle.from_rows(kb_rows)


# -- static scores ---------------------------------------------------------

def test_static_scores_python_vs_dataframe(spark, kb_rows, bundle):
    """The DataFrame score job, rounded in Python, and the pure-Python
    oracle must agree exactly — each validates the other."""
    from ner_spark.kb.build import kb_rows_to_df, with_static_scores

    df = with_static_scores(kb_rows_to_df(spark, kb_rows))
    got = {r.id: tuple(round(v, 2) for v in r[1:])
           for r in df.select("id", "score_wiki", "score_metrics",
                              "confidence").collect()}
    for i in range(1, bundle.n_rows() + 1):
        exp = (bundle.cols["score_wiki"][i], bundle.cols["score_metrics"][i],
               bundle.cols["confidence"][i])
        assert got[i] == exp, i


def test_score_formula_weights():
    """wavg 5:5:1 for wiki, avg for metrics, wavg 5:1 overall; 0.25·max cap."""
    rows = [
        dict(id=1, type="t", name="A", description="x" * 10,
             wiki_backlinks=100, wiki_hits=100, wiki_ps=1),
        dict(id=2, type="t", name="B", description="x" * 10,
             wiki_backlinks=25, wiki_hits=25, wiki_ps=1),
        dict(id=3, type="t", name="C", description="x" * 5,
             wiki_backlinks=1, wiki_hits=1, wiki_ps=0),
    ]
    kb = KBBundle.from_rows(rows)
    # id=1: backlinks 100 vs cap 0.25*100=25 → 1.0 capped; same hits; ps=1/1
    assert kb.cols["score_wiki"][1] == 100.0
    # id=2: 25/25=1.0 capped → also 100
    assert kb.cols["score_wiki"][2] == 100.0
    # id=3: bl 1/25, ht 1/25, ps 0 → 100*(5*0.04+5*0.04+0)/11
    assert kb.cols["score_wiki"][3] == pytest.approx(
        round(100.0 * (5 * 0.04 + 5 * 0.04) / 11.0, 2))
    # confidence = (5*wiki + metrics)/6
    for i in (1, 2, 3):
        assert kb.cols["confidence"][i] == pytest.approx(
            round((5 * kb.cols["score_wiki"][i]
                   + kb.cols["score_metrics"][i]) / 6.0, 2), abs=0.011)


def test_get_ent_type_substring_semantics(bundle):
    # 'geo' must match 'geographical' — substring test (SURVEY §1.4.1)
    geo_id = next(i for i in range(1, bundle.n_rows() + 1)
                  if bundle.get_ent_type(i).startswith("geo"))
    assert "geo" in bundle.get_ent_type(geo_id)
    assert bundle.get_ent_type(0) == "" and bundle.get_ent_type(10 ** 6) == ""


def test_get_data_for_and_multival(bundle):
    pid = next(i for i in range(1, bundle.n_rows() + 1)
               if "person" in bundle.get_ent_type(i))
    assert bundle.get_data_for(pid, "NAME")
    jobs = bundle.get_data_for(pid, "JOBS", separator="|")
    assert isinstance(jobs, list) and jobs
    assert bundle.get_data_for(pid, "NO SUCH COLUMN") == ""


def test_get_dates_person_only(bundle):
    pid = next(i for i in range(1, bundle.n_rows() + 1)
               if "person" in bundle.get_ent_type(i)
               and bundle.get_data_for(i, "DATE OF BIRTH"))
    assert bundle.get_dates(pid)
    oid = next(i for i in range(1, bundle.n_rows() + 1)
               if "organization" in bundle.get_ent_type(i))
    assert bundle.get_dates(oid) == set()


def test_nationality_forms_and_lookup(bundle):
    assert "American" in bundle.nationality_forms
    assert "Americans" in bundle.nationality_forms  # aliases included
    nid = next(i for i in range(1, bundle.n_rows() + 1)
               if "nationality" in bundle.get_ent_type(i))
    nats = bundle.get_nationalities(nid)
    assert nats and all(n == n.lower() for n in nats)


# -- subnames --------------------------------------------------------------

def test_subnames_basic_split():
    assert get_normalized_subnames(["George Washington"]) == {
        "George", "Washington"}


def test_subnames_preposition_removed_and_prep_name_kept():
    subs = get_normalized_subnames(["Ludwig van Beethoven"])
    assert "Ludwig" in subs and "Beethoven" in subs
    assert "Van Beethoven" in subs and "van Beethoven" in subs


def test_subnames_prefix_variants():
    subs = get_normalized_subnames(["Patrick O'Brian"])
    assert "O'Brian" in subs and "o'Brian" in subs and "Brian" in subs


def test_subnames_location_suffix():
    # reference worked example (persons.py comment): "Richard Butler of
    # Polestown" → location stripped for the split, suffixed SUBPART kept
    subs = get_normalized_subnames(["Richard Butler of Polestown"])
    assert "Richard" in subs and "Butler" in subs
    assert "Butler of Polestown" in subs
    # when the location suffix spans the WHOLE name it is not re-added
    subs2 = get_normalized_subnames(["Alexander of Hales"])
    assert subs2 == {"Alexander"}


def test_subnames_reject_ugly():
    subs = get_normalized_subnames(["X Æ A-12"])
    assert not any(any(ch.isdigit() for ch in s) for s in subs)


def test_parse_aliases_ntypes():
    d = parse_aliases_with_ntypes("John Smith", "Johnny#ntype=nick|J. Smith#lang=en")
    assert d == {"John Smith": None, "Johnny": "nick", "J. Smith": None}


# -- namelist --------------------------------------------------------------

def test_unsuitable_keys():
    assert is_unsuitable_key("a;b", "person")
    assert is_unsuitable_key("1 23", "person")          # digits only
    assert is_unsuitable_key("X1", "geographical")       # digit in geo
    assert not is_unsuitable_key("Henry IV", "person")   # roman ok
    assert not is_unsuitable_key("14th Regiment", "organization")
    assert is_unsuitable_key("lower case", "person")     # lowercase person multiword
    assert is_unsuitable_key("lower", "organization")    # lowercase non-person
    assert is_unsuitable_key("x", "person")              # len<2
    assert is_unsuitable_key("y" * 81, "person")         # len>80


def test_namelist_confidence_order_and_fragments(bundle):
    nl = build_namelist(bundle)
    # ambiguous surface "Washington": surname fragments + city entity
    assert "Washington" in nl
    ids = [i for i in nl["Washington"] if i != 0]
    confs = [bundle.get_score(i) for i in ids]
    assert confs == sorted(confs, reverse=True)  # confidence-descending
    # a person full name maps to exactly that person
    pid = next(i for i in range(1, bundle.n_rows() + 1)
               if bundle.get_ent_type(i) == "person")
    assert nl[bundle.get_data_for(pid, "NAME")][0] == pid


def test_namelist_pronouns_are_fragment_only(bundle):
    nl = build_namelist(bundle)
    assert nl["he"] == [0] and nl["He"] == [0]
    assert nl["she"] == [0] and nl["There"] == [0]


def test_namelist_surname_confidence_gate():
    rows = [
        dict(id=1, type="person", name="Weak Mann", description="",
             wiki_backlinks=0, wiki_hits=0, wiki_ps=0),
        dict(id=2, type="person", name="Strong Mann", description="z" * 50,
             wiki_backlinks=1000, wiki_hits=1000, wiki_ps=1),
    ]
    kb = KBBundle.from_rows(rows)
    assert kb.get_score(2) >= 20 > kb.get_score(1)
    nl = build_namelist(kb, add_subname_fragments=False, add_pronouns=False)
    # only the confident person gets a surname key (KB2namelist.py:1035)
    assert nl.get("Mann") == [2]


def test_namelist_org_capitalization_variants():
    rows = [dict(id=1, type="organization", name="Atlas institute",
                 description="d", wiki_backlinks=1, wiki_hits=1, wiki_ps=1)]
    nl = build_namelist(KBBundle.from_rows(rows), add_pronouns=False,
                        add_subname_fragments=False)
    assert "Atlas institute" in nl and "Atlas Institute" in nl


def test_namelist_nick_aliases_not_fragments():
    rows = [dict(id=1, type="person", name="Able Baker",
                 aliases="Ace#ntype=nick", description="d" * 40,
                 wiki_backlinks=100, wiki_hits=100, wiki_ps=1)]
    nl = build_namelist(KBBundle.from_rows(rows), add_pronouns=False)
    # alias itself is a key, but not expanded into subname fragments
    assert "Ace" in nl            # direct alias key → [1]
    assert 1 in nl["Ace"]
    assert nl.get("Able") == [0]  # fragment from NAME
    assert nl.get("Baker") == [1, 0]  # surname key + fragment marker


def test_filter_namelist_to_wiki_mirrors_reference():
    """F13: N-rows keep only ids whose KB line has a wiki URL; non-N rows
    pass through; the N marker (0) survives.  Oracle below is an
    independent transliteration of filter_namelist.py over the same data."""
    from ner_spark.semantics.kb import (KBBundle, filter_namelist_to_wiki,
                                        wiki_url_lines)

    rows = [
        dict(id=1, type="person", name="Alice",
             wikipedia_url="https://en.wikipedia.org/wiki/Alice"),
        dict(id=2, type="person", name="Bob", wikipedia_url=""),
        dict(id=3, type="person", name="Carl",
             wikipedia_url="http://en.wikipedia.org/wiki/Carl"),  # http → no
        dict(id=4, type="person", name="Dana",
             wikipedia_url="https://cs.wikipedia.org/wiki/Dana"),
    ]
    kb = KBBundle.from_rows(rows)
    wiki = wiki_url_lines(kb)
    assert wiki == {1, 4}

    namelist = {
        "Alice": [1],                 # no N → untouched
        "Bob": [2],                   # no N → untouched even without URL
        "alice": [1, 2, 0],           # N row → drops 2
        "carl": [3, 0],               # N row → only N left
        "dana": [4, 0],
        "he": [0],
    }
    got = filter_namelist_to_wiki(namelist, wiki)

    # independent oracle: reference filter_namelist.py semantics
    want = {}
    for key, ids in namelist.items():
        if 0 in ids:  # grep -P "\t.*N.*$"
            want[key] = [i for i in ids if (i == 0) or (i in wiki)]
        else:
            want[key] = ids
    assert got == want
    assert got["alice"] == [1, 0]
    assert got["carl"] == [0]
    assert got["Bob"] == [2]


def test_compile_kb_wiki_filter_flag(spark):
    from ner_spark.kb.build import compile_kb

    rows = [
        dict(id=1, type="person", name="Alice Brown",
             wikipedia_url="https://en.wikipedia.org/wiki/Alice_Brown"),
        dict(id=2, type="person", name="Alice Stone", wikipedia_url=""),
    ]
    plain = compile_kb(spark, rows)
    filt = compile_kb(spark, rows, wiki_filter=True)
    # the shared fragment key 'Alice' is an N-row pointing at both people;
    # with the filter only the wiki-backed id survives alongside N
    nk_plain = dict(plain.automaton.iter_keys())
    nk_filt = dict(filt.automaton.iter_keys())
    assert set(nk_plain["Alice"]) >= {0}
    assert all(i in (0, 1) for i in nk_filt["Alice"])


ARROW_KEY = "spark.sql.execution.arrow.pyspark.enabled"
KB_DF_DDL = (
    "id BIGINT, type STRING, name STRING, aliases STRING, redirects STRING, "
    "gender STRING, date_of_birth STRING, date_of_death STRING, "
    "nationalities STRING, country STRING, jobs STRING, roles STRING, "
    "location STRING, founded STRING, cancelled STRING, start STRING, "
    "end STRING, fictional STRING, description STRING, wikipedia_url STRING, "
    "wiki_backlinks BIGINT, wiki_hits BIGINT, wiki_ps BIGINT, "
    "score_wiki DOUBLE, score_metrics DOUBLE, confidence DOUBLE, "
    "component BIGINT")


@pytest.fixture(params=["true", "false"], ids=["arrow", "no_arrow"])
def arrow_spark(spark, request):
    prev = spark.conf.get(ARROW_KEY)
    spark.conf.set(ARROW_KEY, request.param)
    try:
        yield spark
    finally:
        spark.conf.set(ARROW_KEY, prev)


def test_compile_kb_scored_kb_matches_dataframe_scores(arrow_spark, kb_rows):
    """compile_kb's scored KB has the pinned schema and, column by column,
    the rows of the with_static_scores DataFrame job (``component`` is
    held to its own oracle below); the DataFrame job's scores, rounded to
    2 decimals in Python, equal the bundle's exactly."""
    from pyspark.sql.types import StructType

    from ner_spark.kb.build import compile_kb, kb_rows_to_df, \
        with_static_scores

    kb_df = compile_kb(arrow_spark, kb_rows).kb_df
    assert kb_df.schema == StructType.fromDDL(KB_DF_DDL)
    got = {r.id: r.asDict() for r in kb_df.drop("component").collect()}
    want = {r.id: r.asDict() for r in
            with_static_scores(kb_rows_to_df(arrow_spark, kb_rows)).collect()}
    assert got.keys() == want.keys() and len(got) == len(kb_rows)
    scores = ("score_wiki", "score_metrics", "confidence")
    for i, row in got.items():
        for c, v in row.items():
            if c in scores:
                assert v == round(want[i][c], 2), (i, c)
            else:
                assert v == want[i][c], (i, c)


def _component_kbs():
    from kgbench.kbgen import gen_big_kb_rows
    from ner_spark.fixtures.gen import gen_kb_rows
    from ner_spark.fixtures.redirects import redirect_rows, typed_rows

    return {"redirects": redirect_rows, "typed": typed_rows,
            "fixture": gen_kb_rows,
            "kbgen_10k": lambda: gen_big_kb_rows(10_000, 0)}


@pytest.mark.parametrize("name", list(_component_kbs()))
def test_compiled_components_match_sameas_mapping(spark, name):
    """compile_kb's ``component`` is the sameAs component of every row:
    the DataFrame job redirect_edges → connected_components gives the
    same node → component map, with every node that has no redirect edge
    mapped to itself."""
    from ner_spark.kb.build import compile_kb
    from ner_spark.pipeline.triples import sameas_mapping

    rows = _component_kbs()[name]()
    kb_df = compile_kb(spark, rows).kb_df
    got = {r.id: r.component for r in kb_df.select("id", "component").collect()}
    mapping = {r.node: r.component for r in sameas_mapping(kb_df).collect()}
    assert len(got) == len(rows)
    assert got == {i: mapping.get(i, i) for i in got}
    # the fixtures do exercise the redirect clusters
    assert sum(i != c for i, c in got.items()) >= 3
    kb_df.unpersist()


# -- the compiled KB image: hash-seed independent, decodes to its trie -----

# compile variants: default, -d -r, -u, -Q and no pronoun keys, over the
# fixture rows with Q-ids (ignored outside -Q)
VARIANTS = {"default": {}, "lowercase+deaccent": dict(lowercase=True,
                                                      deaccent=True),
            "uri_mode": dict(uri_mode=True), "qid_mode": dict(qid_mode=True),
            "no_pronouns": dict(add_pronouns=False)}
_IMAGE_SHA256 = f"""
import hashlib
from ner_spark.fixtures.gen import gen_kb_rows
from ner_spark.kb.build import compile_gazetteer
from ner_spark.semantics.ckernel import kb_image
rows = [dict(r, qid=f"Q{{1000 + r['id']}}") for r in gen_kb_rows()]
for kw in {list(VARIANTS.values())!r}:
    print(hashlib.sha256(kb_image(*compile_gazetteer(rows, **kw))).hexdigest())
"""


def test_kb_image_independent_of_hash_seed():
    """Two compiles of the fixture KB in processes with different
    PYTHONHASHSEED give byte-identical KB images, in every variant:
    build_namelist orders its keys, so trie state numbering does not
    follow set iteration order."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    shas = [subprocess.run(
        [sys.executable, "-c", _IMAGE_SHA256], cwd=root, check=True,
        capture_output=True, text=True,
        env=dict(os.environ, PYTHONHASHSEED=seed)).stdout.split()
        for seed in ("1", "2")]
    assert len(shas[0]) == len(VARIANTS) and shas[0] == shas[1]


@pytest.mark.parametrize("variant", VARIANTS)
def test_kb_image_decodes_to_its_automaton(kb_rows, variant):
    """image_automaton inverts kb_image: the decoded trie serializes to
    the same bytes and spells the same keys in the same order."""
    from ner_spark.kb.build import compile_gazetteer
    from ner_spark.semantics.ckernel import image_automaton, kb_image

    rows = [dict(r, qid=f"Q{1000 + r['id']}") for r in kb_rows]
    bundle, atm = compile_gazetteer(rows, **VARIANTS[variant])
    image = kb_image(bundle, atm)
    decoded = image_automaton(image)
    assert kb_image(bundle, decoded) == image
    assert list(decoded.iter_keys()) == list(atm.iter_keys())
    assert decoded.n_keys == atm.n_keys > 0


# the bundle's side of the image: every compile variant above, a cs
# compile with tagged inflections, and the 10k-entity generated KB
_TAGGED = ["Antonín Dvořák\tcs\tP:::M\t"
           "Antonínu[k1gMnSc3]#jG/Antonínovi[k1gMnSc3]#jG "
           "Dvořáku[k1gMnSc3]#jS/Dvořákovi[k1gMnSc3]#jS\t"]


def _bundle_compiles():
    from kgbench.kbgen import gen_big_kb_rows
    from ner_spark.fixtures.gen import gen_kb_rows

    def fixture():
        return [dict(r, qid=f"Q{1000 + r['id']}") for r in gen_kb_rows()]

    def cs_tagged():
        rows = gen_kb_rows()
        return rows + [dict(id=len(rows) + 1, type="person",
                            name="Antonín Dvořák", gender="M",
                            nationalities="Czech", jobs="composer",
                            date_of_birth="1841-09-08")], dict(
            lang="cs", tagged_inflections=_TAGGED)

    out = {k: (lambda kw=kw: (fixture(), kw)) for k, kw in VARIANTS.items()}
    out["cs_tagged"] = cs_tagged
    out["kbgen_10k"] = lambda: (gen_big_kb_rows(10_000, 0), {})
    return out


@pytest.mark.parametrize("name", list(_bundle_compiles()))
def test_kb_image_decodes_to_its_bundle(name):
    """image_bundle inverts kb_image on the bundle's side: the decoded
    bundle and automaton serialize to the same bytes."""
    from ner_spark.kb.build import compile_gazetteer
    from ner_spark.semantics.ckernel import (image_automaton, image_bundle,
                                             kb_image)

    rows, kw = _bundle_compiles()[name]()
    image = kb_image(*compile_gazetteer(rows, **kw))
    decoded = image_bundle(image)
    assert decoded.n_rows() == len(rows)
    assert kb_image(decoded, image_automaton(image)) == image


@pytest.mark.parametrize("lang", ["en", "cs"])
def test_decoded_bundle_resolves_like_the_compiled_one(kb_rows, lang):
    """The Python resolver reads the same values from the bundle decoded
    from the image as from the compiled bundle — default tuple rows and
    find_names dict rows — and so does a pickled copy of it.  What the
    image does not carry raises KeyError."""
    import pickle

    from ner_spark.fixtures.gen import gen_pages
    from ner_spark.kb.build import compile_gazetteer
    from ner_spark.semantics.ckernel import image_bundle, kb_image
    from ner_spark.semantics.lang import get_lang
    from ner_spark.semantics.recognize import resolve_in_python

    bundle, atm = compile_gazetteer(kb_rows, lang=lang)
    decoded = image_bundle(kb_image(bundle, atm))
    copies = (decoded, pickle.loads(pickle.dumps(decoded)))
    texts = [p["text"] for p in gen_pages(kb_rows, n_pages=40, seed=21)]
    n = 0
    for text in texts:
        for kw in (dict(as_tuples=True), dict(find_names=True)):
            want = resolve_in_python(bundle, atm, text, lang=get_lang(lang),
                                     **kw)
            n += len(want)
            for kb in copies:
                assert resolve_in_python(kb, atm, text, lang=get_lang(lang),
                                         **kw) == want
    assert n > 500
    for col in ("FOUNDED", "LOCATION"):
        with pytest.raises(KeyError):
            decoded.get_data_for(1, col)


def test_unsuitable_key_person_list_of():
    """EN person keys starting 'List of ' are dropped
    (namelist.py:990-994 + en/namelist.py:14)."""
    from ner_spark.semantics.kb import is_unsuitable_key

    assert is_unsuitable_key("List of Smiths", "person")
    assert not is_unsuitable_key("Lister Smith", "person")
    # the filter is person-only (namelist.py:990-994 runs inside the
    # person branch)
    assert not is_unsuitable_key("List of Peaks", "geographical")


def test_surname_index_unwanted_match_guard():
    """Surname keys are suppressed when the NAME contains a comma, digit,
    or a standalone Saint/Holy/from/Prince (KB2namelist.py:875-877 with
    re_unwanted_match over the EN tables)."""
    from ner_spark.semantics.kb import KBBundle, build_namelist

    rows = [
        dict(id=1, type="person", name="Marie Curie", gender="F",
             description="d" * 60, wiki_backlinks=900, wiki_hits=900, wiki_ps=1),
        dict(id=2, type="person", name="John Spencer, 1st Earl",
             description="d" * 60, wiki_backlinks=900, wiki_hits=900, wiki_ps=1),
        dict(id=3, type="person", name="Prince Harald Fairhair",
             description="d" * 60, wiki_backlinks=900, wiki_hits=900, wiki_ps=1),
    ]
    kb = KBBundle.from_rows(rows)
    nl = build_namelist(kb, add_pronouns=False, add_subname_fragments=False)
    assert 1 in nl.get("Curie", [])        # clean name → surname indexed
    assert 2 not in nl.get("Earl", [])     # comma+digit in NAME → no surname
    assert 3 not in nl.get("Fairhair", [])  # standalone 'Prince' → no surname


def test_ctx_dispatch_arrays_match_substring_semantics(bundle):
    """ctx_kind_arr/ctx_char_arr/flag arrays must reproduce the exact
    substring branch of entity.py:227-245 for every KB line (drift guard
    for the precomputed dispatch used by disambiguate_with_context)."""
    kinds, chars = bundle.ctx_kind_arr, bundle.ctx_char_arr
    aflag, gflag = bundle.artist_flag_arr, bundle.group_flag_arr
    psub = bundle.person_sub_flag_arr
    K = bundle
    for line in range(len(bundle.type_arr)):
        t = bundle.type_arr[line]
        if "geo" in t:
            want, wch = K.CTX_ZERO, ""  # country_percentile is always 0
        elif "person" in t:
            want, wch = K.CTX_PERSON, ""
        elif "organization" in t or "event" in t:
            want, wch = K.CTX_DATED, ""
        else:
            # reference char loop: first ch with ch[:2] != "__" and
            # ch != "__" — always the first char for non-empty t
            want, wch = (K.CTX_CHAR, t[0]) if t else (K.CTX_ZERO, "")
        assert kinds[line] == want and chars[line] == wch, (line, t)
        assert aflag[line] == ("artist" in t)
        assert gflag[line] == ("group" in t)
        assert psub[line] == ("person" in t)


def test_ctx_dispatch_synthetic_edge_types():
    """Edge type strings: empty, both geo+person (geo wins, but the
    person-bucket tail still sees 'person' via person_sub_flag_arr), and
    organization and event sharing one kind."""
    from ner_spark.semantics.kb import KBBundle

    rows = [
        dict(id=1, type="geo:person_settlement", name="A",
             description="d" * 60, wiki_backlinks=1, wiki_hits=1, wiki_ps=1),
        dict(id=2, type="", name="B",
             description="d" * 60, wiki_backlinks=1, wiki_hits=1, wiki_ps=1),
        dict(id=3, type="museum", name="C",
             description="d" * 60, wiki_backlinks=1, wiki_hits=1, wiki_ps=1),
        dict(id=4, type="organization", name="D",
             description="d" * 60, wiki_backlinks=1, wiki_hits=1, wiki_ps=1),
        dict(id=5, type="event", name="E",
             description="d" * 60, wiki_backlinks=1, wiki_hits=1, wiki_ps=1),
    ]
    kb = KBBundle.from_rows(rows)
    assert kb.ctx_kind_arr[1] == KBBundle.CTX_ZERO
    assert kb.person_sub_flag_arr[1] is True   # tail check still fires
    assert kb.ctx_kind_arr[2] == KBBundle.CTX_ZERO
    assert kb.ctx_kind_arr[3] == KBBundle.CTX_CHAR
    assert kb.ctx_char_arr[3] == "m"
    assert kb.ctx_kind_arr[4] == kb.ctx_kind_arr[5] == KBBundle.CTX_DATED
