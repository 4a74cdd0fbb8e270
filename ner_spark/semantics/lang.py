"""Language modules — the reference's per-language extension point
(§2.10: NerLoader/LibLoader pattern, ner/ner_loader.py:9-23).

Each module carries the tables and rules the reference loads per language:
pronoun table (libs/lang_modules/{en,cs,sk}/word_types.py), proper-noun
prepositions, copula verbs for the JOBS rule, the language's sense
eliminations (ner/lang_modules/{en,cs}/entity.py) and the location-coref
suppression (EN only; the base class returns False,
ner/entity.py:265-266).

Functions are top-level (picklable by reference) so a module can ride into
executors; the pipeline passes the language CODE and resolves the module
worker-side via :func:`get_lang`.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable


@dataclass(frozen=True)
class LangModule:
    code: str
    pronouns: dict          # surface → M/F/MF/L (word_types.PRONOUNS)
    proper_nouns_preps: frozenset
    verbs: tuple            # copula forms for the verb+JOBS rule
    # sense eliminations: fn(mention, kb, text) mutating mention.senses
    sense_rules: Callable = field(default=None)
    # "There is ..." suppression: fn(mention, text) -> bool
    location_coref: Callable = field(default=None)
    # namelist-build tables (automata/src/lang_modules/<lang>/namelist.py):
    # person keys starting with these are dropped (namelist.py:990-994);
    # names containing these standalone words get no surname key
    # (saint variants + lang unwanted, namelist.re_unwanted_match)
    person_unwanted_starts: tuple = ()
    unwanted_match_words: frozenset = frozenset()


# -- EN (ner/lang_modules/en/entity.py:12-25, en/word_types.py) ------------

def _en_sense_rules(m, kb, text) -> None:
    # single pass; note "locations" in t implies "location" in t, so the
    # reference's two-spellings test collapses to one substring check.
    # context probes inlined (bounds-guarded slices ≡ _right/_left_context)
    e = m.end
    rs = text[e:e + 2] == "'s"
    the = m.source.startswith("The ")
    s0 = m.start
    ls = s0 >= 6 and text[s0 - 6:s0] == " into "
    if not (rs or the or ls):
        return  # no rule can eliminate anything
    out = []
    for s in m.senses:
        loc = "location" in kb.get_ent_type(s)
        if loc and (rs or the):
            continue
        if not loc and ls:
            continue
        out.append(s)
    m.senses = out


# right contexts after which "There" is not a location coreference
# (en/entity.py:12-25); the C kernel carries them in the KB image
EN_THERE_CONTEXTS = (" is ", " are ", " was ", " were ", " has ", " have ",
                     " had ")


def _en_location_coref(m, text) -> bool:
    from ner_spark.semantics.resolve import _right_context

    return m.source == "There" and any(
        _right_context(text, m, s) for s in EN_THERE_CONTEXTS)


EN = LangModule(
    code="en",
    pronouns={
        "he": "M", "him": "M", "himself": "M", "his": "M",
        "she": "F", "her": "F", "hers": "F", "herself": "F",
        "who": "MF", "whom": "MF", "whose": "MF",
        "here": "L", "there": "L", "where": "L",
    },
    proper_nouns_preps=frozenset({"the", "upon"}),
    verbs=(" was ", " were ", " is "),
    sense_rules=_en_sense_rules,
    location_coref=_en_location_coref,
    person_unwanted_starts=("List of ",),  # en/namelist.py:14
    unwanted_match_words=frozenset(
        {"Saint", "Holy", "from", "Prince"}),  # en/namelist.py:10-22
)


# -- CS (ner/lang_modules/cs/entity.py, cs/word_types.py) ------------------

def _cs_sense_rules(m, kb, text) -> None:
    from ner_spark.semantics.resolve import _left_context

    # "only event can start with word během"; the shipped code compares the
    # OrderedSet to the string 'event' (always False → all senses dropped);
    # we implement the intended membership test, as with the artist/group
    # rule (SURVEY §1.4)
    if _left_context(text, m, " během "):
        m.senses = [s for s in m.senses if "event" in kb.get_ent_type(s)]


CS = LangModule(
    code="cs",
    pronouns={
        "on": "M", "ho": "M", "jej": "M", "něj": "M", "jeho": "M",
        "něho": "M", "mu": "M", "jemu": "M", "němu": "M", "něm": "M",
        "jím": "M", "ním": "M",
        "ona": "F", "jí": "F", "ní": "F", "ji": "F", "ni": "F",
    },
    proper_nouns_preps=frozenset(),
    verbs=(" byl ", " byla ", " je "),
    sense_rules=_cs_sense_rules,
    person_unwanted_starts=("Seznam ",),  # cs/namelist.py:14
    unwanted_match_words=frozenset(
        {"Svatý", "Svatého", "Svatému", "Svatém", "Svatým", "Svatá",
         "Svaté", "Svatou", "Svatí", "Svatých", "Svatými",
         "z", "Princ"}),  # cs/namelist.py:10-31
)


# -- SK (libs/lang_modules/sk/word_types.py; no entity module → no rules) --

SK = LangModule(
    code="sk",
    pronouns={
        "on": "M", "jeho": "M", "neho": "M", "jemu": "M", "nemu": "M",
        "mu": "M", "ho": "M", "ňom": "M", "ním": "M",
        "ona": "F", "jej": "F", "nej": "F", "ju": "F", "ňu": "F",
        "ňou": "F",
    },
    proper_nouns_preps=frozenset(),
    verbs=(" bol ", " bola ", " je "),
    person_unwanted_starts=("Zoznam ",),  # sk/namelist.py:14
    unwanted_match_words=frozenset(
        {"Svätý", "Svätého", "Svätému", "Svätom", "Svätým", "Svätá",
         "Svätej", "Svätú", "Svätou", "Svätí", "Svätých", "Svätými",
         "z", "Princ"}),  # sk/namelist.py:10-31
)


_REGISTRY = {m.code: m for m in (EN, CS, SK)}


def get_lang(code: str) -> LangModule:
    try:
        return _REGISTRY[code]
    except KeyError:
        raise ValueError(
            f"unknown language {code!r}; known: {sorted(_REGISTRY)}") from None
