"""Knowledge-base model: accessors, static scores, subnames, namelist.

Brand-new code reproducing the reference's KB semantics:

  - accessor surface mirrors /root/reference/ner/ner_knowledge_base.py
    (get_ent_type:289-294, get_data_for:206-214, get_score:323-343,
    get_dates:297-303, get_nationalities:310-320); its subname lookup
    (346-351) is a plain ``name_dict.get``, done inline by resolve_document;
  - ``get_ent_type`` returns a plain STRING and every type test in the
    pipeline is a substring test (SURVEY §1.4.1) — e.g. 'geo' matches
    'geographical';
  - static scores follow metrics_knowledge_base.py:330-387 exactly
    (per-type-set max normalization, 0.25·max cap for backlinks/hits,
    weighted averages 5:5:1 and 5:1, "%.2f" rounding);
  - subname dictionary per ner_knowledge_base.initName_dict:132-177 with
    the EN subset of persons.get_normalized_subnames
    (libs/entities/persons.py:53-198);
  - namelist build per KB2namelist.py:824-886,1028-1043 (surname keys gated
    by CONFIDENCE ≥ 20 / ≥ 15 for artist|fictional, org/event capitalization
    variants) and uniq_namelist.py:44-107 (merge, confidence-descending id
    order, trailing 'N'); key suitability per namelist.py:968-1015 taking the
    ``derived_names`` branch of the unresolved merge conflict (SURVEY §1.4.5).

The bundle is a plain picklable value.  The Spark pipeline ships it
serialized in the C kernel's flat KB image, with the automaton (ckernel.py
``kb_image``); a Python worker decodes it from the image only for a
configuration the kernel does not cover — the replacement for the reference's POSIX
shared-memory KB daemon (ner/kb_daemon.py:30-61, SURVEY S5); SCALE.md
"Memory and spill" has the per-worker bytes.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from functools import cached_property
from typing import Iterable, Sequence

from .lang import EN, LangModule
from .textnorm import remove_accent

MULTIVAL = "|"  # KB_MULTIVALUE_DELIM (ner/configs.py:14)

# Columns of the flat synthetic KB (SURVEY §1.3 minimal schema).  Multivalue
# columns hold '|'-joined strings exactly like KB.tsv.
KB_COLUMNS = [
    "id", "type", "name", "aliases", "redirects", "gender",
    "date_of_birth", "date_of_death", "nationalities", "country",
    "jobs", "roles", "location", "founded", "cancelled", "start", "end",
    "fictional", "description", "wikipedia_url",
    "wiki_backlinks", "wiki_hits", "wiki_ps",
]
# reference (KB.tsv HEAD) column names → our flat columns: get_data_for
# aliasing, and io/kbtsv's header in both directions
HEAD_COLUMNS = {
    "TYPE": "type", "NAME": "name", "ALIASES": "aliases",
    "REDIRECTS": "redirects", "GENDER": "gender",
    "DATE OF BIRTH": "date_of_birth",
    "DATE OF DEATH": "date_of_death", "NATIONALITIES": "nationalities",
    "COUNTRY": "country", "JOBS": "jobs", "ROLES": "roles",
    "LOCATION": "location", "FOUNDED": "founded", "CANCELLED": "cancelled",
    "START": "start", "END": "end", "FICTIONAL": "fictional",
    "DESCRIPTION": "description", "WIKIPEDIA URL": "wikipedia_url",
    "WIKI BACKLINKS": "wiki_backlinks", "WIKI HITS": "wiki_hits",
    "WIKI PRIMARY SENSE": "wiki_ps",
}

_SURNAME_RE = re.compile(  # KB2namelist.py:78-80 (\p{Lu}\p{Ll} → ASCII-ish + latin1)
    r"(((?<=^)|(?<= ))(?:(?:da|von)(?:#[^ ]+)? )?"
    r"((?:[A-ZÀ-Þ][a-zß-ÿ]*(?:#[^- ]+)?-)?"
    r"(?:[A-ZÀ-Þ][a-zß-ÿ]+(?:#[^- ]+)?))$)"
)
def _unwanted_match_re(words: frozenset) -> "re.Pattern":
    """Surname-index guard (namelist.re_unwanted_match, namelist.py:118-124):
    names containing a comma, a digit, or one of the language's standalone
    saint/unwanted words get no surname key (KB2namelist.py:875-877)."""
    alts = "|".join(re.escape(w) for w in sorted(words)) or "(?!x)x"
    return re.compile(r"(,|[0-9]|(^|\s)(%s)(\s|$))" % alts)
_NTYPE_RE = re.compile(r"#ntype=([^#|]*)")
_FLAG_STRIP_RE = re.compile(r"#(?:ntype|lang)=[^#|]*")

NAME_PREPOSITIONS = [  # persons.py:22-28
    "van der", "van", "von", "zu", "de", "du", "da", "di",
    "dalla", "del", "dos", "el", "la", "le", "ben", "bin", "y",
]
NAME_PREFIXES = ["d'", "o'"]  # persons.py:30
LOCATION_PREPOSITIONS = ["of"]  # persons.py:41-42 (EN default)

_PREP_ALT = "|".join(
    "[%s%s]%s" % (p[0].upper(), p[0], re.escape(p[1:])) for p in NAME_PREPOSITIONS
)
_PREFIX_ALT = "|".join(
    "[%s%s]%s" % (p[0].upper(), p[0], re.escape(p[1:])) for p in NAME_PREFIXES
)
_RE_PREP_REMOVE = re.compile(r" (?:%s) " % _PREP_ALT)
_RE_PREP_NAME = re.compile(r"(?:^| )(?:%s) [A-ZÀ-Þ]\w+" % _PREP_ALT)
_RE_PREFIX_CHECK = re.compile(r"^(?:%s)[A-ZÀ-Þ]" % _PREFIX_ALT)
_RE_PREFIX_ONLY = re.compile(r"^(?:%s)" % _PREFIX_ALT)
_STR_LOC_REMOVE = r" (?:%s) .*" % "|".join(map(re.escape, LOCATION_PREPOSITIONS))
_RE_LOC_REMOVE = re.compile(_STR_LOC_REMOVE)
_RE_SUBNAME_LOC = re.compile(r"([^ ]+" + _STR_LOC_REMOVE + r")")
_RE_NICE_NAME = re.compile(
    r"^( ?(?:%s)?[A-ZÀ-Þ]([^\W\d_]+)?(['-][A-ZÀ-Þ][^\W\d_]+)*)+(?:%s)?$"
    % (_PREFIX_ALT, _STR_LOC_REMOVE)
)


def get_normalized_subnames(src_names: Iterable[str]) -> set[str]:
    """EN subset of persons.get_normalized_subnames (persons.py:53-198):
    split names into parts (prepositions removed), keep location-suffixed
    part, capitalize, validate against the "nice name" regex, expand
    d'/o' prefix variants."""
    names: set[str] = set()
    for name in src_names:
        name = _FLAG_STRIP_RE.sub("", name)
        name = re.sub(r"\s+", " ", name).strip()
        if not name:
            continue
        name_with_location = name
        sub_loc = _RE_SUBNAME_LOC.search(name)
        sub_loc = sub_loc.group() if sub_loc else None
        name = _RE_LOC_REMOVE.sub("", name)

        subnames = set(_RE_PREP_REMOVE.sub(" ", name).split())
        if sub_loc and sub_loc != name_with_location:
            subnames.add(sub_loc)

        for subname in subnames:
            if len(subname) <= 1:
                continue
            if subname.endswith(","):
                subname = subname[:-1]
            subname = subname[0].upper() + subname[1:]
            if _RE_NICE_NAME.match(subname):
                names.add(subname)
                if _RE_PREFIX_CHECK.match(subname):
                    if not subname[0].islower():
                        names.add(subname[0].lower() + subname[1:])
                    nonprefix = _RE_PREFIX_ONLY.sub("", subname)
                    names.add(nonprefix.capitalize())

        prep_name = _RE_PREP_NAME.search(name)
        if prep_name:
            subname = prep_name.group().lstrip().title()
            names.add(subname)
            if not subname[0].islower():
                names.add(subname[0].lower() + subname[1:])
    return names


def parse_aliases_with_ntypes(name: str, aliases: str) -> dict[str, str | None]:
    """KB2namelist.get_KB_names_ntypes_for (KB2namelist.py:371-392):
    NAME first, then aliases with #lang stripped and #ntype extracted."""
    names: dict[str, str | None] = {name: None}
    str_aliases = re.sub(r"#lang=[^#|]*", "", aliases or "")
    for alias in str_aliases.split(MULTIVAL):
        m = _NTYPE_RE.search(alias)
        ntype = m.group(1) or None if m else None
        k = _NTYPE_RE.sub("", alias).strip()
        if k and k not in names:
            names[k] = ntype
    return names


@dataclass
class KBBundle:
    """Columnar KB snapshot (1-based ids; index 0 unused): the value of its
    three fields.  The per-row arrays below are derived from ``cols`` on
    first read and cached per process (index 0 carries the neutral value);
    the resolvers index them instead of calling the accessors (~10 calls
    per mention otherwise).  They stay lazy so a raw ``KBBundle(cols=...)``
    over a subset of the columns stays valid.  Equality and pickling see
    the three fields only."""

    cols: dict[str, list]  # column name → list indexed by id
    name_dict: dict[str, frozenset[int]] = field(default_factory=dict)
    nationality_forms: frozenset[str] = frozenset()

    def __getstate__(self):
        # the derived arrays, the per-line memos and the kernel's image
        # handle (_ck_image, ckernel.py) refill per process
        return {"cols": self.cols, "name_dict": self.name_dict,
                "nationality_forms": self.nationality_forms}

    def __setstate__(self, state):
        self.__init__(**state)

    # -- reference accessor surface ------------------------------------
    def n_rows(self) -> int:
        return len(self.cols["name"]) - 1

    # -- derived hot arrays (values identical to the accessors) --------
    @cached_property
    def type_arr(self) -> list:
        """type_arr[line] == get_ent_type(line) for line in 1..n."""
        return [x or "" for x in self.cols["type"]]

    @cached_property
    def score_arr(self) -> list:
        """score_arr[line] == get_score(line) for line in 1..n."""
        return [*map(self.get_score, range(len(self.cols["confidence"])))]

    @cached_property
    def name_arr(self) -> list:
        """name_arr[line] == get_data_for(line, 'NAME')."""
        return [str(x or "") for x in self.cols["name"]]

    @cached_property
    def gender_arr(self) -> list:
        """gender_arr[line] == get_data_for(line, 'GENDER')."""
        return [str(x or "") for x in self.cols["gender"]]

    @cached_property
    def country_arr(self) -> list:
        """country_arr[line] == get_data_for(line, 'COUNTRY')."""
        return [str(x or "") for x in self.cols["country"]]

    @cached_property
    def person_flag_arr(self) -> list:
        """flag[line] == get_ent_type(line) in ('person', 'person:artist',
        'person:fictional') — the exact-person test of entity.py:151-185."""
        pf = ("person", "person:artist", "person:fictional")
        return [t in pf for t in self.type_arr]

    # context-dispatch precomputation for disambiguate_with_context
    # (entity.py:227-245): the per-candidate branch tests only substrings
    # of the frozen type string, so the branch taken is a pure function of
    # the KB line — fold it into one int code + the quirk char.  A geo
    # candidate scores 0 like an empty type (countries{} is never filled,
    # context.py:285-293); organizations and events score alike (the
    # 'organisation' spelling test never passes, context.py:307-310).
    CTX_ZERO, CTX_PERSON, CTX_DATED, CTX_CHAR = range(4)

    @cached_property
    def ctx_kind_arr(self) -> list:
        """kind[line]: which context-percentile branch entity.py:227-245
        takes for this type string (substring tests, in reference order)."""
        return [self.CTX_ZERO if "geo" in t or not t
                else self.CTX_PERSON if "person" in t
                else self.CTX_DATED if "organization" in t or "event" in t
                else self.CTX_CHAR for t in self.type_arr]

    @cached_property
    def ctx_char_arr(self) -> list:
        """char[line]: the single-char bucket key of a CTX_CHAR line, ""
        on any other.  The reference iterates the type's chars and breaks
        on the first one passing ch[:2] != "__" and ch != "__"; for a
        1-char ch both always hold, so it is t[0]."""
        return [t[0] if k == self.CTX_CHAR else ""
                for t, k in zip(self.type_arr, self.ctx_kind_arr)]

    @cached_property
    def artist_flag_arr(self) -> list:
        """flag[line] == 'artist' in type string (entity.py:146-149)."""
        return ["artist" in t for t in self.type_arr]

    @cached_property
    def group_flag_arr(self) -> list:
        """flag[line] == 'group' in type string (entity.py:146-149)."""
        return ["group" in t for t in self.type_arr]

    @cached_property
    def person_sub_flag_arr(self) -> list:
        """flag[line] == 'person' in type string (substring, NOT the exact
        tuple test of person_flag_arr)."""
        return ["person" in t for t in self.type_arr]

    @cached_property
    def geo_sub_flag_arr(self) -> list:
        """flag[line] == 'geo' in type string (context.py:121-126's
        country-bump branch test)."""
        return ["geo" in t for t in self.type_arr]

    @cached_property
    def loc_sub_flag_arr(self) -> list:
        """flag[line] == 'location' in type string (the kernel's twin of
        lang.py's EN sense rules)."""
        return ["location" in t for t in self.type_arr]

    # per-line memos of get_dates, get_nationalities and get_multival:
    # candidates repeat heavily under a Zipf mention distribution, so a
    # line is split once per process, and only when a mention reads it
    _dates_memo = cached_property(lambda self: {})
    _nat_memo = cached_property(lambda self: {})
    _multival_memo = cached_property(lambda self: {})

    def get_ent_type(self, line: int) -> str:
        """Type path STRING; all callers do substring tests (SURVEY §1.4.1)."""
        # hot accessor (~10 calls per mention) — direct indexing, no
        # n_rows() round-trip; index 0 is unused (returns its None → "")
        try:
            if line is None or line < 1:
                return ""
            return self.cols["type"][line] or ""
        except (IndexError, TypeError):
            return ""

    def get_data_for(self, line: int, col_name: str, separator: str | None = None):
        col = HEAD_COLUMNS.get(col_name)
        data = "" if col is None else str(self.cols[col][line] or "")
        if separator:
            return data.split(separator) if data else []
        return data

    def get_score(self, line: int) -> float:
        try:
            return float(self.cols["confidence"][line])
        except (ValueError, TypeError, KeyError, IndexError):
            return 0.0

    def get_dates(self, line: int) -> frozenset[str]:
        c = self._dates_memo.get(line)
        if c is None:
            if "person" in self.get_ent_type(line):
                d = {self.get_data_for(line, "DATE OF BIRTH"),
                     self.get_data_for(line, "DATE OF DEATH")}
                d.discard("")
                c = frozenset(d)
            else:
                c = frozenset()
            self._dates_memo[line] = c
        return c

    def get_nationalities(self, line: int) -> frozenset[str]:
        c = self._nat_memo.get(line)
        if c is None:
            t = self.get_ent_type(line)
            nation: list[str] = []
            if "nationality" in t:
                nation = self.get_data_for(line, "ALIASES", separator=MULTIVAL)
                nation.append(self.get_data_for(line, "NAME"))
                nation.append(self.get_data_for(line, "COUNTRY"))
            elif "person" in t:
                nation = self.get_data_for(line, "NATIONALITIES", separator=MULTIVAL)
            c = frozenset(n.lower() for n in nation if n != "")
            self._nat_memo[line] = c
        return c

    def get_multival(self, line: int, col_name: str) -> tuple[str, ...]:
        """Cached multi-value column split: () when the cell is empty —
        iterating it is behaviour-identical to the reference's guarded
        ``if data: for v in data.split('|')`` and to iterating the raw
        ``''.split('|') == ['']`` (the '' entry never matches anything)."""
        key = (line, col_name)
        c = self._multival_memo.get(key)
        if c is None:
            data = self.get_data_for(line, col_name)
            c = tuple(data.split(MULTIVAL)) if data else ()
            self._multival_memo[key] = c
        return c

    # -- construction ----------------------------------------------------
    @classmethod
    def from_rows(cls, rows: Sequence[dict]) -> "KBBundle":
        """rows: dicts with KB_COLUMNS keys (id = 1-based line number).
        Computes static scores, the subname dict and the nationality forms."""
        n = len(rows)
        cols: dict[str, list] = {c: [None] * (n + 1) for c in KB_COLUMNS}
        cols["confidence"] = [None] * (n + 1)
        cols["score_wiki"] = [None] * (n + 1)
        cols["score_metrics"] = [None] * (n + 1)
        for r in rows:
            i = int(r["id"])
            for c in KB_COLUMNS:
                cols[c][i] = r.get(c, "") if r.get(c) is not None else ""
        bundle = cls(cols=cols)
        compute_static_scores(bundle)
        bundle.name_dict = build_name_dict(bundle)
        bundle.nationality_forms = frozenset(collect_nationality_forms(bundle))
        return bundle


def _norm_cap(value: float, mx: float) -> float:
    if not mx:
        return 1.0
    return min(value / mx, 1.0)


def compute_static_scores(kb: KBBundle) -> None:
    """SCORE WIKI / SCORE METRICS / CONFIDENCE per
    metrics_knowledge_base.py:330-387.  Metrics are normalized by the max of
    the entity's type-set group; backlinks/hits by 0.25·max (capped at 1);
    results rounded to 2 decimals like the reference's "%.2f" storage."""
    def present(v) -> bool:
        # 0 is a non-empty TSV cell ("0"); only None/"" count as missing
        return v is not None and str(v) != ""

    n = kb.n_rows()
    groups: dict[str, dict[str, list[float]]] = {}
    desc_len = [0.0] * (n + 1)
    ncols = [0.0] * (n + 1)
    for i in range(1, n + 1):
        t = kb.get_ent_type(i)
        g = groups.setdefault(t, {})
        desc_len[i] = float(len(kb.get_data_for(i, "DESCRIPTION")))
        ncols[i] = float(
            sum(1 for c in KB_COLUMNS if c != "id" and present(kb.cols[c][i]))
        )
        g.setdefault("columns_number", []).append(ncols[i])
        g.setdefault("description_length", []).append(desc_len[i])
        if present(kb.cols["wiki_backlinks"][i]):
            g.setdefault("wiki_backlinks", []).append(float(kb.cols["wiki_backlinks"][i]))
            g.setdefault("wiki_hits", []).append(float(kb.cols["wiki_hits"][i]))
            g.setdefault("wiki_ps", []).append(float(kb.cols["wiki_ps"][i]))
    maxima = {
        t: {m: max(vals) if vals else 0.0 for m, vals in ms.items()}
        for t, ms in groups.items()
    }
    for i in range(1, n + 1):
        t = kb.get_ent_type(i)
        mx = maxima[t]
        score_wiki = 0.0
        if present(kb.cols["wiki_backlinks"][i]):
            bl = _norm_cap(float(kb.cols["wiki_backlinks"][i]), 0.25 * mx.get("wiki_backlinks", 0.0))
            ht = _norm_cap(float(kb.cols["wiki_hits"][i]), 0.25 * mx.get("wiki_hits", 0.0))
            ps = _norm_cap(float(kb.cols["wiki_ps"][i]), mx.get("wiki_ps", 0.0))
            score_wiki = 100.0 * (5 * bl + 5 * ht + 1 * ps) / 11.0
        dl = _norm_cap(desc_len[i], mx.get("description_length", 0.0))
        cn = _norm_cap(ncols[i], mx.get("columns_number", 0.0))
        score_metrics = 100.0 * (dl + cn) / 2.0
        confidence = (5 * score_wiki + 1 * score_metrics) / 6.0
        kb.cols["score_wiki"][i] = round(score_wiki, 2)
        kb.cols["score_metrics"][i] = round(score_metrics, 2)
        kb.cols["confidence"][i] = round(confidence, 2)


def build_name_dict(kb: KBBundle) -> dict[str, frozenset[int]]:
    """Subname → person KB lines (ner_knowledge_base.initName_dict:132-177):
    NAME + ALIASES through get_normalized_subnames, then deaccent+lower."""
    out: dict[str, set[int]] = {}
    for i in range(1, kb.n_rows() + 1):
        if "person" not in kb.get_ent_type(i):
            continue
        whole = kb.get_data_for(i, "ALIASES", separator=MULTIVAL)
        whole.append(kb.get_data_for(i, "NAME"))
        for nm in get_normalized_subnames(whole):
            key = remove_accent(nm).lower()
            out.setdefault(key, set()).add(i)
    return {k: frozenset(v) for k, v in out.items()}


def collect_nationality_forms(kb: KBBundle) -> set[str]:
    """Surface forms that mark a senseless mention as a nationality
    (entity.py:80-83 via NatLoader; forms come from the KB's nationality
    rows: NAME + ALIASES, original capitalization)."""
    forms: set[str] = set()
    for i in range(1, kb.n_rows() + 1):
        if "nationality" in kb.get_ent_type(i):
            forms.add(kb.get_data_for(i, "NAME"))
            forms.update(a for a in kb.get_data_for(i, "ALIASES", separator=MULTIVAL) if a)
    return forms


# ---------------------------------------------------------------------------
# namelist build (KB compile job, SURVEY §3.3 / M1)
# ---------------------------------------------------------------------------

_UNSUITABLE_CHARS = ';?!()[]{}<>/~@#$%^&*_=+|"\\'


def is_unsuitable_key(key: str, type_str: str,
                      person_unwanted_starts: tuple = EN.person_unwanted_starts
                      ) -> bool:
    """namelist.py:968-1015 (derived_names branch, SURVEY §1.4.5).
    ``person_unwanted_starts`` is language-specific (EN default; pass the
    lang module's table from build_namelist — cs 'Seznam ', sk 'Zoznam ')."""
    for x in _UNSUITABLE_CHARS:
        if x in key:
            return True
    if re.findall(r"[0-9]+", key):
        if re.findall(r"^[0-9 ]+$", key):
            return True
        if "person" in type_str:
            if not re.findall(r"[0-9]+(st|nd|rd|th)", key):
                return True
        elif "geographical" in type_str:
            return True
    if "person" in type_str:
        # language-specific unwanted starts (namelist.py:990-994)
        for unwanted in person_unwanted_starts:
            if key.startswith(unwanted):
                return True
    if re.match(r"^[a-zß-ÿ]", key):
        if "event" in type_str or "geographical" in type_str:
            if " " not in key:
                return True
        elif "person" in type_str and " " in key:
            return True
        elif not ("person" in type_str):
            return True
        elif " " not in key:
            return True
    if len(key) < 2 or len(key) > 80:
        return True
    return False


_WIKI_URL_RE = re.compile(r"^https://[a-z\-]*\.wikipedia\.org/wiki/[^\t]*$")


def wiki_url_lines(kb: KBBundle) -> frozenset[int]:
    """KB line ids whose WIKIPEDIA URL matches the reference's sed pattern
    (filter_namelist.sh: ``https://<xx>.wikipedia.org/wiki/...``; rows whose
    URL cell doesn't match become blank lines in KB.wiki)."""
    out = set()
    for i in range(1, kb.n_rows() + 1):
        if _WIKI_URL_RE.match(kb.get_data_for(i, "WIKIPEDIA URL").strip()):
            out.add(i)
    return frozenset(out)


def filter_namelist_to_wiki(namelist: dict[str, list[int]],
                            wiki_ids: frozenset[int]) -> dict[str, list[int]]:
    """F13 (automata/src/filter_namelist.{sh,py}): namelist rows carrying
    the 'N' fragment marker keep only numeric ids whose KB line has a
    wikipedia URL; the 'N' marker itself (our id 0) is always kept, and
    rows WITHOUT an 'N' link pass through untouched (filter_namelist.sh
    greps the N-rows out, filters them, and merges the rest back)."""
    out: dict[str, list[int]] = {}
    for key, ids in namelist.items():
        if 0 in ids:
            out[key] = [i for i in ids if i == 0 or i in wiki_ids]
        else:
            out[key] = list(ids)
    return out


# autocomplete type classes (namelist.py:29 NONACCENT_TYPES + the
# 'other' bucket; create_cedar.sh:525-528 maps them to p/l/x files)
AUTOCOMPLETE_CLASSES = {"p": "person", "l": "geographical", "x": None}


def build_autocomplete_namelists(
    kb: KBBundle,
    stop_list: "set[str] | None" = None,
    filter_keys: bool = True,
    lang: LangModule = EN,
) -> dict[str, dict[str, list[int]]]:
    """Per-type autocomplete namelists (``-a`` + create_cedar.sh:521-546).

    The reference builds the namelist in the NONACCENT variant (keys
    lowercased + accent-stripped, namelist.py:910-915), tags every entry
    line with its type class (person / geographical / other,
    namelist.py:345-358,941-942), drops fragment lines (the
    ``grep -v "[^;]N"``), then splits into the ``p`` (person-typed
    links), ``l`` (geographical) and ``x`` (all links — ``cut -f2-``
    keeps every class) namelists, each merged by uniq_namelist with the
    usual confidence-descending order.  Pronouns are not added (the
    reference's NONACCENT pronoun block is commented out)."""
    from .textnorm import remove_accent

    base = build_namelist(kb, stop_list=stop_list, filter_keys=filter_keys,
                          add_pronouns=False, add_subname_fragments=False,
                          lang=lang)
    conf_of = kb.get_score
    out: dict[str, dict[str, list[int]]] = {c: {} for c in AUTOCOMPLETE_CLASSES}
    for key, ids in base.items():
        k = remove_accent(key.lower())
        if not k:
            continue
        real = [i for i in ids if i != 0]
        for cls, type_substr in AUTOCOMPLETE_CLASSES.items():
            sub = real if type_substr is None else \
                [i for i in real if type_substr in kb.get_ent_type(i)]
            if not sub:
                continue
            dst = out[cls]
            if k in dst:
                merged = set(dst[k]) | set(sub)
                dst[k] = sorted(merged, key=lambda i: (-conf_of(i), i))
            else:
                dst[k] = sub
    return out


def build_uri_namelist(kb: KBBundle) -> dict[str, list[int]]:
    """URI-mode namelist (``-u``): every URL of every entity becomes a key
    (KB2namelist.process_uri:907-922; URI columns WIKIPEDIA/WIKIDATA/DBPEDIA
    URL + multivalue OTHER URL — our flat KB carries wikipedia_url).  The
    scanner's URI tokenization rule makes each URL one word, so matches are
    whole-URL."""
    out: dict[str, list[int]] = {}
    for i in range(1, kb.n_rows() + 1):
        for u in (kb.get_data_for(i, "WIKIPEDIA URL"),):
            u = (u or "").strip()
            if u:
                out.setdefault(u, [])
                if i not in out[u]:
                    out[u].append(i)
    return out


def build_namelist(
    kb: KBBundle,
    stop_list: set[str] | None = None,
    filter_keys: bool = True,
    add_pronouns: bool = True,
    add_subname_fragments: bool = True,
    lang: LangModule = EN,
    tagged_expanded: "dict | None" = None,
) -> dict[str, list[int]]:
    """Key → ordered KB ids (+ trailing 0 for the 'N' fragment marker);
    keys sorted, so the KB image does not depend on the hash seed.

    Reproduces KB2namelist.py:824-886 (entry generation), namelist key
    filtering, and uniq_namelist.py:44-107 (merge + confidence-descending
    order with deterministic id tie-break, SURVEY §1.4.4).

    ``tagged_expanded`` (cs mode, create_cedar.sh:369): namegen
    tagged-inflection lines as expanded by
    ``inflect.expand_tagged_inflections``; each base name's inflected
    surface forms become namelist keys for the KB rows whose NAME equals
    it, and its subnames join the fragment ('N'-marker) set — the same
    merge/ordering path as every other key.
    """
    from .variants import all_person_variants, geographical_variants

    person_unwanted = lang.person_unwanted_starts
    unwanted_re = _unwanted_match_re(lang.unwanted_match_words)

    # stoplist morphological expansion (create_cedar.sh:421-437): each stop
    # word also blocks its word-wise-capitalized (sed 's/\b\(.\)/\u\1/g'),
    # ALL-UPPER and all-lower variants
    stop_list = {
        v for s in (stop_list or set())
        for v in (s, s.lower(), s.upper(),
                  re.sub(r"\b(\w)", lambda m: m.group(1).upper(), s))
    }
    keys: dict[str, set[int]] = {}
    frag: set[str] = set()

    def add(key: str, line: int, type_str: str) -> None:
        key = re.sub(r"\s+", " ", key).strip()
        if not key:
            return
        if filter_keys and is_unsuitable_key(key, type_str, person_unwanted):
            return
        keys.setdefault(key, set()).add(line)

    for i in range(1, kb.n_rows() + 1):
        t = kb.get_ent_type(i)
        name = kb.get_data_for(i, "NAME")
        aliases = parse_aliases_with_ntypes(name, kb.get_data_for(i, "ALIASES"))
        if "person" in t:
            threshold = 15 if ("artist" in t or kb.get_data_for(i, "FICTIONAL") == "1") else 20
            for alias, _nt in aliases.items():
                add(alias, i, t)
                for v in all_person_variants(alias):  # X14 fan-out
                    add(v, i, t)
            conf = kb.get_score(i)
            if conf >= threshold:
                m = _SURNAME_RE.search(name)
                if m and not unwanted_re.search(name):
                    surname = m.group(0)
                    if surname != name:
                        add(surname, i, t)
            if add_subname_fragments:
                # EN flow: subnames straight from KB names (namelist.py:918-929,
                # KB2namelist.py:531-534); nicknames (#ntype=nick) excluded
                # (namelist.py:541)
                whole = [a for a, nt in aliases.items() if nt not in ("nick", "pseudo")]
                for sub in get_normalized_subnames(whole):
                    frag.add(re.sub(r"\s+", " ", sub).strip())
        elif "nationality" in t:
            # nationality surfaces are fragment-only keys: the reference's
            # nationality list (NatLoader en.txt) reaches figa via stoplisted
            # namelist entries keeping only the 'N' link, so the mention is
            # senseless and the F4 side-channel (entity.py:80-83) can fire
            for alias, _nt in aliases.items():
                frag.add(re.sub(r"\s+", " ", alias).strip())
        else:
            for alias, _nt in aliases.items():
                variants = [alias]
                if "event" in t and len(alias) > 1:
                    variants = [alias[0].upper() + alias[1:], alias[0].lower() + alias[1:]]
                elif "organi" in t:  # organisation/organization both spellings
                    variants = [
                        alias,
                        " ".join(w[0].upper() + w[1:] if len(w) > 1 else w for w in alias.split()),
                    ]
                elif "geographical" in t:
                    variants = [alias] + sorted(geographical_variants(
                        alias, kb.get_data_for(i, "DESCRIPTION"),
                        kb.get_data_for(i, "COUNTRY")))
                for v in variants:
                    add(v, i, t)

    if tagged_expanded is not None:
        by_name: dict[str, list[int]] = {}
        for i in range(1, kb.n_rows() + 1):
            by_name.setdefault(kb.get_data_for(i, "NAME"), []).append(i)
        # surnames are NOT namelist content — the reference routes them to
        # a separate derivatives dump (KB2namelist.py:678);
        # compile_gazetteer folds them into the name gazetteer's name_dict
        for base, (infl, subs, _sur) in tagged_expanded.items():
            for i in by_name.get(base, []):
                t = kb.get_ent_type(i)
                for surface in infl:
                    add(surface, i, t)
            for sub in subs:
                frag.add(re.sub(r"\s+", " ", sub).strip())

    conf_of = {i: kb.get_score(i) for i in range(1, kb.n_rows() + 1)}
    out: dict[str, list[int]] = {}
    for key, ids in keys.items():
        ordered = sorted(ids, key=lambda i: (-conf_of[i], i))
        if key in stop_list:
            continue
        out[key] = ordered
    # fragment keys: 'N' marker → id 0 (uniq_namelist.py:104-107); a key that
    # is both a real surface and a fragment keeps ids + trailing 0
    for f in frag:
        if not f or (filter_keys and (len(f) < 2 or len(f) > 80)):
            continue
        if f in stop_list:
            out[f] = [0]
        elif f in out:
            if out[f][-1] != 0:
                out[f] = out[f] + [0]
        else:
            out[f] = [0]
    if add_pronouns:
        for p in lang.pronouns:
            out.setdefault(p, [0])
            out.setdefault(p.capitalize(), [0])
    return dict(sorted(out.items()))
