"""Per-document mention resolution: disambiguation, context, coreference.

Brand-new code reproducing the observable semantics of the reference's
per-document pipeline (/root/reference/ner.py:576-714 ``recognize`` stages
f-j, /root/reference/ner/entity.py, /root/reference/ner/context.py), for
English.  This module is pure Python over plain data and never dispatches
to native code.  The Spark pipeline resolves each document (the reference's
only inherently sequential stage, SURVEY §2.5 W2) in
``pipeline.ner.resolved_docs``, which runs the compiled twin
(``_resolve_kernel.cpp`` via ``ckernel``) where it covers the configuration
and falls back to :func:`resolve_document` otherwise; :func:`resolve_document`
is also the oracle the kernel's differential fuzz compares against.

Deliberately reproduced reference quirks (they change outputs):

  * type tests are SUBSTRING tests on the type path string
    (ner_knowledge_base.py:289-294, SURVEY §1.4.1);
  * ``Context`` iterates the type string CHAR BY CHAR when creating
    per-paragraph mention-count buckets (context.py:103-140 ``for ent_type
    in ent_type_set`` over a str) — so counts land under the type's last
    character and the only effective 'person' counts are the explicit
    updates in entity.py:253-262; the 'organization', 'event' and
    'settlement' buckets that context.py:301-328 probes never exist;
  * ``Context.countries`` is initialized but never populated
    (context.py:56-58,88), so geo candidates always get context score 0;
  * org/event scoring: entity.py:236-239 passes 'organization' (z) but
    context.py:307-310 compares against 'organisation' (s), so organizations
    are scored with the event START/END columns;
  * candidate order is namelist order — confidence descending, id ascending —
    not Python-set order (SURVEY §1.4.4); ties in score argmax go to the
    earliest candidate (entity.py:251);
  * ``recompute_paragraph_offset`` only walks FORWARD (context.py:165-183),
    so a second ascending sweep over entities that starts after a first one
    reads the last paragraph's stats until it catches up;
  * the artist→drop-groups rule (entity.py:146-149) raises TypeError in the
    shipped reference (str & set); we implement the intended semantics
    (drop candidates whose type contains 'group' when any candidate is an
    artist), as the OrderedSet variant of the same code does.

The reference's proper-noun overlap filter (ner.py:499-547) has no stage
here: with single-spaced proper-noun spans it never drops an entity, which
tests/test_properties.py::test_proper_noun_spans_single_spaced guards.
"""

from __future__ import annotations

import re
from bisect import bisect_right
from functools import lru_cache
from typing import Sequence

from .dates import DateMatch, find_dates
from .kb import KBBundle
from .lang import EN, LangModule
from .textnorm import ncr2unicode, remove_accent_unicode

_PAR_RE = re.compile(r"(\r?\n|\r)\1+")  # ner.py:156
_ALL_SPACES_RE = re.compile(r"^[ ]+$")  # ner.py:556 adjacency gap test
# the fields of a mention row, in the order of its tuple form
ROW_FIELDS = ("start", "end", "par", "kind", "text", "sense", "iso",
              "confidence")


def offsets_of_paragraphs(text: str) -> list[int]:
    """Paragraph start offsets (ner.py:144-157)."""
    out = [0]
    out.extend(m.end() for m in _PAR_RE.finditer(text))
    return out


_MISSING = object()


@lru_cache(maxsize=65536)
def _deaccent_lower(s: str) -> str:
    """Memoized ``remove_accent_unicode(s).lower()`` — mention surfaces
    repeat heavily (Zipf), and this pair is on the per-mention hot path."""
    return remove_accent_unicode(s).lower()


def _ordered_dedup(items) -> list:
    if type(items) is list and len(items) == 2:  # dominant ambiguous case
        a, b = items
        return [a] if a == b else items
    seen = set()
    out = []
    for x in items:
        if x not in seen:
            seen.add(x)
            out.append(x)
    return out


class Mention:
    """A detected mention (the reference's mutable Entity, entity.py:21-86)."""

    __slots__ = (
        "start", "end", "source", "source_lower", "senses",
        "partial_match_senses",
        "candidates", "score", "static_score", "context_score",
        "preferred_sense", "is_coreference", "is_name", "is_nationality",
        "poorly_disambiguated", "next_to_same_type", "begin_of_paragraph",
    )

    def __init__(self, start: int, end: int, fragment: str, ids: Sequence[int]):
        self.start = start
        self.end = end
        self.source = fragment if "&#" not in fragment else ncr2unicode(fragment)
        self.source_lower = self.source.lower()  # hot in pronoun/coref checks
        # sense 0 marks pronoun/fragment (ner.py:417, entity.py:70); order
        # kept = namelist order (confidence desc) per SURVEY §1.4.4
        if len(ids) == 1:  # dominant case — skip the dedup machinery
            self.senses = [] if ids[0] == 0 else [ids[0]]
        else:
            self.senses = _ordered_dedup(s for s in ids if s != 0)
        self.partial_match_senses: frozenset[int] = frozenset()
        self.candidates: list[int] = []
        self.score: list[float] = []
        self.static_score: list[float] = []
        self.context_score: list[float] = []
        self.preferred_sense = None  # int | Mention | None
        self.is_coreference = False
        self.is_name = False
        self.is_nationality = False
        self.poorly_disambiguated = True
        self.next_to_same_type = False
        self.begin_of_paragraph: int | None = None

    # entity.py:103-131 (type-is checks: Mention has no subclasses)
    def set_preferred_sense(self, sense, register: "Register") -> None:
        self.preferred_sense = sense
        if type(sense) is not Mention:
            register.insert(self, sense)

    def has_preferred_sense(self) -> bool:
        return bool(self.preferred_sense)

    def get_preferred_sense(self):
        ps = self.preferred_sense
        return ps.preferred_sense if type(ps) is Mention else ps

    def get_preferred_entity(self) -> "Mention":
        ps = self.preferred_sense
        return ps if type(ps) is Mention else self

    def is_person(self, kb: KBBundle) -> bool:
        if self.is_name:
            return True
        if not self.is_coreference and self.senses:
            return "person" in kb.get_ent_type(self.senses[0])
        return False


class Register:
    """EntityRegister (ner/entity_register.py:6-27).

    Same observable contract as the reference's id↔entity list maps.  The
    forward map (mention → current sense) is the only eagerly-maintained
    structure: one dict write per (re)registration.  The per-sense buckets
    the reference maintains on every insert are built lazily on the first
    ``mentions_of`` call (coreference stage) and kept incremental after —
    the bulk disambiguation sweeps register thousands of mentions that are
    never re-pointed, and bucket ORDER is unobservable anyway: every
    consumer re-sorts by unique (distance, start) keys (mention spans are
    disjoint after remove_shorter_entities, so starts are unique)."""

    def __init__(self) -> None:
        self._id2entity: dict[int | None, dict[int, Mention]] | None = None
        # id(mention) → (mention, current sense); insertion order = first
        # registration (bucket order unobservable, see class docstring)
        self.entity2id: dict[int, tuple[Mention, int | None]] = {}

    def insert(self, m: Mention, sense: int | None) -> None:
        key = id(m)
        e2i = self.entity2id
        old = e2i.get(key)
        if old is not None:
            if old[1] == sense:
                return  # re-point to the same sense: state already exact
            e2i[key] = (m, sense)
            i2e = self._id2entity
            if i2e is not None:
                bucket = i2e.get(old[1])
                if bucket is not None:
                    bucket.pop(key, None)
                b = i2e.get(sense)
                if b is None:
                    i2e[sense] = {key: m}
                else:
                    b[key] = m
            return
        e2i[key] = (m, sense)
        i2e = self._id2entity
        if i2e is not None:
            b = i2e.get(sense)
            if b is None:
                i2e[sense] = {key: m}
            else:
                b[key] = m

    def mentions_of(self, sense) -> list["Mention"]:
        """Mentions currently registered under ``sense``."""
        i2e = self._id2entity
        if i2e is None:  # build all buckets once from the forward map
            i2e = self._id2entity = {}
            for key, (m, s) in self.entity2id.items():
                b = i2e.get(s)
                if b is None:
                    i2e[s] = {key: m}
                else:
                    b[key] = m
        bucket = i2e.get(sense)
        return list(bucket.values()) if bucket else []


class Context:
    """Paragraph statistics + pronoun registers (context.py:40-342)."""

    def __init__(self, entities_and_dates: list, kb: KBBundle, paragraphs: list[int],
                 nationalities: list[Mention], text: str):
        self.kb = kb
        self.paragraphs = list(paragraphs)
        self.mentions: dict[int, dict] = {}
        self.people_in_text: set[int] = set()
        self.people_nationalities: dict[int, list[str]] = {}
        self.people_dates: dict[int, list[str]] = {}
        self.people_professions: dict[int, list[str]] = {}
        # context.py:280-282's per-candidate max-score map is write-only
        self.paragraph_index = 0
        # pronoun registers (context.py:331-342): only the gender ones are
        # ever read, so the other six are not kept
        self.last_male = None
        self.last_female = None
        self.last_unknown_gender = None
        # static-percentile memo caches: everything the percentile fns read
        # except the 'person' mention bucket is frozen once __init__ ends,
        # so per-(paragraph, candidate) results/partials are exact to reuse
        self._pp_static: dict = {}
        self._dated_cache: dict = {}
        self._cp_cache: dict = {}
        # running per-paragraph total of the 'person' mention bucket — the
        # bucket has exactly one writer (disambiguate_with_context's tail),
        # which bumps this alongside, so total == sum(bucket.values())
        self._person_total: dict[int, int] = {}
        # hot KB arrays pinned once per Context (update() runs per mention;
        # disambiguate_with_context reads the last five once per mention)
        self._tarr = kb.type_arr
        self._garr = kb.gender_arr
        self._sarr = kb.score_arr
        self._kinds = kb.ctx_kind_arr
        self._kchars = kb.ctx_char_arr
        self._psub = kb.person_sub_flag_arr
        self._names = kb.name_arr

        bounds = self.paragraphs + [2**62]
        ent_index = 0
        nat_index = 0
        n_ed = len(entities_and_dates)
        n_nat = len(nationalities)
        tarr = self._tarr
        geoflag = kb.geo_sub_flag_arr
        countries_arr = kb.country_arr
        names = self._names
        for pi, par in enumerate(self.paragraphs):
            buckets = self.mentions[par] = {}
            par_nats = self.people_nationalities[par] = []
            par_dates = self.people_dates[par] = []
            par_profs = self.people_professions[par] = []
            nxt = bounds[pi + 1]
            while nat_index < n_nat and nationalities[nat_index].start < nxt:
                name = nationalities[nat_index].source
                if name not in par_nats:
                    par_nats.append(name)
                nat_index += 1
            par_text = None  # sliced lazily, once per paragraph
            tseen: dict = {}  # type string → its count bucket (post-seed)
            probed: set = set()  # candidates whose ROLES already probed
            #   this paragraph — a re-probe is idempotent (dedup below)
            while ent_index < n_ed and entities_and_dates[ent_index].start < nxt:
                ent = entities_and_dates[ent_index]
                if type(ent) is Mention:  # else: DateMatch (only 2 classes)
                    ent.begin_of_paragraph = par
                    if not ent.poorly_disambiguated:
                        pref = ent.preferred_sense
                        if type(pref) is Mention:
                            pref = pref.preferred_sense
                        t = tarr[pref]  # pref is a KB line id ≥ 1 here
                        bucket = tseen.get(t)
                        if bucket is None:
                            # char quirk (context.py:109-111): the counts go
                            # under the last char; the other chars' buckets
                            # stay empty, which scores as a missing one
                            bucket = buckets.setdefault(t[-1] if t else "", {})
                            tseen[t] = bucket
                        name = names[pref]
                        bucket[name] = bucket.get(name, 0) + 1
                        if geoflag[pref]:
                            country = countries_arr[pref]
                            if country:
                                bucket[country] = bucket.get(country, 0) + 1
                            # context.py:126 also bumps country_sum; it is
                            # never read (countries{} never populated) — no-op
                    elif ent.has_preferred_sense():
                        if par_text is None:
                            par_text = text[par:nxt if nxt < 2**62 else len(text)]
                        for c in ent.candidates:
                            if c in probed:
                                continue
                            probed.add(c)
                            if self._psub[c]:
                                for p in kb.get_multival(c, "ROLES"):
                                    if par_text.find(p) != -1 and p not in par_profs:
                                        par_profs.append(p)
                elif type(ent) is DateMatch:
                    par_dates.append(ent.iso.show_without_zeros())
                ent_index += 1

    # context.py:165-183 — forward-only walk (quirk, see module docstring)
    def recompute_paragraph_offset(self, start: int) -> None:
        if self.paragraph_index + 1 >= len(self.paragraphs):
            return
        if self.paragraphs[self.paragraph_index] <= start < self.paragraphs[self.paragraph_index + 1]:
            return
        pi = self.paragraph_index
        while pi + 1 < len(self.paragraphs) and self.paragraphs[pi + 1] <= start:
            pi += 1
        self.paragraph_index = pi

    # context.py:185-207 — only the person branch writes a register that
    # is read (the gender ones); the substring test is folded into the
    # precomputed per-line flag array (None and the names' pseudo ids < 1
    # have type "", get_ent_type)
    def update(self, entity: Mention) -> None:
        pref = entity.preferred_sense
        if type(pref) is Mention:
            pref = pref.preferred_sense
        if type(pref) is not int or pref < 1 or not self._psub[pref]:
            return
        gender = self._garr[pref]
        if gender == "M":
            self.last_male = entity
            self.last_unknown_gender = None
        elif gender == "F":
            self.last_female = entity
            self.last_unknown_gender = None
        else:
            self.last_unknown_gender = entity

    # context.py:209-224 — every caller left probes one name
    def mentioned_in_par(self, name: str, field: str) -> float:
        par = self.paragraphs[self.paragraph_index]
        bucket = self.mentions[par].get(field)
        if bucket and bucket.get(name):
            return bucket[name] * 100.0 / sum(bucket.values())
        return 0.0

    # context.py:227-283
    def person_percentile(self, candidate: int) -> float:
        par = self.paragraphs[self.paragraph_index]
        # nat/date/prof read only paragraph lists frozen at __init__; the
        # mention part reads the (mutable) 'person' bucket — so the static
        # partial sum is cached per (paragraph, candidate) and the mention
        # score recomputed each call.  Float association preserved:
        # ((nat+date)+prof)+mention exactly as the inline sum.
        key = (par, candidate)
        static = self._pp_static.get(key)
        if static is None:
            nat_score = 0.0
            person_nats = self.kb.get_nationalities(candidate)
            for nat in self.people_nationalities[par]:
                if nat in person_nats:
                    nat_score += 1
            if self.people_nationalities[par]:
                nat_score = nat_score * 100.0 / len(self.people_nationalities[par])
            date_score = 0.0
            person_dates = self.kb.get_dates(candidate)
            for cd in self.people_dates[par]:
                for pd in person_dates:
                    if cd.find(pd) > -1 or pd.find(cd) > -1:
                        date_score += 1
            if self.people_dates[par]:
                date_score = date_score * 100.0 / len(self.people_dates[par])
            prof_score = 0.0
            # reference quirk preserved: the unguarded split yields [''] for
            # an empty ROLES cell, and '' CAN appear in the collected
            # professions (a malformed 'actor||' cell collects '' because
            # find('') == 0) — an empty-ROLES candidate still probes with ''
            for prof in self.kb.get_multival(candidate, "ROLES") or ("",):
                if prof in self.people_professions[par]:
                    prof_score += 1
            if self.people_professions[par]:
                prof_score = prof_score * 100.0 / len(self.people_professions[par])
            static = nat_score + date_score + prof_score
            self._pp_static[key] = static
        # inline of mentioned_in_par([name], "person") — 1-element probe;
        # denominator from the running total (== sum(bucket.values()))
        mention_score = 0.0
        bucket = self.mentions[par].get("person")
        if bucket:
            cnt = bucket.get(self._names[candidate])
            if cnt:
                mention_score = cnt * 100.0 / self._person_total[par]
        return (static + mention_score) / 4.0

    # context.py:285-293: the country score reads countries{}, which is
    # never populated (quirk) — constant 0, so geo candidates are CTX_ZERO

    # context.py:294-299
    def common_percentile(self, candidate: int, ent_type: str) -> float:
        # ent_type is a single type-string char here (caller quirk), never
        # 'person' — the bucket it reads is frozen → result cacheable
        key = (self.paragraphs[self.paragraph_index], candidate, ent_type)
        r = self._cp_cache.get(key)
        if r is None:
            r = self.mentioned_in_par(self._names[candidate], ent_type)
            self._cp_cache[key] = r
        return r

    # context.py:301-328: the org/event score's name and place probes read
    # 'organization'/'event'/'settlement' buckets that are never made (char
    # quirk) and its FOUNDED/CANCELLED branch needs the 'organisation'
    # spelling no caller passes — the date score over START/END is left
    def dated_percentile(self, candidate: int) -> float:
        par = self.paragraphs[self.paragraph_index]
        # reads only frozen paragraph dates — cacheable per (par, candidate)
        key = (par, candidate)
        r = self._dated_cache.get(key)
        if r is not None:
            return r
        ds = [self.kb.get_data_for(candidate, "START"),
              self.kb.get_data_for(candidate, "END")]
        date_score = 0.0
        for cd in self.people_dates[par]:
            for od in ds:
                if cd and od and (cd.find(od) > -1 or od.find(cd) > -1):
                    date_score += 1
        if self.people_dates[par]:
            date_score = date_score * 100.0 / len(self.people_dates[par])
        r = date_score / 3.0
        self._dated_cache[key] = r
        return r


# ---------------------------------------------------------------------------
# disambiguation (entity.py:134-262) + EN sense rules (en/entity.py:12-25)
# ---------------------------------------------------------------------------

def _right_context(text: str, m: Mention, s: str) -> bool:
    return text[m.end:m.end + len(s)] == s if m.end + len(s) <= len(text) else False


def _left_context(text: str, m: Mention, s: str) -> bool:
    return text[m.start - len(s):m.start] == s if m.start - len(s) >= 0 else False


def _right_sentence(text: str, m: Mention) -> str:
    """Parenthesis-skipping sentence tail (entity.py:399-413).
    Fast path slices only up to the first dot (find on the original
    string, no whole-tail copy — the tail is O(doc) per mention)."""
    dot = text.find(".", m.end)
    head = text[m.end:] if dot == -1 else text[m.end:dot + 1]
    if "(" not in head and ")" not in head:  # fast path: nothing to skip
        return head
    depth = 0
    out = []
    for ch in text[m.end:]:
        if ch == ")":
            depth -= 1
        elif ch == "(":
            depth += 1
        elif not depth:
            out.append(ch)
            if ch == ".":
                break
    return "".join(out)


def disambiguate_without_context(m: Mention, kb: KBBundle, text: str,
                                 register: Register,
                                 lang: LangModule = EN) -> None:
    """entity.py:134-207."""
    if m.source_lower in lang.pronouns or m.partial_match_senses:
        m.is_coreference = True
        return
    if lang.sense_rules:
        lang.sense_rules(m, kb, text)

    # artist → exclude groups (intended semantics; see module docstring);
    # substring tests folded into per-KB flag arrays
    aflag = kb.artist_flag_arr
    for s in m.senses:
        if aflag[s]:
            gflag = kb.group_flag_arr
            m.senses = [x for x in m.senses if not gflag[x]]
            break

    # verb + JOBS elimination (entity.py:151-185).  The sentence/verb scan
    # has no side effects and professions can only come from person-typed
    # senses, so skip it entirely when no sense is person-typed (the
    # reference computes it unconditionally; results are identical).
    verb_index = -1
    pflag = kb.person_flag_arr
    if any(pflag[s] for s in m.senses):
        sentence = _right_sentence(text, m)
        for verb in lang.verbs:
            verb_index = sentence.find(verb)
            if verb_index != -1:
                break
    if verb_index != -1:
        professions: list[str] = []
        for s in m.senses:
            if pflag[s]:
                cand = [p for p in kb.get_multival(s, "JOBS")
                        if sentence.find(" " + p + " ", verb_index) != -1]
                if cand:
                    professions = cand
                    break
        if professions:
            new_senses = []
            for s in m.senses:
                if pflag[s]:
                    # unguarded split in the reference: '' JOBS yields ['']
                    for p in kb.get_multival(s, "JOBS") or ("",):
                        if p in professions:
                            new_senses.append(s)
                            break
            m.senses = new_senses

    if len(m.senses) > 1:  # 0/1-sense dedup is the identity
        m.senses = _ordered_dedup(m.senses)
    m.candidates = list(m.senses)
    if not m.candidates:
        return
    if len(m.candidates) == 1:
        m.set_preferred_sense(m.candidates[0], register)
        m.poorly_disambiguated = False
    elif m.score == []:
        m.set_preferred_sense(m.candidates[0], register)
    if not m.has_preferred_sense():  # dead in practice (entity.py:197-207)
        for c in m.candidates:
            st = kb.get_score(c)
            m.static_score.append(st)
            m.score.append(st)
        m.set_preferred_sense(m.candidates[m.score.index(max(m.score))], register)


def disambiguate_with_context(m: Mention, kb: KBBundle, ctx: Context, register: Register) -> None:
    """entity.py:209-262."""
    cands = m.candidates
    if m.is_coreference or not cands:
        return
    ctx.recompute_paragraph_offset(m.start)
    # branch choice is a pure function of the candidate's frozen type
    # string — precomputed once per KB (ctx_kind_arr) instead of 4
    # substring scans per candidate per mention; arrays pinned on ctx
    sarr = ctx._sarr
    kinds = ctx._kinds
    kchars = ctx._kchars
    K_PERSON, K_DATED, K_CHAR = (KBBundle.CTX_PERSON, KBBundle.CTX_DATED,
                                 KBBundle.CTX_CHAR)
    if len(cands) == 1:
        # dominant case (99% of dense-corpus mentions): one candidate.
        # Same arithmetic and same observable state as the general loop
        # below with cands == [c] — argmax of one is c, and the explicit
        # per-paragraph person bump is len(cands) != 1 by definition.
        c = cands[0]
        context_score = 0.0
        k = kinds[c]
        if k == K_PERSON:
            context_score = ctx.person_percentile(c)
        elif k == K_DATED:
            context_score = ctx.dated_percentile(c)
        elif k == K_CHAR:
            context_score = ctx.common_percentile(c, kchars[c])
        if context_score > 0:
            m.poorly_disambiguated = False
        static = sarr[c]
        m.static_score = [static]
        m.context_score = [context_score]
        m.score = [static + context_score]
        m.set_preferred_sense(c, register)
        return
    score: list[float] = []
    static_score: list[float] = []
    context_score_l: list[float] = []
    poorly = m.poorly_disambiguated
    for c in cands:
        static = sarr[c]
        context_score = 0.0
        k = kinds[c]
        # CTX_ZERO (geo or empty type) scores 0, so nothing runs for it
        if k == K_PERSON:
            context_score = ctx.person_percentile(c)
        elif k == K_DATED:
            context_score = ctx.dated_percentile(c)
        elif k == K_CHAR:  # char iteration quirk (entity.py:241-245)
            context_score = ctx.common_percentile(c, kchars[c])
        if context_score > 0:
            poorly = False
        static_score.append(static)
        context_score_l.append(context_score)
        score.append(static + context_score)
    m.poorly_disambiguated = poorly
    m.score = score
    m.static_score = static_score
    m.context_score = context_score_l
    pref = cands[score.index(max(score))]
    m.set_preferred_sense(pref, register)

    # explicit per-paragraph person count update (entity.py:253-262)
    if ctx._psub[pref] and len(cands) != 1:
        name = ctx._names[pref]
        par = ctx.paragraphs[ctx.paragraph_index]
        bucket = ctx.mentions[par].setdefault("person", {})
        bucket.setdefault(name, 0)
        bucket[name] += 1
        ctx._person_total[par] = ctx._person_total.get(par, 0) + 1


# ---------------------------------------------------------------------------
# coreference (ner.py:333-375, entity.py:269-352)
# ---------------------------------------------------------------------------

def _is_location_coreference(m: Mention, text: str,
                             lang: LangModule = EN) -> bool:
    """en/entity.py:23-25 for EN; the base class returns False
    (ner/entity.py:265-266) — languages without the hook suppress nothing."""
    return bool(lang.location_coref) and lang.location_coref(m, text)


def resolve_pronoun_coreference(m: Mention, kb: KBBundle, ctx: Context,
                                register: Register, text: str,
                                lang: LangModule = EN) -> None:
    """entity.py:269-352 (gender-register state machine, kept verbatim in
    behavior including the promote-unknown-gender moves)."""
    if _is_location_coreference(m, text, lang):
        return
    ptype = lang.pronouns[m.source_lower]
    bop = m.begin_of_paragraph if m.begin_of_paragraph is not None else 0
    if "M" in ptype:
        if ctx.last_unknown_gender:
            ctx.last_male = ctx.last_unknown_gender
            ctx.last_unknown_gender = None
        if ctx.last_male and ctx.last_male.start >= bop:
            m.set_preferred_sense(ctx.last_male.get_preferred_entity(), register)
    elif "F" in ptype:
        if ctx.last_unknown_gender:
            ctx.last_female = ctx.last_unknown_gender
            ctx.last_unknown_gender = None
        if ctx.last_female and ctx.last_female.start >= bop:
            m.set_preferred_sense(ctx.last_female.get_preferred_entity(), register)


def _get_nearest_predecessor(m: Mention, candidates) -> Mention | None:
    """ner.py:378-387 — smallest positive start-offset distance."""
    for c in sorted(candidates, key=lambda c: m.start - c.start):
        if m.start - c.start > 0:
            return c
    return None


def _get_nearest_entity_sense(m: Mention, candidates: list[Mention]):
    """ner.py:390-398 — min |Δstart|, returns the raw preferred_sense."""
    best = sorted(candidates, key=lambda c: (abs(m.start - c.start), c.start))[0]
    return best.preferred_sense


def fix_poor_disambiguation(entities: list[Mention], kb: KBBundle,
                            register: Register) -> None:
    """ner.py:177-208."""
    strong: dict[str, list[Mention]] = {}
    strong_by_id: dict[int, list[Mention]] = {}
    ents = [e for e in entities if not e.is_coreference]
    for e in ents:
        if not e.poorly_disambiguated:
            ps = e.preferred_sense
            if type(ps) is Mention:
                ent, sense = ps, ps.preferred_sense
            else:
                ent, sense = e, ps
            strong.setdefault(e.source, []).append(ent)
            strong_by_id.setdefault(sense, []).append(ent)
    for e in ents:
        if e.poorly_disambiguated:
            candidates: list[Mention] = []
            for s in e.senses:
                if s in strong_by_id:
                    candidates += strong_by_id[s]
            if candidates:
                e.set_preferred_sense(_get_nearest_entity_sense(e, candidates), register)
                e.poorly_disambiguated = False
            elif e.source in strong:
                e.set_preferred_sense(_get_nearest_entity_sense(e, strong[e.source]), register)
                e.poorly_disambiguated = False


def resolve_coreferences(entities: list[Mention], kb: KBBundle, ctx: Context,
                         register: Register, text: str,
                         lang: LangModule = EN,
                         print_all: bool = False) -> None:
    """ner.py:333-375.  ``print_all`` (-a) skips the whole resolution body
    — partial-match senses stay unfiltered and corefs stay unresolved
    (ner.py:350 ``if not print_all``); the people_in_text fill and the
    ``ctx.update`` register pass still run in every mode."""
    psub = kb.person_sub_flag_arr
    sarr = kb.score_arr
    people_in_text = ctx.people_in_text
    for e in entities:
        ps = e.preferred_sense
        if not e.is_coreference and ps:
            pref = ps.preferred_sense if type(ps) is Mention else ps
            if type(pref) is int and pref >= 1 and psub[pref]:
                people_in_text.add(pref)
    for e in entities:
        if e.is_coreference and not print_all:
            e.partial_match_senses = frozenset(
                s for s in e.partial_match_senses if s in people_in_text)
            if e.partial_match_senses:
                sense = sorted(e.partial_match_senses,
                               key=lambda c: (-sarr[c], c))[0]
                candidates = register.mentions_of(sense)
                if not e.source_lower.startswith("the "):
                    lo = _deaccent_lower(e.source)
                    candidates = [c for c in candidates
                                  if lo in _deaccent_lower(c.source)]
                antecedent = _get_nearest_predecessor(e, candidates)
                if antecedent:
                    e.set_preferred_sense(antecedent, register)
                elif e.senses:
                    e.is_coreference = False
                    e.partial_match_senses = frozenset()
                    disambiguate_without_context(e, kb, text, register, lang)
                    disambiguate_with_context(e, kb, ctx, register)
            elif e.source_lower in lang.pronouns:
                resolve_pronoun_coreference(e, kb, ctx, register, text, lang)
            elif e.senses:
                e.is_coreference = False
                disambiguate_without_context(e, kb, text, register, lang)
                disambiguate_with_context(e, kb, ctx, register)
        if e.preferred_sense:
            ctx.update(e)


# ---------------------------------------------------------------------------
# relational filters (ner.py:161-174, 484-573)
# ---------------------------------------------------------------------------

@lru_cache(maxsize=64)
def _proper_noun_rx(preps_set: frozenset) -> "re.Pattern":
    preps = "".join(r"| {}".format(re.escape(p)) for p in sorted(preps_set))
    return re.compile(
        r"(?<!\. |\? |! |: |\s{2})[A-Z][A-Za-z'\-]*( [A-Z][A-Za-z'\-]*"
        + preps + r")* [A-Z][A-Za-z'\-]*")


def find_proper_nouns(text: str,
                      preps_set: frozenset = None) -> list[tuple[int, int]]:
    """ner.py:161-174, with an empty title list (no caller sets one)."""
    if preps_set is None:
        preps_set = EN.proper_nouns_preps
    return [pn.span() for pn in _proper_noun_rx(preps_set).finditer(text)
            if pn.start() != 0]


def remove_shorter_entities(mentions: list[Mention]) -> list[Mention]:
    """ner.py:484-496 — first-come occupancy over [start, end] char spans.

    Interval formulation of the reference's char-set algebra (a span
    intersects the occupied set iff it intersects some kept interval);
    kept intervals are disjoint and bisect-indexed, so this is O(n log n)
    instead of O(total mention chars)."""
    kept_starts: list[int] = []
    kept_ends: list[int] = []
    out = []
    for e in mentions:
        s, t = e.start, e.end  # inclusive occupancy, matching range(s, t+1)
        idx = bisect_right(kept_starts, t)
        # intervals with start ≤ t: only the rightmost can reach s (disjoint)
        if idx > 0 and kept_ends[idx - 1] >= s:
            continue
        kept_starts.insert(idx, s)
        kept_ends.insert(idx, t)
        out.append(e)
    return out


def remove_nearby_entities(entities: list[Mention], kb: KBBundle, text: str,
                           lang: LangModule = EN) -> list[Mention]:
    """ner.py:549-573 — adjacent same-type person/location pairs dropped.
    NB the reference wraps get_ent_type in a 1-element set, so the
    {'person','location'} test is EQUALITY with the full type string."""
    pronouns = lang.pronouns
    for i in range(1, len(entities)):
        ent, bef = entities[i], entities[i - 1]
        if ent.preferred_sense and ent.source_lower not in pronouns:
            if bef.preferred_sense and bef.source_lower not in pronouns:
                if _ALL_SPACES_RE.search(text[bef.end:ent.start]):
                    # the reference wraps each type in a 1-element set, so
                    # {'person','location'} & (t1 & t2) is EQUALITY of the
                    # full type strings + membership — rewritten directly
                    t1 = kb.get_ent_type(ent.get_preferred_sense())
                    if t1 in ("person", "location") \
                            and kb.get_ent_type(bef.get_preferred_sense()) == t1:
                        ent.next_to_same_type = True
                        bef.next_to_same_type = True
    return [e for e in entities if not e.next_to_same_type]


# ---------------------------------------------------------------------------
# unknown-name discovery (-n mode: ner.py:211-283 add_unknown_names;
# candidates come from the capitalized proper-noun regex with possessive
# strip, name_recognizer/process_outputs.py:589-598, PLUS a KB-derived
# name gazetteer mirroring the reference's name automaton — see
# _gazetteer_name_spans)
# ---------------------------------------------------------------------------

# capitalized word token at a word boundary (mid-word capitals like
# "iPhone"'s P must not start a token)
_NAME_TOKEN_RX = re.compile(r"(?<![^\W\d_'])[A-Z][A-Za-z'\-]*")


def _gazetteer_name_spans(text: str, name_dict: dict) -> list[tuple[int, int]]:
    """KB-derived name-gazetteer candidates for -n: maximal runs of ≥ 2
    consecutive capitalized tokens (single-space separated) whose
    lowercased form is a person-subname key of the KB name dict
    (ner_knowledge_base.initName_dict — the same keyspace the
    partial-match coref stage joins on).

    This mirrors the reference's dedicated name recognizer — figa over a
    names ``.fsa`` compiled from first/last-name lists
    (name_recognizer/name_recognizer.py:19-60, process_outputs.py) —
    with the KB's own NAME/ALIASES subnames standing in for its external
    data lists, which are absent from the reference tree.  Unlike the
    positional proper-noun regex (ner.py:161-174, offset-0 and
    post-punctuation spans excluded), a gazetteer run may open a
    sentence: two consecutive known person subnames are list evidence
    that outweighs the position heuristic.  ``text`` must be the same
    deaccented string the regex path scans so spans align."""
    spans: list[tuple[int, int]] = []
    run_start = run_end = -1
    n_toks = 0
    for m in _NAME_TOKEN_RX.finditer(text):
        known = m.group().lower() in name_dict
        if (known and n_toks and m.start() == run_end + 1
                and text[run_end] == " "):
            run_end = m.end()
            n_toks += 1
            continue
        if n_toks >= 2:
            spans.append((run_start, run_end))
        if known:
            run_start, run_end, n_toks = m.start(), m.end(), 1
        else:
            n_toks = 0
    if n_toks >= 2:
        spans.append((run_start, run_end))
    return spans


def _name_candidates(text: str, kb: KBBundle | None = None,
                     strict: bool = False) -> list[Mention]:
    deacc = remove_accent_unicode(text)
    spans = find_proper_nouns(deacc)
    if kb is not None and kb.name_dict:
        # gazetteer spans contained in a (maximal) regex span add nothing;
        # the rest join the candidate list in start order so pseudo-sense
        # ids stay deterministic
        extra = [g for g in _gazetteer_name_spans(deacc, kb.name_dict)
                 if not any(s <= g[0] and g[1] <= e for s, e in spans)]
        if extra:
            spans = sorted(set(spans) | set(extra))
    out = []
    for s, e in spans:
        frag = text[s:e]
        if len(frag) > 2 and frag.endswith("'s"):  # possessive strip (F14)
            frag = frag[:-2]
            e -= 2
        m = Mention(s, e, frag, [])
        m.is_name = True
        out.append(m)
    # process_outputs.py analyze() post-filter chain (intent-port, see
    # semantics/names_filter.py; ``strict`` adds the shipped-disabled
    # garbage suppressor with KB-derived lists)
    from .names_filter import postprocess_names

    return postprocess_names(out, text, kb, strict=strict)


def add_unknown_names(entities_and_dates: list, text: str,
                      kb: KBBundle | None = None,
                      strict: bool = False) -> list[Mention]:
    """ner.py:211-283 merge semantics: same-surface names share a pseudo
    sense set (negative ids); candidates equal to / contained in an existing
    entity are dropped; candidates containing an entity absorb its senses
    and replace it; survivors are inserted in start-offset order (W4).
    With ``kb`` the candidate set also draws on the KB-derived name
    gazetteer (_gazetteer_name_spans); the merge semantics above apply
    to both sources identically."""
    name_entities = _name_candidates(text, kb, strict=strict)
    for i, ne in enumerate(name_entities):
        assigned = None
        for j in range(i):
            if ne.source == name_entities[j].source:
                assigned = name_entities[j].senses
                break
        ne.senses = list(assigned) if assigned else [-(i + 1)]

    def _contains(a: Mention, b: Mention) -> bool:
        return (a.start <= b.start and a.end >= b.end
                and b.source in a.source)

    new_names = []
    for ne in name_entities:
        substring = False
        overlaps = []
        for ed in entities_and_dates:
            if not isinstance(ed, Mention):
                continue
            if ((ne.start, ne.end, ne.source) ==
                    (ed.start, ed.end, ed.source)) or _contains(ed, ne):
                substring = True
                break
            elif _contains(ne, ed):
                overlaps.append(ed)
        if substring:
            continue
        if overlaps:
            senses: list[int] = []
            for o in overlaps:
                senses.extend(s for s in o.senses if s not in senses)
                entities_and_dates.remove(o)
            ne.senses = senses
        new_names.append(ne)

    for nne in new_names:
        # quirk mirrored: when entities_and_dates is empty the reference's
        # range(0) loop never runs and the name is silently dropped
        # (ner.py:271-283); names only ever join a non-empty list
        for i in range(len(entities_and_dates)):
            if i == len(entities_and_dates) - 1:
                entities_and_dates.append(nne)
                break
            elif (nne.start >= entities_and_dates[i].start
                    and nne.start < entities_and_dates[i + 1].start):
                entities_and_dates.insert(i + 1, nne)
                break
            elif nne.start < entities_and_dates[0].start:
                entities_and_dates.insert(0, nne)
                break
    return new_names


def adjust_coreferences(entities_and_dates: list, new_names: list[Mention],
                        kb: KBBundle, register: Register,
                        lang: LangModule = EN) -> None:
    """ner.py:286-332 — after unknown-name discovery, re-point pronoun
    coreferences that currently resolve to the PREVIOUS person entity onto
    a discovered name standing between them and the NEXT person entity.

    Reference quirks mirrored exactly:
      * ``if i_next == None: break`` aborts processing of ALL remaining
        names, not just this one;
      * ``if not i_prev`` treats a person antecedent at list index 0 as
        absent (falsy index);
      * the comparison uses the name's first sense and the previous
        person's first raw sense."""
    ed = entities_and_dates
    if not ed:
        return
    ed_size = len(ed)
    for n in new_names:
        index = None
        for i in range(ed_size):
            if ed[i] is n:
                index = i
                break
        if index is None:  # defensive: names are inserted above
            continue
        i_next = None
        for i in range(index + 1, ed_size):
            if isinstance(ed[i], Mention) and ed[i].is_person(kb):
                i_next = i
                break
        i_prev = None
        for i in range(index - 1, -1, -1):
            if isinstance(ed[i], Mention) and ed[i].is_person(kb):
                i_prev = i
                break
        if i_next is None:
            break  # reference: break, not continue (ner.py:311)
        if ed[i_next].is_name:
            continue
        for i in range(index + 1, i_next):
            e = ed[i]
            if (isinstance(e, Mention) and e.is_coreference
                    and e.source_lower in lang.pronouns):
                if not n.senses:
                    continue
                sense = e.get_preferred_sense()
                n_sense = n.senses[0]
                if not i_prev:
                    e.set_preferred_sense(n_sense, register)
                elif (ed[i_prev].senses and sense == ed[i_prev].senses[0]
                        and sense != n_sense):
                    e.set_preferred_sense(n_sense, register)


# ---------------------------------------------------------------------------
# the per-document driver (recognize stages b-k, ner.py:576-714)
# ---------------------------------------------------------------------------

def stage_diff_tracer(out=None, fmt=None):
    """Build a ``trace`` callback for :func:`resolve_document` that emits a
    unified diff of the (start-sorted) mention list after every stage that
    changed it — the intent-port of the reference's
    ``debugChangesInEntities`` (ner.py:598-608: ``difflib.unified_diff``
    of the before/after entity strings, n=0, written to stderr via
    libs/debug.py).  Divergence from the shipped form, documented: the
    reference keys its snapshot in a module global and renders via
    ``Entity.__str__``; this tracer is a closure (re-entrant across docs)
    and renders a stable ``start end kind source sense`` line per mention.

    Returns ``(trace, log)``: ``trace`` for resolve_document, ``log`` a
    list of ``(stage, diff_text)`` also written to ``out`` (default
    stderr)."""
    import difflib
    import sys as _sys

    if fmt is None:
        def fmt(e):
            if type(e) is DateMatch:
                return (f"{e.start} {e.end} date {e.source!r} "
                        f"{e.iso.iso() if e.iso else None}")
            kind = ("coref" if e.is_coreference
                    else "name" if getattr(e, "is_name", False) else "kb")
            return (f"{e.start} {e.end} {kind} {e.source!r} "
                    f"{e.get_preferred_sense()}")
    stream = out if out is not None else _sys.stderr
    last: list[str] = []
    log: list[tuple[str, str]] = []

    def trace(stage: str, entities) -> None:
        nonlocal last
        now = [fmt(e) + "\n"
               for e in sorted(entities, key=lambda x: x.start)]
        diff = "".join(difflib.unified_diff(
            last, now, fromfile="before", tofile="after", n=0))
        if diff:
            log.append((stage, diff))
            stream.write(f"{stage}:\n'''\n{diff}'''\n")
        last = now

    return trace, log


def resolve_document(
    text: str,
    matches: Sequence[tuple[Sequence[int], int, int, str]],
    kb: KBBundle,
    find_names: bool = False,
    mode: str = "default",
    lang: LangModule = EN,
    as_tuples: bool = False,
    names_strict: bool = False,
    trace=None,
) -> list:
    """Run stages b-k on one (sanitized) document.

    ``matches``: automaton output — (ids, start, end, fragment) in emission
    order.  Returns the final mention rows:
    ``{start, end, kind: kb|coref|date, text, sense, iso, confidence}``
    mirroring the reference's output line (entity.py:357-388, dates:
    Date.__str__).

    ``as_tuples=True`` returns the same rows as positional 8-tuples in
    :data:`ROW_FIELDS` order instead of dicts — the shape the Spark UDF
    flattens to anyway (pipeline/ner.py); only ``mode='default'``
    supports it (score/-a carry extra cand fields).  A dict row is
    ``dict(zip(ROW_FIELDS, row))`` plus those extras; field-for-field
    equality of the two forms is pinned in tests/test_resolve.py.

    ``trace``: optional ``trace(stage_name, entities)`` callback invoked
    after each resolution stage with the live mention list — the
    intent-port of the reference's ``debugChangesInEntities`` stage-diff
    instrumentation (ner.py:598-608, libs/debug.py); pair with
    :func:`stage_diff_tracer` for the reference's unified-diff-to-stderr
    rendering.  For debugging only.
    """
    if as_tuples and mode != "default":
        raise ValueError("as_tuples supports mode='default' only")
    register = Register()
    global_senses: set[int] = set()
    figa_entities: list[Mention] = []
    named_get = kb.name_dict.get  # subname lookup (ner_knowledge_base:346-351)
    _EMPTY = frozenset()
    nationality_forms = kb.nationality_forms
    for ids, start, end, fragment in matches:
        m = Mention(start, end, fragment, ids)
        global_senses.update(m.senses)
        if not m.senses and m.source in nationality_forms:
            m.is_nationality = True  # entity.py:80-83
        m.partial_match_senses = named_get(
            _deaccent_lower(m.source), _EMPTY)  # already a frozenset
        figa_entities.append(m)

    for e in figa_entities:  # ner.py:627-628
        if e.partial_match_senses:
            e.partial_match_senses = e.partial_match_senses & global_senses

    if trace:
        trace("figa_entities", figa_entities)
    figa_entities = remove_shorter_entities(figa_entities)
    if trace:
        trace("remove_shorter_entities", figa_entities)

    nationalities: list[Mention] = []
    entities: list[Mention] = []
    for e in figa_entities:  # ner.py:635-641
        if e.is_nationality:
            nationalities.append(e)
        elif e.senses or e.partial_match_senses or e.source_lower in lang.pronouns:
            entities.append(e)

    dates_found = find_dates(text)
    # date–entity overlap (ner.py:648-651) via interval bisect: entity
    # spans are disjoint after remove_shorter_entities, so a date overlaps
    # iff the rightmost entity starting at or before its end reaches back
    # to its start (inclusive ranges on both sides, as in the char sets)
    iv = sorted((e.start, e.end) for e in entities)
    iv_starts = [s for s, _ in iv]
    kept_dates = []
    for d in dates_found:
        idx = bisect_right(iv_starts, d.end)
        if not (idx > 0 and iv[idx - 1][1] >= d.start):
            kept_dates.append(d)
    dates_found = kept_dates

    # both inputs are already start-ascending (automaton emission order /
    # regex scan order): concatenation + timsort is an O(n) run-merge, and
    # with no dates the sort is skipped outright
    if dates_found:
        entities_and_dates: list = list(dates_found) + list(entities)
        entities_and_dates.sort(key=lambda x: x.start)
    else:
        entities_and_dates = list(entities)

    for e in entities:
        disambiguate_without_context(e, kb, text, register, lang)
    if trace:
        trace("disambiguate_without_context", entities)

    paragraphs = offsets_of_paragraphs(text)
    ctx = Context(entities_and_dates, kb, paragraphs, nationalities, text)
    for e in entities:  # ner.py:665-666
        disambiguate_with_context(e, kb, ctx, register)
    if trace:
        trace("disambiguate_with_context", entities)
    fix_poor_disambiguation(entities, kb, register)
    if trace:
        trace("fix_poor_disambiguation", entities)
    ctx = Context(entities_and_dates, kb, paragraphs, nationalities, text)

    name_corefs = [e for e in entities
                   if e.source_lower not in lang.pronouns
                   and not e.source_lower.startswith("the ")]
    print_all = mode == "all"
    resolve_coreferences(name_corefs, kb, ctx, register, text, lang,
                         print_all=print_all)
    resolve_coreferences(entities, kb, ctx, register, text, lang,
                         print_all=print_all)
    if trace:
        trace("resolve_coreferences", entities)

    # ner.py:499-547 drops an entity partly overlapping a proper noun whose
    # uncovered part has a non-solitary space and no apostrophe.  A span of
    # find_proper_nouns joins words by single spaces, so that stage keeps
    # every entity here (test_properties::test_proper_noun_spans_single_spaced)
    kept = set(map(id, remove_nearby_entities(entities, kb, text, lang)))
    entities_and_dates = [
        e for e in entities_and_dates
        if isinstance(e, DateMatch) or id(e) in kept]
    if trace:
        trace("remove_nearby_entities", entities_and_dates)

    if find_names:  # -n mode (ner.py:696-697)
        new_names = add_unknown_names(entities_and_dates, text, kb,
                                       strict=names_strict)
        adjust_coreferences(entities_and_dates, new_names, kb, register, lang)
        if trace:
            trace("add_unknown_names", entities_and_dates)

    # final sense filter (ner.py:700-709): default keeps resolved mentions;
    # 'all' (-a) nulls the preferred sense and keeps everything with
    # candidates; 'score' (-s) keeps the same rows with senses intact
    if mode == "default":
        entities_and_dates = [
            e for e in entities_and_dates
            if isinstance(e, DateMatch) or e.has_preferred_sense() or e.is_name]
    else:
        if mode == "all":
            for e in entities_and_dates:
                if isinstance(e, Mention):
                    e.preferred_sense = None
        entities_and_dates = [
            e for e in entities_and_dates
            if isinstance(e, DateMatch)
            or (e.is_coreference and e.partial_match_senses)
            or (not e.is_coreference and e.senses) or e.is_name]
    if trace:
        trace("final_sense_filter", entities_and_dates)

    out = []
    for e in entities_and_dates:
        par = paragraphs[bisect_right(paragraphs, e.start) - 1]
        is_date = type(e) is DateMatch
        if is_date:
            row = (e.start, e.end, par, "date", e.source, None, e.iso.iso(),
                   e.confidence)
        else:
            kind = "coref" if e.is_coreference else (
                "name" if e.is_name else "kb")
            sense = e.get_preferred_sense()
            if e.is_name and sense is None and e.senses:
                sense = e.senses[0]  # pseudo id (<0) or absorbed KB sense
            row = (e.start, e.end, par, kind,
                   text[e.start:e.end].replace("\n", " ").replace("\r", ""),
                   sense, None, None)
        if as_tuples:
            out.append(row)
            continue
        row = dict(zip(ROW_FIELDS, row))
        if is_date:
            pass  # a date carries no candidates
        elif mode == "score":  # -s: carry candidates + scores (entity.py:369-377)
            row["cands"] = list(e.candidates)
            row["cand_scores"] = list(e.score)
        elif not e.preferred_sense:  # has_preferred_sense() == False
            # no preferred sense (incl. -a nulling): the reference
            # prints the SORTED senses ';'-joined — partial-match
            # senses for corefs, raw senses otherwise
            # (entity.py:380-387); carried as score-less cands
            row["cands"] = sorted(
                e.partial_match_senses if e.is_coreference else e.senses)
            row["cand_scores"] = []
        out.append(row)
    return out
