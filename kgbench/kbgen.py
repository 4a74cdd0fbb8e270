"""Scaled synthetic KB for the ``bigkb`` workload.

``ner_spark.fixtures.gen.gen_kb_rows`` draws names from fixed pools and
retries until a name is unused, so it never terminates once the pools run
out (about 1k persons or 200 events).  This generator builds names from
syllables indexed by the entity number instead, so every name is unique by
construction and any size terminates.  Rows carry the same columns and type
mix as the fixture KB, and organisations and persons form redirect chains
so the sameAs connected-components step has edges.

Deterministic in ``(n_entities, seed)``.
"""

from __future__ import annotations

import random

_ONSETS = ["b", "br", "d", "dr", "f", "g", "gr", "h", "k", "kr", "l", "m",
           "n", "p", "pr", "r", "s", "st", "t", "tr", "v", "z"]
_NUCLEI = ["a", "e", "i", "o", "u", "ai", "ei", "ou"]
_CODAS = ["", "n", "r", "l", "s", "m", "th"]
_SYLLABLES = [o + n + c for o in _ONSETS for n in _NUCLEI for c in _CODAS]

_JOBS = ["president", "composer", "painter", "general", "writer",
         "architect", "scientist", "singer", "politician", "engineer"]
_ORG_SUFFIX = ["Corporation", "Institute", "Society", "University", "Company"]
_EVENT_KINDS = ["Battle", "Treaty", "Congress", "Siege", "Council"]
_NATIONALITIES = [("American", "United States"), ("Czech", "Czech Republic"),
                  ("German", "Germany"), ("Austrian", "Austria"),
                  ("French", "France")]


def _word(rng_syll: list[str], i: int, n_syll: int) -> str:
    """The i-th word over a (shuffled) syllable alphabet, ``n_syll``
    syllables long: a bijection from i, so distinct i give distinct
    words."""
    parts = []
    for _ in range(n_syll):
        i, r = divmod(i, len(rng_syll))
        parts.append(rng_syll[r])
    return "".join(parts).capitalize()


def gen_big_kb_rows(n_entities: int, seed: int) -> list[dict]:
    """Flat KB rows (id = 1-based line number) with ``n_entities`` uniquely
    named persons, places, organisations and events, plus the five
    nationality rows the page templates need."""
    rng = random.Random(seed)
    syll = list(_SYLLABLES)
    rng.shuffle(syll)
    n_person = n_entities * 60 // 100
    n_geo = n_entities * 20 // 100
    n_org = n_entities * 15 // 100
    n_event = n_entities - n_person - n_geo - n_org
    rows: list[dict] = []

    def add(**kw) -> None:
        kw.setdefault("aliases", "")
        kw.setdefault("redirects", "")
        rows.append(dict(id=len(rows) + 1, **kw))

    def stats(scale: int) -> dict:
        return dict(wiki_backlinks=int(rng.paretovariate(1.2) * scale),
                    wiki_hits=int(rng.paretovariate(1.3) * scale),
                    wiki_ps=rng.randint(0, 1))

    # persons: first names from a pool of 2-syllable words, surnames
    # 3-syllable words; the (first, surname) pair is unique per index
    n_first = 400
    prev_name = None
    for i in range(n_person):
        first = _word(syll, i % n_first, 2)
        last = _word(syll, i // n_first * 7 + i % 7, 3)
        name = f"{first} {last}"
        male = rng.random() < 0.6
        byear = rng.randint(1700, 1980)
        nat = rng.choice(_NATIONALITIES)[0]
        jobs = "|".join(rng.sample(_JOBS, rng.randint(1, 3)))
        redirects = prev_name if prev_name and rng.random() < 0.1 else ""
        add(type="person", name=name, redirects=redirects,
            gender="M" if male else "F",
            date_of_birth=f"{byear:04d}-{rng.randint(1, 12):02d}-"
                          f"{rng.randint(1, 28):02d}",
            date_of_death="", nationalities=nat, jobs=jobs, roles=jobs,
            fictional="0", description=f"{nat} {jobs.split('|')[0]}.",
            wikipedia_url="https://en.wikipedia.org/wiki/"
                          + name.replace(" ", "_"),
            **stats(40))
        prev_name = name

    geo_names = []
    for i in range(n_geo):
        # 4-syllable words: disjoint from the 2/3-syllable person words
        name = _word(syll, i, 4)
        geo_names.append(name)
        country = rng.choice(_NATIONALITIES)[1]
        add(type="geographical", name=name, country=country,
            description=f"City in {country}.",
            wikipedia_url=f"https://en.wikipedia.org/wiki/{name}",
            **stats(30))

    prev_name = None
    for i in range(n_org):
        name = f"{_word(syll, i, 3)} {_ORG_SUFFIX[i % len(_ORG_SUFFIX)]}"
        redirects = prev_name if prev_name and rng.random() < 0.3 else ""
        founded = f"{rng.randint(1800, 1995):04d}"
        add(type="organization", name=name, redirects=redirects,
            location=rng.choice(geo_names) if geo_names else "",
            founded=founded, cancelled="",
            description=f"Organization founded {founded}.",
            wikipedia_url="https://en.wikipedia.org/wiki/"
                          + name.replace(" ", "_"),
            **stats(20))
        prev_name = name

    for i in range(n_event):
        # (kind, place) pairs enumerate without repeats
        kind = _EVENT_KINDS[i % len(_EVENT_KINDS)]
        place = geo_names[i // len(_EVENT_KINDS) % len(geo_names)] \
            if geo_names else _word(syll, i, 5)
        name = f"{kind} of {place}"
        start = rng.randint(1600, 1950)
        add(type="event", name=name, start=f"{start:04d}",
            end=f"{start + rng.randint(0, 5):04d}", location=place,
            description=f"Event of {start}.",
            wikipedia_url="https://en.wikipedia.org/wiki/"
                          + name.replace(" ", "_"),
            **stats(15))

    for nat, country in _NATIONALITIES:
        add(type="nationality", name=nat, aliases=f"{nat}s",
            country=country, description=f"People of {country}.")
    return rows
