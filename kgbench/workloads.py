"""Benchmark inputs, generated from the workload seed.

Each workload is a KB (list of flat rows) plus a page table (url, text).
The program sees only these generated inputs.

* ``web``   — ``gen_pages`` pages over the 145-entity fixture KB: 2-5
  paragraphs, Zipf entity mentions, dates.  The production shape.
* ``dense`` — ~1 KB single-paragraph documents alternating KB surfaces and
  filler words, no digits: the date layer is idle, the C kernel and the
  co-mention self-join carry the most rows per input byte.
* ``bigkb`` — a scaled synthetic KB (``kbgen``) over a small page set: KB
  compile and broadcast, the per-worker pack build and the KB-derived
  triples dominate.
"""

from __future__ import annotations

import random
from dataclasses import dataclass


@dataclass
class Workload:
    name: str
    kb_rows: list[dict]
    urls: list[str]
    texts: list[str]


# sizes: one job of each takes a few seconds on local[4]
WEB_PAGES = 6000
DENSE_DOCS = 2500
BIGKB_ENTITIES = 10000
BIGKB_PAGES = 1200

_FILLERS = ["filler", "and", "also", "then", "met", "with", "beside",
            "after", "before", "or"]


def _urls(n: int, seed: int) -> list[str]:
    return [f"https://example.org/s{seed}/p/{i:08d}" for i in range(n)]


def web(seed: int) -> Workload:
    from ner_spark.fixtures.gen import gen_kb_rows, gen_pages

    kb = gen_kb_rows()
    texts = [p["text"] for p in gen_pages(kb, n_pages=WEB_PAGES, seed=seed)]
    return Workload("web", kb, _urls(len(texts), seed), texts)


def dense(seed: int) -> Workload:
    from ner_spark.fixtures.gen import gen_kb_rows

    kb = gen_kb_rows()
    surfaces = [r["name"] for r in kb if r.get("name")]
    rng = random.Random(seed)
    texts = []
    for _ in range(DENSE_DOCS):
        parts: list[str] = []
        n = 0
        while n < 1000:
            s = rng.choice(surfaces)
            f = rng.choice(_FILLERS)
            parts += [s, f]
            n += len(s) + len(f) + 2
        texts.append(" ".join(parts))
    return Workload("dense", kb, _urls(len(texts), seed), texts)


def bigkb(seed: int) -> Workload:
    from ner_spark.fixtures.gen import gen_pages

    from kgbench.kbgen import gen_big_kb_rows

    kb = gen_big_kb_rows(BIGKB_ENTITIES, seed)
    texts = [p["text"] for p in gen_pages(kb, n_pages=BIGKB_PAGES, seed=seed)]
    return Workload("bigkb", kb, _urls(len(texts), seed), texts)


WORKLOADS = {"web": web, "dense": dense, "bigkb": bigkb}
