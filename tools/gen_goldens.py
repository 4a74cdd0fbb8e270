#!/usr/bin/env python
"""Generate tests/goldens/reference_lines.txt — frozen stdout-format lines
for 40 fixture documents (modes: default, all, score, names).

The golden freezes the engine's reference-format output (Entity.__str__
ner/entity.py:357-388, Date.__str__ libs/dates.py:167-183) independently of
the oracle modules, breaking the pipeline≡oracle circularity: any semantic
drift in resolve/recognize changes these lines and fails the golden test.
Regenerate ONLY after deliberately reviewing the diff:

    python tools/gen_goldens.py > tests/goldens/reference_lines.txt
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ner_spark.fixtures.gen import gen_kb_rows, gen_pages  # noqa: E402
from ner_spark.kb.build import compile_gazetteer  # noqa: E402
from ner_spark.semantics.recognize import (recognize,  # noqa: E402
                                           render_reference_lines)

N_DOCS = 40
MODES = ("default", "all", "score")


def main() -> None:
    kb_rows = gen_kb_rows()
    bundle, atm = compile_gazetteer(kb_rows)
    pages = gen_pages(kb_rows, n_pages=N_DOCS, seed=20260817)
    for p in pages:
        for mode in MODES:
            rows = recognize(bundle, atm, p["text"], mode=mode)
            print(f"### url={p['url']} mode={mode}")
            for line in render_reference_lines(rows):
                print(line)
        rows = recognize(bundle, atm, p["text"], find_names=True)
        print(f"### url={p['url']} mode=names")
        for line in render_reference_lines(rows):
            print(line)

    # -n post-filter goldens (names_filter.py intent-port): handcrafted
    # docs where each process_outputs stage fires — replace_parts prefix
    # strip, mark_substrings part-subset drop, and (strict) the notfirst /
    # first-name / nationality / all-initials suppressors
    person = next(r["name"] for r in kb_rows
                  if "person" in (r.get("type") or ""))
    first = person.split()[0]
    nat = "FIXME"
    for r in kb_rows:
        if "nationality" in (r.get("type") or ""):
            nat = r["name"]
            break
    # NB the proper-noun regex skips sentence-initial spans — candidates
    # must sit mid-sentence to be discovered at all (ner.py:161-174)
    # ... and a date anchor keeps entities_and_dates non-empty (the
    # reference silently drops names into an empty list, ner.py:271-283)
    name_docs = [
        "Back in 1987 we heard President Gorbi Halvessen speak while "
        "young Gorbi Halvessen Jr listened and old Gorbi Halvessen waved.",
        f"It rained On June in 1990 and later Mellon Vattic sang while "
        f"the {nat} Pride marched and then {first} Quorvik arrived.",
    ]
    for i, doc in enumerate(name_docs):
        for strict in (False, True):
            rows = recognize(bundle, atm, doc, find_names=True,
                             names_strict=strict)
            print(f"### url=namedoc{i} mode=names strict={strict}")
            for line in render_reference_lines(rows):
                print(line)


if __name__ == "__main__":
    main()
