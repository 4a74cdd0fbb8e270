#!/usr/bin/env python
"""Mention-link parity report (the BASELINE.json headline metric).

Runs the Spark pipeline and the single-document oracle over a held-out
synthetic page set (seeded differently from anything used during
development) and prints mention-link precision/recall as ONE JSON line.
Target: P/R ≥ 0.95; expected 1.0 (the pipeline executes the same semantics
modules inside Arrow UDFs).

    python tools/parity_report.py [n_pages] [seed]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 300
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 20260817  # held-out

    from ner_spark.fixtures.gen import gen_kb_rows, gen_pages
    from ner_spark.kb.build import compile_kb
    from ner_spark.pipeline.ner import extract_mentions
    from ner_spark.semantics.recognize import recognize
    from ner_spark.session import get_spark

    spark = get_spark("parity")
    kb_rows = gen_kb_rows()
    pages = gen_pages(kb_rows, n_pages=n_pages, seed=seed)
    art = compile_kb(spark, kb_rows)

    pages_df = spark.createDataFrame(
        [(p["url"], p["text"]) for p in pages], "url string, text string")
    got = {(r.url, r.start, r.end, r.kind, r.sense, r.iso)
           for r in extract_mentions(pages_df, art).collect()}

    want = set()
    for p in pages:
        for r in recognize(art.bundle, art.automaton, p["text"]):
            want.add((p["url"], r["start"], r["end"], r["kind"], r["sense"],
                      r["iso"]))

    tp = len(got & want)
    precision = tp / len(got) if got else 1.0
    recall = tp / len(want) if want else 1.0
    print(json.dumps({
        "n_pages": n_pages, "seed": seed,
        "spark_mentions": len(got), "oracle_mentions": len(want),
        "true_positive": tp,
        "precision": round(precision, 6), "recall": round(recall, 6),
        "target": 0.95,
        "pass": precision >= 0.95 and recall >= 0.95,
    }))
    sys.exit(0 if precision >= 0.95 and recall >= 0.95 else 1)


if __name__ == "__main__":
    main()
