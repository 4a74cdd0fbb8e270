#!/usr/bin/env python
"""Single-core microbench of the scan/resolve kernel (no Spark).

Two fixtures:
  * dense  — 1 mention per ~26 chars (every-other-word a KB surface), the
    worst case for the match-path walk;
  * web    — the realistic gen_pages corpus (~0.5-2 mentions / 100 words).

Prints ONE JSON line with MB-chars/s for scan-only and scan+resolve, plus
the KB image's size, build seconds and wrap seconds (what one worker pays
before its first document).
Usage: python tools/bench_kernel.py [n_mb] [--profile]
"""

from __future__ import annotations

import cProfile
import json
import pstats
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def build_fixtures(target_chars: int):
    import random

    from ner_spark.fixtures.gen import gen_kb_rows, gen_pages
    from ner_spark.kb.build import compile_gazetteer

    kb_rows = gen_kb_rows()
    bundle, atm = compile_gazetteer(kb_rows)

    # dense: alternate KB surfaces and filler words, ~1 KB docs
    surfaces = [r["name"] for r in kb_rows if r.get("name")]
    rng = random.Random(7)
    dense = []
    n = 0
    while n < target_chars:
        parts = []
        m = 0
        while m < 1000:
            s = rng.choice(surfaces)
            parts.append(s)
            parts.append("filler")
            m += len(s) + 8
        dense.append(" ".join(parts))
        n += m

    # web: realistic page mix
    pages = gen_pages(kb_rows, n_pages=max(target_chars // 600, 50))
    web = [p["text"] for p in pages]
    return bundle, atm, dense, web


def run(bundle, atm, texts, resolve: bool) -> tuple[float, int, int]:
    """Full arm goes through scan_and_resolve — the pipeline's per-row hot
    call (fused C kernel when available, Python otherwise; toggle with
    ckernel.FORCE_DISABLE for interleaved A/B)."""
    from ner_spark.semantics.lang import get_lang
    from ner_spark.semantics.recognize import scan_and_resolve

    lang = get_lang("en")
    n_chars = sum(len(t) for t in texts)
    n_out = 0
    t0 = time.perf_counter()
    for text in texts:
        if resolve:
            n_out += len(scan_and_resolve(bundle, atm, text, lang=lang,
                                          as_tuples=True))
        else:
            n_out += len(atm.scan(text))
    return time.perf_counter() - t0, n_chars, n_out


def _wrap_s(ckernel, image: bytearray) -> float:
    """Seconds to check and wrap a fresh copy of the image (a new object,
    so the handle memo in ckernel.wrap_image does not answer)."""
    t0 = time.perf_counter()
    ckernel.wrap_image(image)
    return round(time.perf_counter() - t0, 6)


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    mb = float(args[0]) if args else 2.0
    profile = "--profile" in sys.argv
    bundle, atm, dense, web = build_fixtures(int(mb * 1e6))

    if profile:
        pr = cProfile.Profile()
        pr.enable()
        run(bundle, atm, dense, resolve=True)
        run(bundle, atm, web, resolve=True)
        pr.disable()
        pstats.Stats(pr).sort_stats("cumulative").print_stats(30)
        return

    trials = 3  # min-of-k: external VM load only ever adds time
    out = {}
    from ner_spark.semantics import ckernel

    t0 = time.perf_counter()
    image = ckernel.kb_image(bundle, atm)
    out["image_bytes"] = len(image)
    out["image_build_s"] = round(time.perf_counter() - t0, 4)
    if ckernel.available():
        out["image_wrap_s"] = min(
            _wrap_s(ckernel, bytearray(image)) for _ in range(trials))
    for name, texts in (("dense", dense), ("web", web)):
        t_scan, n_chars, n_m = min(
            (run(bundle, atm, texts, resolve=False) for _ in range(trials)),
            key=lambda r: r[0])
        t_full, _, n_r = min(
            (run(bundle, atm, texts, resolve=True) for _ in range(trials)),
            key=lambda r: r[0])
        out[f"{name}_scan_mb_s"] = round(n_chars / t_scan / 1e6, 3)
        out[f"{name}_full_mb_s"] = round(n_chars / t_full / 1e6, 3)
        out[f"{name}_mentions"] = n_m
        out[f"{name}_resolved"] = n_r
    print(json.dumps(out))


if __name__ == "__main__":
    main()
