#!/usr/bin/env python
"""spark-submit entry point for the KG-construction pipeline (north rule:
"runs via spark-submit --py-files at N and 4N executors").

    python tools/package.py                       # → build/ner_spark.zip
    spark-submit --py-files build/ner_spark.zip \\
        tools/run_job.py --pages <parquet> --kb <KB.tsv> --out <dir> \\
        [--buckets 64] [--resume-waves 1] [--find-names] \\
        [--lowercase] [--deaccent] [--lang en] [--kb-artifact <dir>]

With no --kb the synthetic fixture KB is compiled (useful for smoke runs).
``pipeline.run.run_kg_job`` checkpoints the mentions and writes the
canonicalized triple table, both with per-bucket lineage (re-running with
the same --out skips completed buckets); a one-line JSON summary is
printed, with the wall seconds of each phase in ``phases`` (``kb_s``:
reading the KB inputs and the KB compile or artifact load; ``mentions_s``, ``triples_s``: the two steps
of ``run_kg_job``).  A loaded --kb-artifact must match
--lowercase/--deaccent/--lang and the KB inputs: its version key is the
sha256 of the --kb and --tagged-inflections bytes ("synthetic" for the
fixture KB), so an artifact compiled from another KB is refused.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def kb_version(kb: str | None, tagged_inflections: str | None) -> str:
    """Version key of the KB inputs, the artifact handshake key."""
    if kb is None and tagged_inflections is None:
        return "synthetic"
    h = hashlib.sha256()
    for path in (kb, tagged_inflections):
        h.update(b"\0")
        if path:
            with open(path, "rb") as fh:
                for chunk in iter(lambda: fh.read(1 << 20), b""):
                    h.update(chunk)
    return h.hexdigest()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True, help="parquet dir with url/text cols")
    ap.add_argument("--kb", default=None, help="KB.tsv path (default: synthetic)")
    ap.add_argument("--out", required=True)
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--url-col", default="url")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--find-names", action="store_true")
    ap.add_argument("--lowercase", action="store_true")
    ap.add_argument("--deaccent", action="store_true")
    ap.add_argument("--lang", default="en",
                    help="language module for namelist build + scan rules")
    ap.add_argument("--tagged-inflections", default=None, metavar="TSV",
                    help="namegen tagged-inflections TSV (cs only, "
                         "create_cedar.sh:369)")
    ap.add_argument("--resume-waves", type=int, default=1, metavar="N",
                    help="split mention extraction into N sequentially "
                         "committed waves (incremental checkpointing: a "
                         "mid-run loss preserves completed waves; costs "
                         "one extra column-pruned pages scan per wave)")
    ap.add_argument("--kb-artifact", default=None, metavar="DIR",
                    help="prebuilt-KB artifact dir (the production form: "
                         "the reference ships a compiled .dct and never "
                         "recompiles per job). Loads DIR if it exists, "
                         "else compiles once and saves it there.")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from ner_spark.io.kbtsv import load_kb_rows
    from ner_spark.kb.build import compile_kb, load_kb_artifact, save_kb_artifact
    from ner_spark.pipeline.run import run_kg_job

    # under spark-submit the session/master comes from the launcher config
    spark = SparkSession.builder.appName("ner-spark-kgc").getOrCreate()
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    if spark.conf.get("spark.sql.shuffle.partitions") == "200":
        # launcher didn't size the shuffles — default to cluster parallelism
        spark.conf.set("spark.sql.shuffle.partitions",
                       str(spark.sparkContext.defaultParallelism))

    art_dir = args.kb_artifact
    have_artifact = art_dir and os.path.exists(
        os.path.join(art_dir, "MANIFEST.json"))
    scan = dict(lowercase=args.lowercase, deaccent=args.deaccent,
                lang=args.lang)
    t0 = time.perf_counter()
    version = kb_version(args.kb, args.tagged_inflections)
    if have_artifact:
        try:
            art = load_kb_artifact(spark, art_dir, kb_version=version)
            if art.scan_config != scan:
                raise ValueError(
                    f"KB artifact scan config mismatch: {art_dir} was "
                    f"compiled with {art.scan_config}, the job asks for "
                    f"{scan}; recompile the artifact or pass its "
                    f"--lowercase/--deaccent/--lang")
        except ValueError as e:
            spark.stop()
            sys.exit(str(e))
    else:
        tagged = None
        if args.tagged_inflections:
            with open(args.tagged_inflections) as fh:
                tagged = fh.read().splitlines()
        art = compile_kb(spark, load_kb_rows(args.kb),
                         tagged_inflections=tagged, **scan)
        if art_dir:
            save_kb_artifact(art, art_dir, kb_version=version)
    kb_s = time.perf_counter() - t0
    res = run_kg_job(spark, spark.read.parquet(args.pages), art, args.out,
                     n_buckets=args.buckets, waves=args.resume_waves,
                     url_col=args.url_col, text_col=args.text_col,
                     find_names=args.find_names)
    dt = time.perf_counter() - t0
    phases = {"kb_s": kb_s, **res["phases"]}
    print(json.dumps({
        **res, "phases": {k: round(v, 2) for k, v in phases.items()},
        "sec": round(dt, 2),
        "triples_per_sec": round(res["n_triples"] / dt, 1),
        "kb": "artifact" if have_artifact else "compiled",
        "out": args.out,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
