#!/usr/bin/env python
"""Namelist converter — migrate between the reference's binary
dictionaries and the namelist text form.

    python tools/migrate_automaton.py SRC DST

Formats are chosen by extension:

  * ``.ct``   cedar node dump (figa/src/cedar.h save/open)
  * ``.dct``  darts-clone unit dump (figa/src/darts.h)
  * ``.tsv``  namelist text (``key \\t id;…;N`` — uniq_namelist output)

Any source converts to any destination: an existing figa deployment's
``.dct`` becomes a namelist this engine reads, and a namelist built here
compiles to a binary the unmodified figa binary loads (verified in
tests/test_ctdict.py).  The engine's own deployable KB form is the
versioned KB artifact (``kb.build.save_kb_artifact``), compiled from the
KB itself.  Driver-sized migration tooling.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _read(path: str) -> dict[str, list[int]]:
    from ner_spark.io.ctdict import read_ct, read_dct
    from ner_spark.kb.artifacts import read_namelist_tsv

    if path.endswith(".dct"):
        return read_dct(path)
    if path.endswith(".ct"):
        return read_ct(path)
    if path.endswith(".tsv"):
        with open(path) as fh:
            return read_namelist_tsv(fh)
    raise SystemExit(f"unknown source format: {path}")


def _write(namelist: dict[str, list[int]], path: str) -> None:
    from ner_spark.io.ctdict import write_ct, write_dct
    from ner_spark.kb.artifacts import write_namelist_tsv

    if path.endswith(".dct"):
        write_dct(namelist.items(), path)
    elif path.endswith(".ct"):
        write_ct(namelist.items(), path)
    elif path.endswith(".tsv"):
        with open(path, "w") as fh:
            write_namelist_tsv(namelist, fh)
    else:
        raise SystemExit(f"unknown destination format: {path}")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("src")
    ap.add_argument("dst")
    args = ap.parse_args()
    nl = _read(args.src)
    _write(nl, args.dst)
    print(f"{args.src} -> {args.dst}: {len(nl)} keys")


if __name__ == "__main__":
    main()
