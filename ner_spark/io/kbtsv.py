"""KB.tsv serialization — the reference's on-disk KB format (SURVEY S3/S4).

Format (metrics_knowledge_base.py:92-109): line 1 ``VERSION=<n>``, then the
HEAD-KB block (one line per entity type: ``<type>{flags[prefix]}NAME`` column
declarations, parsed by regex at metrics_knowledge_base.py:112-163), a blank
separator line, then data rows — one TSV line per entity, columns addressed
by name through the HEAD dict.

This module round-trips our flat KB rows through that format so (a) a user
of the reference can bring an actual KB.tsv, (b) the HEAD-driven
column-by-name addressing is tested.  The KB is read on the driver only
(:func:`load_kb_rows`): ``compile_gazetteer`` needs every row there.
"""

from __future__ import annotations

import re
from typing import TextIO

from ner_spark.semantics.kb import HEAD_COLUMNS, KB_COLUMNS

# our flat columns → reference-style HEAD column names (SURVEY §1.3)
_HEAD_NAMES = {v: k for k, v in HEAD_COLUMNS.items()}
_DATA_COLS = [c for c in KB_COLUMNS if c != "id"]

# HEAD-KB column declaration: optional {flags[prefix]} then NAME
# (regex shape per metrics_knowledge_base.py:117-133)
_PARSER_PATTERN = r"(?:\{(?P<FLAGS>(?:\w| )*)(?:\[(?P<PREFIX>[^\]]+)\])?\})?(?P<NAME>(?:\w| )+)"
_PARSER_FIRST = re.compile(r"(?u)^<(?P<TYPE>[^>]+)>(" + _PARSER_PATTERN + r")?$")
_PARSER_OTHER = re.compile(r"(?u)^" + _PARSER_PATTERN + r"$")


def write_kb_tsv(rows: list[dict], fh: TextIO, version: int = 1) -> None:
    """Serialize flat KB rows (single uniform type block ``<generic>``)."""
    fh.write(f"VERSION={version}\n")
    decls = ["<generic>{u}ID"] + [_HEAD_NAMES[c] for c in _DATA_COLS]
    fh.write("\t".join(decls) + "\n")
    fh.write("\n")
    for r in rows:
        cells = [str(r.get("qid") or r["id"])]
        for c in _DATA_COLS:
            v = r.get(c)
            cells.append("" if v is None else str(v))
        fh.write("\t".join(cells).replace("\n", " ") + "\n")


def parse_head_kb(lines: list[list[str]]) -> tuple[dict, int | None]:
    """HEAD block → {type: {column_name: index}} + TYPE column index
    (getDictHeadKB semantics, metrics_knowledge_base.py:112-163)."""
    head_kb: dict[str, dict[str, int]] = {}
    ent_type_col = None
    for cells in lines:
        head_type = ""
        col_name = ""
        for col_num, plain in enumerate(cells):
            if col_num == 0:
                m = _PARSER_FIRST.search(plain)
                head_type = m.group("TYPE")
                head_kb.setdefault(head_type, {})
            else:
                m = _PARSER_OTHER.search(plain)
            if m is not None:
                col_name = m.group("NAME")
                head_kb[head_type][col_name] = col_num
            if col_name == "TYPE":
                if ent_type_col is None:
                    ent_type_col = col_num
                elif ent_type_col != col_num:
                    raise ValueError("TYPE column must align across types")
    return head_kb, ent_type_col


def read_kb_tsv(fh: TextIO) -> tuple[int, dict, list[dict]]:
    """→ (version, head_kb, flat rows).  Column values resolved by NAME via
    the HEAD dict, so column order in the file is authoritative, not ours."""
    version_line = fh.readline().strip()
    if not version_line.startswith("VERSION="):
        raise ValueError(f"not a KB.tsv: {version_line!r}")
    version = int(version_line.split("=", 1)[1])
    head_lines: list[list[str]] = []
    for line in fh:
        if line == "\n":
            break
        head_lines.append(line.rstrip("\n").split("\t"))
    head_kb, _ = parse_head_kb(head_lines)
    if len(head_kb) != 1:
        # multi-type blocks supported by the parser; our flat loader
        # requires the uniform <generic> layout it writes
        raise ValueError(f"expected one HEAD type block, got {list(head_kb)}")
    colmap = next(iter(head_kb.values()))
    by_name = {name: idx for name, idx in colmap.items()}
    rows = []
    for line in fh:
        if not line.strip():
            continue
        cells = line.rstrip("\n").split("\t")
        raw_id = cells[by_name["ID"]]
        if raw_id[:1] == "Q":
            # Wikidata-keyed KB (KB2namelist.py:1027-1029): data-line order
            # is authoritative for the internal 1-based id; the Q-id
            # survives for the -Q automaton value mode (compile_kb qid_mode)
            row: dict = {"id": len(rows) + 1, "qid": raw_id}
        else:
            row = {"id": int(raw_id)}
        for head_name, idx in by_name.items():
            if head_name == "ID" or idx >= len(cells):
                continue
            flat = HEAD_COLUMNS.get(head_name)
            if flat:
                v = cells[idx]
                if flat in ("wiki_backlinks", "wiki_hits", "wiki_ps"):
                    row[flat] = int(v) if v != "" else None
                else:
                    row[flat] = v
        rows.append(row)
    return version, head_kb, rows


def load_kb_rows(path: str | None = None) -> list[dict]:
    """Flat KB rows of the KB.tsv at ``path``; the synthetic fixture KB
    when ``path`` is None."""
    if path is None:
        from ner_spark.fixtures.gen import gen_kb_rows
        return gen_kb_rows()
    with open(path) as fh:
        return read_kb_tsv(fh)[2]
