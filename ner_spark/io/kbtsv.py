"""KB.tsv serialization — the reference's on-disk KB format (SURVEY S3/S4).

Format (metrics_knowledge_base.py:92-109): line 1 ``VERSION=<n>``, then the
HEAD-KB block (one line per entity type: ``<type>{flags[prefix]}NAME`` column
declarations, parsed by regex at metrics_knowledge_base.py:112-163), a blank
separator line, then data rows — one TSV line per entity, columns addressed
by name through the HEAD dict.

This module round-trips our flat KB rows through that format so (a) a user
of the reference can bring an actual KB.tsv, (b) the HEAD-driven
column-by-name addressing is tested.  The Spark read path loads data rows
distributed (``spark.read.csv`` with tab separator, skipping the header
block driver-side) — at real KB sizes (GBs) the data part is the bulk.
"""

from __future__ import annotations

import re
from typing import TextIO

from ner_spark.semantics.kb import KB_COLUMNS

# our flat columns → reference-style HEAD column names (SURVEY §1.3)
_HEAD_NAMES = {
    "type": "TYPE", "name": "NAME", "aliases": "ALIASES",
    "redirects": "REDIRECTS", "gender": "GENDER",
    "date_of_birth": "DATE OF BIRTH", "date_of_death": "DATE OF DEATH",
    "nationalities": "NATIONALITIES", "country": "COUNTRY", "jobs": "JOBS",
    "roles": "ROLES", "location": "LOCATION", "founded": "FOUNDED",
    "cancelled": "CANCELLED", "start": "START", "end": "END",
    "fictional": "FICTIONAL", "description": "DESCRIPTION",
    "wikipedia_url": "WIKIPEDIA URL", "wiki_backlinks": "WIKI BACKLINKS",
    "wiki_hits": "WIKI HITS", "wiki_ps": "WIKI PRIMARY SENSE",
}
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
    rev = {v: k for k, v in _HEAD_NAMES.items()}
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
            flat = rev.get(head_name)
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


def read_kb_tsv_spark(spark, path: str):
    """Distributed read of the data part: driver parses the tiny header,
    executors scan the TSV rows (the GB-scale part at real KB sizes).
    Header lines are dropped by a narrow filter (data rows have a numeric
    ID in column 0; the VERSION/HEAD lines never do) — no global ordering
    or driver collect.  Wikidata-keyed KBs (Q-prefixed IDs) go through the
    driver reader ``read_kb_tsv``: their internal 1-based id is the data
    LINE NUMBER, which a distributed unordered scan cannot assign."""
    from pyspark.sql import functions as F

    with open(path) as fh:
        version, head_kb, _ = read_kb_tsv_header_only(fh)
        first_data = fh.readline()
        if first_data[:1] == "Q":
            # friendly early error for the all-Q case: the numeric-ID row
            # filter below would silently drop EVERY row of a
            # Wikidata-keyed KB → 0-row DataFrame → a mention-less
            # pipeline with no error anywhere downstream
            raise ValueError(
                f"{path} is Wikidata-keyed (Q-prefixed IDs); its internal "
                "ids are data-line numbers, which a distributed unordered "
                "scan cannot assign — use the driver reader read_kb_tsv")
    colmap = next(iter(head_kb.values()))
    names = [n for n, _ in sorted(colmap.items(), key=lambda kv: kv[1])]
    schema = ", ".join(f"_c{i} string" for i in range(len(names)))
    # row filter with a distributed fail-fast: numeric IDs are data,
    # header shapes (VERSION=/HEAD '<type>' line/blank) drop silently,
    # and ANYTHING ELSE (a Q-keyed row in a mixed file, corruption)
    # raises at scan time via assert_true — the driver sniff above only
    # sees line 1, and a partial silent drop is the same loss class as
    # the all-Q case.  The assert lives INSIDE the filter expression so
    # the optimizer cannot prune it; CASE short-circuits per row, so
    # clean rows never evaluate it.
    is_num = F.col("_c0").rlike("^[0-9]+$")
    is_hdr = (F.col("_c0").isNull() | (F.col("_c0") == "")
              | F.col("_c0").rlike("^(VERSION=|<)"))
    keep = (F.when(is_num, F.lit(True))
            .when(is_hdr, F.lit(False))
            .otherwise(F.assert_true(
                F.lit(False),
                F.lit(f"{path}: non-numeric ID in a data row (Wikidata-"
                      "keyed or corrupt KB.tsv) — use the driver reader "
                      "read_kb_tsv")).isNull()))
    df = (
        spark.read.option("sep", "\t").option("header", "false")
        .schema(schema)
        .csv(path)
        .filter(keep)
    )
    rev = {v: k for k, v in _HEAD_NAMES.items()}
    cols = []
    for i, name in enumerate(names):
        flat = "id" if name == "ID" else rev.get(name)
        if flat:
            c = F.col(f"_c{i}")
            if flat in ("id", "wiki_backlinks", "wiki_hits", "wiki_ps"):
                c = c.cast("long")
            cols.append(c.alias(flat))
    return version, df.select(*cols)


def read_kb_tsv_header_only(fh: TextIO) -> tuple[int, dict, None]:
    version_line = fh.readline().strip()
    version = int(version_line.split("=", 1)[1])
    head_lines = []
    for line in fh:
        if line == "\n":
            break
        head_lines.append(line.rstrip("\n").split("\t"))
    head_kb, _ = parse_head_kb(head_lines)
    return version, head_kb, None
