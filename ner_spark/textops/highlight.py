"""HTML name-highlight renderer (name_recognizer/highlight_names.py).

Reproduces the reference's figa-output → HTML markup stage byte for
byte (parity-tested against the reference module itself, which is pure
stdlib Python and imports cleanly — tests/test_highlight.py):

* figa rows group by surface VALUE; the first row's leading sense is
  the name's type, later rows only bump its expected count
  (highlight_names.py:169-177);
* spans are placed by re-matching each name over the text (the name
  string is interpolated into the regex UNESCAPED — reference quirk,
  kept); if the regex finds more matches than figa reported, the type
  degrades to -1 = blue (:185-193);
* every name's space-split parts become "partial" names highlighted
  purple wherever they occur outside a full match (:195-210);
* the per-character emitter opens/closes spans by match boundary with
  a first-name-wins scan order; types outside {-1, 0, 1, 7, 8} DROP
  the boundary character entirely (reference quirk: the emitter has no
  fall-through for them, :223-247); newlines become ``<br />`` at the
  very end, which also rewrites the newlines inside ``<html>``'s own
  header/footer (:253).

The distributed form (`highlight_pages`) renders per page inside the
same Arrow batch as the automaton scan — one narrow mapInArrow, no
shuffle; HTML strings never leave their input partition.  It scans the
text ``apply_scan_modes`` gives, like ``scan_mentions``, and renders the
working text (with ``-d``, names keep their case).
"""

from __future__ import annotations

import re

SPAN_BY_TYPE = {
    -1: '<span style="color: blue;" >',
    0: '<span style="color: green;" >',
    1: '<span style="color: red;" >',
    2: '<span style="color: purple" >',
    7: '<span style="color: lime" >',
    8: '<span style="color: olive" >',
}
_SPAN_CLOSE = "</span>"
_HTML_OPEN = "<html>\n<body>"
_HTML_CLOSE = "</body>\n</html>"

_NCR = re.compile(r"&#x(.*?);")


def _finditer_quirk(fragment: str, text: str, flags: int = 0):
    """The reference interpolates the name into the regex UNESCAPED
    (highlight_names.py:185, :203) — kept, because valid-regex surfaces
    ("A.B.") must over-match exactly like the reference.  But surfaces
    with unbalanced metachars ("*NSYNC", "Apple (Inc") make re.compile
    raise, and in the distributed renderer that would kill the whole
    Spark task; the reference never guards this because its CLI crashes
    with it.  Fall back to the escaped literal only where the reference
    itself would die — byte-identical everywhere the reference runs."""
    try:
        return list(re.finditer("({})".format(fragment), text, flags))
    except re.error:
        return list(re.finditer("({})".format(re.escape(fragment)), text,
                                flags))


def decode_ncr(s: str) -> str:
    """``&#x..;`` hex NCRs → characters (data_row.py:96-119 decode)."""
    for m in sorted(set(_NCR.findall(s))):
        s = s.replace(f"&#x{m};", bytes.fromhex(m).decode("utf-8"))
    return s


def parse_figa_row(line: str) -> tuple[int, int, int, str] | None:
    """One figa stdout line → (leading sense, start, end, value);
    None for malformed/offset-less lines (data_row.py:12-49)."""
    cells = line.strip().split("\t")
    if len(cells) not in (4, 5) or cells[1] == "" or cells[2] == "":
        return None
    senses = cells[0].strip().split(";")
    dtype = int((senses[0] if senses else "0").strip() or "0")
    return (dtype, int(cells[1].strip()), int(cells[2].strip()),
            decode_ncr(cells[3].strip()))


def render_html_highlights(text: str,
                           rows: list[tuple[int, int, int, str]]) -> str:
    """figa rows (type, start, end, value) + the text → highlighted HTML,
    byte-identical to the reference's highlight_names()."""
    # group rows by value, first row's type wins, count expected matches
    order: list[str] = []
    by_value: dict[str, list] = {}   # value → [type, count]
    for dtype, _s, _e, value in rows:
        if value in by_value:
            by_value[value][1] += 1
        else:
            by_value[value] = [dtype, 1]
            order.append(value)

    # span boundaries from re-matching each name (unescaped — ref quirk).
    # Tie-break parity: the reference scans name by name in first-seen
    # order and, within a name, checks ALL its starts before ANY of its
    # ends (highlight_names.py:131-140) — so first claim on an index
    # wins, starts-before-ends within each name.
    boundary: dict[int, tuple[int, int]] = {}
    part_set: set[str] = set()
    for value in order:
        dtype, count = by_value[value]
        matches = _finditer_quirk(value.strip(), text, re.M)
        if len(matches) > count:
            dtype = -1
        for m in matches:
            boundary.setdefault(m.start(), (1, dtype))
        for m in matches:
            boundary.setdefault(m.end(), (-1, dtype))
        part_set.update(p for p in value.split(" ") if p)

    p_start: set[int] = set()
    p_end: set[int] = set()
    for part in part_set:
        for m in _finditer_quirk(part, text):
            p_start.add(m.start())
            p_end.add(m.end())

    out: list[str] = [_HTML_OPEN]
    can_write_partial = True
    for i, ch in enumerate(text):
        status = boundary.get(i, (0, 0))
        if status == (0, 0) and can_write_partial:
            if i in p_start:
                status = (2, 0)
            elif i in p_end:
                status = (-2, 0)
        kind, dtype = status
        if kind == 1:
            span = SPAN_BY_TYPE.get(dtype)
            if dtype in (-1, 0, 1, 7, 8):
                out.append(span)
                out.append(ch)
                can_write_partial = False
            # other types: boundary char dropped (reference fall-through)
        elif kind == -1:
            if dtype in (-1, 0, 1, 7, 8):
                out.append(_SPAN_CLOSE)
                out.append(ch)
                can_write_partial = True
        elif kind == 2:
            out.append(SPAN_BY_TYPE[2])
            out.append(ch)
        elif kind == -2:
            out.append(_SPAN_CLOSE)
            out.append(ch)
        else:
            out.append(ch)
    out.append(_HTML_CLOSE)
    return "".join(out).replace("\n", "<br />")


def highlight_pages(pages, artifacts, url_col: str = "url",
                    text_col: str = "text"):
    """(url, text) pages → (``url_col``, html) with automaton mentions
    highlighted — scan + render inside one Arrow batch, no shuffle."""
    from ner_spark.pipeline.ner import (arrow_batch, arrow_schema,
                                        sanitized_pages)
    from ner_spark.semantics.ckernel import image_automaton
    from ner_spark.semantics.textnorm import apply_scan_modes

    ddl = f"{url_col} string, html string"
    schema = arrow_schema(ddl)
    image_bc = artifacts.image_bc   # only the broadcast enters the closure
    lowercase, deaccent = artifacts.lowercase, artifacts.deaccent

    def fn(batches):
        atm = image_automaton(image_bc.value)
        for batch in batches:
            htmls = []
            for text in batch.column(1).to_pylist():
                text, scan_text = apply_scan_modes(text, lowercase, deaccent)
                ms = atm.scan(scan_text)
                rows = [(m.ids[0], m.start + 1, m.end, text[m.start:m.end])
                        for m in ms]
                htmls.append(render_html_highlights(text, rows))
            yield arrow_batch([batch.column(0).to_pylist(), htmls], schema)

    return sanitized_pages(pages, url_col, text_col).mapInArrow(fn, ddl)
