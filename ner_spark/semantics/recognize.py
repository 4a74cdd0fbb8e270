"""Per-document recognition: the reference's ``recognize`` end-to-end.

Sanitize (ner.py:611) → optional lowercase/deaccent (``-d``/``-r``,
ner.py:611-615, via ``textnorm.apply_scan_modes`` — the one copy of that
rule, shared with the Spark loop and the automaton key transform) →
automaton scan (ner.py:446-482) → per-document resolution
stages b-k (ner.py:576-714), optionally with unknown-name discovery
(``-n``).  :func:`scan_and_resolve` is the per-document call on KB
objects (the CLI reaches it through :func:`recognize`): it runs the fused C
kernel when that covers the configuration and :func:`resolve_in_python`
otherwise; the configuration alone decides, never the document.  Batch
and streaming (``pipeline.ner.resolved_docs``) make the same choice on the
broadcast KB image.  The Spark pipeline is
parity-tested against :func:`recognize` (SURVEY §5.1).
"""

from __future__ import annotations

from .automaton import GazetteerAutomaton
from .kb import KBBundle
from .lang import EN, LangModule
from .resolve import resolve_document
from .textnorm import apply_scan_modes, sanitize


def scan_and_resolve(
    kb: KBBundle,
    automaton: GazetteerAutomaton,
    text: str,
    scan_text: "str | None" = None,
    find_names: bool = False,
    mode: str = "default",
    lang: LangModule = EN,
    as_tuples: bool = False,
    names_strict: bool = False,
) -> list:
    """Scan + resolve one (sanitized) document — the per-row hot call of
    the CLI and the tools.  Dispatches to the fused C kernel (scan,
    pre-pass and resolution in one native pass) when it covers the
    configuration; otherwise runs :func:`resolve_in_python` — observably
    identical by the ckernel differential suite."""
    from . import ckernel

    if ckernel.covers(lang, find_names, mode):
        return ckernel.try_scan_resolve(
            kb, automaton, text, scan_text, lang=lang, as_tuples=as_tuples)
    return resolve_in_python(
        kb, automaton, text, scan_text, find_names=find_names, mode=mode,
        lang=lang, as_tuples=as_tuples, names_strict=names_strict)


def resolve_in_python(
    kb: KBBundle,
    automaton: GazetteerAutomaton,
    text: str,
    scan_text: "str | None" = None,
    find_names: bool = False,
    mode: str = "default",
    lang: LangModule = EN,
    as_tuples: bool = False,
    names_strict: bool = False,
) -> list:
    """The pure-Python path: ``automaton.scan`` + :func:`resolve_document`
    — every configuration the kernel does not cover, and its fuzz
    oracle."""
    matches = automaton.scan(scan_text if scan_text is not None else text)
    return resolve_document(
        text, [(m.ids, m.start, m.end, m.fragment) for m in matches], kb,
        find_names=find_names, mode=mode, lang=lang, as_tuples=as_tuples,
        names_strict=names_strict,
    )


def recognize(
    kb: KBBundle,
    automaton: GazetteerAutomaton,
    raw_text: str,
    lowercase: bool = False,
    deaccent: bool = False,
    find_names: bool = False,
    mode: str = "default",
    lang: LangModule = EN,
    names_strict: bool = False,
) -> list[dict]:
    """Returns final mention rows (see resolve_document) for one document.
    ``mode``: default / all (``-a``) / score (``-s``)."""
    text, scan_text = apply_scan_modes(sanitize(raw_text), lowercase,
                                       deaccent)
    return scan_and_resolve(
        kb, automaton, text, scan_text, find_names=find_names, mode=mode,
        lang=lang, names_strict=names_strict,
    )


def render_reference_lines(rows: list[dict]) -> list[str]:
    """Render mention rows in the reference's stdout line format:
    ``start \\t end \\t kind \\t text \\t sense-or-iso``
    (Entity.__str__ ner/entity.py:357-388; Date.__str__ libs/dates.py:
    167-183 — interval halves are separate dates, so its DATE branch).
    Useful for byte-level diffing against a reference run.  Score-mode rows
    (``cands``/``cand_scores`` present) render the candidate list with
    scores exactly like Entity.__str__'s display_score branch."""
    out = []
    for r in rows:
        if r["kind"] == "date":
            tail = r["iso"]
        elif r.get("cands"):
            parts = []
            scores = r.get("cand_scores") or []
            for i, c in enumerate(r["cands"]):
                parts.append(f"{c} {scores[i]}" if i < len(scores) else str(c))
            tail = ";".join(parts)
        else:
            tail = "" if r["sense"] is None else str(r["sense"])
        out.append(f"{r['start']}\t{r['end']}\t{r['kind']}\t{r['text']}\t{tail}")
    return out
