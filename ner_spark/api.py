"""User-facing API: what a user of the reference switches to.

:class:`LocalRecognizer` — the reference's single-node CLI semantics
(`./ner.py [-f file] [-d] [-a|-s] [-n] [-l] [-r]`, ner.py:723-751) without
a SparkSession: compile the KB driver-side, recognize one document at a
time, print reference-format lines.  The Spark scale path is the same KB
compile under ``kb.build.compile_kb``, then
``pipeline.ner.extract_mentions`` (the KG job itself is
``pipeline.run.run_kg_job``).
"""

from __future__ import annotations

from ner_spark.io.kbtsv import load_kb_rows
from ner_spark.kb.build import compile_gazetteer
from ner_spark.semantics.recognize import recognize, render_reference_lines


class LocalRecognizer:
    """Single-node recognizer, no Spark dependency at runtime."""

    def __init__(self, kb_rows: list[dict] | None = None,
                 kb_tsv: str | None = None, lowercase: bool = False,
                 deaccent: bool = False, uri_mode: bool = False,
                 stop_list: set[str] | None = None, lang: str = "en"):
        if kb_rows is None:
            kb_rows = load_kb_rows(kb_tsv)
        self.lowercase = lowercase
        self.deaccent = deaccent
        self.lang = lang
        self.bundle, self.automaton = compile_gazetteer(
            kb_rows, stop_list=stop_list, lowercase=lowercase,
            deaccent=deaccent, uri_mode=uri_mode, lang=lang)

    def recognize(self, text: str, mode: str = "default",
                  find_names: bool = False,
                  names_strict: bool = False) -> list[dict]:
        from ner_spark.semantics.lang import get_lang

        rows = recognize(self.bundle, self.automaton, text,
                         lowercase=self.lowercase, deaccent=self.deaccent,
                         find_names=find_names, mode=mode,
                         lang=get_lang(self.lang),
                         names_strict=names_strict)
        return rows

    def recognize_lines(self, text: str, **kw) -> list[str]:
        return render_reference_lines(self.recognize(text, **kw))

    def autocomplete(self, prefix: str, m: int = 5):
        return self.automaton.autocomplete(prefix, m)
