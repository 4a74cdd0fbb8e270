"""Mention extraction: the hot path of the engine.

Design for 100 TB (SURVEY §4 physical plan): the whole per-document NER —
scan + disambiguation + coreference — is ONE narrow ``mapInArrow`` stage
over the pages table.  The reference has no cross-document state
(ner.py:837-856 resets per doc), so this stage needs **zero shuffles**: one
Arrow batch in, one Arrow batch of mention rows out, the C kernel reading
the broadcast KB image in place (a configuration the kernel does not cover
decodes the bundle and the automaton from the same image and resolves in
Python).  Everything relational (dedup, co-mention join, canonicalization)
happens downstream on the much smaller mentions/triples tables.

Its workers never load pandas: they read a batch with ``to_pylist()``
and emit one built from buffers by :func:`arrow_batch` (pyarrow's
constructors from Python objects load pandas through pyarrow's shim).

Column pruning matters: we select only (url, text) before the UDF so the
parquet/Iceberg scan never reads the binary ``html`` column (verified by
ReadSchema in tests/test_plans.py).

Sanitization (ner.py:611) runs JVM-side as a ``regexp_replace`` with the
exact reference character class — whole-stage-codegen'd, and tested
byte-identical to the Python ``re`` implementation.
"""

from __future__ import annotations

import operator
from functools import partial
from itertools import chain, repeat
from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ner_spark.kb.build import KBArtifacts

# Java regex equivalent of textnorm.SANITIZE_RE (ner.py:611).  Control chars
# are spelled with \uXXXX escapes so the pattern survives any plan printing.
_SANITIZE_JAVA = "[;\\u0001-\\u0008\\u000e-\\u001f\\u000c\\u007f]"

MENTION_SCHEMA = (
    "url string, start int, end int, par int, kind string, "
    "text string, sense int, iso string, confidence int"
)
SCAN_SCHEMA = "url string, start int, end int, fragment string, ids array<int>"


def arrow_schema(ddl: str) -> pa.Schema:
    """The Arrow form of a ``mapInArrow`` output schema, on the driver
    (parsing DDL needs the JVM); the UDF carries it to the workers."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType

    return to_arrow_schema(DataType.fromDDL(ddl))


def _offsets(lengths, n: int) -> pa.Buffer:
    out = np.zeros(n + 1, np.int64)
    np.cumsum(np.fromiter(lengths, np.int64, n), out=out[1:])
    if out[-1] >= 2**31:
        raise OverflowError("Arrow column over 2 GiB: lower "
                            "spark.sql.execution.arrow.maxRecordsPerBatch")
    return pa.py_buffer(out.astype(np.int32))


def _array(typ: pa.DataType, col, n: int) -> pa.Array:
    """``n`` values (None = null) → an int32, string or list array.  A
    None makes the one-pass build raise TypeError; then the nulls are
    filled and a validity bitmap added."""
    try:
        return _dense(typ, col, n, None)
    except TypeError:
        mask = np.frombuffer(bytes(map(operator.is_not, col, repeat(None))),
                             np.bool_)
        if mask.all():
            raise
    fill = 0 if typ == pa.int32() else "" if typ == pa.string() else ()
    return _dense(typ, [fill if v is None else v for v in col], n,
                  pa.py_buffer(np.packbits(mask, bitorder="little")))


def _dense(typ: pa.DataType, col, n: int, valid) -> pa.Array:
    if typ == pa.int32():
        data = pa.py_buffer(np.fromiter(col, np.int32, n))
        return pa.Array.from_buffers(typ, n, [valid, data])
    if pa.types.is_list(typ):
        flat = list(chain.from_iterable(col))
        return pa.Array.from_buffers(
            typ, n, [valid, _offsets(map(len, col), n)],
            children=[_array(typ.value_type, flat, len(flat))])
    joined = "".join(col)
    if joined.isascii():  # one encode; char lengths are the byte lengths
        blob, lengths = joined.encode("ascii"), map(len, col)
    else:
        encoded = [v.encode() for v in col]
        blob, lengths = b"".join(encoded), map(len, encoded)
    return pa.Array.from_buffers(
        typ, n, [valid, _offsets(lengths, n), pa.py_buffer(blob)])


def arrow_batch(columns, schema: pa.Schema) -> pa.RecordBatch:
    """Columns of Python values (no columns = zero rows) → one batch of
    ``schema``, assembled with ``pa.Array.from_buffers``."""
    columns = columns or [()] * len(schema)
    n = len(columns[0])
    if len(columns) != len(schema) or any(len(c) != n for c in columns):
        raise ValueError("arrow_batch: columns do not fit the schema")
    return pa.RecordBatch.from_arrays(
        [_array(f.type, c, n) for f, c in zip(schema, columns)],
        schema=schema)


def sanitized_pages(pages: DataFrame, url_col: str = "url",
                    text_col: str = "text") -> DataFrame:
    """Project to (url, text) — pruning ``html`` — and sanitize JVM-side.
    Null text becomes "" (real crawl tables contain nulls; the reference
    would never see them — stdin always yields a string)."""
    return pages.select(
        F.col(url_col).cast("string").alias("url"),
        F.regexp_replace(F.coalesce(F.col(text_col), F.lit("")),
                         _SANITIZE_JAVA, " ").alias("text"),
    )


def resolved_docs(urls, texts, image_bc, lang: str = "en",
                  lowercase: bool = False, deaccent: bool = False,
                  find_names: bool = False, names_strict: bool = False):
    """The one per-document loop, shared by :func:`extract_mentions` and the
    streaming co-mention pairs: yields ``(url, rows)`` per sanitized page,
    rows as ``(start, end, par, kind, text, sense, iso, confidence)``
    tuples.  It runs on executors, so the scan modes come as plain values
    (the artifact's ``scan_config``); see :func:`extract_mentions`.

    ``image_bc`` is the artifact's one broadcast, the KB image (anything
    with a ``.value``).  The path is chosen once, from the configuration:
    where ``ckernel.covers`` admits it, the C kernel reads the image in
    place and resolves every document; otherwise the bundle and the
    automaton are decoded from it (``ckernel.image_bundle``/
    ``image_automaton``) for ``resolve_in_python``.  Whenever the kernel
    is loaded, the image is checked (``ckernel.wrap_image``) before the
    first document on either path, so a bad image, such as a
    ``qid_mode`` export compile, raises ValueError up front;
    ``NER_SPARK_CKERNEL=0`` skips that check."""
    from ner_spark.semantics import ckernel
    from ner_spark.semantics.lang import get_lang
    from ner_spark.semantics.recognize import resolve_in_python
    from ner_spark.semantics.textnorm import apply_scan_modes

    lang_mod, img = get_lang(lang), image_bc.value
    # the wrap checks the image, so a bad one fails here on either path
    image = ckernel.wrap_image(img) if ckernel.available() else None
    on_kernel = ckernel.covers(lang_mod, find_names)
    for url, text in zip(urls, texts):
        text, scan_text = apply_scan_modes(text, lowercase, deaccent)
        if on_kernel:
            rows = ckernel.scan_resolve(image, text, scan_text,
                                        as_tuples=True)
        else:
            rows = resolve_in_python(
                ckernel.image_bundle(img), ckernel.image_automaton(img), text,
                scan_text, find_names=find_names, lang=lang_mod,
                as_tuples=True, names_strict=names_strict)
        yield url, rows


def scan_mentions(pages: DataFrame, artifacts: KBArtifacts,
                  url_col: str = "url", text_col: str = "text") -> DataFrame:
    """Raw gazetteer matches only (stage M2) — no resolution.  Useful for
    debugging and for relational-filter queries; the production path is
    :func:`extract_mentions` which fuses scan+resolve in one pass.  Scans
    the same text as :func:`resolved_docs`: deaccented and/or lowered as
    the artifact was compiled."""
    src = sanitized_pages(pages, url_col, text_col)
    image_bc = artifacts.image_bc
    lowercase, deaccent = artifacts.lowercase, artifacts.deaccent
    schema = arrow_schema(SCAN_SCHEMA)

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from ner_spark.semantics.ckernel import image_automaton
        from ner_spark.semantics.textnorm import apply_scan_modes

        atm = image_automaton(image_bc.value)
        for batch in batches:
            rows = []
            for url, text in zip(batch.column(0).to_pylist(),
                                 batch.column(1).to_pylist()):
                scan_text = apply_scan_modes(text, lowercase, deaccent)[1]
                rows += [(url, m.start, m.end, m.fragment, m.ids)
                         for m in atm.scan(scan_text)]
            yield arrow_batch(list(zip(*rows)), schema)

    return src.mapInArrow(fn, SCAN_SCHEMA)


def mention_batches(batches: Iterator[pa.RecordBatch], image_bc,
                    schema: pa.Schema, **kw) -> Iterator[pa.RecordBatch]:
    """The extraction UDF: sanitized (url, text) page batches → batches of
    ``schema``, the Arrow form of :data:`MENTION_SCHEMA`."""
    for batch in batches:
        urls, rows = [], []
        for url, doc in resolved_docs(batch.column(0).to_pylist(),
                                      batch.column(1).to_pylist(),
                                      image_bc, **kw):
            urls += [url] * len(doc)
            rows += doc
        yield arrow_batch([urls, *zip(*rows)] if rows else None, schema)


def extract_mentions(pages: DataFrame, artifacts: KBArtifacts,
                     url_col: str = "url", text_col: str = "text",
                     find_names: bool = False,
                     names_strict: bool = False) -> DataFrame:
    """pages → final mention rows (scan + stages b-k fused, zero-shuffle).

    The scan modes come from the artifact, as compiled by ``compile_kb``:
    ``lang`` picks the language rules, and ``lowercase``/``deaccent`` (the
    reference's ``-d``/``-r``) go through ``textnorm.apply_scan_modes``:
    ``-r`` transforms the working text, ``-d`` lowers only the scan input
    (mention sources come from the lowered scan; context slices and the
    printed text stay original-case).  NB ``str.lower()`` can change
    length for rare code points (e.g. U+0130 İ → 2 chars), shifting scan
    offsets against the original text — the reference applies
    lowered-scan offsets to the original string with exactly the same
    caveat (bug-for-bug parity).  ``find_names`` enables unknown-name
    discovery (``-n``, ner.py:696-697)."""
    fn = partial(mention_batches, image_bc=artifacts.image_bc,
                 schema=arrow_schema(MENTION_SCHEMA), find_names=find_names,
                 names_strict=names_strict, **artifacts.scan_config)
    return sanitized_pages(pages, url_col, text_col).mapInArrow(
        fn, MENTION_SCHEMA)
