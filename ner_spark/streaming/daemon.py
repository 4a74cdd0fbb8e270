"""Streaming NER: the reference's daemon mode re-expressed.

The reference's only streaming construct is an unbounded stdin of documents
delimited by control tokens, processed one doc at a time with per-doc state
reset (ner.py:819,837-856).  The Spark equivalent: a file/table stream of
pages driven through the SAME batch ``extract_mentions`` inside
``foreachBatch`` — stateless per document, so no watermark or state store
is needed; exactly-once lands on the sink's append semantics.
"""

from __future__ import annotations

from typing import Iterable, Iterator

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery

from ner_spark.kb.build import KBArtifacts
from ner_spark.pipeline.ner import extract_mentions

PAGES_SCHEMA = ("url string, warc_ts timestamp, html binary, "
                "text string, lang string")

# the reference daemon's 8 control tokens (ner.py:819)
DAEMON_TOKENS = {
    "NER_NEW_FILE": "default", "NER_END": "default",
    "NER_NEW_FILE_ALL": "all", "NER_END_ALL": "all",
    "NER_NEW_FILE_SCORE": "score", "NER_END_SCORE": "score",
    "NER_NEW_FILE_NAMES": "names", "NER_END_NAMES": "names",
}


def iter_daemon_documents(lines: Iterable[str]) -> Iterator[tuple[str, str, str]]:
    """Parse the reference's daemon stdin protocol (ner.py:837-856):
    lines accumulate until a control token; yields (document, mode, token).
    ``NER_END*`` tokens terminate the stream after their document."""
    buf: list[str] = []
    for raw in lines:
        line = raw.rstrip("\n").rstrip()
        if line in DAEMON_TOKENS:
            yield "".join(buf), DAEMON_TOKENS[line], line
            buf = []
            if "END" in line:
                return
        else:
            buf.append(line + "\n")


def stream_mentions(
    spark: SparkSession,
    input_path: str,
    artifacts: KBArtifacts,
    out_path: str,
    checkpoint: str,
    trigger_once: bool = True,
    **extract_kw,
) -> StreamingQuery:
    """Watch ``input_path`` for page parquet files; append mention rows.
    ``extract_kw`` (find_names/names_strict) forwards to
    :func:`extract_mentions`; the scan modes come from ``artifacts``."""
    pages = (
        spark.readStream.schema(PAGES_SCHEMA).parquet(input_path)
    )

    def handle(batch_df, epoch_id: int) -> None:
        (extract_mentions(batch_df, artifacts, **extract_kw)
         .write.mode("append").parquet(out_path))

    writer = pages.writeStream.foreachBatch(handle).option(
        "checkpointLocation", checkpoint)
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
