"""ner_spark — PySpark-native knowledge-graph construction engine.

A from-scratch, Spark-first re-implementation of the capabilities of
KNOT-FIT-BUT/NER (reference at /root/reference, read-only): KB-driven
gazetteer mention detection, entity-link disambiguation, rule coreference,
date detection, triple emission, connected-component canonicalization, and
partitioned materialization with per-partition lineage.

Layout
------
semantics/   reference semantics (no Spark imports): the pure-Python
             resolver, the test oracle, and the C scan+resolve kernel that
             the executor-side ``mapInArrow`` UDFs run.
kb/          KB compile job: static scores, namelist, the KB image (the
             job's only broadcast).
pipeline/    the Spark pipeline: mention scan, resolve, triples, lineage.
io/          bucketed parquet writes with a lineage sidecar, KB.tsv, WARC.
textops/     large-scale training-data ops: dedup, quality, lang-id, tokens.
similarity/  embedding ANN: brute-force cosine top-k, LSH buckets.
multimodal/  binary-column plumbing (decode stubbed, schema/batching real).
streaming/   Structured-Streaming wrapper (daemon-mode equivalent).
"""

__version__ = "0.1.0"
