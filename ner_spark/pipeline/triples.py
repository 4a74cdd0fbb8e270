"""Triple emission + canonicalization (SURVEY §7.3, north-star mapping).

Triple kinds produced from the final mentions table and the KB:

  * mention triples   (page url, "mentions", entity)  + date triples
  * type triples      (entity, "rdf:type", type path)
  * attribute triples (entity, <attr>, value) — multivalue attrs exploded
  * co-mention edges  (e1, "coMentionedWith", e2) per (url, paragraph), J9
  * sameAs edges      (alias entity, "sameAs", canonical entity) via
    connected components over redirect links, J10

Canonicalization: every entity of :func:`build_triples` is its sameAs
``component`` (the minimum id of its redirect cluster).  The KB compile
(``kb.build.compile_kb``) puts that column into the KB table, so the job
runs no connected-components step: mention senses and co-mention ends
go through a broadcast left join on the long ``(id, component)`` pairs
of the KB rows with ``id != component`` (every other id maps to itself),
type and attribute subjects read ``component`` directly, and sameAs
triples are the KB rows with ``id != component``.  Only entity ids are
remapped; a literal or URL that happens to read ``e:<id>`` stays as it
is.  :func:`build_triples` runs no Spark action.  :func:`sameas_mapping`
derives the same components as a DataFrame job (redirect edges →
``cc.connected_components``); the contract queries use it, and it is the
oracle of the compiled column (tests/test_kb.py).

Scale notes: the co-mention self-join shuffles on (url, par) — a
fine-grained, naturally unskewed key; entity-popularity skew only appears
in the following count aggregation where map-side partial aggregation
absorbs it.  The component lookups broadcast only the KB rows of
redirect clusters that are not their cluster's minimum (the rows with
``id != component``), so no shuffle of the mentions or the pairs is
needed.  Entities are
rendered as "e:<id>" URIs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ner_spark.pipeline.cc import connected_components

TRIPLE_SCHEMA = "subj string, pred string, obj string"

_SINGLE_ATTRS = ["gender", "date_of_birth", "date_of_death", "country",
                 "location", "founded", "cancelled", "start", "end",
                 "fictional", "description", "wikipedia_url"]
_MULTI_ATTRS = ["aliases", "nationalities", "jobs", "roles"]


def _e(col) -> F.Column:
    return F.concat(F.lit("e:"), col.cast("string"))


def mention_triples(mentions: DataFrame) -> DataFrame:
    """Final mentions → (url, mentions, e:id) and (url, mentionsDate, iso)."""
    ents = (
        mentions.filter(F.col("sense").isNotNull())
        .select(F.col("url").alias("subj"), F.lit("mentions").alias("pred"),
                _e(F.col("sense")).alias("obj"))
    )
    dates = (
        mentions.filter(F.col("kind") == "date")
        .select(F.col("url").alias("subj"), F.lit("mentionsDate").alias("pred"),
                F.col("iso").alias("obj"))
    )
    return ents.unionByName(dates)


def _to_component(df: DataFrame, col: str, aliases: DataFrame) -> DataFrame:
    """``col``, an entity id, replaced by its sameAs component through a
    broadcast left join on longs against ``aliases``, the ``(_id,
    _component)`` pairs of the KB rows whose id is not their own
    component; every other id stays as it is."""
    return (
        df.join(F.broadcast(aliases), F.col(col).cast("long") == F.col("_id"),
                "left")
        .withColumn(col, F.coalesce("_component", F.col(col).cast("long")))
        .drop("_id", "_component")
    )


def type_triples(kb_df: DataFrame) -> DataFrame:
    """(component, rdf:type, type) per KB row."""
    return kb_df.select(_e(F.col("component")).alias("subj"),
                        F.lit("rdf:type").alias("pred"),
                        F.col("type").alias("obj"))


def attribute_triples(kb_df: DataFrame) -> DataFrame:
    """KB attribute predicates of each row's component; multivalue columns
    exploded on '|' (KB_MULTIVALUE_DELIM, ner/configs.py:14).

    Single-pass: one (pred, objs) struct array per row, exploded twice —
    ONE scan of the KB instead of a 16-branch union that re-reads (and at
    scale re-shuffles) the KB per attribute."""
    po = [
        F.struct(F.lit(a).alias("pred"), F.array(F.col(a)).alias("objs"))
        for a in _SINGLE_ATTRS
    ] + [
        F.struct(F.lit(a).alias("pred"), F.split(F.col(a), r"\|").alias("objs"))
        for a in _MULTI_ATTRS
    ]
    return (
        kb_df.select(_e(F.col("component")).alias("subj"),
                     F.explode(F.array(*po)).alias("po"))
        .select("subj", F.col("po.pred").alias("pred"),
                F.explode("po.objs").alias("obj"))
        .filter(F.coalesce(F.col("obj"), F.lit("")) != "")
    )


def _comention_counts(mentions: DataFrame) -> DataFrame:
    """(s1, s2, weight): sense pairs with s1 < s2 and the number of
    (url, par) they share."""
    ents = (
        mentions.filter(F.col("sense").isNotNull())
        .select("url", "par", "sense").distinct()
    )
    a, b = ents.alias("a"), ents.alias("b")
    pairs = (
        a.join(b, on=["url", "par"])
        .filter(F.col("a.sense") < F.col("b.sense"))
        .select(F.col("a.sense").alias("s1"), F.col("b.sense").alias("s2"))
    )
    return pairs.groupBy("s1", "s2").agg(F.count(F.lit(1)).alias("weight"))


def _comention_triples(counts: DataFrame) -> DataFrame:
    return counts.select(_e(F.col("s1")).alias("subj"),
                         F.lit("coMentionedWith").alias("pred"),
                         _e(F.col("s2")).alias("obj"), "weight")


def comention_edges(mentions: DataFrame) -> DataFrame:
    """(e1, coMentionedWith, e2) with e1 < e2, weighted by pair count (J9)."""
    return _comention_triples(_comention_counts(mentions))


def entity_date_edges(mentions: DataFrame) -> DataFrame:
    """(e:id, associatedDate, iso, weight): temporal scoping of the KG —
    how many (url, paragraph)s mention the entity and the date together.
    Same join shape as comention_edges (equi-join on the fine-grained,
    naturally unskewed (url, par) key; popularity skew lands on the count
    agg where partial aggregation absorbs it), but entity×date instead of
    entity×entity.  No SQL oracle — date extraction (find_dates +
    dateutil) is not expressible in DuckDB — so correctness is pinned by
    an independent pandas recomputation in tests/test_pipeline.py."""
    ents = (
        mentions.filter(F.col("sense").isNotNull())
        .select("url", "par", "sense").distinct()
    )
    dates = (
        mentions.filter(F.col("kind") == "date")
        .select("url", "par", "iso").distinct()
    )
    return (
        ents.join(dates, on=["url", "par"])
        .groupBy("sense", "iso")
        .agg(F.count(F.lit(1)).alias("weight"))
        .select(_e(F.col("sense")).alias("subj"),
                F.lit("associatedDate").alias("pred"),
                F.col("iso").alias("obj"), "weight")
    )


def redirect_edges(kb_df: DataFrame) -> DataFrame:
    """redirect name → entity id resolution: (src id, dst id) long pairs."""
    r = (
        kb_df.filter(F.coalesce(F.col("redirects"), F.lit("")) != "")
        .select(F.col("id").alias("src"),
                F.explode(F.split(F.col("redirects"), r"\|")).alias("rname"))
        .filter(F.col("rname") != "")
    )
    names = kb_df.select(F.col("id").alias("dst"), F.col("name").alias("rname"))
    return r.join(F.broadcast(names), "rname").select("src", "dst")


def sameas_mapping(kb_df: DataFrame) -> DataFrame:
    """(node, component) over redirect links; component = canonical id."""
    return connected_components(redirect_edges(kb_df))


def sameas_type_conflicts(kb_df: DataFrame) -> DataFrame:
    """(component, n_nodes, n_types, types): alias/redirect clusters whose
    members carry more than one KB type — the classic KB-merge bug (a
    redirect chain silently conflating a person with a place).  The QA
    pass every production sameAs canonicalization needs before the remap
    is applied.  Plan: the CC mapping (hybrid, cc.py) joined to the KB
    type column (broadcast-sized), one group agg, a distinct-type filter;
    ``types`` is the sorted-distinct comma join so the output is
    deterministic and exactly SQL-comparable."""
    mapping = sameas_mapping(kb_df)
    types = kb_df.select(F.col("id").alias("node"), "type")
    return (
        mapping.join(F.broadcast(types), "node")
        .groupBy("component")
        .agg(F.count(F.lit(1)).alias("n_nodes"),
             F.countDistinct("type").alias("n_types"),
             F.array_join(F.sort_array(F.collect_set("type")), ",")
             .alias("types"))
        .filter(F.col("n_types") > 1)
        .select(_e(F.col("component")).alias("component"),
                "n_nodes", "n_types", "types")
    )


def sameas_triples(mapping: DataFrame) -> DataFrame:
    return (
        mapping.filter(F.col("node") != F.col("component"))
        .select(_e(F.col("node")).alias("subj"), F.lit("sameAs").alias("pred"),
                _e(F.col("component")).alias("obj"))
    )


def build_triples(mentions: DataFrame, kb_df: DataFrame) -> DataFrame:
    """Full triple table, canonicalized on the KB's compiled sameAs
    ``component``; weight column only on co-mentions.  Co-mentions are
    counted on the raw senses, then both ends are canonicalized."""
    null_weight = F.lit(None).cast("long")
    aliases = kb_df.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias("_id"), F.col("component").alias("_component"))
    out = (
        mention_triples(_to_component(mentions, "sense", aliases))
        .unionByName(type_triples(kb_df))
        .unionByName(attribute_triples(kb_df))
        .withColumn("weight", null_weight)
    )
    counts = _to_component(_to_component(
        _comention_counts(mentions), "s1", aliases), "s2", aliases)
    mapping = aliases.select(F.col("_id").alias("node"),
                             F.col("_component").alias("component"))
    return out.unionByName(_comention_triples(counts)).unionByName(
        sameas_triples(mapping).withColumn("weight", null_weight))


def triple_delta(old: DataFrame, new: DataFrame) -> DataFrame:
    """Recrawl KG maintenance: multiset diff of two triple tables →
    ``(op, subj, pred, obj, …)`` with ``op ∈ {'add', 'del'}`` — apply
    to the materialized table as delete-then-insert to bring the old
    crawl's KG to the new crawl's state.  ``exceptAll`` keeps
    multiplicities and is NULL-safe, so an unchanged triple never
    surfaces and a co-mention weight change surfaces as exactly one
    ``del`` (old weight) + one ``add`` (new weight).

    Scale: one hash shuffle per side over the full triple row; both
    sides co-partition on identical keys, and triple tables are
    mention-derived — orders of magnitude smaller than the page corpus
    whose rescan this operator exists to complement.  Reference
    parity: the reference has no incremental mode (ner.py:756+
    reprocesses its whole input stream per run); this is the
    Spark-native maintenance extension the partitioned/resumable
    triple sink (io/catalog) exists to serve."""
    add = new.exceptAll(old).withColumn("op", F.lit("add"))
    dropped = old.exceptAll(new).withColumn("op", F.lit("del"))
    cols = ["op"] + list(new.columns)
    return add.unionByName(dropped).select(*cols)


def apply_delta(table: DataFrame, delta: DataFrame) -> DataFrame:
    """Apply a :func:`triple_delta` result to a triple table: remove the
    ``del`` rows (multiset — one matching occurrence per del row, which
    ``exceptAll`` gives exactly), add the ``add`` rows.  Invariant
    (pytest-pinned): ``apply_delta(old, triple_delta(old, new))`` is
    multiset-equal to ``new``."""
    body = [c for c in delta.columns if c != "op"]
    dels = delta.filter(F.col("op") == "del").select(*body)
    adds = delta.filter(F.col("op") == "add").select(*body)
    return table.exceptAll(dels).unionByName(adds)
