"""Connected components over an edge DataFrame (canonicalization, J10).

Hash-min label propagation with POINTER JUMPING, expressed in DataFrames:
each round every node adopts the minimum label in its closed neighborhood
(one shuffle join + hash agg), then labels are compressed one pointer hop
(labels joined with themselves), so convergence is O(log diameter) rounds
rather than O(diameter) — the property that makes the loop viable on
web-scale alias/redirect graphs whose occasional long chains would
otherwise dominate.  Convergence is detected by a changed-count check and
``localCheckpoint`` truncates lineage so plans don't grow per round.

No reference counterpart — the reference has no canonicalization; edges come
from KB alias/redirect links (KB2namelist.py:371-392 treats redirects as
aliases in a commented variant; SURVEY J10).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def union_find(pairs) -> dict[int, int]:
    """node → minimum node id of its component, over every node of
    ``pairs``: the driver-side solver of :func:`connected_components` and
    of the KB compile's sameAs components (``kb.build.kb_components``)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {int(n): int(find(n)) for n in parent}


def connected_components(edges: DataFrame, src: str = "src", dst: str = "dst",
                         max_iter: int = 40,
                         driver_threshold: int = 2_000_000) -> DataFrame:
    """→ (node long, component long) with component = min node id reachable.

    Hybrid: edge sets under ``driver_threshold`` are solved with a driver
    union-find (the alias/redirect and near-dup-pair graphs are PAIR-sized
    — tiny next to the corpus — and the iterative loop's ~2·rounds Spark
    jobs dominate its runtime there); larger graphs run the distributed
    pointer-jumping loop.  2M edges ≈ 32 MB driver-side — the probe is a
    bounded ``limit(threshold+1)`` collect, never an unbounded pull.
    Raises RuntimeError if ``max_iter`` rounds do not converge (2^40-diameter
    graphs do not occur in practice; silent truncation would corrupt the
    canonical mapping).
    """
    e = edges.select(F.col(src).cast("long").alias("src"),
                     F.col(dst).cast("long").alias("dst")).filter("src <> dst")
    if driver_threshold:
        # size probe + (maybe) gather, both PARALLEL: the edge pipeline is
        # computed once into the cache by the count; the driver path then
        # Arrow-collects from cache.  A limit(N).collect() probe would
        # funnel the whole edge set through one CollectLimit task as Row
        # objects — measurably slower than recomputing at ~400k edges.
        e = e.persist()
        n_edges = e.count()
        if n_edges <= driver_threshold:
            pdf = e.toPandas()
            e.unpersist()
            return edges.sparkSession.createDataFrame(
                list(union_find(zip(pdf["src"].to_list(),
                                    pdf["dst"].to_list())).items()),
                "node long, component long")
    sym = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).distinct()
    sym = sym.localCheckpoint()
    if driver_threshold:
        e.unpersist()
    labels = (
        sym.select(F.col("src").alias("node"))
        .union(sym.select(F.col("dst").alias("node")))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        # 1. hash-min over the closed neighborhood
        msgs = (
            sym.join(labels, sym.src == labels.node)
            .select(F.col("dst").alias("node"), "component")
        )
        mins = (
            labels.select("node", "component").union(msgs)
            .groupBy("node").agg(F.min("component").alias("component"))
        )
        # 2. pointer jump: component := component's component (path halving)
        parents = mins.select(F.col("node").alias("p_node"),
                              F.col("component").alias("p_comp"))
        new_labels = (
            mins.join(parents, mins.component == parents.p_node, "left")
            .select("node",
                    F.coalesce("p_comp", "component").alias("component"))
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.component") != F.col("o.component"))
            .limit(1).count()
        )
        labels = new_labels
        if changed == 0:
            return labels
    raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")
