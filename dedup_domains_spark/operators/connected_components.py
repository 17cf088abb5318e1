"""Connected components (min-uid labels) — the transitive closure of
duplicate-pair edges into clusters (SURVEY.md §2.3; the reference's analog
is the implicit duplicate-cluster graph its trie collapses eagerly).

Contract, then finish on the driver (the load-balanced union-find line of
BTS, ICDE 2024). The state is a label per node and the *contracted edge
list*: distinct ``(label(a), label(b))`` pairs with ``label(a) != label(b)``.
While every node is its own label that list is just the adjacency, so the
first job scans the edges once (which materializes a cached edge DAG) and
counts it. A list of at most ``driver_edge_budget`` rows is collected and a
vectorized numpy union-find finishes the labels.

Graphs over the budget first run distributed rounds: each joins the label
table with the adjacency, takes the min label over each node's
neighborhood, pointer-jumps one hop, and truncates lineage with a lazy
``localCheckpoint``. The round's one job counts the contracted edges of the
new labels. That count materializes the checkpoint, tests convergence (zero
contracted edges is the fixpoint: each component carries one label, its min
uid) and tells the driver when the residual fits the budget.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

# the contracted edge list may take 1/16 of the driver heap at 16 bytes per
# (long, long) edge: about 12M edges on a 3g heap
_HEAP_SHARE = 16
_EDGE_BYTES = 16
_UNITS = {"k": 2**10, "m": 2**20, "g": 2**30, "t": 2**40}


def driver_edge_budget(spark) -> int:
    """Largest contracted edge list collected to the driver, from
    ``spark.driver.memory`` (a bare number is MiB, as in Spark)."""
    mem = spark.sparkContext.getConf().get("spark.driver.memory", "1g")
    mem = mem.strip().lower().rstrip("b")
    if mem[-1] in _UNITS:
        heap = int(float(mem[:-1]) * _UNITS[mem[-1]])
    else:
        heap = int(mem) * _UNITS["m"]
    return heap // (_HEAP_SHARE * _EDGE_BYTES)


def min_uid_labels(a: np.ndarray, b: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Union-find over the edges ``a[i] - b[i]``: returns every endpoint and
    the min uid of its component.

    Each round hooks every root onto the smallest root it shares an edge
    with (a parent is always smaller than its child, so no cycles), then
    pointer-jumps until every node points at its root, then contracts the
    edge list to the edges that still join two roots."""
    nodes, idx = np.unique(np.concatenate([a, b]), return_inverse=True)
    parent = np.arange(len(nodes))
    ea, eb = idx[: len(a)], idx[len(a):]
    while len(ea):
        ra, rb = parent[ea], parent[eb]
        cross = ra != rb
        ea, eb = np.minimum(ra, rb)[cross], np.maximum(ra, rb)[cross]
        np.minimum.at(parent, eb, ea)
        while True:
            jumped = parent[parent]
            if np.array_equal(jumped, parent):
                break
            parent = jumped
    # nodes are sorted, so the smallest index of a component is its min uid
    return nodes, nodes[parent]


def _step(adj: DataFrame, labels: DataFrame) -> DataFrame:
    """One distributed round: min label over each node's neighborhood, then
    one pointer jump (labels map node→label and every label IS a node, so
    composing the map halves the residual chain depth)."""
    neighbor_min = (
        adj.join(labels, adj["dst"] == labels["uid"])
        .groupBy("src")
        .agg(F.min("cluster_id").alias("_nmin"))
    )
    stepped = labels.join(neighbor_min, labels["uid"] == neighbor_min["src"]).select(
        "uid", F.least("cluster_id", "_nmin").alias("cluster_id")
    )
    jmp = stepped.select(F.col("uid").alias("_juid"), F.col("cluster_id").alias("_jcid"))
    return stepped.join(jmp, stepped["cluster_id"] == jmp["_juid"]).select(
        "uid", F.least("cluster_id", "_jcid").alias("cluster_id")
    )


def _contract(pairs: DataFrame, labels: DataFrame) -> DataFrame:
    """The edge list contracted to the current labels."""
    la = labels.select(F.col("uid").alias("a"), F.col("cluster_id").alias("_la"))
    lb = labels.select(F.col("uid").alias("b"), F.col("cluster_id").alias("_lb"))
    return (
        pairs.join(la, "a").join(lb, "b")
        .select(F.least("_la", "_lb").alias("a"), F.greatest("_la", "_lb").alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )


def _finish_on_driver(contracted: DataFrame, labels: DataFrame | None, dtype) -> DataFrame:
    """Collect the contracted edges, union-find them, and map the result
    back onto the label table (or return it: with no label table every
    node is its own label)."""
    pdf = contracted.toPandas()
    nodes, roots = min_uid_labels(
        pdf["a"].to_numpy(np.int64), pdf["b"].to_numpy(np.int64)
    )
    schema = StructType([StructField("uid", dtype), StructField("cluster_id", dtype)])
    found = contracted.sparkSession.createDataFrame(
        pd.DataFrame({"uid": nodes, "cluster_id": roots}), schema
    )
    if labels is None:
        return found
    root = found.select(F.col("uid").alias("_label"), F.col("cluster_id").alias("_root"))
    return labels.join(F.broadcast(root), labels["cluster_id"] == root["_label"], "left").select(
        "uid", F.coalesce("_root", "cluster_id").alias("cluster_id")
    )


def connected_components(
    edges: DataFrame, max_iterations: int = 20, stats: dict | None = None
) -> DataFrame:
    """edges(id_a, id_b) -> (uid, cluster_id) for every endpoint.

    cluster_id is the min uid reachable; isolated nodes are absent (callers
    union them back as singletons). If the contracted edges still exceed the
    driver budget after max_iterations distributed rounds the function
    raises — partially-propagated labels are silently wrong clusters
    (ADVICE r01). ``stats['iterations']`` reports the distributed rounds
    run (0 when the first contracted list fits the driver) and
    ``stats['contracted_edges']`` the contracted-edge count before each.
    """
    dtype = edges.schema["id_a"].dataType
    budget = driver_edge_budget(edges.sparkSession)
    # the contracted list while every node is its own label: one row per
    # undirected pair. Self-loops stay, so an endpoint with no other edge
    # still gets its own label.
    pairs = edges.select(
        F.least("id_a", "id_b").alias("a"), F.greatest("id_a", "id_b").alias("b")
    ).distinct().cache()
    contracted, adj, labels, counts = pairs, None, None, []
    try:
        while True:
            counts.append(contracted.count())
            if counts[-1] == 0 and labels is not None:
                return labels
            if counts[-1] <= budget:
                return _finish_on_driver(contracted, labels, dtype)
            if len(counts) > max_iterations:
                raise RuntimeError(
                    f"connected_components did not converge in {max_iterations} "
                    f"iterations; raise cc_max_iterations ({counts[-1]} contracted "
                    f"edges left, driver budget {budget})"
                )
            if adj is None:
                adj = pairs.select(F.explode(F.array(
                    F.struct(F.col("a").alias("src"), F.col("b").alias("dst")),
                    F.struct(F.col("b").alias("src"), F.col("a").alias("dst")),
                )).alias("_e")).select("_e.src", "_e.dst").cache()
                labels = adj.select(F.col("src").alias("uid")).distinct().withColumn(
                    "cluster_id", F.col("uid"))
            # lazy: the round's count materializes it, and computes it once
            # (a reliable checkpoint runs the plan again for its write)
            labels = _step(adj, labels).localCheckpoint(eager=False)
            if contracted is not pairs:
                contracted.unpersist()
            contracted = _contract(pairs, labels).cache()
    finally:
        if stats is not None:
            stats["iterations"] = len(counts) - 1
            stats["contracted_edges"] = counts
        for df in (pairs, adj, contracted):
            if df is not None:
                df.unpersist()
