"""Iterative connected components (union-find by min-label propagation) —
the transitive closure of duplicate-pair edges into clusters (SURVEY.md §2.3;
the reference's analog is the implicit duplicate-cluster graph its trie
collapses eagerly).

Catalyst cannot express fixpoints, so the loop lives on the driver
(SURVEY.md §4 item 2): each round joins the current label table with the
edge list, takes the min label over each node's neighborhood (including
itself), and checks convergence by counting changed labels. Lineage is
truncated every round with ``localCheckpoint`` — without it the plan doubles
per iteration and the job dies at scale. Candidate edges come from salted
stars around bucket minima (buckets.py), so component diameters are small
and the loop converges in O(log diameter)-ish rounds, not O(n).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _truncate(df: DataFrame, durable: bool = False) -> DataFrame:
    """Cut lineage between iterations, lazily: the caller's next action
    materializes it, so the loop's convergence count() both populates the
    checkpoint and reads the changed-row count in ONE job (round 6 barrier
    diet: the probe used to be a second driver-synchronized job per
    iteration).

    Default is localCheckpoint: computed ONCE (a reliable checkpoint runs
    the plan a second time for the write pass — measured ~2x per-round cost
    in the loop). Its blocks die with an executor, but the pipeline's
    durability story is the per-STAGE checkpoint tables (plans/checkpoint.py):
    on executor loss the stage reruns from its input table, not from
    mid-loop state. Pass durable=True (pipeline does when the caller gives a
    checkpoint_dir) to use reliable checkpoints inside the loop as well."""
    sc = df.sparkSession.sparkContext
    if durable and sc._jsc.sc().checkpointDir().isDefined():
        return df.checkpoint(eager=False)
    return df.localCheckpoint(eager=False)


def connected_components(
    edges: DataFrame, max_iterations: int = 20, stats: dict | None = None,
    durable: bool = False,
) -> DataFrame:
    """edges(id_a, id_b) -> (uid, cluster_id) for every endpoint.

    cluster_id is the min uid reachable; isolated nodes are absent (callers
    union them back as singletons). If the fixpoint is NOT reached within
    max_iterations the function raises — partially-propagated labels are
    silently wrong clusters (ADVICE r01). ``stats['iterations']`` reports
    the rounds used (surfaced in pipeline metrics).
    """
    # symmetric adjacency, self-loop so a node keeps its own label in the min.
    # Built with ONE scan of edges (explode of both directions) rather than a
    # self-union: the union's two branches read the edges plan independently,
    # so when the caller hands an unpopulated cached edges frame, the first
    # adj job would compute the whole upstream (candidates + verify +
    # containment) TWICE concurrently. Single-scan adj makes the labels-init
    # job below a safe linear materializer for the caller's edges cache —
    # which lets the pipeline drop its separate edges.count() barrier.
    adj = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
                    F.struct(F.col("id_b").alias("src"), F.col("id_a").alias("dst")),
                )
            ).alias("_e")
        )
        .select("_e.src", "_e.dst")
        .distinct()
    ).cache()  # static across rounds — cache, don't checkpoint (a reliable
    # checkpoint computes its input twice: once for the job, once for the
    # write pass; the loop's LABELS need lineage truncation, adj doesn't)
    labels = _truncate(
        adj.select(F.col("src").alias("uid"))
        .distinct()
        .withColumn("cluster_id", F.col("uid"))
    )
    # the count() is the labels-init materializer (same one job as the old
    # eager checkpoint) AND yields the node count for free — which sizes the
    # loop's shuffle partitions ADAPTIVELY: label/adjacency tables are
    # (long, long) rows, so the session's scan-sized shuffle-partition
    # setting leaves most loop partitions empty at small component counts
    # while every empty partition still costs a task per exchange per
    # round (guide §2.2 — fewer, larger reduce partitions). Target ~16k
    # rows/partition: the loop is latency-bound, so the target balances
    # per-task scheduling overhead (~5-10 ms) against per-partition join
    # work of the same order — far below it tasks are pure overhead, far
    # above it the loop serializes while cores idle (measured: a 240k-node
    # loop forced to 1 partition erased the fusion win). Capped by the
    # session setting so a billion-node graph on a real cluster keeps its
    # full fan-out, and the cap also keeps scaling-leg per-core load
    # matched (bench legs size shuffle_partitions to their core count).
    n_nodes = labels.count()
    spark = edges.sparkSession
    sess_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    loop_parts = max(1, min(sess_parts, -(-n_nodes // 16_384)))
    # snap to the session width once the estimate is within 2x of it: a
    # 13-of-16-partition loop leaves cores idle every round for no overhead
    # win — the shrink only pays when it removes MOST of the empty tasks
    if loop_parts * 2 >= sess_parts:
        loop_parts = sess_parts

    try:
        if loop_parts != sess_parts:
            spark.conf.set("spark.sql.shuffle.partitions", str(loop_parts))
        return _label_loop(adj, labels, max_iterations, durable, stats)
    finally:
        if loop_parts != sess_parts:
            spark.conf.set("spark.sql.shuffle.partitions", str(sess_parts))


def _label_loop(adj, labels, max_iterations, durable, stats):
    converged = False
    iterations = 0
    for it in range(max_iterations):
        iterations = it + 1
        # min label over each node's neighborhood
        neighbor_min = (
            adj.join(labels, adj["dst"] == labels["uid"], "inner")
            .groupBy("src")
            .agg(F.min("cluster_id").alias("_nmin"))
        )
        stepped = (
            labels.join(neighbor_min, labels["uid"] == neighbor_min["src"], "left")
            .select(
                "uid",
                F.col("cluster_id").alias("_old"),
                F.least(
                    F.col("cluster_id"), F.coalesce(F.col("_nmin"), F.col("cluster_id"))
                ).alias("cluster_id"),
            )
        )
        # pointer jump: follow the label one hop (labels map node→label and
        # every label IS a node id, so composing the map halves the residual
        # chain depth — O(log d) rounds instead of O(d); hub-star edges keep
        # d small, but the bucket-overlap tail was costing 3-4 extra
        # driver-synchronized rounds at 60k rows)
        jmp = stepped.select(
            F.col("uid").alias("_juid"), F.col("cluster_id").alias("_jcid")
        )
        merged = (
            stepped.join(jmp, stepped["cluster_id"] == jmp["_juid"], "left")
            .select(
                "uid", "_old",
                F.least(
                    F.col("cluster_id"), F.coalesce(F.col("_jcid"), F.col("cluster_id"))
                ).alias("cluster_id"),
            )
        )
        # LAZY truncation + full count in one action: the count() is the
        # checkpoint's materializing job (every partition is computed and
        # its blocks stored) AND the convergence probe — 1 job/iteration
        # where r05 paid 2 (eager checkpoint job + limit(1).count probe;
        # VERDICT r05 next-round item 4). The count is full rather than
        # limit(1) — limit's incremental partition scan would leave part of
        # the checkpoint unmaterialized and the next round would recompute
        # the remainder from lineage.
        merged = _truncate(merged, durable)
        labels = merged.select("uid", "cluster_id")
        changed = merged.filter(
            F.col("cluster_id") != F.col("_old")
        ).count()
        if changed == 0:
            converged = True
            break
    if stats is not None:
        stats["iterations"] = iterations
        stats["converged"] = converged
    if not converged and iterations == max_iterations:
        # an inter-bucket chain longer than the budget would yield silently
        # wrong clusters — fail loudly instead (ADVICE r01)
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            f"iterations; raise cc_max_iterations (labels still changing)"
        )
    return labels
