"""The full near-duplicate detection + clustering pipeline (SURVEY.md §7,
BASELINE.json north_star) — the distributed generalization of the
reference's single pass (main.c:110-183):

  identity → route → exact dedup → signatures → LSH ∪ SimHash candidates →
  verify → containment → connected components → representative election →
  survivors + cluster map + lineage + metrics.

Scale shape:
  * ``content`` is touched by exactly three stages (signature UDF, exact
    containment verify, final survivor join); containment candidates come
    from the signature pass's winnowed fingerprints, and every wide shuffle
    carries (uid, hashes, signature) only —
    SURVEY.md §4's shuffle-volume rule.
  * near-dup stages run on exact-dedup representatives, not raw rows: at
    web scale exact dups are the bulk of the mass and collapse first
    (reference rule D1 runs before everything else for the same reason).
  * the expensive shared nodes (signatures, edges) are materialized EAGERLY
    before their consumers fan out. Spark's block cache does not dedupe
    concurrent computation of a not-yet-populated cached plan inside one
    job — profiled r02: letting survivors.count() trigger the whole DAG ran
    the Arrow signature stage several times concurrently, 64 s vs 31 s for
    the staged edges build at 32 cores.
  * candidate generation fuses the LSH band sweep and the SimHash block
    sweep into ONE bucket-pair pass (operators/lsh.fused_candidate_pairs) —
    the stage was barrier-bound, not compute-bound.
  * each stage is checkpointable (plans/checkpoint.py, keyed by config hash
    AND a fingerprint of the input files); lineage records why every
    dropped row died and the sink's metrics table counts every stage — the
    distributed replacement for the reference's per-file counters
    (pfb_dnsbl_prune.py:233-241).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from dedup_domains_spark.config import DedupConfig
from dedup_domains_spark.operators.connected_components import connected_components
from dedup_domains_spark.operators.containment import contained_pairs
from dedup_domains_spark.operators.exact_dedup import exact_dedup
from dedup_domains_spark.operators.lsh import fused_candidate_pairs
from dedup_domains_spark.operators.representative import elect_representatives
from dedup_domains_spark.operators.verify import verify_pairs_estimate, verify_pairs_exact
from dedup_domains_spark.functions.signatures import add_signatures
from dedup_domains_spark.plans.checkpoint import CheckpointContext, input_fingerprint
from dedup_domains_spark.session import codegen_counters
from dedup_domains_spark.sources.code_corpus import with_row_identity

# AQE is off while the pipeline runs: skew is handled EXPLICITLY (salted
# stars, capped buckets, broadcast hints), so AQE's only effect here is a
# driver re-planning barrier at every exchange — 30% of pipeline wall at
# sandbox scale (BENCH.md r02). Re-measured with the codegen cache sized to
# the pass (2,500-row code_mixed, local[4], 5 alternating warm pairs): off
# 5.85 s median per warm pass against 6.75 s on, off faster in 5 of 5.
PIPELINE_AQE = "false"


@dataclass
class PipelineResult:
    """Pipeline outputs. The DIAGNOSTIC frames (lineage, partition_stats)
    are built lazily on first attribute access: every classic-mode
    DataFrame operation pays eager JVM analysis of its plan tree, and
    callers that only consume survivors/cluster_map (the bench legs and the
    headline query among them) never need them (r06; guide §7.3
    driver-side planning). The metrics table is built by the sink
    (sources/sinks.write_results) from counts observed while it writes and
    from ``edge_counts``."""

    survivors: DataFrame     # representative rows + passthrough (full columns)
    cluster_map: DataFrame   # uid, cluster_id, rep_uid, is_rep, electable
    edges: DataFrame         # id_a, id_b, edge_kind — the duplicate graph
    cc_stats: dict           # connected_components stats: iterations, contracted_edges
    _lineage_fn: Callable[[], DataFrame] = None    # uid, action, reason
    _partition_stats_fn: Callable[[], DataFrame] = None
    sig_df: DataFrame | None = None
    _edge_obs: Observation | None = None
    # codegen_counters() when run_pipeline started; the sink reports the
    # classes compiled and compile time since then
    codegen_start: tuple[int, float] = (0, 0.0)

    @property
    def edge_counts(self) -> dict[str, int]:
        """Edges per kind (near, contained, exact), kinds with none left
        out: observed on the cached edge table, which connected
        components' first count materializes inside run_pipeline."""
        return {k: n for k, n in self._edge_obs.get.items() if n}

    @property
    def lineage(self) -> DataFrame:
        if "_lineage" not in self.__dict__:
            self.__dict__["_lineage"] = self._lineage_fn()
        return self.__dict__["_lineage"]

    @property
    def partition_stats(self) -> DataFrame:
        if "_pstats" not in self.__dict__:
            self.__dict__["_pstats"] = self._partition_stats_fn()
        return self.__dict__["_pstats"]


def _partition_stats(stages: dict[str, DataFrame]) -> DataFrame:
    """Per-partition row counts for the named stage DataFrames — the skew
    diagnostic ('per-partition lineage and metrics', BASELINE.json). A
    partition holding >> rows/n_partitions pinpoints a hot key (mega-bucket,
    boilerplate shingle) before it blows an executor at real scale. Lazy:
    nothing is computed until the caller evaluates it."""
    parts = [
        df.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(F.count(F.lit(1)).alias("rows"))
        .select(F.lit(name).alias("stage"), "partition_id", "rows")
        for name, df in stages.items()
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def run_pipeline(
    spark: SparkSession,
    corpus: DataFrame,
    cfg: DedupConfig | None = None,
    passthrough_predicate: str = "lang = 'binary'",
    checkpoint_dir: str | None = None,
) -> PipelineResult:
    cfg = cfg or DedupConfig()
    codegen_start = codegen_counters(spark)
    # The heavy stages run eagerly inside _build_pipeline under
    # PIPELINE_AQE; the session value is restored on every exit, a raised
    # error included, so ad-hoc queries and the sinks keep their AQE
    # behavior.
    aqe_before = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", PIPELINE_AQE)
    try:
        result = _build_pipeline(
            spark, corpus, cfg, passthrough_predicate, checkpoint_dir
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe_before)
    result.codegen_start = codegen_start
    return result


def _build_pipeline(
    spark: SparkSession,
    corpus: DataFrame,
    cfg: DedupConfig,
    passthrough_predicate: str,
    checkpoint_dir: str | None,
) -> PipelineResult:
    ckpt = CheckpointContext(
        spark, checkpoint_dir, cfg.config_hash(),
        input_fingerprint=input_fingerprint(corpus) if checkpoint_dir else "",
    )

    # ---- identity + route (F2 analog: carry-over rows bypass dedup) ----
    df = with_row_identity(corpus)
    df = ckpt.stage(df, "identity").cache()
    passthrough = df.filter(F.expr(passthrough_predicate))
    dedupable = df.filter(~F.expr(passthrough_predicate))

    # ---- D1: exact dedup on content_sha256 ----
    exact = exact_dedup(dedupable)
    exact_map = ckpt.stage(exact.cluster_map, "exact_map").cache()
    # repartition BEFORE caching: the semi-join is usually a broadcast join,
    # which preserves the scan's partitioning — and a scan over few/large
    # row groups is arbitrarily unbalanced (a single-row-group file = ONE
    # fat partition). Every content consumer (signature UDF, exact verify,
    # containment) reads this cache, so balance it once here and the full
    # content column shuffles exactly once in the whole pipeline.
    exact_reps = dedupable.join(
        exact_map.filter("is_rep").select("uid"), "uid", "leftsemi"
    ).repartition(spark.sparkContext.defaultParallelism * 2).cache()

    # ---- signatures on exact representatives only ----
    sig_df = add_signatures(
        exact_reps.select("uid", "content"), cfg, repartition=0
    ).select("uid", "n_tokens", "n_shingles", "minhash", "simhash", "fingerprints")
    sig_df = ckpt.stage(sig_df, "signatures").cache()
    # eager: four consumers fan out from sig_df (bands, blocks, verify twice,
    # containment postings) — materialize once, linearly, before they race.
    # The populated cache also gives the containment join real size
    # statistics to choose broadcast or sort-merge from.
    sig_df.count()

    # ---- candidate generation: fused LSH bands ∪ SimHash blocks ----
    candidates = fused_candidate_pairs(sig_df, cfg)
    candidates = ckpt.stage(candidates, "candidates")

    # ---- verification ----
    if cfg.use_exact_jaccard:
        near = verify_pairs_exact(candidates, exact_reps, cfg)
    else:
        near = verify_pairs_estimate(candidates, sig_df, cfg)
    near = ckpt.stage(near.select("id_a", "id_b"), "near_pairs")

    # ---- D2 analog: exact-substring containment ----
    contained = contained_pairs(exact_reps, sig_df, cfg)
    contained = ckpt.stage(contained, "contained_pairs").cache()

    # ---- edge union: near + containment + exact-dup membership ----
    exact_edges = (
        exact_map.filter(~F.col("is_rep"))
        .select(F.col("rep_uid").alias("id_a"), F.col("uid").alias("id_b"))
    )
    edges = (
        near.withColumn("edge_kind", F.lit("near"))
        .unionByName(
            contained.select(
                F.col("small_id").alias("id_a"), F.col("big_id").alias("id_b")
            ).withColumn("edge_kind", F.lit("contained"))
        )
        .unionByName(exact_edges.withColumn("edge_kind", F.lit("exact")))
    )
    # observed after the stage read, so a checkpoint resume counts too
    edge_obs = Observation()
    edges = ckpt.stage(edges, "edges").observe(edge_obs, *(
        F.sum((F.col("edge_kind") == k).cast("long")).alias(k)
        for k in ("near", "contained", "exact")
    )).cache()
    # no edges.count() barrier here (VERDICT r03 item 3): connected_components
    # counts its contracted edge list from a SINGLE scan of edges, so that
    # first job is a linear materializer for this cache and fills edge_obs
    # (the sink's edge counts). (The old count() + CC-init pair scanned the
    # full upstream twice back-to-back.)

    # ---- connected components + singleton backfill ----
    cc_stats: dict = {}
    labels = connected_components(
        edges.select("id_a", "id_b"), max_iterations=cfg.cc_max_iterations,
        stats=cc_stats,
    )
    singletons = (
        dedupable.select("uid")
        .join(labels.select("uid"), "uid", "leftanti")
        .withColumn("cluster_id", F.col("uid"))
    )
    all_labels = labels.unionByName(singletons)
    all_labels = ckpt.stage(all_labels, "clusters").cache()

    # ---- electability: any copy of contained content cannot represent ----
    contained_reps = contained.select(F.col("small_id").alias("rep_uid")).distinct()
    non_electable = exact_map.join(contained_reps, "rep_uid", "leftsemi").select("uid")
    members = (
        all_labels.join(
            dedupable.select("uid", "repo", "path", "commit"), "uid", "inner"
        )
        .join(non_electable.withColumn("_ne", F.lit(True)), "uid", "left")
        .withColumn("electable", F.coalesce(~F.col("_ne"), F.lit(True)))
        .drop("_ne")
    )

    elected = elect_representatives(members)
    cluster_map = ckpt.stage(
        elected.select("uid", "cluster_id", "rep_uid", "is_rep", "electable"),
        "cluster_map",
    ).cache()

    # ---- survivors: cluster representatives + passthrough carry-over ----
    survivors = (
        df.join(cluster_map.filter("is_rep").select("uid"), "uid", "leftsemi")
        .unionByName(passthrough)
    )
    survivors = ckpt.stage(survivors, "survivors")

    # ---- lineage / partition_stats: LAZY (see PipelineResult — DataFrame
    # operations over large cached plans are eager JVM analysis the
    # survivors-only callers never need) ----
    def _lineage() -> DataFrame:
        # why every row lived or died (M1 analog)
        return (
            cluster_map.withColumn(
                "action",
                F.when(F.col("is_rep"), F.lit("kept_representative"))
                .when(~F.col("electable"), F.lit("dropped_contained"))
                .otherwise(F.lit("dropped_duplicate")),
            ).select("uid", "cluster_id", "rep_uid", "action")
            .unionByName(
                passthrough.select(
                    "uid",
                    F.col("uid").alias("cluster_id"),
                    F.col("uid").alias("rep_uid"),
                    F.lit("passthrough").alias("action"),
                )
            )
        )

    return PipelineResult(
        survivors=survivors,
        cluster_map=cluster_map,
        edges=edges,
        cc_stats=cc_stats,
        _lineage_fn=_lineage,
        _partition_stats_fn=lambda: _partition_stats(
            {"signatures": sig_df, "edges": edges, "cluster_map": cluster_map}
        ),
        sig_df=sig_df,
        _edge_obs=edge_obs,
    )


def assert_sha_invariant(result: PipelineResult) -> int:
    """Every surviving record's content hashes to its recorded sha256
    (BASELINE.json per-row invariant). Returns violation count (must be 0)."""
    return result.survivors.filter(
        F.sha2(F.col("content"), 256) != F.col("content_sha256")
    ).count()
