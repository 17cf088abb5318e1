"""Output sinks: survivors + cluster map + lineage + metrics as partitioned
parquet tables (Iceberg-shaped layout) plus a run manifest.

Reference analog: the order-preserving merge-skip sink (O2,
pfb_prune.c:666-728) — generalized to a table write where per-source
ordering is a sort-within-partitions, and byte fidelity is the sha256
invariant column instead of line replay.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import Observation
from pyspark.sql import functions as F

from dedup_domains_spark.plans.pipeline import PipelineResult
from dedup_domains_spark.session import codegen_counters


def write_survivor_text_files(
    survivors,
    inputs: list[str],
    out_dir: str,
    out_ext: str,
    order_cols: tuple[str, ...] = ("linenumber",),
) -> int:
    """Distributed O2 sink for domain mode, with reference output naming
    (reference pfb_prune.c:666-728 writes per-file survivors in line
    order). The scale path behind the fixture-scale
    ``domain_mode.write_survivor_files``.

    Executors write one ordered text part per input feed
    (``repartition(file_order)`` + ``sortWithinPartitions`` + ``partitionBy``,
    keyed by the numeric CLI position so partition directory names never
    need URL-decoding), so each feed is written by exactly one task. The
    driver then only RENAMES each part to ``<base><out_ext>`` (reference naming,
    pfb_prune.c outputfilename / pfb_dnsbl_prune.py:331-333) and creates
    empty outputs for feeds with no survivors. No row ever passes through
    the driver. Returns the survivor line count, observed during the write.
    """
    import shutil

    os.makedirs(out_dir, exist_ok=True)
    tmp = os.path.join(out_dir, "._dnsbl_text_tmp")
    lines = Observation("dnsbl_text")
    sel = (
        survivors.select("file_order", *order_cols,
                         F.col("raw_line").alias("value"))
        .repartition("file_order")
        .sortWithinPartitions("file_order", *order_cols)
        # observed after the shuffle, where tasks run even for an empty
        # input (on the map side, an all-empty input left it unset)
        .observe(lines, F.count(F.lit(1)).alias("rows"))
        .select("file_order", "value")
    )
    sel.write.mode("overwrite").partitionBy("file_order").text(tmp)

    for order, src in enumerate(inputs):
        base = os.path.splitext(os.path.basename(src))[0]
        dest = os.path.join(out_dir, base + out_ext)
        part_dir = os.path.join(tmp, f"file_order={order}")
        parts = (
            [f for f in os.listdir(part_dir) if f.startswith("part-")]
            if os.path.isdir(part_dir) else []
        )
        # repartition("file_order") puts a key in exactly one task, and no
        # maxRecordsPerFile is set, so a feed has at most one part
        if len(parts) > 1:
            raise RuntimeError(
                f"feed {src} was written as {len(parts)} parts, expected one"
            )
        if parts:
            os.replace(os.path.join(part_dir, parts[0]), dest)
        else:
            open(dest, "wb").close()
    shutil.rmtree(tmp, ignore_errors=True)
    return lines.get["rows"]


def write_results(
    result: PipelineResult,
    out_dir: str,
    partition_by: str | None = "lang",
    config_hash: str = "",
) -> dict:
    """Write all pipeline outputs; returns the manifest dict.

    Survivors are partitioned (default by lang — at 100 TB this would be the
    Iceberg partition spec) and sorted within partitions by (repo, path) so
    downstream scans are clustered; cluster_map/lineage/metrics are plain
    tables keyed by uid.

    Four actions, none a rescan: the survivors and cluster_map writes carry
    their row counts (and the survivors' sha256 invariant) as observed
    metrics, then the lineage write and the write of the metrics rows, an
    inline literal built here on the driver. The edge counts by kind were
    observed inside run_pipeline (PipelineResult.edge_counts). The
    manifest's ``codegen`` block counts the classes Janino compiled from
    the start of run_pipeline to the end of this write."""
    os.makedirs(out_dir, exist_ok=True)

    surv_obs, cm_obs = Observation("survivors"), Observation("cluster_map")
    bad_sha = F.sha2(F.col("content"), 256) != F.col("content_sha256")
    surv = result.survivors.observe(
        surv_obs, F.count(F.lit(1)).alias("rows"),
        F.sum(bad_sha.cast("long")).alias("violations"),
    ).sortWithinPartitions("repo", "path")
    w = surv.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(partition_by)
    w.parquet(f"{out_dir}/survivors")

    result.cluster_map.observe(
        cm_obs, F.count(F.lit(1)).alias("rows"),
        F.sum(F.col("is_rep").cast("long")).alias("reps"),
    ).write.mode("overwrite").parquet(f"{out_dir}/cluster_map")
    edges = {f"edges_{k}": n for k, n in result.edge_counts.items()}
    result.lineage.write.mode("overwrite").parquet(f"{out_dir}/lineage")

    # every dedupable row has one cluster_map row and every cluster one
    # representative; each exact duplicate is one exact edge to its rep
    surv_m, cm_m = surv_obs.get, cm_obs.get
    survivors, dedupable, clusters = surv_m["rows"], cm_m["rows"], cm_m["reps"] or 0
    passthrough = survivors - clusters
    metrics = {
        "input": dedupable + passthrough,
        "passthrough": passthrough,
        "dedupable": dedupable,
        "exact_reps": dedupable - edges.get("edges_exact", 0),
        "clusters": clusters,
        "survivors": survivors,
        **edges,
        "cc_iterations": result.cc_stats["iterations"],
    }
    # a literal over one row: createDataFrame(list) would ship the rows
    # through Python-RDD tasks
    rows = F.array(*(
        F.struct(F.lit(k).alias("stage"), F.lit(v).cast("long").alias("count"))
        for k, v in metrics.items()
    ))
    spark = result.survivors.sparkSession
    spark.range(1, numPartitions=1).select(F.inline(rows)).write.mode("overwrite").parquet(
        f"{out_dir}/metrics")

    # Janino compiles of the pass (run_pipeline and this sink): 0 when the
    # session's codegen cache already holds every class of the plan
    classes, compile_ms = codegen_counters(spark)
    classes0, compile_ms0 = result.codegen_start
    manifest = {
        "written_at": time.time(),
        "config_hash": config_hash,
        "tables": ["survivors", "cluster_map", "lineage", "metrics"],
        "partition_by": partition_by,
        "metrics": metrics,
        "sha256_invariant_violations": surv_m["violations"] or 0,
        "codegen": {"classes_compiled": classes - classes0,
                    "compile_ms": round(compile_ms - compile_ms0, 1)},
    }
    with open(f"{out_dir}/manifest.json", "w") as f:
        json.dump(manifest, f, indent=2)
    return manifest
