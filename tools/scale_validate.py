"""Scale validation: full pipeline over a large planted corpus (default
960k rows, ~2 GB content) on a multi-JVM local-cluster, reporting wall,
files/s, per-class planted dup-pair recall, and the sha256 invariant —
the BENCH.md "Scale validation" table's reproduction script.

Usage:
    PYTHONPATH=/root/repo python tools/scale_validate.py [--rows 960000]
        [--workers 4] [--cores 8]

Recall is computed DISTRIBUTED (joins of the planted-pair table against the
cluster map), not via a driver-side dict — the 400-row pytest does the
dict version; at 10^6+ rows the collect would be the only non-distributed
step in the run, so it is a join here (the shape that holds at 10^12).

Prints one JSON line.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=960_000)
    ap.add_argument("--workers", type=int, default=4)
    ap.add_argument("--cores", type=int, default=8)
    ap.add_argument("--executor-mem-mb", type=int, default=4096,
                    help="executor heap; the worker allocation is sized to "
                    "fit it. The 240k-960k runs fit 4g; 1.92M rows on the "
                    "same FOUR executors needs ~2x the heap (measured OOM "
                    "at 4g) — on a real cluster data growth is absorbed by "
                    "MORE executors, which this one-box harness cannot add, "
                    "so heap stands in for fleet size here.")
    ap.add_argument("--shuffle-partitions", type=int, default=0,
                    help="0 = derive from data: ~25k rows per shuffle "
                    "partition, floored at the core count. Partition count "
                    "must scale with DATA, not cores — a fixed 32 puts 60k "
                    "rows of shuffle state per partition at 1.92M rows and "
                    "OOMs a 4g executor heap (measured), exactly the "
                    "sizing rule a 10^12-file cluster job applies.")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from dedup_domains_spark import DedupConfig, get_spark
    from dedup_domains_spark.datagen import gen_code_corpus
    from dedup_domains_spark.plans.pipeline import (
        assert_sha_invariant, run_pipeline,
    )
    from dedup_domains_spark.sources.code_corpus import with_row_identity

    cache = f"/tmp/dedup_scale_corpus_{args.rows}.parquet"
    pairs_cache = f"/tmp/dedup_scale_pairs_{args.rows}.parquet"
    expected_cache = pairs_cache.replace("pairs", "expected")
    # the existence check covers ALL THREE tables (ADVICE r04: a run killed
    # between writes used to leave pairs present / expected missing, and the
    # next run crashed at the expected-side read instead of regenerating),
    # and each table is written to a temp name then renamed so a killed run
    # never leaves a partial file behind the final name
    if not all(os.path.exists(p) for p in (cache, pairs_cache, expected_cache)):
        corpus = gen_code_corpus(args.rows)
        # 8k-row groups: the multi-row-group layout a real table writer
        # produces, so the scan splits across executors (see bench.py)
        corpus.files.to_parquet(cache + ".tmp", row_group_size=8192)
        corpus.expected.to_parquet(expected_cache + ".tmp")
        corpus.pairs.to_parquet(pairs_cache + ".tmp")
        for p in (cache, expected_cache, pairs_cache):
            os.replace(p + ".tmp", p)
        # release the generator's in-driver pandas frames before the Spark
        # phase: at 7.68M rows they hold ~12 GB of RSS the executors need —
        # the first 7.68M attempt (20g executors) lost a JVM to the kernel
        # OOM-killer with the driver python sitting on exactly this weight
        del corpus
        gc.collect()

    par = args.workers * args.cores
    shuffle = args.shuffle_partitions or max(par, args.rows // 25_000)
    worker_mb = args.executor_mem_mb + 2048
    spark = get_spark(
        "scale-validate", parallelism=par, shuffle_partitions=shuffle,
        master=f"local-cluster[{args.workers},{args.cores},{worker_mb}]",
        extra_conf={"spark.executor.memory": f"{args.executor_mem_mb}m"},
    )
    cfg = DedupConfig()

    # warm JIT/python workers so the timed run measures steady state
    warm = spark.createDataFrame(gen_code_corpus(300).files)
    run_pipeline(spark, warm, cfg).survivors.count()

    df = spark.read.parquet(cache)
    n = df.count()
    t0 = time.time()
    res = run_pipeline(spark, df, cfg)
    n_surv = res.survivors.count()
    res.cluster_map.count()
    wall = time.time() - t0

    # --- distributed per-class recall over the planted pairs ---
    # planted uid (row index) -> engine uid via the expected side table
    exp = spark.read.parquet(expected_cache)
    ident = (
        with_row_identity(df.join(
            exp.select("repo", "path", "commit",
                       F.col("uid").alias("planted_uid")),
            ["repo", "path", "commit"]))
        .select("planted_uid", F.col("uid").alias("engine_uid"))
    )
    cmap = res.cluster_map.select(
        F.col("uid").alias("engine_uid"), "cluster_id"
    ).join(ident, "engine_uid").select("planted_uid", "cluster_id")
    pairs = spark.read.parquet(pairs_cache)
    joined = (
        pairs
        .join(cmap.select(F.col("planted_uid").alias("id_a"),
                          F.col("cluster_id").alias("_ca")), "id_a")
        .join(cmap.select(F.col("planted_uid").alias("id_b"),
                          F.col("cluster_id").alias("_cb")), "id_b")
        .groupBy("kind")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("_ca") == F.col("_cb")).cast("long")).alias("hit"),
        )
    )
    per_kind = {r["kind"]: (r["hit"], r["n"]) for r in joined.collect()}
    tot_hit = sum(h for h, _ in per_kind.values())
    tot_n = sum(c for _, c in per_kind.values())
    n_pairs = pairs.count()
    # recall's denominator is the PLANTED pair count, not the joined one
    # (ADVICE r04 item 3): a planted row missing from cluster_map would
    # silently drop its pairs out of a tot_n denominator and overstate
    # recall, so pairs that fail the two cluster-map joins count as misses —
    # and a mismatch is also reported loudly rather than left to a footnote
    if tot_n != n_pairs:
        print(f"WARNING: {n_pairs - tot_n} planted pairs missing from "
              f"cluster_map (checked {tot_n} of {n_pairs}) — counted as "
              "misses in recall", file=sys.stderr)
    sha_violations = assert_sha_invariant(res)

    print(json.dumps({
        "rows": n, "wall_sec": round(wall, 1),
        "files_per_sec": round(n / wall, 1),
        "survivors": n_surv,
        "recall": round(tot_hit / max(n_pairs, 1), 4),
        "recall_per_kind": {
            k: round(h / max(c, 1), 4) for k, (h, c) in sorted(per_kind.items())
        },
        "pairs_checked": tot_n, "pairs_planted": n_pairs,
        "sha_violations": sha_violations,
        "cc_iterations": res.cc_stats["iterations"],
        "mode": f"local-cluster[{args.workers},{args.cores}] "
                f"shuffle_partitions={shuffle}",
    }))
    spark.stop()


if __name__ == "__main__":
    main()
