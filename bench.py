"""Benchmark harness: headline queries plus one N-vs-4N scaling round.

The headline is the seven dedup-engine catalog queries in HEADLINE (exact
dedup, MinHash/LSH, SimHash, n-gram Jaccard, probe containment, connected
components, the full pipeline), best-of-N each, summed.

Measures the full dedup pipeline AND its signature kernel on a
deterministic synthetic code corpus at two executor counts with one fixed
executor shape, then runs the headline queries at $SPARK_GRAFT_SF_DIR
(default: SF_DIR, the sf0.1 test data) on local[$SPARK_GRAFT_CPUS]
(default: the host's CPUs). The scaling legs:

  weak N   local-cluster[1,c,M] on BENCH_ROWS/4 rows
  4N       local-cluster[4,c,M] on BENCH_ROWS rows

c = os.cpu_count() // 4 cores per executor, so the 4N leg uses every core,
and M (MB of executor heap) is sized so four executor heaps plus the leg
driver's take at most half of host RAM. Per-core load is the same on both legs. Each leg
runs once, in a fresh ``python bench.py --scaling-leg ...`` subprocess that
warms up, measures, and prints one JSON line. Below 4 cores there is no
1-vs-4 executor shape, and the scaling block is
``{"skipped": <reason>, "gate_met": false}``.

Weak efficiency = fps(4N) / (4 * fps(weak N)). The BASELINE.json gate is
>= 0.8 on both RAW weak ratios, the pipeline and the kernel. Prints ONE
JSON line:

  {"metric": ..., "value": total_sec, "unit": "sec", "queries": {...},
   "sf": ..., "headline_reps": ..., "files_per_sec": <4N fps>,
   "scaling": {"weak_efficiency": ..., "kernel_weak_efficiency": ...,
               "gate_basis": ..., "gate_met": ..., ...}}

Set SPARK_GRAFT_SKIP_SCALING=1 to print headline numbers only.
"""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import time

from dedup_domains_spark.session import host_parallelism, host_ram_mb

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = host_parallelism()
# 240k rows: large enough that compute, not per-stage barrier latency,
# dominates the 4N leg
BENCH_ROWS = int(os.environ.get("SPARK_GRAFT_BENCH_ROWS", "240000"))
HEADLINE_REPS = int(os.environ.get("SPARK_GRAFT_HEADLINE_REPS", "2"))
GATE = 0.8
# kernel draws per leg: equal on both legs, since best-of-N is a
# min-statistic and unequal draws would bias the ratio
KERNEL_REPS = 3
# heap of each leg's driver; it schedules and collects, the executors work
LEG_DRIVER_MB = 2048
LEG_TIMEOUT_SEC = 3600

HEADLINE = [
    "exact_dedup_survivors",
    "minhash_lsh_pairs",
    "simhash_pairs",
    "ngram_jaccard_pairs",
    # the pipeline's containment operator (winnowed-fingerprint candidates,
    # Catalyst substring verify); the brute-force cross join is its DuckDB
    # oracle, not a catalog query
    "containment_probe_pairs",
    "connected_components_ngram",
    "code_pipeline_survivors",
]


def _ensure_corpus(rows: int = BENCH_ROWS) -> str:
    cache = f"/tmp/dedup_bench_corpus_{rows}.parquet"
    if not os.path.exists(cache):
        from dedup_domains_spark.datagen import gen_code_corpus

        # row_group_size matters: pandas' default writes ONE row group, and
        # Spark derives scan splits from row-group offsets — a single-group
        # file collapses every "split" but one to empty, so the scan (and
        # everything map-side above it: identity, sha256) runs on ONE core
        # no matter the cluster size. 8k-row groups ≈ 16 MB — the layout a
        # real table writer produces.
        gen_code_corpus(rows, avg_tokens=300).files.to_parquet(
            cache, row_group_size=8192
        )
    return cache


def run_headline() -> dict[str, float]:
    """Best-of-N per query (default 2): rep 1 also carries JIT and
    page-cache warm-up, so the best rep is the steady-state number a real
    cluster job sees. The session's cached tables are dropped after every
    query rep, so no rep reads another rep's ``.cache()`` blocks (the
    pipeline caches its stage tables)."""
    from dedup_domains_spark import get_spark
    from dedup_domains_spark.plans.queries import QUERIES

    spark = get_spark("bench-headline", parallelism=CPUS, shuffle_partitions=CPUS)
    times: dict[str, float] = {}
    for _ in range(max(HEADLINE_REPS, 1)):
        for name in HEADLINE:
            q = QUERIES[name].spark_fn
            t0 = time.time()
            df = q(spark, SF_DIR)
            df.count()
            wall = round(time.time() - t0, 3)
            times[name] = min(times.get(name, wall), wall)
            spark.catalog.clearCache()
    spark.stop()
    return times


def _measure_leg(spark, corpus: str, parallelism: int) -> dict:
    """Timed body of one scaling leg, run inside an already-warm session:
    the signature kernel (best of KERNEL_REPS), then the full pipeline."""
    from pyspark.sql import functions as F

    from dedup_domains_spark import DedupConfig
    from dedup_domains_spark.functions.signatures import add_signatures
    from dedup_domains_spark.plans.pipeline import run_pipeline
    from dedup_domains_spark.sources.code_corpus import with_row_identity

    cfg = DedupConfig()
    df = spark.read.parquet(corpus)
    n = df.count()
    out = {"parallelism": parallelism, "rows": n}

    # (a) signature kernel. Fan out ONCE before caching: repartitioning
    # inside every timed rep would re-shuffle the full content column each
    # time, and the reps would measure shuffle bandwidth, not the signature
    # stage (add_signatures skips its own fan-out with repartition=0)
    ident = (
        with_row_identity(df).select("uid", "content")
        .repartition(parallelism * 2).cache()
    )
    ident.count()
    sig = add_signatures(ident, cfg, repartition=0)
    kernel_wall = float("inf")
    for _ in range(KERNEL_REPS):
        t0 = time.time()
        sig.select(F.sum("n_tokens")).collect()
        kernel_wall = min(kernel_wall, time.time() - t0)
    ident.unpersist()
    out["kernel_sec"] = round(kernel_wall, 2)
    out["kernel_fps"] = round(n / kernel_wall, 1)

    # (b) full pipeline
    t0 = time.time()
    res = run_pipeline(spark, df, cfg)
    res.survivors.count()
    res.cluster_map.count()
    wall = time.time() - t0
    out["wall_sec"] = round(wall, 2)
    out["fps"] = round(n / wall, 1)
    return out


def _scaling_leg(executors: int, cores: int, mem_mb: int, corpus: str) -> None:
    """Entry point of one leg subprocess: start local-cluster[executors,
    cores, mem_mb], warm JIT and the Python workers on a tiny run, measure,
    print the result as the last stdout line."""
    from dedup_domains_spark import DedupConfig, get_spark
    from dedup_domains_spark.datagen import gen_code_corpus
    from dedup_domains_spark.plans.pipeline import run_pipeline

    par = executors * cores
    spark = get_spark(
        f"bench-scale-{executors}x{cores}", parallelism=par,
        # the pipeline fans out to 2x default parallelism; matching it keeps
        # rows per shuffle partition equal on both legs
        shuffle_partitions=par * 2,
        master=f"local-cluster[{executors},{cores},{mem_mb}]",
        extra_conf={"spark.executor.memory": f"{mem_mb}m",
                    "spark.driver.memory": f"{LEG_DRIVER_MB}m"},
    )
    warm = spark.createDataFrame(gen_code_corpus(300).files)
    run_pipeline(spark, warm, DedupConfig()).survivors.count()
    spark.catalog.clearCache()
    out = _measure_leg(spark, corpus, par)
    spark.stop()
    print(json.dumps(out), flush=True)


def _parse_leg_output(stdout: str) -> dict:
    """The leg's result is its last stdout line; anything a library printed
    before it is skipped."""
    lines = stdout.strip().splitlines()
    try:
        return json.loads(lines[-1])
    except (IndexError, ValueError):
        raise RuntimeError("scaling leg printed no result line") from None


def _run_leg(executors: int, cores: int, mem_mb: int, corpus: str) -> dict:
    """Run one leg in a fresh subprocess (its own session group, so a
    timeout kills the JVMs it started too). Fails loudly, never hangs."""
    shape = f"local-cluster[{executors},{cores},{mem_mb}]"
    proc = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), "--scaling-leg",
         str(executors), str(cores), str(mem_mb), corpus],
        stdout=subprocess.PIPE, text=True, start_new_session=True,
    )
    try:
        stdout, _ = proc.communicate(timeout=LEG_TIMEOUT_SEC)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise RuntimeError(
            f"scaling leg {shape} timed out after {LEG_TIMEOUT_SEC} s"
        ) from None
    if proc.returncode != 0:
        raise RuntimeError(
            f"scaling leg {shape} died with exit code {proc.returncode} "
            f"(its stderr is above)"
        )
    return _parse_leg_output(stdout)


def _scaling_summary(weak_n: dict, fourn: dict) -> dict:
    """Raw weak-style ratios of the round and the gate: 1.0 = 4x the
    executors absorb 4x the data in the same wall time."""
    weak = fourn["fps"] / (4.0 * weak_n["fps"])
    kweak = fourn["kernel_fps"] / (4.0 * weak_n["kernel_fps"])
    return {
        "weak_n_rows": weak_n["rows"],
        "weak_n_sec": weak_n["wall_sec"],
        "weak_n_fps": weak_n["fps"],
        "weak_kernel_n_fps": weak_n["kernel_fps"],
        "rows": fourn["rows"],
        "fourn_sec": fourn["wall_sec"],
        "fourn_fps": fourn["fps"],
        "weak_kernel_fourn_fps": fourn["kernel_fps"],
        "weak_efficiency": round(weak, 3),
        "kernel_weak_efficiency": round(kweak, 3),
        "gate_basis": "raw-weak-pair",
        "gate_met": weak >= GATE and kweak >= GATE,
    }


def scaling_round() -> dict:
    """One paired round: the weak-N leg, then the 4N leg, each once."""
    cpus = os.cpu_count() or 1
    if cpus < 4:
        return {"skipped": f"{cpus} cores: a 4N leg of 4 executors needs "
                           f"at least 4", "gate_met": False}
    cores = cpus // 4
    # four executor heaps plus the leg driver's in half of RAM; the rest is
    # for JVM overhead, the Python workers, tmpfs shuffle files and the OS
    mem_mb = min(4096, (host_ram_mb() // 2 - LEG_DRIVER_MB) // 4)
    corpus = _ensure_corpus()
    small = _ensure_corpus(BENCH_ROWS // 4)
    summary = _scaling_summary(
        _run_leg(1, cores, mem_mb, small), _run_leg(4, cores, mem_mb, corpus)
    )
    return {"mode": f"local-cluster[1,{cores},{mem_mb}] vs "
                    f"local-cluster[4,{cores},{mem_mb}]", **summary}


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--scaling-leg":
        executors, cores, mem_mb = map(int, sys.argv[2:5])
        _scaling_leg(executors, cores, mem_mb, sys.argv[5])
        return

    # the scaling legs run first: a stopped session's JVM stays resident in
    # this process, and the 4N leg needs that memory
    scaling = None
    if os.environ.get("SPARK_GRAFT_SKIP_SCALING") != "1":
        try:
            scaling = scaling_round()
        except RuntimeError as e:
            scaling = {"error": str(e), "gate_met": False}
    times = run_headline()
    result = {
        "metric": "dedup_bench_total",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "sf": SF_DIR.rstrip("/").split("sf")[-1],
        "headline_reps": HEADLINE_REPS,
    }
    if scaling is not None:
        result["scaling"] = scaling
        result["files_per_sec"] = scaling.get("fourn_fps")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
