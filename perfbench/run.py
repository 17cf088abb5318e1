"""Benchmark of the dedup engine, driven from outside the program.

    python3 perfbench/run.py --workload code_mixed --seed 1 --seconds 1 --trace 0

Runs one workload in one process against a fresh Spark session and prints,
as the last stdout line, one JSON object {correct, attempted, failed,
metrics}. Run from the repository root (or anywhere: the root is found from
this file's location); the engine is imported from that root.

Session shape (pinned, so host defaults cannot move the numbers):
``get_spark(parallelism=4, shuffle_partitions=8)`` = ``local[4]``, driver
heap pinned at 3g (-Xms = -Xmx, so heap sizing does not vary run to run),
and the Spark local dir and the Java and Python temp dirs in a fresh per-run
directory under ``.perfbench_work/`` that is removed at exit.

Untraced run (--trace 0), end-to-end metrics:
  setup_s      the run's set-up, what a fresh one-shot run pays before its
               first pass: JVM launch, get_spark, and registering the input
               (the loader call). Data generation is cached on disk by
               (workload, seed, size) and excluded.
  cold_s       wall of the first pass in the fresh session.
  rows_per_s   input rows / median wall of the warm passes, which repeat
               until --seconds have elapsed, and at least MIN_WARM times
               (2 code passes, 3 dnsbl passes). The cold pass never enters
               it. BENCHMARK.json sets --seconds 1, so every run measures
               exactly MIN_WARM warm passes: the warm passes are still on
               the JIT warm-up slope (the first 10-40% slower than the
               second), and a time-based pass count that varied between
               runs moved the median along that slope.
Between passes, outside the timed region, both processes run a full GC.
  peak_rss_mb  peak resident memory of the process tree (this process, the
               JVM, the Python workers), sampled from /proc every 0.1 s as
               the sum of PSS, which counts pages shared by forked workers
               once.
  dup_recall, drop_precision   see oracle.py.
Every pass is one operation; an exception or a failed check fails it.

Traced run (--trace 1): a cold pass, then an untraced warm pass (its Spark
counters are the ``pipeline.*`` metrics), one traced pass that runs the
program's own run_pipeline with each layer call timed and its output
materialized under ``setJobGroup(<layer>)`` (passes.py), and a second
untraced warm pass. trace.overhead_s is the traced wall minus the median
untraced warm wall. trace.layer_share is the layers' summed self time over
the traced wall; pipeline.self_s, run_pipeline's own code between layer
calls, is left out of it. Spans are written to ``.perfbench_work/traces/``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = 4
SHUFFLE_PARTITIONS = 8
DRIVER_MEMORY = "3g"
# warm passes per run (a dnsbl pass is a quarter of a code pass)
MIN_WARM = {"code_mixed": 2, "dnsbl_prune": 3}

# input size per workload (rows for code, lines for dnsbl)
SIZES = {"code_mixed": 2500, "dnsbl_prune": 100_000}
# where a run reads its dnsbl feeds from, under .perfbench_work/ (one path
# for every run in a checkout; runs in one checkout run one at a time)
FEED_DIR = "feeds"
# correctness floors for the code workloads (planted structure is recovered
# completely at these sizes; a drop below means the engine changed results)
MIN_RECALL = 0.99
MIN_PRECISION = 0.99

LAYER_METRICS = (("call_s", "s"), ("exec_s", "s"), ("jobs", "count"),
                 ("executor_cpu_s", "s"), ("shuffle_write_mb", "MB"),
                 ("spill_mb", "MB"), ("task_skew", "ratio"), ("rows_out", "rows"))


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _import_engine():
    """Import the engine from this checkout only; exit non-zero without it."""
    sys.path.insert(0, ROOT)
    try:
        import dedup_domains_spark
    except ImportError as e:
        _fail(f"cannot import the engine from {ROOT}: {e}")
    if not os.path.abspath(dedup_domains_spark.__file__).startswith(ROOT + os.sep):
        _fail("the engine was imported from outside the checkout")


# ---------------------------------------------------------------------------
# session lifecycle
# ---------------------------------------------------------------------------

def start_spark(run_dir: str):
    from dedup_domains_spark import get_spark

    local = os.path.join(run_dir, "spark-local")
    os.makedirs(local, exist_ok=True)
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir; pin both
    os.environ["SPARK_LOCAL_DIRS"] = local
    return get_spark(
        "perfbench", parallelism=CORES, shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": local,
            "spark.driver.extraJavaOptions":
                f"-Xms{DRIVER_MEMORY} -XX:-UsePerfData -Djava.io.tmpdir={run_dir}/tmp",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to exit
    (its Python workers exit with it)."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.close()
    if proc is not None:
        proc.stdin.close()          # the gateway JVM exits on stdin EOF
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------

class CodeWorkload:
    kind = "code"

    def __init__(self, meta: dict):
        import numpy as np
        import pandas as pd

        from dedup_domains_spark.config import DedupConfig

        self.source = meta["parquet"]
        t = np.load(meta["truth"])
        self.truth, self.pairs = t["truth"], t["pairs"]
        self.n_rows = len(self.truth)
        self.keys = pd.read_parquet(self.source, columns=["repo", "path", "commit"])
        self.cfg = DedupConfig()
        self.uid_of_row = None
        self.first_survivors = None

    def register(self, spark):
        from dedup_domains_spark.sources.code_corpus import load_code_corpus

        return load_code_corpus(spark, self.source)

    def run_pass(self, spark, out_dir: str) -> dict:
        from perfbench.passes import code_pass

        return code_pass(spark, self.source, out_dir, self.cfg)

    def traced_pass(self, spark, out_dir: str, rec):
        from perfbench.passes import traced_code_pass

        return traced_code_pass(spark, self.source, out_dir, self.cfg, rec)

    def _uids(self, spark):
        # the engine's row identity (xxhash64 of repo, path, commit) per row
        from pyspark.sql import functions as F

        pdf = self.keys.assign(_row=range(self.n_rows))
        got = (spark.createDataFrame(pdf)
               .select("_row", F.xxhash64("repo", "path", "commit").alias("uid"))
               .toPandas().sort_values("_row"))
        return got["uid"].to_numpy()

    def check(self, spark, out_dir: str) -> dict:
        """Scores of a written result; raises when a check fails."""
        import pandas as pd

        from perfbench.oracle import code_scores

        if self.uid_of_row is None:
            self.uid_of_row = self._uids(spark)
        with open(os.path.join(out_dir, "manifest.json")) as f:
            manifest = json.load(f)
        surv = pd.read_parquet(os.path.join(out_dir, "survivors"), columns=["uid"])["uid"]
        cmap = pd.read_parquet(os.path.join(out_dir, "cluster_map"),
                               columns=["uid", "cluster_id", "rep_uid"])
        s = code_scores(self.uid_of_row, self.truth, self.pairs, cmap, surv)
        survivors = frozenset(int(u) for u in surv)
        problems = []
        if manifest["sha256_invariant_violations"] != 0:
            problems.append(f"sha256 violations {manifest['sha256_invariant_violations']}")
        if s["dup_recall"] < MIN_RECALL:
            problems.append(f"dup_recall {s['dup_recall']:.4f} < {MIN_RECALL}")
        if s["drop_precision"] < MIN_PRECISION:
            problems.append(f"drop_precision {s['drop_precision']:.4f} < {MIN_PRECISION}")
        if len(survivors) != len(surv):
            problems.append("duplicate survivor rows")
        if self.first_survivors is None:
            self.first_survivors = survivors
        elif survivors != self.first_survivors:
            problems.append("survivors differ from the first pass")
        if problems:
            raise AssertionError("; ".join(problems))
        return s


class DnsblWorkload:
    kind = "dnsbl"

    def __init__(self, meta: dict, feed_dir: str | None = None):
        from perfbench.oracle import dnsbl_oracle

        self.feeds = meta["feeds"]
        if feed_dir is not None:
            # the loader's per-file window is partitioned by file URI, so the
            # path decides which feeds share a shuffle partition and how long
            # the longest task runs: read every seed's feeds from one path
            os.makedirs(feed_dir, exist_ok=True)
            self.feeds = [shutil.copy(p, feed_dir) for p in self.feeds]
        raw = []
        for p in self.feeds:
            with open(p, "rb") as f:
                raw.append(f.read())
        self.expected, fates = dnsbl_oracle(raw, prune_regex=True)
        self.n_rows = sum(len(f) for f in fates)
        # per file: input line -> count, and oracle survivor line -> count
        self.inputs = [Counter(ln for ln, _ in f) for f in fates]
        self.oracle_kept = [Counter(e.decode().splitlines()) for e in self.expected]

    def register(self, spark):
        from dedup_domains_spark.sources.dnsbl import load_dnsbl_files

        return load_dnsbl_files(spark, self.feeds)

    def run_pass(self, spark, out_dir: str) -> dict:
        from perfbench.passes import dnsbl_pass

        return dnsbl_pass(spark, self.feeds, out_dir)

    def traced_pass(self, spark, out_dir: str, rec):
        from perfbench.passes import traced_dnsbl_pass

        return traced_dnsbl_pass(spark, self.feeds, out_dir, rec)

    def outputs(self, out_dir: str) -> list[bytes]:
        from perfbench.passes import OUT_EXT

        got = []
        for p in self.feeds:
            name = os.path.splitext(os.path.basename(p))[0] + OUT_EXT
            with open(os.path.join(out_dir, name), "rb") as f:
                got.append(f.read())
        return got

    def check(self, spark, out_dir: str) -> dict:
        """Byte-identical, same-order outputs per file; recall/precision of
        the drops computed per distinct line text."""
        got = self.outputs(out_dir)
        e_drop = o_drop = both = 0
        for inp, want, data in zip(self.inputs, self.oracle_kept, got):
            have = Counter(data.decode().splitlines())
            for ln, n in inp.items():
                de, do = n - have.get(ln, 0), n - want.get(ln, 0)
                e_drop, o_drop, both = e_drop + de, o_drop + do, both + min(de, do)
        s = {"dup_recall": both / o_drop if o_drop else 1.0,
             "drop_precision": both / e_drop if e_drop else 1.0}
        bad = [os.path.basename(p) for p, g, w in zip(self.feeds, got, self.expected)
               if g != w]
        if bad:
            raise AssertionError(f"outputs differ from the oracle: {', '.join(bad)}")
        return s


def load_workload(name: str, seed: int, work: str):
    from perfbench.workloads import cached_input

    meta = cached_input(os.path.join(work, "cache"), name, seed, SIZES[name])
    if meta["kind"] == "dnsbl":
        return DnsblWorkload(meta, feed_dir=os.path.join(work, FEED_DIR))
    return CodeWorkload(meta)


# ---------------------------------------------------------------------------
# runs
# ---------------------------------------------------------------------------

class Run:
    def __init__(self, wl, run_dir: str):
        self.wl = wl
        self.run_dir = run_dir
        self.attempted = 0
        self.failed = 0
        self.scores: list[dict] = []
        self.n_out = 0

    def out_dir(self) -> str:
        self.n_out += 1
        return os.path.join(self.run_dir, "out", str(self.n_out))

    def setup(self):
        t0 = time.perf_counter()
        spark = start_spark(self.run_dir)
        self.wl.register(spark)
        return spark, time.perf_counter() - t0

    @staticmethod
    def _settle(spark) -> None:
        """Between passes, outside the timed region: a full GC in both
        processes, so Spark's cleaner deletes the finished pass's shuffle
        files and the next pass does not inherit its predecessor's garbage."""
        gc.collect()
        spark.sparkContext._jvm.System.gc()

    def operation(self, spark, fn):
        """One pass: fn(spark, out_dir) timed, then checked. Returns
        (wall seconds, fn result) or None when it failed."""
        self.attempted += 1
        out = self.out_dir()
        try:
            t0 = time.perf_counter()
            res = fn(spark, out)
            wall = time.perf_counter() - t0
            spark.catalog.clearCache()
            self.scores.append(self.wl.check(spark, out))
            self._settle(spark)
        except Exception:
            self.failed += 1
            print(f"perfbench: pass {self.attempted} failed:\n{traceback.format_exc()}",
                  file=sys.stderr)
            return None
        finally:
            shutil.rmtree(out, ignore_errors=True)
        return wall, res


def untraced(run: Run, seconds: float, min_warm: int) -> dict:
    spark, setup = run.setup()
    try:
        cold = run.operation(spark, run.wl.run_pass)
        warm = []
        t0 = time.perf_counter()
        while len(warm) < min_warm or time.perf_counter() - t0 < seconds:
            r = run.operation(spark, run.wl.run_pass)
            if r is None and run.failed > 3:
                break
            if r is not None:
                warm.append(r[0])
    finally:
        stop_spark(spark)
    print(f"set-up {setup:.2f} s; cold "
          f"{cold[0] if cold else float('nan'):.2f} s; warm passes "
          f"{', '.join(f'{w:.2f}' for w in warm)} s")
    return {
        "rows_per_s": (run.wl.n_rows / statistics.median(warm), "1/s") if warm else None,
        "cold_s": (cold[0], "s") if cold else None,
        "setup_s": (setup, "s"),
    }


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric the traced run reports, with its unit. Layers
    that do not run on a workload report 0."""
    from perfbench.passes import CODE_LAYERS, DNSBL_LAYERS, PY_LAYERS

    layers = CODE_LAYERS + ("pipeline", "sinks") + DNSBL_LAYERS
    units = {f"{layer}.{m}": u for layer in layers for m, u in LAYER_METRICS}
    units.update({f"{layer}.python_cpu_s": "s" for layer in PY_LAYERS})
    units.update({"pipeline.stages": "count", "pipeline.tasks": "count",
                  "verify.accept_share": "share", "containment.accept_share": "share",
                  "exact_dedup.rep_share": "share", "lsh.pairs_per_doc": "ratio",
                  "connected_components.iterations": "count",
                  "domain_mode.drop_share": "share", "regex_kill.kill_share": "share",
                  "pipeline.self_s": "s", "trace.wall_s": "s", "trace.overhead_s": "s",
                  "trace.layer_share": "share"})
    return units


def traced(run: Run, trace_path: str) -> dict:
    from perfbench.passes import LayerRecorder
    from perfbench.telemetry import Tracer, group_counters

    values = {k: (0.0, u) for k, u in per_layer_units().items()}
    base, traced_run = [], None
    spark, _ = run.setup()
    sc = spark.sparkContext
    tracer = Tracer(pass_id="traced")
    rec = LayerRecorder(spark, tracer)
    try:
        run.operation(spark, run.wl.run_pass)                 # cold, discarded
        # the traced pass sits between two untraced warm passes; the checks
        # of every pass (same survivors as the first pass / as the oracle)
        # make the run fail when the traced composition's survivors differ
        base = []
        for group in ("untraced-1", "traced", "untraced-2"):
            sc.setJobGroup(group, group)
            if group == "traced":
                traced_run = run.operation(
                    spark, lambda s, out: run.wl.traced_pass(s, out, rec))
            else:
                base.append(run.operation(spark, run.wl.run_pass))
        if base[0] is not None and run.wl.kind == "code":
            c = group_counters(sc, "untraced-1")
            values["pipeline.call_s"] = (base[0][1]["call_s"], "s")
            values["pipeline.exec_s"] = (base[0][1]["exec_s"], "s")
            values["pipeline.rows_out"] = (base[0][1]["manifest"]["metrics"]["survivors"], "rows")
            for m in ("jobs", "stages", "tasks", "executor_cpu_s", "shuffle_write_mb",
                      "spill_mb", "task_skew"):
                values[f"pipeline.{m}"] = (c[m], values[f"pipeline.{m}"][1])
        for layer, r in rec.layers.items():
            c = group_counters(sc, layer)
            for m, u in LAYER_METRICS:
                values[f"{layer}.{m}"] = (r.get(m, c.get(m, 0.0)), u)
            if "python_cpu_s" in r:
                values[f"{layer}.python_cpu_s"] = (r["python_cpu_s"], "s")
        if traced_run is not None and run.wl.kind == "code":
            rec.finish_code(traced_run[1])
        for k, v in rec.ratios.items():
            values[k] = (v, values[k][1])
    finally:
        stop_spark(spark)

    untraced_walls = [r[0] for r in base if r is not None]
    if traced_run is not None and tracer.spans:
        wall = traced_run[0]
        selfs = tracer.self_times()
        # the pipeline span's own time is run_pipeline's code between the
        # layer calls: not attributed to any layer
        in_layers = sum(v for k, v in selfs.items() if k not in ("pass", "pipeline"))
        values["trace.wall_s"] = (wall, "s")
        if untraced_walls:
            values["trace.overhead_s"] = (wall - statistics.median(untraced_walls), "s")
        values["trace.layer_share"] = (in_layers / wall, "share")
        values["pipeline.self_s"] = (selfs.get("pipeline", 0.0), "s")
        tracer.dump(trace_path)
        print("self time per layer (s): " + ", ".join(
            f"{k} {v:.2f}" for k, v in selfs.items()))
    return values


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    _import_engine()
    work = os.path.join(ROOT, ".perfbench_work")
    run_dir = os.path.join(work, f"run-{os.getpid()}-{int(time.time() * 1000)}")
    for d in ("tmp", "out", "traces"):
        os.makedirs(os.path.join(run_dir if d != "traces" else work, d), exist_ok=True)
    # keep every temp file of this process, the JVM and the workers in the run dir
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    tempfile.tempdir = None

    from perfbench.telemetry import PeakMemory, stop_descendants

    try:
        wl = load_workload(args.workload, args.seed, work)
        run = Run(wl, run_dir)
        with PeakMemory() as mem:
            if args.trace:
                values = traced(run, os.path.join(
                    work, "traces", f"{args.workload}-s{args.seed}.json"))
            else:
                values = untraced(run, args.seconds, MIN_WARM[args.workload])
                values["peak_rss_mb"] = (mem.peak_bytes / 1e6, "MB")
                for k in ("dup_recall", "drop_precision"):
                    values[k] = (min(s[k] for s in run.scores), "share") if run.scores else None
    finally:
        try:
            stop_descendants()
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
            shutil.rmtree(os.path.join(work, FEED_DIR), ignore_errors=True)

    correct = run.failed == 0 and all(v is not None for v in values.values())
    metrics = {k: {"value": v[0], "unit": v[1]} for k, v in values.items() if v is not None}
    for k, m in metrics.items():
        print(f"{args.workload:12s} {k:36s} {m['value']:14.6g} {m['unit']}")
    print(f"{args.workload}: {run.failed} failed / {run.attempted} attempted")
    print(json.dumps({"correct": correct, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    if not correct:
        print("perfbench: CORRECTNESS CHECK FAILED", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
