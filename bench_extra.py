"""Per-query isolation bench (guide §1.4) — NOT the driver contract.

bench.py stays the frozen driver-facing harness; this file exists so
optimization work can time each catalog query in isolation with the noop
sink (computes every column, bypasses count()'s column pruning), label the
jobs, and dump the FINAL adaptive plan (post-AQE, with ReusedExchange nodes
visible) of each query's last rep to DIR/<query>.txt.

Usage:
  python bench_extra.py [-r REPS] [--final-plan DIR] [query ...]

Defaults to bench.HEADLINE. Prints one line per query: best/all walls.
"""

from __future__ import annotations

import argparse
import json
import os
import time

from bench import CPUS, HEADLINE, SF_DIR
from dedup_domains_spark import get_spark
from dedup_domains_spark.plans.queries import QUERIES


def run_one(spark, name: str, reps: int, plan_dir: str | None) -> list[float]:
    walls = []
    for rep in range(reps):
        spark.sparkContext.setJobDescription(f"{name} rep{rep}")
        t0 = time.time()
        df = QUERIES[name].spark_fn(spark, SF_DIR)
        df.write.format("noop").mode("overwrite").save()
        walls.append(round(time.time() - t0, 3))
        if plan_dir and rep == reps - 1:
            os.makedirs(plan_dir, exist_ok=True)
            # the noop write ran under its own QueryExecution; df's adaptive
            # plan reads isFinalPlan=true only once toRdd() has run its
            # query stages (outside the timed region)
            qe = df._jdf.queryExecution()
            qe.toRdd()
            plan = df._sc._jvm.PythonSQLUtils.explainString(qe, "formatted")
            with open(os.path.join(plan_dir, f"{name}.txt"), "w") as f:
                f.write(plan)
    spark.sparkContext.setJobDescription(None)
    return walls


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("-r", "--reps", type=int, default=2)
    ap.add_argument("--final-plan", default=None, metavar="DIR",
                    help="write each query's final plan to DIR/<query>.txt")
    ap.add_argument("queries", nargs="*", default=None)
    args = ap.parse_args()
    names = args.queries or HEADLINE

    spark = get_spark("bench-extra", parallelism=CPUS, shuffle_partitions=CPUS)
    out = {}
    for name in names:
        walls = run_one(spark, name, args.reps, args.final_plan)
        out[name] = min(walls)
        print(f"{name}: best={min(walls)} walls={walls}", flush=True)
    print(json.dumps({"total_best": round(sum(out.values()), 3),
                      "queries": out, "sf_dir": SF_DIR, "cpus": CPUS}))
    spark.stop()


if __name__ == "__main__":
    main()
