"""Head-to-head race vs the reference C engine on a deterministic 8M-line
synthetic feed set (BENCH.md 'Head-to-head vs the reference C engine').

Usage:
    # 1. build the reference release binary OUT OF TREE (snapshot is RO):
    #    cp -r /root/reference /tmp/refbuild && (cd /tmp/refbuild && make release)
    # 2. race:
    #    PYTHONPATH=/root/repo python tools/race_reference.py \
    #        [--binary /tmp/refbuild/bin/release.real] [--rows-per-file 1000000]

Prints one JSON line with both walls, rates, and the per-file byte-parity
verdict (sorted compare — the reference's own canonicalization,
reference tests/run-tests.sh:41-59).
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import subprocess
import sys
import time

import numpy as np

OUT = "/tmp/bigdnsbl_race"


def gen_corpus(n_files: int, rows: int) -> list[str]:
    """Deterministic pfBlockerNG CSV feeds: ~15% FULL parents, ~25% children
    of random parents (prunable when a FULL parent exists), rest unique.
    The cache directory is keyed by (n_files, rows) so a size change never
    silently reuses stale feeds."""
    global OUT
    OUT = f"/tmp/bigdnsbl_race_{n_files}x{rows}"
    os.makedirs(OUT, exist_ok=True)
    tlds = np.array(["com", "net", "org", "io", "ru"])
    paths = []
    for fi in range(n_files):
        path = f"{OUT}/feed_{fi}.fat"
        paths.append(path)
        if os.path.exists(path):
            continue
        rng = np.random.default_rng(1000 + fi)
        pid = rng.integers(0, rows, rows).astype(str)
        roll = rng.random(rows)
        tld = tlds[rng.integers(0, 5, rows)]
        sub = rng.integers(0, 50, rows).astype(str)
        k = np.arange(rows).astype(str)
        site = np.char.add(np.char.add("site", pid), np.char.add(".", tld))
        dom = np.where(
            roll < 0.43, site,
            np.char.add(
                np.char.add(np.char.add(np.char.add("host", str(fi)), "-"), k),
                np.char.add(np.char.add(".uniq", pid), np.char.add(".", tld)),
            ),
        )
        dom = np.where(
            (roll >= 0.15) & (roll < 0.40),
            np.char.add(np.char.add("sub", sub), np.char.add(".", dom)), dom,
        )
        st = np.where(roll < 0.15, "1", "0")
        lines = np.char.add(
            np.char.add(np.char.add(",", dom), f",,0,list_{fi},DNSBL_Compilation,"),
            st,
        )
        with open(path, "w") as f:
            f.write("\n".join(lines.tolist()) + "\n")
    return paths


def time_c(binary: str, reps: int = 2) -> float:
    best = float("inf")
    for _ in range(reps):
        for f in glob.glob(f"{OUT}/*.pruned"):
            os.remove(f)
        t0 = time.time()
        subprocess.run(
            [binary, "-d", OUT, "-x", ".fat", "-o", ".pruned"],
            capture_output=True, check=True,
        )
        best = min(best, time.time() - t0)
    return best


def time_spark(paths: list[str], reps: int = 2) -> float:
    from dedup_domains_spark import get_spark
    from dedup_domains_spark.operators.domain_mode import dedup_dnsbl
    from dedup_domains_spark.sources.dnsbl import load_dnsbl_files
    from dedup_domains_spark.sources.sinks import write_survivor_text_files

    spark = get_spark("race", parallelism=32, shuffle_partitions=32)
    # warm-up: one small job through the same plan shape (JIT + python workers)
    warm = load_dnsbl_files(spark, paths[:1])
    write_survivor_text_files(
        dedup_dnsbl(warm.limit(10000)).survivors, paths[:1],
        f"{OUT}/warm_out", ".pruned",
    )
    best = float("inf")
    for i in range(reps):
        t0 = time.time()
        res = dedup_dnsbl(load_dnsbl_files(spark, paths))
        write_survivor_text_files(
            res.survivors, paths, f"{OUT}/spark_out_{i}", ".pruned"
        )
        best = min(best, time.time() - t0)
    spark.stop()
    return best


def parity(n_files: int, spark_dir: str) -> bool:
    """Compare every feed's survivor set; on divergence, print WHICH feed
    and a small sample of the differing lines so a failed headline race is
    diagnosable (ADVICE r02), and keep checking the remaining feeds."""
    ok = True
    for fi in range(n_files):
        c = sorted(open(f"{OUT}/feed_{fi}.pruned", "rb").read().splitlines())
        ours = sorted(
            open(f"{spark_dir}/feed_{fi}.pruned", "rb").read().splitlines()
        )
        if c != ours:
            ok = False
            cs, os_ = set(c), set(ours)
            print(
                f"PARITY MISMATCH feed_{fi}: c={len(c)} spark={len(ours)} lines; "
                f"c-only sample={[l[:60] for l in sorted(cs - os_)[:3]]} "
                f"spark-only sample={[l[:60] for l in sorted(os_ - cs)[:3]]}",
                file=sys.stderr,
            )
    return ok


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--binary", default="/tmp/refbuild/bin/release.real")
    ap.add_argument("--n-files", type=int, default=8)
    ap.add_argument("--rows-per-file", type=int, default=1_000_000)
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()

    paths = gen_corpus(args.n_files, args.rows_per_file)
    total = args.n_files * args.rows_per_file
    c_wall = time_c(args.binary, args.reps)
    s_wall = time_spark(paths, args.reps)
    same = parity(args.n_files, f"{OUT}/spark_out_{args.reps - 1}")
    print(json.dumps({
        "lines": total,
        "c_wall_sec": round(c_wall, 1),
        "c_lines_per_sec": round(total / c_wall),
        "spark_wall_sec": round(s_wall, 1),
        "spark_lines_per_sec": round(total / s_wall),
        "speedup_vs_c": round(c_wall / s_wall, 2),
        "byte_identical": same,
    }))


if __name__ == "__main__":
    main()
