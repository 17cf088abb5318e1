"""CLI entry point — the reference's C1 surface (inputargs.c:273-352 /
pfb_dnsbl_prune.py argparse) re-expressed for spark-submit:

  spark-submit --py-files dedup_domains_spark.zip -m dedup_domains_spark ...
  # or locally:
  python -m dedup_domains_spark code --input corpus.parquet --output out/
  python -m dedup_domains_spark dnsbl --inputs a.fat b.fat --output out/
                                      [--prune-regex]

Subcommands:
  code   — the full near-dup pipeline over a (repo, path, commit, lang,
           content) table.
  dnsbl  — reference-parity domain mode over pfBlockerNG CSV feeds.
"""

from __future__ import annotations

import argparse
import json
import sys


def _add_spark_args(p: argparse.ArgumentParser) -> None:
    p.add_argument("--parallelism", type=int, default=None)
    p.add_argument("--shuffle-partitions", type=int, default=None)
    p.add_argument("--master", default=None,
                   help="e.g. local[8] or local-cluster[4,8,6144]")
    p.add_argument("--checkpoint-dir", default=None,
                   help="per-stage resume tables (plans/checkpoint.py)")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="dedup_domains_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    pc = sub.add_parser("code", help="near-dup pipeline over a code corpus")
    pc.add_argument("--input", required=True, help="parquet path or Iceberg table")
    pc.add_argument("--output", required=True)
    pc.add_argument("--passthrough", default="lang = 'binary'",
                    help="SQL predicate routing rows around dedup (F2)")
    pc.add_argument("--shingle-k", type=int, default=7)
    pc.add_argument("--num-perm", type=int, default=128)
    pc.add_argument("--bands", type=int, default=32)
    pc.add_argument("--jaccard", type=float, default=0.5)
    pc.add_argument("--exact-jaccard", action="store_true")
    _add_spark_args(pc)

    pd_ = sub.add_parser("dnsbl", help="reference-parity domain mode")
    pd_.add_argument("--inputs", nargs="+",
                     help="explicit feed files (CLI order = first-wins order)")
    pd_.add_argument("--dir", dest="directory",
                     help="directory mode: process *<in-ext> files in sorted "
                          "order (reference pfb_dnsbl_prune.py:329-351 / "
                          "inputargs.c -d)")
    pd_.add_argument("--in-ext", default=".fat")
    pd_.add_argument("--out-ext", default=".pruned")
    pd_.add_argument("--output",
                     help="output directory (directory mode defaults to the "
                          "input directory, like the reference)")
    pd_.add_argument("--prune-regex", action="store_true")
    pd_.add_argument("--method", choices=["c", "pointer", "standard"],
                     default="c",
                     help="output ordering: 'c' = regex rows inline (the C "
                          "binary, pfb_prune.c:639-659); 'pointer'/'standard'"
                          " = the Python tool's regex-first orders "
                          "(pfb_dnsbl_prune.py:300-327)")
    pd_.add_argument("--lenient-schema", action="store_true",
                     help="C-binary schema rules instead of the strict "
                          "Python-tool rules: <7 columns → WEAK, multi-char "
                          "column 7 → row skipped (pfb_prune.c:132-164)")
    pd_.add_argument("--log-file", default=None,
                     help="write the run summary + per-stage metrics here "
                          "(reference -L, inputargs.c:291-294)")
    pd_.add_argument("--errlog-file", default=None,
                     help="write one line per ignored/dropped input row "
                          "(file, linenumber, reason) here (reference -E)")
    pd_.add_argument("--silent", action="store_true",
                     help="suppress stdout summary unless --log-file is set "
                          "(reference -s / silent_mode, inputargs.c:265-270)")
    _add_spark_args(pd_)

    args = ap.parse_args(argv)

    from dedup_domains_spark import get_spark

    spark = get_spark(
        f"dedup-{args.cmd}", parallelism=args.parallelism,
        shuffle_partitions=args.shuffle_partitions, master=args.master,
    )

    if args.cmd == "code":
        from dedup_domains_spark.config import DedupConfig
        from dedup_domains_spark.plans.pipeline import run_pipeline
        from dedup_domains_spark.sources.code_corpus import load_code_corpus
        from dedup_domains_spark.sources.sinks import write_results

        cfg = DedupConfig(
            shingle_k=args.shingle_k, num_perm=args.num_perm,
            bands=args.bands, rows_per_band=args.num_perm // args.bands,
            jaccard_threshold=args.jaccard,
            use_exact_jaccard=args.exact_jaccard,
        )
        corpus = load_code_corpus(spark, args.input)
        res = run_pipeline(
            spark, corpus, cfg,
            passthrough_predicate=args.passthrough,
            checkpoint_dir=args.checkpoint_dir,
        )
        manifest = write_results(res, args.output, config_hash=cfg.config_hash())
        print(json.dumps(manifest))
    else:
        import glob
        import os

        from dedup_domains_spark.operators.domain_mode import (
            dedup_dnsbl, python_flow_survivors,
        )
        from dedup_domains_spark.operators.regex_kill import (
            collect_patterns, regex_kill,
        )
        from dedup_domains_spark.sources.dnsbl import load_dnsbl_files

        if args.directory:
            inputs = sorted(glob.glob(os.path.join(args.directory, "*" + args.in_ext)))
            out_dir = args.output or args.directory
        else:
            if not args.inputs:
                ap.error("dnsbl requires --inputs or --dir")
            inputs = args.inputs
            if not args.output:
                ap.error("--output is required with --inputs")
            out_dir = args.output

        from dedup_domains_spark.sources.sinks import write_survivor_text_files

        df = load_dnsbl_files(spark, inputs, lenient=args.lenient_schema)
        res = dedup_dnsbl(df)
        if args.prune_regex:
            res.survivors = regex_kill(res.survivors, collect_patterns(df))
        # distributed sink: executors write one ordered text part per feed,
        # the driver only renames (reference streams arbitrarily large
        # feeds, rw_pfb_csv.c:237-416 — no collect here either)
        if args.method == "c":
            ordered = res.survivors
            order_cols: tuple[str, ...] = ("linenumber",)
        else:
            ordered = python_flow_survivors(
                res, df, method=args.method, keep_order_cols=True
            )
            order_cols = ("_r", "_okey")
        total = write_survivor_text_files(
            ordered, inputs, out_dir, args.out_ext, order_cols
        )
        summary = {"files": len(inputs), "survivors": total}
        if args.log_file or args.errlog_file:
            # reference -L/-E telemetry: run log with per-stage counters,
            # and one errlog line per ignored/dropped input row
            if args.log_file:
                metrics = {r.stage: r["count"] for r in res.metrics.collect()}
                with open(args.log_file, "w") as f:
                    f.write(json.dumps({**summary, "metrics": metrics}) + "\n")
            if args.errlog_file:
                rows = (
                    res.dropped
                    .select("source_file", "linenumber", "drop_reason")
                    .orderBy("source_file", "linenumber")
                    .collect()
                )
                with open(args.errlog_file, "w") as f:
                    for r in rows:
                        f.write(
                            f"{r.source_file}:{r.linenumber}: {r.drop_reason}\n"
                        )
        # reference silent_mode (inputargs.c:265-270): -s suppresses
        # supplemental stdout unless a log file was requested
        if not (args.silent and not args.log_file):
            print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
