"""End-to-end CLI tests: the spark-submit surface (C1) driving both modes,
and the sink manifest/invariants."""

from __future__ import annotations

import json
import os

import pytest

from dedup_domains_spark.datagen import gen_code_corpus

REF = "/root/reference/tests/unit_pfb_prune"
needs_reference = pytest.mark.skipif(
    not os.path.isdir(REF),
    reason="the reference tree (its E2E inputs and goldens) is not present",
)


def test_cli_code_mode(spark, tmp_path):
    corpus_path = str(tmp_path / "corpus.parquet")
    gen_code_corpus(200).files.to_parquet(corpus_path)
    out = str(tmp_path / "out")

    from dedup_domains_spark.__main__ import main

    rc = main([
        "code", "--input", corpus_path, "--output", out,
        "--parallelism", "8",
    ])
    assert rc == 0
    manifest = json.load(open(f"{out}/manifest.json"))
    assert manifest["sha256_invariant_violations"] == 0
    assert manifest["metrics"]["input"] == 200
    assert manifest["metrics"]["survivors"] < 200
    surv = spark.read.parquet(f"{out}/survivors")
    assert surv.count() == manifest["metrics"]["survivors"]
    # partitioned layout on disk
    assert any(d.startswith("lang=") for d in os.listdir(f"{out}/survivors"))
    lineage = spark.read.parquet(f"{out}/lineage")
    assert lineage.count() == 200


@needs_reference
def test_cli_dnsbl_mode(tmp_path):
    ref = REF
    out = str(tmp_path / "dnsbl_out")

    from dedup_domains_spark.__main__ import main

    rc = main([
        "dnsbl",
        "--inputs",
        f"{ref}/E2ETestInput_1.txt",
        f"{ref}/E2ETest_Empty.txt",
        "--output", out,
    ])
    assert rc == 0
    # reference naming: final extension REPLACED (pfb_prune.c outputfilename)
    with open(f"{out}/E2ETestInput_1.pruned") as f:
        got = [l for l in f.read().split("\n") if l]
    with open(f"{ref}/E2ETestInput_1.fulle2e") as f:
        want = [l for l in f.read().split("\n") if l]
    assert got == want
    # empty input still produces an (empty) output file, like the reference
    assert os.path.exists(f"{out}/E2ETest_Empty.pruned")


@needs_reference
def test_cli_dnsbl_directory_mode(tmp_path):
    """--dir processes *<in-ext> files in sorted order and writes
    <base><out-ext> next to them (reference pfb_dnsbl_prune.py:329-351)."""
    import shutil

    ref = REF
    d = tmp_path / "feeds"
    d.mkdir()
    shutil.copy(f"{ref}/E2ETestInput_1.txt", d / "a.fat")
    shutil.copy(f"{ref}/E2ETestInput_1.txt", d / "b.fat")

    from dedup_domains_spark.__main__ import main

    rc = main(["dnsbl", "--dir", str(d)])
    assert rc == 0
    with open(d / "a.pruned") as f:
        got_a = [l for l in f.read().split("\n") if l]
    with open(f"{ref}/E2ETestInput_1.fulle2e") as f:
        want = [l for l in f.read().split("\n") if l]
    assert got_a == want
    # duplicate file: every line is an exact dup of file a → all collapsed
    with open(d / "b.pruned") as f:
        assert [l for l in f.read().split("\n") if l] == []


def test_cli_dnsbl_lenient_schema_and_telemetry(tmp_path):
    """--lenient-schema applies the C binary's column rules (<7 cols → WEAK,
    multi-char col 7 → skipped; pfb_prune.c:132-164), and the -L/-E/-s
    analogs write the run log / errlog and silence stdout."""
    feed = tmp_path / "feed.fat"
    lines = [
        ",a.example.com,,0,list,group,1",   # normal FULL row
        ",b.example.com,,0,list",           # 5 cols: strict=ignored, lenient=WEAK
        ",c.example.com,,0,list,group,10",  # multi-char col7: bogus both ways
        ",a.example.com,,0,list,group,0",   # weaker duplicate of row 1
    ]
    feed.write_text("\n".join(lines) + "\n")

    from dedup_domains_spark.__main__ import main

    out_s = tmp_path / "strict"
    rc = main(["dnsbl", "--inputs", str(feed), "--output", str(out_s)])
    assert rc == 0
    strict_out = (out_s / "feed.pruned").read_text().splitlines()
    assert strict_out == [lines[0]]

    out_l = tmp_path / "lenient"
    log = tmp_path / "run.log"
    errlog = tmp_path / "err.log"
    rc = main([
        "dnsbl", "--inputs", str(feed), "--output", str(out_l),
        "--lenient-schema", "--log-file", str(log),
        "--errlog-file", str(errlog), "--silent",
    ])
    assert rc == 0
    lenient_out = (out_l / "feed.pruned").read_text().splitlines()
    assert lenient_out == [lines[0], lines[1]]

    logged = json.loads(log.read_text())
    assert logged["survivors"] == 2
    assert logged["metrics"]["ignored"] == 1  # only the bogus col7 row
    err = errlog.read_text()
    assert f"{feed}:3: ignored:bogus_strength" in err
    assert f"{feed}:4: exact_or_weaker_duplicate" in err


@needs_reference
def test_distributed_text_sink(spark, tmp_path):
    """write_survivor_text_files: one ordered file per source, no driver
    collect (VERDICT r01 item 5 — the O2 scale path)."""
    from dedup_domains_spark.operators.domain_mode import dedup_dnsbl
    from dedup_domains_spark.sources.dnsbl import load_dnsbl_files
    from dedup_domains_spark.sources.sinks import write_survivor_text_files

    ref = REF
    paths = [f"{ref}/E2ETestInput_1.txt"]
    res = dedup_dnsbl(load_dnsbl_files(spark, paths))
    out = str(tmp_path / "textsink")
    write_survivor_text_files(res.survivors, paths, out, ".pruned")

    with open(f"{out}/E2ETestInput_1.pruned") as f:
        got = [l for l in f.read().split("\n") if l]
    with open(f"{ref}/E2ETestInput_1.fulle2e") as f:
        want = [l for l in f.read().split("\n") if l]
    assert got == want


def test_dnsbl_text_sink_renames_parts_and_observes_count(spark, tmp_path):
    """write_survivor_text_files moves each feed's one part into place,
    writes empty outputs for feeds without survivors, and returns the line
    count observed during the write — also when no feed has a survivor."""
    from dedup_domains_spark.operators.domain_mode import dedup_dnsbl
    from dedup_domains_spark.sources.dnsbl import load_dnsbl_files
    from dedup_domains_spark.sources.sinks import write_survivor_text_files

    rows = [",a.example.com,,0,list,group,1", ",b.example.com,,0,list,group,1"]
    feeds = {"a.fat": rows, "b.fat": rows[:1], "c.fat": []}
    for name, lines in feeds.items():
        (tmp_path / name).write_text("".join(l + "\n" for l in lines))
    paths = [str(tmp_path / n) for n in feeds]

    def sink(inputs, out):
        res = dedup_dnsbl(load_dnsbl_files(spark, inputs))
        return write_survivor_text_files(res.survivors, inputs, str(out), ".pruned")

    assert sink(paths, tmp_path / "out") == 2
    assert (tmp_path / "out/a.pruned").read_text().splitlines() == rows
    assert (tmp_path / "out/b.pruned").read_text() == ""
    assert (tmp_path / "out/c.pruned").read_text() == ""
    assert sorted(os.listdir(tmp_path / "out")) == ["a.pruned", "b.pruned", "c.pruned"]
    assert sink(paths[2:], tmp_path / "empty") == 0
    assert (tmp_path / "empty/c.pruned").read_text() == ""


def _code_result(spark, n_rows: int):
    from dedup_domains_spark.config import DedupConfig
    from dedup_domains_spark.plans.pipeline import run_pipeline

    files = spark.createDataFrame(gen_code_corpus(n_rows).files)
    return files, run_pipeline(spark, files, DedupConfig())


def test_manifest_counts_planted_sha_violation(spark, tmp_path):
    """One survivor whose content_sha256 does not match its content is
    exactly one invariant violation in the manifest."""
    import dataclasses

    from pyspark.sql import functions as F

    from dedup_domains_spark.sources.sinks import write_results

    _, res = _code_result(spark, 100)
    victim = res.survivors.agg(F.min("uid")).first()[0]
    planted = res.survivors.withColumn(
        "content_sha256",
        F.when(F.col("uid") == victim, F.lit("0" * 64)).otherwise(F.col("content_sha256")),
    )
    manifest = write_results(dataclasses.replace(res, survivors=planted),
                             str(tmp_path / "out"))
    assert manifest["sha256_invariant_violations"] == 1


def test_manifest_metrics_recompute_from_written_tables(spark, tmp_path):
    """Every manifest metric, recomputed from the written tables (the input
    rows for exact_reps; the result's edges for edges_*), and the on-disk
    metrics table both equal the manifest."""
    from dedup_domains_spark.sources.code_corpus import with_row_identity
    from dedup_domains_spark.sources.sinks import write_results

    files, res = _code_result(spark, 200)
    out = str(tmp_path / "out")
    manifest = write_results(res, out)
    cmap = spark.read.parquet(f"{out}/cluster_map")
    lineage = spark.read.parquet(f"{out}/lineage")
    dedupable = lineage.filter("action != 'passthrough'").select("uid")
    want = {
        "input": lineage.count(),
        "passthrough": lineage.filter("action = 'passthrough'").count(),
        "dedupable": cmap.count(),
        "exact_reps": with_row_identity(files).join(dedupable, "uid")
        .select("content_sha256").distinct().count(),
        "clusters": cmap.select("cluster_id").distinct().count(),
        "survivors": spark.read.parquet(f"{out}/survivors").count(),
        **{f"edges_{r.edge_kind}": r["count"]
           for r in res.edges.groupBy("edge_kind").count().collect()},
        "cc_iterations": res.cc_stats["iterations"],
    }
    assert manifest["metrics"] == want
    assert want["input"] == 200 and want["edges_exact"] > 0
    on_disk = {r.stage: r["count"] for r in spark.read.parquet(f"{out}/metrics").collect()}
    assert on_disk == manifest["metrics"]


def test_edge_counts_repeat_in_one_session(spark, tmp_path):
    """run_pipeline plus write_results twice over one corpus in one session,
    without clearCache: the second run's upstream plans hit the first run's
    caches, its edge counts, observed on its own edge table, equal the
    first run's and a groupBy over its edges, and it compiles no generated
    class (the first run's are still cached). Each pass runs in a daemon
    thread with a deadline, so an observation that is never filled
    (Observation.get waits for ever) fails the test instead of hanging it."""
    import threading

    from dedup_domains_spark.config import DedupConfig
    from dedup_domains_spark.plans.pipeline import run_pipeline
    from dedup_domains_spark.sources.sinks import write_results

    files = spark.createDataFrame(gen_code_corpus(200).files)

    def one_pass(out):
        box = {}

        def target():
            try:
                res = run_pipeline(spark, files, DedupConfig())
                box["out"] = res, write_results(res, str(out))
            except Exception as e:
                box["err"] = e

        t = threading.Thread(target=target, daemon=True)
        t.start()
        t.join(600)
        assert not t.is_alive(), "pipeline pass still running after 600 s"
        if "err" in box:
            raise box["err"]
        res, manifest = box["out"]
        return res, manifest["codegen"], {
            k: v for k, v in manifest["metrics"].items() if k.startswith("edges_")}

    _, _, first = one_pass(tmp_path / "a")
    res, codegen, second = one_pass(tmp_path / "b")
    assert second == first
    # the repeat reuses the first pass's generated classes
    assert codegen["classes_compiled"] == 0, codegen
    assert second == {f"edges_{r.edge_kind}": r["count"]
                      for r in res.edges.groupBy("edge_kind").count().collect()}
    assert set(first) == {"edges_near", "edges_contained", "edges_exact"}, first
