"""End-to-end pipeline test on the planted-duplicate corpus (FIXTURES.md §2).

Asserts the BASELINE.json gates at test scale: dup-pair recall >= 0.99
against the planted expected_pairs, precision guard (no false merges of
unique rows), exactly one representative per cluster, containment drops the
containee and keeps the container, and the per-row sha256 invariant.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from dedup_domains_spark.config import DedupConfig
from dedup_domains_spark.datagen import gen_code_corpus
from dedup_domains_spark.plans.pipeline import assert_sha_invariant, run_pipeline
from dedup_domains_spark.sources.code_corpus import with_row_identity

N_ROWS = 400


def test_pipeline_end_to_end(spark):
    corpus = gen_code_corpus(N_ROWS)
    files = spark.createDataFrame(corpus.files)
    res = run_pipeline(spark, files, DedupConfig())

    exp = spark.createDataFrame(corpus.expected).withColumnRenamed("uid", "planted_uid")
    ident = (
        with_row_identity(files)
        .withColumnRenamed("uid", "engine_uid")
        .join(exp, ["repo", "path", "commit"])
        .select("engine_uid", "planted_uid", "kind")
    )

    cmap = res.cluster_map.select(
        F.col("uid").alias("engine_uid"), "cluster_id", "is_rep", "electable"
    ).join(ident, "engine_uid")
    rows = {r.planted_uid: r for r in cmap.collect()}

    # --- recall: every planted pair ends in the same cluster ---
    pairs = list(corpus.pairs.itertuples(index=False))
    hit = sum(
        1 for p in pairs
        if p.id_a in rows and p.id_b in rows
        and rows[p.id_a].cluster_id == rows[p.id_b].cluster_id
    )
    recall = hit / len(pairs)
    assert recall >= 0.99, f"dup-pair recall {recall:.4f} < 0.99"

    # --- precision guard: a final cluster never mixes two expected clusters
    # (boilerplate's expected id is -1 and forms one global cluster) ---
    exp_cluster = {
        r.planted_uid: r.expected_cluster_id
        for r in spark.createDataFrame(corpus.expected)
        .withColumnRenamed("uid", "planted_uid").collect()
    }
    final_clusters: dict = {}
    for u, r in rows.items():
        final_clusters.setdefault(r.cluster_id, set()).add(exp_cluster[u])
    mixed = {cid: e for cid, e in final_clusters.items() if len(e) > 1}
    assert not mixed, f"clusters mixing expected groups: {mixed}"

    # --- one representative per cluster ---
    per_cluster = (
        res.cluster_map.groupBy("cluster_id")
        .agg(F.sum(F.col("is_rep").cast("int")).alias("nrep"))
        .filter("nrep != 1")
        .count()
    )
    assert per_cluster == 0

    # --- containment: containee dropped, container kept ---
    for u, r in rows.items():
        if r.kind == "contained":  # this is the WRAPPER row (kind on the big)
            pass
    contained_small = [p.id_a for p in pairs if p.kind == "contained"]
    for small in contained_small:
        if small in rows:
            assert not rows[small].electable or not rows[small].is_rep

    # --- sha invariant + reconciliation ---
    assert assert_sha_invariant(res) == 0
    n_in = files.count()
    n_lineage = res.lineage.count()
    assert n_lineage == n_in, f"lineage rows {n_lineage} != input {n_in}"

    # --- passthrough rows survive verbatim ---
    n_pass = res.survivors.filter("lang = 'binary'").count()
    assert n_pass == N_ROWS // 20  # one per block


def test_small_excerpt_is_dropped_as_contained(spark):
    """A verbatim excerpt of exactly min_containee_tokens (32) tokens,
    planted in a 300-token file, is the smallest containee the winnowed
    fingerprints must still find: it is dropped as contained and its
    container is kept."""
    import pandas as pd

    corpus = gen_code_corpus(60).files
    rng = np.random.default_rng(5)
    words = [f"w{int(x)}" for x in rng.integers(0, 10**9, size=300)]
    big, small = " ".join(words), " ".join(words[140:172])
    assert DedupConfig().min_containee_tokens == 32
    planted = pd.DataFrame({
        "repo": ["plant/big", "plant/small"], "path": ["big.py", "small.py"],
        "commit": ["b" * 40, "s" * 40], "lang": ["python", "python"],
        "content": [big, small],
    })
    files = spark.createDataFrame(pd.concat([corpus, planted], ignore_index=True))
    res = run_pipeline(spark, files, DedupConfig())
    actions = {
        r.repo: r.action for r in res.lineage.join(
            with_row_identity(files).select("uid", "repo"), "uid"
        ).filter(F.col("repo").startswith("plant/")).collect()
    }
    assert actions == {"plant/small": "dropped_contained",
                       "plant/big": "kept_representative"}


def test_checkpoint_resume(spark, tmp_path):
    corpus = gen_code_corpus(100)
    files = spark.createDataFrame(corpus.files)
    cfg = DedupConfig()
    d = str(tmp_path / "ckpt")
    r1 = run_pipeline(spark, files, cfg, checkpoint_dir=d)
    n1 = r1.survivors.count()
    # second run must reuse stage tables and produce identical survivors
    r2 = run_pipeline(spark, files, cfg, checkpoint_dir=d)
    n2 = r2.survivors.count()
    assert n1 == n2
    s1 = {r.uid for r in r1.survivors.select("uid").collect()}
    s2 = {r.uid for r in r2.survivors.select("uid").collect()}
    assert s1 == s2


def test_checkpoint_resume_sees_in_place_overwrite(spark, tmp_path):
    """Overwriting the input parquet in place with different rows must not
    resume the stage tables computed for the old rows."""
    src, d = str(tmp_path / "corpus.parquet"), str(tmp_path / "ckpt")
    cfg = DedupConfig()

    def survivors(**kw):
        res = run_pipeline(spark, spark.read.parquet(src), cfg, **kw)
        return {(r.uid, r.content_sha256) for r in
                res.survivors.select("uid", "content_sha256").collect()}

    gen_code_corpus(100).files.to_parquet(src)
    old = survivors(checkpoint_dir=d)
    gen_code_corpus(60, seed=7).files.to_parquet(src)
    rerun = survivors(checkpoint_dir=d)
    assert rerun == survivors()
    assert rerun != old


def test_partition_stats_reconcile(spark):
    """Per-partition stats must sum to the stage totals and expose the skew
    profile of the cached stages."""
    corpus = gen_code_corpus(100)
    res = run_pipeline(spark, spark.createDataFrame(corpus.files), DedupConfig())
    from pyspark.sql import functions as F

    ps = res.partition_stats.groupBy("stage").agg(F.sum("rows").alias("total"))
    totals = {r.stage: r.total for r in ps.collect()}
    assert totals["edges"] == res.edges.count()
    assert totals["cluster_map"] == res.cluster_map.count()
    assert totals["signatures"] == res.sig_df.count()


def test_pipeline_failure_restores_aqe(spark, monkeypatch):
    """A stage that raises (CC non-convergence, say) must leave the
    session's AQE setting as the caller had it."""
    import dedup_domains_spark.plans.pipeline as pipeline

    def _fail(*args, **kwargs):
        raise RuntimeError("connected_components did not converge")

    monkeypatch.setattr(pipeline, "connected_components", _fail)
    key = "spark.sql.adaptive.enabled"
    # the caller's value must differ from the pipeline's, or a missing
    # restore would go unseen
    assert pipeline.PIPELINE_AQE == "false"
    before = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        files = spark.createDataFrame(gen_code_corpus(60).files)
        with pytest.raises(RuntimeError, match="did not converge"):
            run_pipeline(spark, files)
        assert spark.conf.get(key) == "true"
    finally:
        spark.conf.set(key, before)
