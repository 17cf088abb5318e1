"""Edge cases: empty inputs, exact-Jaccard verify path, tiny corpora."""

from __future__ import annotations

import pytest

from dedup_domains_spark.config import DedupConfig
from dedup_domains_spark.datagen import gen_code_corpus
from dedup_domains_spark.functions.signatures import _batch_signatures_arrow
from dedup_domains_spark.plans.pipeline import run_pipeline


def test_empty_batch_signatures():
    import pyarrow as pa

    out = _batch_signatures_arrow(pa.array([], type=pa.string()), DedupConfig())
    assert len(out) == 0
    assert [f.name for f in out.type] == [
        "n_tokens", "n_shingles", "minhash", "simhash", "fingerprints"
    ]


def test_pipeline_on_empty_corpus(spark):
    empty = spark.createDataFrame(
        [], "repo string, path string, commit string, lang string, content string"
    )
    res = run_pipeline(spark, empty, DedupConfig())
    assert res.survivors.count() == 0
    assert res.cluster_map.count() == 0


def test_pipeline_single_row(spark):
    one = spark.createDataFrame(
        [("o/r", "a.py", "c" * 40, "python", "def f(): return 1")],
        "repo string, path string, commit string, lang string, content string",
    )
    res = run_pipeline(spark, one, DedupConfig())
    assert res.survivors.count() == 1


def test_exact_jaccard_verify_path(spark):
    cfg = DedupConfig(use_exact_jaccard=True)
    corpus = gen_code_corpus(100)
    files = spark.createDataFrame(corpus.files)
    res = run_pipeline(spark, files, cfg)
    # exact verification must still catch the planted near pairs
    from dedup_domains_spark.sources.code_corpus import with_row_identity
    from pyspark.sql import functions as F

    exp = spark.createDataFrame(corpus.expected).withColumnRenamed("uid", "planted_uid")
    ident = (
        with_row_identity(files).withColumnRenamed("uid", "engine_uid")
        .join(exp, ["repo", "path", "commit"])
        .select("engine_uid", "planted_uid")
    )
    cmap = res.cluster_map.select(
        F.col("uid").alias("engine_uid"), "cluster_id"
    ).join(ident, "engine_uid")
    rows = {r.planted_uid: r.cluster_id for r in cmap.collect()}
    pairs = list(corpus.pairs.itertuples(index=False))
    hit = sum(1 for p in pairs if rows.get(p.id_a) == rows.get(p.id_b))
    assert hit / len(pairs) >= 0.99


def test_bloom_prefilter_empty_corpus(spark):
    """Dedup against an EMPTY reference corpus: everything is new, and the
    zero-item bloom build must not divide by zero."""
    from pyspark.sql import functions as F

    from dedup_domains_spark.functions.bloom import bloom_prefilter_anti_join

    corpus = spark.createDataFrame([], "key string")
    new = spark.range(0, 10).select(
        F.col("id").alias("new_id"), F.concat(F.lit("k"), F.col("id")).alias("key")
    )
    out = bloom_prefilter_anti_join(new, corpus, "key")
    assert out.count() == 10


def test_config_rejects_containee_shorter_than_shingle():
    """A containee must span one whole winnowing window of
    min_containee_tokens - shingle_k + 1 shingles."""
    with pytest.raises(ValueError, match="min_containee_tokens"):
        DedupConfig(shingle_k=7, min_containee_tokens=6)
    assert DedupConfig(shingle_k=7, min_containee_tokens=7)
