"""Streaming dedup tests: file source → availableNow trigger → memory sink.

Verifies the streaming surfaces (stream_exact_dedup, stream_signatures,
stream_band_dedup) over a real parquet-backed stream at fixture scale.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dedup_domains_spark.config import DedupConfig
from dedup_domains_spark.datagen import gen_code_corpus
from dedup_domains_spark.streaming import (
    stream_band_dedup,
    stream_exact_dedup,
    stream_signatures,
)


@pytest.fixture(scope="module")
def stream_source_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("stream_src")
    corpus = gen_code_corpus(200)
    files = corpus.files.copy()
    files["ts"] = __import__("pandas").Timestamp("2024-01-01") + __import__(
        "pandas"
    ).to_timedelta(range(len(files)), unit="s")
    spark.createDataFrame(files).write.mode("overwrite").parquet(str(d / "data"))
    return str(d / "data")


def _run_available_now(q_df, tmp, name):
    q = (
        q_df.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", f"{tmp}/ckpt_{name}")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return q


def test_stream_exact_dedup(spark, stream_source_dir, tmp_path):
    src = (
        spark.readStream.schema(
            spark.read.parquet(stream_source_dir).schema
        ).parquet(stream_source_dir)
    )
    out = stream_exact_dedup(src, event_time_col="ts", watermark="1 hour")
    _run_available_now(out, str(tmp_path), "exact_stream")
    got = spark.sql("select * from exact_stream")
    n = got.count()
    # 200-row corpus: per 20-row block j=10,11 duplicate j=0,1 and j=16 license
    # rows are all identical -> duplicates must collapse
    distinct_sha = spark.read.parquet(stream_source_dir).select(
        F.sha2("content", 256)
    ).distinct().count()
    assert n == distinct_sha
    assert "content_sha256" in got.columns


def test_stream_signatures_match_batch(spark, stream_source_dir, tmp_path):
    """stream_signatures runs the batch signature kernel: every streamed row
    carries the signature columns add_signatures gives the same row."""
    from dedup_domains_spark.functions.signatures import add_signatures

    cols = ["repo", "path", "commit", "n_tokens", "n_shingles", "minhash",
            "simhash", "fingerprints"]
    batch = spark.read.parquet(stream_source_dir)
    src = spark.readStream.schema(batch.schema).parquet(stream_source_dir)
    _run_available_now(stream_signatures(src), str(tmp_path), "sig_stream")

    def rows(df):
        return sorted(
            tuple(tuple(v) if isinstance(v, list) else v for v in r)
            for r in df.select(cols).collect()
        )

    want = rows(add_signatures(batch, DedupConfig()))
    assert len(want) == batch.count()
    assert rows(spark.sql("select * from sig_stream")) == want


def test_stream_signatures_and_band_dedup(spark, stream_source_dir, tmp_path):
    src = (
        spark.readStream.schema(
            spark.read.parquet(stream_source_dir).schema
        ).parquet(stream_source_dir)
    )
    cfg = DedupConfig()
    sig = stream_signatures(
        src.withColumn("uid", F.xxhash64("repo", "path", "commit")), cfg
    )
    flags = stream_band_dedup(sig, cfg, event_time_col="ts", watermark="1 hour")
    _run_available_now(flags, str(tmp_path), "band_stream")
    got = spark.sql("select * from band_stream")
    assert got.count() > 0
    # exact duplicates share every band hash -> at least one 'dup' flag
    assert got.filter("is_new = 'dup'").count() > 0
    assert set(got.columns) == {"uid", "band", "band_hash", "is_new", "ts"}


def test_cross_microbatch_dedup_state(spark, tmp_path):
    """Duplicates arriving in a LATER micro-batch must still be suppressed:
    state (not batch-local distinct) carries the seen set across batches.
    maxFilesPerTrigger=1 forces one micro-batch per file."""
    import pandas as pd

    src = tmp_path / "src"
    src.mkdir()
    t0 = pd.Timestamp("2024-01-01")
    batch1 = pd.DataFrame({
        "repo": ["r"] * 2, "path": ["a", "b"], "commit": ["c1", "c2"],
        "lang": ["py", "py"], "content": ["alpha content", "beta content"],
        "ts": [t0, t0],
    })
    batch2 = pd.DataFrame({
        "repo": ["r"] * 2, "path": ["a2", "c"], "commit": ["c3", "c4"],
        "lang": ["py", "py"],
        # a2 duplicates batch1's "a" content exactly; c is new
        "content": ["alpha content", "gamma content"],
        "ts": [t0 + pd.Timedelta(seconds=1), t0 + pd.Timedelta(seconds=1)],
    })
    spark.createDataFrame(batch1).coalesce(1).write.parquet(str(src / "f1"))
    spark.createDataFrame(batch2).coalesce(1).write.parquet(str(src / "f2"))

    schema = spark.read.parquet(str(src / "f1")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    out = stream_exact_dedup(stream, watermark="1 hour")
    q = (
        out.writeStream.format("memory").queryName("xbatch")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select content from xbatch").collect()
    contents = sorted(r.content for r in rows)
    assert contents == ["alpha content", "beta content", "gamma content"]
