"""Candidate-pair verification (SURVEY.md §2.3 'candidate verification').

Default path is pure Catalyst: the MinHash Jaccard estimate is the fraction
of equal signature positions — ``zip_with`` + ``aggregate`` over the two
arrays, no Python, no content shuffled. The optional exact path joins
``content`` back for the (bounded) candidate set and computes true
shingle-set Jaccard per Arrow batch.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from dedup_domains_spark.config import DedupConfig
from dedup_domains_spark.functions.tokenize_np import batch_shingle_segments_arrow


def attach_minhash_estimate(
    pairs: DataFrame, sig_df: DataFrame, cfg: DedupConfig, id_col: str = "uid"
) -> DataFrame:
    """pairs(id_a, id_b) -> + est_jaccard column (MinHash position-match)."""
    sigs = sig_df.select(F.col(id_col).alias("_sid"), F.col("minhash").alias("_mh"))
    j = (
        pairs.join(
            sigs.withColumnRenamed("_sid", "id_a").withColumnRenamed("_mh", "_mh_a"), "id_a"
        )
        .join(
            sigs.withColumnRenamed("_sid", "id_b").withColumnRenamed("_mh", "_mh_b"), "id_b"
        )
    )
    matches = F.aggregate(
        F.zip_with("_mh_a", "_mh_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return j.withColumn(
        "est_jaccard", matches / F.lit(cfg.num_perm)
    ).drop("_mh_a", "_mh_b")


def verify_pairs_estimate(
    pairs: DataFrame, sig_df: DataFrame, cfg: DedupConfig, id_col: str = "uid"
) -> DataFrame:
    """Keep candidate pairs whose estimated Jaccard >= threshold."""
    return (
        attach_minhash_estimate(pairs, sig_df, cfg, id_col)
        .filter(F.col("est_jaccard") >= cfg.jaccard_threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


def verify_pairs_exact(
    pairs: DataFrame, content_df: DataFrame, cfg: DedupConfig, id_col: str = "uid"
) -> DataFrame:
    """Exact shingle-set Jaccard over the candidate pairs (joins content —
    use only after candidate generation has bounded the pair count)."""
    c = content_df.select(F.col(id_col).alias("_cid"), F.col("content").alias("_ct"))
    j = (
        pairs.join(c.withColumnRenamed("_cid", "id_a").withColumnRenamed("_ct", "_ct_a"), "id_a")
        .join(c.withColumnRenamed("_cid", "id_b").withColumnRenamed("_ct", "_ct_b"), "id_b")
    )

    from pyspark.sql.functions import arrow_udf

    @arrow_udf(DoubleType())
    def _jac(a, b):
        import pyarrow as pa

        # whole-batch numpy shingling (one tokenizer pass per column), then
        # ONE segmented intersection across all pairs at once (VERDICT r03
        # item 6: the per-pair intersect1d loop was the last Python loop on
        # the oracle-profile path). Each side's segments are sorted-unique
        # and contiguous in pair order, so after tagging every shingle with
        # its pair index and lexsorting the combined array, an intersecting
        # value appears exactly twice adjacent under (pair, value) order —
        # per-pair intersection sizes fall out of one bincount.
        sha, _, cnta, _ = batch_shingle_segments_arrow(a, cfg.shingle_k)
        shb, _, cntb, _ = batch_shingle_segments_arrow(b, cfg.shingle_k)
        n = len(a)
        pair_of = np.concatenate([
            np.repeat(np.arange(n, dtype=np.int64), cnta),
            np.repeat(np.arange(n, dtype=np.int64), cntb),
        ])
        vals = np.concatenate([sha, shb])
        order = np.lexsort((vals, pair_of))
        pair_s, vals_s = pair_of[order], vals[order]
        dup = (pair_s[1:] == pair_s[:-1]) & (vals_s[1:] == vals_s[:-1])
        inter = np.bincount(pair_s[1:][dup], minlength=n).astype(np.float64)
        union = (cnta + cntb).astype(np.float64) - inter
        out = np.where(union > 0, inter / np.maximum(union, 1.0), 1.0)
        return pa.array(out, type=pa.float64())

    return (
        j.withColumn("exact_jaccard", _jac(F.col("_ct_a"), F.col("_ct_b")))
        .filter(F.col("exact_jaccard") >= cfg.jaccard_threshold)
        .select("id_a", "id_b", F.col("exact_jaccard").alias("est_jaccard"))
    )
