"""MinHash-LSH band candidate generation (SURVEY.md §2.3).

Band keys are computed JVM-side: ``xxhash64`` over a slice of the signature
array — the signature pandas UDF is the only Python in the path. The band
explode is a bounded fan-out (x bands). fused_candidate_pairs shuffles the
bands together with the SimHash blocks on (kind, k1, k2), and skew is
handled by the shared salted-star machinery in buckets.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dedup_domains_spark.config import DedupConfig
from dedup_domains_spark.operators.buckets import pairs_from_buckets


def lsh_band_table(
    sig_df: DataFrame, cfg: DedupConfig, id_col: str = "uid",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(uid, band, band_hash) — one row per band per doc. ``extra_cols`` ride
    along through the explode (e.g. the event-time column in streaming mode,
    where joining them back would be an unbounded stream-stream join).

    The band sweep is ONE sequence explode + a per-row hash over a
    band-indexed slice, not an unrolled array of ``bands`` struct
    expressions: at bands=64 the unrolled form put 64 xxhash64(slice(...))
    subtrees into every plan that referenced the band table, and Catalyst
    analysis/optimization over those trees was measurable DRIVER time in
    the pipeline (guide §7.3 — large plans spend minutes in planning;
    here ~seconds, paid per action). Values are bit-identical: xxhash64
    over (int band, slice) hashes the same bytes whether the band index is
    a literal or a column."""
    r = cfg.rows_per_band
    return (
        sig_df.select(
            id_col, *extra_cols, "minhash",
            F.explode(F.sequence(F.lit(0), F.lit(cfg.bands - 1))).alias("band"),
        )
        .select(
            id_col, *extra_cols, "band",
            F.expr(f"xxhash64(band, slice(minhash, band * {r} + 1, {r}))")
            .alias("band_hash"),
        )
    )


def fused_candidate_pairs(
    sig_df: DataFrame, cfg: DedupConfig, id_col: str = "uid"
) -> DataFrame:
    """LSH bands ∪ SimHash pigeonhole blocks as ONE bucket table through ONE
    pairs_from_buckets pass — half the shuffle chains of running the two
    sweeps separately (the r01 candidates stage was barrier-bound, not
    compute-bound). Band and block keyspaces are disambiguated by a kind
    column; downstream est-Jaccard verification is the acceptance gate for
    both, so the SimHash pre-filter (bit_count ≤ d) is subsumed — it only
    pruned pairs the verifier re-checks anyway."""
    from dedup_domains_spark.operators.simhash_buckets import simhash_block_table

    bands = lsh_band_table(sig_df, cfg, id_col).select(
        id_col, F.lit(0).alias("kind"), F.col("band").alias("k1"),
        F.col("band_hash").alias("k2"),
    )
    blocks = simhash_block_table(sig_df, cfg, id_col).select(
        id_col, F.lit(1).alias("kind"), F.col("block").alias("k1"),
        F.col("block_val").alias("k2"),
    )
    return pairs_from_buckets(
        bands.unionByName(blocks), ["kind", "k1", "k2"],
        id_col=id_col, max_bucket_size=cfg.max_bucket_size,
    )
