"""Exact-substring containment — the distributed analog of the reference's
parent-domain subsumption rule D2 (src/domaintree.c:330-339: a record wholly
covered by another is dropped).

LSH can't find containment: if small A is embedded in large B, Jaccard(A,B)
= |A|/|B| is arbitrarily low. Instead:

  1. every doc exposes its bottom-s shingle hashes as *probes* (computed in
     the signature pass — a uniform random sample of its shingle set);
  2. candidate containers come from an inverted index join: a doc's probes
     against ALL docs' shingle postings. If A ⊆ B then every probe of A is a
     posting of B; requiring all s probes to hit keeps false candidates rare
     (miss probability for a non-superset is per-probe coverage^s);
  3. postings with document frequency above a cap are dropped — boilerplate
     shingles carry no containment signal and would otherwise create the
     exact mega-bucket skew the reference's trie never faced;
  4. surviving (small, big) candidates are verified by a true substring test
     over content (Arrow batch, C-level str.find).

At 100 TB the postings explode is the big cost: it's linear in corpus
shingle mass, shuffles (shingle_hash, uid) longs only, and the DF cap is
applied *before* the join as a count window on the shingle key, which
removes skew from the join key (a boilerplate shingle's postings still
meet in one window task before the cap drops them).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from dedup_domains_spark.config import DedupConfig
from dedup_domains_spark.functions.signatures import explode_shingles_udf


# Regime switch, read off the distinct probe count collect_probe_filter
# takes anyway. Up to this many distinct probes the set is collected (about
# 240 MB of int64 on the driver, one copy per executor in the explode
# closure) and the broadcast regime runs; past it the shuffle-join regime
# runs. It is the driver-safety ceiling the broadcast regime always had, so
# every corpus that broadcast before still does, and the shuffle regime
# takes only corpora the broadcast regime could not hold. Where the two
# regimes cross is not measured: BENCH.md's one 960k-doc comparison
# (shuffle 659.8 s vs broadcast 682.5 s) predates the DF-cap window.
SHUFFLE_ABOVE_PROBES = 30_000_000


def collect_probe_filter(sig_df: DataFrame, cfg: DedupConfig):
    """The distinct probe-shingle set as a sorted int64 numpy array, or None
    when it holds more than SHUFFLE_ABOVE_PROBES shingles (shuffle regime).

    The array selects the broadcast regime: it ships in the posting explode
    so executors emit only postings that can ever match a probe, and the
    probe table broadcasts. The collection scans every partition of sig_df
    (the distinct's partial aggregate sits below the limit), so when sig_df
    is an unpopulated cache the call doubles as its materializing action —
    run_pipeline relies on that for its one sig_df barrier."""
    import numpy as np

    probe_rows = (
        sig_df.filter(F.col("n_tokens") >= cfg.min_containee_tokens)
        .select(F.explode("probes").alias("s")).distinct()
        .limit(SHUFFLE_ABOVE_PROBES + 1).toPandas()
    )
    if len(probe_rows) > SHUFFLE_ABOVE_PROBES:
        return None
    return np.sort(probe_rows["s"].to_numpy(dtype=np.int64))


def containment_candidates(
    df: DataFrame, sig_df: DataFrame, cfg: DedupConfig, id_col: str = "uid",
    repartition: int | None = None, *, probe_filter,
) -> DataFrame:
    """Candidate (containee, container) pairs: every surviving probe of the
    containee appears in the container's shingle set and the container is
    larger.

    df carries (uid, content); sig_df carries (uid, n_tokens, n_shingles,
    probes). ``probe_filter`` is collect_probe_filter(sig_df, cfg): a sorted
    probe array (broadcast regime) or None (shuffle regime). Postings are
    derived map-side from content (explode UDF) and consumed once: the
    DF-cap window and the probe join sit on the same partitioning by
    shingle, so the UDF runs in one pass with no persist or checkpoint.

    Join shape: with a probe filter the probe table broadcasts and the
    pruned postings shuffle once, for the window. Without one (shuffle
    regime) the full postings shuffle for the window and the sort-merge
    probe join reuses that exchange on shingle.
    """
    broadcast = probe_filter is not None

    # explicit fan-out before the tokenizing UDF — same rationale as
    # signatures.add_signatures: AQE would coalesce the small projection and
    # serialize the compute-bound stage onto a few cores. Pass
    # ``repartition=0`` when the caller guarantees balanced input (the
    # pipeline's exact_reps cache is repartitioned at creation) — that
    # skips a second full-content shuffle here.
    fanout = (
        df.sparkSession.sparkContext.defaultParallelism * 2
        if repartition is None else repartition
    )
    src = df.select(id_col, "content")
    if fanout:
        src = src.repartition(fanout)
    # With a probe filter the corpus shingle mass (~500/doc) shrinks to the
    # probe-hit subset (~10-30x fewer rows) before it touches a shuffle; DF
    # counts stay exact for every surviving shingle, because a shingle in
    # the probe set keeps ALL its postings.
    postings = src.select(
        F.col(id_col).alias("big_id"),
        F.explode(
            explode_shingles_udf(cfg, keep_only=probe_filter)(F.col("content"))
        ).alias("shingle"),
    )
    # document-frequency cap: boilerplate shingles carry no containment
    # signal and would otherwise be the join's mega-bucket. A window, not an
    # aggregate plus anti-join, so the postings are read once.
    postings = (
        postings.withColumn(
            "_df", F.count(F.lit(1)).over(Window.partitionBy("shingle"))
        )
        .filter(F.col("_df") <= cfg.containment_max_doc_freq)
        .drop("_df")
    )

    # probe symmetry (ADVICE r01): frequent shingles carry no containment
    # signal on EITHER side, so the full-house test counts only the
    # SURVIVING probes. Every probe of a doc is one of its own shingles, so
    # the doc's SELF-row (small_id == big_id) survives the posting join
    # exactly once per surviving probe, and its _hits count IS n_probes. A
    # doc whose every probe is boilerplate has no self-row (n_probes null)
    # and is skipped.
    probes = (
        sig_df.filter(F.col("n_tokens") >= cfg.min_containee_tokens)
        .select(
            F.col(id_col).alias("small_id"),
            F.col("n_shingles").alias("small_sh"),
            F.explode("probes").alias("shingle"),
        )
    )
    sizes = sig_df.select(F.col(id_col).alias("big_id"), F.col("n_shingles").alias("big_sh"))

    probe_side = F.broadcast(probes) if broadcast else probes.hint("shuffle_merge")
    counts = (
        postings.join(probe_side, "shingle")
        .groupBy("small_id", "big_id", "small_sh")
        .agg(F.count(F.lit(1)).alias("_hits"))
    )
    # n_probes reaches every row of its containee through a window on
    # small_id, not a self-join of counts: the id test then stays above the
    # aggregate, so the posting join and its aggregate run once. A
    # containee's rows are at most n_probes * max_doc_freq.
    n_probes = F.max(
        F.when(F.col("small_id") == F.col("big_id"), F.col("_hits"))
    ).over(Window.partitionBy("small_id"))
    return (
        counts.withColumn("n_probes", n_probes)
        .filter((F.col("small_id") != F.col("big_id"))
                & (F.col("_hits") == F.col("n_probes")))
        .join(sizes, "big_id")
        .filter(F.col("big_sh") > F.col("small_sh"))
        .select("small_id", "big_id")
    )


def join_pair_contents(
    candidates: DataFrame, df: DataFrame, id_col: str = "uid"
) -> DataFrame:
    """Attach both sides' content to candidate (small_id, big_id) pairs as
    (_ct_s, _ct_b) — shared scaffolding for every verify strategy."""
    c = df.select(F.col(id_col).alias("_cid"), F.col("content").alias("_ct"))
    return (
        candidates
        .join(c.withColumnRenamed("_cid", "small_id").withColumnRenamed("_ct", "_ct_s"), "small_id")
        .join(c.withColumnRenamed("_cid", "big_id").withColumnRenamed("_ct", "_ct_b"), "big_id")
    )


def verify_containment(
    candidates: DataFrame, df: DataFrame, id_col: str = "uid"
) -> DataFrame:
    """True substring check: content(small) in content(big)."""
    j = join_pair_contents(candidates, df, id_col)

    @F.pandas_udf(BooleanType())
    def _contains(small: pd.Series, big: pd.Series) -> pd.Series:
        return pd.Series(
            [bool(s) and bool(b) and (s in b) for s, b in zip(small, big)]
        )

    return (
        j.filter(_contains(F.col("_ct_s"), F.col("_ct_b")))
        .select("small_id", "big_id")
    )


def contained_pairs(
    df: DataFrame, sig_df: DataFrame, cfg: DedupConfig, id_col: str = "uid",
    repartition: int | None = None, *, probe_filter,
) -> DataFrame:
    """(small_id, big_id) verified exact-substring containment pairs.
    ``probe_filter`` is collect_probe_filter(sig_df, cfg); when sig_df is an
    unpopulated cache that call is also its materializing action, so the
    caller chooses where that barrier sits."""
    cand = containment_candidates(
        df, sig_df, cfg, id_col, repartition=repartition,
        probe_filter=probe_filter,
    )
    return verify_containment(cand, df, id_col)
