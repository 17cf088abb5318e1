"""Exact-substring containment — the distributed analog of the reference's
parent-domain subsumption rule D2 (src/domaintree.c:330-339: a record wholly
covered by another is dropped).

LSH can't find containment: if small A is embedded in large B, Jaccard(A,B)
= |A|/|B| is arbitrarily low. Instead:

  1. every doc carries its *winnowed fingerprints* from the signature pass:
     the distinct minima of every window of w = min_containee_tokens -
     shingle_k + 1 consecutive shingles (functions/signatures._winnow);
  2. candidate containers come from a self-join of the fingerprint postings:
     if A ⊆ B on B's token boundaries, every w-window of A's shingles is a
     w-window of B's, so every fingerprint of A is a fingerprint of B, and a
     containee of at least min_containee_tokens tokens holds a whole window.
     Requiring all of A's fingerprints to hit keeps false candidates rare;
  3. postings with document frequency above a cap are dropped — boilerplate
     shingles carry no containment signal and would otherwise create the
     exact mega-bucket skew the reference's trie never faced;
  4. surviving (small, big) candidates are verified by a true substring test
     over content: a Catalyst ``contains`` predicate, which Spark folds into
     the content join's condition. Spark searches the UTF-8 bytes, and a
     byte match of valid UTF-8 is a code-point match, so the answer is
     Python's ``small in big``; no Python worker runs.

The candidates step never reads content: the postings are the exploded
fingerprint column, shuffled once on the shingle key for the DF-cap window,
and the containees' fingerprints join them. Catalyst's size statistics
choose a broadcast or a sort-merge join; the DF cap runs before the join,
which removes skew from the join key (a boilerplate shingle's postings
still meet in one window task before the cap drops them).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dedup_domains_spark.config import DedupConfig


def containment_candidates(
    sig_df: DataFrame, cfg: DedupConfig, id_col: str = "uid"
) -> DataFrame:
    """Candidate (containee, container) pairs: every surviving fingerprint
    of the containee is a fingerprint of the container, and the container
    has more shingles. sig_df carries (id, n_tokens, n_shingles,
    fingerprints)."""
    def explode(df, role):
        return df.select(
            F.col(id_col).alias(f"{role}_id"),
            F.col("n_shingles").alias(f"{role}_sh"),
            F.explode("fingerprints").alias("shingle"),
        )

    # document-frequency cap: a window, not an aggregate plus anti-join, so
    # the postings are read once and the join can sit on its partitioning
    postings = (
        explode(sig_df, "big")
        .withColumn("_df", F.count(F.lit(1)).over(Window.partitionBy("shingle")))
        .filter(F.col("_df") <= cfg.containment_max_doc_freq)
        .drop("_df")
    )
    probes = explode(
        sig_df.filter(F.col("n_tokens") >= cfg.min_containee_tokens), "small"
    )
    counts = (
        postings.join(probes, "shingle")
        .groupBy("small_id", "big_id", "small_sh", "big_sh")
        .agg(F.count(F.lit(1)).alias("_hits"))
    )
    # probe symmetry (ADVICE r01): frequent shingles carry no containment
    # signal on EITHER side. A fingerprint whose postings the cap dropped
    # joins nothing, and each surviving one is also the doc's own posting,
    # so the doc's SELF-row (small_id == big_id) counts exactly its
    # surviving fingerprints. A doc whose every fingerprint is boilerplate
    # has no self-row (n_probes null) and is skipped. n_probes reaches every
    # row of its containee through a window on small_id, not a self-join of
    # counts, so the posting join and its aggregate run once.
    n_probes = F.max(
        F.when(F.col("small_id") == F.col("big_id"), F.col("_hits"))
    ).over(Window.partitionBy("small_id"))
    return (
        counts.withColumn("n_probes", n_probes)
        .filter((F.col("small_id") != F.col("big_id"))
                & (F.col("_hits") == F.col("n_probes"))
                & (F.col("big_sh") > F.col("small_sh")))
        .select("small_id", "big_id")
    )


def verify_containment(
    candidates: DataFrame, df: DataFrame, id_col: str = "uid"
) -> DataFrame:
    """True substring check: content(small) in content(big). A null or
    empty content on either side is never contained nor a container."""
    c = df.select(F.col(id_col).alias("_cid"), F.col("content").alias("_ct"))
    small, big = F.col("_ct_s"), F.col("_ct_b")
    return (
        candidates
        .join(c.withColumnRenamed("_cid", "small_id").withColumnRenamed("_ct", "_ct_s"), "small_id")
        .join(c.withColumnRenamed("_cid", "big_id").withColumnRenamed("_ct", "_ct_b"), "big_id")
        .filter((F.length(small) > 0) & (F.length(big) > 0) & big.contains(small))
        .select("small_id", "big_id")
    )


def contained_pairs(
    df: DataFrame, sig_df: DataFrame, cfg: DedupConfig, id_col: str = "uid"
) -> DataFrame:
    """(small_id, big_id) verified exact-substring containment pairs: df
    carries (id, content) for the verify, sig_df the fingerprints."""
    return verify_containment(containment_candidates(sig_df, cfg, id_col), df, id_col)
