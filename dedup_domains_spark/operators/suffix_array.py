"""Suffix-array exact-substring verification — the distributed analog of the
reference's parent-domain subsumption rule (src/domaintree.c:330-339: a record
wholly covered by another is dropped), for the code-scale pipeline.

Why a suffix array at all: the fingerprint inverted index
(operators/containment.py) produces candidate (small, big) pairs in which one
container doc is typically probed by MANY containee candidates (boilerplate carriers, license files,
vendored headers). Verifying each candidate with an independent `small in big`
scan is O(sum |big| * candidates_per_big); building one suffix array per
container amortizes that to O(|big| log |big|) once plus
O(|small| log |big|) per candidate — the classic many-patterns-one-text
regime where a suffix array wins.

Distribution shape: candidates are grouped BY CONTAINER (`groupBy("big_id")`
→ `applyInPandas`), so each task holds one container's text plus its
candidate containees; the suffix array lives only for the task. No global
index is ever built (SURVEY.md §7: "suffix arrays per group, not global"),
so the operator scales with the candidate set, not the corpus.

Construction is Manber–Myers rank doubling on numpy (vectorized lexsort per
round, O(n log^2 n) total, no per-character Python); queries are binary
searches over the suffix order comparing raw bytes (memoryview slices,
C-level comparison).
"""

from __future__ import annotations

from typing import Iterable, List

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StructField, StructType


def build_suffix_array(data: bytes) -> np.ndarray:
    """Suffix array of ``data`` (indices of suffixes in lexicographic order),
    via numpy rank doubling. Empty input → empty array."""
    n = len(data)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    a = np.frombuffer(data, dtype=np.uint8).astype(np.int64)
    order = np.argsort(a, kind="stable")
    rank = np.empty(n, dtype=np.int64)
    sorted_a = a[order]
    rank[order] = np.cumsum(np.concatenate(([0], (sorted_a[1:] != sorted_a[:-1]).astype(np.int64))))
    k = 1
    while k < n and rank[order[-1]] != n - 1:
        # secondary key: rank of the suffix k positions later (-1 past the end)
        key2 = np.full(n, -1, dtype=np.int64)
        key2[: n - k] = rank[k:]
        order = np.lexsort((key2, rank))
        r1, r2 = rank[order], key2[order]
        changed = np.concatenate(
            ([0], ((r1[1:] != r1[:-1]) | (r2[1:] != r2[:-1])).astype(np.int64))
        )
        new_rank = np.empty(n, dtype=np.int64)
        new_rank[order] = np.cumsum(changed)
        rank = new_rank
        k *= 2
    return order.astype(np.int64)


def sa_contains(data: bytes, sa: np.ndarray, pattern: bytes) -> bool:
    """True iff ``pattern`` occurs in ``data``, by binary search over the
    suffix array: find the first suffix >= pattern, then check prefix match."""
    m = len(pattern)
    if m == 0:
        return True
    if m > len(data):
        return False
    view = memoryview(data)
    lo, hi = 0, len(sa)
    while lo < hi:
        mid = (lo + hi) // 2
        start = sa[mid]
        if bytes(view[start:start + m]) < pattern:
            lo = mid + 1
        else:
            hi = mid
    if lo == len(sa):
        return False
    start = sa[lo]
    return bytes(view[start:start + m]) == pattern


def sa_contains_all(data: bytes, patterns: Iterable[bytes]) -> List[bool]:
    """Batch membership: one suffix array build, one binary search per
    pattern."""
    sa = build_suffix_array(data)
    return [sa_contains(data, sa, p) for p in patterns]


def suffix_verify_containment(
    candidates: DataFrame, df: DataFrame, id_col: str = "uid",
    max_fanin: int = 4096,
) -> DataFrame:
    """Verify candidate (small_id, big_id) pairs by true substring test using
    one suffix array per container.

    ``candidates`` carries (small_id, big_id); ``df`` carries (id_col,
    content). Pairs are grouped by container so each Arrow task builds the
    container's suffix array exactly once and checks every candidate
    containee against it. Only verified pairs survive.

    Skew guard (ADVICE r02): a mega fan-in container (boilerplate carrier
    probed by 10^5+ containees — exactly the regime this path targets) is
    salted into ceil(fanin / max_fanin) subgroups BEFORE the content join,
    so no single task holds an unbounded pandas frame. Each subgroup
    rebuilds the container's suffix array — O(|big| log^2 |big|) per extra
    subgroup, the explicit price of bounding task memory, mirroring the
    salted-star cap in operators/buckets.py. The salt rides an ids-only
    window; content shuffles once, already subgrouped.

    Equivalent semantics to operators/containment.verify_containment (plain
    scan verify) — interchangeable; this one wins when candidate fan-in per
    container is high.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from dedup_domains_spark.operators.containment import join_pair_contents

    bw = Window.partitionBy("big_id")
    nsplit = F.ceil(F.count(F.lit(1)).over(bw) / F.lit(max_fanin)).cast("int")
    salted = candidates.withColumn(
        "_salt",
        F.when(nsplit <= 1, F.lit(0)).otherwise(
            F.pmod(F.xxhash64("small_id"), nsplit).cast("int")
        ),
    )
    j = join_pair_contents(salted, df, id_col).select(
        "small_id", "big_id", "_salt", "_ct_s", "_ct_b"
    )

    out_schema = StructType([
        StructField("small_id", LongType()),
        StructField("big_id", LongType()),
    ])

    def _verify(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"small_id": [], "big_id": []}).astype("int64")
        if pdf.empty:
            return empty
        # null/empty contract matches the scan verifier (containment.py
        # `length(...) > 0` on both sides): null or empty content on either
        # side is rejected, never an error
        big = pdf["_ct_b"].iloc[0]
        if big is None or big == "" or (not isinstance(big, str) and not big):
            return empty
        data = big.encode("utf-8", "surrogatepass") if isinstance(big, str) else bytes(big)
        valid = pdf["_ct_s"].map(lambda s: s is not None and bool(s))
        pdf = pdf[valid]
        if pdf.empty:
            return empty
        patterns = [
            s.encode("utf-8", "surrogatepass") if isinstance(s, str) else bytes(s)
            for s in pdf["_ct_s"]
        ]
        ok = np.asarray(sa_contains_all(data, patterns), dtype=bool)
        kept = pdf.loc[ok, ["small_id", "big_id"]]
        return kept.astype({"small_id": "int64", "big_id": "int64"})

    return j.groupBy("big_id", "_salt").applyInPandas(_verify, schema=out_schema)


def suffix_contained_pairs(
    df: DataFrame, sig_df: DataFrame, cfg, id_col: str = "uid"
) -> DataFrame:
    """Fingerprint-index candidates (operators/containment.containment_candidates)
    verified by per-container suffix arrays: the full D2-analog containment
    operator with the suffix-array verify path."""
    from dedup_domains_spark.operators.containment import containment_candidates

    return suffix_verify_containment(
        containment_candidates(sig_df, cfg, id_col), df, id_col
    )
