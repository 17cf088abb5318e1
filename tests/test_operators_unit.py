"""Unit tests for the candidate-generation machinery and the generators."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from dedup_domains_spark.config import DedupConfig
from dedup_domains_spark.datagen import gen_code_corpus, gen_dnsbl_lines
from dedup_domains_spark.operators.buckets import pairs_from_buckets


def _edges_connect(pairs: set[tuple], members: list) -> bool:
    """All members in one component?"""
    parent = {m: m for m in members}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        if a in parent and b in parent:
            parent[find(a)] = find(b)
    return len({find(m) for m in members}) == 1


def test_mega_bucket_salted_star_stays_connected_and_bounded(spark):
    # one bucket with 500 members, cap 16 -> salting must split it while
    # keeping the bucket a single connected component with O(n) edges
    pdf = pd.DataFrame({"b": [1] * 500, "uid": list(range(500))})
    df = spark.createDataFrame(pdf)
    pairs = pairs_from_buckets(df, ["b"], id_col="uid", max_bucket_size=16)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert len(got) <= 2 * 500  # linear, never quadratic (124,750 pairs)
    assert _edges_connect(got, list(range(500)))


def test_small_buckets_emit_stars(spark):
    pdf = pd.DataFrame({"b": [1, 1, 1, 2, 2, 3], "uid": [10, 11, 12, 20, 21, 30]})
    df = spark.createDataFrame(pdf)
    got = {(r.id_a, r.id_b) for r in pairs_from_buckets(df, ["b"], "uid", 64).collect()}
    assert got == {(10, 11), (10, 12), (20, 21)}  # singleton bucket 3 silent


def test_datagen_prefix_stability():
    small = gen_code_corpus(60)
    big = gen_code_corpus(120)
    assert small.files.equals(big.files.iloc[:60].reset_index(drop=True))


def test_datagen_determinism():
    a = gen_code_corpus(40)
    b = gen_code_corpus(40)
    assert a.files.equals(b.files)
    assert a.pairs.equals(b.pairs)


def test_dnsbl_gen_has_structural_cases():
    pdf = gen_dnsbl_lines(n_files=2, rows_per_file=100)
    assert (pdf.match_strength == 2).any()          # regex rows
    assert (pdf.match_strength == 1).any()          # FULL rows
    assert pdf.groupby("source_file").linenumber.is_monotonic_increasing.all()


def test_minhash_estimate_tracks_true_jaccard():
    import numpy as np
    import pyarrow as pa

    from dedup_domains_spark.functions.signatures import _batch_signatures_arrow
    from dedup_domains_spark.functions.tokenize_np import (
        batch_shingle_segments_arrow,
    )

    cfg = DedupConfig()
    corpus = gen_code_corpus(100)
    arr = pa.array(corpus.files.content.tolist(), type=pa.string())
    minhash = _batch_signatures_arrow(arr, cfg).field("minhash").to_pylist()
    sh, offsets, counts, _ = batch_shingle_segments_arrow(arr, cfg.shingle_k)

    def shingles(i):
        return set(sh[offsets[i]:offsets[i] + counts[i]].tolist())

    for a, b, kind in corpus.pairs.itertuples(index=False):
        sa, sb = shingles(a), shingles(b)
        true_j = len(sa & sb) / len(sa | sb)
        est = float(np.mean(np.array(minhash[a]) == np.array(minhash[b])))
        assert abs(est - true_j) < 0.2, (a, b, kind, true_j, est)


def test_probes_only_batch_matches_full_signatures():
    """The fingerprints-only kernel (containment's probes) must be
    bit-identical to the full path on the fields it shares (n_tokens,
    n_shingles, fingerprints) — containment treats a fingerprints-only
    signature table as interchangeable with the full one."""
    import pyarrow as pa

    from dedup_domains_spark.functions.signatures import _batch_signatures_arrow

    cfg = DedupConfig()
    corpus = gen_code_corpus(120)
    arr = pa.array(corpus.files.content.tolist(), type=pa.string())
    full = _batch_signatures_arrow(arr, cfg)
    probe = _batch_signatures_arrow(arr, cfg, fields=("fingerprints",))
    for fld in ("n_tokens", "n_shingles", "fingerprints"):
        assert probe.field(fld).equals(full.field(fld)), fld
    assert [f.name for f in probe.type] == ["n_tokens", "n_shingles", "fingerprints"]
    # empty batch shape
    empty = _batch_signatures_arrow(
        pa.array([], type=pa.string()), cfg, fields=("fingerprints",)
    )
    assert len(empty) == 0


# ---------------------------------------------------------------------------
# Containment verify (operators/containment.py)
# ---------------------------------------------------------------------------

def test_verify_containment_matches_python_in(spark):
    """The Catalyst verify (a byte search over UTF-8) keeps exactly the
    pairs Python's ``small in big`` keeps on decoded strings, over every
    ordered pair of crafted contents: é precomposed and decomposed, a lone
    combining mark, CJK, emoji, a containee at the start and at the end of
    its container, identical texts, an empty string and None."""
    from dedup_domains_spark.operators.containment import verify_containment

    texts = [
        "café au lait", "café", "cafe\u0301", "e\u0301", "\u0301", "caf",
        "au lait", "漢字テキストと混在", "漢字", "字テ", "在", "😀 emoji 😀x",
        "😀", "x", "café", "", None, "\u00e9",
    ]
    df = spark.createDataFrame(
        pd.DataFrame({"uid": range(len(texts)), "content": texts}),
        "uid long, content string",
    )
    pairs = [(a, b) for a in range(len(texts)) for b in range(len(texts)) if a != b]
    cand = spark.createDataFrame(pairs, "small_id long, big_id long")
    want = {(a, b) for a, b in pairs
            if texts[a] and texts[b] and texts[a] in texts[b]}
    got = {tuple(r) for r in verify_containment(cand, df).collect()}
    assert got == want
    assert {(5, 0), (6, 0), (8, 7), (10, 7), (12, 11), (1, 14), (14, 1),
            (4, 2), (3, 2)} <= want                # the cases are exercised


def test_verify_containment_mega_fanin(spark):
    """One container probed by many candidates (a boilerplate or license
    carrier): every true containee is kept, every non-containee dropped,
    and no pair is emitted twice."""
    from dedup_domains_spark.operators.containment import verify_containment

    carrier = " ".join(f"tok{i}" for i in range(400))
    docs = [(1000, carrier)]
    # 60 true substrings + 60 non-substrings probing the same container
    for i in range(60):
        docs.append((i, " ".join(f"tok{j}" for j in range(i, i + 5))))
        docs.append((100 + i, f"absent{i} zz qq"))
    df = spark.createDataFrame(docs, ["uid", "content"])
    cand = spark.createDataFrame(
        [(i, 1000) for i in range(60)] + [(100 + i, 1000) for i in range(60)],
        ["small_id", "big_id"],
    )
    got = sorted(tuple(r) for r in verify_containment(cand, df).collect())
    assert got == [(i, 1000) for i in range(60)]


# ---------------------------------------------------------------------------
# Bloom prefilter (functions/bloom.py)
# ---------------------------------------------------------------------------

def test_bloom_no_false_negatives_and_low_fp():
    import numpy as np
    from dedup_domains_spark.functions.bloom import (
        _positions, _set_bits, _test_bits, bloom_params,
    )

    rng = np.random.default_rng(5)
    members = rng.integers(-2**62, 2**62, size=2000, dtype=np.int64)
    others = rng.integers(-2**62, 2**62, size=20000, dtype=np.int64)
    others = np.setdiff1d(others, members)
    m, k = bloom_params(len(members), fp_rate=0.01)
    bitmap = np.zeros(m // 8, dtype=np.uint8)
    _set_bits(bitmap, _positions(members, m, k))
    assert _test_bits(bitmap, _positions(members, m, k)).all()  # no false negatives
    fp = _test_bits(bitmap, _positions(others, m, k)).mean()
    assert fp < 0.03, fp


def test_bloom_prefilter_anti_join_is_exact(spark):
    from pyspark.sql import functions as F
    from dedup_domains_spark.functions.bloom import bloom_prefilter_anti_join

    corpus = spark.range(0, 300).select(
        F.concat(F.lit("k"), F.col("id")).alias("key")
    )
    new = spark.range(200, 500).select(
        F.col("id").alias("new_id"), F.concat(F.lit("k"), F.col("id")).alias("key")
    )
    out = bloom_prefilter_anti_join(new, corpus, "key")
    got = sorted(r.new_id for r in out.collect())
    assert got == list(range(300, 500))


def _containment_docs(spark):
    """Docs around two shared 40-token blocks, with cap 3: X sits in exactly
    3 docs (its shingles' DF == cap) and Y in 5 (DF > cap). The X and Y docs
    are containees of their wrappers; G = Y + W is contained in H and shares
    W with I."""
    from itertools import count

    ids = count()

    def words(n):
        return [f"t{next(ids)}" for _ in range(n)]

    X, Y, W = words(40), words(40), words(40)
    texts = [X, *[words(5) + X + words(5) for _ in range(2)],
             Y, *[words(5) + Y + words(5) for _ in range(4)],
             Y + W, words(5) + Y + W + words(5), words(5) + W + words(5),
             *[words(60) for _ in range(5)]]
    return spark.createDataFrame(
        pd.DataFrame({"uid": range(len(texts)),
                      "content": [" ".join(t) for t in texts]})
    )


@pytest.mark.parametrize("regime", ["broadcast", "shuffle"])
def test_containment_df_cap_matches_python_twin(spark, regime):
    """containment_candidates against a pure-Python twin of its rule:
    fingerprint postings with DF above containment_max_doc_freq are
    dropped, and a containee needs every surviving fingerprint in a larger
    container. The corpus makes the twin differ when the cap is removed or
    written as ``<``. The join carries no hint, so each regime sets
    Catalyst's broadcast threshold and checks the join it planned."""
    import re

    from dedup_domains_spark.functions.signatures import add_signatures
    from dedup_domains_spark.operators.containment import containment_candidates

    cfg = DedupConfig(containment_max_doc_freq=3)
    docs = _containment_docs(spark)
    sig = add_signatures(docs, cfg, fields=("fingerprints",), repartition=4
                         ).drop("content").localCheckpoint()
    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    spark.conf.set(key, "64m" if regime == "broadcast" else "-1")
    try:
        cand = containment_candidates(sig, cfg)
        plan = cand._sc._jvm.PythonSQLUtils.explainString(
            cand._jdf.queryExecution(), "formatted")
        got = {(r.small_id, r.big_id) for r in cand.collect()}
    finally:
        spark.conf.set(key, saved)
    joins = [b.split("\n", 1)[0] for b in plan.split("\n\n")
             if re.search(r"Left keys \[\d+\]: \[[^]]*\bshingle#", b)]
    want_join = "BroadcastHashJoin" if regime == "broadcast" else "SortMergeJoin"
    assert len(joins) == 1 and want_join in joins[0], joins

    rows = {r.uid: r for r in sig.collect()}
    fps = {u: set(r.fingerprints) for u, r in rows.items()}
    df = {}
    for fp in fps.values():
        for s in fp:
            df[s] = df.get(s, 0) + 1

    def twin(keep):
        out = set()
        for a, ra in rows.items():
            if ra.n_tokens < cfg.min_containee_tokens:
                continue
            probes = {p for p in fps[a] if keep(df[p])}
            out |= {(a, b) for b, rb in rows.items()
                    if probes and b != a and probes <= fps[b]
                    and rb.n_shingles > ra.n_shingles}
        return out

    cap = cfg.containment_max_doc_freq
    want = twin(lambda d: d <= cap)
    assert want != twin(lambda d: True)            # the cap matters here
    assert want != twin(lambda d: d < cap)         # and so does "<="
    assert got == want
