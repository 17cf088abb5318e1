"""Property-based and randomized-oracle tests.

1. The vectorized byte-level tokenizer must agree with its regex
   specification (``\\w+|[^\\w\\s]`` over UTF-8 bytes, every byte >= 0x80
   a word byte) on token COUNTS, null entries counting as empty text
   (hypothesis-generated); its short-doc fallback shingle is a Horner
   polynomial, checked against a pure-Python one.
2. Winnowed containment fingerprints: a token-aligned excerpt of at least
   min_containee_tokens tokens has fingerprints, all of them its
   container's.
3. Randomized domain tables: the Spark domain-mode dedup must match an
   independent in-test oracle implementing the reference's semantics
   (max-strength election, first-wins ties, FULL-ancestor subsumption) —
   written from SURVEY.md §2 semantics, not from reference code.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from dedup_domains_spark.functions.tokenize_np import batch_shingle_segments_arrow

# bytes pattern: \w and \s are ASCII-only, and any byte >= 0x80 is a word byte
_SPEC = re.compile(rb"[\w\x80-\xff]+|[^\w\s\x80-\xff]")
_K = 5

texts_or_null = st.one_of(
    st.none(),
    st.text(
        alphabet=st.one_of(
            st.characters(min_codepoint=0x20, max_codepoint=0x7E),
            st.sampled_from("\t\n\u00e9\u00df\u4e2d\U0001f600"),
        ),
        max_size=400,
    ),
)


def _segments(texts):
    import pyarrow as pa

    return batch_shingle_segments_arrow(pa.array(texts, type=pa.string()), _K)


@given(st.lists(texts_or_null, min_size=1, max_size=20))
@settings(max_examples=200, deadline=None)
def test_tokenizer_counts_match_regex_spec(texts):
    _, _, _, n_tokens = _segments(texts)
    for i, t in enumerate(texts):
        want = len(_SPEC.findall((t or "").encode("utf-8")))
        assert n_tokens[i] == want, repr(t)


@given(texts_or_null, texts_or_null)
@settings(max_examples=100, deadline=None)
def test_token_hash_equality_iff_token_equality_mostly(a, b):
    """Identical texts tokenize and shingle identically wherever they sit in
    a batch."""
    sh, off, cnt, n_tokens = _segments([a, b, a])
    assert n_tokens[0] == n_tokens[2]
    assert list(sh[off[0]:off[0] + cnt[0]]) == list(sh[off[2]:off[2] + cnt[2]])


def _splitmix_py(z: int) -> int:
    m = (1 << 64) - 1
    z = (z + 0x9E3779B97F4A7C15) & m
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & m
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & m
    return z ^ (z >> 31)


def test_short_doc_fallback_matches_python_horner():
    """A doc with fewer than k tokens gets one shingle, splitmix of the
    Horner polynomial over its token hashes; computed without per-token
    Python and without uint64 overflow warnings."""
    import warnings

    from dedup_domains_spark.functions.tokenize_np import (
        _POLY, _token_hashes_joined,
    )

    texts = [None, "", "x", "a b c", "( ) = +",
             "\u00e9t\u00e9 \u4e2d \U0001f600 ok", "long " * 9]
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        sh, off, cnt, n_tokens = _segments(texts)
    for i, t in enumerate(texts):
        if n_tokens[i] >= _K:
            continue
        raw = (t or "").encode("utf-8") + b" "
        th, _ = _token_hashes_joined(np.frombuffer(raw, np.uint8),
                                     np.zeros(1, np.int64))
        v = 0
        for x in th.tolist():
            v = (v * int(_POLY) + x) & ((1 << 64) - 1)
        assert cnt[i] == 1, repr(t)
        assert int(sh[off[i]]) == _splitmix_py(v), repr(t)
    assert (n_tokens < _K).sum() == len(texts) - 1


_WORDS = ["a", "b", "c", "foo", "bar_1", "(", ")", "=", "\u00e9", "if"]


@given(st.data())
@settings(max_examples=150, deadline=None)
def test_excerpt_fingerprints_are_container_fingerprints(data):
    """For any token-aligned excerpt A of a random doc B with at least
    min_containee_tokens tokens, A has fingerprints and each is one of B's.
    A small vocabulary makes repeated shingles and tied window minima."""
    import pyarrow as pa

    from dedup_domains_spark.config import DedupConfig
    from dedup_domains_spark.functions.signatures import _batch_signatures_arrow

    cfg = data.draw(st.sampled_from([
        DedupConfig(), DedupConfig(shingle_k=5, min_containee_tokens=9),
        DedupConfig(shingle_k=3, min_containee_tokens=3),
    ]))
    m = cfg.min_containee_tokens
    toks = data.draw(st.lists(st.sampled_from(_WORDS), min_size=m, max_size=3 * m))
    n = data.draw(st.integers(min_value=m, max_value=len(toks)))
    start = data.draw(st.integers(min_value=0, max_value=len(toks) - n))
    texts = [" ".join(toks[start:start + n]), "\n".join(toks), "x y"]
    out = _batch_signatures_arrow(pa.array(texts, type=pa.string()), cfg,
                                  fields=("fingerprints",))
    fa, fb = out.field("fingerprints").to_pylist()[:2]
    assert fa, (n, toks)
    assert set(fa) <= set(fb), (start, n, toks)


# ---------------------------------------------------------------------------
# randomized domain-mode oracle
# ---------------------------------------------------------------------------

def _oracle(rows):
    """Reference dedup semantics, independently implemented:
    rows: list of (file_order, linenumber, domain, strength) in insertion
    order. Returns surviving (file_order, linenumber) keys."""
    keep_regex = [(f, ln) for f, ln, d, s in rows if s == 2]
    best: dict[str, tuple[int, tuple]] = {}
    for f, ln, d, s in rows:
        if s == 2:
            continue
        cur = best.get(d)
        if cur is None or s > cur[0]:
            best[d] = (s, (f, ln))
    full = {d for d, (s, _) in best.items() if s == 1}

    def subsumed(d: str) -> bool:
        labels = d.split(".")
        return any(
            ".".join(labels[i:]) in full for i in range(1, len(labels))
        )

    survivors = {key for d, (s, key) in best.items() if not subsumed(d)}
    return survivors | set(keep_regex)


def _random_rows(seed: int, n: int):
    rng = np.random.default_rng(seed)
    rows = []
    ln_per_file = {}
    for i in range(n):
        f = int(rng.integers(0, 3))
        ln_per_file[f] = ln_per_file.get(f, 0) + 1
        depth = int(rng.integers(1, 4))
        labels = [f"l{rng.integers(0, 6)}" for _ in range(depth)] + ["com"]
        s = int(rng.choice([0, 0, 0, 1, 1, 2], p=[0.45, 0.15, 0.1, 0.15, 0.1, 0.05]))
        rows.append((f, ln_per_file[f], ".".join(labels), s))
    # insertion order: file_order then linenumber (multi-file CLI order)
    rows.sort(key=lambda r: (r[0], r[1]))
    return rows


@pytest.mark.parametrize("seed", [7, 42, 1337])
def test_random_tables_match_oracle(spark, seed):
    from dedup_domains_spark.datagen import make_dnsbl_row
    from dedup_domains_spark.operators.domain_mode import dedup_dnsbl
    from dedup_domains_spark.sources.dnsbl import dnsbl_df_from_pandas

    rows = _random_rows(seed, 500)
    pdf = pd.DataFrame(
        [
            (f"file_{f}", f, ln, d, "lst", "grp", s, make_dnsbl_row(d, s))
            for (f, ln, d, s) in rows
        ],
        columns=["source_file", "file_order", "linenumber", "domain",
                 "listname", "groupname", "match_strength", "raw_line"],
    )
    df = dnsbl_df_from_pandas(spark, pdf)
    res = dedup_dnsbl(df)
    got = {
        (r.file_order, r.linenumber)
        for r in res.survivors.select("file_order", "linenumber").collect()
    }
    want = _oracle(rows)
    assert got == want, (
        f"seed {seed}: extra={sorted(got - want)[:5]} "
        f"missing={sorted(want - got)[:5]}"
    )
