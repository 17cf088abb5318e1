"""Vectorized signature computation — shingling, MinHash, SimHash, winnowed
containment fingerprints — in ONE Arrow batch pass over ``content``.

This is the generalization of the reference's per-row label decomposition
(reference src/domain.c:236-318) to code shingles (SURVEY.md §2.3, T1).
Tokenization + shingle hashing is whole-batch numpy (tokenize_np.py); MinHash
uses 31-bit universal hashing ((a*x+b) mod 2^31-1, Mersenne reduction, no
division) vectorized with minimum.reduceat over per-doc segments; SimHash is
64-bit with unpackbits-based per-bit majority. No per-row Python anywhere
(BASELINE.json input_hint).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from dedup_domains_spark.config import DedupConfig
from dedup_domains_spark.functions.tokenize_np import batch_shingle_segments_arrow

_MERSENNE31 = (1 << 31) - 1
_P31 = np.uint64(_MERSENNE31)

# Catalyst cannot prune columns INSIDE a UDF, so a caller that used the
# full struct would pay the 128-permutation MinHash loop and the SimHash
# bit transpose for fields it drops. add_signatures(fields=...) emits only
# the requested signature fields and the kernel skips the arithmetic behind
# the omitted ones: containment needs only fingerprints (tokenize + winnow),
# the SimHash block sweep needs only simhash (skips the perm loop), the LSH
# band sweep needs only minhash (skips the bit transpose). Every emitted
# field is bit-identical across variants — same tokenizer, same math.
_FIELD_TYPES = {
    # int32, not long: every MinHash value is < 2^31-1 (mod-Mersenne31
    # universal hashing), and minhash is the fattest column crossing the
    # candidate/verify shuffles — 128 values/doc at 4 bytes instead of 8
    # halves the dominant shuffle payload at 10^12-file scale. fingerprints
    # stay int64 (they are raw 64-bit shingle hashes).
    "minhash": ArrayType(IntegerType()),
    "simhash": LongType(),
    "fingerprints": ArrayType(LongType()),
}
_ALL_FIELDS = ("minhash", "simhash", "fingerprints")


def _sig_struct(fields: tuple[str, ...]) -> StructType:
    return StructType(
        [
            StructField("n_tokens", IntegerType()),
            StructField("n_shingles", IntegerType()),
        ]
        + [StructField(f, _FIELD_TYPES[f]) for f in _ALL_FIELDS if f in fields]
    )


# NOTE: the full shingle set is deliberately NOT emitted/cached — ~500
# longs/doc through Arrow and the block cache would cost heap pressure in
# every downstream stage. Containment reads the winnowed fingerprints
# instead (about 2/(w+1) of the positional shingles), and its postings come
# from them, so content is tokenized once.


def _perm_params(cfg: DedupConfig) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng(cfg.seed)
    a = rng.integers(1, _MERSENNE31, size=cfg.num_perm, dtype=np.uint64)
    b = rng.integers(0, _MERSENNE31, size=cfg.num_perm, dtype=np.uint64)
    return a, b


def _mod_mersenne31(v: np.ndarray) -> np.ndarray:
    """v mod (2^31 - 1) without integer division (valid for v < 2^62)."""
    v = (v & _P31) + (v >> np.uint64(31))
    v = (v & _P31) + (v >> np.uint64(31))
    v[v >= _P31] -= _P31
    return v


# Cache-block size for the minhash/simhash passes, in shingles. The perm
# loop makes num_perm (128) passes over the shingle array: run whole-batch
# (~24 MB flat for a 10k-doc Arrow batch) that is ~19 GB of DRAM traffic per
# batch and the stage becomes memory-bandwidth-bound — cores contend on the
# bus instead of computing (measured: 0.10 scaling efficiency at 8->32
# procs). Blocked at 16 K shingles (128 KB + temps, L2-resident) the same
# arithmetic runs from cache: 5.3x faster single-threaded and 0.84 scaling
# efficiency on the same host. Bit-identical output by construction — the
# block boundary falls only between doc segments.
_CHUNK_SHINGLES = 16384


def _minhash_simhash(
    flat: np.ndarray, flat31: np.ndarray, offsets: np.ndarray,
    counts: np.ndarray, a: np.ndarray, b: np.ndarray, num_perm: int,
    want_minhash: bool = True, want_simhash: bool = True,
) -> tuple[np.ndarray | None, np.ndarray | None]:
    """Segmented MinHash + SimHash over doc-chunks of ~_CHUNK_SHINGLES.

    MinHash: one segmented min per permutation (reduceat needs non-empty
    segments — batch_shingle_segments_arrow guarantees counts >= 1). SimHash:
    per-bit ones-count per doc; strided segmented sums (reduceat axis=0 /
    cumsum axis=0) are catastrophically slow in numpy — transpose to
    contiguous rows and run 64 cheap 1-D reduceats instead.

    want_minhash/want_simhash skip the respective arithmetic entirely for
    callers that drop the field (the chunk walk itself is free); emitted
    values are bit-identical regardless of which flags are on."""
    ndocs = len(counts)
    sig = np.empty((ndocs, num_perm), dtype=np.int32) if want_minhash else None
    sim = np.zeros(ndocs, dtype=np.uint64) if want_simhash else None
    ends = offsets + counts
    d0 = 0
    while d0 < ndocs:
        # smallest doc range ending at/after target shingles (a single doc
        # larger than the target forms its own chunk)
        d1 = int(np.searchsorted(ends, offsets[d0] + _CHUNK_SHINGLES)) + 1
        d1 = min(max(d1, d0 + 1), ndocs)
        s0, s1 = int(offsets[d0]), int(ends[d1 - 1])
        off_c = (offsets[d0:d1] - s0).astype(np.intp)
        if want_minhash:
            f31 = flat31[s0:s1]
            for p in range(num_perm):
                v = _mod_mersenne31(a[p] * f31 + b[p])
                sig[d0:d1, p] = np.minimum.reduceat(v, off_c).astype(np.int32)
        if want_simhash:
            bytes_t = np.ascontiguousarray(
                flat[s0:s1].view(np.uint8).reshape(-1, 8).T
            )
            bits_t = np.unpackbits(bytes_t, axis=0, bitorder="little")  # (64, n)
            nd = d1 - d0
            ones = np.empty((nd, 64), dtype=np.int64)
            for bit in range(64):
                ones[:, bit] = np.add.reduceat(bits_t[bit], off_c, dtype=np.int32)
            simbits = (ones * 2 > counts[d0:d1, None]).astype(np.uint64)
            sm = np.zeros(nd, dtype=np.uint64)
            for bit in range(64):
                sm |= simbits[:, bit] << np.uint64(bit)
            sim[d0:d1] = sm
        d0 = d1
    return sig, sim.view(np.int64) if want_simhash else None


def _winnow(pos: np.ndarray, n_tokens: np.ndarray, k: int, w: int
            ) -> tuple[np.ndarray, np.ndarray]:
    """Winnowing (Schleimer, Wilkerson and Aiken, SIGMOD 2003) over the
    positional shingles: each doc's fingerprints are the distinct minima of
    its w-shingle windows, sorted. -> (flat int64 values, counts per doc).
    A doc with fewer than w positional shingles has none.

    Sliding minimum after van Herk / Gil-Werman: cut the flat sequence into
    blocks of w; the window starting at i is min(suffix-min of i's block
    at i, prefix-min of the next block at i + w - 1). Windows that cross a
    doc boundary are dropped, as the tokenizer drops crossing shingles."""
    ndocs = len(n_tokens)
    pdoc = np.repeat(np.arange(ndocs), np.maximum(n_tokens - k + 1, 0))
    n = len(pos)
    if n < w:
        return np.empty(0, np.int64), np.zeros(ndocs, np.int64)
    blocks = np.full(-(-n // w) * w, np.iinfo(np.uint64).max, np.uint64)
    blocks[:n] = pos
    blocks = blocks.reshape(-1, w)
    prefix = np.minimum.accumulate(blocks, axis=1).ravel()
    suffix = np.minimum.accumulate(blocks[:, ::-1], axis=1)[:, ::-1].ravel()
    m = n - w + 1
    valid = pdoc[:m] == pdoc[w - 1:]
    mins = np.minimum(suffix[:m], prefix[w - 1:n])[valid]
    mdoc = pdoc[:m][valid]
    order = np.lexsort((mins, mdoc))
    mins, mdoc = mins[order], mdoc[order]
    keep = np.ones(len(mins), dtype=bool)
    keep[1:] = (mins[1:] != mins[:-1]) | (mdoc[1:] != mdoc[:-1])
    return mins[keep].view(np.int64), np.bincount(mdoc[keep], minlength=ndocs)


def _batch_signatures_arrow(arr, cfg: DedupConfig,
                            fields: tuple[str, ...] = _ALL_FIELDS):
    """Arrow-native signature batch: pyarrow string Array in, pyarrow
    StructArray out. Zero-copy on BOTH sides — the tokenizer reads the
    Arrow UTF-8 buffer directly (no Python str materialization, no
    re-encode) and minhash/fingerprints are emitted as ListArrays built
    from the flat numpy outputs (no per-row list building, no pandas
    assembly).

    ``fields`` limits the emitted signature columns AND the arithmetic:
    without "minhash" the 128-permutation loop is skipped, without
    "simhash" the bit transpose is skipped, without "fingerprints" the
    winnow is skipped. Emitted values are bit-identical across variants
    (same tokenizer output feeds the same math)."""
    import pyarrow as pa

    ndocs = len(arr)
    want_fp = "fingerprints" in fields
    flat, offsets, counts, n_tokens, *pos = batch_shingle_segments_arrow(
        arr, cfg.shingle_k, positional=want_fp
    )
    want_mh, want_sh = "minhash" in fields, "simhash" in fields
    sig = simhashes = None
    if ndocs == 0:
        sig = np.empty((0, cfg.num_perm), dtype=np.int32)
        simhashes = np.empty(0, dtype=np.int64)
    elif want_mh or want_sh:
        a, b = _perm_params(cfg)
        flat31 = flat % _P31 if want_mh else None
        sig, simhashes = _minhash_simhash(
            flat, flat31, offsets, counts, a, b, cfg.num_perm,
            want_minhash=want_mh, want_simhash=want_sh,
        )
    children = [
        pa.array(n_tokens.astype(np.int32)),
        pa.array(counts.astype(np.int32)),
    ]
    names = ["n_tokens", "n_shingles"]
    if want_mh:
        children.append(pa.ListArray.from_arrays(
            pa.array(np.arange(ndocs + 1, dtype=np.int32) * cfg.num_perm),
            pa.array(sig.ravel(), type=pa.int32()),
        ))
        names.append("minhash")
    if want_sh:
        children.append(pa.array(simhashes, type=pa.int64()))
        names.append("simhash")
    if want_fp:
        # w = the shingles of a containee of exactly min_containee_tokens
        # tokens: every containee holds a whole window, so all its
        # fingerprints are fingerprints of any doc it lies in
        w = cfg.min_containee_tokens - cfg.shingle_k + 1
        fp, fp_counts = _winnow(pos[0], n_tokens, cfg.shingle_k, w)
        children.append(pa.ListArray.from_arrays(
            pa.array(np.concatenate(([0], np.cumsum(fp_counts))).astype(np.int32)),
            pa.array(fp, type=pa.int64()),
        ))
        names.append("fingerprints")
    return pa.StructArray.from_arrays(children, names=names)


def add_signatures(
    df: DataFrame, cfg: DedupConfig, repartition: int | None = None,
    fields: tuple[str, ...] = _ALL_FIELDS,
) -> DataFrame:
    """Attach (n_tokens, n_shingles, minhash, simhash, fingerprints) — or,
    with ``fields=(...)`` (subset of minhash/simhash/fingerprints), just the
    named signature columns, with the kernel skipping the arithmetic behind
    the omitted ones: no "minhash" drops the 128-permutation loop, no
    "simhash" drops the bit transpose, no "fingerprints" drops the winnow.
    Emitted values are bit-identical across variants, so any field-pruned
    table is interchangeable with the full one for the fields it carries.

    Repartitions before the UDF by default: upstream can arrive arbitrarily
    unbalanced — AQE coalesces small projections, and a parquet scan of a
    few large row groups yields mostly-EMPTY splits (a single-row-group
    file puts every row in one partition while getNumPartitions() still
    reports the split count, so partition COUNT is not a balance signal —
    measured: the signature stage ran 6x slower on one fat cached
    partition). Pass ``repartition=0`` to skip the exchange ONLY when the
    caller guarantees balanced input (e.g. it just repartitioned and cached
    the projection itself — the pipeline and the bench kernel leg do); any
    other int forces that exact fan-out.
    """
    if repartition is None:
        repartition = df.sparkSession.sparkContext.defaultParallelism * 2
    if repartition:
        df = df.repartition(repartition)

    from pyspark.sql.functions import arrow_udf

    unknown = set(fields) - set(_ALL_FIELDS)
    if unknown:
        raise ValueError(f"unknown signature fields: {sorted(unknown)}")
    fields = tuple(f for f in _ALL_FIELDS if f in fields)

    @arrow_udf(_sig_struct(fields))
    def _sig(texts):
        return _batch_signatures_arrow(texts, cfg, fields)

    return (
        df.withColumn("_sig", _sig(F.col("content")))
        .select("*", "_sig.*")
        .drop("_sig")
    )
