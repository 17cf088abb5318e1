"""Fully-vectorized batch tokenizer + shingle hasher.

The hot path of the whole engine: turns a batch of documents into per-doc
sorted-unique 64-bit shingle hash segments using ONLY whole-batch numpy
passes — no Python string objects, no per-row Python. This is what makes the
signature stage scale with cores instead of allocator/memory-bandwidth
contention (SURVEY.md §4 item 3, BASELINE.json 'no per-row Python').

Tokenization (byte-level, UTF-8):
  * word tokens = maximal runs of [A-Za-z0-9_] plus any byte >= 0x80
  * every other non-whitespace byte is a single-char token
  (the numpy twin of the reference-era regex ``\\w+|[^\\w\\s]``)

Token hash = splitmix64 mix of (first 8 bytes, last 8 bytes, length) — exact
for tokens up to 16 bytes, and a stable fingerprint beyond (identifiers
longer than 16 chars sharing both ends are vanishingly rare, and a rare
token-hash collision only merges two shingles).

Shingle hash = degree-(k-1) polynomial over k consecutive token hashes
(wraparound uint64), windows never crossing document boundaries.
"""

from __future__ import annotations

import numpy as np

_WORD = np.zeros(256, dtype=bool)
for _c in range(256):
    _WORD[_c] = (
        (48 <= _c <= 57) or (65 <= _c <= 90) or (97 <= _c <= 122)
        or _c == 95 or _c >= 0x80
    )
_SPACE = np.zeros(256, dtype=bool)
for _c in b" \t\n\r\x0b\x0c":
    _SPACE[_c] = True
_PUNCT = ~_WORD & ~_SPACE

_C1 = np.uint64(0x9E3779B97F4A7C15)
_C2 = np.uint64(0xC2B2AE3D27D4EB4F)
_M1 = np.uint64(0xBF58476D1CE4E5B9)
_M2 = np.uint64(0x94D049BB133111EB)
_POLY = np.uint64(0x100000001B3)  # FNV-ish odd multiplier


def _splitmix(z: np.ndarray) -> np.ndarray:
    with np.errstate(over="ignore"):
        z = z + _C1
        z = (z ^ (z >> np.uint64(30))) * _M1
        z = (z ^ (z >> np.uint64(27))) * _M2
        return z ^ (z >> np.uint64(31))


_SEP = np.frombuffer(b" ", dtype=np.uint8)


def _token_hashes_from_buffer(
    data: np.ndarray, off: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """-> (token_hashes uint64 flat, doc index int64 per token) for one
    Arrow string buffer: ``data`` is the raw UTF-8 byte buffer, ``off`` the
    (ndocs+1) absolute value offsets into it. Builds the space-joined batch
    with ndocs C-level slice copies — NO Python str objects, no re-encode
    (a str round trip costs ~2 allocations + a decode + an encode per
    document)."""
    ndocs = len(off) - 1
    parts = []
    for i in range(ndocs):
        parts.append(data[off[i]:off[i + 1]])
        parts.append(_SEP)
    joined = np.concatenate(parts) if parts else _SEP.copy()
    doc_starts = (
        off.astype(np.int64) - int(off[0])
        + np.arange(ndocs + 1, dtype=np.int64)
    )[:-1]
    return _token_hashes_joined(joined, doc_starts)


def _token_hashes_joined(
    arr: np.ndarray, doc_starts: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Core tokenizer: ``arr`` = space-joined batch bytes (one trailing
    separator after every doc), ``doc_starts`` = start position per doc."""
    wm = _WORD[arr]
    prev = np.empty_like(wm); prev[0] = False; prev[1:] = wm[:-1]
    nxt = np.empty_like(wm); nxt[-1] = False; nxt[:-1] = wm[1:]
    starts_w = np.nonzero(wm & ~prev)[0]
    ends_w = np.nonzero(wm & ~nxt)[0] + 1
    starts_p = np.nonzero(_PUNCT[arr])[0]

    starts = np.concatenate([starts_w, starts_p])
    ends = np.concatenate([ends_w, starts_p + 1])
    order = np.argsort(starts, kind="stable")
    starts, ends = starts[order], ends[order]
    lens = (ends - starts).astype(np.uint64)

    pad = np.concatenate([arr, np.zeros(8, dtype=np.uint8)])
    idx8 = np.arange(8, dtype=np.int64)
    lens8 = np.minimum(ends - starts, 8)

    f = pad[starts[:, None] + idx8]
    f = np.where(idx8[None, :] < lens8[:, None], f, 0)
    first8 = np.ascontiguousarray(f).view(np.uint64).ravel()

    lstart = np.maximum(ends - 8, starts)
    l = pad[lstart[:, None] + idx8]
    l = np.where(idx8[None, :] < lens8[:, None], l, 0)
    last8 = np.ascontiguousarray(l).view(np.uint64).ravel()

    th = _splitmix(first8 ^ (last8 * _C2) ^ (lens * _POLY))
    doc_of = (np.searchsorted(doc_starts, starts, side="right") - 1).astype(np.int64)
    return th, doc_of


# Docs per tokenizer sub-batch. Whole-batch passes over a 10k-doc Arrow
# batch stream ~3M tokens: the first8/last8 gather index matrices alone are
# (n_tokens, 8) int64 (~190 MB), every mask/shingle pass moves 24 MB, and
# the final lexsort is DRAM-random — the stage becomes memory-bandwidth-
# bound and cores contend on the bus (same failure mode the minhash loop
# had, signatures._CHUNK_SHINGLES). At 128 docs (~40K tokens) every temp is
# a few hundred KB and the whole tokenize->shingle->sort path runs
# L2/L3-resident. Output is bit-identical: no token or shingle window ever
# crosses a document boundary, so per-chunk results concatenate exactly.
_CHUNK_DOCS = 128


def batch_shingle_segments_arrow(
    arr, k: int, positional: bool = False
) -> tuple[np.ndarray, ...]:
    """pyarrow string Array -> (shingles uint64 flat sorted-unique per doc,
    offsets int64 per doc, counts int64 per doc, n_tokens int64 per doc).

    Reads the Arrow offsets and raw UTF-8 data buffer zero-copy, never
    materializing Python str objects; a null entry tokenizes as "". Each
    doc's segment shingles[offsets[i]:offsets[i]+counts[i]] is sorted
    ascending (unsigned). Docs with fewer than k tokens get one fallback
    shingle (polynomial over all their tokens; empty doc -> splitmix(0)),
    so exact duplicates always co-bucket. Large batches are processed in
    cache-resident sub-batches of _CHUNK_DOCS docs (see note above).

    ``positional=True`` appends a fifth array: every doc's k-token shingles
    in text order, before the per-doc sort and dedupe, docs back to back.
    Doc i contributes max(n_tokens[i] - k + 1, 0) of them (no fallback
    shingle), so the segments follow from n_tokens alone."""
    import pyarrow as pa

    ndocs = len(arr)
    if ndocs == 0:
        e64, ei = np.empty(0, np.uint64), np.empty(0, np.int64)
        return (e64, ei, ei.copy(), ei.copy()) + ((e64.copy(),) if positional else ())
    if arr.null_count:
        import pyarrow.compute as pc

        arr = pc.fill_null(arr, "")
    odt = np.int64 if pa.types.is_large_string(arr.type) else np.int32
    bufs = arr.buffers()
    off = np.frombuffer(bufs[1], odt)[arr.offset: arr.offset + ndocs + 1]
    data = (
        np.frombuffer(bufs[2], np.uint8)
        if bufs[2] is not None else np.empty(0, np.uint8)
    )
    parts = []
    for c0 in range(0, ndocs, _CHUNK_DOCS):
        c1 = min(c0 + _CHUNK_DOCS, ndocs)
        th, doc_of = _token_hashes_from_buffer(data, off[c0:c1 + 1])
        parts.append(_shingle_segments_from_tokens(th, doc_of, c1 - c0, k))
    sh = np.concatenate([p[0] for p in parts])
    counts = np.concatenate([p[2] for p in parts])
    n_tokens = np.concatenate([p[3] for p in parts])
    offsets = np.concatenate(([0], np.cumsum(counts)[:-1]))
    if positional:
        return sh, offsets, counts, n_tokens, np.concatenate([p[4] for p in parts])
    return sh, offsets, counts, n_tokens


def _shingle_segments_from_tokens(
    th: np.ndarray, doc_of: np.ndarray, ndocs: int, k: int
) -> tuple[np.ndarray, ...]:
    """Per-doc sorted-unique shingles of one sub-batch, plus its positional
    shingles as the fifth element. ``doc_of`` is non-decreasing (tokens come
    in text order), so each doc's tokens and windows are contiguous."""
    n_tokens = np.bincount(doc_of, minlength=ndocs).astype(np.int64)

    T = len(th)
    if T >= k:
        nwin = T - k + 1
        h = np.zeros(nwin, dtype=np.uint64)
        for j in range(k):
            h = h * _POLY + th[j:j + nwin]
        valid = doc_of[:nwin] == doc_of[k - 1:]
        sh = h[valid]
        sh_doc = doc_of[:nwin][valid]
    else:
        sh = np.empty(0, dtype=np.uint64)
        sh_doc = np.empty(0, dtype=np.int64)

    positional = sh

    # fallback for short docs: one polynomial shingle over all their tokens.
    # The Horner form sum(x_j * _POLY^(n-1-j)) is a weighted sum, and a
    # short doc has at most k-1 tokens, so a k-entry power table covers it.
    short = np.nonzero(n_tokens < k)[0]
    if len(short) > 0:
        with np.errstate(over="ignore"):
            powers = np.cumprod(np.concatenate(
                ([np.uint64(1)], np.full(k - 1, _POLY, dtype=np.uint64))
            ))
            tok = np.nonzero(n_tokens[doc_of] < k)[0]
            d = doc_of[tok]
            tok_start = np.concatenate(([0], np.cumsum(n_tokens)[:-1]))
            expo = n_tokens[d] - 1 - (tok - tok_start[d])
            extra = np.zeros(len(short), dtype=np.uint64)
            np.add.at(extra, np.searchsorted(short, d), th[tok] * powers[expo])
        sh = np.concatenate([sh, _splitmix(extra)])
        sh_doc = np.concatenate([sh_doc, short.astype(np.int64)])

    # segmented sort + dedupe: order by (doc, shingle)
    order = np.lexsort((sh, sh_doc))
    sh, sh_doc = sh[order], sh_doc[order]
    if len(sh) > 0:
        keep = np.empty(len(sh), dtype=bool)
        keep[0] = True
        keep[1:] = (sh[1:] != sh[:-1]) | (sh_doc[1:] != sh_doc[:-1])
        sh, sh_doc = sh[keep], sh_doc[keep]

    counts = np.bincount(sh_doc, minlength=ndocs).astype(np.int64)
    offsets = np.concatenate(([0], np.cumsum(counts)[:-1]))
    return sh, offsets, counts, n_tokens, positional
