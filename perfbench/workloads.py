"""Seeded inputs for the benchmark workloads, cached on disk.

Each generator is a pure function of (seed, size). Inputs are written once
per (workload, seed, size) under the work directory's cache and reused by
later runs, so data generation never enters a timed region.

* ``code_mixed`` — ``datagen.gen_code_corpus(avg_tokens=300)``: the planted
  20-row block mix (exact, near, SimHash-near, contained, license
  mega-bucket of n/20 rows, 5% passthrough).
* ``dnsbl_prune`` — pfBlockerNG feeds of uneven size with planted fates
  (kept, duplicate, replaced, weaker, subsumed, killed, ignored, regex).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pandas as pd

CODE_COLS = ["repo", "path", "commit", "lang", "content"]


def _rng(seed: int, salt: str) -> np.random.Generator:
    h = hashlib.sha256(f"{seed}:{salt}".encode()).digest()
    return np.random.default_rng(int.from_bytes(h[:8], "big"))


# ---------------------------------------------------------------------------
# code workloads
# ---------------------------------------------------------------------------

@dataclass
class CodeInput:
    files: pd.DataFrame   # repo, path, commit, lang, content
    truth: np.ndarray     # planted cluster id per row (row index = position)
    pairs: np.ndarray     # (k, 2) row indices planted to share a cluster


def gen_code_mixed(n_rows: int, seed: int) -> CodeInput:
    from dedup_domains_spark import datagen

    c = datagen.gen_code_corpus(n_rows, seed=seed, avg_tokens=300)
    truth = c.expected["expected_cluster_id"].to_numpy(dtype=np.int64)
    pairs = c.pairs[["id_a", "id_b"]].to_numpy(dtype=np.int64)
    return CodeInput(files=c.files[CODE_COLS], truth=truth, pairs=pairs)


# ---------------------------------------------------------------------------
# dnsbl_prune
# ---------------------------------------------------------------------------

N_FEEDS = 10
# uneven feed sizes (shares of the total line count)
FEED_SHARES = np.array([30, 18, 12, 10, 8, 7, 6, 4, 3, 2], dtype=np.float64)
N_PATTERNS = 40      # strength-2 regex rows; patterns 0..19 kill survivors
N_KILLERS = 20
N_MALFORMED = 12

# per-line kind probabilities (the rest is "keep"); with these shares about
# a third of the lines are dropped, close to the reference corpus's 32%
_KINDS = ("full", "child", "dup", "upgrade", "downgrade", "killable")
_PROBS = (0.03, 0.15, 0.10, 0.04, 0.03, 0.005)
_TLDS = ("com", "net", "org", "io", "ru")


def _row(domain: str, strength, listname: str) -> str:
    # pfBlockerNG line shape (datagen.make_dnsbl_row)
    return f",{domain},,0,{listname},DNSBL_Compilation,{strength}"


def gen_dnsbl_prune(n_lines: int, seed: int):
    """Return (feeds, fates): ``feeds`` is a list of (name, [line, ...]) in
    CLI order and ``fates`` the planted fate of every line, same shape.

    Namespaces are disjoint by construction, so each fate follows from the
    generator's own bookkeeping:
      keep      u<i>.n<k>.<tld>, WEAK, never under a FULL key → kept
      full      f<j>.<tld>, FULL → kept
      child     c<i>.f<j>.<tld> (WEAK or FULL), parent f<j> is FULL
                somewhere in the input, before or after it → subsumed
      dup       an earlier live WEAK keep domain again → duplicate
      upgrade   an earlier live WEAK keep domain as FULL → this line kept,
                the earlier line replaced
      downgrade a live FULL domain as WEAK → weaker
      killable  adk<q>x<m>.n<k>.<tld>, WEAK → killed by regex ^adk<q>x…
      regex     strength-2 pattern rows → carried over
      malformed bad column count or strength → ignored
    """
    rng = _rng(seed, "dnsbl_prune")
    sizes = np.floor(FEED_SHARES / FEED_SHARES.sum() * n_lines).astype(int)
    sizes[0] += n_lines - sizes.sum()
    total = int(sizes.sum())

    kinds = rng.choice(len(_KINDS) + 1, size=total,
                       p=list(_PROBS) + [1.0 - sum(_PROBS)])
    n_full = int((kinds == 0).sum())
    # slots for the regex and malformed rows, spread over the whole input
    special = rng.choice(total, size=N_PATTERNS + N_MALFORMED, replace=False)
    regex_at = {int(p): q for q, p in enumerate(special[:N_PATTERNS])}
    malformed_at = set(int(p) for p in special[N_PATTERNS:])

    tld = rng.integers(0, len(_TLDS), size=total)
    site = rng.integers(0, 5000, size=total)
    parent = rng.integers(0, max(n_full, 1), size=total)
    pick = rng.random(size=total)
    child_full = rng.random(size=total) < 0.1

    lines: list[str] = []
    fates: list[str] = []
    live_weak: list[tuple[str, int]] = []   # (domain, line index)
    live_full: list[str] = []
    next_full = 0
    feed_of = np.repeat(np.arange(N_FEEDS), sizes)

    for i in range(total):
        lst = f"feed_{feed_of[i]}"
        t = _TLDS[tld[i]]
        kind = int(kinds[i])
        if i in regex_at:
            q = regex_at[i]
            lines.append(_row(rf"^adk{q}x[0-9]+\.", 2, lst))
            fates.append("regex")
            continue
        if i in malformed_at:
            bad = (f",bad{i}.n0.{t},,0,{lst}", _row(f"bad{i}.n0.{t}", 7, lst),
                   _row(f"bad{i}.n0.{t}", "x", lst))[i % 3]
            lines.append(bad)
            fates.append("ignored")
            continue
        if kind == 0 and next_full < n_full:          # full parent
            dom = f"f{next_full}.{_TLDS[next_full % len(_TLDS)]}"
            next_full += 1
            lines.append(_row(dom, 1, lst))
            fates.append("kept")
            live_full.append(dom)
            continue
        if kind == 1 and n_full:                      # child of a FULL key
            dom = f"c{i}.f{parent[i]}.{_TLDS[parent[i] % len(_TLDS)]}"
            lines.append(_row(dom, 1 if child_full[i] else 0, lst))
            fates.append("subsumed")
            continue
        if kind == 2 and live_weak:                   # duplicate
            dom, _ = live_weak[int(pick[i] * len(live_weak))]
            lines.append(_row(dom, 0, lst))
            fates.append("duplicate")
            continue
        if kind == 3 and live_weak:                   # weak → strong
            k = int(pick[i] * len(live_weak))
            dom, first = live_weak[k]
            live_weak[k] = live_weak[-1]
            live_weak.pop()
            fates[first] = "replaced"
            lines.append(_row(dom, 1, lst))
            fates.append("kept")
            live_full.append(dom)
            continue
        if kind == 4 and live_full:                   # strong → weak
            dom = live_full[int(pick[i] * len(live_full))]
            lines.append(_row(dom, 0, lst))
            fates.append("weaker")
            continue
        if kind == 5:                                 # regex-kill target
            q = i % N_KILLERS
            lines.append(_row(f"adk{q}x{i}.n{site[i]}.{t}", 0, lst))
            fates.append("killed")
            continue
        dom = f"u{i}.n{site[i]}.{t}"                  # plain survivor
        lines.append(_row(dom, 0, lst))
        fates.append("kept")
        live_weak.append((dom, i))

    # children point at parents f0..f<n_full-1>; emit any not yet emitted
    # at the end of the last feed so every child really is subsumed
    for j in range(next_full, n_full):
        lines.append(_row(f"f{j}.{_TLDS[j % len(_TLDS)]}", 1, f"feed_{N_FEEDS - 1}"))
        fates.append("kept")
    feed_of = np.concatenate([feed_of, np.full(n_full - next_full, N_FEEDS - 1)])

    feeds, feed_fates = [], []
    bounds = np.searchsorted(feed_of, np.arange(N_FEEDS + 1))
    for f in range(N_FEEDS):
        lo, hi = int(bounds[f]), int(bounds[f + 1])
        feeds.append((f"feed_{f}", lines[lo:hi]))
        feed_fates.append(fates[lo:hi])
    return feeds, feed_fates


# ---------------------------------------------------------------------------
# on-disk cache
# ---------------------------------------------------------------------------

def cached_input(cache_dir: str, workload: str, seed: int, size: int) -> dict:
    """Generate (once) and return the input description for a workload:
    {"kind": "code", "parquet": path, "truth": path} or
    {"kind": "dnsbl", "feeds": [path, ...], "fates": path}."""
    d = os.path.join(cache_dir, f"{workload}-s{seed}-n{size}")
    meta_path = os.path.join(d, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return json.load(f)
    tmp = d + f".tmp{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    if workload == "dnsbl_prune":
        feeds, fates = gen_dnsbl_prune(size, seed)
        paths = []
        for name, lines in feeds:
            with open(os.path.join(tmp, name + ".fat"), "w") as f:
                f.write("".join(ln + "\n" for ln in lines))
            paths.append(os.path.join(d, name + ".fat"))
        with open(os.path.join(tmp, "fates.json"), "w") as f:
            json.dump(fates, f)
        meta = {"kind": "dnsbl", "feeds": paths,
                "fates": os.path.join(d, "fates.json")}
    else:
        ci = gen_code_mixed(size, seed)
        ci.files.to_parquet(os.path.join(tmp, "input.parquet"), index=False)
        np.savez(os.path.join(tmp, "truth.npz"), truth=ci.truth, pairs=ci.pairs)
        meta = {"kind": "code", "parquet": os.path.join(d, "input.parquet"),
                "truth": os.path.join(d, "truth.npz")}
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(d, ignore_errors=True)   # a partial entry from a killed run
    os.replace(tmp, d)
    return meta
