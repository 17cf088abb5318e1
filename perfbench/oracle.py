"""Correctness checks the benchmark applies to every pass.

``dnsbl_oracle`` is an independent sequential model of the reference's
domain-mode semantics (PAPER.md; SURVEY.md §2.1), written here from the
rules rather than from the engine's Spark formulation:

  framing   trailing \\r stripped, lines cut at 2048 bytes, blank lines skipped
  validity  6 or 7 columns; a 7th column must be an integer in 0..2 (a
            6-column row is WEAK); no label over 255 bytes → else ignored
  F2        strength-2 rows are regexes, carried over verbatim
  D1        same domain, same strength: the first inserted row wins
  D3        a stronger row replaces a weaker one at the same domain, and a
            FULL (1) row wipes every row below it in the domain tree
  D2        a row below a live FULL domain is dropped on insertion
  D4        with --prune-regex, a surviving non-regex row whose domain
            matches any regex (re.search) is dropped
  O1        each file's survivors in line order, regex rows inline (C order)

Rows are inserted one by one in CLI file order, then line order, exactly as
the reference's single pass walks its trie.
"""

from __future__ import annotations

import re

import numpy as np

MAX_LINE_BYTES = 2048
_INT = re.compile(r"-?[0-9]+")


def _parse(line: str):
    """(domain, strength) of a valid row, or None for an ignored one."""
    cols = line.split(",")
    if len(cols) not in (6, 7):
        return None
    strength = 0
    if len(cols) == 7:
        s = cols[6].strip()
        if not _INT.fullmatch(s) or not 0 <= int(s) <= 2:
            return None
        strength = int(s)
    domain = cols[1]
    if domain and any(len(lbl.encode()) > 255 for lbl in domain.split(".")):
        return None
    return domain, strength


def _frame(raw: bytes) -> list[str]:
    out = []
    for ln in raw.decode().split("\n"):
        if ln.endswith("\r"):
            ln = ln[:-1]
        b = ln.encode()
        if len(b) > MAX_LINE_BYTES:
            ln = b[:MAX_LINE_BYTES].decode(errors="ignore")
        out.append(ln)
    if out and out[-1] == "":
        out.pop()   # the final newline ends a line, it does not start one
    return out


def dnsbl_oracle(feeds: list[bytes], prune_regex: bool = True):
    """feeds: raw bytes of each input file in CLI order.

    Returns (outputs, fates): the expected bytes of each output file, and
    for each file a list of (line, fate) with fate one of kept, regex,
    ignored, duplicate, weaker, replaced, subsumed, killed."""
    files = [_frame(raw) for raw in feeds]
    fate: list[list[str | None]] = [[None] * len(lines) for lines in files]
    alive: dict[str, tuple[int, int, int]] = {}  # domain -> (strength, file, line)
    full: set[str] = set()
    patterns: list[str] = []
    for fi, lines in enumerate(files):
        for li, ln in enumerate(lines):
            if ln == "":
                fate[fi][li] = "blank"
                continue
            parsed = _parse(ln)
            if parsed is None:
                fate[fi][li] = "ignored"
                continue
            domain, strength = parsed
            if strength == 2:
                fate[fi][li] = "regex"
                patterns.append(domain)
                continue
            labels = domain.split(".")
            if any(".".join(labels[k:]) in full for k in range(1, len(labels))):
                fate[fi][li] = "subsumed"     # D2 on insertion
                continue
            old = alive.get(domain)
            if old is not None and strength <= old[0]:
                fate[fi][li] = "duplicate" if strength == old[0] else "weaker"
                continue
            if old is not None:
                fate[old[1]][old[2]] = "replaced"
            alive[domain] = (strength, fi, li)
            fate[fi][li] = "kept"
            if strength == 1:
                full.add(domain)
    # D3 wipe: a FULL key inserted after a row below it removes that row; a
    # FULL key, once live, is never removed except by a FULL ancestor, so
    # checking live rows against the final FULL set gives the same state
    for domain, (_, fi, li) in alive.items():
        labels = domain.split(".")
        if any(".".join(labels[k:]) in full for k in range(1, len(labels))):
            fate[fi][li] = "subsumed"
    if prune_regex and patterns:
        # one alternation: it matches somewhere iff some pattern does
        any_pattern = re.compile("|".join(f"(?:{p})" for p in patterns if p))
        for domain, (_, fi, li) in alive.items():
            if fate[fi][li] == "kept" and domain and any_pattern.search(domain):
                fate[fi][li] = "killed"
    outputs = [
        "".join(ln + "\n" for ln, f in zip(lines, fs) if f in ("kept", "regex")).encode()
        for lines, fs in zip(files, fate)
    ]
    fates = [[(ln, f) for ln, f in zip(lines, fs) if f != "blank"]
             for lines, fs in zip(files, fate)]
    return outputs, fates


def code_scores(uid_of_row: np.ndarray, truth: np.ndarray, pairs: np.ndarray,
                cluster_map, survivor_uids) -> dict:
    """Planted-pair recall and drop precision of one code pass.

    cluster_map: pandas frame (uid, cluster_id, rep_uid) as written by the
    sink. A planted pair is recalled when both rows end in one cluster. A
    row is dropped when it is not a survivor; a drop is correct when its
    representative carries the same planted cluster."""
    cluster = dict(zip(cluster_map["uid"], cluster_map["cluster_id"]))
    rep = dict(zip(cluster_map["uid"], cluster_map["rep_uid"]))
    row_of_uid = {int(u): i for i, u in enumerate(uid_of_row)}
    hit = [
        cluster.get(uid_of_row[a]) is not None
        and cluster.get(uid_of_row[a]) == cluster.get(uid_of_row[b])
        for a, b in pairs
    ]
    survivors = set(int(u) for u in survivor_uids)
    dropped = [int(u) for u in uid_of_row if int(u) not in survivors]
    correct = sum(
        1 for u in dropped
        if u in rep and truth[row_of_uid[u]] == truth[row_of_uid[int(rep[u])]]
    )
    return {
        "dup_recall": float(np.mean(hit)) if hit else 1.0,
        "drop_precision": correct / len(dropped) if dropped else 1.0,
        "dropped": len(dropped),
    }
