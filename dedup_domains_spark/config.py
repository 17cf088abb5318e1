"""Pipeline configuration.

The reference exposes buffer-tuning knobs (-i/-r, reference
src/inputargs.c:273-352); our analog knobs are the signature/LSH geometry and
the partitioning/skew parameters that govern shuffle behavior at scale.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass


@dataclass(frozen=True)
class DedupConfig:
    """Immutable config for the near-dup pipeline.

    The LSH geometry defaults (num_perm=128, bands=32, rows_per_band=4) put
    the S-curve threshold at (1/b)^(1/r) ~= 0.42 Jaccard (recall-first; the verify stage prunes), for the
    "1-5% token edits" near-duplicate class (FIXTURES.md §2).
    """

    # --- shingling / signatures ---
    shingle_k: int = 7                 # tokens per shingle
    num_perm: int = 128                # MinHash permutations
    bands: int = 32                    # LSH bands
    rows_per_band: int = 4             # num_perm == bands * rows_per_band
    simhash_hamming_max: int = 4       # max Hamming distance for SimHash candidates
    seed: int = 42

    # --- verification ---
    # With k=7 token shingles, an x% token-edit near dup has Jaccard
    # ~ (1-x)^7 / (2-(1-x)^7): 5% edits → J≈0.54. 0.5 covers the whole
    # "1-5% token edits" class (FIXTURES.md §2) with margin; MinHash noise at
    # J=0.5 is sqrt(0.25/128)≈0.044, so unrelated docs (J≈0) never pass.
    jaccard_threshold: float = 0.50    # candidate-pair acceptance (MinHash estimate)
    use_exact_jaccard: bool = False    # exact shingle-set Jaccard instead of estimate

    # --- containment (parent-domain subsumption analog, D2) ---
    containment_max_doc_freq: int = 1000   # keep postings whose DF is at most this
    # don't bother subsuming tiny docs; also sets the winnowing window,
    # min_containee_tokens - shingle_k + 1 shingles (functions/signatures)
    min_containee_tokens: int = 32

    # --- skew / partitioning ---
    max_bucket_size: int = 64          # LSH bucket cap before salting splits it

    # --- clustering ---
    cc_max_iterations: int = 20        # union-find fixpoint guard

    def __post_init__(self) -> None:
        if self.bands * self.rows_per_band != self.num_perm:
            raise ValueError(
                f"bands*rows_per_band ({self.bands}*{self.rows_per_band}) "
                f"must equal num_perm ({self.num_perm})"
            )
        if self.min_containee_tokens < self.shingle_k:
            raise ValueError(
                f"min_containee_tokens ({self.min_containee_tokens}) must be "
                f"at least shingle_k ({self.shingle_k}): a containee needs "
                f"one whole winnowing window"
            )

    def config_hash(self) -> str:
        """Stable hash of the config — keys per-stage checkpoint tables so a
        rerun with identical config resumes instead of recomputing
        (BASELINE.json: 'resumable from per-stage checkpoints')."""
        # _schema=2: minhash stage tables went array<long> -> array<int>
        # (round 5); bumping the hash keeps a resume from reading a stage
        # table written under the old element type.
        payload = json.dumps(
            {**asdict(self), "_schema": 2}, sort_keys=True
        ).encode()
        return hashlib.sha256(payload).hexdigest()[:16]


@dataclass(frozen=True)
class DomainModeConfig:
    """Config for reference-parity domain mode (pfBlockerNG CSV semantics).

    Mirrors the validity rules at reference src/domain.c:276-287 (label byte
    limits) and pfb_dnsbl_prune.py:208-217 (column count, strength domain).
    """

    max_label_bytes: int = 255         # hard per-label limit (row dropped above)
    warn_label_bytes: int = 63
    max_line_bytes: int = 2048
    prune_regex: bool = False          # opt-in regex-kill pass (D4)
    strengths_dedup: tuple = (0, 1)    # WEAK, FULL
    strength_regex: int = 2            # pass-through carry-over

