"""SimHash Hamming-bucket candidate generation — the second, complementary
candidate sweep (SURVEY.md §2.3; BASELINE.json north_star).

Pigeonhole blocking: split the 64-bit fingerprint into (hamming_max + 1)
blocks; any pair within Hamming distance d shares at least one block intact.
Bucket key = (block index, block value). The blocks join the LSH bands in
one bucket table (lsh.fused_candidate_pairs), whose salted-star machinery
bounds skew. No Hamming check follows: a pair that shares a block is
emitted without testing ``bit_count(a XOR b) <= d``, and the MinHash
estimate verify is the acceptance gate for every candidate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dedup_domains_spark.config import DedupConfig


def simhash_block_table(sig_df: DataFrame, cfg: DedupConfig, id_col: str = "uid") -> DataFrame:
    """(uid, block, block_val) — one row per pigeonhole block per doc."""
    nblocks = cfg.simhash_hamming_max + 1
    width = 64 // nblocks
    blocks = []
    for i in range(nblocks):
        lo = i * width
        w = width if i < nblocks - 1 else 64 - lo  # last block takes remainder
        mask = ((1 << w) - 1) if w < 64 else -1    # -1 = all 64 bits set
        blocks.append(
            F.struct(
                F.lit(i).alias("block"),
                F.shiftrightunsigned(F.col("simhash"), lo).bitwiseAND(F.lit(mask)).alias("block_val"),
            )
        )
    return (
        sig_df.select(id_col, F.explode(F.array(*blocks)).alias("_b"))
        .select(id_col, "_b.block", "_b.block_val")
    )

