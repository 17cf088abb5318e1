"""Per-stage checkpointing — resumability (BASELINE.json: 'resumable from
per-stage checkpoints with per-partition lineage and metrics tables').

Each stage writes an idempotent parquet table keyed by (stage name, config
hash, input fingerprint). A rerun with the same config and input finds the table and reads it back
instead of recomputing — the reference has no analog (it reruns from
scratch); this is mandated new capability. In production the same layout is
an Iceberg table per stage; parquet is the sandbox stand-in.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


def input_fingerprint(df: DataFrame) -> str:
    """Fingerprint of a source DataFrame: its plan hash plus the path, size
    and modification time of every input file (read through the Hadoop
    FileSystem). The plan hash alone names the source, not its data, so an
    in-place overwrite at the same path would resume stale stage tables."""
    sc = df.sparkSession.sparkContext
    jvm, conf = sc._jvm, sc._jsc.hadoopConfiguration()
    h = hashlib.sha256(str(df.semanticHash()).encode())
    for f in sorted(df.inputFiles()):
        p = jvm.org.apache.hadoop.fs.Path(f)
        st = p.getFileSystem(conf).getFileStatus(p)
        h.update(f"\n{f}\0{st.getLen()}\0{st.getModificationTime()}".encode())
    return h.hexdigest()[:16]


@dataclass
class CheckpointContext:
    spark: SparkSession
    base_dir: str | None      # None -> checkpointing disabled
    config_hash: str
    # fingerprint of the INPUT (see input_fingerprint): a rerun over a
    # different corpus must not reuse stage tables computed for the old one
    # (ADVICE r01)
    input_fingerprint: str = ""

    def path(self, stage: str) -> str:
        key = f"{stage}_{self.config_hash}"
        if self.input_fingerprint:
            key += f"_{self.input_fingerprint}"
        return os.path.join(self.base_dir, key)

    def stage(self, df: DataFrame, stage: str) -> DataFrame:
        """Materialize df under the stage key (or reuse an existing run)."""
        if self.base_dir is None:
            return df
        p = self.path(stage)
        marker = os.path.join(p, "_SUCCESS")
        if not os.path.exists(marker):
            df.write.mode("overwrite").parquet(p)
        return self.spark.read.parquet(p)
