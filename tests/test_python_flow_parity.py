"""Full-corpus byte-exact parity with the reference Python tool's two write
methods (the run-tests.sh:14-59 flows, without --prune-regex):

  * --method pointer: regex rows first, then survivors by original row index
    (pfb_dnsbl_prune.py:310-327)
  * --method standard: regex rows first, then survivors in TREE-VISIT order
    (pfb_dnsbl_prune.py:300-308 — dict-insertion-ordered pre-order DFS),
    replicated distributedly by operators.domain_mode.standard_visit_keys.

Unlike the sorted-diff canonicalization used elsewhere, these compare the
output line SEQUENCE byte-for-byte per file. Fresh goldens are generated by
running the reference tool over the 10 present corpus files (committed
goldens depend on 3 inputs absent from the snapshot)."""

from __future__ import annotations

import glob
import os
import shutil
import subprocess
import sys

import pytest

from dedup_domains_spark.operators.domain_mode import (
    dedup_dnsbl, python_flow_survivors,
)
from dedup_domains_spark.sources.dnsbl import load_dnsbl_files

REF_INPUTS = "/root/reference/tests/001_inputs"
REF_TOOL = "/root/reference/pfb_dnsbl_prune.py"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(REF_INPUTS),
    reason="the reference tree (its corpus and pfb_dnsbl_prune.py) is "
           "not present",
)


def _fresh_goldens(tmp_path_factory, method: str):
    d = tmp_path_factory.mktemp(f"goldens_{method}")
    for f in glob.glob(os.path.join(REF_INPUTS, "*.fat")):
        shutil.copy(f, d)
    subprocess.run(
        [sys.executable, REF_TOOL, str(d), ".fat", ".pruned",
         "--method", method],
        check=True, capture_output=True, timeout=600,
    )
    return d


@pytest.fixture(scope="module", params=["pointer", "standard"])
def method_goldens(request, tmp_path_factory):
    return request.param, _fresh_goldens(tmp_path_factory, request.param)


def test_python_flow_byte_exact(spark, method_goldens):
    method, d = method_goldens
    paths = sorted(glob.glob(os.path.join(str(d), "*.fat")))
    df = load_dnsbl_files(spark, paths)
    res = dedup_dnsbl(df)
    ordered = python_flow_survivors(res, df, method=method)

    out: dict[str, list[str]] = {}
    for r in ordered.select("source_file", "raw_line").collect():
        out.setdefault(r.source_file, []).append(r.raw_line)

    total_gold = 0
    for p in paths:
        golden_path = p[:-len(".fat")] + ".pruned"
        with open(golden_path, "rb") as f:
            gold = [l.decode() for l in f.read().split(b"\n") if l]
        mine = out.get(p, [])
        total_gold += len(gold)
        assert mine == gold, (
            f"{method}/{os.path.basename(p)}: {len(mine)} vs {len(gold)}; "
            f"first divergence at "
            f"{next((i for i, (a, b) in enumerate(zip(mine, gold)) if a != b), 'len')}"
        )
    assert total_gold == 70600  # corpus-wide survivor count (BENCH.md)


def test_cli_distributed_sink_byte_exact(method_goldens, tmp_path):
    """The dnsbl CLI writes through the DISTRIBUTED text sink (repartition +
    sortWithinPartitions + partitionBy + driver rename — no collect,
    VERDICT r02 item 5) and must reproduce the reference tool's output files
    byte-for-byte for both Python-flow orders, over the full 10-file corpus
    (multi-split files exercise the block-offset line ordering)."""
    method, d = method_goldens
    out = tmp_path / f"cli_{method}"

    from dedup_domains_spark.__main__ import main

    rc = main([
        "dnsbl", "--dir", str(d), "--output", str(out), "--method", method,
    ])
    assert rc == 0
    for p in sorted(glob.glob(os.path.join(str(d), "*.fat"))):
        base = os.path.basename(p)[: -len(".fat")]
        with open(p[: -len(".fat")] + ".pruned", "rb") as f:
            gold = f.read()
        with open(out / (base + ".pruned"), "rb") as f:
            mine = f.read()
        assert mine == gold, f"{method}/{base}: distributed sink diverged"
