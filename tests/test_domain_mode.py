"""Reference-parity tests for domain mode.

Layer 1: the 15 DomainTree scenario semantics (reference
src/domaintree.c:416-1000) as table-driven cases.
Layer 2: byte-exact replay of the reference's three end-to-end golden runs
(reference src/tests/test.c:40-165): committed ``.fulle2e`` goldens pin the
exact surviving lines and their order. Run order there means:
  run A (Input_1,2,3)   -> goldens for Input_2, Input_3
  run B (Input_1,Empty) -> golden for Input_1
  run C (Regex_1..3, Empty, Regex_4, Regex_5) -> goldens for Regex_*, Empty
"""

from __future__ import annotations

import os

import pytest

from dedup_domains_spark.datagen import make_dnsbl_row
from dedup_domains_spark.operators.domain_mode import dedup_dnsbl, write_survivor_files
from dedup_domains_spark.sources.dnsbl import dnsbl_df_from_pandas, load_dnsbl_files

import pandas as pd

REF = "/root/reference/tests/unit_pfb_prune"
needs_reference = pytest.mark.skipif(
    not os.path.isdir(REF),
    reason="the reference tree (its E2E inputs and goldens) is not present",
)


def _df_from_cases(spark, rows):
    """rows: list of (file, linenumber, domain, strength)."""
    pdf = pd.DataFrame(
        [
            (f, int(f.split("_")[-1]), ln, d, "list", "grp", s, make_dnsbl_row(d, s))
            for (f, ln, d, s) in rows
        ],
        columns=["source_file", "file_order", "linenumber", "domain",
                 "listname", "groupname", "match_strength", "raw_line"],
    )
    return dnsbl_df_from_pandas(spark, pdf)


def _surviving_keys(spark, rows):
    df = _df_from_cases(spark, rows)
    res = dedup_dnsbl(df)
    out = res.survivors.select("source_file", "linenumber").collect()
    return {(r.source_file, r.linenumber) for r in out}


# ---- Layer 1: DomainTree scenario semantics -------------------------------

def test_exact_dup_first_wins(spark):
    # domaintree.c:482-507 — same key, equal strength: first inserted kept
    keep = _surviving_keys(spark, [("f_0", 1, "a.com", 0), ("f_0", 2, "a.com", 0)])
    assert keep == {("f_0", 1)}


def test_full_subsumes_later_descendant(spark):
    # domaintree.c:509-561 — x.com FULL first, then a.b.x.com dropped
    keep = _surviving_keys(spark, [("f_0", 1, "x.com", 1), ("f_0", 2, "a.b.x.com", 0)])
    assert keep == {("f_0", 1)}


def test_full_retroactively_wipes_subtree(spark):
    # domaintree.c:693-729, :272-275 — descendants first, FULL parent later
    keep = _surviving_keys(
        spark,
        [("f_0", 1, "c.d.y.com", 0), ("f_0", 2, "e.y.com", 1), ("f_0", 3, "y.com", 1)],
    )
    assert keep == {("f_0", 3)}


def test_weak_parent_and_child_coexist(spark):
    # domaintree.c:563-615 — WEAK does not subsume
    keep = _surviving_keys(spark, [("f_0", 1, "p.com", 0), ("f_0", 2, "c.p.com", 0)])
    assert keep == {("f_0", 1), ("f_0", 2)}


def test_weak_chain_any_order_all_kept(spark):
    # domaintree.c:617-691
    rows = [("f_0", 1, "w2.w1.chain.com", 0), ("f_0", 2, "chain.com", 0),
            ("f_0", 3, "w1.chain.com", 0)]
    assert len(_surviving_keys(spark, rows)) == 3


def test_weak_to_strong_upgrade(spark):
    # domaintree.c:769-793,894-913 — stronger replaces weaker at same key
    keep = _surviving_keys(spark, [("f_0", 1, "u.com", 0), ("f_0", 2, "u.com", 1)])
    assert keep == {("f_0", 2)}


def test_strong_blocks_weak(spark):
    # domaintree.c:822-846
    keep = _surviving_keys(spark, [("f_0", 1, "v.com", 1), ("f_0", 2, "v.com", 0)])
    assert keep == {("f_0", 1)}


def test_order_independence_across_files(spark):
    # domaintree.c:848-972 — same final key set either insertion order
    a = _surviving_keys(spark, [("f_0", 1, "x.com", 1), ("f_1", 1, "a.b.x.com", 0)])
    b = _surviving_keys(spark, [("f_0", 1, "a.b.x.com", 0), ("f_1", 1, "x.com", 1)])
    assert a == {("f_0", 1)}
    assert b == {("f_1", 1)}


def test_regex_rows_always_kept(spark):
    keep = _surviving_keys(
        spark,
        [("f_0", 1, r"^ad.*", 2), ("f_0", 2, "x.com", 1), ("f_0", 3, "b.x.com", 0)],
    )
    assert keep == {("f_0", 1), ("f_0", 2)}


def test_full_descendant_of_full_dropped(spark):
    keep = _surviving_keys(spark, [("f_0", 1, "x.com", 1), ("f_0", 2, "b.x.com", 1)])
    assert keep == {("f_0", 1)}


# ---- Layer 2: golden end-to-end replays ------------------------------------

def _replay(spark, inputs: list[str]) -> dict[str, list[str]]:
    paths = [os.path.join(REF, f) for f in inputs]
    df = load_dnsbl_files(spark, paths)
    return write_survivor_files(dedup_dnsbl(df), out_dir="")


def _golden(name: str) -> list[str]:
    with open(os.path.join(REF, name), "rb") as f:
        return [l.decode() for l in f.read().split(b"\n") if l != b""]


@pytest.mark.parametrize(
    "run_inputs,check",
    [
        (["E2ETestInput_1.txt", "E2ETestInput_2.txt", "E2ETestInput_3.txt"],
         {"E2ETestInput_2.txt": "E2ETestInput_2.fulle2e",
          "E2ETestInput_3.txt": "E2ETestInput_3.fulle2e"}),
        (["E2ETestInput_1.txt", "E2ETest_Empty.txt"],
         {"E2ETestInput_1.txt": "E2ETestInput_1.fulle2e",
          "E2ETest_Empty.txt": "E2ETest_Empty.fulle2e"}),
        (["E2ETestRegexInput_1.txt", "E2ETestRegexInput_2.txt",
          "E2ETestRegexInput_3.txt", "E2ETest_Empty.txt",
          "E2ETestRegexInput_4.txt", "E2ETestRegexInput_5.txt"],
         {f"E2ETestRegexInput_{i}.txt": f"E2ETestRegexInput_{i}.fulle2e"
          for i in range(1, 6)}),
    ],
    ids=["e2e_basic", "e2e_with_empty", "e2e_regex_carryover"],
)
@needs_reference
def test_golden_e2e(spark, run_inputs, check):
    out = _replay(spark, run_inputs)
    for inp, gold in check.items():
        got = out.get(os.path.join(REF, inp), [])
        want = _golden(gold)
        assert got == want, f"{inp}: {got} != {want}"


def test_multi_split_file_keeps_line_order(spark, tmp_path):
    """A feed bigger than maxPartitionBytes is still read whole by one
    task, never split: its line numbers are positions in the whole file,
    in file order, whatever the split size is set to."""
    import pandas as pd

    path = str(tmp_path / "big.fat")
    n = 40_000
    with open(path, "w") as f:
        for i in range(n):
            f.write(f",host{i}.example.com,,0,list_a,G,0\n")
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(128 * 1024))
        df = load_dnsbl_files(spark, [path])
        got = (
            df.select("linenumber", "domain").orderBy("linenumber").toPandas()
        )
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    assert list(got["linenumber"]) == list(range(1, n + 1))
    assert list(got["domain"]) == [f"host{i}.example.com" for i in range(n)]
