"""Mirror of the driver's correctness gate: run every queries() entry on
Spark AND its oracle_sql() twin on DuckDB over /root/testdata/sf0.001, then
compare row count + column names + order-insensitive values.

sf0.001 keeps the suite fast; the driver runs the same comparison at sf0.01.
"""

from __future__ import annotations

import math

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"
# the test-data tables the catalog's oracles read
TABLES = ["documents", "events", "customer", "supplier"]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


def _normalize(rows, cols):
    out = []
    for row in rows:
        vals = []
        for c in sorted(cols):
            v = row[c]
            if isinstance(v, float):
                v = round(v, 4)
                if math.isclose(v, 0.0, abs_tol=1e-9):
                    v = 0.0
            vals.append(str(v))
        out.append(tuple(vals))
    return sorted(out)


ORACLE_NAMES = sorted(entry_mod.oracle_sql().keys())


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_query_matches_oracle(spark, duck, name):
    q = entry_mod.queries()[name]
    sql = entry_mod.oracle_sql()[name]

    sdf = q(spark, SF_DIR)
    spark_rows = [r.asDict() for r in sdf.collect()]
    spark_cols = sdf.columns

    rel = duck.sql(sql)
    duck_cols = rel.columns
    duck_rows = [dict(zip(duck_cols, r)) for r in rel.fetchall()]

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    )
    sn = _normalize(spark_rows, spark_cols)
    dn = _normalize(duck_rows, duck_cols)
    if sn != dn:
        diff = [(a, b) for a, b in zip(sn, dn) if a != b][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diff}")


def test_rows_only_queries_run(spark):
    """Non-SQL-expressible queries must still execute and return a schema."""
    oracles = set(entry_mod.oracle_sql())
    for name, q in entry_mod.queries().items():
        if name in oracles:
            continue
        df = q(spark, SF_DIR)
        assert df.columns, name
        assert df.count() >= 0, name


def test_entry_flagship(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert "content_sha256" in df.columns
