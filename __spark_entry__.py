"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship: the full near-dup pipeline over the documents
                 table at sf0.001 (survivors DataFrame).
queries()      — the catalog: one entry per domain-mode rule, code-dedup
                 operator (exact, MinHash/LSH, SimHash, verify,
                 containment, CC, pipeline) and corpus-curation op;
                 each callable (spark, sf_dir) -> DF. Relational
                 breadth and embedding/media search are outside the
                 engine and not in the catalog.
oracle_sql()   — DuckDB-runnable ANSI SQL twin for every SQL-expressible
                 query (same column names, same rounding). Entries absent
                 here are non-SQL-expressible (signatures/LSH/full pipeline)
                 and get the driver's rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from dedup_domains_spark.plans.queries import QUERIES


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    fn = QUERIES["code_pipeline_survivors"].spark_fn
    return fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: q.spark_fn for name, q in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    return {name: q.oracle for name, q in QUERIES.items() if q.oracle is not None}
