"""Oracle-differential tests for the relational surface (SURVEY §5.2.2).

Every registered query with an oracle is run on sf0.01 in both Spark and
DuckDB and compared exactly — the same check the driver performs.
"""

from __future__ import annotations

import pytest

from parquet_demo_spark.oracle import compare
from parquet_demo_spark.registry import all_queries

QUERIES = all_queries()
WITH_ORACLE = sorted(n for n, q in QUERIES.items() if q.oracle)
NO_ORACLE = sorted(n for n, q in QUERIES.items() if not q.oracle)


@pytest.mark.parametrize("name", WITH_ORACLE)
def test_query_matches_oracle(spark, sf_dir, name, assert_flat_output):
    q = QUERIES[name]
    df = q.spark(spark, sf_dir)
    assert_flat_output(name, df)
    compare(df, q.oracle, sf_dir)


@pytest.mark.parametrize("name", NO_ORACLE)
def test_query_runs(spark, sf_dir, name, assert_flat_output):
    """Rows-only smoke for non-SQL-expressible queries."""
    q = QUERIES[name]
    df = q.spark(spark, sf_dir)
    assert_flat_output(name, df)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0
