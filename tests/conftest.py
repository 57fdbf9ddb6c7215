from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    from parquet_demo_spark.session import get_spark

    s = get_spark(app_name="parquet_demo_spark_tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_CORRECT


@pytest.fixture(scope="session")
def sf_smoke():
    return SF_SMOKE


@pytest.fixture(scope="session")
def assert_flat_output():
    """The output-canon law, as one check every test that builds a
    registry query applies to its DataFrame: no array/map/struct/date
    column in the final projection.

    The result hash canonicalizes every query result with pandas
    ``sort_values`` first; list/dict-typed cells are unhashable
    there, so a query whose FINAL projection contains an
    array/map/struct column can never get a green CORRECTNESS row
    (round-1 q21/q59b ERR). Complex types are fine mid-plan. Raw DATE
    columns canonicalize differently per engine (object datetime.date
    from Spark vs datetime64 from DuckDB) — cast to TIMESTAMP at the
    query edge.
    """
    from pyspark.sql.types import ArrayType, DateType, MapType, StructType

    def check(name, df):
        bad = [
            f.name
            for f in df.schema.fields
            if isinstance(
                f.dataType, (ArrayType, MapType, StructType, DateType)
            )
        ]
        assert not bad, (
            f"{name} exposes complex- or date-typed output columns {bad}; "
            "project them to scalars/strings/timestamps at the query edge "
            "(driver canon requirement)"
        )

    return check
