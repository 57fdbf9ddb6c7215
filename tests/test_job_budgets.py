"""Spark job budgets for the store's hot paths.

A local Spark job has a fixed cost (about 0.1 s at test sizes), so jobs
per operation is the store's main performance lever. These tests pin the
counts the way ``test_plans.py`` pins plan shapes. A job is counted as
the ``DAGScheduler.nextJobId()`` delta around a call — the method
``perfbench/census.py`` uses.

Batches are built from ``spark.range`` so that Catalyst knows their size
and the store's small-plan scope applies, as it does for the benchmark's
parquet-sourced batches.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from parquet_demo_spark.sources.mor_store import MergeOnReadStore
from parquet_demo_spark.sources.partitioned_store import (
    PartitionedParquetMergeStore,
)

DAYS = [f"d{i}" for i in range(6)]


def _jobs(spark, fn) -> int:
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    before = int(sched.nextJobId())
    fn()
    return int(sched.nextJobId()) - before


def _batch(spark, days: list[str], v: int, per_day: int = 5):
    """``per_day`` rows for each day, every row at version ``v``."""
    n = len(days)
    day = F.element_at(
        F.array(*[F.lit(d) for d in days]), (F.col("id") % n + 1).cast("int")
    )
    return spark.range(n * per_day).select(
        day.alias("day"),
        (F.col("id") / n).cast("long").alias("k"),
        F.lit(v).cast("long").alias("v"),
        F.concat_ws("/", day, F.col("id").cast("string")).alias("payload"),
    )


@pytest.fixture()
def mor_table(spark, tmp_path):
    st = PartitionedParquetMergeStore(
        str(tmp_path / "pmor"),
        keys=("day", "k"),
        partition_col="day",
        version_cols=("v",),
        num_buckets=2,
        child_store="mor",
    )
    st.merge(_batch(spark, DAYS, 1))
    return st


@pytest.mark.parametrize("touched", [1, 2, 5])
def test_mor_partitioned_merge_is_two_jobs(spark, mor_table, touched):
    """The routing collect plus ONE staged delta write, whatever the
    number of touched children."""
    days = DAYS[:touched]
    assert _jobs(spark, lambda: mor_table.merge(_batch(spark, days, 2))) == 2
    got = mor_table.read(spark).filter(F.col("v") == 2)
    assert {r.day for r in got.select("day").distinct().collect()} == set(
        days
    )


@pytest.mark.parametrize(
    "condition, matched",
    [
        ("k = 1", ["d0"]),
        ("k = 2 AND day IN ('d1', 'd3', 'd5')", None),
    ],
)
def test_mor_partitioned_delete_where_is_one_job(
    spark, mor_table, condition, matched
):
    """One fused read, filtered and staged: one job, and only the
    matched children commit."""
    scope = ("d0", "d0") if matched else None
    before = mor_table._parts()
    assert (
        _jobs(
            spark,
            lambda: mor_table.delete_where(spark, condition, partitions=scope),
        )
        == 1
    )
    after = mor_table._parts()
    changed = sorted(p for p in after if after[p] != before[p])
    assert changed == (matched or ["d1", "d3", "d5"])
    live = mor_table.read(spark, partitions=scope).filter(condition)
    assert live.count() == 0


def test_mor_read_jobs_flat_in_delta_count(spark, tmp_path):
    """A read with a recorded type map takes it as the delta scans'
    schema: no footer-inference job per delta dir, so one and six live
    delta dirs cost the same."""
    counts = {}
    for n_deltas in (1, 6):
        store = MergeOnReadStore(
            str(tmp_path / f"mor{n_deltas}"),
            keys=("k",),
            version_cols=("v",),
            num_buckets=2,
        )
        for i in range(n_deltas):
            store.commit_delta(
                spark.range(3).select(
                    F.col("id").alias("k"),
                    F.lit(i).cast("long").alias("v"),
                    F.lit(f"p{i}").alias("payload"),
                )
            )
        assert store.delta_count() == n_deltas
        counts[n_deltas] = _jobs(spark, lambda: store.read(spark).collect())
        assert sorted((r.k, r.v) for r in store.read(spark).collect()) == [
            (k, n_deltas - 1) for k in range(3)
        ]
    assert counts[6] == counts[1], counts
