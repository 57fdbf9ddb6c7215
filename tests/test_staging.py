"""The staging writer's two branches write the same data.

``sources/staging.write_staged`` writes a store operation's staging
batch (a merge-on-read delta, the partitioned table's staged batch)
with pyarrow from the driver when the operation's small-plan scope
pinned, and with a Spark job otherwise. Here the Arrow branch is the
default (the batches are small and Catalyst knows their size) and the
Spark branch is ``SPARK_GRAFT_SMALL_PLAN_BYTES=0``. Every test runs a
15-column frame of every type a store column takes (decimals, date,
both timestamps, small ints, float, binary, array, map, struct, with
NULLs) through both branches and compares what reads back.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import threading
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from parquet_demo_spark.sources import staging
from parquet_demo_spark.sources.partitioned_store import (
    PartitionedParquetMergeStore,
)
from parquet_demo_spark.tuning import scoped_store_op, small_op

DDL = (
    "day string, k bigint, v bigint, dsmall decimal(9,2), "
    "dbig decimal(38,10), dt date, ts timestamp, tsntz timestamp_ntz, "
    "b tinyint, s smallint, f float, bin binary, arr array<int>, "
    "m map<string,double>, st struct<a:int,z:string>"
)
DAYS = [f"d{i}" for i in range(6)]


def _row(day: str, k: int, v: int) -> tuple:
    """One row; ``k`` and ``v`` pick its values, and about one value in
    five is NULL."""
    h = (k * 7 + v * 13) % 5

    def maybe(x, i):
        return None if (h + i) % 5 == 0 else x

    return (
        day,
        k,
        v,
        maybe(Decimal(f"{k * 3 + v}.{k % 100:02d}"), 1),
        maybe(Decimal(f"{k}{v}1234567890123.0123456789"), 2),
        maybe(dt.date(2024, 1, 1) + dt.timedelta(days=k + v), 3),
        maybe(dt.datetime(2024, 2, 1, 12, 30, 15, 123456 + k), 4),
        maybe(dt.datetime(2023, 3, 1, 1, 2, 3, 456 * k), 0),
        maybe((k + v) % 120 - 60, 1),
        maybe(k * 100 - v, 2),
        maybe(k / 8.0 + v, 3),
        maybe(bytes([k % 256, v % 256, 0, 255]), 4),
        maybe([k, None, v], 0),
        maybe({"a": float(k), "b": None}, 1),
        maybe((k, None if k % 2 else f"z{v}"), 2),
    )


def _frame(spark, tmp_path, name: str, rows: list[tuple]):
    """``rows`` as a parquet-backed frame, so Catalyst knows its size
    (a local list's RDD does not have one)."""
    path = str(tmp_path / "batches" / name)
    spark.createDataFrame(rows, DDL).write.parquet(path)
    return spark.read.schema(DDL).parquet(path)


def _canon(v):
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):  # a Row is a tuple
        return tuple(_canon(x) for x in v)
    if isinstance(v, bytearray):
        return bytes(v)
    if isinstance(v, float) and math.isnan(v):
        return "nan"
    return v


def _rows(df) -> list:
    return sorted((_canon(r) for r in df.collect()), key=repr)


def _count_arrow_writes(monkeypatch) -> list:
    """Count the Arrow writer's calls from here on."""
    calls = []
    arrow = staging._write_arrow

    def counted(*a, **kw):
        calls.append(a[1])
        return arrow(*a, **kw)

    monkeypatch.setattr(staging, "_write_arrow", counted)
    return calls


def test_both_writers_read_back_alike(spark, tmp_path):
    """The same frame written by each writer reads back to the same
    rows and types, by inference and under its DDL."""
    rows = [_row(DAYS[k % 3], k, 1) for k in range(40)]
    df = _frame(spark, tmp_path, "b", rows)
    got = {}
    for small in (True, False):
        out = str(tmp_path / f"w{small}")
        os.makedirs(out)
        assert staging.write_staged(df, out, small) == {}
        inferred = spark.read.parquet(out)
        assert [f.dataType for f in inferred.schema] == [
            f.dataType for f in df.schema
        ]
        assert _rows(inferred) == _rows(df)
        assert _rows(spark.read.schema(DDL).parquet(out)) == _rows(df)
        got[small] = inferred.schema
    assert got[True] == got[False]


def test_both_writers_group_by_the_same_values(spark, tmp_path):
    """Grouped by a string column, both writers give each value one dir
    holding exactly its rows, the Arrow one with one file; a NULL and an
    empty value both map from None."""
    vals = ["a/b", "50%", "x=y", " sp", "ü", "", None, "a/b"]
    rows = [_row("d0", k, 1) for k in range(len(vals))]
    df = _frame(spark, tmp_path, "g", rows).withColumn(
        "g",
        F.element_at(
            F.array(*[F.lit(v) for v in vals]), (F.col("k") + 1).cast("int")
        ),
    )
    groups = {}
    for small in (True, False):
        out = str(tmp_path / f"g{small}")
        os.makedirs(out)
        part = df if small else df.repartition("g")
        dirs = staging.write_staged(part, out, small, by="g")
        groups[small] = {
            v: _rows(spark.read.schema(DDL).parquet(d))
            for v, d in dirs.items()
        }
        if small:
            assert all(os.listdir(d) == ["part-00000.parquet"]
                       for d in dirs.values())
    assert set(groups[True]) == {"a/b", "50%", "x=y", " sp", "ü", None}
    assert groups[True] == groups[False]


def _upsert(day_rows: dict[str, int], v: int) -> list[tuple]:
    """Rows at version ``v``: for each day, keys 0..n-1 update the
    bootstrap rows and keys 100.. insert new ones."""
    out = []
    for day, n in day_rows.items():
        out += [_row(day, k, v) for k in range(n)]
        out += [_row(day, 100 + v * 10 + k, v) for k in range(2)]
    return out


def _store_ops(spark, tmp_path, name: str, child_store: str) -> dict:
    """Bootstrap, upserts touching 1, 2 and 5 partitions and a
    delete_where on a fresh table of every column but the map, then its
    read, probe and changes_between rows."""
    table = PartitionedParquetMergeStore(
        str(tmp_path / name),
        keys=("day", "k"),
        partition_col="day",
        version_cols=("v",),
        num_buckets=2,
        child_store=child_store,
    )
    batches = [
        [_row(d, k, 1) for d in DAYS for k in range(6)],
        _upsert({"d0": 3}, 2),
        _upsert({"d1": 2, "d2": 4}, 3),
        _upsert({d: 3 for d in DAYS[1:]}, 4),
    ]
    for i, rows in enumerate(batches):
        # no map column: changes_between compares every non-key column
        # with <=>, which Spark does not define on maps
        table.merge(_frame(spark, tmp_path, f"{name}-u{i}", rows).drop("m"))
    table.delete_where(spark, "k % 3 = 0", partitions=("d1", "d4"))
    keys = _frame(
        spark,
        tmp_path,
        f"{name}-keys",
        [_row(d, k, 0) for d in ("d0", "d2", "d5") for k in (0, 1, 3, 131)],
    ).select("day", "k")
    return {
        "read": _rows(table.read(spark)),
        "probe": _rows(table.probe(spark, keys)),
        "cdc": _rows(table.changes_between(spark, 0, table.current_version())),
    }


@pytest.mark.parametrize("child_store", ["mor", "cow"])
def test_store_ops_give_equal_rows_on_both_writers(
    spark, tmp_path, monkeypatch, child_store
):
    """The same op sequence gives the same rows whichever writer staged
    its batches, and each branch really ran its writer."""
    calls = _count_arrow_writes(monkeypatch)
    arrow = _store_ops(spark, tmp_path, "arrow", child_store)
    assert calls
    # 36 bootstrap rows, 2 + 4 + 10 inserted, 12 deleted (k = 0, 3, 141
    # in each of d1..d4)
    assert len(arrow["read"]) == 40
    assert arrow["probe"] and arrow["cdc"]
    monkeypatch.setenv("SPARK_GRAFT_SMALL_PLAN_BYTES", "0")
    calls.clear()
    assert _store_ops(spark, tmp_path, "spark", child_store) == arrow
    assert not calls


def test_small_op_is_per_thread(spark, tmp_path):
    """A scoped store op sees its own decision; a thread it starts does
    not inherit it, and outside every op it is False."""
    seen = {}

    class Probe:
        root = str(tmp_path)

        @staticmethod
        def _thread():
            seen["pool"] = small_op()

        def op(self, batch):
            seen["op"] = small_op()
            t = threading.Thread(target=self._thread)
            t.start()
            t.join(timeout=60)
            assert not t.is_alive()

    Probe.op = scoped_store_op("batch")(Probe.op)
    Probe().op(spark.range(3))
    assert seen == {"op": True, "pool": False}
    assert small_op() is False
