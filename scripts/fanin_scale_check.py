"""Partitioned-store read fan-in at high partition counts (VERDICT r10 #7).

``PartitionedParquetMergeStore.read()`` builds ONE fused plan over every
live child: a multi-path base scan, one deletion-vector anti-join and
one delta fold, whatever the partition count. Its driver work is one
manifest read per child, the scan's file listing and one analysis of
that plan; BASELINE.md records the superlinear curve of the per-child
``unionByName`` chain this replaced. This script measures
plan-CONSTRUCTION time (the driver work: ``read()`` returning its
analyzed DataFrame) and the full count action separately, at
P = 64 / 256 / 1024.

Usage: python scripts/fanin_scale_check.py [--parts N ...]
Default: 64 256 1024. Record the knee (or the fix's flat curve) in
BASELINE.md.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from parquet_demo_spark.session import get_spark  # noqa: E402
from parquet_demo_spark.sources.partitioned_store import (  # noqa: E402
    PartitionedParquetMergeStore,
)


def _timed(label: str, fn, runs: int = 3):
    fn()  # warm
    times = sorted(
        (lambda t0: (fn(), time.perf_counter() - t0)[1])(time.perf_counter())
        for _ in range(runs)
    )
    med = times[len(times) // 2]
    print(f"{label}: median {med:.2f}s (runs {[f'{t:.2f}' for t in times]})")
    return med


def run(spark, nparts: int) -> None:
    root = f"/tmp/spark_graft_fanin_{nparts}"
    if os.path.exists(root):
        shutil.rmtree(root)
    store = PartitionedParquetMergeStore(
        root,
        keys=("p", "k"),
        partition_col="p",
        version_cols=("v",),
        num_buckets=2,
        write_concurrency=32,
    )
    rows = spark.range(nparts * 2).select(
        (F.col("id") % nparts).cast("string").alias("p"),
        F.col("id").alias("k"),
        F.lit(1).cast("bigint").alias("v"),
        F.lit("x").alias("payload"),
    )
    t0 = time.perf_counter()
    store.merge(rows)
    print(
        f"parts={nparts}: build (one-time, {nparts} child commits): "
        f"{time.perf_counter() - t0:.1f}s"
    )
    _timed(
        f"parts={nparts}: read() plan construction (driver only)",
        lambda: store.read(spark),
    )
    _timed(
        f"parts={nparts}: read().count() end-to-end",
        lambda: store.read(spark).count(),
        runs=1,
    )


def main() -> None:
    parts = [64, 256, 1024]
    if "--parts" in sys.argv:
        i = sys.argv.index("--parts")
        parts = [int(x) for x in sys.argv[i + 1 :] if x.isdigit()]
    spark = get_spark()
    for n in parts:
        run(spark, n)


if __name__ == "__main__":
    main()
