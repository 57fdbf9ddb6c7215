"""Fixture-table catalog: parquet scans with pushdown intact (SURVEY §2A R2/R3).

The reference reads whole files into memory (``io.py:78-80`` reads every
column of every row group). Here a "table" is a lazy
``spark.read.parquet`` scan: Catalyst prunes columns and pushes predicates
into the scan, so downstream queries only decode what they use — the
difference between "load 100 TB" and "scan the 2 columns you asked for".
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# Columns stored as parquet timestamp[ns]: Spark reads them as BIGINT nanos
# (spark.sql.legacy.parquet.nanosAsLong) and we down-convert to µs timestamps
# here — the same truncation the reference applies in its unit switch
# (`src/parquet_demo/io.py:43-48`) and what DuckDB reports for these files.
_NANOS_TS_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


# Session confs that change what parquet schema inference returns for the
# same files (``mergeSchema`` decides which footers it reads).
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)

# (absolute path, inference confs) -> (files stamp, inferred schema); one
# entry per path and conf set, so a rewritten fixture replaces its entry
_SCHEMAS: dict[tuple, tuple[tuple, T.StructType]] = {}


def _files_stamp(path: str) -> tuple:
    """``(file, size, mtime_ns)`` of every file under ``path`` (or of
    ``path`` itself); empty when nothing is there to stat."""
    if os.path.isfile(path):
        st = os.stat(path)
        return ((path, st.st_size, st.st_mtime_ns),)
    out = []
    for d, _, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(d, f))
            out.append((os.path.join(d, f), st.st_size, st.st_mtime_ns))
    return tuple(sorted(out))


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy parquet scan of one fixture table.

    Schema inference reads parquet footers in a Spark job (about 0.1 s);
    a scan given its schema launches none. So the table's schema is
    inferred once and then served from a cache, whose key is the table's
    absolute path, the ``(file, size, mtime_ns)`` of every file under it,
    and the session confs that change parquet inference (``nanosAsLong``,
    ``binaryAsString``, ``int96AsTimestamp``, ``inferTimestampNTZ`` and
    ``mergeSchema``). A hit is exact: inference is a function of those
    files' footers and those confs, so it returns what a fresh inference
    would, and Spark applies the same ``asNullable`` to a given schema as
    to an inferred one. This holds as long as a file that changes also
    changes its size or mtime. The stamp is taken before inferring, so a
    file rewritten during inference leaves a stale stamp, which only
    makes the next call infer again. A path with no local file to stat
    (missing, or not on the local file system) is inferred every time.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    confs = tuple(spark.conf.get(k) for k in _INFERENCE_CONFS)
    key = (os.path.abspath(path), confs)
    stamp = _files_stamp(path)
    hit = _SCHEMAS.get(key)
    if hit is not None and hit[0] == stamp:
        df = spark.read.schema(hit[1]).parquet(path)
    else:
        df = spark.read.parquet(path)  # infers: one footer job
        if stamp:
            _SCHEMAS[key] = (stamp, df.schema)
    for col in _NANOS_TS_COLS.get(name, ()):
        if isinstance(df.schema[col].dataType, T.LongType):
            # integral `div`, NOT `/1000` — epoch-ns (~1.7e18) exceeds
            # double's 2^53 integer range, so float division is off by
            # ±1µs on ~12% of values
            df = df.withColumn(
                col, F.timestamp_micros(F.expr(f"`{col}` div 1000"))
            )
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view (for the SQL surface)."""
    for name in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            load(spark, sf_dir, name).createOrReplaceTempView(name)
