"""SparkSession factory (SURVEY §4.2 — configs, not code).

The reference pins its semantics by hand (naive datetimes are UTC,
``io.py:36-39``; µs timestamps, ``generate_parquet_from_ddl.py:39,54``);
here the same semantics are session configuration:

- ``spark.sql.session.timeZone=UTC`` — naive timestamps are UTC everywhere
  (matches reference ``io.py:36-39`` and the DuckDB oracle's naive µs).
- ``spark.sql.parquet.outputTimestampType=TIMESTAMP_MICROS`` — the
  reference writes µs timestamps.
- AQE on (runtime re-plan, skew-join splitting, partition coalescing) —
  at 100 TB this is what turns a static 32-partition plan into a
  right-sized one.
- Arrow exchange on — every Python-side UDF path (pandas_udf,
  applyInPandas, mapInArrow) moves columnar batches, not pickled rows.
- ANSI off — the reference's coercions are permissive (None passthrough,
  lossy unit down-conversion); ANSI-on would turn those into errors.
- Generated-code cache of ``CODEGEN_CACHE_ENTRIES`` classes (Spark's
  default keeps 100). ``scripts/codegen_census.py`` runs the 149 one-shot
  registry queries twice in one ``local[2]`` session at sf0.001. Pass 1
  compiles 1809 classes. At the default cap pass 2 compiles 2383 again
  (80.5 s); at 4096 it compiles 49 (63.5 s), all from queries that
  generate new code on every run. The 14-query ``analytics`` benchmark
  mix alone compiles 189, then 178 again each round at the default cap
  and 0 at 4096. 4096 is about 2x the registry. Metaspace in use after
  pass 2 read 212 MB at 4096 and 198–219 MB at the default, whose
  evicted classes stay loaded until a GC unloads them: a cached class
  costs at most about 8 KB, about 30 MB for a full cache. The cap is a
  static conf: it binds when the JVM first generates code, so a session
  built elsewhere keeps its own.
- Driver heap: half the machine's memory, 2–48 GB (``driver_memory``).

Scale posture: ``shuffle.partitions`` defaults to the local core count for
tests but reads ``SPARK_GRAFT_CPUS``/``SPARK_SQL_SHUFFLE_PARTITIONS`` so a
real cluster deployment sets partitions ≈ 2-3× total cores; AQE coalesces
down when a stage's output is small, and skew-join splits hot partitions.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))

CODEGEN_CACHE_ENTRIES = 4096
# the broadcast-join bound; tuning's small-plan threshold defaults to it
BROADCAST_BYTES = 64 * 1024 * 1024


def driver_memory(total_bytes: int | None = None) -> str:
    """Half of ``total_bytes`` (default: the machine's physical memory) as
    a driver heap, 2–48 GB.

    In local mode the driver is the only JVM. A fixed 48g heap on a
    smaller machine lets G1 grow it past physical memory under a steady
    allocation rate until the kernel kills the JVM, although the live
    set stays near 2 GB; a heap sized from the machine makes G1 collect
    instead. ``SPARK_GRAFT_DRIVER_MEM`` overrides it.
    """
    if total_bytes is None:
        total_bytes = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{max(2, min(48, total_bytes // 2**31))}g"


def get_spark(
    app_name: str = "parquet_demo_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession with pinned semantics."""
    cpus = _DEFAULT_CPUS
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_SQL_SHUFFLE_PARTITIONS", cpus)
        )

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # --- semantics (SURVEY §1.2) ---
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.ansi.enabled", "false")
        # events.ts is parquet timestamp[ns]; Spark has no ns timestamp —
        # read as long and convert in catalog.load (µs, like the oracle).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # --- scale posture (SURVEY §4.2) ---
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(BROADCAST_BYTES))
        # --- Python exchange is Arrow-batched, never row-pickled ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- fixed per-query driver costs are paid once per session ---
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # local mode: driver is the only JVM
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", driver_memory()),
        )
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
