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

import os

import pytest
from pyspark.sql import functions as F

from parquet_demo_spark.sources import staging
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


def _adopted_files(table, days) -> list[int]:
    """Parquet files in the delta dir each day's child adopted last."""
    counts = []
    for d in days:
        child = table._child(table._parts()[d]["dir"])
        last = os.path.join(child._deltas_root, child._log()["dirs"][-1])
        counts.append(sum(f.endswith(".parquet") for f in os.listdir(last)))
    return counts


@pytest.mark.parametrize("touched", [1, 2, 5])
def test_mor_partitioned_merge_is_one_job(spark, mor_table, touched):
    """The staged delta write is the routing: ONE job whatever the
    number of touched children, and each adopted dir is one file."""
    days = DAYS[:touched]
    assert _jobs(spark, lambda: mor_table.merge(_batch(spark, days, 2))) == 1
    assert _adopted_files(mor_table, days) == [1] * touched
    got = mor_table.read(spark).filter(F.col("v") == 2)
    assert {r.day for r in got.select("day").distinct().collect()} == set(
        days
    )


def test_mor_partitioned_bootstrap_and_empty_merge_are_one_job(
    spark, tmp_path
):
    """A first merge creates every child from the one staged write; an
    empty batch stages nothing and burns no version, in one job."""
    table = PartitionedParquetMergeStore(
        str(tmp_path / "boot"),
        keys=("day", "k"),
        partition_col="day",
        version_cols=("v",),
        num_buckets=2,
        child_store="mor",
    )
    assert _jobs(spark, lambda: table.merge(_batch(spark, DAYS, 1))) == 1
    assert table.current_version() == 0
    assert table.partitions() == DAYS
    assert _adopted_files(table, DAYS) == [1] * len(DAYS)
    empty = _batch(spark, DAYS, 2).filter(F.col("k") < 0)
    assert _jobs(spark, lambda: table.merge(empty)) == 1
    assert table.current_version() == 0


@pytest.mark.parametrize("writer", ["arrow", "spark"])
def test_mor_partitioned_merges_are_one_job_on_both_writers(
    spark, tmp_path, monkeypatch, writer
):
    """The two budget tests above on each staging writer: a bootstrap,
    merges touching 1, 2 and 5 children and an empty batch are one job
    each, and each adopted dir is one file. The Spark writer runs under
    the same pinned small-plan scope, as for a batch whose schema the
    Arrow writer does not take."""
    arrow_dirs = []
    write_arrow = staging._write_arrow
    monkeypatch.setattr(
        staging,
        "_write_arrow",
        lambda df, path, by: arrow_dirs.append(path)
        or write_arrow(df, path, by),
    )
    if writer == "spark":
        monkeypatch.setattr(staging, "_arrow_exact", lambda dt: False)
    table = PartitionedParquetMergeStore(
        str(tmp_path / "t"),
        keys=("day", "k"),
        partition_col="day",
        version_cols=("v",),
        num_buckets=2,
        child_store="mor",
    )
    assert _jobs(spark, lambda: table.merge(_batch(spark, DAYS, 1))) == 1
    assert _adopted_files(table, DAYS) == [1] * len(DAYS)
    for v, touched in enumerate((1, 2, 5), start=2):
        days = DAYS[:touched]
        assert _jobs(spark, lambda: table.merge(_batch(spark, days, v))) == 1
        assert _adopted_files(table, days) == [1] * touched
    empty = _batch(spark, DAYS, 9).filter(F.col("k") < 0)
    assert _jobs(spark, lambda: table.merge(empty)) == 1
    assert table.current_version() == 3
    assert len(arrow_dirs) == (5 if writer == "arrow" else 0)
    got = table.read(spark).groupBy("day").agg(F.max("v").alias("v"))
    assert sorted(tuple(r) for r in got.collect()) == [
        (d, 4) for d in DAYS[:5]
    ] + [("d5", 1)]


@pytest.mark.parametrize("touched", [2, 5])
def test_cow_partitioned_merge_reads_slices_without_footer_jobs(
    spark, tmp_path, touched
):
    """A multi-partition copy-on-write merge is the routing collect, the
    staged write and two jobs per touched child (the read of its touched
    buckets and their rewrite). Each child reads its staged slice under
    the batch's own schema, so the slice costs no footer-inference
    job."""
    table = _table(spark, tmp_path / "t")
    days = DAYS[:touched]
    assert (
        _jobs(spark, lambda: table.merge(_batch(spark, days, 2)))
        == 2 + 2 * touched
    )
    got = table.read(spark).filter(F.col("v") == 2)
    assert sorted((r.day, r.k) for r in got.collect()) == [
        (d, k) for d in days for k in range(5)
    ]


@pytest.mark.parametrize("child_store", ["mor", "cow"])
def test_store_op_jobs_carry_its_description(spark, tmp_path, child_store):
    """Every job of a partitioned merge, those its per-child pool
    threads launch included, is described ``<Class>.<method>``, and the
    caller's own description is back afterwards."""
    table = _table(spark, tmp_path / "t", child_store)
    sc = spark.sparkContext
    sched = sc._jsc.sc().dagScheduler()
    sc.setJobDescription("caller")
    try:
        before = int(sched.nextJobId())
        table.merge(_batch(spark, DAYS[:2], 2))
        after = int(sched.nextJobId())
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setLocalProperty("spark.job.description", None)
    # PySpark's StatusTracker has no job description: read the JVM
    # status store once its listener has caught up
    jvm = sc._jsc.sc()
    jvm.listenerBus().waitUntilEmpty()
    descs = {
        jvm.statusStore().job(j).description().getOrElse(None)
        for j in range(before, after)
    }
    assert after > before
    assert descs == {"PartitionedParquetMergeStore.merge"}


@pytest.mark.parametrize("child_store", ["cow", "mor"])
def test_partitioned_probe_routes_in_one_job(spark, tmp_path, child_store):
    """A small key batch's (partition, bucket) pair collect runs under
    the store's small-plan scope: building the probe is one job (two
    under AQE, which materializes the distinct's shuffle stage)."""
    table = _table(spark, tmp_path / "t", child_store)
    keys = spark.range(2).select(
        F.lit("d2").alias("day"), (F.col("id") + 1).alias("k")
    )
    probe = []
    assert _jobs(spark, lambda: probe.append(table.probe(spark, keys))) == 1
    assert sorted((r.day, r.k) for r in probe[0].collect()) == [
        ("d2", 1),
        ("d2", 2),
    ]


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


def _live_deltas(table) -> int:
    if table.current_version() is None:
        return 0
    return sum(
        table._child(e["dir"]).delta_count() for e in table._parts().values()
    )


def _scan_relations(df) -> int:
    return df._jdf.queryExecution().optimizedPlan().toString().count(
        "Relation ["
    )


def test_mor_partitioned_read_jobs_flat_in_delta_count(spark, tmp_path):
    """The fused read folds every child's delta dirs in ONE scan, so
    1, 6 and 40 live delta dirs cost the same jobs. 40 is above
    Spark's 32-path parallel-listing threshold: the fold lists its
    dirs on the driver, with no listing job."""
    counts = {}
    for n_deltas in (1, 6, 40):
        table = PartitionedParquetMergeStore(
            str(tmp_path / f"pmor{n_deltas}"),
            keys=("day", "k"),
            partition_col="day",
            version_cols=("v",),
            num_buckets=2,
            child_store="mor",
        )
        expect, v = {}, 0
        while _live_deltas(table) < n_deltas:
            v += 1
            days = DAYS[: n_deltas - _live_deltas(table)]
            table.merge(_batch(spark, days, v))
            expect.update({(d, k): v for d in days for k in range(5)})
        assert _live_deltas(table) == n_deltas
        counts[n_deltas] = _jobs(spark, lambda: table.read(spark).collect())
        assert _scan_relations(table.read(spark)) == 1
        assert sorted(
            ((r.day, r.k), r.v) for r in table.read(spark).collect()
        ) == sorted(expect.items())
    assert counts == {1: 2, 6: 2, 40: 2}, counts


def test_mor_read_jobs_flat_in_delta_count(spark, tmp_path):
    """A read with a recorded type map takes it as the delta scan's
    schema and folds every delta dir in ONE scan relation: 1, 6 and 40
    live delta dirs cost the same jobs (no footer-inference job, and
    no listing job past the 32-path threshold)."""
    counts = {}
    for n_deltas in (1, 6, 40):
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
        assert _scan_relations(store._resolved(spark)) == 1
        assert sorted((r.k, r.v) for r in store.read(spark).collect()) == [
            (k, n_deltas - 1) for k in range(3)
        ]
    assert counts[6] == counts[1], counts
    assert counts[40] == counts[1], counts


def test_mor_partitioned_changes_between_jobs(spark, mor_table):
    """A two-version CDC read over two changed MOR children: the
    appended dirs fold in one typed scan (no footer job), and the
    pre-state comes from one table probe, whose pair collect is one
    job under the small-plan scope."""
    v1 = mor_table.current_version()
    mor_table.merge(_batch(spark, DAYS[:2], 2))
    v2 = mor_table.current_version()
    assert (
        _jobs(spark, lambda: mor_table.changes_between(spark, v1, v2).collect())
        == 8
    )
    rows = mor_table.changes_between(spark, v1, v2).collect()
    assert {r._change_type for r in rows} == {"update_postimage"}
    assert sorted((r.day, r.k) for r in rows) == [
        (d, k) for d in DAYS[:2] for k in range(5)
    ]


def test_cow_partitioned_read_is_one_job(spark, tmp_path):
    """Copy-on-write eras take their scan schema from the table's type
    record, so building a 6-partition read launches no footer-inference
    job: its collect is the only job."""
    table = PartitionedParquetMergeStore(
        str(tmp_path / "pcow"),
        keys=("day", "k"),
        partition_col="day",
        version_cols=("v",),
        num_buckets=2,
    )
    table.merge(_batch(spark, DAYS, 1))
    rows = []
    assert _jobs(spark, lambda: rows.extend(table.read(spark).collect())) == 1
    assert sorted((r.day, r.k, r.v) for r in rows) == sorted(
        (d, k, 1) for d in DAYS for k in range(5)
    )


def _table(spark, root, child_store: str = "cow"):
    table = PartitionedParquetMergeStore(
        str(root),
        keys=("day", "k"),
        partition_col="day",
        version_cols=("v",),
        num_buckets=2,
        child_store=child_store,
    )
    table.merge(_batch(spark, DAYS, 1))
    return table


@pytest.mark.parametrize("child_store, budget", [("cow", 1), ("mor", 2)])
def test_partitioned_where_read_jobs_match_plain_read(
    spark, tmp_path, child_store, budget
):
    """A value-pruned read is the plain read's one fused plan over the
    children's pruned files, range-filtered once: building it runs no
    per-child footer job, so it costs what the plain read does."""
    table = _table(spark, tmp_path / "t", child_store)
    rows = []
    where = {"k": (1, 3)}
    read = table.read(spark, where=where)
    assert _jobs(spark, lambda: rows.extend(read.collect())) == budget
    assert _jobs(spark, lambda: table.read(spark).collect()) == budget
    assert sorted((r.day, r.k, r.v) for r in rows) == sorted(
        (d, k, 1) for d in DAYS for k in (1, 2, 3)
    )


def test_cow_evolved_child_reads_and_probes_fused(spark, tmp_path):
    """A child widened by schema evolution reads through the table DDL
    in the one fused scan (its missing columns are typed NULLs), so an
    evolved table reads in one job, and a probe into the evolved child
    costs what the same probe costs on an un-evolved table."""
    plain = _table(spark, tmp_path / "plain")
    table = _table(spark, tmp_path / "evolved")
    table.merge(
        spark.range(1).select(
            F.lit("d2").alias("day"),
            F.lit(9).cast("long").alias("k"),
            F.lit(1).cast("long").alias("v"),
            F.lit("wide").alias("payload"),
            F.lit(7).cast("long").alias("extra"),
        ),
        allow_schema_evolution=True,
    )
    rows = []
    assert _jobs(spark, lambda: rows.extend(table.read(spark).collect())) == 1
    assert len(rows) == 31
    assert {(r.day, r.k, r.extra) for r in rows if r.extra is not None} == {
        ("d2", 9, 7)
    }
    keys = spark.createDataFrame([("d2", 1), ("d2", 9)], "day string, k long")
    counts, got = {}, {}
    for name, t in (("plain", plain), ("evolved", table)):
        got[name] = []
        counts[name] = _jobs(
            spark, lambda: got[name].extend(t.probe(spark, keys).collect())
        )
    assert counts == {"plain": 6, "evolved": 6}, counts
    assert sorted((r.k, r.extra) for r in got["evolved"]) == [
        (1, None),
        (9, 7),
    ]
    assert [r.k for r in got["plain"]] == [1]


def test_cow_cdc_across_an_evolution_jobs_flat_in_children(spark, tmp_path):
    """A copy-on-write table CDC whose span holds an evolution diffs
    every changed child in one snapshot-law plan, in the table DDL at
    its end: 1 and 4 changed children launch the same jobs."""
    counts = {}
    for n in (1, 4):
        table = _table(spark, tmp_path / f"t{n}")
        v0 = table.current_version()
        table.merge(
            _batch(spark, DAYS[:n], 2).withColumn(
                "extra", F.lit(7).cast("long")
            ),
            allow_schema_evolution=True,
        )
        rows = []
        counts[n] = _jobs(
            spark,
            lambda: rows.extend(
                table.changes_between(spark, v0, v0 + 1).collect()
            ),
        )
        assert sorted((r.day, r.k, r.v, r.extra) for r in rows) == [
            (d, k, 2, 7) for d in DAYS[:n] for k in range(5)
        ]
        assert {r._change_type for r in rows} == {"update_postimage"}
    assert counts[1] == counts[4], counts


def test_mor_cdc_across_a_restore_jobs_flat_in_children(spark, tmp_path):
    """A merge-on-read table CDC across a table restore, whose child
    spans run backward in their logs, diffs every changed child in one
    snapshot-law plan: 1 and 4 changed children launch the same
    jobs."""
    counts = {}
    for n in (1, 4):
        table = _table(spark, tmp_path / f"t{n}", "mor")
        table.merge(_batch(spark, DAYS[:n], 2))
        v1 = table.current_version()
        table.restore(v1 - 1)
        rows = []
        counts[n] = _jobs(
            spark,
            lambda: rows.extend(
                table.changes_between(spark, v1, v1 + 1).collect()
            ),
        )
        assert sorted((r.day, r.k, r.v) for r in rows) == [
            (d, k, 1) for d in DAYS[:n] for k in range(5)
        ]
        assert {r._change_type for r in rows} == {"update_postimage"}
    assert counts[1] == counts[4], counts


def _write_events(path, n: int, extra: str | None = None) -> None:
    """A fixture ``events`` table whose ``ts`` is parquet timestamp[ns],
    the column ``catalog.load`` converts; ``extra`` adds a column."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = {
        "ts": pa.array(
            [1_700_000_000_000_000_123 + i * 10**9 for i in range(n)],
            pa.timestamp("ns"),
        ),
        "user_id": pa.array(range(n), pa.int32()),
    }
    if extra is not None:
        cols[extra] = pa.array([f"{extra}{i}" for i in range(n)])
    pq.write_table(pa.table(cols), str(path / "events.parquet"))


def test_second_catalog_load_launches_no_job(spark, tmp_path):
    """``catalog.load`` infers a fixture's schema once: a second load
    of the same files launches no footer-inference job and gives the
    schema and rows of the first."""
    from pyspark.sql.types import TimestampType

    from parquet_demo_spark.catalog import load

    _write_events(tmp_path, 5)
    sf, first, again = str(tmp_path), [], []
    assert _jobs(spark, lambda: first.append(load(spark, sf, "events"))) == 1
    assert _jobs(spark, lambda: again.append(load(spark, sf, "events"))) == 0
    assert again[0].schema == first[0].schema
    assert isinstance(again[0].schema["ts"].dataType, TimestampType)
    assert sorted(again[0].collect()) == sorted(first[0].collect())


def test_catalog_load_infers_a_rewritten_fixture_again(spark, tmp_path):
    """A fixture rewritten in place with another column set changes its
    files stamp, so its schema is inferred again, never served stale."""
    from parquet_demo_spark.catalog import load

    _write_events(tmp_path, 5)
    assert load(spark, str(tmp_path), "events").columns == ["ts", "user_id"]
    _write_events(tmp_path, 3, extra="tag")
    df = load(spark, str(tmp_path), "events")
    assert df.columns == ["ts", "user_id", "tag"]
    assert sorted(r.tag for r in df.collect()) == ["tag0", "tag1", "tag2"]


# the perfbench ``analytics`` mix: one read-only query per operator module
ANALYTICS_MIX = (
    "q15_topk_global",
    "q115_forecast_revenue",
    "q138_heavy_hitters",
    "q33_asof_join",
    "q44_simhash",
    "q88_curation_funnel",
    "q22_json_funcs",
    "q27_cosine_topk",
    "q40_stats_aggregates",
    "q25_text_top_tokens",
    "q108_map_in_arrow",
    "q34_window_distribution",
    "q95_salted_agg",
    "q188_hashed_tf_retrieval",
)


def test_second_analytics_pass_compiles_no_class(spark, sf_smoke):
    """The session's generated-code cache holds every class one pass of
    the analytics mix compiles, so a second pass compiles none (under
    Spark's default cap of 100 entries it compiles about 178 again).

    Whole-stage class names carry the codegen stage id, which adaptive
    execution hands out in the order concurrent stages finish, so a
    query can generate a renamed copy of a cached class on any run
    (q188 in this mix; CHANGES.md lists the per-run recompilers). The
    test turns that naming off to count only what the cap decides:
    classes evicted between passes."""
    from parquet_demo_spark.registry import all_queries

    reg = all_queries()
    jvm = spark.sparkContext._jvm
    metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics

    def run_pass() -> int:
        before = int(metrics.METRIC_COMPILATION_TIME().getCount())
        for name in ANALYTICS_MIX:
            reg[name].spark(spark, sf_smoke).write.format("noop").mode(
                "overwrite"
            ).save()
        return int(metrics.METRIC_COMPILATION_TIME().getCount()) - before

    spark.conf.set("spark.sql.codegen.useIdInClassName", "false")
    try:
        assert run_pass() > 0
        assert run_pass() == 0
    finally:
        spark.conf.unset("spark.sql.codegen.useIdInClassName")
