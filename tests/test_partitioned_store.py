"""PartitionedParquetMergeStore: partition pruning, metadata-only
retention, CDC across drops, and global snapshot isolation."""

from __future__ import annotations

import functools
import os
import re

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from parquet_demo_spark.sources.partitioned_store import (
    PartitionedParquetMergeStore,
)


def _store(tmp_path, **kw):
    defaults = dict(
        keys=("day", "k"),
        partition_col="day",
        version_cols=("v",),
        num_buckets=2,
    )
    defaults.update(kw)
    return PartitionedParquetMergeStore(str(tmp_path / "pstore"), **defaults)


def _rows(df):
    return sorted((r.day, r.k, r.v, r.payload) for r in df.collect())


def _batch(spark, day_keys):
    return spark.createDataFrame(
        [
            Row(day=d, k=k, v=1, payload=f"{d}/{k}")
            for d, k in day_keys
        ]
    )


def _union_as_table(st, version, dfs, extra=()):
    """Union per-child frames in the table schema at ``version`` with
    typed-null backfill for the columns a child lacks."""
    cols = st._columns_at(version) + list(extra)
    types = {**st._column_types_at(version), "_change_type": "string"}
    return functools.reduce(
        lambda x, y: x.unionByName(y),
        [
            df.select(
                *[
                    F.col(c)
                    if c in df.columns
                    else F.lit(None).cast(types[c]).alias(c)
                    for c in cols
                ]
            )
            for df in dfs
        ],
    )


def _per_child_read(spark, st, version=None, where=None):
    """The table read composed from every live child store's own
    public ``read`` — the reference the fused read is checked
    against."""
    v = st.current_version() if version is None else version
    return _union_as_table(
        st,
        v,
        [
            st._child(e["dir"]).read(spark, version=e["version"], where=where)
            for e in st._parts(v).values()
        ],
    )


def _per_child_probe(spark, st, keys):
    """The table probe composed from every live child's own public
    ``probe`` of its partition's keys."""
    v = st.current_version()
    return _union_as_table(
        st,
        v,
        [
            st._child(e["dir"]).probe(
                spark, keys.filter(F.col("day") == pval), version=e["version"]
            )
            for pval, e in st._parts(v).items()
        ],
    )


def _per_child_cdc(spark, st, v_from, v_to, include_preimages):
    """The table change feed composed from the children's own public
    ``changes_between`` (same dir at both ends) and snapshot reads
    (dropped, created and re-created partitions), in the table schema
    of the endpoint with more columns, as the table aligns its feed."""
    from parquet_demo_spark.sources.merge_store import changes_between

    p_from, p_to = st._parts(v_from), st._parts(v_to)
    outs = []
    for pval in sorted(set(p_from) | set(p_to)):
        a, b = p_from.get(pval), p_to.get(pval)
        if a and b and a["dir"] == b["dir"]:
            child = st._child(a["dir"])
            vf, vt = int(a["version"]), int(b["version"])
            if vf != vt:
                outs.append(
                    child.changes_between(
                        spark, vf, vt, include_preimages=include_preimages
                    )
                    if st.child_store == "mor"
                    else changes_between(
                        child, spark, vf, vt,
                        include_preimages=include_preimages,
                    )
                )
            continue
        for e, tag in ((a, "delete"), (b, "insert")):
            if e:
                outs.append(
                    st._child(e["dir"])
                    .read(spark, version=e["version"])
                    .withColumn("_change_type", F.lit(tag))
                )
    wide = max((v_to, v_from), key=lambda v: len(st._columns_at(v)))
    return _union_as_table(st, wide, outs, extra=("_change_type",))


def _row_scans(df) -> tuple[int, int]:
    """(base, delta) scan relations in ``df``'s plan: a delta scan
    carries ``__op``, a base scan the table's rows without it, and a
    deletion-vector scan (only the PK) is neither."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    rels = re.findall(r"Relation \[([^\]]*)\]", plan)
    return (
        sum("payload" in r and "__op" not in r for r in rels),
        sum("__op" in r for r in rels),
    )


def test_partition_col_must_be_key(tmp_path):
    with pytest.raises(ValueError, match="partition column"):
        PartitionedParquetMergeStore(
            str(tmp_path / "x"), keys=("k",), partition_col="day"
        )


def test_merge_routes_and_read_prunes_partitions(spark, tmp_path):
    st = _store(tmp_path)
    st.merge(
        _batch(
            spark,
            [("d1", 1), ("d1", 2), ("d2", 1), ("d3", 5)],
        )
    )
    assert st.partitions() == ["d1", "d2", "d3"]
    # scoped read returns exactly the range's rows
    assert _rows(st.read(spark, partitions=("d1", "d2"))) == [
        ("d1", 1, 1, "d1/1"),
        ("d1", 2, 1, "d1/2"),
        ("d2", 1, 1, "d2/1"),
    ]
    # and opens strictly fewer files than the full read — the VERDICT
    # r6 #3 files-read drop, measured at the filesystem level
    assert st.files_read(partitions=("d1", "d1")) < st.files_read()
    # a range matching nothing: zero rows, zero files, schema intact
    assert st.read(spark, partitions=("zz", "zz")).count() == 0
    assert st.files_read(partitions=("zz", "zz")) == 0


def test_merge_touches_only_its_partitions(spark, tmp_path):
    st = _store(tmp_path)
    st.merge(_batch(spark, [("d1", 1), ("d2", 1)]))
    parts_v0 = st._parts(0)
    st.merge(_batch(spark, [("d2", 9)]))  # touches d2 only
    parts_v1 = st._parts(1)
    assert parts_v1["d1"] == parts_v0["d1"]  # untouched child pinned
    assert parts_v1["d2"]["version"] == parts_v0["d2"]["version"] + 1
    assert _rows(st.read(spark)) == [
        ("d1", 1, 1, "d1/1"),
        ("d2", 1, 1, "d2/1"),
        ("d2", 9, 1, "d2/9"),
    ]


def test_upsert_within_partition_replaces(spark, tmp_path):
    st = _store(tmp_path)
    st.merge(_batch(spark, [("d1", 1)]))
    st.merge(
        spark.createDataFrame([Row(day="d1", k=1, v=2, payload="NEW")])
    )
    assert _rows(st.read(spark)) == [("d1", 1, 2, "NEW")]


def test_drop_partition_is_metadata_only_with_time_travel(spark, tmp_path):
    st = _store(tmp_path)
    st.merge(_batch(spark, [("d1", 1), ("d2", 2)]))  # v0
    child_dir = os.path.join(st.root, "p=d1")
    files_before = sum(len(fs) for _, _, fs in os.walk(child_dir))
    v = st.drop_partition("d1")  # v1
    # metadata-only: not one file under the dropped partition changed
    assert sum(len(fs) for _, _, fs in os.walk(child_dir)) == files_before
    assert st.partitions() == ["d2"]
    assert _rows(st.read(spark)) == [("d2", 2, 1, "d2/2")]
    # time travel still sees the dropped partition
    assert ("d1", 1, 1, "d1/1") in _rows(st.read(spark, version=v - 1))
    with pytest.raises(ValueError, match="no live partition"):
        st.drop_partition("d1")


def test_changes_between_sees_drop_as_cdc_deletes(spark, tmp_path):
    st = _store(tmp_path)
    st.merge(_batch(spark, [("d1", 1), ("d1", 2), ("d2", 3)]))  # v0
    st.merge(_batch(spark, [("d3", 7)]))  # v1: new partition
    st.drop_partition("d1")  # v2: retention
    ch01 = st.changes_between(spark, 0, 1)
    assert sorted((r.day, r.k, r._change_type) for r in ch01.collect()) == [
        ("d3", 7, "insert")
    ]
    ch12 = st.changes_between(spark, 1, 2)
    assert sorted((r.day, r.k, r._change_type) for r in ch12.collect()) == [
        ("d1", 1, "delete"),
        ("d1", 2, "delete"),
    ]


def test_delete_where_prunes_to_partition_range(spark, tmp_path):
    st = _store(tmp_path)
    st.merge(_batch(spark, [("d1", 1), ("d2", 2), ("d3", 3)]))
    parts_v0 = st._parts(0)
    st.delete_where(spark, "k >= 0", partitions=("d2", "d2"))
    parts_v1 = st._parts(1)
    # only d2's child advanced — d1/d3 never even ran the delete scan
    assert parts_v1["d1"] == parts_v0["d1"]
    assert parts_v1["d3"] == parts_v0["d3"]
    assert parts_v1["d2"]["version"] == parts_v0["d2"]["version"] + 1
    assert _rows(st.read(spark)) == [
        ("d1", 1, 1, "d1/1"),
        ("d3", 3, 1, "d3/3"),
    ]


def test_vacuum_removes_only_dropped_partitions(spark, tmp_path):
    st = _store(tmp_path)
    st.merge(_batch(spark, [("d1", 1), ("d2", 2)]))  # v0
    st.drop_partition("d1")  # v1
    removed = st.vacuum(keep_last=1)
    # the dropped child AND the global manifest below the keep window
    # both go, so time travel to v0 fails up front, not mid-read
    assert removed == ["p=d1", "v00000"]
    assert not os.path.exists(os.path.join(st.root, "p=d1"))
    assert _rows(st.read(spark)) == [("d2", 2, 1, "d2/2")]
    with pytest.raises(ValueError, match="vacuum"):
        st.read(spark, version=0)
    # keeping 2 versions keeps the dropped partition's files
    st2 = _store(tmp_path, num_buckets=2)
    st2root = str(tmp_path / "pstore2")
    st2 = PartitionedParquetMergeStore(
        st2root, keys=("day", "k"), partition_col="day",
        version_cols=("v",), num_buckets=2,
    )
    st2.merge(_batch(spark, [("d1", 1), ("d2", 2)]))
    st2.drop_partition("d1")
    assert st2.vacuum(keep_last=2) == []


def test_reopen_config_mismatch_raises(spark, tmp_path):
    st = _store(tmp_path)
    st.merge(_batch(spark, [("d1", 1)]))
    with pytest.raises(ValueError, match="different config"):
        PartitionedParquetMergeStore(
            st.root, keys=("day", "k"), partition_col="day",
            version_cols=("v",), num_buckets=4,
        )


def _child_files(root) -> list[str]:
    """Every file under a table root except those directly inside its
    top-level dirs (global manifests, child pointers): the child
    stores' manifests, log entries and data files."""
    return sorted(
        os.path.relpath(os.path.join(d, f), root)
        for d, _, files in os.walk(root)
        if os.path.dirname(d) != str(root)
        for f in files
    )


def test_null_partition_value_raises(spark, tmp_path):
    """A NULL partition value raises before any child commits — for
    either child store, whether the batch also carries rows for a
    live partition or not."""
    for child_store in ("cow", "mor"):
        st = _store(tmp_path / child_store, child_store=child_store)
        nulls = spark.createDataFrame(
            [
                Row(day="d1", k=1, v=2, payload="x"),
                Row(day=None, k=2, v=1, payload="y"),
            ]
        )
        with pytest.raises(ValueError, match="NULL"):
            st.merge(nulls)
        assert st.current_version() is None
        st.merge(_batch(spark, [("d1", 1)]))
        before = _child_files(st.root)
        with pytest.raises(ValueError, match="NULL"):
            st.merge(nulls)
        assert _child_files(st.root) == before
        assert st.current_version() == 0
        assert _rows(st.read(spark)) == [("d1", 1, 1, "d1/1")]


def test_count_rows_scoped(spark, tmp_path):
    st = _store(tmp_path)
    st.merge(_batch(spark, [("d1", 1), ("d1", 2), ("d2", 3)]))
    assert st.count_rows() == 3
    assert st.count_rows(partitions=("d1", "d1")) == 2


def test_drop_then_remerge_does_not_resurrect_old_rows(spark, tmp_path):
    """Dropping a partition and later merging NEW rows into the same
    value must yield ONLY the new rows: the re-created partition gets a
    fresh epoch child dir (p=<val>@1), never a re-pin of the dropped
    child (which still holds the pre-drop rows for time travel)."""
    st = _store(tmp_path)
    st.merge(_batch(spark, [("d1", 1), ("d1", 2), ("d2", 3)]))  # v0
    st.drop_partition("d1")  # v1
    st.merge(_batch(spark, [("d1", 9)]))  # v2: re-created partition
    assert _rows(st.read(spark)) == [
        ("d1", 9, 1, "d1/9"),  # ONLY the new row — k=1/2 stay dropped
        ("d2", 3, 1, "d2/3"),
    ]
    assert st._parts(2)["d1"]["dir"] == "p=d1@1"
    # time travel before the drop still resolves the OLD epoch dir
    assert _rows(st.read(spark, version=0)) == [
        ("d1", 1, 1, "d1/1"),
        ("d1", 2, 1, "d1/2"),
        ("d2", 3, 1, "d2/3"),
    ]
    # CDC across the drop+re-create nets old rows out, new row in
    ch = st.changes_between(spark, 0, 2)
    assert sorted((r.day, r.k, r._change_type) for r in ch.collect()) == [
        ("d1", 1, "delete"),
        ("d1", 2, "delete"),
        ("d1", 9, "insert"),
    ]
    # vacuum keeping only the current version removes the old epoch dir
    # plus the two global manifests below the keep window
    removed = st.vacuum(keep_last=1)
    assert removed == ["p=d1", "v00000", "v00001"]
    assert _rows(st.read(spark)) == [
        ("d1", 9, 1, "d1/9"),
        ("d2", 3, 1, "d2/3"),
    ]


def test_noop_merge_and_delete_burn_no_version(spark, tmp_path):
    """Empty batches and no-match deletes return the current version
    without committing — the child store's no-op law, one level up."""
    st = _store(tmp_path)
    st.merge(_batch(spark, [("d1", 1)]))  # v0
    empty = _batch(spark, [("d1", 1)]).filter(F.col("k") < 0)
    assert st.merge(empty) == 0
    assert st.delete_where(spark, "k > 100") == 0
    assert st.current_version() == 0
    with pytest.raises(ValueError, match="empty batch"):
        PartitionedParquetMergeStore(
            str(tmp_path / "fresh"), keys=("day", "k"),
            partition_col="day", version_cols=("v",),
        ).merge(empty)


def test_compact_children_one_global_commit(spark, tmp_path):
    """OPTIMIZE compacts fragmented buckets in every live child under
    ONE global version; rows, pruning, and time travel are unchanged."""
    st = _store(tmp_path)
    # AQE coalesces the collapse shuffle to one partition at this size,
    # which hides fragmentation; real fragmentation comes from
    # multi-partition writes, so pin that shape (the child compact
    # test's recipe)
    coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(coalesce_key, "true")
    spark.conf.set(coalesce_key, "false")
    try:
        st.merge(
            _batch(spark, [(d, k) for d in ("d1", "d2") for k in range(12)])
        )
    finally:
        spark.conf.set(coalesce_key, prev)
    before = _rows(st.read(spark))
    files_before = st.files_read()
    v = st.compact(spark, min_files=2)
    assert v == st.current_version()
    assert _rows(st.read(spark)) == before
    assert st.files_read() < files_before
    # compacting the already-compact store is a no-op, no version burns
    assert st.compact(spark, min_files=2) is None
    assert st.current_version() == v
    # time travel to the pre-compaction version still works
    assert _rows(st.read(spark, version=v - 1)) == before


def test_clean_orphans_removes_manifests_above_pointer(spark, tmp_path):
    """A crash between the manifest CAS and the pointer swap leaves an
    orphan global manifest; readers never see it, clean_orphans
    reclaims it, and the next commit retakes the version."""
    import json

    st = _store(tmp_path)
    st.merge(_batch(spark, [("d1", 1)]))  # v0
    # simulate the crashed writer: manifest for v1 exists, pointer at v0
    orphan = os.path.join(st.root, "v00001")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "manifest.json"), "w") as fh:
        json.dump({"partitions": {}}, fh)
    assert st.current_version() == 0
    assert _rows(st.read(spark)) == [("d1", 1, 1, "d1/1")]
    # the orphan blocks the next writer, which is told how to clear it
    from parquet_demo_spark.sources.merge_store import (
        ConcurrentWriteConflict,
    )

    with pytest.raises(ConcurrentWriteConflict, match="clean_orphans"):
        st.merge(_batch(spark, [("d2", 2)]))
    assert st.clean_orphans() == ["v00001"]
    # the retried write takes v1 cleanly
    st.merge(_batch(spark, [("d2", 2)]))
    assert st.current_version() == 1


def test_aborted_child_versions_never_leak_into_later_commits(
    spark, tmp_path
):
    """A writer that crashed AFTER committing a child version but BEFORE
    the global manifest commit leaves the child's HEAD ahead of the
    global pin. If that batch is never retried, the next unrelated
    write on the partition must NOT fold the aborted rows in — the
    write path restores the child to the pin first (ADVICE r7)."""
    st = _store(tmp_path)
    st.merge(_batch(spark, [("d1", 1), ("d2", 2)]))  # global v0
    # simulate the crash: advance p=d1's CHILD directly, no global commit
    entry = st._parts()["d1"]
    rogue = st._child(entry["dir"])
    rogue.merge(
        spark.createDataFrame([Row(day="d1", k=99, v=1, payload="ABORTED")])
    )
    assert rogue.current_version() == entry["version"] + 1
    # reads never see it (global pin), and the next merge restores the
    # child to the pin before building on it
    assert ("d1", 99, 1, "ABORTED") not in _rows(st.read(spark))
    st.merge(_batch(spark, [("d1", 5)]))  # unrelated retry-free write
    rows = _rows(st.read(spark))
    assert ("d1", 99, 1, "ABORTED") not in rows
    assert ("d1", 5, 1, "d1/5") in rows
    # same guard on the delete path
    entry = st._parts()["d1"]
    rogue = st._child(entry["dir"])
    rogue.merge(
        spark.createDataFrame([Row(day="d1", k=98, v=1, payload="ABORTED2")])
    )
    st.delete_where(spark, "k = 5")
    rows = _rows(st.read(spark))
    assert ("d1", 98, 1, "ABORTED2") not in rows
    assert ("d1", 5, 1, "d1/5") not in rows


def test_nonstring_partition_values_route_by_spark_rendering(
    spark, tmp_path
):
    """Partition routing and the per-partition filter derive from the
    SAME Spark-side cast('string') expression, so a double whose Python
    str() differs from Spark's rendering (1e-07 vs 1.0E-7) still lands
    every row (ADVICE r7: the old str(value) routing silently dropped
    them)."""
    store = PartitionedParquetMergeStore(
        str(tmp_path / "dbl"),
        keys=("bucket", "k"),
        partition_col="bucket",
        version_cols=("v",),
        num_buckets=2,
    )
    df = spark.createDataFrame(
        [
            Row(bucket=1e-07, k=1, v=1, payload="tiny"),
            Row(bucket=2.5, k=2, v=1, payload="big"),
        ]
    )
    assert str(1e-07) == "1e-07"  # the Python rendering that used to rout
    store.merge(df)
    got = sorted(
        (r.k, r.payload) for r in store.read(spark).collect()
    )
    assert got == [(1, "tiny"), (2, "big")]
    assert store.count_rows() == 2
    # the manifest key is Spark's rendering, and scoped reads use it
    assert any("E-7" in p or "1.0E" in p for p in store.partitions())


def test_global_stats_rollup_prunes_children(spark, tmp_path):
    """Non-partition predicates prune whole child directories via the
    global manifest's rolled-up per-column [min, max] (VERDICT r7 #2) —
    before any child manifest is opened."""
    st = _store(tmp_path)
    st.merge(
        spark.createDataFrame(
            [Row(day="d1", k=k, v=1, payload=f"p{k}") for k in range(0, 5)]
            + [
                Row(day="d2", k=k, v=1, payload=f"p{k}")
                for k in range(100, 105)
            ]
            + [
                Row(day="d3", k=k, v=1, payload=f"p{k}")
                for k in range(200, 205)
            ]
        )
    )
    parts = st._parts()
    # every entry carries the rollup, and it brackets the child's range
    assert parts["d2"]["stats"]["k"] == [100, 104]
    # manifest-level selection drops d1/d3 without touching their dirs
    sel = st._stats_select(parts, st._select(parts, None), {"k": (100, 102)})
    assert sel == ["d2"]
    assert st.files_read(where={"k": (100, 102)}) < st.files_read()
    got = sorted(r.k for r in st.read(spark, where={"k": (100, 102)}).collect())
    assert got == [100, 101, 102]
    # a column with no rollup never mis-prunes
    assert st._stats_select(parts, ["d1"], {"nope": (0, 1)}) == ["d1"]


def test_concurrent_multipartition_model_equivalence(
    spark, tmp_path_factory
):
    """Random op sequences — multi-partition merges carrying duplicate
    keys resolved by ``v``, scoped deletes, drops — end in exactly the
    dict model's state, for copy-on-write children (whose merges fan
    out over the thread pool) and for merge-on-read children (whose
    merges and deletes stage every touched child's delta in one
    write): the fused write paths are observationally identical to the
    old serial one (VERDICT r7 #1)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as hs

    _rows_strat = hs.lists(
        hs.tuples(
            hs.sampled_from(["d1", "d2", "d3", "d4", "d5"]),
            hs.integers(min_value=0, max_value=6),
        ),
        min_size=1,
        max_size=10,
    )
    _op = hs.one_of(
        hs.tuples(hs.just("merge"), _rows_strat),
        hs.tuples(hs.just("drop"), hs.sampled_from(["d1", "d2", "d3"])),
        hs.tuples(
            hs.just("delete_k_ge"), hs.integers(min_value=0, max_value=6)
        ),
    )

    @settings(
        max_examples=5,
        deadline=None,
        derandomize=True,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(ops=hs.lists(_op, min_size=2, max_size=5))
    def _run(ops):
        tmp = tmp_path_factory.mktemp("pmodel")
        store = PartitionedParquetMergeStore(
            str(tmp / "st"),
            keys=("day", "k"),
            partition_col="day",
            version_cols=("v",),
            num_buckets=2,
            write_concurrency=4,
            child_store=child_store,
        )
        model: dict[tuple, tuple] = {}
        seq = 0
        for kind, arg in ops:
            if kind == "merge":
                rows = [
                    Row(day=d, k=k, v=seq * 100 + i, payload=f"{d}/{k}/{seq}")
                    for i, (d, k) in enumerate(arg)
                ]
                seq += 1
                store.merge(spark.createDataFrame(rows))
                best: dict[tuple, tuple] = {}
                for r in rows:
                    key = (r.day, r.k)
                    if key not in best or r.v > best[key][0]:
                        best[key] = (r.v, r.payload)
                model.update(best)
            elif kind == "drop":
                if store.current_version() is None or arg not in (
                    store.partitions()
                ):
                    continue
                store.drop_partition(arg)
                model = {kk: vv for kk, vv in model.items() if kk[0] != arg}
            else:  # delete_k_ge
                if store.current_version() is None:
                    continue
                store.delete_where(spark, f"k >= {arg}")
                model = {kk: vv for kk, vv in model.items() if kk[1] < arg}
        if store.current_version() is None:
            assert model == {}
            return
        if not store.partitions():
            assert model == {}
            return
        got = {
            (r.day, r.k): (r.v, r.payload)
            for r in store.read(spark).collect()
        }
        assert got == model

    for child_store in ("cow", "mor"):
        _run()


# --- multi-column partitioning (VERDICT r7 #6) ---------------------------


def _mstore(tmp_path, **kw):
    defaults = dict(
        keys=("day", "src", "k"),
        partition_col=("day", "src"),
        version_cols=("v",),
        num_buckets=2,
    )
    defaults.update(kw)
    return PartitionedParquetMergeStore(str(tmp_path / "mstore"), **defaults)


def _mbatch(spark, rows):
    return spark.createDataFrame(
        [
            Row(day=d, src=s, k=k, v=1, payload=f"{d}/{s}/{k}")
            for d, s, k in rows
        ]
    )


def test_multicol_partition_routing_and_dirs(spark, tmp_path):
    st = _mstore(tmp_path)
    st.merge(
        _mbatch(
            spark,
            [
                ("d1", "web", 1),
                ("d1", "app", 2),
                ("d2", "web", 3),
            ],
        )
    )
    assert st.partitions() == ["d1|app", "d1|web", "d2|web"]
    assert os.path.isdir(os.path.join(st.root, "p=d1|web"))
    got = sorted(
        (r.day, r.src, r.k) for r in st.read(spark).collect()
    )
    assert got == [("d1", "app", 2), ("d1", "web", 1), ("d2", "web", 3)]


def test_multicol_scoped_read_prunes_on_both_columns(spark, tmp_path):
    st = _mstore(tmp_path)
    st.merge(
        _mbatch(
            spark,
            [
                ("d1", "web", 1),
                ("d1", "app", 2),
                ("d2", "web", 3),
                ("d2", "app", 4),
                ("d3", "web", 5),
            ],
        )
    )
    parts = st._parts()
    # day range alone
    sel = st._select(parts, {"day": ("d1", "d2")})
    assert sel == ["d1|app", "d1|web", "d2|app", "d2|web"]
    # both columns: one day x one source
    sel2 = st._select(parts, {"day": ("d2", "d2"), "src": ("web", "web")})
    assert sel2 == ["d2|web"]
    got = sorted(
        r.k
        for r in st.read(
            spark, partitions={"day": ("d1", "d2"), "src": ("app", "app")}
        ).collect()
    )
    assert got == [2, 4]
    # files_read prunes the same way
    assert st.files_read(
        partitions={"day": ("d2", "d2"), "src": ("web", "web")}
    ) < st.files_read()
    # unknown column raises
    with pytest.raises(ValueError, match="non-partition"):
        st._select(parts, {"nope": ("a", "b")})


def test_multicol_drop_partition_and_cdc(spark, tmp_path):
    st = _mstore(tmp_path)
    st.merge(_mbatch(spark, [("d1", "web", 1), ("d1", "app", 2)]))
    v0 = st.current_version()
    st.drop_partition(("d1", "app"))
    assert st.partitions() == ["d1|web"]
    ch = st.changes_between(spark, v0, st.current_version())
    rows = [(r.day, r.src, r.k, r._change_type) for r in ch.collect()]
    assert rows == [("d1", "app", 2, "delete")]


def test_multicol_upsert_and_delete_where(spark, tmp_path):
    st = _mstore(tmp_path)
    st.merge(_mbatch(spark, [("d1", "web", 1), ("d2", "app", 2)]))
    st.merge(
        spark.createDataFrame(
            [Row(day="d1", src="web", k=1, v=2, payload="upd")]
        )
    )
    got = {(r.day, r.src, r.k): r.payload for r in st.read(spark).collect()}
    assert got[("d1", "web", 1)] == "upd"
    st.delete_where(
        spark,
        F.col("k") == 2,
        partitions={"day": ("d2", "d2")},
    )
    assert sorted(
        (r.day, r.src, r.k) for r in st.read(spark).collect()
    ) == [("d1", "web", 1)]


def test_multicol_reopen_config_validation(spark, tmp_path):
    st = _mstore(tmp_path)
    st.merge(_mbatch(spark, [("d1", "web", 1)]))
    # same config reopens fine
    _mstore(tmp_path)
    with pytest.raises(ValueError, match="different config"):
        _mstore(tmp_path, partition_col=("day",), keys=("day", "src", "k"))


def test_partition_value_with_separator_rejected(spark, tmp_path):
    st = _mstore(tmp_path)
    with pytest.raises(ValueError, match="unsupported partition value"):
        st.merge(_mbatch(spark, [("d1", "we|b", 1)]))


def test_partitioned_point_lookup_bloom_pruning(spark, tmp_path):
    """A point lookup composes all pruning levels through the
    partitioned store: global stats rollup, child min/max, and child
    BLOOMS (min/max of a scattered column spans everything; only the
    bloom skips its buckets) — and the result is exact."""
    st = _store(tmp_path, bloom_cols=("k",))
    st.merge(
        _batch(
            spark,
            # k ranges overlap across partitions so child-level min/max
            # alone cannot prune the k=1 lookup out of d2/d3
            [("d1", 1), ("d1", 100), ("d2", 0), ("d2", 99), ("d3", 2),
             ("d3", 98)],
        )
    )
    rows = _rows(st.read(spark, where={"k": (1, 1)}))
    assert rows == [("d1", 1, 1, "d1/1")]
    assert st.files_read(where={"k": (1, 1)}) < st.files_read()


def test_partitioned_dv_delete_touches_no_data_dirs(spark, tmp_path):
    """delete_where(deletion_vectors=True) forwards to every in-scope
    child: data dirs stay byte-identical, rows are gone, CDC sees the
    deletes."""
    st = _store(tmp_path)
    st.merge(
        _batch(spark, [("d1", 1), ("d1", 2), ("d2", 3), ("d2", 4)])
    )
    v0 = st.current_version()
    data_dirs_before = {
        p: st._child(e["dir"])._bucket_paths(e["version"])
        for p, e in st._parts(v0).items()
    }
    v1 = st.delete_where(
        spark, F.col("k") % 2 == 1, deletion_vectors=True
    )
    parts = st._parts(v1)
    for p, e in parts.items():
        child = st._child(e["dir"])
        assert (
            child._bucket_paths(e["version"]) == data_dirs_before[p]
        )  # no data dir rewritten anywhere
        assert child._dv_entries(e["version"])  # vectors per child
    assert _rows(st.read(spark)) == [
        ("d1", 2, 1, "d1/2"),
        ("d2", 4, 1, "d2/4"),
    ]
    ch = st.changes_between(spark, v0, v1)
    assert sorted((r.day, r.k, r._change_type) for r in ch.collect()) == [
        ("d1", 1, "delete"),
        ("d2", 3, "delete"),
    ]
    assert st.count_rows() == 2


def test_partitioned_timestamp_travel_and_history(spark, tmp_path):
    """Table-level timestampAsOf + DESCRIBE HISTORY parity with the
    child store."""
    import time

    st = _store(tmp_path)
    st.merge(_batch(spark, [("d1", 1)]))  # v0
    t_between = time.time()
    time.sleep(0.05)
    st.merge(_batch(spark, [("d2", 2)]))  # v1
    st.drop_partition("d1")  # v2
    assert st.version_at(t_between) == 0
    assert st.version_at(time.time()) == 2
    assert _rows(st.read(spark, timestamp=t_between)) == [
        ("d1", 1, 1, "d1/1")
    ]
    with pytest.raises(ValueError, match="not both"):
        st.read(spark, version=1, timestamp=t_between)
    hist = st.describe_history()
    assert [h["operation"] for h in hist] == [
        "merge",
        "merge",
        "drop_partition",
    ]
    assert hist[-1]["n_partitions"] == 1


def test_table_restore_is_metadata_only_and_undoes_drops(spark, tmp_path):
    """Table-level RESTORE: one manifest re-pin undoes merges AND
    drops across partitions; no data file moves; history preserved."""
    st = _store(tmp_path)
    st.merge(_batch(spark, [("d1", 1), ("d2", 2)]))  # v0
    st.merge(
        spark.createDataFrame(
            [Row(day="d1", k=1, v=2, payload="edited")]
        )
    )  # v1: upsert
    st.drop_partition("d2")  # v2
    files_before = sum(len(fs) for _, _, fs in os.walk(st.root))
    v3 = st.restore(0)
    assert v3 == 3
    # metadata-only: exactly one new file — the v3 manifest (the
    # _latest pointer is swapped in place)
    walked = sum(len(fs) for _, _, fs in os.walk(st.root))
    assert walked == files_before + 1
    # the restored head IS the v0 state: drop undone, upsert reverted
    assert _rows(st.read(spark)) == [
        ("d1", 1, 1, "d1/1"),
        ("d2", 2, 1, "d2/2"),
    ]
    # rolled-back versions stay time-travelable
    assert _rows(st.read(spark, version=2)) == [("d1", 1, 2, "edited")]
    # CDC shows the net revert as signed diffs
    ch = st.changes_between(spark, 2, 3)
    kinds = sorted((r.day, r.k, r._change_type) for r in ch.collect())
    assert ("d2", 2, "insert") in kinds  # the resurrected partition
    # history records the restore
    assert st.describe_history()[-1] == {
        "version": 3,
        "operation": "restore",
        "op_params": {"to_version": 0},
        "committed_at": st.describe_history()[-1]["committed_at"],
        "n_partitions": 2,
    }


def test_table_restore_noop_and_error_paths(spark, tmp_path):
    st = _store(tmp_path)
    with pytest.raises(ValueError, match="empty"):
        st.restore(0)
    st.merge(_batch(spark, [("d1", 1)]))  # v0
    assert st.restore(0) == 0  # restoring HEAD burns no version
    assert st.current_version() == 0
    with pytest.raises(ValueError, match="committed versions"):
        st.restore(5)
    with pytest.raises(ValueError, match="committed versions"):
        st.restore(-1)


def test_table_restore_refuses_vacuumed_target(spark, tmp_path):
    st = _store(tmp_path)
    st.merge(_batch(spark, [("d1", 1)]))  # v0
    st.drop_partition("d1")  # v1
    st.merge(_batch(spark, [("d2", 2)]))  # v2
    st.vacuum(keep_last=1)  # removes p=d1 child and old manifests
    with pytest.raises(ValueError, match="vacuum"):
        st.restore(0)
    # head still intact after the refused restore
    assert st.current_version() == 2
    assert _rows(st.read(spark)) == [("d2", 2, 1, "d2/2")]


def test_table_restore_writes_build_on_the_restored_pin(spark, tmp_path):
    """After a restore leaves child HEADs above their pins, the next
    write must build on the PIN (the _pinned_child fence), not fold the
    rolled-back rows back in."""
    st = _store(tmp_path)
    st.merge(_batch(spark, [("d1", 1)]))  # v0, child v0
    st.merge(
        spark.createDataFrame([Row(day="d1", k=9, v=1, payload="late")])
    )  # v1, child v1
    st.restore(0)  # v2: child pinned back to v0; child HEAD is v1
    st.merge(
        spark.createDataFrame([Row(day="d1", k=3, v=1, payload="new")])
    )  # v3 builds on child v0
    assert _rows(st.read(spark)) == [
        ("d1", 1, 1, "d1/1"),
        ("d1", 3, 1, "new"),
    ]


def test_table_shallow_clone_zero_copy_and_divergent(spark, tmp_path):
    st = _store(tmp_path)
    st.merge(_batch(spark, [("d1", 1), ("d2", 2)]))  # v0
    st.merge(
        spark.createDataFrame([Row(day="d1", k=1, v=2, payload="edit")])
    )  # v1
    data_files_before = sum(
        len(fs)
        for root, _, fs in os.walk(st.root)
        if "parquet" in root or any(f.endswith(".parquet") for f in fs)
    )
    cl = st.shallow_clone(str(tmp_path / "clone"))
    # zero-copy: no parquet file written under the clone root
    assert not any(
        f.endswith(".parquet")
        for _, _, fs in os.walk(str(tmp_path / "clone"))
        for f in fs
    )
    # source data untouched
    assert (
        sum(
            len(fs)
            for root, _, fs in os.walk(st.root)
            if "parquet" in root or any(f.endswith(".parquet") for f in fs)
        )
        == data_files_before
    )
    assert _rows(cl.read(spark)) == _rows(st.read(spark))
    assert cl.describe_history()[0]["operation"] == "clone"
    # the clone diverges copy-on-write; the source never sees it
    cl.merge(
        spark.createDataFrame([Row(day="d3", k=7, v=1, payload="only")])
    )
    cl.delete_where(spark, "k = 2")
    assert _rows(cl.read(spark)) == [
        ("d1", 1, 2, "edit"),
        ("d3", 7, 1, "only"),
    ]
    assert _rows(st.read(spark)) == [
        ("d1", 1, 2, "edit"),
        ("d2", 2, 1, "d2/2"),
    ]
    with pytest.raises(ValueError, match="not empty"):
        st.shallow_clone(str(tmp_path / "clone"))


def test_table_shallow_clone_pins_not_child_heads(spark, tmp_path):
    """A crashed writer's orphan child version above the global pin must
    not leak into a clone — the clone follows the PIN."""
    st = _store(tmp_path)
    st.merge(_batch(spark, [("d1", 1)]))  # v0, child v0
    # simulate the crashed writer: child advances, global commit never
    # happens
    child = st._child(st._parts()["d1"]["dir"])
    child.merge(
        spark.createDataFrame(
            [Row(day="d1", k=666, v=1, payload="aborted")]
        )
    )
    cl = st.shallow_clone(str(tmp_path / "clone2"))
    assert _rows(cl.read(spark)) == [("d1", 1, 1, "d1/1")]


# -- table-level schema evolution (VERDICT r8 #3 / next-round #2) -----------


def test_partitioned_subset_evolution_keeps_table_readable(spark, tmp_path):
    """A widening merge routed to a SUBSET of partitions must leave the
    whole table readable: untouched children keep their narrow physical
    schema and the read aligns them to the evolved table schema with
    typed-null backfill (VERDICT r8 #3 — previously a successful write
    made every whole-table read raise AnalysisException)."""
    st = _store(tmp_path)
    st.merge(_batch(spark, [("d1", 1), ("d2", 1)]))
    st.merge(
        spark.createDataFrame(
            [Row(day="d1", k=2, v=1, payload="d1/2", extra=7)]
        ),
        allow_schema_evolution=True,
    )
    snap = st.read(spark)
    assert snap.columns == ["day", "k", "v", "payload", "extra"]
    got = sorted((r.day, r.k, r.extra) for r in snap.collect())
    assert got == [("d1", 1, None), ("d1", 2, 7), ("d2", 1, None)]
    # pruned read touching ONLY the pre-evolution partition still
    # presents the table schema, with a REAL type on the null column
    # (an untyped NullType would reach the parquet writer downstream)
    narrow = st.read(spark, partitions=("d2", "d2"))
    assert narrow.columns == ["day", "k", "v", "payload", "extra"]
    assert dict(narrow.dtypes)["extra"] == "bigint"
    assert [r.extra for r in narrow.collect()] == [None]
    # the zero-row branch aligns too
    empty = st.read(spark, partitions=("zz", "zz"))
    assert empty.columns == snap.columns and empty.count() == 0


def test_partitioned_strict_mode_rejects_drift_routed_to_new_partition(
    spark, tmp_path
):
    """The table-level strict check: a widened batch routed ONLY to a
    NEW partition creates a fresh child that would accept the wide
    schema without any child-level mismatch — the TABLE must reject it
    (or, with the flag, widen the global record)."""
    st = _store(tmp_path)
    st.merge(_batch(spark, [("d1", 1)]))
    wide = spark.createDataFrame(
        [Row(day="d9", k=1, v=1, payload="x", extra=1)]
    )
    with pytest.raises(ValueError, match="schema drift"):
        st.merge(wide)
    st.merge(wide, allow_schema_evolution=True)
    assert st.read(spark).columns == ["day", "k", "v", "payload", "extra"]
    # narrower batches matching a pre-evolution child also need the flag
    with pytest.raises(ValueError, match="schema drift"):
        st.merge(_batch(spark, [("d1", 2)]))


def test_partitioned_cdc_restore_clone_across_evolution(spark, tmp_path):
    st = _store(tmp_path)
    st.merge(_batch(spark, [("d1", 1), ("d2", 1)]))  # g0
    st.merge(
        spark.createDataFrame(
            [Row(day="d2", k=2, v=1, payload="d2/2", extra=5)]
        ),
        allow_schema_evolution=True,
    )  # g1
    # CDC across the evolution boundary: aligned to the WIDER schema
    cdc = st.changes_between(spark, 0, 1)
    assert cdc.columns == ["day", "k", "v", "payload", "extra",
                           "_change_type"]
    assert [(r.day, r.k, r.extra, r._change_type)
            for r in cdc.collect()] == [("d2", 2, 5, "insert")]
    # RESTORE across the boundary: the restored commit presents the
    # TARGET's (pre-evolution) schema, not the head's
    st.restore(0)
    assert st.read(spark).columns == ["day", "k", "v", "payload"]
    # ...and restoring forward again re-widens
    st.restore(1)
    assert st.read(spark).columns == ["day", "k", "v", "payload", "extra"]
    # SHALLOW CLONE of the evolved table inherits the schema record and
    # reads identically (including the evolved flag inside each child)
    cl = st.shallow_clone(str(tmp_path / "evoclone"))
    assert sorted(
        (r.day, r.k, r.extra) for r in cl.read(spark).collect()
    ) == [("d1", 1, None), ("d2", 1, None), ("d2", 2, 5)]


def test_partitioned_evolution_widen_narrow_interleaving(spark, tmp_path):
    """Widen/narrow batch interleavings at the TABLE level (mirror of
    the child's model-equivalence law): batches may add 'extra' or omit
    'payload'; the final snapshot equals the dict model and the column
    order is stored-then-new."""
    from pyspark.sql import types as T

    st = _store(tmp_path, num_buckets=2)
    model: dict[tuple, dict] = {}
    model_cols = ["day", "k", "v"]
    seq = [
        # (rows as (day, k, v, payload), with_extra, drop_payload)
        ([("d1", 1, 1, "a"), ("d2", 1, 1, "b")], False, False),
        ([("d1", 1, 2, "c"), ("d3", 1, 1, "d")], True, False),
        ([("d2", 1, 2, None), ("d2", 2, 1, None)], False, True),
        ([("d3", 1, 2, "e"), ("d1", 2, 1, "f")], True, False),
    ]
    for rows, with_extra, drop_payload in seq:
        fields = [
            ("day", T.StringType()),
            ("k", T.LongType()),
            ("v", T.LongType()),
        ]
        if not drop_payload:
            fields.append(("payload", T.StringType()))
        if with_extra:
            fields.append(("extra", T.LongType()))
        schema = T.StructType([T.StructField(n, t) for n, t in fields])
        data = []
        for day, k, v, p in rows:
            d = {"day": day, "k": k, "v": v, "payload": p,
                 "extra": k * 100 + v if with_extra else None}
            data.append(tuple(d[n] for n, _ in fields))
        st.merge(
            spark.createDataFrame(data, schema),
            allow_schema_evolution=True,
        )
        for n, _ in fields:
            if n not in model_cols:
                model_cols.append(n)
        for day, k, v, p in rows:
            pk = (day, k)
            if pk not in model or v >= model[pk]["v"]:
                model[pk] = {
                    "day": day, "k": k, "v": v,
                    "payload": None if drop_payload else p,
                    "extra": k * 100 + v if with_extra else None,
                }
    snap = st.read(spark)
    assert snap.columns == model_cols
    got = {(r.day, r.k): {c: r[c] for c in model_cols}
           for r in snap.collect()}
    want = {pk: {c: rec.get(c) for c in model_cols}
            for pk, rec in model.items()}
    assert got == want


# -- global-manifest bloom rollup (VERDICT r8 #7) ----------------------------


def test_point_lookup_prunes_partitions_via_global_bloom_rollup(
    spark, tmp_path
):
    """The global manifest's per-partition bloom (OR of the child's
    bucket blooms) must prune whole child stores on a point lookup
    BEFORE any child manifest is opened — min/max of a hash-scattered
    key never prunes, so this is the only manifest-level lever."""
    st = _store(tmp_path, bloom_cols=("k",))
    # overlapping k ranges: [0, 100] in every partition, so the stats
    # rollup cannot exclude any partition for k=7
    st.merge(
        _batch(
            spark,
            [("d1", 0), ("d1", 7), ("d1", 100),
             ("d2", 0), ("d2", 51), ("d2", 100),
             ("d3", 0), ("d3", 52), ("d3", 100)],
        )
    )
    parts = st._parts()
    # every entry carries a rolled-up bloom for k
    assert all("k" in (e.get("blooms") or {}) for e in parts.values())
    sel = st._stats_select(parts, sorted(parts), {"k": (7, 7)})
    assert sel == ["d1"]  # d2/d3 bloom-pruned at the GLOBAL manifest
    # stats alone would keep all three (overlapping ranges)
    stripped = {
        p: {**e, "blooms": {}} for p, e in parts.items()
    }
    assert st._stats_select(stripped, sorted(parts), {"k": (7, 7)}) == [
        "d1", "d2", "d3",
    ]
    # and the read is exact
    assert _rows(st.read(spark, where={"k": (7, 7)})) == [
        ("d1", 7, 1, "d1/7")
    ]
    # rollup survives clone and delete_where re-rollups
    cl = st.shallow_clone(str(tmp_path / "blclone"))
    assert st._stats_select(
        cl._parts(), sorted(cl._parts()), {"k": (7, 7)}
    ) == ["d1"]


# -- concurrent disjoint-partition writers (VERDICT r8 #6) -------------------


def test_concurrent_writers_on_disjoint_partitions_both_commit(
    spark, tmp_path
):
    """Two ingest jobs landing on DIFFERENT partitions commit different
    child stores and only collide on the global pointer CAS — the
    loser must rebase (overlay its partition entries on the new head)
    instead of raising, with serialized history intact."""
    st1 = _store(tmp_path)
    st1.merge(_batch(spark, [("d1", 1), ("d2", 1), ("d3", 1)]))
    st2 = PartitionedParquetMergeStore(
        str(tmp_path / "pstore"),
        keys=("day", "k"),
        partition_col="day",
        version_cols=("v",),
        num_buckets=2,
    )
    orig = st2._commit

    def delayed(*a, **kw):
        if not getattr(st2, "_raced", False):
            st2._raced = True
            st1.merge(
                spark.createDataFrame(
                    [Row(day="d1", k=2, v=1, payload="win-d1")]
                )
            )
        return orig(*a, **kw)

    st2._commit = delayed
    v = st2.merge(
        spark.createDataFrame([Row(day="d2", k=2, v=1, payload="lose-d2")])
    )
    # the loser's returned version must be the REBASED commit (v2),
    # not its stale pre-race target (v1 = the winner's)
    assert v == 2
    assert st2.current_version() == 2
    m = st2._read_manifest(2)
    assert m["op_params"].get("rebased_from") == 1
    rows = _rows(st2.read(spark))
    assert ("d1", 2, 1, "win-d1") in rows and ("d2", 2, 1, "lose-d2") in rows
    assert ("d1", 1, 1, "d1/1") in rows and ("d3", 5, 1, "d3/5") not in rows
    assert len(rows) == 5


def test_concurrent_writers_on_same_partition_conflict(spark, tmp_path):
    from parquet_demo_spark.sources.merge_store import (
        ConcurrentWriteConflict,
    )

    st1 = _store(tmp_path)
    st1.merge(_batch(spark, [("d1", 1)]))
    st2 = PartitionedParquetMergeStore(
        str(tmp_path / "pstore"),
        keys=("day", "k"),
        partition_col="day",
        version_cols=("v",),
        num_buckets=2,
    )
    orig = st2._commit

    def delayed(*a, **kw):
        if not getattr(st2, "_raced", False):
            st2._raced = True
            st1.merge(
                spark.createDataFrame(
                    [Row(day="d1", k=9, v=1, payload="win")]
                )
            )
        return orig(*a, **kw)

    st2._commit = delayed
    with pytest.raises(ConcurrentWriteConflict, match="overlapping"):
        st2.merge(
            spark.createDataFrame([Row(day="d1", k=8, v=1, payload="lose")])
        )


# -- ADVICE r8 (low): typed dict scoping + separator in single-col values ---


def test_dict_scoping_compares_numeric_bounds_numerically(spark, tmp_path):
    """A numeric (lo, hi) bound on a partition column must scope
    numerically: lexicographic '9' > '10' silently dropped partition 10
    from a (9, 12) range before."""
    st = PartitionedParquetMergeStore(
        str(tmp_path / "num"),
        keys=("src", "k"),
        partition_col="src",
        version_cols=("v",),
        num_buckets=2,
    )
    st.merge(
        spark.createDataFrame(
            [Row(src=s, k=1, v=1, payload=f"s{s}") for s in (2, 9, 10, 12, 30)]
        )
    )
    got = sorted(
        r.src for r in st.read(spark, partitions={"src": (9, 12)}).collect()
    )
    assert got == [9, 10, 12]
    # string bounds stay lexicographic (documented): every rendered
    # value sorts within ["10", "9"] here — including "2" and "30",
    # which a numeric (10, 9) range would exclude
    got_lex = sorted(
        r.src
        for r in st.read(spark, partitions={"src": ("10", "9")}).collect()
    )
    assert got_lex == [2, 9, 10, 12, 30]
    # numeric bound over a non-numeric component raises, never mis-scopes
    st2 = _store(tmp_path)
    st2.merge(_batch(spark, [("d1", 1)]))
    with pytest.raises(ValueError, match="non-numeric partition"):
        st2.read(spark, partitions={"day": (1, 2)})


def test_separator_allowed_in_single_column_partition_values(
    spark, tmp_path
):
    """ADVICE r8: '|' is only the composite separator for MULTI-column
    stores; a single-column store whose values contain it must stay
    fully writable/readable (backward compatibility with stores that
    predate composite keys)."""
    st = _store(tmp_path)
    st.merge(
        spark.createDataFrame(
            [Row(day="a|b", k=1, v=1, payload="x"),
             Row(day="plain", k=1, v=1, payload="y")]
        )
    )
    assert sorted(st.partitions()) == ["a|b", "plain"]
    assert _rows(st.read(spark, partitions=("a|b", "a|b"))) == [
        ("a|b", 1, 1, "x")
    ]
    # dict scoping splits with maxsplit → the value survives intact
    assert _rows(st.read(spark, partitions={"day": ("a|b", "a|b")})) == [
        ("a|b", 1, 1, "x")
    ]
    st.drop_partition("a|b")
    assert st.partitions() == ["plain"]


# -- table-level PK probe (round 9) ------------------------------------------


def test_partitioned_probe_opens_only_the_keys_partitions(
    spark, tmp_path, monkeypatch
):
    """probe() must partition-prune from the keys themselves (partition
    cols are PK cols): keys naming one partition invoke exactly one
    child probe; absent partitions are no-ops; results are exact."""
    from parquet_demo_spark.sources.merge_store import ParquetMergeStore

    st = _store(tmp_path)
    st.merge(_batch(spark, [("d1", 1), ("d2", 1), ("d3", 1)]))
    calls = []
    orig = ParquetMergeStore.probe
    routed = []
    orig_layout = type(st)._child_layout

    def counting(self, *a, **kw):
        calls.append(self.root)
        return orig(self, *a, **kw)

    def recording(self, entry, buckets=None, where=None):
        routed.append(entry["dir"])
        return orig_layout(self, entry, buckets, where)

    monkeypatch.setattr(ParquetMergeStore, "probe", counting)
    monkeypatch.setattr(type(st), "_child_layout", recording)
    keys = spark.createDataFrame(
        [Row(day="d2", k=1), Row(day="d2", k=999), Row(day="zz", k=1)]
    )
    got = _rows(st.probe(spark, keys))
    assert got == [("d2", 1, 1, "d2/1")]
    # exactly one partition routed (fused scan over its dirs only;
    # the fusion replaced the per-child probe call, so the pruning
    # evidence is the routed layout list, not a child-probe count)
    assert routed == ["p=d2"] and calls == []
    # zero matching partitions: schema-only empty frame, no child probe
    routed.clear()
    empty = st.probe(spark, spark.createDataFrame([Row(day="zz", k=1)]))
    assert empty.count() == 0 and empty.columns == [
        "day", "k", "v", "payload",
    ]
    assert routed == [] and calls == []


def test_partitioned_probe_aligns_across_evolution(spark, tmp_path):
    """A probe spanning the evolution boundary presents the TABLE
    schema: rows from pre-evolution children typed-null backfill."""
    st = _store(tmp_path)
    st.merge(_batch(spark, [("d1", 1), ("d2", 1)]))
    st.merge(
        spark.createDataFrame(
            [Row(day="d1", k=2, v=1, payload="d1/2", extra=7)]
        ),
        allow_schema_evolution=True,
    )
    keys = spark.createDataFrame(
        [Row(day="d1", k=2), Row(day="d2", k=1)]
    )
    got = sorted(
        (r.day, r.k, r.extra) for r in st.probe(spark, keys).collect()
    )
    assert got == [("d1", 2, 7), ("d2", 1, None)]


def test_probe_rejects_nothing_for_unwritable_partition_keys(
    spark, tmp_path
):
    """Probe keys whose partition value could never have been written
    ('/', empty, NULL) match nothing instead of aborting the batch; an
    all-dropped table raises the same clean error as read()."""
    st = _store(tmp_path)
    st.merge(_batch(spark, [("d1", 1)]))
    keys = spark.createDataFrame(
        [
            Row(day="d1", k=1),
            Row(day="a/b", k=1),   # separator-invalid: absent by law
            Row(day=None, k=1),    # NULL partition: absent by law
        ]
    )
    assert _rows(st.probe(spark, keys)) == [("d1", 1, 1, "d1/1")]
    st.drop_partition("d1")
    with pytest.raises(ValueError, match="no live partitions"):
        st.probe(spark, spark.createDataFrame([Row(day="d1", k=1)]))


def test_partitioned_probe_is_one_driver_job_per_batch(
    spark, tmp_path, monkeypatch
):
    """The whole probe batch's (partition, bucket) pairs come from ONE
    collect; the K child probes then run collect-free on their
    pre-computed bucket slices — K touched partitions must not pay
    K+1 sequential driver jobs (VERDICT r9 #5)."""
    # patch the CONCRETE class: pyspark.sql.DataFrame is the abstract
    # base; instances are classic.dataframe.DataFrame with its own
    # collect
    from pyspark.sql.classic.dataframe import DataFrame

    st = _store(tmp_path)
    st.merge(
        _batch(
            spark,
            [(d, k) for d in ("d1", "d2", "d3", "d4") for k in range(4)],
        )
    )
    keys = spark.createDataFrame(
        [Row(day=d, k=k) for d in ("d1", "d2", "d3", "d4") for k in (0, 3)]
    )
    collects = []
    orig = DataFrame.collect

    def counting(self):
        collects.append(1)
        return orig(self)

    monkeypatch.setattr(DataFrame, "collect", counting)
    got = st.probe(spark, keys)  # plan construction runs the collects
    assert len(collects) == 1, f"{len(collects)} driver jobs for 4 partitions"
    monkeypatch.setattr(DataFrame, "collect", orig)
    assert sorted((r.day, r.k) for r in got.collect()) == sorted(
        (d, k) for d in ("d1", "d2", "d3", "d4") for k in (0, 3)
    )


def test_partitioned_probe_casts_drifted_key_types(spark, tmp_path):
    """Table-level twin of the child-probe type law: int-typed probe
    keys against a bigint-keyed store must bucket by the STORED type
    (the partition match is string-folded either way; the bucket hash
    is the type-sensitive part)."""
    st = _store(tmp_path, num_buckets=16)
    st.merge(_batch(spark, [("d1", k) for k in range(40)]))
    drifted = spark.createDataFrame(
        [("d1", k) for k in range(40)], "day string, k int"
    )
    got = sorted((r.day, r.k) for r in st.probe(spark, drifted).collect())
    assert got == [("d1", k) for k in range(40)]


def test_restore_to_legacy_manifest_derives_target_columns(
    spark, tmp_path
):
    """restore() to a pre-record target (manifest without a 'columns'
    entry) must derive the TARGET-era schema from the pinned children,
    not carry the head's wider record forward (ADVICE r9)."""
    import json as _json

    from parquet_demo_spark.sources import merge_store as ms

    st = _store(tmp_path)
    st.merge(_batch(spark, [("d1", 1), ("d2", 1)]))
    # strip the schema record from v0's manifest to fake a legacy store
    mp = st._manifest_path(0)
    m = _json.load(open(mp))
    m.pop("columns", None)
    m.pop("column_types", None)
    with open(mp, "w") as fh:
        _json.dump(m, fh)
    ms._MANIFEST_CACHE.clear()
    ms._MANIFEST_CACHE_BYTES[0] = 0
    # head evolves wider
    st.merge(
        spark.createDataFrame(
            [Row(day="d1", k=2, v=1, payload="w", extra=7)]
        ),
        allow_schema_evolution=True,
    )
    v = st.restore(0)
    rm = st._read_manifest(v)
    assert rm["columns"] == ["day", "k", "v", "payload"], rm["columns"]
    got = st.read(spark, version=v)
    assert got.columns == ["day", "k", "v", "payload"]
    assert sorted((r.day, r.k) for r in got.collect()) == [
        ("d1", 1), ("d2", 1)
    ]


def test_partitioned_vacuum_older_than(spark, tmp_path):
    """Table-level time-based retention: versions committed before the
    cutoff (outside keep_last) lose their manifests and orphaned child
    dirs; retained versions stay time-travelable; expired versions
    raise the descriptive error up front."""
    import time

    st = _store(tmp_path)
    st.merge(_batch(spark, [("d1", 1)]))            # v0
    st.drop_partition("d1")                          # v1
    cutoff = time.time()
    time.sleep(0.01)
    st.merge(_batch(spark, [("d2", 1)]))            # v2
    st.merge(_batch(spark, [("d2", 2)]))            # v3

    removed = st.vacuum(keep_last=1, older_than=cutoff)
    # v0/v1 manifests expired; d1's epoch dir is unreferenced by any
    # kept version and goes with them
    assert any(r.startswith("v0000") for r in removed)
    assert any(r.startswith("p=d1") for r in removed)
    assert _rows(st.read(spark, version=2)) == [("d2", 1, 1, "d2/1")]
    assert sorted(
        (r.day, r.k) for r in st.read(spark, version=3).collect()
    ) == [("d2", 1), ("d2", 2)]
    with pytest.raises(ValueError, match="never committed, or removed"):
        st.read(spark, version=0)


def test_partitioned_vacuum_older_than_keeps_legacy_undated(
    spark, tmp_path
):
    """A legacy manifest with no committed_at must survive older_than
    even when it sits BELOW a dated-old (expired) version: never
    expire data whose age can't be proven (the child store's law; a
    contiguous-window walk that stops at the first dated-old version
    would silently destroy the undated one underneath it)."""
    import json
    import time

    st = _store(tmp_path)
    st.merge(_batch(spark, [("d1", 1)]))            # v0 -> made legacy
    st.merge(_batch(spark, [("d2", 1)]))            # v1 (dated, old)
    cutoff = time.time()
    time.sleep(0.01)
    st.merge(_batch(spark, [("d2", 2)]))            # v2
    st.merge(_batch(spark, [("d2", 3)]))            # v3 (head)

    # strip v0's committed_at: a store created before the record
    mp = st._manifest_path(0)
    m = json.load(open(mp))
    del m["committed_at"]
    json.dump(m, open(mp, "w"))

    removed = st.vacuum(keep_last=1, older_than=cutoff)
    # v1 (dated before the cutoff, outside keep_last) expires; the
    # undated v0 does NOT
    assert any(r == "v00001" for r in removed), removed
    assert not any(r == "v00000" for r in removed), removed
    assert _rows(st.read(spark, version=0)) == [("d1", 1, 1, "d1/1")]
    with pytest.raises(ValueError, match="never committed, or removed"):
        st.read(spark, version=1)


def test_era_scan_matches_per_child_reads(spark, tmp_path):
    """read()'s one fused plan (ONE multi-path base scan, round-10
    VERDICT #7) returns exactly what the children's own reads return,
    with and without ``where``, on a store mixing every child state:
    plain children, a DV-carrying child (the DV anti-joined), an
    evolved child (typed NULLs from the table DDL) and, after a
    clustered compact, children whose manifests record per-file
    stats. A vacuumed child pin raises the descriptive error."""
    st = _store(tmp_path, bloom_cols=("k",))
    st.merge(
        _batch(
            spark,
            [(d, k) for d in ("d1", "d2", "d3", "d4") for k in (1, 2, 3)],
        )
    )
    # evolve a SUBSET (d2 gains 'extra'; other children keep the
    # narrow schema), then soft-delete inside d3 via deletion vectors
    st.merge(
        spark.createDataFrame(
            [Row(day="d2", k=9, v=1, payload="wide", extra=7)]
        ),
        allow_schema_evolution=True,
    )
    st.delete_where(
        spark,
        (F.col("day") == "d3") & (F.col("k") == 2),
        deletion_vectors=True,
    )
    key = lambda df: sorted(  # noqa: E731
        (tuple(r) for r in df.select(*sorted(df.columns)).collect()),
        key=repr,  # rows carry typed NULLs (the evolved column)
    )
    wheres = [
        None,
        {"k": (2, 3)},  # a range
        {"k": (9, 9)},  # a point lookup: blooms and min/max prune
        {"k": (2, 2)},
    ]

    def check(label):
        for where in wheres:
            fast = st.read(spark, where=where)
            slow = _per_child_read(spark, st, where=where)
            assert fast.columns == slow.columns, (label, where)
            assert key(fast) == key(slow), (label, where)
            assert _row_scans(fast)[0] <= 1, (label, where)

    check("evolved + DV")
    fast = st.read(spark)
    assert _row_scans(fast) == (1, 0)
    assert ("d3", 2, 1, "d3/2", None) not in [
        (r.day, r.k, r.v, r.payload, r.extra) for r in fast.collect()
    ]  # the DV'd row is gone on the fast path too
    assert key(st.read(spark, where={"k": (9, 9)})) == [
        ("d2", 7, 9, "wide", 1)
    ]

    # clustered compact: every child records per-file min/max boxes
    v_old = st.current_version()
    st.compact(spark, cluster_by=["k"])
    parts = st._parts(st.current_version())
    assert all(
        st._child(e["dir"])._read_manifest(e["version"]).get("file_stats")
        for e in parts.values()
    )
    check("clustered")

    # a vacuumed child pin: the table manifest survives, the child's
    # pre-compact data dirs do not
    for e in parts.values():
        st._child(e["dir"]).vacuum(keep_last=1)
    with pytest.raises(ValueError, match="vacuum"):
        st.read(spark, version=v_old)
    with pytest.raises(ValueError, match="vacuum"):
        _per_child_read(spark, st, version=v_old)
    check("after child vacuum")


def test_files_read_counts_the_files_a_where_read_scans(spark, tmp_path):
    """files_read counts the read's own layouts: on a clustered table
    (per-file min/max boxes) without deletion vectors, the files a
    ``where`` read's scan relations open are exactly
    ``files_read(where=...)``, and fewer than a full read's."""
    st = _store(tmp_path)
    st.merge(
        spark.createDataFrame(
            [
                Row(day=d, k=k, v=1, payload=f"{d}/{k}")
                for d in ("d1", "d2")
                for k in range(64)
            ]
        )
    )
    st.compact(spark, cluster_by=["k"], files_per_bucket=4)
    where = {"k": (8, 15)}
    df = st.read(spark, where=where)
    assert len(df.inputFiles()) == st.files_read(where=where)
    assert st.files_read(where=where) < st.files_read()
    assert len(st.read(spark).inputFiles()) == st.files_read()
    assert sorted((r.day, r.k) for r in df.collect()) == [
        (d, k) for d in ("d1", "d2") for k in range(8, 16)
    ]


def test_merge_rejects_retyped_batch_even_into_new_partition(
    spark, tmp_path
):
    """The TYPE half of the table-level schema law (round-11 review):
    a batch whose column types drift from the table's record must be
    rejected at the door — with or without allow_schema_evolution —
    because a retyped batch routed exclusively to a NEW partition
    creates a drifted child no child-level check ever sees, and an
    era-grouped whole-table scan then dies on the mixed types."""
    st = _store(tmp_path)
    st.merge(_batch(spark, [("d1", 1), ("d2", 2)]))
    drifted = spark.createDataFrame(
        [Row(day="d9", k=1, v=1, payload=7)]  # payload long, was string
    )
    with pytest.raises(ValueError, match="TYPES"):
        st.merge(drifted)
    with pytest.raises(ValueError, match="TYPES"):
        st.merge(drifted, allow_schema_evolution=True)
    # the table is untouched and still fully readable
    assert len(_rows(st.read(spark))) == 2


# --- table-level write-audit-publish (VERDICT r11 #3) -----------------------


def test_table_wap_publish_adopts_audited_snapshot(spark, tmp_path):
    """The published table snapshot must be the EXACT rows the audit
    read, across touched, untouched, and NEW partitions — one global
    commit, production untouched while the branch is open."""
    st = _store(tmp_path)
    st.merge(_batch(spark, [("d1", 1), ("d2", 1), ("d3", 1)]))
    br = st.wap_branch("audit1")
    # touch d2 (update) and create d4 (new partition) on the branch
    br.merge(
        spark.createDataFrame(
            [
                Row(day="d2", k=1, v=2, payload="d2/1-fixed"),
                Row(day="d4", k=9, v=1, payload="d4/9"),
            ]
        )
    )
    audited = _rows(br.read(spark))
    assert _rows(st.read(spark)) == [
        ("d1", 1, 1, "d1/1"),
        ("d2", 1, 1, "d2/1"),
        ("d3", 1, 1, "d3/1"),
    ]
    v = st.wap_publish(br)
    assert v == st.current_version()
    assert _rows(st.read(spark)) == audited
    hist = st.describe_history()
    assert hist[-1]["operation"] == "wap_publish"
    assert hist[-1]["op_params"]["published_partitions"] == ["d2", "d4"]
    # the fast-forward consumed the branch
    assert not os.path.exists(br.root)
    # untouched partitions re-pinned their production entries (no
    # _branches indirection anywhere in the head manifest)
    for e in st._parts(v).values():
        assert "_branches" not in e["dir"]


def test_table_wap_abandon_never_touches_production(spark, tmp_path):
    st = _store(tmp_path)
    st.merge(_batch(spark, [("d1", 1)]))
    br = st.wap_branch("audit1")
    br.merge(
        spark.createDataFrame([Row(day="d1", k=1, v=2, payload="BAD")])
    )
    st.wap_abandon(br)
    assert not os.path.exists(br.root)
    assert _rows(st.read(spark)) == [("d1", 1, 1, "d1/1")]
    # the name is reusable after abandon
    br2 = st.wap_branch("audit1")
    assert _rows(br2.read(spark)) == [("d1", 1, 1, "d1/1")]
    st.wap_abandon(br2)


def test_table_wap_publish_refuses_moved_base(spark, tmp_path):
    from parquet_demo_spark.sources.partitioned_store import (
        ConcurrentWriteConflict,
    )

    st = _store(tmp_path)
    st.merge(_batch(spark, [("d1", 1)]))
    br = st.wap_branch("audit1")
    br.merge(
        spark.createDataFrame([Row(day="d2", k=2, v=1, payload="d2/2")])
    )
    st.merge(_batch(spark, [("d9", 9)]))  # production advances
    with pytest.raises(ConcurrentWriteConflict, match="re-branch"):
        st.wap_publish(br)
    # the branch survived the refused publish intact (no renames stuck)
    assert _rows(br.read(spark)) == [
        ("d1", 1, 1, "d1/1"),
        ("d2", 2, 1, "d2/2"),
    ]
    st.wap_abandon(br)


def test_table_wap_publish_rejects_foreign_branch(spark, tmp_path):
    st = _store(tmp_path)
    st.merge(_batch(spark, [("d1", 1)]))
    other = PartitionedParquetMergeStore(
        str(tmp_path / "other"),
        keys=("day", "k"),
        partition_col="day",
        version_cols=("v",),
        num_buckets=2,
    )
    other.merge(_batch(spark, [("d1", 1)]))
    with pytest.raises(ValueError, match="not a branch"):
        st.wap_publish(other)
    br = st.wap_branch("audit1")
    with pytest.raises(ValueError, match="nothing to publish"):
        st.wap_publish(br)  # no audited commits beyond the base
    st.wap_abandon(br)


def test_table_wap_branch_rejects_traversal_names(spark, tmp_path):
    st = _store(tmp_path)
    st.merge(_batch(spark, [("d1", 1)]))
    for bad in ("../../x", "a/b", "..", "", "a\\b"):
        with pytest.raises(ValueError, match="branch name"):
            st.wap_branch(bad)


def test_table_wap_publish_then_vacuum_keeps_head_readable(
    spark, tmp_path
):
    """The table analog of the child store's ADVICE r11 vacuum law: a
    published (moved) child still references the PRE-publish child's
    data dirs for buckets the branch never rewrote; expiring the old
    global versions must not rmtree those dirs while the head reads
    through them (reference-aware vacuum)."""
    st = _store(tmp_path)
    st.merge(_batch(spark, [("d1", 1), ("d1", 2), ("d2", 1)]))
    br = st.wap_branch("audit1")
    # touch ONE key of d1: the d1 branch child rewrites one bucket,
    # inheriting absolute clone refs for the other bucket
    br.merge(
        spark.createDataFrame(
            [Row(day="d1", k=1, v=2, payload="d1/1-fixed")]
        )
    )
    st.wap_publish(br)
    st.vacuum(keep_last=1)
    assert _rows(st.read(spark)) == [
        ("d1", 1, 2, "d1/1-fixed"),
        ("d1", 2, 1, "d1/2"),
        ("d2", 1, 1, "d2/1"),
    ]
    # a LATER rewrite of the published child internalizes its refs;
    # vacuum may then reclaim the pre-publish epoch dir — and the
    # table still reads exactly right (the lifecycle completes)
    st.merge(
        spark.createDataFrame(
            [Row(day="d1", k=2, v=3, payload="d1/2-next")]
        )
    )
    st.vacuum(keep_last=1)
    assert _rows(st.read(spark)) == [
        ("d1", 1, 2, "d1/1-fixed"),
        ("d1", 2, 3, "d1/2-next"),
        ("d2", 1, 1, "d2/1"),
    ]


def test_table_wap_publish_drop_and_time_travel(spark, tmp_path):
    """A drop_partition on the branch publishes too, the pre-publish
    version stays time-travelable while retained, and the branch's
    intermediate states never appear in production history."""
    st = _store(tmp_path)
    st.merge(_batch(spark, [("d1", 1), ("d2", 1)]))
    pre = st.current_version()
    br = st.wap_branch("audit1")
    br.drop_partition("d2")
    br.merge(
        spark.createDataFrame([Row(day="d1", k=1, v=2, payload="d1/1b")])
    )
    v = st.wap_publish(br)
    assert st.describe_history()[-1]["op_params"][
        "dropped_partitions"
    ] == ["d2"]
    assert _rows(st.read(spark)) == [("d1", 1, 2, "d1/1b")]
    # ONE production commit adopted two branch commits
    assert v == pre + 1
    # time travel to the base still shows d2
    assert _rows(st.read(spark, version=pre)) == [
        ("d1", 1, 1, "d1/1"),
        ("d2", 1, 1, "d2/1"),
    ]


# --- merge-on-read children (VERDICT r11 #4) --------------------------------


def _mor_store(tmp_path, **kw):
    defaults = dict(
        keys=("day", "k"),
        partition_col="day",
        version_cols=("v",),
        num_buckets=2,
        child_store="mor",
    )
    defaults.update(kw)
    return PartitionedParquetMergeStore(
        str(tmp_path / "pmor"), **defaults
    )


def test_mor_children_merge_read_and_time_travel(spark, tmp_path):
    """Scatter-write batches append O(batch) deltas per child; reads
    resolve the overlay; global versions pin child LOG ENTRIES, so
    time travel sees exactly each version's state."""
    st = _mor_store(tmp_path)
    v0 = st.merge(_batch(spark, [("d1", 1), ("d1", 2), ("d2", 1)]))
    st.merge(
        spark.createDataFrame(
            [
                Row(day="d1", k=1, v=2, payload="d1/1b"),
                Row(day="d2", k=9, v=1, payload="d2/9"),
            ]
        )
    )
    assert _rows(st.read(spark)) == [
        ("d1", 1, 2, "d1/1b"),
        ("d1", 2, 1, "d1/2"),
        ("d2", 1, 1, "d2/1"),
        ("d2", 9, 1, "d2/9"),
    ]
    # time travel to v0: the second batch's deltas are invisible
    assert _rows(st.read(spark, version=v0)) == [
        ("d1", 1, 1, "d1/1"),
        ("d1", 2, 1, "d1/2"),
        ("d2", 1, 1, "d2/1"),
    ]
    # partition-scoped read prunes children by manifest
    assert _rows(st.read(spark, partitions=("d2", "d2"))) == [
        ("d2", 1, 1, "d2/1"),
        ("d2", 9, 1, "d2/9"),
    ]
    # reopen with the wrong child type raises
    with pytest.raises(ValueError, match="child_store"):
        PartitionedParquetMergeStore(
            st.root,
            keys=("day", "k"),
            partition_col="day",
            version_cols=("v",),
            num_buckets=2,
        )


def test_mor_children_delete_compact_restore(spark, tmp_path):
    """DELETE WHERE tombstones matching rows as 'd' deltas; table
    compact folds each child's log into its base and re-pins the
    truncation entry; restore re-pins an earlier global version."""
    st = _mor_store(tmp_path)
    st.merge(_batch(spark, [("d1", 1), ("d1", 2), ("d2", 1)]))
    v1 = st.delete_where(spark, F.col("k") == 2)
    assert _rows(st.read(spark)) == [
        ("d1", 1, 1, "d1/1"),
        ("d2", 1, 1, "d2/1"),
    ]
    # no-match delete burns nothing (the child no-op law)
    assert st.delete_where(spark, F.col("k") == 777) == v1
    v2 = st.compact(spark)
    assert v2 == v1 + 1
    assert _rows(st.read(spark)) == [
        ("d1", 1, 1, "d1/1"),
        ("d2", 1, 1, "d2/1"),
    ]
    # the fold materialized the deltas: the children's logs are empty
    parts = st._parts(v2)
    assert all(
        st._child(e["dir"]).delta_count() == 0 for e in parts.values()
    )
    # pre-delete state is still one restore away (metadata-only)
    v3 = st.restore(0)
    assert v3 == v2 + 1
    assert _rows(st.read(spark)) == [
        ("d1", 1, 1, "d1/1"),
        ("d1", 2, 1, "d1/2"),
        ("d2", 1, 1, "d2/1"),
    ]


def test_mor_children_fence_crashed_writer(spark, tmp_path, monkeypatch):
    """Child log entries above the global pin (a crashed global
    writer) must not fold into the next successful commit: the next
    write restores the child to the pin first — whether it is a one-
    or two-partition merge or a two-partition delete_where, and
    whether the crash came from another writer or from this table's
    own fused write failing between two children's adoptions."""
    from parquet_demo_spark.sources.mor_store import MergeOnReadStore

    st = _mor_store(tmp_path)
    st.merge(_batch(spark, [("d1", 1), ("d2", 1)]))

    def crash(days):
        # a child delta committed, the global commit lost
        for day in days:
            entry = st._parts(st.current_version())[day]
            orphan_child = st._child(entry["dir"])
            orphan_child.commit_delta(
                spark.createDataFrame(
                    [Row(day=day, k=1, v=9, payload="ABORTED")]
                )
            )
            assert orphan_child.current_version() > entry["version"]

    crash(["d1"])
    # next table write builds on the PIN: the aborted row never lands
    st.merge(
        spark.createDataFrame([Row(day="d1", k=2, v=1, payload="d1/2")])
    )
    assert _rows(st.read(spark)) == [
        ("d1", 1, 1, "d1/1"),
        ("d1", 2, 1, "d1/2"),
        ("d2", 1, 1, "d2/1"),
    ]
    crash(["d1", "d2"])
    st.merge(_batch(spark, [("d1", 3), ("d2", 3)]))
    assert _rows(st.read(spark)) == [
        ("d1", 1, 1, "d1/1"),
        ("d1", 2, 1, "d1/2"),
        ("d1", 3, 1, "d1/3"),
        ("d2", 1, 1, "d2/1"),
        ("d2", 3, 1, "d2/3"),
    ]
    crash(["d1", "d2"])
    st.delete_where(spark, F.col("k") == 3)
    expected = [
        ("d1", 1, 1, "d1/1"),
        ("d1", 2, 1, "d1/2"),
        ("d2", 1, 1, "d2/1"),
    ]
    assert _rows(st.read(spark)) == expected

    # this table's own fused write fails after the first child adopted
    # its staged delta: nothing becomes visible, nothing is left staged
    real_append = MergeOnReadStore._append_delta
    calls = []

    def failing_append(self, *args, **kwargs):
        calls.append(self.root)
        if len(calls) == 2:
            raise RuntimeError("simulated crash between adoptions")
        return real_append(self, *args, **kwargs)

    v = st.current_version()
    monkeypatch.setattr(MergeOnReadStore, "_append_delta", failing_append)
    with pytest.raises(RuntimeError, match="between adoptions"):
        st.merge(
            spark.createDataFrame(
                [
                    Row(day="d1", k=1, v=7, payload="ABORTED"),
                    Row(day="d2", k=1, v=7, payload="ABORTED"),
                ]
            )
        )
    monkeypatch.setattr(MergeOnReadStore, "_append_delta", real_append)
    assert len(calls) == 2
    assert st.current_version() == v
    assert _rows(st.read(spark)) == expected
    assert not [n for n in os.listdir(st.root) if n.startswith("_staging.")]
    st.merge(_batch(spark, [("d1", 4), ("d2", 4)]))
    assert _rows(st.read(spark)) == sorted(
        expected + [("d1", 4, 1, "d1/4"), ("d2", 4, 1, "d2/4")]
    )


def _assert_rejected(st, batch, match):
    """``merge(batch)`` raises ``match`` with nothing changed: no child
    file, no leftover staging dir, no new version."""
    before = (_child_files(st.root), st.current_version())
    with pytest.raises(ValueError, match=match):
        st.merge(batch)
    assert (_child_files(st.root), st.current_version()) == before
    assert not [n for n in os.listdir(st.root) if n.startswith("_staging.")]


def test_mor_merge_routes_from_the_staged_listing(spark, tmp_path):
    """A merge-on-read merge routes from its staged write's dir
    listing, which carries every routing law: an empty value stages
    as NULL and is refused like one, a '|' inside a component of a
    multi-column table is refused, an empty batch burns no version
    (and cannot bootstrap a table), and values Spark Hive-escapes in
    dir names route back exactly."""
    st = _mor_store(tmp_path)
    empty = _batch(spark, [("d1", 1)]).filter(F.col("k") < 0)
    _assert_rejected(st, empty, "empty batch")
    _assert_rejected(st, _batch(spark, [("d1", 1), ("", 2)]), "NULL")
    st.merge(_batch(spark, [("d1", 1)]))
    _assert_rejected(st, _batch(spark, [("d1", 2), ("", 2)]), "empty value")
    _assert_rejected(
        st, _batch(spark, [("d1", 2), ("a\x00b", 2)]), "NUL character"
    )
    before = _child_files(st.root)
    assert st.merge(empty) == 0
    assert _child_files(st.root) == before

    mst = _mstore(tmp_path, child_store="mor")
    mst.merge(_mbatch(spark, [("d1", "web", 1)]))
    _assert_rejected(
        mst,
        _mbatch(spark, [("d1", "web", 2), ("d1", "we|b", 1)]),
        "unsupported partition value",
    )

    odd = ["a b", "x%y", "k=v", "t:1", "é", "a|b"]
    st.merge(_batch(spark, [(d, 1) for d in odd]))
    st.merge(_batch(spark, [(d, 2) for d in odd]))
    assert st.partitions() == sorted(["d1", *odd])
    assert {e["dir"] for e in st._parts().values()} == {
        f"p={d}" for d in ["d1", *odd]
    }
    assert _rows(st.read(spark)) == sorted(
        [("d1", 1, 1, "d1/1")]
        + [(d, k, 1, f"{d}/{k}") for d in odd for k in (1, 2)]
    )


def test_mor_merge_failed_check_creates_no_child(
    spark, tmp_path, monkeypatch
):
    """A live child's failed fence or schema check stops a merge before
    any fresh child's dir is created, so the retry puts the new
    partition in its bare ``p=<value>`` dir, not a later epoch."""
    from parquet_demo_spark.sources.mor_store import MergeOnReadStore

    st = _mor_store(tmp_path)
    st.merge(_batch(spark, [("d5", 1)]))
    real = MergeOnReadStore._delta_schema

    def failing(self, batch):
        raise ValueError("simulated drift")

    monkeypatch.setattr(MergeOnReadStore, "_delta_schema", failing)
    batch = _batch(spark, [("d1", 1), ("d5", 2)])
    _assert_rejected(st, batch, "simulated drift")
    assert not os.path.exists(os.path.join(st.root, "p=d1"))
    monkeypatch.setattr(MergeOnReadStore, "_delta_schema", real)
    st.merge(batch)
    assert st._parts()["d1"]["dir"] == "p=d1"


def test_mor_children_cow_only_surfaces_raise(spark, tmp_path):
    st = _mor_store(tmp_path)
    st.merge(_batch(spark, [("d1", 1)]))
    # write_change_feed is NOT rejected anymore (round 14: MOR commits
    # materialize their feed — see test_mor_table_write_change_feed)
    with pytest.raises(ValueError, match="copy-on-write"):
        st.merge(_batch(spark, [("d1", 2)]), conditional=True)
    with pytest.raises(ValueError, match="copy-on-write"):
        st.delete_where(spark, F.col("k") == 1, deletion_vectors=True)
    # changes_between and files_read are NOT in this list anymore:
    # round 13 derives MOR CDC from the children's delta logs (see
    # test_mor_children_changes_between) and files_read from base
    # pruning evidence + delta dir listing (see
    # test_mor_children_files_read). Round 14 removed shallow_clone
    # and wap_branch/wap_publish too (see test_mor_table_wap_*).
    for op in (
        lambda: st.count_rows(),
        lambda: st.add_constraint(spark, "c1", "k > 0"),
    ):
        with pytest.raises(ValueError, match="copy-on-write"):
            op()
    with pytest.raises(ValueError, match="bloom_cols"):
        PartitionedParquetMergeStore(
            str(tmp_path / "b"),
            keys=("day", "k"),
            partition_col="day",
            child_store="mor",
            bloom_cols=("k",),
        )


def test_mor_children_vacuum_keeps_retained_window(spark, tmp_path):
    """Table + child vacuum retention: entries below the keep window
    expire (pinned reads raise the descriptive error), retained
    versions stay exactly readable."""
    st = _mor_store(tmp_path)
    st.merge(_batch(spark, [("d1", 1)]))                      # v0
    st.merge(
        spark.createDataFrame([Row(day="d1", k=1, v=2, payload="b")])
    )                                                          # v1
    st.merge(
        spark.createDataFrame([Row(day="d1", k=1, v=3, payload="c")])
    )                                                          # v2
    st.vacuum(keep_last=1)
    for e in st._parts(st.current_version()).values():
        st._child(e["dir"]).vacuum(keep_last=1)
    assert _rows(st.read(spark)) == [("d1", 1, 3, "c")]
    with pytest.raises(ValueError, match="vacuum"):
        st.read(spark, version=0).collect()


def test_mor_children_table_probe(spark, tmp_path):
    """The table-level PK probe works through MOR children: the base
    side bucket-prunes with the pre-computed slice, the delta overlay
    resolves per key, deleted keys are absent."""
    st = _mor_store(tmp_path)
    st.merge(_batch(spark, [("d1", 1), ("d1", 2), ("d2", 1)]))
    st.merge(
        spark.createDataFrame([Row(day="d1", k=1, v=2, payload="d1/1b")])
    )
    st.delete_where(spark, F.col("k") == 2)
    keys = spark.createDataFrame(
        [Row(day="d1", k=1), Row(day="d1", k=2), Row(day="d2", k=1)]
    )
    got = sorted(
        (r.day, r.k, r.v, r.payload)
        for r in st.probe(spark, keys).collect()
    )
    assert got == [("d1", 1, 2, "d1/1b"), ("d2", 1, 1, "d2/1")]


def test_mor_children_changes_between(spark, tmp_path):
    """MOR-backed table CDC (round 13): changes_between composes the
    children's delta-log diffs (O(Δ) append spans), a dropped
    partition surfaces as delete rows, and the replay law holds —
    feed applied to snapshot@from == snapshot@to."""
    st = _mor_store(tmp_path)
    st.merge(_batch(spark, [("d1", 1), ("d1", 2), ("d2", 1), ("d3", 1)]))  # v0
    st.merge(
        spark.createDataFrame(
            [
                Row(day="d1", k=1, v=2, payload="d1/1b"),   # update
                Row(day="d1", k=1, v=1, payload="stale"),   # LWW loser
                Row(day="d2", k=9, v=1, payload="d2/9"),    # insert
                Row(day="d2", k=1, v=1, payload="d2/1"),    # identical
            ]
        )
    )  # v1
    st.delete_where(spark, F.col("k") == 2)  # v2: tombstone d1/2
    st.drop_partition("d3")  # v3: retention drop
    cdc = st.changes_between(spark, 0, 3, include_preimages=True)
    got = sorted(
        (r.day, r.k, r._change_type, r.payload) for r in cdc.collect()
    )
    assert got == sorted(
        [
            ("d1", 1, "update_postimage", "d1/1b"),
            ("d1", 1, "update_preimage", "d1/1"),
            ("d1", 2, "delete", "d1/2"),
            ("d2", 9, "insert", "d2/9"),
            ("d3", 1, "delete", "d3/1"),
        ]
    )
    # replay law: snapshot@0 + feed == snapshot@3
    state = {
        (r.day, r.k): (r.day, r.k, r.v, r.payload)
        for r in st.read(spark, version=0).collect()
    }
    for r in cdc.collect():
        if r._change_type == "delete":
            state.pop((r.day, r.k))
        elif r._change_type != "update_preimage":
            state[(r.day, r.k)] = (r.day, r.k, r.v, r.payload)
    assert sorted(state.values()) == _rows(st.read(spark, version=3))
    # span across a table compact: still only the logical changes
    v4 = st.compact(spark)
    assert st.changes_between(spark, 3, v4).count() == 0


def test_mor_children_files_read(spark, tmp_path):
    """files_read on an MOR-backed table (round 13): each child
    reports its pinned base's manifest-pruned count PLUS its live
    delta dirs' files (the overlay is always fully read); a compact
    moves the delta term back into the prunable base."""
    st = _mor_store(tmp_path)
    st.merge(_batch(spark, [("d1", 1), ("d1", 2), ("d2", 1)]))  # v0
    st.compact(spark)  # v1: folds into the bases
    base_files = st.files_read()
    assert base_files > 0
    st.merge(_batch(spark, [("d1", 1)]))  # v2: one delta append to d1
    with_delta = st.files_read()
    assert with_delta == base_files + 1  # exactly the appended file
    # pinned evidence: the pre-append version still reports base-only
    assert st.files_read(version=1) == base_files
    # partition scoping composes (only d1 carries the delta)
    assert (
        st.files_read(partitions=("d1", "d1"))
        == st.files_read(version=1, partitions=("d1", "d1")) + 1
    )


def test_mor_table_wap_publish_adopts_audited_snapshot(spark, tmp_path):
    """Round-14 VERDICT #2: an MOR-backed table sits behind the same
    table-level audit gate as a COW one. The branch is a global clone
    whose MOR children are base-shallow-clones + copied live deltas;
    branch merges append O(batch) deltas in the BRANCH's children;
    publish adopts the audited snapshot atomically."""
    st = _mor_store(tmp_path)
    st.merge(_batch(spark, [("d1", 1), ("d2", 1), ("d3", 1)]))
    br = st.wap_branch("audit1")
    br.merge(
        spark.createDataFrame(
            [
                Row(day="d2", k=1, v=2, payload="d2/1-fixed"),
                Row(day="d4", k=9, v=1, payload="d4/9"),
            ]
        )
    )
    audited = _rows(br.read(spark))
    # production never saw the branch writes
    assert _rows(st.read(spark)) == [
        ("d1", 1, 1, "d1/1"),
        ("d2", 1, 1, "d2/1"),
        ("d3", 1, 1, "d3/1"),
    ]
    v = st.wap_publish(br)
    assert v == st.current_version()
    assert _rows(st.read(spark)) == audited
    assert not os.path.exists(br.root)
    for e in st._parts(v).values():
        assert "_branches" not in e["dir"]
    # the pre-publish version stays time-travelable
    assert _rows(st.read(spark, version=v - 1)) == [
        ("d1", 1, 1, "d1/1"),
        ("d2", 1, 1, "d2/1"),
        ("d3", 1, 1, "d3/1"),
    ]


def test_mor_table_wap_abandon_and_branch_isolation(spark, tmp_path):
    st = _mor_store(tmp_path)
    st.merge(_batch(spark, [("d1", 1)]))
    br = st.wap_branch("audit1")
    br.merge(
        spark.createDataFrame([Row(day="d1", k=1, v=2, payload="BAD")])
    )
    assert _rows(br.read(spark)) == [("d1", 1, 2, "BAD")]
    st.wap_abandon(br)
    assert not os.path.exists(br.root)
    assert _rows(st.read(spark)) == [("d1", 1, 1, "d1/1")]
    # name reusable; a fresh branch reads the production snapshot
    br2 = st.wap_branch("audit1")
    assert _rows(br2.read(spark)) == [("d1", 1, 1, "d1/1")]
    st.wap_abandon(br2)


def test_mor_table_wap_publish_then_vacuum_keeps_head_readable(
    spark, tmp_path
):
    """Vacuum liveness for published MOR children (round-14 VERDICT
    #2's store-law leg): a published child's BASE is a clone that
    references the PRE-publish production child's base dirs; expiring
    the old global versions must not rmtree those dirs while the head
    reads through them."""
    st = _mor_store(tmp_path)
    st.merge(_batch(spark, [("d1", 1), ("d1", 2), ("d2", 1)]))
    st.compact(spark)  # children get real bases (delta logs fold)
    br = st.wap_branch("audit1")
    br.merge(
        spark.createDataFrame(
            [Row(day="d1", k=1, v=2, payload="d1/1-fixed")]
        )
    )
    st.wap_publish(br)
    st.vacuum(keep_last=1)
    assert _rows(st.read(spark)) == [
        ("d1", 1, 2, "d1/1-fixed"),
        ("d1", 2, 1, "d1/2"),
        ("d2", 1, 1, "d2/1"),
    ]
    # lifecycle completes: later writes + compaction internalize the
    # published child's state into its own base over normal cadence
    st.merge(
        spark.createDataFrame(
            [Row(day="d1", k=2, v=3, payload="d1/2-next")]
        )
    )
    st.compact(spark)
    st.vacuum(keep_last=1)
    assert _rows(st.read(spark)) == [
        ("d1", 1, 2, "d1/1-fixed"),
        ("d1", 2, 3, "d1/2-next"),
        ("d2", 1, 1, "d2/1"),
    ]


def test_mor_table_shallow_clone_independent(spark, tmp_path):
    """An MOR table clone pins the source's state (base clone + copied
    deltas) and diverges independently in both directions."""
    st = _mor_store(tmp_path)
    st.merge(_batch(spark, [("d1", 1), ("d2", 1)]))
    st.compact(spark)
    st.merge(
        spark.createDataFrame([Row(day="d1", k=5, v=1, payload="live")])
    )  # a LIVE delta rides into the clone
    clone = st.shallow_clone(str(tmp_path / "clone"))
    assert _rows(clone.read(spark)) == _rows(st.read(spark))
    st.merge(
        spark.createDataFrame([Row(day="d1", k=1, v=2, payload="src")])
    )
    clone.merge(
        spark.createDataFrame([Row(day="d2", k=1, v=2, payload="cl")])
    )
    assert _rows(st.read(spark)) == [
        ("d1", 1, 2, "src"),
        ("d1", 5, 1, "live"),
        ("d2", 1, 1, "d2/1"),
    ]
    assert _rows(clone.read(spark)) == [
        ("d1", 1, 1, "d1/1"),
        ("d1", 5, 1, "live"),
        ("d2", 1, 2, "cl"),
    ]


def test_mor_table_write_change_feed(spark, tmp_path):
    """Round-14 VERDICT #3 at the table level: merge/delete_where on
    an MOR table pass write_change_feed through to each child's
    commit, and every child then serves its stored feed O(Δ)."""
    st = _mor_store(tmp_path)
    st.merge(_batch(spark, [("d1", 1), ("d2", 1)]))
    st.merge(
        spark.createDataFrame(
            [
                Row(day="d1", k=1, v=2, payload="d1/1b"),
                Row(day="d2", k=9, v=1, payload="d2/9"),
            ]
        ),
        write_change_feed=True,
    )
    parts = st._parts(st.current_version())
    feeds = {
        p: sorted(
            (r.k, r._change_type, r.payload)
            for r in st._child(e["dir"])
            .change_feed(spark, int(e["version"]))
            .collect()
        )
        for p, e in parts.items()
    }
    assert feeds == {
        "d1": [
            (1, "update_postimage", "d1/1b"),
            (1, "update_preimage", "d1/1"),
        ],
        "d2": [(9, "insert", "d2/9")],
    }
    # delete_where writes feeds too (delete rows carry the pre-image)
    st.delete_where(
        spark, F.col("k") == 1, write_change_feed=True
    )
    parts = st._parts(st.current_version())
    assert sorted(
        (r.k, r._change_type, r.payload)
        for r in st._child(parts["d1"]["dir"])
        .change_feed(spark, int(parts["d1"]["version"]))
        .collect()
    ) == [(1, "delete", "d1/1b")]


def test_mor_fused_read_matches_per_child(spark, tmp_path):
    """The fused MOR table read (one base scan + one delta fold + one
    DV anti-join — _fused_frame) returns exactly the children's own
    reads' rows, with and without ``where``, in every store state:
    live upsert/delete deltas, post-compact deletion vectors, a later
    delta layer on top of the DV'd base (one of whose updates moves a
    row out of a range), and a child whose base reads as evolved and
    whose log entry carries no column record."""
    import json

    st = _mor_store(tmp_path)
    wheres = [None, {"k": (1, 1)}, {"v": (1, 1)}]

    def check(state_label):
        for where in wheres:
            fused = _rows(st.read(spark, where=where))
            want = _rows(_per_child_read(spark, st, where=where))
            assert fused == want, (state_label, where)
        return _rows(st.read(spark))

    # live deltas: upserts across partitions + LWW re-edit + delete
    st.merge(_batch(spark, [("d1", 1), ("d1", 2), ("d2", 1)]))
    st.merge(
        spark.createDataFrame(
            [Row(day="d1", k=1, v=2, payload="d1/1b")]
        )
    )
    st.delete_where(spark, F.col("k") == 2)
    rows = check("live deltas")
    assert rows == [("d1", 1, 2, "d1/1b"), ("d2", 1, 1, "d2/1")]
    assert _row_scans(st.read(spark)) == (0, 1)

    # post-compact: deltas fold into the base, deletes become DVs
    st.compact(spark)
    assert check("post-compact (DV state)") == rows

    # fresh deltas layered over the DV'd base; the update of (d2, 1)
    # moves its row out of the v in [1, 1] range
    st.merge(
        spark.createDataFrame(
            [
                Row(day="d2", k=7, v=1, payload="d2/7"),
                Row(day="d2", k=1, v=3, payload="d2/1c"),
            ]
        )
    )
    st.delete_where(spark, (F.col("day") == "d1") & (F.col("k") == 1))
    assert check("deltas over DV base") == [
        ("d2", 1, 3, "d2/1c"),
        ("d2", 7, 1, "d2/7"),
    ]
    assert _rows(st.read(spark, where={"v": (1, 1)})) == [
        ("d2", 7, 1, "d2/7")
    ]

    # d2's base manifest predates the sticky 'evolved' flag (so it
    # reads as evolved) and its pinned log entry records no columns
    e = st._parts(st.current_version())["d2"]
    child = st._child(e["dir"])
    state = child._entry_state(int(e["version"]))
    mp = child.base._manifest_path(int(state["base_version"]))
    m = json.load(open(mp))
    m.pop("evolved", None)
    json.dump(m, open(mp, "w"))
    ep = child._entry_path(int(e["version"]))
    entry = json.load(open(ep))
    entry.pop("columns", None)
    entry.pop("types", None)
    json.dump(entry, open(ep, "w"))
    check("evolved base, log entry without a column record")
    assert _row_scans(st.read(spark))[0] == 1


def test_mor_fused_cdc_matches_per_child(spark, tmp_path):
    """The fused table-level MOR CDC (one delta fold + one table probe
    + one classification — _log_diff, r16) emits exactly the
    per-child diffs' rows for every span shape: multi-commit spans,
    spans crossing a compact, preimages on and off, a span that
    includes a partition drop (handled outside the fusion), and the
    spans the log law cannot walk, which take the fused snapshot law:
    one holding a table restore, and a backward one."""
    st = _mor_store(tmp_path)

    def cdc_rows(v_from, v_to, pre):
        return sorted(
            map(
                tuple,
                st.changes_between(
                    spark, v_from, v_to, include_preimages=pre
                ).collect(),
            )
        )

    def per_child_rows(v_from, v_to, pre):
        return sorted(
            map(tuple, _per_child_cdc(spark, st, v_from, v_to, pre).collect())
        )

    def check(v_from, v_to, label):
        for pre in (False, True):
            fused = cdc_rows(v_from, v_to, pre)
            assert fused == per_child_rows(v_from, v_to, pre), (
                label,
                pre,
            )

    # v0: seed three partitions
    st.merge(
        _batch(spark, [("d1", 1), ("d1", 2), ("d2", 1), ("d3", 5)])
    )
    # v1: LWW re-edit + new key (two children change, one does not)
    st.merge(
        spark.createDataFrame(
            [
                Row(day="d1", k=1, v=2, payload="d1/1b"),
                Row(day="d2", k=9, v=1, payload="d2/9"),
            ]
        )
    )
    # v2: delete one key
    st.delete_where(spark, (F.col("day") == "d1") & (F.col("k") == 2))
    check(0, 2, "multi-commit append+delete span")
    check(1, 2, "single-commit delete span")

    # v3: compact folds deltas into bases (CDC-silent boundary)
    st.compact(spark)
    check(0, 3, "span across compact")
    assert cdc_rows(2, 3, False) == []  # compaction emits nothing

    # v4: fresh deltas over the compacted base
    st.merge(
        spark.createDataFrame([Row(day="d3", k=6, v=1, payload="d3/6")])
    )
    check(0, 4, "deltas over compacted base")
    check(3, 4, "post-compact-only span")

    # v5: drop a partition — its snapshot-delete rows ride OUTSIDE the
    # fusion; the remaining children still fuse
    st.drop_partition("d2")
    check(0, 5, "span including a partition drop")
    check(4, 5, "drop-only span")

    # v6 restores v2: d2 returns in its old dir, and every same-dir
    # child's span runs backward in its log (the snapshot law)
    st.restore(2)
    check(4, 6, "span holding a table restore")
    check(4, 0, "backward span")


def test_mor_fused_probe_matches_per_child(spark, tmp_path):
    """The fused table probe returns exactly the per-child probes' rows
    in every store state, for both child kinds: MOR children with live
    deltas, post-compact deletion vectors and deltas layered over the
    DV'd base; COW children with a deletion vector, an evolved schema
    and a probe key whose bucket was never written. Every key batch
    also misses a key and a whole partition."""
    from parquet_demo_spark.sources.merge_store import ParquetMergeStore

    def rows(df):
        return sorted(
            (tuple(r) for r in df.select(*sorted(df.columns)).collect()),
            key=repr,  # evolved rows carry typed NULLs
        )

    def check(st, keys, label):
        fused = rows(st.probe(spark, keys))
        assert fused == rows(_per_child_probe(spark, st, keys)), label
        return fused

    # -- MOR children ----------------------------------------------------
    st = _mor_store(tmp_path)
    st.merge(_batch(spark, [("d1", 1), ("d1", 2), ("d2", 1), ("d3", 5)]))
    st.merge(
        spark.createDataFrame([Row(day="d1", k=1, v=2, payload="d1/1b")])
    )
    st.delete_where(spark, (F.col("day") == "d1") & (F.col("k") == 2))

    keys = spark.createDataFrame(
        [
            Row(day="d1", k=1),
            Row(day="d1", k=2),   # tombstoned
            Row(day="d2", k=1),
            Row(day="d3", k=99),  # absent key
            Row(day="zz", k=1),   # absent partition
        ]
    )
    assert [r[:4] for r in check(st, keys, "live deltas")] == [
        ("d1", 1, "d1/1b", 2),
        ("d2", 1, "d2/1", 1),
    ]
    assert _row_scans(st.probe(spark, keys)) == (0, 1)

    st.compact(spark)
    check(st, keys, "post-compact (DV state)")

    st.merge(
        spark.createDataFrame([Row(day="d2", k=7, v=1, payload="d2/7")])
    )
    keys2 = keys.unionByName(spark.createDataFrame([Row(day="d2", k=7)]))
    assert ("d2", 7, "d2/7", 1) in check(st, keys2, "deltas over DV base")

    # -- COW children ----------------------------------------------------
    st = _store(tmp_path)
    st.merge(
        _batch(
            spark,
            [("d1", 1), ("d1", 2), ("d2", 1), ("d3", 5), ("d4", 5)],
        )
    )
    # d1 carries a deletion vector; d2 alone evolves (gains 'extra')
    st.delete_where(
        spark,
        (F.col("day") == "d1") & (F.col("k") == 2),
        deletion_vectors=True,
    )
    st.merge(
        spark.createDataFrame(
            [Row(day="d2", k=9, v=1, payload="wide", extra=7)]
        ),
        allow_schema_evolution=True,
    )
    # d3 and d4 hold one key each, so one of their two buckets was
    # never written: pick probe keys that route to the empty bucket
    bucket = ParquetMergeStore.bucket_expr(st.keys, st.num_buckets)
    bids = {
        (r.day, r.k): r.b
        for r in spark.createDataFrame(
            [Row(day=d, k=k) for d in ("d3", "d4") for k in range(5, 40)]
        )
        .select("day", "k", bucket.alias("b"))
        .collect()
    }
    unwritten = {
        d: next(k for k in range(6, 40) if bids[(d, k)] != bids[(d, 5)])
        for d in ("d3", "d4")
    }
    keys = spark.createDataFrame(
        [
            Row(day="d1", k=1),
            Row(day="d1", k=2),   # DV-deleted
            Row(day="d2", k=1),
            Row(day="d2", k=9),   # evolved child's new row
            Row(day="d3", k=5),
            Row(day="d3", k=unwritten["d3"]),  # bucket never written
            Row(day="d4", k=unwritten["d4"]),  # no hit bucket written
            Row(day="zz", k=1),   # absent partition
        ]
    )
    got = check(st, keys, "COW: DV, evolved, unwritten bucket")
    # columns sort as (day, extra, k, payload, v)
    assert set(got) == {
        ("d1", None, 1, "d1/1", 1),
        ("d2", None, 1, "d2/1", 1),
        ("d2", 7, 9, "wide", 1),
        ("d3", None, 5, "d3/5", 1),
    }
    assert _row_scans(st.probe(spark, keys)) == (1, 0)


def test_cow_fused_cdc_matches_per_child(spark, tmp_path):
    """The fused COW table-level CDC (_snapshot_diff, r16) emits
    exactly the per-child snapshot diffs' rows for every span shape:
    merges, DV deletes, preimages on/off, spans including a partition
    drop (its snapshot a fused frame of its own), a span with an
    evolution, spans after one (over evolved and narrow children) and
    a backward span across one, all fused in the table DDL at the
    span's end."""
    st = _store(tmp_path)

    def cdc_rows(v_from, v_to, pre):
        return sorted(
            map(
                tuple,
                st.changes_between(
                    spark, v_from, v_to, include_preimages=pre
                ).collect(),
            )
        )

    def per_child_rows(v_from, v_to, pre):
        return sorted(
            map(tuple, _per_child_cdc(spark, st, v_from, v_to, pre).collect())
        )

    def check(v_from, v_to, label):
        for pre in (False, True):
            fused = cdc_rows(v_from, v_to, pre)
            assert fused == per_child_rows(v_from, v_to, pre), (
                label,
                pre,
            )

    st.merge(_batch(spark, [("d1", 1), ("d1", 2), ("d2", 1), ("d3", 5)]))
    st.merge(
        spark.createDataFrame(
            [
                Row(day="d1", k=1, v=2, payload="d1/1b"),
                Row(day="d2", k=9, v=1, payload="d2/9"),
            ]
        )
    )
    check(0, 1, "merge span")
    st.delete_where(
        spark,
        (F.col("day") == "d1") & (F.col("k") == 2),
        deletion_vectors=True,
    )
    check(0, 2, "span ending in a DV delete")
    check(1, 2, "DV-delete-only span")
    st.drop_partition("d2")
    check(0, 3, "span including a partition drop")

    # v4 widens d1 (an evolution inside the span); v5 then writes the
    # wide schema into d1 and the narrow d3 (pre-states read typed
    # NULLs)
    st.merge(
        spark.createDataFrame(
            [Row(day="d1", k=1, v=3, payload="d1/1c", extra=7)]
        ),
        allow_schema_evolution=True,
    )
    st.merge(
        spark.createDataFrame(
            [
                Row(day="d1", k=5, v=1, payload="d1/5", extra=8),
                Row(day="d3", k=5, v=2, payload="d3/5b", extra=None),
                Row(day="d3", k=6, v=1, payload="d3/6", extra=9),
            ],
            "day string, k bigint, v bigint, payload string, extra bigint",
        ),
        allow_schema_evolution=True,
    )
    check(3, 4, "span with an evolution")
    check(4, 5, "span after an evolution")
    check(0, 5, "span across drop and evolution")
    check(5, 3, "backward span across an evolution")
