"""ParquetMergeStore: the file-backed R14 mutable store.

Covers what the q123 registry hash-check can't see from the final
aggregate alone: ReplaceOne-faithful per-row semantics, bucket-level
rewrite pruning, snapshot isolation under a crashed merge, time travel,
and vacuum safety."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from parquet_demo_spark.sources.merge_store import ParquetMergeStore


def _store(tmp_path, **kw):
    defaults = dict(
        keys=("k",), version_cols=("v",), num_buckets=4
    )
    defaults.update(kw)
    return ParquetMergeStore(str(tmp_path / "store"), **defaults)


def _rows(df):
    return sorted((r.k, r.v, r.payload) for r in df.collect())


def test_merge_replace_and_insert(spark, tmp_path):
    st = _store(tmp_path)
    st.merge(
        spark.createDataFrame(
            [Row(k=1, v=1, payload="a"), Row(k=2, v=1, payload="b")]
        )
    )
    # batch 2: replace k=1, insert k=3. The replacement carries a LOWER
    # version — it must still win (ReplaceOne is unconditional)
    st.merge(
        spark.createDataFrame(
            [Row(k=1, v=0, payload="a2"), Row(k=3, v=1, payload="c")]
        )
    )
    assert _rows(st.read(spark)) == [
        (1, 0, "a2"),
        (2, 1, "b"),
        (3, 1, "c"),
    ]


def test_within_batch_lww_by_version(spark, tmp_path):
    st = _store(tmp_path)
    st.merge(
        spark.createDataFrame(
            [
                Row(k=1, v=2, payload="new"),
                Row(k=1, v=1, payload="old"),
            ]
        )
    )
    assert _rows(st.read(spark)) == [(1, 2, "new")]


def test_bucket_pruning_rewrites_only_touched(spark, tmp_path):
    """A merge touching one key must re-reference, not rewrite, every
    bucket it didn't touch — the property that makes a 1% upsert batch
    a 1% rewrite at 100 TB."""
    st = _store(tmp_path, num_buckets=8)
    st.merge(
        spark.createDataFrame([Row(k=i, v=1, payload=str(i)) for i in range(64)])
    )
    before = st._bucket_paths(0)
    assert len(before) == 8  # 64 keys cover all 8 buckets
    st.merge(spark.createDataFrame([Row(k=1, v=2, payload="x")]))
    after = st._bucket_paths(1)
    changed = {b for b in after if after[b] != before.get(b)}
    assert len(changed) == 1  # exactly the bucket containing k=1
    # and the data survived: one row changed, 63 untouched
    rows = dict((r.k, r.payload) for r in st.read(spark).collect())
    assert rows[1] == "x" and len(rows) == 64 and rows[63] == "63"


def test_crashed_merge_leaves_snapshot_intact(spark, tmp_path):
    """Files written without a pointer swap are invisible to readers —
    the atomic-commit property."""
    st = _store(tmp_path)
    st.merge(spark.createDataFrame([Row(k=1, v=1, payload="a")]))
    # simulate a merge that died after writing data but before commit:
    # orphan data dir + orphan manifest dir with no pointer update
    os.makedirs(str(tmp_path / "store" / "data" / "v00001"), exist_ok=True)
    assert st.current_version() == 0
    assert _rows(st.read(spark)) == [(1, 1, "a")]
    # and the next merge commits cleanly on top
    st.merge(spark.createDataFrame([Row(k=2, v=1, payload="b")]))
    assert st.current_version() == 1
    assert len(_rows(st.read(spark))) == 2


def test_time_travel_and_history(spark, tmp_path):
    st = _store(tmp_path)
    st.merge(spark.createDataFrame([Row(k=1, v=1, payload="a")]))
    st.merge(spark.createDataFrame([Row(k=1, v=2, payload="b")]))
    assert st.history() == [0, 1]
    assert _rows(st.read(spark, version=0)) == [(1, 1, "a")]
    assert _rows(st.read(spark)) == [(1, 2, "b")]


def test_vacuum_keeps_live_data(spark, tmp_path):
    st = _store(tmp_path, num_buckets=2)
    st.merge(spark.createDataFrame([Row(k=i, v=1, payload="a") for i in range(8)]))
    st.merge(spark.createDataFrame([Row(k=1, v=2, payload="b")]))
    removed = st.vacuum(keep_last=1)
    # v0's dirs are still referenced by v1's untouched bucket → kept
    assert removed == []
    latest = _rows(st.read(spark))
    assert len(latest) == 8 and (1, 2, "b") in latest
    # rewrite everything, then v0's data dir becomes garbage
    st.merge(spark.createDataFrame([Row(k=i, v=3, payload="c") for i in range(8)]))
    removed = st.vacuum(keep_last=1)
    assert any(
        r.startswith(os.path.join("data", "v00000")) for r in removed
    )  # dirs carry a per-commit writer-token suffix
    assert len(_rows(st.read(spark))) == 8


def test_empty_store_read_raises(spark, tmp_path):
    st = _store(tmp_path)
    with pytest.raises(ValueError):
        st.read(spark)


def test_requires_keys(tmp_path):
    with pytest.raises(ValueError):
        ParquetMergeStore(str(tmp_path / "s"), keys=())


def test_schema_evolution_merge(spark, tmp_path):
    """Delta-style mergeSchema: a batch adding a column backfills null
    on stored rows; strict default refuses the drift loudly — checked
    against the manifest, so it fires even when the drifting batch only
    touches buckets with no existing data."""
    st = _store(tmp_path)
    st.merge(spark.createDataFrame([Row(k=1, v=1, payload="a")]))
    widened = spark.createDataFrame([Row(k=2, v=1, payload="b", extra=7)])
    with pytest.raises(ValueError, match="schema drift"):
        st.merge(widened)
    # nothing committed by the failed merge
    assert st.current_version() == 0
    st.merge(widened, allow_schema_evolution=True)
    rows = {r.k: (r.payload, r.extra) for r in st.read(spark).collect()}
    assert rows == {1: ("a", None), 2: ("b", 7)}


def test_merge_requires_key_columns(spark, tmp_path):
    st = _store(tmp_path)
    with pytest.raises(ValueError, match="key/version"):
        st.merge(spark.createDataFrame([Row(k=1, payload="a")]))  # no v


def test_stream_merge_into_store(spark, tmp_path):
    """R13∘R14: three source files → three sequential micro-batch merges
    → final snapshot equals applying the batches in order."""
    from pyspark.sql import types as T

    from parquet_demo_spark.sources.merge_store import (
        stream_merge_into_store,
    )

    src = tmp_path / "src"
    src.mkdir()
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("v", T.LongType()),
            T.StructField("payload", T.StringType()),
        ]
    )
    batches = [
        [Row(k=1, v=1, payload="a"), Row(k=2, v=1, payload="b")],
        [Row(k=1, v=2, payload="a2")],
        [Row(k=3, v=1, payload="c"), Row(k=2, v=2, payload="b2")],
    ]
    # the file stream source lists leaf FILES: write each batch via a
    # scratch dir and move its single part file into the source dir
    import glob
    import shutil

    for i, rows in enumerate(batches):
        scratch = str(tmp_path / f"scratch{i}")
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(scratch)
        [part] = glob.glob(os.path.join(scratch, "part-*.parquet"))
        shutil.move(part, str(src / f"batch{i}.parquet"))

    st = _store(tmp_path)
    q = stream_merge_into_store(
        spark, str(src), schema, st, str(tmp_path / "ckpt")
    )
    assert q.awaitTermination(120)
    # one committed version per non-empty micro-batch, final LWW state
    assert st.current_version() == 2
    assert _rows(st.read(spark)) == [
        (1, 2, "a2"),
        (2, 2, "b2"),
        (3, 1, "c"),
    ]


# --- property-based: the store equals a dict-model of ReplaceOne ---------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_batch = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=12),  # k (collision-prone)
        st.integers(min_value=0, max_value=5),  # v
        st.sampled_from(["a", "b", "c", "d"]),  # payload
    ),
    min_size=1,
    max_size=8,
)


@settings(
    max_examples=8,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(batches=st.lists(_batch, min_size=1, max_size=3))
def test_merge_model_equivalence(spark, tmp_path_factory, batches):
    """Random batch sequences: final snapshot must equal the dict model —
    within a batch the highest (v, position) survives per key (LWW by
    version, later occurrence breaks ties), across batches the upsert
    replaces unconditionally."""
    tmp = tmp_path_factory.mktemp("merge_model")
    st_store = ParquetMergeStore(
        str(tmp / "store"), keys=("k",), version_cols=("v", "pos"), num_buckets=4
    )
    model: dict[int, tuple] = {}
    for rows in batches:
        tagged = [
            Row(k=k, v=v, payload=p, pos=i)
            for i, (k, v, p) in enumerate(rows)
        ]
        st_store.merge(spark.createDataFrame(tagged))
        best: dict[int, tuple] = {}
        for i, (k, v, p) in enumerate(rows):
            if k not in best or (v, i) > (best[k][0], best[k][1]):
                best[k] = (v, i, p)
        model.update(best)
    got = {
        r.k: (r.v, r.pos, r.payload) for r in st_store.read(spark).collect()
    }
    assert got == model


@settings(
    max_examples=8,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    batches=st.lists(
        st.tuples(_batch, st.booleans(), st.booleans()),
        min_size=1,
        max_size=4,
    )
)
@pytest.mark.slow
def test_schema_evolution_model_equivalence(
    spark, tmp_path_factory, batches
):
    """Random interleavings of widening/narrowing batches (VERDICT r7
    #4): each batch may carry a NEW 'extra' column (stored rows
    backfill NULL) and/or OMIT 'payload' (its winners' payload becomes
    NULL — ReplaceOne replaces the whole row). Final snapshot must
    equal the dict model, the authoritative column order must be
    stored-then-new-in-batch-order, and every version's manifest must
    record its schema."""
    from pyspark.sql import types as T

    tmp = tmp_path_factory.mktemp("evo_model")
    store = ParquetMergeStore(
        str(tmp / "store"),
        keys=("k",),
        version_cols=("v", "pos"),
        num_buckets=4,
    )
    model: dict[int, dict] = {}
    model_cols: list[str] = []
    for rows, with_extra, drop_payload in batches:
        fields = [
            ("k", T.LongType()),
            ("v", T.LongType()),
            ("pos", T.LongType()),
        ]
        if not drop_payload:
            fields.append(("payload", T.StringType()))
        if with_extra:
            fields.append(("extra", T.LongType()))
        schema = T.StructType([T.StructField(n, t) for n, t in fields])
        data = []
        for i, (k, v, p) in enumerate(rows):
            d = {"k": k, "v": v, "pos": i}
            if not drop_payload:
                d["payload"] = p
            if with_extra:
                d["extra"] = k * 100 + v
            data.append(tuple(d[n] for n, _ in fields))
        store.merge(
            spark.createDataFrame(data, schema),
            allow_schema_evolution=True,
        )
        model_cols += [n for n, _ in fields if n not in model_cols]
        best: dict[int, dict] = {}
        for i, (k, v, p) in enumerate(rows):
            if k not in best or (v, i) > (best[k]["v"], best[k]["pos"]):
                best[k] = {
                    "k": k,
                    "v": v,
                    "pos": i,
                    "payload": None if drop_payload else p,
                    "extra": (k * 100 + v) if with_extra else None,
                }
        model.update(best)
    snap = store.read(spark)
    assert list(snap.columns) == model_cols
    got = {r["k"]: {c: r[c] for c in model_cols} for r in snap.collect()}
    want = {
        k: {c: row.get(c) for c in model_cols} for k, row in model.items()
    }
    assert got == want
    for ver in store.history():
        m = store._read_manifest(ver)
        assert m["columns"]  # schema recorded per version


# --- CDC incremental reads -----------------------------------------------


def test_changes_between_versions(spark, tmp_path):
    """Incremental read returns exactly the inserted/updated rows, and
    scans only buckets whose manifest path changed."""
    from parquet_demo_spark.sources.merge_store import changes_between

    st = _store(tmp_path, num_buckets=8)
    st.merge(
        spark.createDataFrame(
            [Row(k=i, v=1, payload=str(i)) for i in range(32)]
        )
    )
    # v1: update k=1 (new payload), re-write k=2 IDENTICALLY (its bucket
    # rewrites but the row is unchanged → must NOT appear), insert k=100
    st.merge(
        spark.createDataFrame(
            [
                Row(k=1, v=2, payload="one-b"),
                Row(k=2, v=1, payload="2"),
                Row(k=100, v=1, payload="hundred"),
            ]
        )
    )
    ch = changes_between(st, spark, 0, 1)
    got = sorted((r.k, r.payload, r._change_type) for r in ch.collect())
    assert got == [
        (1, "one-b", "update_postimage"),
        (100, "hundred", "insert"),
    ]


def test_changes_from_empty_and_noop(spark, tmp_path):
    from parquet_demo_spark.sources.merge_store import changes_between

    st = _store(tmp_path)
    st.merge(spark.createDataFrame([Row(k=1, v=1, payload="a")]))
    # full-history read: everything is an insert vs... there is no v<0;
    # instead same-version diff is empty
    same = changes_between(st, spark, 0, 0)
    assert same.count() == 0
    assert "_change_type" in same.columns
    # backward spans (v_from > v_to) are LEGAL when both versions exist
    # (see test_changes_between_backward_span_is_the_inverse_diff); here
    # v_from=1 exceeds head=0, which must be a clean ValueError — never
    # a FileNotFoundError from a missing manifest
    with pytest.raises(ValueError, match="exceeds head"):
        changes_between(st, spark, 1, 0)
    with pytest.raises(ValueError, match="exceeds head"):
        changes_between(st, spark, 0, 5)


def test_changes_after_schema_evolution(spark, tmp_path):
    from parquet_demo_spark.sources.merge_store import changes_between

    st = _store(tmp_path)
    st.merge(spark.createDataFrame([Row(k=1, v=1, payload="a")]))
    st.merge(
        spark.createDataFrame([Row(k=1, v=2, payload="a", extra=7)]),
        allow_schema_evolution=True,
    )
    got = [(r.k, r.extra, r._change_type) for r in changes_between(st, spark, 0, 1).collect()]
    # same payload but a new non-null column value → a real change
    assert got == [(1, 7, "update_postimage")]


# --- config validation / vacuum crash-safety / stats pruning / compaction -


def test_reopen_config_mismatch_raises(spark, tmp_path):
    """Reopening with different bucketing/keys would route the same PK
    to a different bucket — duplicate PKs with no error. Must raise."""
    store = _store(tmp_path)
    store.merge(spark.createDataFrame([Row(k=1, v=1, payload="a")]))
    with pytest.raises(ValueError, match="different"):
        _store(tmp_path, num_buckets=8)
    with pytest.raises(ValueError, match="different"):
        _store(tmp_path, keys=("payload",))
    with pytest.raises(ValueError, match="different"):
        _store(tmp_path, version_cols=())
    # identical config reopens cleanly
    assert _store(tmp_path).current_version() == 0


def test_vacuum_anchored_on_committed_pointer(spark, tmp_path):
    """A manifest without a pointer swap (crashed merge) must not anchor
    vacuum's liveness set: with keep_last=1 the orphan would otherwise be
    'the newest version' and the committed snapshot's dirs deleted."""
    import json

    store = _store(tmp_path, num_buckets=2)
    store.merge(
        spark.createDataFrame([Row(k=i, v=1, payload="a") for i in range(8)])
    )
    store.merge(
        spark.createDataFrame([Row(k=i, v=2, payload="b") for i in range(8)])
    )
    # orphan v2 manifest, as left by a merge that died between manifest
    # write and pointer swap; references dirs the commit never produced
    orphan = tmp_path / "store" / "v00002"
    orphan.mkdir()
    with open(orphan / "manifest.json", "w") as fh:
        json.dump(
            {
                "version": 2,
                "keys": ["k"],
                "version_cols": ["v"],
                "num_buckets": 2,
                "columns": ["k", "v", "payload"],
                "bucket_paths": {"0": "data/v00002/__bucket=0"},
                "stats": {},
            },
            fh,
        )
    assert store.current_version() == 1
    removed = store.vacuum(keep_last=1)
    # the committed snapshot survives in full...
    rows = _rows(store.read(spark))
    assert len(rows) == 8 and all(v == 2 for _, v, _ in rows)
    # ...the orphan manifest is cleaned up, dead v0 data is reclaimed
    assert "v00002" in removed
    assert any(
        r.startswith(os.path.join("data", "v00000")) for r in removed
    )
    assert store.history() == [0, 1]


def test_stats_pruning_skips_buckets(spark, tmp_path):
    """Manifest min/max stats must let a recency-style value predicate
    skip every bucket the matching merge didn't touch — files-read drops
    from all buckets to the touched one."""
    store = _store(tmp_path, num_buckets=8)
    store.merge(
        spark.createDataFrame(
            [Row(k=i, v=1, payload=str(i)) for i in range(64)]
        )
    )
    store.merge(spark.createDataFrame([Row(k=1, v=2, payload="fresh")]))
    all_buckets = store._bucket_paths(1)
    assert len(all_buckets) == 8
    pruned = store._pruned_bucket_paths(1, {"v": (2, None)})
    assert len(pruned) == 1  # only the bucket the v=2 merge rewrote
    got = _rows(store.read(spark, where={"v": (2, None)}))
    assert got == [(1, 2, "fresh")]


def test_dir_column_stats_key_order_is_fixed(tmp_path):
    """A bucket's recorded stats come out in sorted column order, so two
    writer processes record byte-identical manifests whatever their
    string-hash seed. No Spark: the stats are footer metadata."""
    import json
    import subprocess
    import sys

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "s" / "data" / "b0"
    d.mkdir(parents=True)
    pq.write_table(
        pa.table({"z": [1, 2], "a": ["x", "y"], "m": [0.5, 1.5]}),
        d / "part-0.parquet",
    )
    code = (
        "import json, sys\n"
        "from parquet_demo_spark.sources.merge_store import "
        "ParquetMergeStore\n"
        "st = ParquetMergeStore(sys.argv[1], keys=('z',))\n"
        "print(json.dumps(st._dir_column_stats('data/b0')))\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    outs = {
        subprocess.run(
            [sys.executable, "-c", code, str(tmp_path / "s")],
            cwd=repo,
            env={**os.environ, "PYTHONHASHSEED": str(seed)},
            capture_output=True,
            text=True,
            check=True,
        ).stdout
        for seed in range(4)
    }
    assert len(outs) == 1, outs
    assert list(json.loads(outs.pop())) == ["a", "m", "z"]


def test_read_where_matches_full_filter(spark, tmp_path):
    store = _store(tmp_path, num_buckets=4)
    store.merge(
        spark.createDataFrame(
            [Row(k=i, v=i % 5, payload=str(i)) for i in range(32)]
        )
    )
    want = sorted(
        (r.k, r.v, r.payload)
        for r in store.read(spark)
        .filter("k >= 10 and k <= 20 and v >= 1")
        .collect()
    )
    got = _rows(store.read(spark, where={"k": (10, 20), "v": (1, None)}))
    assert got == want and len(got) > 0
    # a range stats prove empty reads no data but keeps the schema
    empty = store.read(spark, where={"k": (1000, None)})
    assert empty.count() == 0 and empty.columns == ["k", "v", "payload"]


def test_changes_between_where_pruning(spark, tmp_path):
    from parquet_demo_spark.sources.merge_store import changes_between

    store = _store(tmp_path, num_buckets=8)
    store.merge(
        spark.createDataFrame(
            [Row(k=i, v=1, payload=str(i)) for i in range(64)]
        )
    )
    store.merge(
        spark.createDataFrame(
            [Row(k=1, v=2, payload="x"), Row(k=200, v=2, payload="y")]
        )
    )
    ch = changes_between(store, spark, 0, 1, where={"k": (200, None)})
    assert sorted((r.k, r._change_type) for r in ch.collect()) == [
        (200, "insert")
    ]


def test_compact_defragments_without_breaking_history(spark, tmp_path):
    """compact() must cut per-bucket file counts to one, keep the
    snapshot bit-identical, leave time travel intact, and emit zero CDC
    rows (a compaction is not a change)."""
    from parquet_demo_spark.sources.merge_store import changes_between

    store = _store(tmp_path, num_buckets=2)
    # AQE normally coalesces the collapse shuffle to one partition at
    # this data size, which hides fragmentation; real fragmentation
    # comes from multi-partition writes, so pin that shape
    coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(coalesce_key, "true")
    spark.conf.set(coalesce_key, "false")
    try:
        store.merge(
            spark.createDataFrame(
                [Row(k=i, v=1, payload=str(i)) for i in range(16)]
            )
        )
    finally:
        spark.conf.set(coalesce_key, prev)
    v_before = store.current_version()
    paths = store._bucket_paths(v_before)

    def n_files(rel):
        d = os.path.join(str(tmp_path / "store"), rel)
        return sum(1 for f in os.listdir(d) if f.endswith(".parquet"))

    assert max(n_files(p) for p in paths.values()) >= 2  # fragmented
    rows_before = _rows(store.read(spark))

    v_new = store.compact(spark)
    assert v_new == v_before + 1
    for rel in store._bucket_paths(v_new).values():
        assert n_files(rel) == 1
    assert _rows(store.read(spark)) == rows_before
    assert _rows(store.read(spark, version=v_before)) == rows_before
    assert changes_between(store, spark, v_before, v_new).count() == 0
    # idempotent: nothing fragmented → no pointless new version
    assert store.compact(spark) is None
    assert store.current_version() == v_new
    # stats survive compaction → pruning still works
    assert len(store._pruned_bucket_paths(v_new, {"k": (0, 15)})) == 2


def test_incremental_scoring_pipeline(spark, tmp_path):
    """The incremental-pipeline composition the store exists for: a
    derived (scores) table maintained by scoring ONLY the CDC rows of
    the source table must equal scoring the full latest snapshot —
    at 100 TB that is the difference between reprocessing the corpus
    per refresh and reprocessing the day's changes."""
    from pyspark.sql import functions as F

    from parquet_demo_spark.sources.merge_store import changes_between

    def score(df):
        toks = F.split(F.lower(F.col("text")), "[^a-z]+")
        return df.select(
            "doc_id",
            "rev",
            F.size(F.filter(toks, lambda t: t != ""))
            .cast("bigint")
            .alias("n_tokens"),
            F.length("text").cast("bigint").alias("n_chars"),
        )

    docs = ParquetMergeStore(
        str(tmp_path / "docs"), keys=("doc_id",), version_cols=("rev",)
    )
    scores = ParquetMergeStore(
        str(tmp_path / "scores"), keys=("doc_id",), version_cols=("rev",)
    )
    v0 = spark.createDataFrame(
        [Row(doc_id=i, rev=0, text=f"the quick doc number {i}") for i in range(40)]
    )
    docs.merge(v0)
    scores.merge(score(docs.read(spark)))

    # day 2: 6 docs rewritten, 4 new docs, the rest untouched
    docs.merge(
        spark.createDataFrame(
            [Row(doc_id=i, rev=1, text=f"rewritten and much longer doc {i} indeed") for i in range(6)]
            + [Row(doc_id=100 + i, rev=1, text=f"fresh doc {i}") for i in range(4)]
        )
    )
    delta = changes_between(docs, spark, 0, 1).drop("_change_type")
    scores.merge(score(delta))

    incremental = sorted(
        (r.doc_id, r.rev, r.n_tokens, r.n_chars)
        for r in scores.read(spark).collect()
    )
    full = sorted(
        (r.doc_id, r.rev, r.n_tokens, r.n_chars)
        for r in score(docs.read(spark)).collect()
    )
    assert incremental == full and len(full) == 44


@pytest.mark.slow
def test_stream_restart_replays_uncommitted_batch_idempotently(
    spark, tmp_path
):
    """Crash-recovery contract of the foreachBatch store sink: a merge
    that completed but whose micro-batch offset was never committed is
    REPLAYED on restart (at-least-once merge), and ReplaceOne semantics
    make the replay converge to the exactly-once final state — the
    extra store version changes nothing a reader sees."""
    import glob
    import shutil

    from pyspark.sql import types as T
    from pyspark.errors import StreamingQueryException

    from parquet_demo_spark.sources.merge_store import (
        stream_merge_into_store,
    )

    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("v", T.LongType()),
            T.StructField("payload", T.StringType()),
        ]
    )
    src = tmp_path / "src"
    src.mkdir()
    batches = [
        [Row(k=1, v=1, payload="a"), Row(k=2, v=1, payload="b")],
        [Row(k=1, v=2, payload="a2")],
        [Row(k=3, v=1, payload="c")],
    ]
    for i, rows in enumerate(batches):
        scratch = str(tmp_path / f"scratch{i}")
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(scratch)
        [part] = glob.glob(os.path.join(scratch, "part-*.parquet"))
        shutil.move(part, str(src / f"batch{i}.parquet"))

    store = _store(tmp_path)
    ckpt = str(tmp_path / "ckpt")
    crashed = {"done": False}

    def merge_then_crash(df, epoch_id):
        if df.isEmpty():
            return
        store.merge(df)
        if not crashed["done"]:
            # die AFTER the merge committed a store version but BEFORE
            # the streaming offset commit — the worst-case crash point
            crashed["done"] = True
            raise RuntimeError("simulated crash post-merge, pre-offset")

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .writeStream.foreachBatch(merge_then_crash)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(StreamingQueryException):
        q.awaitTermination(120)
    assert store.current_version() == 0  # exactly one batch merged

    # restart from the same checkpoint with the healthy sink
    q2 = stream_merge_into_store(spark, str(src), schema, store, ckpt)
    assert q2.awaitTermination(120)
    # batch 0 merged twice (replay) + batches 1 and 2 → 4 versions...
    assert store.history() == [0, 1, 2, 3]
    # ...but the reader-visible state is the exactly-once application
    assert _rows(store.read(spark)) == [
        (1, 2, "a2"),
        (2, 1, "b"),
        (3, 1, "c"),
    ]


def test_rebucket_preserves_rows_time_travel_and_cdc_silence(
    spark, tmp_path
):
    """Bucket-count evolution: rows identical before/after, old
    versions still readable, and a pure rebucket emits ZERO CDC rows
    in both grow and shrink directions (changes are rows, not layout).
    """
    from parquet_demo_spark.sources.merge_store import changes_between

    st = _store(tmp_path, num_buckets=4)
    st.merge(
        spark.createDataFrame(
            [Row(k=i, v=1, payload=str(i)) for i in range(64)]
        )
    )
    before = _rows(st.read(spark))

    v_grow = st.rebucket(spark, 16)
    assert v_grow == 1 and st.num_buckets == 16
    assert _rows(st.read(spark)) == before
    assert _rows(st.read(spark, version=0)) == before  # time travel
    assert changes_between(st, spark, 0, v_grow).count() == 0

    v_shrink = st.rebucket(spark, 2)
    assert v_shrink == 2 and st.num_buckets == 2
    assert _rows(st.read(spark)) == before
    assert changes_between(st, spark, v_grow, v_shrink).count() == 0
    # and across the whole chain
    assert changes_between(st, spark, 0, v_shrink).count() == 0


def test_merge_after_rebucket_routes_by_new_buckets(spark, tmp_path):
    """Post-rebucket merges rewrite a new-B-sized fraction: an upsert
    touching one key rewrites exactly one of the 16 new buckets."""
    st = _store(tmp_path, num_buckets=4)
    st.merge(
        spark.createDataFrame(
            [Row(k=i, v=1, payload=str(i)) for i in range(64)]
        )
    )
    st.rebucket(spark, 16)
    paths_before = st._bucket_paths(st.current_version())
    st.merge(spark.createDataFrame([Row(k=7, v=2, payload="seven-b")]))
    paths_after = st._bucket_paths(st.current_version())
    rewritten = [
        b for b in paths_after if paths_after[b] != paths_before.get(b)
    ]
    assert len(rewritten) == 1
    got = {(r.k, r.v, r.payload) for r in st.read(spark).collect()}
    assert (7, 2, "seven-b") in got and len(got) == 64


def test_rebucket_cdc_still_sees_real_changes(spark, tmp_path):
    """An update applied AFTER a rebucket is reported across the
    boundary; the moved-but-identical rows stay silent."""
    from parquet_demo_spark.sources.merge_store import changes_between

    st = _store(tmp_path, num_buckets=4)
    st.merge(
        spark.createDataFrame(
            [Row(k=i, v=1, payload=str(i)) for i in range(32)]
        )
    )
    st.rebucket(spark, 8)
    st.merge(spark.createDataFrame([Row(k=3, v=2, payload="three-b")]))
    ch = changes_between(st, spark, 0, st.current_version())
    got = sorted((r.k, r.payload, r._change_type) for r in ch.collect())
    assert got == [(3, "three-b", "update_postimage")]


def test_rebucket_guards(spark, tmp_path):
    st = _store(tmp_path, num_buckets=4)
    with pytest.raises(ValueError, match="empty"):
        st.rebucket(spark, 8)
    st.merge(spark.createDataFrame([Row(k=1, v=1, payload="a")]))
    assert st.rebucket(spark, 4) == 0  # no-op keeps the version
    with pytest.raises(ValueError, match=">= 1"):
        st.rebucket(spark, 0)


def test_reopen_after_rebucket_requires_new_bucket_count(
    spark, tmp_path
):
    st = _store(tmp_path, num_buckets=4)
    st.merge(spark.createDataFrame([Row(k=1, v=1, payload="a")]))
    st.rebucket(spark, 16)
    with pytest.raises(ValueError, match="different"):
        _store(tmp_path, num_buckets=4)
    re = _store(tmp_path, num_buckets=16)
    assert _rows(re.read(spark)) == [(1, 1, "a")]


# -- DELETE WHERE ------------------------------------------------------


def test_delete_where_basic_and_bucket_pruning(spark, tmp_path):
    """DELETE drops exactly the matching rows, rewrites only the
    buckets holding one, and commits a normal time-travelable version."""
    from pyspark.sql import functions as F

    st = _store(tmp_path, num_buckets=8)
    st.merge(
        spark.createDataFrame(
            [Row(k=i, v=1, payload=("x" if i % 3 == 0 else "y"))
             for i in range(24)]
        )
    )
    before = st._bucket_paths(0)
    v = st.delete(spark, F.col("payload") == "x")
    assert v == 1
    got = _rows(st.read(spark))
    assert got == [(i, 1, "y") for i in range(24) if i % 3 != 0]
    # time travel still shows the pre-delete state
    assert len(_rows(st.read(spark, version=0))) == 24
    # untouched buckets re-reference their old dirs verbatim
    after = st._bucket_paths(1)
    survivors_by_bucket = {}
    untouched = [b for b in before if before[b] == after.get(b)]
    assert untouched, "expected at least one bucket with no 'x' row"


def test_delete_noop_burns_no_version(spark, tmp_path):
    from pyspark.sql import functions as F

    st = _store(tmp_path)
    st.merge(spark.createDataFrame([Row(k=1, v=1, payload="a")]))
    assert st.delete(spark, F.col("payload") == "zzz") is None
    assert st.current_version() == 0


def test_delete_null_predicate_keeps_row(spark, tmp_path):
    """SQL DELETE semantics: predicate NULL → row kept."""
    st = _store(tmp_path)
    st.merge(
        spark.createDataFrame(
            [Row(k=1, v=1, payload=None), Row(k=2, v=1, payload="drop")]
        )
    )
    st.delete(spark, "payload = 'drop'")
    assert _rows(st.read(spark)) == [(1, 1, None)]


def test_delete_unconditional_refused(spark, tmp_path):
    st = _store(tmp_path)
    st.merge(spark.createDataFrame([Row(k=1, v=1, payload="a")]))
    with pytest.raises(ValueError, match="unconditional"):
        st.delete(spark)


def test_delete_all_keeps_schema(spark, tmp_path):
    from pyspark.sql import functions as F

    st = _store(tmp_path)
    st.merge(
        spark.createDataFrame(
            [Row(k=1, v=1, payload="a"), Row(k=2, v=1, payload="b")]
        )
    )
    st.delete(spark, F.lit(True))
    out = st.read(spark)
    assert out.count() == 0
    assert out.columns == ["k", "v", "payload"]
    # and the table accepts new merges afterwards
    st.merge(spark.createDataFrame([Row(k=9, v=1, payload="z")]))
    assert _rows(st.read(spark)) == [(9, 1, "z")]


def test_delete_where_ranges_prune_and_filter(spark, tmp_path):
    """`where` is both a stats-pruning hint and part of the predicate —
    identical contract to read(where=...)."""
    st = _store(tmp_path, num_buckets=4)
    st.merge(
        spark.createDataFrame(
            [Row(k=i, v=i, payload=str(i)) for i in range(20)]
        )
    )
    v = st.delete(spark, "k % 2 = 0", where={"v": (10, 14)})
    assert v == 1
    kept = [k for k, _, _ in _rows(st.read(spark))]
    assert kept == [k for k in range(20) if not (10 <= k <= 14 and k % 2 == 0)]


def test_delete_change_feed_and_changes_between(spark, tmp_path):
    """A delete commit is visible both via its stored feed and via
    snapshot diffing — as _change_type='delete' rows."""
    from pyspark.sql import functions as F

    from parquet_demo_spark.sources.merge_store import changes_between

    st = _store(tmp_path, num_buckets=8)
    st.merge(
        spark.createDataFrame(
            [Row(k=i, v=1, payload=str(i)) for i in range(16)]
        )
    )
    st.delete(spark, F.col("k") < 3, write_change_feed=True)
    feed = st.change_feed(spark, 1)
    assert sorted((r.k, r._change_type) for r in feed.collect()) == [
        (0, "delete"), (1, "delete"), (2, "delete"),
    ]
    diff = changes_between(st, spark, 0, 1)
    assert sorted((r.k, r._change_type) for r in diff.collect()) == [
        (0, "delete"), (1, "delete"), (2, "delete"),
    ]
    # identically-rewritten survivors in the touched buckets stay silent
    assert diff.filter(F.col("_change_type") != "delete").count() == 0


def test_changes_between_mixed_merge_and_delete_span(spark, tmp_path):
    """A span covering an update, an insert AND a delete nets all three
    change kinds; the deleted key's pre-image is the v_from row."""
    from parquet_demo_spark.sources.merge_store import changes_between

    st = _store(tmp_path, num_buckets=8)
    st.merge(
        spark.createDataFrame(
            [Row(k=i, v=1, payload=str(i)) for i in range(8)]
        )
    )
    st.merge(
        spark.createDataFrame(
            [Row(k=0, v=2, payload="zero-b"), Row(k=50, v=1, payload="new")]
        )
    )
    st.delete(spark, "k = 3")
    ch = changes_between(st, spark, 0, 2)  # 0 → current
    got = sorted((r.k, r.payload, r._change_type) for r in ch.collect())
    assert got == [
        (0, "zero-b", "update_postimage"),
        (3, "3", "delete"),
        (50, "new", "insert"),
    ]
    # preimages mode adds the old row of the updated key only
    chp = changes_between(st, spark, 0, 2, include_preimages=True)
    gotp = sorted((r.k, r.payload, r._change_type) for r in chp.collect())
    assert gotp == [
        (0, "0", "update_preimage"),
        (0, "zero-b", "update_postimage"),
        (3, "3", "delete"),
        (50, "new", "insert"),
    ]


def test_delete_then_reinsert_nets_update(spark, tmp_path):
    """Across a delete+reinsert span the key is PRESENT on both ends:
    the net diff is an update (new payload), not delete+insert."""
    from parquet_demo_spark.sources.merge_store import changes_between

    st = _store(tmp_path)
    st.merge(spark.createDataFrame([Row(k=1, v=1, payload="a")]))
    st.delete(spark, "k = 1")
    st.merge(spark.createDataFrame([Row(k=1, v=2, payload="a2")]))
    ch = changes_between(st, spark, 0, 2)
    assert sorted((r.k, r.payload, r._change_type) for r in ch.collect()) == [
        (1, "a2", "update_postimage"),
    ]


def test_delete_after_rebucket_and_cdc_across_both(spark, tmp_path):
    """Delete routed by the NEW bucket count after a rebucket; a diff
    spanning rebucket+delete emits only the delete."""
    from parquet_demo_spark.sources.merge_store import changes_between

    st = _store(tmp_path, num_buckets=2)
    st.merge(
        spark.createDataFrame(
            [Row(k=i, v=1, payload=str(i)) for i in range(12)]
        )
    )
    st.rebucket(spark, 8)
    st.delete(spark, "k = 5")
    assert len(_rows(st.read(spark))) == 11
    ch = changes_between(st, spark, 0, 2)
    assert sorted((r.k, r._change_type) for r in ch.collect()) == [
        (5, "delete"),
    ]


def test_refresh_incremental_applies_deletes(spark, tmp_path):
    """The maintained MV stays equal to a full recompute across a span
    that includes delete retractions."""
    from parquet_demo_spark.operators.incremental import (
        _mv_agg,
        refresh_incremental,
    )
    from parquet_demo_spark.sources.merge_store import changes_between

    st = ParquetMergeStore(
        str(tmp_path / "mvstore"),
        keys=("user_id", "event_type"),
        version_cols=("ts", "event_id"),
        num_buckets=8,
    )
    rows = [
        Row(user_id=u, event_type=t, event_id=u * 10 + i, ts=i, value=1.5 * u)
        for u in range(6)
        for i, t in enumerate(["click", "view"])
    ]
    st.merge(spark.createDataFrame(rows))
    mv0 = _mv_agg(st.read(spark, version=0)).localCheckpoint()
    st.delete(spark, "user_id IN (1, 4) AND event_type = 'click'")
    cdc = changes_between(st, spark, 0, 1, include_preimages=True)
    inc = refresh_incremental(mv0, cdc)
    full = _mv_agg(st.read(spark, version=1))
    assert sorted(map(tuple, inc.collect())) == sorted(
        map(tuple, full.collect())
    )


# -- bloom point-lookup skipping ---------------------------------------


def test_bloom_skipping_prunes_point_lookups(spark, tmp_path):
    """A point lookup on a non-leading, hash-scattered column skips
    buckets via the manifest blooms where min/max provably cannot."""
    st = ParquetMergeStore(
        str(tmp_path / "bloomstore"),
        keys=("k", "tag"),
        version_cols=("v",),
        num_buckets=8,
        bloom_cols=("tag",),
    )
    # tags are few and interleaved: every bucket's [min,max] spans the
    # whole tag domain, so min/max alone prunes NOTHING
    rows = [
        Row(k=i, tag=f"tag{i % 50:02d}", v=1, payload=str(i))
        for i in range(400)
    ]
    st.merge(spark.createDataFrame(rows))
    all_b = st._bucket_paths(0)
    assert len(all_b) == 8
    # a tag present in few buckets: bloom pruning must open fewer dirs
    probe = "tag07"
    holding = {
        r[0]
        for r in spark.createDataFrame(rows)
        .filter(f"tag = '{probe}'")
        .select(st._bucket_expr().alias("b"))
        .distinct()
        .collect()
    }
    pruned = st._pruned_bucket_paths(0, {"tag": (probe, probe)})
    assert set(pruned) >= holding  # never wrong-prunes a holding bucket
    got = _rows_ktag(st.read(spark, where={"tag": (probe, probe)}))
    want = sorted((r.k, r.tag) for r in rows if r.tag == probe)
    assert got == want
    # an absent value prunes (almost surely) everything
    miss = st._pruned_bucket_paths(0, {"tag": ("nope", "nope")})
    assert len(miss) < len(all_b)
    assert st.read(spark, where={"tag": ("nope", "nope")}).count() == 0


def _rows_ktag(df):
    return sorted((r.k, r.tag) for r in df.collect())


def test_bloom_carried_forward_and_rebuilt_on_touch(spark, tmp_path):
    """Untouched buckets keep their bloom entry; a rewritten bucket's
    bloom reflects its new contents (a vanished value becomes
    prunable)."""
    st = ParquetMergeStore(
        str(tmp_path / "bloomstore2"),
        keys=("k",),
        version_cols=("v",),
        num_buckets=4,
        bloom_cols=("payload",),
    )
    st.merge(
        spark.createDataFrame(
            [Row(k=i, v=1, payload=f"p{i}") for i in range(16)]
        )
    )
    m0 = st._read_manifest(0)["blooms"]
    assert set(m0) and all("payload" in b for b in m0.values())
    # rewrite only k=3's bucket, replacing its payload
    st.merge(spark.createDataFrame([Row(k=3, v=2, payload="replaced")]))
    m1 = st._read_manifest(1)["blooms"]
    assert set(m1) == set(m0)
    # the new value is findable, via fewer-than-all buckets
    got = st.read(spark, where={"payload": ("replaced", "replaced")})
    assert [r.k for r in got.collect()] == [3]
    # the store without bloom_cols never writes blooms (zero overhead)
    st2 = ParquetMergeStore(
        str(tmp_path / "noblooms"), keys=("k",), version_cols=("v",)
    )
    st2.merge(spark.createDataFrame([Row(k=1, v=1, payload="a")]))
    assert st2._read_manifest(0).get("blooms") == {}


def test_bloom_survives_delete_and_compact(spark, tmp_path):
    st = ParquetMergeStore(
        str(tmp_path / "bloomstore3"),
        keys=("k",),
        version_cols=("v",),
        num_buckets=4,
        bloom_cols=("payload",),
    )
    st.merge(
        spark.createDataFrame(
            [Row(k=i, v=1, payload=f"p{i}") for i in range(16)]
        )
    )
    st.merge(spark.createDataFrame([Row(k=0, v=2, payload="p0b")]))
    v = st.compact(spark)
    if v is not None:
        assert st._read_manifest(v)["blooms"]
    st.delete(spark, "k = 5", write_change_feed=True)
    cur = st.current_version()
    # p5 is gone: its bucket's rebuilt bloom may now prune the probe,
    # and the read must be empty either way
    assert st.read(
        spark, where={"payload": ("p5", "p5")}
    ).count() == 0
    assert st._read_manifest(cur)["blooms"]


def test_bloom_fastpath_bit_identical(spark, tmp_path, monkeypatch):
    """The small-commit DRIVER-side bloom build (round 13,
    ``_dirs_blooms_driver``) is bit-identical to the distributed
    ``_out_dirs_blooms`` job over the same written dirs — including
    the all-null column yielding no bloom — and the dispatch is
    governed by SPARK_GRAFT_BLOOM_DRIVER_MAX_BYTES."""
    df = spark.range(300).select(
        F.col("id").alias("k"),
        F.lit(1).cast("bigint").alias("v"),
        F.concat(F.lit("t"), (F.col("id") % 30).cast("string")).alias(
            "tag"
        ),
        (F.col("id") * 31).alias("num"),
        F.lit(None).cast("string").alias("blank"),
    )
    # distributed path, forced: threshold 0 means nothing is "small"
    monkeypatch.setenv("SPARK_GRAFT_BLOOM_DRIVER_MAX_BYTES", "0")
    st = ParquetMergeStore(
        str(tmp_path / "bloomdist"),
        keys=("k",),
        version_cols=("v",),
        num_buckets=4,
        bloom_cols=("tag", "num", "blank"),
    )
    st.merge(df)
    dist = st._read_manifest(0)["blooms"]
    assert dist and all(
        set(cm) == {"tag", "num"} for cm in dist.values()
    )  # all-null column yields no bloom, hashable ones do

    # driver fast path over the SAME written dir must match bit-for-bit
    out_dir = os.path.join(
        st.root,
        os.path.dirname(
            next(iter(st._read_manifest(0)["bucket_paths"].values()))
        ),
    )
    fast = ParquetMergeStore._dirs_blooms_driver(
        {"": out_dir}, ("tag", "num", "blank")
    )[""]
    assert {str(b): cm for b, cm in fast.items()} == dist

    # default threshold: the same small commit dispatches to the fast
    # path (no Spark job) and commits identical manifest blooms
    monkeypatch.delenv("SPARK_GRAFT_BLOOM_DRIVER_MAX_BYTES")
    st2 = ParquetMergeStore(
        str(tmp_path / "bloomfast"),
        keys=("k",),
        version_cols=("v",),
        num_buckets=4,
        bloom_cols=("tag", "num", "blank"),
    )
    called = {}
    orig = ParquetMergeStore._dirs_blooms_driver.__func__

    def spy(cls, live, cols):
        called["yes"] = True
        return orig(cls, live, cols)

    monkeypatch.setattr(
        ParquetMergeStore, "_dirs_blooms_driver", classmethod(spy)
    )
    st2.merge(df)
    assert called.get("yes"), "small commit did not take the fast path"
    assert st2._read_manifest(0)["blooms"] == dist


def test_maintain_noop_under_target(spark, tmp_path):
    """maintain() with per-bucket bytes under target commits NOTHING
    — no version churn from a policy that has nothing to do."""
    st = ParquetMergeStore(
        str(tmp_path / "mnoop"), keys=("k",), version_cols=("v",),
        num_buckets=4,
    )
    st.merge(
        spark.createDataFrame(
            [Row(k=i, v=1, payload="x" * 50) for i in range(40)]
        )
    )
    before = st.current_version()
    act = st.maintain(spark, target_bucket_bytes=1 << 30)
    assert act["action"] == "none"
    assert st.current_version() == before
    assert st.num_buckets == 4


def test_maintain_rebuckets_on_growth_and_converges(spark, tmp_path):
    """Once a bucket exceeds the size target, maintain() rebuckets to
    the next power of two sized by total/target; the snapshot is
    byte-equal, later merges route by the new count, and a second
    maintain() is a no-op (the policy converges, no thrash)."""
    st = ParquetMergeStore(
        str(tmp_path / "mgrow"), keys=("k",), version_cols=("v",),
        num_buckets=2,
    )
    import hashlib

    def _payload(i):  # incompressible: parquet can't shrink it away
        return "".join(
            hashlib.sha256(f"{i}-{j}".encode()).hexdigest()
            for j in range(64)
        )

    rows = [Row(k=i, v=1, payload=_payload(i)) for i in range(256)]
    st.merge(spark.createDataFrame(rows))
    before = sorted((r.k, r.v) for r in st.read(spark).collect())
    act = st.maintain(spark, target_bucket_bytes=200 << 10)
    assert act["action"] == "rebucket"
    assert act["to"] > 2 and act["to"] == st.num_buckets
    assert act["to"] & (act["to"] - 1) == 0  # power of two
    assert sorted(
        (r.k, r.v) for r in st.read(spark).collect()
    ) == before
    # converged: every bucket now under target
    act2 = st.maintain(spark, target_bucket_bytes=200 << 10)
    assert act2["action"] == "none"
    assert act2["max_bucket_bytes"] <= 200 << 10
    # subsequent writes route by the new count (PK invariant holds)
    st.merge(spark.createDataFrame([Row(k=3, v=2, payload="new")]))
    got = [
        (r.k, r.v)
        for r in st.read(spark).filter("k = 3").collect()
    ]
    assert got == [(3, 2)]
    # cap respected
    act3 = st.maintain(spark, target_bucket_bytes=1, max_buckets=st.num_buckets)
    assert act3["action"] == "none" and act3["reason"] == "at max_buckets"


def test_maintain_non_pow2_cap_reports_none_not_phantom_rebucket(
    spark, tmp_path
):
    """A non-power-of-two max_buckets can clamp the doubled target
    back to (or below) the current count; that must report
    action='none' (at max_buckets), never a phantom 'rebucket' whose
    underlying call was a no-op (round-11 review finding)."""
    st = ParquetMergeStore(
        str(tmp_path / "mcap"), keys=("k",), version_cols=("v",),
        num_buckets=3,
    )
    st.merge(
        spark.createDataFrame(
            [Row(k=i, v=1, payload="z" * 3000) for i in range(60)]
        )
    )
    before = st.current_version()
    act = st.maintain(spark, target_bucket_bytes=1, max_buckets=3)
    assert act["action"] == "none" and act["reason"] == "at max_buckets"
    assert st.current_version() == before  # nothing committed
    # a cap just above the current count still grows honestly
    act2 = st.maintain(spark, target_bucket_bytes=1, max_buckets=5)
    assert act2["action"] == "rebucket" and st.num_buckets == 5


def test_maintain_conflicts_loudly_with_concurrent_writer(
    spark, tmp_path
):
    """The policy's rebucket moves every PK — NOT rebase-safe — so a
    writer that committed between the size read and the rebucket's CAS
    must surface as ConcurrentWriteConflict, never a silent steal."""
    st = ParquetMergeStore(
        str(tmp_path / "mrace"), keys=("k",), version_cols=("v",),
        num_buckets=2,
    )
    st.merge(
        spark.createDataFrame(
            [Row(k=i, v=1, payload="y" * 2000) for i in range(100)]
        )
    )
    # simulate the competitor's in-flight commit at the next version
    from parquet_demo_spark.sources.merge_store import (
        ConcurrentWriteConflict,
    )

    cur = st.current_version()
    os.makedirs(os.path.join(st.root, f"v{cur + 1:05d}"), exist_ok=True)
    open(st._manifest_path(cur + 1), "x").close()
    with pytest.raises(ConcurrentWriteConflict):
        st.maintain(spark, target_bucket_bytes=1 << 10)
    assert st.num_buckets == 2  # rolled back, instance still usable


def test_executor_blooms_bit_identical_to_reference(spark, tmp_path):
    """The executor-side bloom build (one mapInArrow job per commit,
    round-11 VERDICT #1) must produce BIT-IDENTICAL bitmaps to the
    reference single-pass builder over each bucket's values — the
    composability contract the partitioned store's _bloom_or rollups
    rest on. Unhashable (float) and all-null columns stay absent:
    absence means "can't prune", never "wrong prune"."""
    import os

    import pyarrow.parquet as pq

    from parquet_demo_spark.sources.merge_store import _bloom_build

    st = ParquetMergeStore(
        str(tmp_path / "bloombits"),
        keys=("k",),
        version_cols=("v",),
        num_buckets=4,
        bloom_cols=("tag", "num", "fl", "nul"),
    )
    rows = [
        Row(
            k=i,
            v=1,
            tag=f"t{i % 17}",
            num=i * 31,
            fl=float(i),  # unhashable for blooms: must be absent
            nul=None,  # all-null: must be absent
        )
        for i in range(200)
    ]
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("v", T.LongType()),
            T.StructField("tag", T.StringType()),
            T.StructField("num", T.LongType()),
            T.StructField("fl", T.DoubleType()),
            T.StructField("nul", T.StringType()),
        ]
    )
    st.merge(spark.createDataFrame(rows, schema))
    m = st._read_manifest(0)
    for b, rel in m["bucket_paths"].items():
        got = m["blooms"].get(b, {})
        assert set(got) == {"tag", "num"}  # fl poisoned, nul all-null
        tbl = pq.read_table(
            os.path.join(st.root, rel), columns=["tag", "num"]
        )
        for c in ("tag", "num"):
            ref = _bloom_build(tbl.column(c).to_pylist())
            assert got[c] == ref, f"bucket {b} column {c} bits differ"


# -- optimistic concurrency --------------------------------------------


def test_concurrent_commit_conflict_raises_not_lost_update(
    spark, tmp_path
):
    """Two writers targeting the same version: exactly one wins; the
    loser gets ConcurrentWriteConflict, never a silent pointer steal."""
    import json

    from parquet_demo_spark.sources.merge_store import (
        ConcurrentWriteConflict,
    )

    st = _store(tmp_path)
    st.merge(spark.createDataFrame([Row(k=1, v=1, payload="a")]))
    # simulate a racing writer that already claimed v1's manifest
    rival = st._manifest_path(1)
    os.makedirs(os.path.dirname(rival), exist_ok=True)
    with open(rival, "x") as fh:
        json.dump({"version": 1}, fh)
    with pytest.raises(ConcurrentWriteConflict, match="version 1"):
        st.merge(spark.createDataFrame([Row(k=2, v=1, payload="b")]))
    # the committed snapshot is untouched by the failed merge
    assert st.current_version() == 0
    assert _rows(st.read(spark)) == [(1, 1, "a")]


def test_clean_orphans_unblocks_after_crash(spark, tmp_path):
    """A crashed commit's orphan manifest blocks its version number;
    clean_orphans removes exactly the above-pointer manifests and the
    next merge succeeds."""
    import json

    from parquet_demo_spark.sources.merge_store import (
        ConcurrentWriteConflict,
    )

    st = _store(tmp_path)
    st.merge(spark.createDataFrame([Row(k=1, v=1, payload="a")]))
    orphan = st._manifest_path(1)
    os.makedirs(os.path.dirname(orphan), exist_ok=True)
    with open(orphan, "x") as fh:
        json.dump({"version": 1}, fh)
    with pytest.raises(ConcurrentWriteConflict):
        st.merge(spark.createDataFrame([Row(k=2, v=1, payload="b")]))
    assert st.clean_orphans() == [1]
    st.merge(spark.createDataFrame([Row(k=2, v=1, payload="b")]))
    assert st.current_version() == 1
    assert len(_rows(st.read(spark))) == 2
    # committed manifests are never touched
    assert st.clean_orphans() == []
    assert st.history() == [0, 1]


# -- merge_into: full MERGE clause semantics ---------------------------------


def test_merge_into_clause_order_first_match_wins(spark, tmp_path):
    """Ordered WHEN MATCHED clauses: the FIRST true condition applies.

    Clauses: (delete if s.v < 0) then (update if s.v >= t.v). A source
    row with v=-1 matches both shapes textually but must DELETE; a
    stale source row (s.v < t.v) matches neither and keeps the stored
    row; a fresh one updates."""
    st = _store(tmp_path)
    st.merge(
        spark.createDataFrame(
            [
                Row(k=1, v=5, payload="keep-me"),
                Row(k=2, v=5, payload="update-me"),
                Row(k=3, v=5, payload="delete-me"),
            ]
        )
    )
    st.merge_into(
        spark.createDataFrame(
            [
                Row(k=1, v=1, payload="stale"),       # no clause fires
                Row(k=2, v=9, payload="fresh"),       # update
                Row(k=3, v=-1, payload="tombstone"),  # delete
                Row(k=4, v=7, payload="new"),         # insert
            ]
        ),
        matched=[("delete", "s.v < 0"), ("update", "s.v >= t.v")],
    )
    assert _rows(st.read(spark)) == [
        (1, 5, "keep-me"),
        (2, 9, "fresh"),
        (4, 7, "new"),
    ]


def test_merge_into_update_set_expressions(spark, tmp_path):
    """update_set evaluates SQL over s/t aliases; unmapped columns take
    the source value; key columns cannot be SET."""
    st = _store(tmp_path)
    st.merge(spark.createDataFrame([Row(k=1, v=10, payload="x")]))
    st.merge_into(
        spark.createDataFrame([Row(k=1, v=32, payload="y")]),
        matched=[("update", None)],
        update_set={"v": "s.v + t.v"},
    )
    assert _rows(st.read(spark)) == [(1, 42, "y")]
    with pytest.raises(ValueError, match="key columns"):
        st.merge_into(
            spark.createDataFrame([Row(k=1, v=1, payload="z")]),
            update_set={"k": "s.k + 1"},
        )


def test_merge_into_conditional_insert_and_untouched_rows(spark, tmp_path):
    """not_matched_insert condition filters inserts; stored rows with no
    source match are untouched (their bucket dirs re-referenced)."""
    st = _store(tmp_path, num_buckets=8)
    st.merge(
        spark.createDataFrame(
            [Row(k=i, v=1, payload=f"p{i}") for i in range(8)]
        )
    )
    before = st._bucket_paths(st.current_version())
    st.merge_into(
        spark.createDataFrame(
            [Row(k=100, v=1, payload="in"), Row(k=101, v=1, payload="out")]
        ),
        not_matched_insert="s.payload <> 'out'",
    )
    rows = _rows(st.read(spark))
    assert (100, 1, "in") in rows
    assert all(r[0] != 101 for r in rows)
    assert len(rows) == 9
    after = st._bucket_paths(st.current_version())
    untouched = [b for b in before if before[b] == after.get(b)]
    # only the bucket(s) k=100 routes to rewrote
    assert len(untouched) >= len(before) - 2


def test_merge_into_change_feed_all_types(spark, tmp_path):
    """The MERGE feed carries insert/update pre+post/delete, and an
    identical-value update emits nothing."""
    st = _store(tmp_path)
    st.merge(
        spark.createDataFrame(
            [
                Row(k=1, v=1, payload="same"),
                Row(k=2, v=1, payload="old"),
                Row(k=3, v=1, payload="doomed"),
            ]
        )
    )
    v = st.merge_into(
        spark.createDataFrame(
            [
                Row(k=1, v=1, payload="same"),    # identical → no change row
                Row(k=2, v=2, payload="new"),     # update
                Row(k=3, v=9, payload="kill"),    # delete
                Row(k=4, v=1, payload="born"),    # insert
            ]
        ),
        matched=[("delete", "s.payload = 'kill'"), ("update", None)],
        write_change_feed=True,
    )
    feed = sorted(
        (r.k, r._change_type) for r in st.change_feed(spark, v).collect()
    )
    assert feed == [
        (2, "update_postimage"),
        (2, "update_preimage"),
        (3, "delete"),
        (4, "insert"),
    ]


def test_merge_into_empty_store_inserts_only(spark, tmp_path):
    st = _store(tmp_path)
    st.merge_into(
        spark.createDataFrame(
            [Row(k=1, v=1, payload="a"), Row(k=2, v=1, payload="b")]
        ),
        matched=[("update", None)],
        not_matched_insert="s.k = 1",
    )
    assert _rows(st.read(spark)) == [(1, 1, "a")]


def test_delete_keys_join_shaped_delete(spark, tmp_path):
    """delete_keys drops exactly the listed PKs; unknown keys are
    no-ops; the feed records the deletes."""
    st = _store(tmp_path)
    st.merge(
        spark.createDataFrame(
            [Row(k=i, v=1, payload=f"p{i}") for i in range(5)]
        )
    )
    v = st.delete_keys(
        spark.createDataFrame([Row(k=1), Row(k=3), Row(k=99)]),
        write_change_feed=True,
    )
    assert _rows(st.read(spark)) == [
        (0, 1, "p0"),
        (2, 1, "p2"),
        (4, 1, "p4"),
    ]
    feed = sorted(
        (r.k, r._change_type) for r in st.change_feed(spark, v).collect()
    )
    assert feed == [(1, "delete"), (3, "delete")]


def test_merge_into_time_travel_spans_clauses(spark, tmp_path):
    """Time travel across a merge_into shows the pre-merge snapshot."""
    st = _store(tmp_path)
    st.merge(spark.createDataFrame([Row(k=1, v=1, payload="a")]))
    st.merge_into(
        spark.createDataFrame([Row(k=1, v=2, payload="b")]),
        matched=[("delete", None)],
    )
    assert _rows(st.read(spark, version=0)) == [(1, 1, "a")]
    # the delete emptied the only row; current snapshot is empty
    assert st.read(spark).count() == 0


# -- replay_change_feed: CDC consumer / store replication --------------------


def test_replay_change_feed_replicates_store(spark, tmp_path):
    """Feeds from merges, merge_into clauses, and deletes replay into an
    identical replica; a second replay converges (idempotent)."""
    from parquet_demo_spark.sources.merge_store import replay_change_feed

    a = ParquetMergeStore(
        str(tmp_path / "a"), keys=("k",), version_cols=("v",), num_buckets=4
    )
    b = ParquetMergeStore(
        str(tmp_path / "b"), keys=("k",), version_cols=("v",), num_buckets=4
    )
    a.merge(
        spark.createDataFrame(
            [Row(k=i, v=1, payload=f"p{i}") for i in range(6)]
        ),
        write_change_feed=True,
    )
    a.merge_into(
        spark.createDataFrame(
            [
                Row(k=0, v=2, payload="updated"),
                Row(k=1, v=2, payload="kill"),
                Row(k=9, v=1, payload="born"),
            ]
        ),
        matched=[("delete", "s.payload = 'kill'"), ("update", None)],
        write_change_feed=True,
    )
    a.delete(spark, "k >= 4 AND k <= 5", write_change_feed=True)

    replay_change_feed(a, b, spark)
    assert _rows(b.read(spark)) == _rows(a.read(spark))
    # idempotent: replaying the same feeds again changes nothing
    replay_change_feed(a, b, spark)
    assert _rows(b.read(spark)) == _rows(a.read(spark))


def test_replay_change_feed_requires_stored_feeds(spark, tmp_path):
    from parquet_demo_spark.sources.merge_store import replay_change_feed

    a = ParquetMergeStore(
        str(tmp_path / "a"), keys=("k",), version_cols=("v",)
    )
    b = ParquetMergeStore(str(tmp_path / "b"), keys=("k",), version_cols=("v",))
    a.merge(spark.createDataFrame([Row(k=1, v=1, payload="x")]))  # no feed
    with pytest.raises(ValueError, match="no stored change feed"):
        replay_change_feed(a, b, spark)


# --- property-based: full-op sequences equal the dict model ----------------

_OP_BATCH = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=9),   # k (collision-prone)
        st.integers(min_value=0, max_value=5),   # v
        st.sampled_from(["a", "b", "c"]),        # payload
    ),
    min_size=1,
    max_size=5,
)

_MATCHED_COND = st.sampled_from([None, "s.v >= t.v", "s.v < t.v"])
_INSERT_COND = st.sampled_from([True, False, "s.v > 2"])

_OP = st.one_of(
    st.tuples(st.just("merge"), _OP_BATCH),
    st.tuples(
        st.just("merge_into"),
        st.tuples(
            _OP_BATCH,
            _MATCHED_COND,  # delete clause cond (first)
            _MATCHED_COND,  # update clause cond (second)
            _INSERT_COND,
            st.booleans(),  # accumulate v via update_set
        ),
    ),
    st.tuples(
        st.just("merge_into_nmbs"),
        st.tuples(
            _OP_BATCH,
            st.sampled_from([None, "t.v >= 3", "t.v < 2"]),  # nmbs delete
            st.sampled_from([None, "t.v <= 4"]),  # nmbs update
        ),
    ),
    st.tuples(st.just("delete_pred"), st.integers(min_value=0, max_value=5)),
    st.tuples(
        st.just("delete_keys"),
        st.lists(
            st.integers(min_value=0, max_value=9), min_size=1, max_size=3
        ),
    ),
    st.tuples(st.just("compact"), st.none()),
    st.tuples(st.just("rebucket"), st.integers(min_value=1, max_value=6)),
    st.tuples(st.just("restore"), st.integers(min_value=0, max_value=9)),
)


def _collapse(rows):
    """LWW per key by (v, position) — the store's batch collapse."""
    best = {}
    for i, (k, v, p) in enumerate(rows):
        if k not in best or (v, i) > (best[k][0], best[k][1]):
            best[k] = (v, i, p)
    return {k: (v, p) for k, (v, _, p) in best.items()}


def _eval_cond(cond, sv, sp, tv):
    if cond is None:
        return True
    if cond == "s.v >= t.v":
        return sv >= tv
    if cond == "s.v < t.v":
        return sv < tv
    if cond == "s.v > 2":
        return sv > 2
    raise AssertionError(cond)


def _eval_tcond(cond, tv):
    """not_matched_by_source conds see only the target row."""
    if cond is None:
        return True
    if cond == "t.v >= 3":
        return tv >= 3
    if cond == "t.v < 2":
        return tv < 2
    if cond == "t.v <= 4":
        return tv <= 4
    raise AssertionError(cond)


@settings(
    max_examples=6,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=st.lists(_OP, min_size=2, max_size=6))
def test_store_full_op_model_equivalence(spark, tmp_path_factory, ops):
    """Random interleavings of every mutating store op (plus layout ops
    compact/rebucket, which must be invisible) end in exactly the dict
    model's state, with no duplicate PKs — the store is, behaviorally, a
    replicated dict keyed by PK."""
    tmp = tmp_path_factory.mktemp("store_model")
    store = ParquetMergeStore(
        str(tmp / "s"), keys=("k",), version_cols=("v", "pos"), num_buckets=4
    )
    model: dict[int, tuple] = {}
    # model state as of each committed version — what restore rolls to
    snapshots: dict[int, dict[int, tuple]] = {}

    def df_of(rows):
        return spark.createDataFrame(
            [
                Row(k=k, v=v, payload=p, pos=i)
                for i, (k, v, p) in enumerate(rows)
            ]
        )

    for kind, arg in ops:
        empty = store.current_version() is None
        if kind == "merge":
            store.merge(df_of(arg))
            model.update(_collapse(arg))
        elif kind == "merge_into":
            rows, del_cond, upd_cond, ins_cond, accumulate = arg
            update_set = {"v": "s.v + t.v"} if accumulate else None
            store.merge_into(
                df_of(rows),
                matched=[("delete", del_cond), ("update", upd_cond)],
                not_matched_insert=ins_cond,
                update_set=update_set,
            )
            for k, (sv, sp) in _collapse(rows).items():
                if k in model:
                    tv = model[k][0]
                    if _eval_cond(del_cond, sv, sp, tv):
                        del model[k]
                    elif _eval_cond(upd_cond, sv, sp, tv):
                        model[k] = (sv + tv if accumulate else sv, sp)
                elif ins_cond is True or (
                    ins_cond != False and _eval_cond(ins_cond, sv, sp, None)
                ):
                    model[k] = (sv, sp)
        elif kind == "merge_into_nmbs":
            rows, dcond, ucond = arg
            store.merge_into(
                df_of(rows),
                matched=[("update", None)],
                not_matched_by_source=[
                    ("delete", dcond),
                    ("update", ucond, {"payload": "'expired'"}),
                ],
            )
            src = _collapse(rows)
            for k, (sv, sp) in src.items():
                model[k] = (sv, sp)  # matched replace, or insert
            for k in list(model):
                if k in src:
                    continue
                tv = model[k][0]
                if _eval_tcond(dcond, tv):
                    del model[k]
                elif _eval_tcond(ucond, tv):
                    model[k] = (tv, "expired")
        elif kind == "delete_pred":
            if empty:
                continue
            store.delete(spark, f"v >= {arg}")
            model = {k: t for k, t in model.items() if t[0] < arg}
        elif kind == "delete_keys":
            if empty:
                continue
            store.delete_keys(spark.createDataFrame([Row(k=k) for k in arg]))
            for k in arg:
                model.pop(k, None)
        elif kind == "compact":
            if empty:
                continue
            store.compact(spark, min_files=1)
        elif kind == "rebucket":
            if empty:
                continue
            store.rebucket(spark, arg)
        elif kind == "restore":
            if empty:
                continue
            target = arg % (store.current_version() + 1)
            store.restore(target)
            model = dict(snapshots[target])
        cur = store.current_version()
        if cur is not None and cur not in snapshots:
            snapshots[cur] = dict(model)
    if store.current_version() is None:
        assert model == {}
        return
    rows = store.read(spark).collect()
    assert len({r.k for r in rows}) == len(rows)  # PK uniqueness
    assert {r.k: (r.v, r.payload) for r in rows} == model


# -- shallow clone + metadata count -----------------------------------------


def test_count_rows_metadata_only(spark, tmp_path):
    st = _store(tmp_path)
    st.merge(
        spark.createDataFrame(
            [Row(k=i, v=1, payload=f"p{i}") for i in range(23)]
        )
    )
    assert st.count_rows() == 23
    st.delete(spark, "k < 3")
    assert st.count_rows() == 20
    assert st.count_rows(version=0) == 23  # time-traveled count


def test_shallow_clone_zero_copy_then_cow(spark, tmp_path):
    """A shallow clone reads the source's files in place; writing to the
    clone rewrites only touched buckets into the clone's own tree and
    never mutates the source."""
    src = _store(tmp_path, num_buckets=4)
    src.merge(
        spark.createDataFrame(
            [Row(k=i, v=1, payload=f"p{i}") for i in range(16)]
        )
    )
    clone = src.shallow_clone(str(tmp_path / "clone"))
    assert _rows(clone.read(spark)) == _rows(src.read(spark))
    # v0 of the clone references the source's dirs (no data copied)
    assert all(
        p.startswith(str(tmp_path / "store"))
        for p in clone._bucket_paths(0).values()
    )
    # copy-on-write: a clone merge leaves the source untouched and
    # keeps sharing the unmodified buckets
    clone.merge(spark.createDataFrame([Row(k=1, v=9, payload="clone-own")]))
    assert (1, 1, "p1") in _rows(src.read(spark))
    assert (1, 9, "clone-own") in _rows(clone.read(spark))
    shared = [
        p
        for p in clone._bucket_paths(clone.current_version()).values()
        if p.startswith(str(tmp_path / "store"))
    ]
    assert len(shared) == 3  # 4 buckets, 1 rewritten locally
    # and the clone's metadata count matches through the mixed layout
    assert clone.count_rows() == 16
    with pytest.raises(ValueError, match="not empty"):
        src.shallow_clone(str(tmp_path / "clone"))


def test_stream_change_feed_tails_commits(spark, tmp_path):
    """The stored feeds replay as a structured stream; a checkpointed
    restart consumes ONLY commits that landed after the first run."""
    from parquet_demo_spark.sources.merge_store import stream_change_feed

    st = _store(tmp_path)
    st.merge(
        spark.createDataFrame(
            [Row(k=1, v=1, payload="a"), Row(k=2, v=1, payload="b")]
        ),
        write_change_feed=True,
    )
    st.merge(
        spark.createDataFrame([Row(k=1, v=2, payload="a2")]),
        write_change_feed=True,
    )
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def drain():
        q = (
            stream_change_feed(spark, st)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    drain()
    got = sorted(
        (r.k, r._change_type) for r in spark.read.parquet(out).collect()
    )
    assert got == [
        (1, "insert"),
        (1, "update_postimage"),
        (1, "update_preimage"),
        (2, "insert"),
    ]
    # a new feed-bearing commit, then a restarted stream: only the new
    # commit's rows arrive (checkpoint excludes consumed files)
    st.merge(
        spark.createDataFrame([Row(k=3, v=1, payload="c")]),
        write_change_feed=True,
    )
    drain()
    got2 = sorted(
        (r.k, r._change_type) for r in spark.read.parquet(out).collect()
    )
    assert got2 == got + [(3, "insert")]


# -- CHECK constraints -------------------------------------------------------


def test_check_constraint_rejects_bad_batch_atomically(spark, tmp_path):
    """A violating merge raises BEFORE the commit: no version burned,
    snapshot unchanged; NULL predicates satisfy (SQL CHECK)."""
    st = _store(tmp_path, constraints={"v_nonneg": "v >= 0"})
    st.merge(spark.createDataFrame([Row(k=1, v=1, payload="a")]))
    with pytest.raises(ValueError, match="v_nonneg"):
        st.merge(
            spark.createDataFrame(
                [Row(k=2, v=-5, payload="bad"), Row(k=3, v=2, payload="ok")]
            )
        )
    assert st.current_version() == 0
    assert _rows(st.read(spark)) == [(1, 1, "a")]
    # NULL predicate = satisfied
    st.merge(
        spark.createDataFrame(
            [Row(k=4, v=None, payload="nullv")],
            schema="k bigint, v bigint, payload string",
        )
    )
    assert (4, None, "nullv") in _rows(st.read(spark))


def test_check_constraint_persists_and_guards_merge_into(spark, tmp_path):
    """Constraints survive reopen via the manifest and apply to
    merge_into SET results too (the update's OUTPUT is what must
    satisfy the check)."""
    st = _store(tmp_path, constraints={"v_cap": "v <= 100"})
    st.merge(spark.createDataFrame([Row(k=1, v=60, payload="a")]))
    reopened = ParquetMergeStore(
        str(tmp_path / "store"), keys=("k",), version_cols=("v",),
        num_buckets=4,
    )
    assert reopened.constraints == {"v_cap": "v <= 100"}
    with pytest.raises(ValueError, match="v_cap"):
        reopened.merge_into(
            spark.createDataFrame([Row(k=1, v=60, payload="b")]),
            matched=[("update", None)],
            update_set={"v": "s.v + t.v"},  # 120 > cap
        )
    assert reopened.current_version() == 0


def test_add_constraint_validates_existing_snapshot(spark, tmp_path):
    st = _store(tmp_path)
    st.merge(spark.createDataFrame([Row(k=1, v=5, payload="a")]))
    with pytest.raises(ValueError, match="add_constraint"):
        st.add_constraint(spark, "v_big", "v >= 10")
    assert st.constraints == {}
    st.add_constraint(spark, "v_pos", "v > 0")
    with pytest.raises(ValueError, match="v_pos"):
        st.merge(spark.createDataFrame([Row(k=2, v=0, payload="z")]))


# -- commit provenance: DESCRIBE HISTORY + timestamp time travel -------------


def test_describe_history_records_operations(spark, tmp_path):
    st = _store(tmp_path)
    st.merge(spark.createDataFrame([Row(k=1, v=1, payload="a")]))
    st.merge_into(
        spark.createDataFrame([Row(k=1, v=2, payload="b")]),
        matched=[("update", None)],
    )
    st.delete(spark, "k = 1", write_change_feed=True)
    hist = st.describe_history()
    assert [h["operation"] for h in hist] == ["merge", "merge_into", "delete"]
    assert hist[0]["op_params"]["touched_buckets"] == 1
    assert hist[2]["change_feed"] is not None
    assert all(h["committed_at"] is not None for h in hist)
    # strictly ordered commit times
    times = [h["committed_at"] for h in hist]
    assert times == sorted(times)


def test_version_at_timestamp_time_travel(spark, tmp_path):
    st = _store(tmp_path)
    st.merge(spark.createDataFrame([Row(k=1, v=1, payload="a")]))
    t_between = st.describe_history()[-1]["committed_at"] + 0.001
    st.merge(spark.createDataFrame([Row(k=1, v=2, payload="b")]))
    assert st.version_at(t_between) == 0
    assert _rows(st.read(spark, version=st.version_at(t_between))) == [
        (1, 1, "a")
    ]
    with pytest.raises(ValueError, match="no commit"):
        st.version_at(0.0)
    # clone provenance
    clone = st.shallow_clone(str(tmp_path / "c"))
    ch = clone.describe_history()
    assert ch[0]["operation"] == "clone"
    assert ch[0]["op_params"]["source_version"] == 1


# -- RESTORE: metadata-only rollback to an earlier snapshot ------------------


def test_restore_reverts_state_and_preserves_history(spark, tmp_path):
    st = _store(tmp_path)
    st.merge(spark.createDataFrame([Row(k=1, v=1, payload="a")]))  # v0
    st.merge(
        spark.createDataFrame(
            [Row(k=1, v=2, payload="a2"), Row(k=2, v=1, payload="b")]
        )
    )  # v1
    st.delete(spark, "k = 1")  # v2
    v = st.restore(0)
    assert v == 3
    assert st.current_version() == 3
    assert _rows(st.read(spark)) == [(1, 1, "a")]
    # rolled-back versions stay time-travelable
    assert _rows(st.read(spark, version=2)) == [(2, 1, "b")]
    hist = st.describe_history()
    assert hist[-1]["operation"] == "restore"
    assert hist[-1]["op_params"]["to_version"] == 0
    # CDC across the restore is the net revert, as plain row diffs
    from parquet_demo_spark.sources.merge_store import changes_between

    ch = changes_between(st, spark, 2, 3)
    got = sorted(
        (r.k, r.v, r.payload, r._change_type) for r in ch.collect()
    )
    assert got == [(1, 1, "a", "insert"), (2, 1, "b", "delete")]
    # no-op: restoring to the current version creates nothing
    assert st.restore(3) == 3
    assert st.current_version() == 3
    # a reopened store sees the restored state
    st2 = _store(tmp_path)
    assert _rows(st2.read(spark)) == [(1, 1, "a")]


def test_restore_error_cases(spark, tmp_path):
    st = _store(tmp_path)
    with pytest.raises(ValueError, match="empty"):
        st.restore(0)
    st.merge(spark.createDataFrame([Row(k=1, v=1, payload="a")]))  # v0
    st.merge(spark.createDataFrame([Row(k=1, v=2, payload="a2")]))  # v1
    with pytest.raises(ValueError, match="0..1"):
        st.restore(5)
    # v0's only bucket was rewritten by v1 (same PK), so keep_last=1
    # vacuum drops v0's data dir; restore must refuse, not half-commit
    st.vacuum(keep_last=1)
    with pytest.raises(ValueError, match="vacuumed"):
        st.restore(0)
    assert st.current_version() == 1  # nothing was committed


def test_restore_across_rebucket_reverts_layout(spark, tmp_path):
    st = _store(tmp_path, num_buckets=2)
    st.merge(
        spark.createDataFrame(
            [Row(k=i, v=1, payload=f"p{i}") for i in range(8)]
        )
    )  # v0, B=2
    st.rebucket(spark, 8)  # v1, B=8
    v = st.restore(0)
    assert v == 2
    assert st.num_buckets == 2
    assert _rows(st.read(spark)) == [(i, 1, f"p{i}") for i in range(8)]
    # subsequent merges route by the restored B and reads stay exact
    st.merge(spark.createDataFrame([Row(k=3, v=2, payload="q3")]))
    rows = _rows(st.read(spark))
    assert rows[3] == (3, 2, "q3") and len(rows) == 8
    # reopening with the restored layout works; the stale one raises
    assert _store(tmp_path, num_buckets=2).current_version() == 3
    with pytest.raises(ValueError, match="different"):
        _store(tmp_path, num_buckets=8)


def test_read_timestamp_as_of(spark, tmp_path):
    st = _store(tmp_path)
    st.merge(spark.createDataFrame([Row(k=1, v=1, payload="a")]))  # v0
    t = st.describe_history()[-1]["committed_at"] + 0.001
    st.merge(spark.createDataFrame([Row(k=1, v=2, payload="b")]))  # v1
    assert _rows(st.read(spark, timestamp=t)) == [(1, 1, "a")]
    assert _rows(st.read(spark)) == [(1, 2, "b")]
    with pytest.raises(ValueError, match="not both"):
        st.read(spark, version=0, timestamp=t)


def test_delete_keys_all_unknown_buckets_commits_noop(spark, tmp_path):
    """ADVICE r6 (medium): when EVERY key hashes to a bucket absent
    from the snapshot, merge_into takes the no-target branch — the
    widened null columns must carry the store's real types (an untyped
    NullType reached the parquet writer and raised 'void') and the
    commit must be the documented unknown-keys-are-no-ops version."""
    from pyspark.sql import functions as F

    st = _store(tmp_path, num_buckets=16)
    st.merge(spark.createDataFrame([Row(k=1, v=1, payload="a")]))
    # k is LongType: compute buckets with the same type the store hashes
    stored_bucket = spark.range(1).select(
        F.pmod(F.hash(F.lit(1).cast("bigint")), F.lit(16)).alias("b")
    ).first().b
    # pick two keys provably landing in OTHER buckets
    others = [
        r.id
        for r in spark.range(2, 200)
        .withColumn("b", F.pmod(F.hash(F.col("id")), F.lit(16)))
        .filter(F.col("b") != stored_bucket)
        .limit(2)
        .collect()
    ]
    assert len(others) == 2
    v = st.delete_keys(
        spark.createDataFrame([Row(k=int(x)) for x in others]),
        write_change_feed=True,
    )
    assert v == 1
    assert _rows(st.read(spark)) == [(1, 1, "a")]
    assert st.change_feed(spark, v).count() == 0


def test_reopen_conflicting_constraint_raises(spark, tmp_path):
    """ADVICE r6: a constructor constraint that would silently replace
    a persisted one with a different expression must raise."""
    st = _store(tmp_path)
    st.add_constraint(spark, "v_pos", "v > 0")
    st.merge(spark.createDataFrame([Row(k=1, v=1, payload="a")]))
    with pytest.raises(ValueError, match="different expressions"):
        _store(tmp_path, constraints={"v_pos": "v > -100"})
    # identical expression is a no-op reopen, not a conflict
    st2 = _store(tmp_path, constraints={"v_pos": "v > 0"})
    assert st2.constraints == {"v_pos": "v > 0"}


def test_reopen_new_constraint_validated_against_snapshot(spark, tmp_path):
    """A NEW constructor constraint on a reopened store validates the
    existing snapshot on first use — registering one the current data
    violates must not silently pass (add_constraint's law)."""
    st = _store(tmp_path)
    st.merge(spark.createDataFrame([Row(k=1, v=-5, payload="a")]))
    bad = _store(tmp_path, constraints={"v_pos": "v > 0"})
    with pytest.raises(ValueError, match="v_pos"):
        bad.merge(spark.createDataFrame([Row(k=2, v=3, payload="b")]))
    # the failed write must not have committed anything
    assert _rows(st.read(spark)) == [(1, -5, "a")]
    # a satisfied new constraint validates once, then writes proceed
    ok = _store(tmp_path, constraints={"v_neg": "v < 0"})
    ok.merge(spark.createDataFrame([Row(k=2, v=-3, payload="b")]))
    assert _rows(ok.read(spark)) == [(1, -5, "a"), (2, -3, "b")]
    # and the constraint persisted to the manifest for the next reopen
    assert _store(tmp_path).constraints == {"v_neg": "v < 0"}


def test_shallow_clone_carries_constraints(spark, tmp_path):
    """ADVICE r6: SHALLOW CLONE carries the table's CHECK constraints
    (Delta copies table properties) — a violating write into the clone
    must raise just like on the source."""
    st = _store(tmp_path)
    st.merge(spark.createDataFrame([Row(k=1, v=1, payload="a")]))
    st.add_constraint(spark, "v_pos", "v > 0")
    st.merge(spark.createDataFrame([Row(k=2, v=2, payload="b")]))
    clone = st.shallow_clone(str(tmp_path / "clone"))
    assert clone.constraints == {"v_pos": "v > 0"}
    with pytest.raises(ValueError, match="v_pos"):
        clone.merge(spark.createDataFrame([Row(k=3, v=-1, payload="c")]))
    # reopening the clone still carries it (persisted in clone's v0)
    reopened = ParquetMergeStore(
        str(tmp_path / "clone"), keys=("k",), version_cols=("v",),
        num_buckets=4,
    )
    assert reopened.constraints == {"v_pos": "v > 0"}


def test_shallow_clone_of_evolved_store_inherits_evolved_flag(
    spark, tmp_path
):
    """ADVICE r8 (high): cloning an EVOLVED store must carry the sticky
    evolved marker into the clone's v0. The cloned snapshot still
    references pre-evolution bucket dirs (fewer physical columns); a
    False flag would take _read_aligned's no-mergeSchema fast path over
    mixed-schema dirs and either raise or silently null evolved values."""
    st = _store(tmp_path, num_buckets=2)
    # v0: two keys routed to DIFFERENT buckets, pre-evolution schema
    st.merge(
        spark.createDataFrame(
            [Row(k=1, v=1, payload="a"), Row(k=2, v=1, payload="b")]
        )
    )
    # v1: widen ONE key — the other bucket's dir keeps the old physical
    # schema and stays referenced (mixed-schema snapshot)
    st.merge(
        spark.createDataFrame([Row(k=1, v=2, payload="a", extra=7)]),
        allow_schema_evolution=True,
    )
    clone = st.shallow_clone(str(tmp_path / "clone"))
    assert clone._read_manifest(0)["evolved"] is True
    got = sorted(
        (r.k, r.v, r.payload, r.extra)
        for r in clone.read(spark).collect()
    )
    assert got == [(1, 2, "a", 7), (2, 1, "b", None)]
    # sticky through later clone commits with unchanged columns
    clone.merge(
        spark.createDataFrame([Row(k=3, v=1, payload="c", extra=9)])
    )
    assert clone._read_manifest(1)["evolved"] is True
    # a never-evolved source still clones with the fast-path flag off
    st2 = ParquetMergeStore(
        str(tmp_path / "plain"), keys=("k",), version_cols=("v",),
        num_buckets=2,
    )
    st2.merge(spark.createDataFrame([Row(k=1, v=1, payload="a")]))
    c2 = st2.shallow_clone(str(tmp_path / "plain_clone"))
    assert c2._read_manifest(0)["evolved"] is False


# -- WHEN NOT MATCHED BY SOURCE (Delta/SQL:2003 MERGE, VERDICT r6 #2) --------


def test_merge_into_not_matched_by_source_clauses(spark, tmp_path):
    """Ordered nmbs clause ladder over target-only rows: first match
    wins, delete drops, update applies ITS OWN SET (other columns keep
    the target's values), unmatched target-only rows are kept."""
    st = _store(tmp_path)
    st.merge(
        spark.createDataFrame(
            [Row(k=i, v=i, payload=f"p{i}") for i in range(5)]
        )
    )
    # source touches k=0 (update) and k=9 (insert); k=1..4 are
    # not-matched-by-source
    st.merge_into(
        spark.createDataFrame(
            [Row(k=0, v=10, payload="P0"), Row(k=9, v=9, payload="p9")]
        ),
        matched=[("update", None)],
        not_matched_by_source=[
            ("delete", "t.v = 1"),
            ("update", "t.v >= 3", {"payload": "concat(t.payload, '!')"}),
            ("delete", "t.v = 4"),  # shadowed by clause 2 (first wins)
        ],
    )
    assert _rows(st.read(spark)) == [
        (0, 10, "P0"),
        (2, 2, "p2"),  # no clause matched: kept
        (3, 3, "p3!"),
        (4, 4, "p4!"),  # clause 2 fired first — NOT deleted
        (9, 9, "p9"),
    ]


def test_merge_into_nmbs_change_feed_all_types(spark, tmp_path):
    """nmbs deletes/updates land in the change feed with the same
    Delta CDF types as matched clauses; identical rewrites stay out."""
    st = _store(tmp_path)
    st.merge(
        spark.createDataFrame(
            [Row(k=i, v=1, payload=f"p{i}") for i in range(4)]
        )
    )
    v = st.merge_into(
        spark.createDataFrame([Row(k=0, v=2, payload="P0")]),
        matched=[("update", None)],
        not_matched_by_source=[
            ("delete", "t.k = 1"),
            # identical rewrite: SET payload to its current value — must
            # NOT appear in the feed (same law as matched updates)
            ("update", "t.k = 2", {"payload": "t.payload"}),
            ("update", "t.k = 3", {"payload": "'x'"}),
        ],
        write_change_feed=True,
    )
    feed = sorted(
        (r.k, r._change_type) for r in st.change_feed(spark, v).collect()
    )
    assert feed == [
        (0, "update_postimage"),
        (0, "update_preimage"),
        (1, "delete"),
        (3, "update_postimage"),
        (3, "update_preimage"),
    ]


def test_merge_into_nmbs_bucket_pruning_proportional(spark, tmp_path):
    """The phase-1 pre-scan keeps the rewrite proportional: an nmbs
    clause affecting rows in ONE bucket must not rewrite the others
    (their manifest paths stay identical)."""
    from pyspark.sql import functions as F

    st = _store(tmp_path, num_buckets=8)
    st.merge(
        spark.createDataFrame(
            [Row(k=i, v=1, payload=f"p{i}") for i in range(32)]
        )
    )
    before = st._bucket_paths(0)
    # pick a target key; delete exactly it via an nmbs clause with an
    # EMPTY-overlap source (a key known absent: 1000)
    st.merge_into(
        spark.createDataFrame([Row(k=1000, v=1, payload="z")]),
        not_matched_by_source=[("delete", "t.k = 7")],
    )
    after = st._bucket_paths(1)
    # k is LongType in the store: hash with the SAME type (int vs bigint
    # hash differently)
    b7 = spark.range(1).select(
        F.pmod(F.hash(F.lit(7).cast("bigint")), F.lit(8)).alias("b")
    ).first().b
    b1000 = spark.range(1).select(
        F.pmod(F.hash(F.lit(1000).cast("bigint")), F.lit(8)).alias("b")
    ).first().b
    changed = {b for b in before if after.get(b) != before[b]}
    assert changed <= {b7, b1000}
    assert b7 in changed
    # and the row is actually gone, everything else intact
    got = {r.k for r in st.read(spark).collect()}
    assert got == ({i for i in range(32)} - {7}) | {1000}


def test_merge_into_nmbs_validation(spark, tmp_path):
    st = _store(tmp_path)
    st.merge(spark.createDataFrame([Row(k=1, v=1, payload="a")]))
    src = spark.createDataFrame([Row(k=2, v=1, payload="b")])
    with pytest.raises(ValueError, match="requires a SET"):
        st.merge_into(src, not_matched_by_source=[("update", None)])
    with pytest.raises(ValueError, match="takes no SET"):
        st.merge_into(
            src, not_matched_by_source=[("delete", None, {"v": "1"})]
        )
    with pytest.raises(ValueError, match="clause kind"):
        st.merge_into(src, not_matched_by_source=[("upsert", None)])
    with pytest.raises(ValueError, match="key columns"):
        st.merge_into(
            src, not_matched_by_source=[("update", None, {"k": "t.k + 1"})]
        )
    with pytest.raises(ValueError, match="unknown columns"):
        st.merge_into(
            src, not_matched_by_source=[("update", None, {"zz": "1"})]
        )


# --- OPTIMIZE ... ZORDER BY (clustered compact, VERDICT r7 #5) -----------


def test_compact_cluster_by_zorder_file_skipping(spark, tmp_path):
    """compact(cluster_by=...) rewrites every bucket along the Morton
    curve and records per-file boxes: a 2-D box read opens strictly
    fewer files, returns exactly the box's rows, stays CDC-silent, and
    keeps time travel; a later merge drops only the rewritten bucket's
    boxes."""
    from parquet_demo_spark.sources.merge_store import changes_between

    n = 64
    rows = [
        Row(k=i * n + j, v=1, x=i, y=j)
        for i in range(n)
        for j in range(n)
    ]
    st = ParquetMergeStore(
        str(tmp_path / "s"), keys=("k",), version_cols=("v",), num_buckets=2
    )
    st.merge(spark.createDataFrame(rows))
    pre = st.current_version()
    v = st.compact(spark, cluster_by=["x", "y"], files_per_bucket=8)
    assert v == pre + 1
    m = st._read_manifest(v)
    assert m["file_stats"]  # per-file boxes recorded
    assert m["op_params"]["cluster_by"] == ["x", "y"]

    box = {"x": (8, 15), "y": (8, 15)}
    got = sorted(r.k for r in st.read(spark, where=box).collect())
    want = sorted(i * n + j for i in range(8, 16) for j in range(8, 16))
    assert got == want

    # the pruning evidence: the box opens strictly fewer files than a
    # full read, and file-level pruning beats bucket-level alone
    assert st.files_read(where=box) < st.files_read()

    # CDC-silent: a pure clustered rewrite emits no change rows
    assert changes_between(st, spark, pre, v).count() == 0
    # time travel across the boundary still reads the old layout
    assert st.read(spark, version=pre).count() == n * n

    # a later merge rewrites one bucket: its file boxes drop, the
    # other bucket's persist, and the box read stays correct
    st.merge(spark.createDataFrame([Row(k=0, v=2, x=0, y=0)]))
    m2 = st._read_manifest(st.current_version())
    # exactly the one touched bucket lost its (now-stale) boxes
    assert len(m2["file_stats"]) == len(m["file_stats"]) - 1
    assert set(m2["file_stats"]) < set(m["file_stats"])
    got2 = sorted(r.k for r in st.read(spark, where=box).collect())
    assert got2 == want


def test_compact_cluster_by_unknown_column_raises(spark, tmp_path):
    st = ParquetMergeStore(
        str(tmp_path / "s"), keys=("k",), version_cols=("v",), num_buckets=2
    )
    st.merge(spark.createDataFrame([Row(k=1, v=1, x=1, y=1)]))
    with pytest.raises(ValueError, match="cluster_by"):
        st.compact(spark, cluster_by=["nope"])


# --- deletion vectors (Delta DV-style soft deletes, round 8) -------------


def _dv_store(tmp_path):
    st = ParquetMergeStore(
        str(tmp_path / "dv"), keys=("k",), version_cols=("v",), num_buckets=4
    )
    st.merge(
        spark_df_dv(
            [(k, 1, f"p{k}") for k in range(20)]
        )
    )
    return st


def spark_df_dv(rows):
    import pyspark.sql

    spark = pyspark.sql.SparkSession.getActiveSession()
    return spark.createDataFrame(
        [Row(k=k, v=v, payload=p) for k, v, p in rows]
    )


def test_dv_delete_touches_no_data_dir(spark, tmp_path):
    """A DV delete commits a new version whose every DATA dir is the
    previous version's — only dv/ files are written — and reads,
    counts, and history behave as if the rows were rewritten away."""
    st = _dv_store(tmp_path)
    v0 = st.current_version()
    paths_before = st._bucket_paths(v0)
    v1 = st.delete(spark, "k % 3 = 0", deletion_vectors=True)
    assert v1 == v0 + 1
    assert st._bucket_paths(v1) == paths_before  # no data dir touched
    assert st._dv_entries(v1)  # vectors recorded
    got = sorted(r.k for r in st.read(spark).collect())
    assert got == [k for k in range(20) if k % 3 != 0]
    assert st.count_rows() == len(got)  # footer count minus DV count
    # time travel: the pre-delete snapshot still sees every row
    assert st.read(spark, version=v0).count() == 20
    # history records the mode
    assert st._read_manifest(v1)["op_params"]["deletion_vectors"] is True


def test_dv_delete_second_round_accumulates(spark, tmp_path):
    """A second DV delete unions into per-bucket vectors (one dir per
    bucket), never duplicates already-deleted PKs, and a no-match
    delete stays a no-op."""
    st = _dv_store(tmp_path)
    st.delete(spark, "k < 5", deletion_vectors=True)
    st.delete(spark, "k < 8", deletion_vectors=True)  # overlaps 0-4
    got = sorted(r.k for r in st.read(spark).collect())
    assert got == list(range(8, 20))
    assert st.count_rows() == 12  # DV counts stay exact (no dup keys)
    assert st.delete(spark, "k < 8", deletion_vectors=True) is None


def test_dv_merge_materializes_and_can_resurrect(spark, tmp_path):
    """A merge into a DV'd bucket materializes its soft deletes (entry
    drops, deleted PKs stay gone) — and re-INSERTING a deleted PK
    through a merge revives it as a fresh row."""
    st = _dv_store(tmp_path)
    st.delete(spark, "k < 10", deletion_vectors=True)
    st.merge(spark_df_dv([(3, 2, "back")]))  # re-insert a deleted PK
    rows = {r.k: r.payload for r in st.read(spark).collect()}
    assert rows[3] == "back"
    # other deleted keys in k=3's bucket stayed deleted through the
    # rewrite; keys in untouched buckets keep their DV entries
    assert set(rows) == {3} | set(range(10, 20))
    # the merged bucket's entry dropped: its deletes are physical now
    import pyspark.sql.functions as SF

    dv_buckets = set(st._dv_entries(st.current_version()))
    [merged_bucket] = [
        r[0]
        for r in spark_df_dv([(3, 2, "x")])
        .select(SF.pmod(SF.hash("k"), SF.lit(4)))
        .collect()
    ]
    assert merged_bucket not in dv_buckets


def test_dv_cdc_and_changes_between(spark, tmp_path):
    """DV deletes are ordinary CDC: the stored feed carries the deleted
    rows, and changes_between sees a DV-only commit as deletes even
    though no data dir changed."""
    from parquet_demo_spark.sources.merge_store import changes_between

    st = _dv_store(tmp_path)
    v0 = st.current_version()
    v1 = st.delete(
        spark, "k IN (2, 7)", deletion_vectors=True, write_change_feed=True
    )
    feed = st.change_feed(spark, v1)
    assert sorted((r.k, r._change_type) for r in feed.collect()) == [
        (2, "delete"),
        (7, "delete"),
    ]
    ch = changes_between(st, spark, v0, v1)
    assert sorted((r.k, r._change_type) for r in ch.collect()) == [
        (2, "delete"),
        (7, "delete"),
    ]


def test_dv_compact_materializes(spark, tmp_path):
    """OPTIMIZE reads through the vectors: after compact, the DV
    entries are gone, the deleted rows stay gone, and time travel to
    the DV'd version still works."""
    st = _dv_store(tmp_path)
    vd = st.delete(spark, "k >= 15", deletion_vectors=True)
    vc = st.compact(spark, min_files=1)
    assert vc is not None
    assert st._dv_entries(vc) == {}
    assert sorted(r.k for r in st.read(spark).collect()) == list(range(15))
    assert st.read(spark, version=vd).count() == 15
    assert st.count_rows() == 15


def test_dv_restore_and_vacuum(spark, tmp_path):
    """RESTORE re-pins a DV'd snapshot (vectors included); vacuum keeps
    dv dirs any kept manifest references and reclaims the rest."""
    import os

    st = _dv_store(tmp_path)
    v1 = st.delete(spark, "k < 4", deletion_vectors=True)
    st.merge(spark_df_dv([(50, 1, "new")]))  # v2 (carries v1's dv)
    v3 = st.restore(v1)
    assert sorted(r.k for r in st.read(spark).collect()) == list(
        range(4, 20)
    )
    assert st._dv_entries(v3)  # restored WITH its vectors
    removed = st.vacuum(keep_last=1)
    # the dv dir is still referenced by the kept (restored) manifest
    # (dir names carry a per-commit writer-token suffix: match prefix)
    dv_prefix = os.path.join("dv", f"v{v1:05d}")
    assert not any(r.startswith(dv_prefix) for r in removed)
    [dv_dir] = [
        d
        for d in os.listdir(os.path.join(st.root, "dv"))
        if d.startswith(f"v{v1:05d}")
    ]
    assert os.path.isdir(os.path.join(st.root, "dv", dv_dir))
    assert st.read(spark).count() == 16


def test_compact_cluster_only_stale_incremental(spark, tmp_path):
    """Incremental OPTIMIZE: after a merge dirties one bucket, a
    cluster_by + only_stale compact rewrites ONLY that bucket (the
    others keep their dirs and boxes), restores full-table file boxes,
    and a second incremental run is a no-op."""
    n = 32
    st = ParquetMergeStore(
        str(tmp_path / "s"), keys=("k",), version_cols=("v",), num_buckets=2
    )
    st.merge(
        spark.createDataFrame(
            [Row(k=i * n + j, v=1, x=i, y=j) for i in range(n) for j in range(n)]
        )
    )
    v1 = st.compact(spark, cluster_by=["x", "y"], files_per_bucket=4)
    m1 = st._read_manifest(v1)
    assert set(m1["file_stats"]) == {"0", "1"}
    # dirty one bucket
    st.merge(spark.createDataFrame([Row(k=0, v=2, x=0, y=0)]))
    dirty = st._read_manifest(st.current_version())
    [stale_b] = [b for b in ("0", "1") if b not in dirty["file_stats"]]
    clean_b = "1" if stale_b == "0" else "0"
    v3 = st.compact(
        spark, cluster_by=["x", "y"], files_per_bucket=4, only_stale=True
    )
    m3 = st._read_manifest(v3)
    # only the stale bucket rewrote; the clean one kept its dir + boxes
    assert m3["bucket_paths"][clean_b] == dirty["bucket_paths"][clean_b]
    assert m3["bucket_paths"][stale_b] != dirty["bucket_paths"][stale_b]
    assert set(m3["file_stats"]) == {"0", "1"}
    assert m3["file_stats"][clean_b] == m1["file_stats"][clean_b]
    # fully boxed again: another incremental run is a no-op
    assert (
        st.compact(
            spark, cluster_by=["x", "y"], files_per_bucket=4, only_stale=True
        )
        is None
    )
    # and the data is intact
    assert st.count_rows() == n * n


def test_delete_keys_via_dv(spark, tmp_path):
    """CDC retraction without rewrites: delete_keys(deletion_vectors=
    True) vectors the present keys, no-ops the unknown ones, commits
    the applied batch either way, and the feed carries the retracted
    rows."""
    st = _dv_store(tmp_path)
    v0 = st.current_version()
    paths_before = st._bucket_paths(v0)
    keys = spark.createDataFrame(
        [Row(k=2), Row(k=5), Row(k=999)]  # 999 unknown
    )
    v1 = st.delete_keys(keys, deletion_vectors=True, write_change_feed=True)
    assert v1 == v0 + 1
    assert st._bucket_paths(v1) == paths_before  # no data dir touched
    got = sorted(r.k for r in st.read(spark).collect())
    assert got == [k for k in range(20) if k not in (2, 5)]
    assert st.count_rows() == 18
    feed = st.change_feed(spark, v1)
    assert sorted((r.k, r._change_type) for r in feed.collect()) == [
        (2, "delete"),
        (5, "delete"),
    ]
    # an all-unknown batch still commits (idempotent consumer) and
    # changes nothing
    v2 = st.delete_keys(
        spark.createDataFrame([Row(k=777)]), deletion_vectors=True
    )
    assert v2 == v1 + 1
    assert st.count_rows() == 18


def test_changes_between_backward_span_is_the_inverse_diff(
    spark, tmp_path
):
    """A BACKWARD span (v_from > v_to) — what a consumer reads across a
    RESTORE — is the snapshot diff in that direction: rolled-back
    inserts surface as deletes, reverted updates as updates back to the
    old row, reverted deletes as re-inserts."""
    from parquet_demo_spark.sources.merge_store import changes_between

    st = _store(tmp_path, num_buckets=4)
    st.merge(
        spark.createDataFrame(
            [Row(k=1, v=1, payload="a"), Row(k=2, v=1, payload="b")]
        )
    )  # v0
    st.merge(
        spark.createDataFrame(
            [Row(k=1, v=2, payload="a2"), Row(k=9, v=1, payload="new")]
        )
    )  # v1: update k=1, insert k=9
    st.delete(spark, "k = 2")  # v2: delete k=2
    ch = changes_between(st, spark, 2, 0, include_preimages=True)
    got = sorted((r.k, r.payload, r._change_type) for r in ch.collect())
    assert got == [
        (1, "a", "update_postimage"),  # reverted back to the v0 row
        (1, "a2", "update_preimage"),
        (2, "b", "insert"),  # the reverted delete re-inserts
        (9, "new", "delete"),  # the rolled-back insert deletes
    ]
    # forward and backward spans are each other's inverse (net zero)
    fwd = changes_between(st, spark, 0, 2)
    assert fwd.count() == 3  # update k=1, insert k=9, delete k=2


# -- concurrent-writer rebase (VERDICT r8 #6) --------------------------------


def _bucket_of(spark, k: int, num_buckets: int) -> int:
    from pyspark.sql import functions as F

    return spark.createDataFrame([Row(k=k)]).select(
        F.pmod(F.hash("k"), F.lit(num_buckets)).alias("b")
    ).collect()[0]["b"]


def test_concurrent_disjoint_bucket_writers_both_commit(spark, tmp_path):
    """Two optimistic writers whose merges touch DISJOINT buckets must
    both commit: the CAS loser rebases its manifest onto the winner's
    head instead of raising (Delta-style conflict resolution). History
    stays serialized (v1 = winner, v2 = rebased loser) and the final
    snapshot carries both writes plus every untouched row."""
    # seed keys spread over all buckets
    st1 = _store(tmp_path)
    st1.merge(
        spark.createDataFrame(
            [Row(k=i, v=1, payload=f"p{i}") for i in range(12)]
        )
    )
    # two keys provably in different buckets
    ka = 0
    kb = next(
        k for k in range(1, 12)
        if _bucket_of(spark, k, 4) != _bucket_of(spark, ka, 4)
    )
    st2 = ParquetMergeStore(
        str(tmp_path / "store"), keys=("k",), version_cols=("v",),
        num_buckets=4,
    )
    orig = st2._commit

    def delayed(*a, **kw):
        # the COMPETITOR lands first, after the loser computed its
        # whole commit against the old base — the real race, made
        # deterministic
        if not getattr(st2, "_raced", False):
            st2._raced = True
            st1.merge(
                spark.createDataFrame([Row(k=ka, v=2, payload="A")])
            )
        return orig(*a, **kw)

    st2._commit = delayed
    v = st2.merge(spark.createDataFrame([Row(k=kb, v=2, payload="B")]))
    # the loser must return the version ITS write landed at (the
    # rebased v2), never its stale pre-race target (v1 = the winner's
    # commit — pinning or reading that would lose this write)
    assert v == 2
    assert st2.current_version() == 2
    hist = st2.describe_history()
    assert hist[-1]["op_params"].get("rebased_from") == 1
    got = {r.k: (r.v, r.payload) for r in st2.read(spark).collect()}
    assert got[ka] == (2, "A") and got[kb] == (2, "B")
    assert len(got) == 12  # nothing lost
    for k in range(12):
        if k not in (ka, kb):
            assert got[k] == (1, f"p{k}")


def test_concurrent_overlapping_bucket_writers_conflict(spark, tmp_path):
    """Same race, but both writers touch the SAME key: the loser's
    footprint overlaps and it must get ConcurrentWriteConflict, never a
    silent lost update."""
    from parquet_demo_spark.sources.merge_store import (
        ConcurrentWriteConflict,
    )

    st1 = _store(tmp_path)
    st1.merge(spark.createDataFrame([Row(k=1, v=1, payload="a")]))
    st2 = ParquetMergeStore(
        str(tmp_path / "store"), keys=("k",), version_cols=("v",),
        num_buckets=4,
    )
    orig = st2._commit

    def delayed(*a, **kw):
        if not getattr(st2, "_raced", False):
            st2._raced = True
            st1.merge(
                spark.createDataFrame([Row(k=1, v=2, payload="win")])
            )
        return orig(*a, **kw)

    st2._commit = delayed
    with pytest.raises(ConcurrentWriteConflict, match="OVERLAPPING"):
        st2.merge(spark.createDataFrame([Row(k=1, v=3, payload="lose")]))
    # the winner's write survives untouched
    assert {r.payload for r in st1.read(spark).collect()} == {"win"}


def test_probe_zero_bucket_store_raises_cleanly(spark, tmp_path):
    """A zero-bucket committed version (degenerate, but constructible)
    has no file to derive a schema from — probe must raise a clear
    ValueError, not UNABLE_TO_INFER_SCHEMA from an empty path list."""
    st = _store(tmp_path)
    st._commit(0, {}, ["k", "v", "payload"])  # empty v0
    with pytest.raises(ValueError, match="no data buckets"):
        st.probe(spark, spark.createDataFrame([Row(k=1)]))


def test_probe_casts_drifted_key_types_to_stored(spark, tmp_path):
    """F.hash is type-sensitive (hash(int 5) != hash(bigint 5)): a key
    frame whose PK column type drifted from the stored type must still
    hash to the RIGHT bucket — probe casts to the stored types instead
    of silently reporting present rows absent (ADVICE r9 medium)."""
    from pyspark.sql import functions as F

    st = _store(tmp_path, num_buckets=16)
    rows = [Row(k=i, v=1, payload=f"p{i}") for i in range(50)]
    st.merge(spark.createDataFrame(rows))  # k is bigint
    # int-typed probe keys: same values, different Spark type
    drifted = spark.createDataFrame(
        [(i,) for i in range(50)], "k int"
    )
    got = _rows(st.probe(spark, drifted))
    assert got == [(i, 1, f"p{i}") for i in range(50)]
    # the pre-fix behavior would lose every key whose int-hash bucket
    # differs from its bigint-hash bucket — prove the drift is real by
    # checking the two hashes disagree for at least one key
    diff = spark.createDataFrame([(i,) for i in range(50)], "k int").select(
        F.pmod(F.hash(F.col("k")), F.lit(16)).alias("a"),
        F.pmod(F.hash(F.col("k").cast("bigint")), F.lit(16)).alias("b"),
    ).filter("a <> b").count()
    assert diff > 0


def test_load_manifest_returns_defensive_copy(spark, tmp_path):
    """Mutating a returned manifest must never corrupt the process-wide
    cache for later readers of the same version (ADVICE r9)."""
    st = _store(tmp_path)
    st.merge(spark.createDataFrame([Row(k=1, v=1, payload="a")]))
    m1 = st._read_manifest(0)
    m1["columns"].append("hacked")
    m1["bucket_paths"]["999"] = "nope"
    m1["version"] = -1
    m2 = st._read_manifest(0)
    assert "hacked" not in m2["columns"]
    assert "999" not in m2["bucket_paths"]
    assert m2["version"] == 0


def test_rebase_preserves_original_base_in_lineage(spark, tmp_path):
    """Multi-level rebase must record the FIRST pre-race base version
    in op_params.rebased_from, not the intermediate retry's version
    (ADVICE r9)."""
    st = _store(tmp_path, num_buckets=8)
    st.merge(
        spark.createDataFrame(
            [Row(k=i, v=1, payload=f"p{i}") for i in range(8)]
        )
    )
    # simulate two intervening winners landing after our base was read:
    # build a manifest for an attempt based on v0, while head moves on
    import json as _json

    base = st.current_version()
    m_attempt = st._read_manifest(base)
    # two disjoint-footprint commits land (touch nothing we touch)
    st.merge(spark.createDataFrame([Row(k=100, v=1, payload="x")]))
    st.merge(spark.createDataFrame([Row(k=200, v=1, payload="y")]))
    attempt = dict(m_attempt)
    attempt["version"] = base + 1
    attempt["operation"] = "merge"
    attempt["op_params"] = {"touched_buckets": []}
    attempt["bucket_paths"] = {}
    attempt["stats"] = {}
    attempt["blooms"] = {}
    attempt["file_stats"] = {}
    attempt["dv"] = {}
    attempt["change_feed"] = None
    attempt["committed_at"] = m_attempt["committed_at"]
    attempt["evolved"] = False
    landed = st._try_rebase(base, attempt)
    assert landed == st.current_version()
    rec = st._read_manifest(landed)["op_params"]
    assert rec.get("rebased_from") == base


def test_vacuum_older_than_expires_by_commit_time(spark, tmp_path):
    """Time-based retention (VERDICT r9 #6): vacuum(older_than=t)
    keeps every version committed at/after t plus the keep_last tail;
    time travel to retained versions intact, expired reads raise the
    descriptive vacuumed error, clone-referenced source dirs are never
    candidates from the clone side."""
    import time

    st = _store(tmp_path)
    st.merge(spark.createDataFrame([Row(k=1, v=1, payload="v0")]))   # v0
    t_v0 = time.time()
    time.sleep(0.01)
    st.merge(spark.createDataFrame([Row(k=1, v=2, payload="v1")]))   # v1
    cutoff = time.time()
    time.sleep(0.01)
    st.merge(spark.createDataFrame([Row(k=1, v=3, payload="v2")]))   # v2
    st.merge(spark.createDataFrame([Row(k=1, v=4, payload="v3")]))   # v3

    # keep_last=1 alone would keep only v3; older_than retains v2 too
    st.vacuum(keep_last=1, older_than=cutoff)
    assert _rows(st.read(spark, version=3)) == [(1, 4, "v3")]
    assert _rows(st.read(spark, version=2)) == [(1, 3, "v2")]
    with pytest.raises(ValueError, match="vacuumed"):
        st.read(spark, version=0)
    with pytest.raises(ValueError, match="vacuumed"):
        st.read(spark, version=1)
    # timestamp time travel into the expired range also fails cleanly
    with pytest.raises(ValueError, match="vacuumed"):
        st.read(spark, timestamp=t_v0)


def test_vacuum_older_than_future_cutoff_never_expires_head(
    spark, tmp_path
):
    """A cutoff newer than every commit must still keep the head."""
    st = _store(tmp_path)
    st.merge(spark.createDataFrame([Row(k=1, v=1, payload="a")]))
    st.merge(spark.createDataFrame([Row(k=1, v=2, payload="b")]))
    st.vacuum(keep_last=1, older_than=2**62)
    assert _rows(st.read(spark)) == [(1, 2, "b")]


def test_clone_vacuum_older_than_never_touches_source(spark, tmp_path):
    """A clone's time-based vacuum only considers dirs under ITS root:
    the source's data dirs (absolute-path references) survive."""
    st = _store(tmp_path)
    st.merge(spark.createDataFrame([Row(k=1, v=1, payload="a")]))
    clone = st.shallow_clone(str(tmp_path / "clone"))
    # clone writes locally, then expires everything it can
    clone.merge(spark.createDataFrame([Row(k=2, v=1, payload="b")]))
    clone.vacuum(keep_last=1, older_than=2**62)
    # source remains fully readable
    assert _rows(st.read(spark)) == [(1, 1, "a")]
    assert _rows(clone.read(spark)) == [(1, 1, "a"), (2, 1, "b")]


def test_probe_of_vacuumed_version_raises_descriptive_error(
    spark, tmp_path
):
    """probe() is a read path: an expired (vacuumed) version must fail
    up front with the descriptive 'was vacuumed' error, never an
    opaque mid-plan PATH_NOT_FOUND from a missing bucket dir."""
    st = _store(tmp_path)
    st.merge(spark.createDataFrame([Row(k=1, v=1, payload="v0")]))   # v0
    st.merge(spark.createDataFrame([Row(k=1, v=2, payload="v1")]))   # v1
    st.vacuum(keep_last=1)
    keys = spark.createDataFrame([Row(k=1)])
    with pytest.raises(ValueError, match="vacuumed"):
        st.probe(spark, keys, version=0)
    # the live head still probes fine, and the stored-PK-type lookup
    # is cached per version after the first probe (admission hot path)
    assert [r.payload for r in st.probe(spark, keys).collect()] == ["v1"]
    assert st.current_version() in st._pk_types_by_version


# --- write-audit-publish (WAP) laws ----------------------------------------


def test_wap_publish_adopts_audited_snapshot_exactly(spark, tmp_path):
    """The published snapshot must be the EXACT rows the audit read —
    fast-forward adoption, no recompute."""
    st = _store(tmp_path)
    st.merge(
        spark.createDataFrame(
            [Row(k=1, v=1, payload="a"), Row(k=2, v=1, payload="b")]
        )
    )
    br = st.wap_branch("audit1")
    br.merge(
        spark.createDataFrame(
            [Row(k=2, v=2, payload="b2"), Row(k=3, v=1, payload="c")]
        )
    )
    audited = _rows(br.read(spark))
    # production unchanged while the branch is open
    assert _rows(st.read(spark)) == [(1, 1, "a"), (2, 1, "b")]
    v = st.wap_publish(br)
    assert v == st.current_version()
    assert _rows(st.read(spark)) == audited == [
        (1, 1, "a"),
        (2, 2, "b2"),
        (3, 1, "c"),
    ]
    hist = st.describe_history()
    assert hist[-1]["operation"] == "wap_publish"
    assert hist[-1]["op_params"]["branch_version"] == 1


def test_wap_publish_refuses_moved_base(spark, tmp_path):
    """A production commit past the branch base must fail the publish
    loudly (fast-forward would silently revert it)."""
    from parquet_demo_spark.sources.merge_store import (
        ConcurrentWriteConflict,
    )

    st = _store(tmp_path)
    st.merge(spark.createDataFrame([Row(k=1, v=1, payload="a")]))
    br = st.wap_branch("audit1")
    br.merge(spark.createDataFrame([Row(k=2, v=1, payload="b")]))
    st.merge(spark.createDataFrame([Row(k=9, v=1, payload="z")]))
    with pytest.raises(ConcurrentWriteConflict, match="re-branch"):
        st.wap_publish(br)
    # production kept its own write; the branch stayed intact
    assert (1, 1, "a") in _rows(st.read(spark))
    assert (9, 1, "z") in _rows(st.read(spark))
    assert (2, 1, "b") in _rows(br.read(spark))


def test_wap_abandon_refuses_published_branch_then_allows(
    spark, tmp_path
):
    """Abandoning a PUBLISHED branch would destroy committed data —
    refuse until compact+vacuum internalize the adopted files."""
    st = _store(tmp_path)
    st.merge(spark.createDataFrame([Row(k=1, v=1, payload="a")]))
    br = st.wap_branch("audit1")
    br.merge(spark.createDataFrame([Row(k=2, v=1, payload="b")]))
    st.wap_publish(br)
    with pytest.raises(ValueError, match="referenced by committed"):
        st.wap_abandon(br)
    # min_files=1 rewrites every bucket (adopted branch buckets are
    # single-file, so the default threshold would skip them)
    st.compact(spark, min_files=1)
    st.vacuum(keep_last=1)
    st.wap_abandon(br, keep_last=1)
    assert not os.path.exists(br.root)
    assert _rows(st.read(spark)) == [(1, 1, "a"), (2, 1, "b")]


def test_wap_abandon_unpublished_branch_never_touches_production(
    spark, tmp_path
):
    st = _store(tmp_path)
    st.merge(spark.createDataFrame([Row(k=1, v=1, payload="a")]))
    br = st.wap_branch("audit1")
    br.merge(spark.createDataFrame([Row(k=1, v=2, payload="BAD")]))
    st.wap_abandon(br)
    assert not os.path.exists(br.root)
    assert _rows(st.read(spark)) == [(1, 1, "a")]
    # the branch name is reusable after abandon
    br2 = st.wap_branch("audit1")
    assert _rows(br2.read(spark)) == [(1, 1, "a")]


def test_wap_publish_rejects_foreign_or_rebucketed_branch(
    spark, tmp_path
):
    st = _store(tmp_path)
    st.merge(spark.createDataFrame([Row(k=1, v=1, payload="a")]))
    other = ParquetMergeStore(
        str(tmp_path / "other"), keys=("k",), version_cols=("v",)
    )
    other.merge(spark.createDataFrame([Row(k=1, v=1, payload="x")]))
    with pytest.raises(ValueError, match="not a branch"):
        st.wap_publish(other)
    br = st.wap_branch("audit1")
    br.merge(spark.createDataFrame([Row(k=2, v=1, payload="b")]))
    br.rebucket(spark, 8)
    with pytest.raises(ValueError, match="rebucketed"):
        st.wap_publish(br)


def test_wap_publish_loses_commit_race_cleanly(spark, tmp_path):
    """Even if the base check passes, the manifest CAS must arbitrate:
    a competitor landing the next version first fails the publish."""
    from parquet_demo_spark.sources.merge_store import (
        ConcurrentWriteConflict,
    )

    import json

    st = _store(tmp_path)
    st.merge(spark.createDataFrame([Row(k=1, v=1, payload="a")]))
    br = st.wap_branch("audit1")
    br.merge(spark.createDataFrame([Row(k=2, v=1, payload="b")]))
    # simulate the exact race window: a competitor created the next
    # version's manifest (CAS taken) but has not swapped the pointer
    # yet — the publish's base check passes, the manifest CAS must
    # still arbitrate
    assert st._branch_base(br) == st.current_version()
    nxt = st._manifest_path(st.current_version() + 1)
    os.makedirs(os.path.dirname(nxt), exist_ok=True)
    with open(nxt, "x") as fh:
        json.dump({}, fh)
    with pytest.raises(ConcurrentWriteConflict):
        st.wap_publish(br)


def test_wap_abandon_default_guards_unvacuumed_history(spark, tmp_path):
    """With no retention args, EVERY readable committed version guards
    the branch: a publish the head has since compacted past still
    blocks the default abandon (time travel to it must keep working),
    and only an abandon matching the user's vacuum retention drops it."""
    st = _store(tmp_path)
    st.merge(spark.createDataFrame([Row(k=1, v=1, payload="a")]))
    br = st.wap_branch("audit1")
    br.merge(spark.createDataFrame([Row(k=2, v=1, payload="b")]))
    pub_v = st.wap_publish(br)
    st.compact(spark, min_files=1)  # head no longer references branch
    # no vacuum ran: v_pub is still readable and references the branch
    with pytest.raises(ValueError, match=f"v{pub_v}"):
        st.wap_abandon(br)
    # generous vacuum retention keeps v_pub readable -> still refuses
    st.vacuum(keep_last=5)
    with pytest.raises(ValueError, match=f"v{pub_v}"):
        st.wap_abandon(br, keep_last=5)
    # tight retention expires it; the matching abandon is allowed
    st.vacuum(keep_last=1)
    st.wap_abandon(br, keep_last=1)
    assert not os.path.exists(br.root)
    assert _rows(st.read(spark)) == [(1, 1, "a"), (2, 1, "b")]

def test_wap_publish_then_vacuum_keeps_head_readable(spark, tmp_path):
    """ADVICE r11 (high): vacuum after publish, WITHOUT a compact in
    between, must keep the published head readable. wap_publish used to
    commit branch-inherited refs to the store's own data/ dirs as
    ABSOLUTE paths; vacuum's live set is keyed on relative paths, so it
    swept those dirs and destroyed committed data."""
    st = _store(tmp_path)
    st.merge(
        spark.createDataFrame(
            [Row(k=1, v=1, payload="a"), Row(k=2, v=1, payload="b")]
        )
    )
    br = st.wap_branch("audit1")
    # touch ONE bucket; the other buckets' refs stay the clone's
    # absolute refs into the production data/ dirs
    br.merge(spark.createDataFrame([Row(k=1, v=2, payload="a2")]))
    st.wap_publish(br)
    st.vacuum(keep_last=1)
    assert _rows(st.read(spark)) == [(1, 2, "a2"), (2, 1, "b")]
    # and the published manifest's store-rooted refs are RELATIVE, so
    # vacuum's live set saw them (the regression-proof form)
    m = st._read_manifest(st.current_version())
    for p in m["bucket_paths"].values():
        assert not os.path.isabs(p)


def test_wap_publish_single_commit_branch_carries_change_feed(
    spark, tmp_path
):
    """A publish is a logical data change: when the branch's single
    audited commit stored a feed, the published version serves it
    through change_feed(); a multi-commit branch publish raises the
    wap-specific error instead of the generic advice (ADVICE r11)."""
    st = _store(tmp_path)
    st.merge(spark.createDataFrame([Row(k=1, v=1, payload="a")]))
    br = st.wap_branch("audit1")
    br.merge(
        spark.createDataFrame([Row(k=2, v=1, payload="b")]),
        write_change_feed=True,
    )
    v = st.wap_publish(br)
    feed = st.change_feed(spark, v)
    assert sorted(
        (r.k, r._change_type) for r in feed.collect()
    ) == [(2, "insert")]
    # the carried feed is a branch ref: abandoning the published
    # branch would destroy it -> the guard must refuse
    with pytest.raises(ValueError, match="referenced by committed"):
        st.wap_abandon(br, keep_last=1)

    # multi-commit branch with a FEED-LESS commit: nothing adoptable,
    # the wap-specific error names the gap (round 13: feeds on every
    # non-silent commit are synthesized instead — see
    # test_wap_publish_multi_commit_feed_synthesis)
    st2 = ParquetMergeStore(
        str(tmp_path / "store2"), keys=("k",), version_cols=("v",)
    )
    st2.merge(spark.createDataFrame([Row(k=1, v=1, payload="a")]))
    br2 = st2.wap_branch("audit1")
    br2.merge(
        spark.createDataFrame([Row(k=2, v=1, payload="b")]),
        write_change_feed=True,
    )
    br2.merge(spark.createDataFrame([Row(k=3, v=1, payload="c")]))
    v2 = st2.wap_publish(br2)
    with pytest.raises(ValueError, match="wap_publish"):
        st2.change_feed(spark, v2)


def test_wap_publish_multi_commit_feed_synthesis(spark, tmp_path):
    """Round 13 (VERDICT r12 #3): a multi-commit branch publish whose
    commits all stored feeds serves them through change_feed() as one
    _commit_version-tagged feed (branch order), a CDC-silent branch
    compact is skipped, replay_change_feed applies the phases per
    source commit — a delete-then-reinsert of the same PK lands
    PRESENT — and vacuum keeps every adopted feed ref."""
    from parquet_demo_spark.sources.merge_store import (
        replay_change_feed,
    )

    st = _store(tmp_path)
    st.merge(
        spark.createDataFrame(
            [Row(k=1, v=1, payload="a"), Row(k=5, v=1, payload="e")]
        )
    )
    br = st.wap_branch("audit-multi")
    br.merge(
        spark.createDataFrame([Row(k=2, v=1, payload="b")]),
        write_change_feed=True,
    )  # branch v1: insert k2
    br.delete(spark, "k = 1", write_change_feed=True)  # v2: delete k1
    br.compact(spark, min_files=1)  # v3: CDC-silent, feed-less
    br.merge(
        spark.createDataFrame([Row(k=1, v=2, payload="reborn")]),
        write_change_feed=True,
    )  # v4: REINSERT k1
    v = st.wap_publish(br)

    feed = st.change_feed(spark, v)
    assert "_commit_version" in feed.columns
    got = sorted(
        (r._commit_version, r.k, r._change_type)
        for r in feed.collect()
    )
    # ordinals follow branch order; the compact contributed nothing
    assert got == [
        (1, 2, "insert"),
        (2, 1, "delete"),
        (3, 1, "insert"),
    ]

    # replay law: base snapshot + published feed == published snapshot
    dst = ParquetMergeStore(
        str(tmp_path / "replica"), keys=("k",), version_cols=("v",)
    )
    dst.merge(st.read(spark, version=0))
    replay_change_feed(st, dst, spark, v_from=v, v_to=v)
    assert _rows_kp(dst.read(spark)) == _rows_kp(st.read(spark, v))
    # the reinserted PK is PRESENT — a flat upserts-then-deletes
    # replay of the concatenated feed would have deleted it
    assert (1, "reborn") in _rows_kp(dst.read(spark))

    # vacuum keeps the adopted branch feed refs readable
    st.vacuum(keep_last=1)
    assert st.change_feed(spark, v).count() == 3


def _rows_kp(df):
    return sorted((r.k, r.payload) for r in df.collect())


def test_wap_branch_rejects_traversal_names(spark, tmp_path):
    """wap_abandon rmtree's the branch root: a name containing a path
    separator or '..' would escape _branches/ (ADVICE r11)."""
    st = _store(tmp_path)
    st.merge(spark.createDataFrame([Row(k=1, v=1, payload="a")]))
    for bad in ("../../x", "a/b", "..", "", "a\\b", "a b"):
        with pytest.raises(ValueError, match="branch name"):
            st.wap_branch(bad)
    # the documented safe charset still works
    br = st.wap_branch("audit-1.0_rc")
    st.wap_abandon(br)


def test_wap_abandon_keep_last_zero_matches_vacuum(spark, tmp_path):
    """vacuum(keep_last=0) retains EVERY committed version; an abandon
    passed the same keep_last must therefore refuse to drop a branch
    any committed version still references (ADVICE r11: max(1, ...)
    used to map 0 to 1 and dropped it)."""
    st = _store(tmp_path)
    st.merge(spark.createDataFrame([Row(k=1, v=1, payload="a")]))
    br = st.wap_branch("audit1")
    br.merge(spark.createDataFrame([Row(k=2, v=1, payload="b")]))
    pub_v = st.wap_publish(br)
    st.compact(spark, min_files=1)  # head no longer references branch
    assert st.vacuum(keep_last=0) == []  # retains everything
    with pytest.raises(ValueError, match=f"v{pub_v}"):
        st.wap_abandon(br, keep_last=0)
    # time travel to the publish version still works, as vacuum promised
    assert _rows(st.read(spark, version=pub_v)) == [
        (1, 1, "a"),
        (2, 1, "b"),
    ]


def test_wap_publish_feed_edge_cases(spark, tmp_path):
    """Round-13 review findings on the synthesized publish feed:
    (a) an all-compact branch publishes a ZERO-CHANGE feed (empty,
    typed) instead of raising; (b) a branch that evolved the schema
    between feed-bearing commits still serves a readable feed
    (earlier feeds null-fill the new column); (c) a single-commit
    branch whose commit is itself a multi-commit publish adopts the
    nested ordered refs."""
    from parquet_demo_spark.sources.merge_store import (
        replay_change_feed,
    )

    # (a) all-compact branch -> empty typed feed
    st = _store(tmp_path)
    st.merge(
        spark.createDataFrame(
            [Row(k=1, v=1, payload="a"), Row(k=1, v=2, payload="b")]
        )
    )
    br = st.wap_branch("silent")
    br.compact(spark, min_files=1)
    v = st.wap_publish(br)
    feed = st.change_feed(spark, v)
    assert feed.count() == 0
    assert "_commit_version" in feed.columns

    # (b) evolution between feed-bearing branch commits
    st2 = ParquetMergeStore(
        str(tmp_path / "evolve"), keys=("k",), version_cols=("v",)
    )
    st2.merge(spark.createDataFrame([Row(k=1, v=1, payload="a")]))
    br2 = st2.wap_branch("wide")
    br2.merge(
        spark.createDataFrame([Row(k=2, v=1, payload="b")]),
        write_change_feed=True,
    )
    br2.merge(
        spark.createDataFrame(
            [Row(k=3, v=1, payload="c", extra="X")]
        ),
        write_change_feed=True,
        allow_schema_evolution=True,
    )
    v2 = st2.wap_publish(br2)
    feed2 = st2.change_feed(spark, v2)
    got = sorted(
        (r._commit_version, r.k, r.payload, r.extra)
        for r in feed2.collect()
    )
    assert got == [(1, 2, "b", None), (2, 3, "c", "X")]
    dst = ParquetMergeStore(
        str(tmp_path / "evolve_dst"), keys=("k",), version_cols=("v",)
    )
    dst.merge(st2.read(spark, version=0))
    replay_change_feed(st2, dst, spark, v_from=v2, v_to=v2)
    assert sorted(
        (r.k, r.payload) for r in dst.read(spark).collect()
    ) == [(1, "a"), (2, "b"), (3, "c")]

    # (c) nested publish adopted through a single-commit branch
    st3 = ParquetMergeStore(
        str(tmp_path / "nested"), keys=("k",), version_cols=("v",)
    )
    st3.merge(spark.createDataFrame([Row(k=1, v=1, payload="a")]))
    outer = st3.wap_branch("outer")
    inner = outer.wap_branch("inner")
    inner.merge(
        spark.createDataFrame([Row(k=2, v=1, payload="b")]),
        write_change_feed=True,
    )
    inner.merge(
        spark.createDataFrame([Row(k=3, v=1, payload="c")]),
        write_change_feed=True,
    )
    outer.wap_publish(inner)  # outer v1: LIST feed
    v3 = st3.wap_publish(outer)  # bcur == 1 with a list feed
    got3 = sorted(
        (r._commit_version, r.k) for r in st3.change_feed(spark, v3).collect()
    )
    assert got3 == [(1, 2), (2, 3)]
