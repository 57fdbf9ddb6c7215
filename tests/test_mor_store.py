"""Merge-on-read store laws: delta overlay LWW, delete tombstones,
probe-through-overlay, compaction equivalence + idempotence, crash
orphan handling, schema/op validation."""

from __future__ import annotations

import functools
import json
import os

import pytest
from pyspark.sql import DataFrame, Row, Window
from pyspark.sql import functions as F

from parquet_demo_spark.sources.mor_store import (
    MergeOnReadStore,
    resolve_deltas,
)


def _store(tmp_path, **kw):
    defaults = dict(keys=("k",), version_cols=("v",), num_buckets=4)
    defaults.update(kw)
    return MergeOnReadStore(str(tmp_path / "mor"), **defaults)


def _rows(df):
    return sorted((r.k, r.v, r.payload) for r in df.collect())


def _seed(spark, tmp_path):
    st = _store(tmp_path)
    st.merge(
        spark.createDataFrame(
            [Row(k=i, v=1, payload=f"base{i}") for i in range(1, 5)]
        )
    )
    return st


def test_delta_overlay_lww_and_delete(spark, tmp_path):
    st = _seed(spark, tmp_path)
    # delta 1: update k=1, delete k=2
    st.commit_delta(
        spark.createDataFrame(
            [
                Row(k=1, v=2, payload="d1", op="u"),
                Row(k=2, v=2, payload=None, op="d"),
            ]
        ),
        op_col="op",
    )
    # delta 2: re-insert k=2, newer update of k=1, insert k=9
    st.commit_delta(
        spark.createDataFrame(
            [
                Row(k=2, v=3, payload="back", op="u"),
                Row(k=1, v=3, payload="d2", op="u"),
                Row(k=9, v=1, payload="new", op="u"),
            ]
        ),
        op_col="op",
    )
    assert _rows(st.read(spark)) == [
        (1, 3, "d2"),      # newest delta wins over base AND older delta
        (2, 3, "back"),    # delete superseded by later re-insert
        (3, 1, "base3"),   # untouched base row survives
        (4, 1, "base4"),
        (9, 1, "new"),     # pure-delta insert
    ]


def test_within_batch_version_lww(spark, tmp_path):
    st = _seed(spark, tmp_path)
    # one batch, two edits of k=1: the higher version tuple survives,
    # and its op is the key's action (here the v=5 delete)
    st.commit_delta(
        spark.createDataFrame(
            [
                Row(k=1, v=5, payload=None, op="d"),
                Row(k=1, v=4, payload="stale", op="u"),
            ]
        ),
        op_col="op",
    )
    assert _rows(st.read(spark)) == [
        (2, 1, "base2"), (3, 1, "base3"), (4, 1, "base4")
    ]


def test_probe_through_overlay(spark, tmp_path):
    st = _seed(spark, tmp_path)
    st.commit_delta(
        spark.createDataFrame(
            [
                Row(k=1, v=2, payload="edit", op="u"),
                Row(k=3, v=2, payload=None, op="d"),
            ]
        ),
        op_col="op",
    )
    keys = spark.createDataFrame([Row(k=1), Row(k=3), Row(k=4), Row(k=77)])
    # edited key returns its delta row, deleted key absent, untouched
    # base key returns the base row, unknown key absent
    assert _rows(st.probe(spark, keys)) == [(1, 2, "edit"), (4, 1, "base4")]


def test_compact_equivalence_and_idempotence(spark, tmp_path):
    st = _seed(spark, tmp_path)
    st.commit_delta(
        spark.createDataFrame(
            [
                Row(k=1, v=2, payload="edit", op="u"),
                Row(k=2, v=2, payload=None, op="d"),
                Row(k=9, v=1, payload="new", op="u"),
            ]
        ),
        op_col="op",
    )
    before = _rows(st.read(spark))
    assert st.delta_count() == 1
    st.compact(spark)
    assert st.delta_count() == 0
    assert _rows(st.read(spark)) == before
    assert _rows(st.base.read(spark)) == before  # pure base again
    st.compact(spark)  # empty-log compact is a no-op
    assert _rows(st.read(spark)) == before
    # probe after compaction takes the pure base path
    assert _rows(st.probe(spark, spark.createDataFrame([Row(k=2)]))) == []


def test_replay_after_partial_compaction_is_idempotent(spark, tmp_path):
    """Crash between the base commits and the log truncation: the
    still-listed deltas overlay the compacted base to the SAME rows,
    and the next compact folds to a no-op state."""
    st = _seed(spark, tmp_path)
    st.commit_delta(
        spark.createDataFrame(
            [
                Row(k=1, v=2, payload="edit", op="u"),
                Row(k=2, v=2, payload=None, op="d"),
            ]
        ),
        op_col="op",
    )
    expect = _rows(st.read(spark))
    # simulate the crash: perform compaction's base commits by hand,
    # leaving the delta log pointer untouched
    latest = st._resolved(spark)
    from pyspark.sql import functions as F

    st.base.merge(
        latest.filter(F.col("__op") == "u").select("k", "v", "payload")
    )
    st.base.delete_keys(
        latest.filter(F.col("__op") == "d").select("k"),
        deletion_vectors=True,
    )
    assert st.delta_count() == 1  # log intact
    assert _rows(st.read(spark)) == expect  # overlay idempotent
    st.compact(spark)  # replayed compaction converges
    assert st.delta_count() == 0
    assert _rows(st.read(spark)) == expect


def test_orphan_delta_dir_ignored_and_vacuumed(spark, tmp_path):
    st = _seed(spark, tmp_path)
    st.commit_delta(
        spark.createDataFrame([Row(k=1, v=2, payload="edit", op="u")]),
        op_col="op",
    )
    # a crashed writer's dir: fully written but never committed to the
    # pointer — reads must not see k=5, vacuum must remove the dir
    spark.createDataFrame(
        [Row(k=5, v=9, payload="ghost", op="u", __seq=99)]
    ).write.parquet(os.path.join(st._deltas_root, "d00099-orphan"))
    assert "d00099-orphan" not in st._log()["dirs"]
    assert not any(r.k == 5 for r in st.read(spark).collect())
    removed = st.vacuum()
    assert any("d00099-orphan" in r for r in removed)
    assert _rows(st.probe(spark, spark.createDataFrame([Row(k=1)]))) == [
        (1, 2, "edit")
    ]


_FOLD_DDL = "`p` string, `k` bigint, `v` bigint, `payload` string"


def _per_dir_fold(spark, keys, paths, ddl=None):
    """Reference last-write-wins fold: one relation per delta dir,
    tagged with the dir's log position, unioned in log order."""
    reader = spark.read.schema(f"{ddl}, `__op` string") if ddl else spark.read
    frames = []
    for i, p in enumerate(paths):
        df = reader.parquet(p)
        if "__seq" in df.columns:
            df = df.drop("__seq")
        frames.append(df.withColumn("__seq", F.lit(i).cast("bigint")))
    w = Window.partitionBy(*keys).orderBy(F.col("__seq").desc())
    return (
        functools.reduce(DataFrame.unionByName, frames)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__seq")
    )


@pytest.mark.parametrize("typed", [True, False], ids=["ddl", "inferred"])
def test_resolve_deltas_matches_per_dir_fold(spark, tmp_path, typed):
    """The one-scan fold equals the per-dir fold over two children's
    interleaved logs: PKs rewritten across dirs (a delete after an
    upsert and an upsert after a delete), two dirs of the same name
    whose part files share names (one staged write split by child), a
    dir of several files, a zero-row dir, dir names that prefix one
    another, and a legacy dir whose embedded ``__seq`` would reverse
    the order if it were read. The root's space and ``%20`` are
    URI-encoded in the scan's file paths."""
    schema = f"{_FOLD_DDL}, `__op` string"
    root = tmp_path / "log 100%20"
    a, b = root / "a" / "deltas", root / "b" / "deltas"
    a.mkdir(parents=True)
    b.mkdir(parents=True)
    # one staged write, split into each child's deltas/ab
    stage = str(root / "stage")
    spark.createDataFrame(
        [
            ("a", 1, 1, "a1", "u", "a"),
            ("a", 2, 1, None, "d", "a"),
            ("a", 3, 1, "a3", "u", "a"),
            ("b", 1, 1, "b1", "u", "b"),
            ("b", 2, 1, "b2", "u", "b"),
        ],
        f"{schema}, `__pval` string",
    ).coalesce(1).write.partitionBy("__pval").parquet(stage)
    os.rename(os.path.join(stage, "__pval=a"), a / "ab")
    os.rename(os.path.join(stage, "__pval=b"), b / "ab")
    assert sorted(os.listdir(a / "ab")) == sorted(os.listdir(b / "ab"))
    spark.createDataFrame([], schema).write.parquet(str(a / "a"))
    spark.createDataFrame(
        [
            ("a", 1, 2, None, "d"),
            ("a", 2, 2, "a2", "u"),
            ("a", 4, 2, "a4", "u"),
            ("a", 5, 2, "a5", "u"),
        ],
        schema,
    ).repartition(3).write.parquet(str(a / "abc"))
    assert sum(f.endswith(".parquet") for f in os.listdir(a / "abc")) > 1
    # a legacy dir: its embedded seq (0) would lose to b/ab's upsert
    spark.createDataFrame(
        [("b", 1, 2, None, "d", 0)], f"{schema}, `__seq` bigint"
    ).write.parquet(str(b / "abcd"))
    paths = [str(p) for p in (a / "ab", b / "ab", a / "a", a / "abc")]
    paths.append(str(b / "abcd"))
    ddl = _FOLD_DDL if typed else None

    def _fold_rows(df):
        return sorted(
            tuple(r) for r in df.select("p", "k", "v", "payload", "__op")
            .collect()
        )

    got = _fold_rows(resolve_deltas(spark, ("p", "k"), paths, ddl))
    assert got == _fold_rows(_per_dir_fold(spark, ("p", "k"), paths, ddl))
    assert got == [
        ("a", 1, 2, None, "d"),
        ("a", 2, 2, "a2", "u"),
        ("a", 3, 1, "a3", "u"),
        ("a", 4, 2, "a4", "u"),
        ("a", 5, 2, "a5", "u"),
        ("b", 1, 2, None, "d"),
        ("b", 2, 1, "b2", "u"),
    ]


def test_resolve_deltas_key_filter_pushes_into_the_scan(spark, tmp_path):
    """The file-to-position map is one folded literal, and a key filter
    over the fold still reaches the parquet scan's pushed filters."""
    schema = f"{_FOLD_DDL}, `__op` string"
    paths = []
    for i in range(3):
        paths.append(str(tmp_path / "deltas" / f"d{i}"))
        spark.createDataFrame(
            [("a", k, i, f"a{k}/{i}", "u") for k in range(4)], schema
        ).write.parquet(paths[-1])
    fold = resolve_deltas(spark, ("p", "k"), paths, _FOLD_DDL)
    hit = fold.filter((F.col("p") == "a") & (F.col("k") == 2))
    qe = hit._jdf.queryExecution()
    assert "from_json" not in qe.optimizedPlan().toString().lower()
    pushed = [
        ln
        for ln in qe.executedPlan().toString().splitlines()
        if "PushedFilters" in ln
    ]
    assert len(pushed) == 1 and "EqualTo(k,2)" in pushed[0], pushed
    assert [tuple(r) for r in hit.select("k", "v", "payload").collect()] == [
        (2, 2, "a2/2")
    ]


def test_validation_errors(spark, tmp_path):
    st = _seed(spark, tmp_path)
    with pytest.raises(ValueError, match="op must be 'u' or 'd'"):
        st.commit_delta(
            spark.createDataFrame([Row(k=1, v=2, payload="x", op="z")]),
            op_col="op",
        )
    with pytest.raises(ValueError, match="lacks key/version"):
        st.commit_delta(spark.createDataFrame([Row(k=1, payload="x")]))
    with pytest.raises(ValueError, match="schema must match"):
        st.commit_delta(
            spark.createDataFrame([Row(k=1, v=2, other="drift")])
        )
    empty = _store(tmp_path / "other")
    with pytest.raises(ValueError, match="empty merge-on-read"):
        empty.read(spark)


def test_merge_routes_to_delta_when_log_live(spark, tmp_path):
    st = _seed(spark, tmp_path)
    st.commit_delta(
        spark.createDataFrame([Row(k=1, v=2, payload="edit", op="u")]),
        op_col="op",
    )
    # a COW merge now would commit stale state UNDER the newer delta;
    # the wrapper must route it through the log instead
    st.merge(spark.createDataFrame([Row(k=1, v=3, payload="newest")]))
    assert st.delta_count() == 2
    assert (1, 3, "newest") in _rows(st.read(spark))


def test_delta_first_store_bootstraps_without_base(spark, tmp_path):
    st = _store(tmp_path)
    st.commit_delta(
        spark.createDataFrame([Row(k=1, v=1, payload="only")])
    )
    assert _rows(st.read(spark)) == [(1, 1, "only")]
    assert _rows(st.probe(spark, spark.createDataFrame([Row(k=1)]))) == [
        (1, 1, "only")
    ]
    st.compact(spark)
    assert _rows(st.base.read(spark)) == [(1, 1, "only")]


@pytest.mark.slow
def test_index_applier_mor_equals_cow(spark, tmp_path):
    """The q155/q182 maintenance applier must converge to the SAME
    postings through a MergeOnReadStore as through the COW store —
    including doc-level LWW (stale edit rejected), stale-posting
    tombstones, and emptied docs — and compaction must preserve the
    snapshot."""
    from parquet_demo_spark.operators.search import index_batch_applier
    from parquet_demo_spark.sources.merge_store import ParquetMergeStore

    docs = [
        Row(doc_id=1, text="alpha beta gamma", edit_ts=1),
        Row(doc_id=2, text="beta beta delta", edit_ts=1),
        Row(doc_id=3, text="epsilon", edit_ts=1),
    ]
    batches = [
        spark.createDataFrame(docs),
        # re-edit doc 1 (drops gamma), empty doc 3
        spark.createDataFrame(
            [
                Row(doc_id=1, text="alpha beta", edit_ts=3),
                Row(doc_id=3, text="", edit_ts=3),
            ]
        ),
        # LATE stale edit of doc 1 — must be rejected by admission
        spark.createDataFrame(
            [Row(doc_id=1, text="stale gamma back", edit_ts=2)]
        ),
    ]
    kw = dict(
        keys=("term", "doc_id"), version_cols=("edit_ts",), num_buckets=4
    )
    cow = ParquetMergeStore(str(tmp_path / "cow"), **kw)
    mor = MergeOnReadStore(str(tmp_path / "morx"), **kw)
    for st in (cow, mor):
        apply = index_batch_applier(spark, st)
        for i, b in enumerate(batches):
            apply(b, i)

    def _postings(df):
        return sorted(
            (r.term, r.doc_id, r.tf) for r in df.collect()
        )

    expect = _postings(cow.read(spark))
    assert expect  # sanity: gamma gone, doc 3 gone
    assert ("gamma", 1, 1) not in expect
    assert not any(d == 3 for _, d, _ in expect)
    assert _postings(mor.read(spark)) == expect
    mor.compact(spark)
    assert _postings(mor.base.read(spark)) == expect


@pytest.mark.slow
def test_dedup_applier_mor_equals_cow(spark, tmp_path):
    """The q166 dedup-maintenance applier through a MergeOnReadStore
    must converge to the same band table as through the COW store —
    including the all-bands tombstones for docs edited to empty."""
    from parquet_demo_spark.operators.dedup import (
        dedup_index_batch_applier,
    )
    from parquet_demo_spark.sources.merge_store import ParquetMergeStore

    base = "alpha beta gamma delta epsilon zeta eta theta " * 4
    batches = [
        spark.createDataFrame(
            [
                Row(doc_id=1, text=base, edit_ts=1),
                Row(doc_id=2, text=base + " iota", edit_ts=1),
            ]
        ),
        # re-edit doc 1, empty doc 2 (tombstones every band)
        spark.createDataFrame(
            [
                Row(doc_id=1, text=base + " kappa", edit_ts=3),
                Row(doc_id=2, text="", edit_ts=3),
            ]
        ),
        # late stale edit — rejected by the watermark probe
        spark.createDataFrame([Row(doc_id=1, text=base, edit_ts=2)]),
    ]
    kw = dict(
        keys=("band", "doc_id"), version_cols=("edit_ts",), num_buckets=4
    )
    cow = ParquetMergeStore(str(tmp_path / "dcow"), **kw)
    mor = MergeOnReadStore(str(tmp_path / "dmor"), **kw)
    for st in (cow, mor):
        apply = dedup_index_batch_applier(spark, st)
        for i, b in enumerate(batches):
            apply(b, i)

    def _sigs(df):
        return sorted((r.band, r.doc_id, r.sig) for r in df.collect())

    expect = _sigs(cow.read(spark))
    assert expect and not any(d == 2 for _, d, _ in expect)
    assert _sigs(mor.read(spark)) == expect
    mor.compact(spark)
    assert _sigs(mor.base.read(spark)) == expect


@pytest.mark.slow
def test_ann_applier_mor_equals_cow(spark, tmp_path):
    """The q160 ANN-maintenance applier through a MergeOnReadStore
    must converge to the same codes table as through the COW store —
    including delete tombstones and frozen-codebook encoding."""
    from parquet_demo_spark.operators.similarity import (
        _km_assign,
        _km_update,
        _pq_encode,
        ann_index_batch_applier,
    )
    from parquet_demo_spark.sources.merge_store import ParquetMergeStore

    vecs = spark.createDataFrame(
        [
            Row(vec_id=i, e=[float(i % 3), float(i % 5), 1.0, 0.5])
            for i in range(12)
        ]
    )
    icent0 = vecs.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("cid"), F.col("e").alias("c")
    )
    ia = _km_assign(
        vecs.select("vec_id", F.col("e").alias("embedding")), icent0
    )
    icent1 = _km_update(ia.select("cid", "embedding")).localCheckpoint()
    empty_probes = vecs.limit(0).select(
        F.col("vec_id").alias("qid"), F.col("e").alias("qe")
    )
    _, _, pcent1 = _pq_encode(vecs, vecs, empty_probes, pin=False)
    pcent1 = pcent1.localCheckpoint()

    batches = [
        vecs.select(
            "vec_id",
            "e",
            F.lit(1).cast("bigint").alias("edit_ts"),
            F.lit("upsert").alias("op"),
        ),
        # delete 2 vectors, re-encode one scaled vector
        spark.createDataFrame(
            [
                Row(vec_id=0, e=None, edit_ts=3, op="delete"),
                Row(vec_id=1, e=None, edit_ts=3, op="delete"),
                Row(vec_id=2, e=[9.0, 9.0, 9.0, 9.0], edit_ts=3, op="upsert"),
            ],
            schema=batches_schema(),
        ),
        # late stale upsert of a deleted vector — must stay deleted
        spark.createDataFrame(
            [Row(vec_id=0, e=[1.0, 1.0, 1.0, 1.0], edit_ts=2, op="upsert")],
            schema=batches_schema(),
        ),
    ]
    kw = dict(keys=("vec_id",), version_cols=("edit_ts",), num_buckets=4)
    cow = ParquetMergeStore(str(tmp_path / "acow"), **kw)
    mor = MergeOnReadStore(str(tmp_path / "amor"), **kw)
    for st in (cow, mor):
        apply = ann_index_batch_applier(spark, st, icent1, pcent1)
        for i, b in enumerate(batches):
            apply(b, i)

    def _codes(df):
        return sorted(
            (r.vec_id, r.cid, tuple(r.codes)) for r in df.collect()
        )

    expect = _codes(cow.read(spark))
    ids = [v for v, _, _ in expect]
    assert 0 not in ids and 1 not in ids and 2 in ids
    assert _codes(mor.read(spark)) == expect
    mor.compact(spark)
    assert _codes(mor.base.read(spark)) == expect


def batches_schema():
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("e", T.ArrayType(T.DoubleType())),
            T.StructField("edit_ts", T.LongType()),
            T.StructField("op", T.StringType()),
        ]
    )


def test_null_op_rejected(spark, tmp_path):
    """A NULL op (the F.when-without-otherwise mistake) must raise,
    not act as a silent phantom delete that resurrects after
    compaction."""
    st = _seed(spark, tmp_path)
    bad = spark.createDataFrame(
        [
            Row(k=1, v=2, payload="x", op="d"),
            Row(k=2, v=2, payload="y", op="keep"),
        ]
    ).withColumn(
        "op2", F.when(F.col("op") == "d", "d")  # no .otherwise -> NULL
    )
    with pytest.raises(ValueError, match="op must be 'u' or 'd'"):
        st.commit_delta(bad.drop("op"), op_col="op2")


def test_type_drift_rejected_at_commit(spark, tmp_path):
    """A batch whose column TYPES drift from the recorded schema must
    fail at commit with a ValueError — never poison the log into
    mixed-type parquet a later read dies on."""
    st = _seed(spark, tmp_path)
    st.commit_delta(
        spark.createDataFrame([Row(k=1, v=2, payload="ok")])
    )
    drifted = spark.createDataFrame([Row(k=1, v=3, payload="x")]).select(
        "k", F.col("v").cast("int").alias("v"), "payload"
    )
    with pytest.raises(ValueError, match="type drift"):
        st.commit_delta(drifted)
    # the store still reads fine — the bad batch never landed
    assert (1, 2, "ok") in _rows(st.read(spark))


def test_compact_of_fully_deleted_deltaonly_store_reads_empty(
    spark, tmp_path
):
    """compact() of a base-less store whose winners are all deletes
    must leave a store that reads as a typed EMPTY frame (schema from
    the pointer record), not one that raises."""
    st = _store(tmp_path)
    st.commit_delta(spark.createDataFrame([Row(k=1, v=1, payload="a")]))
    st.commit_delta(
        spark.createDataFrame(
            [Row(k=1, v=2, payload="ignored", op="d")]
        ),
        op_col="op",
    )
    assert _rows(st.read(spark)) == []  # resolved-empty pre-compact
    st.compact(spark)
    got = st.read(spark)
    assert got.count() == 0
    assert got.columns == ["k", "v", "payload"]
    assert st.probe(spark, spark.createDataFrame([Row(k=1)])).count() == 0


def test_concurrent_appends_both_land(spark, tmp_path):
    """Two writers appending concurrently: delta appends are
    rebase-safe by construction (disjoint directory footprints), so
    BOTH must land, with distinct sequence numbers and a total commit
    order — never a silently clobbered log (round-10 VERDICT #3)."""
    import threading

    st = _seed(spark, tmp_path)
    barrier = threading.Barrier(2)
    seqs, errs = [], []

    def writer(k, tag):
        other = MergeOnReadStore(
            st.root, keys=("k",), version_cols=("v",), num_buckets=4
        )
        batch = spark.createDataFrame(
            [Row(k=k, v=2, payload=tag, op="u")]
        )
        barrier.wait()
        try:
            seqs.append(other.commit_delta(batch, op_col="op"))
        except Exception as e:  # pragma: no cover - diagnostic
            errs.append(e)

    ts = [
        threading.Thread(target=writer, args=(1, "w1")),
        threading.Thread(target=writer, args=(2, "w2")),
    ]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs
    assert sorted(seqs) == [0, 1]  # distinct, total order
    assert st.delta_count() == 2
    rows = _rows(st.read(spark))
    assert (1, 2, "w1") in rows and (2, 2, "w2") in rows


def test_cas_loser_rebases_on_committed_head(spark, tmp_path, monkeypatch):
    """Deterministic CAS race at the log layer: a writer whose read of
    the head is stale (a competitor committed in between) must hit the
    O_EXCL conflict, re-read, and re-apply its mutation on the new
    head — both log mutations survive."""
    import json as _json

    st = _seed(spark, tmp_path)
    st.commit_delta(
        spark.createDataFrame([Row(k=1, v=2, payload="first")])
    )
    orig_log = MergeOnReadStore._log
    raced = {}

    def racing_log(self):
        state = orig_log(self)
        if not raced:
            raced["x"] = True
            competitor = {
                k: v for k, v in state.items() if k != "entry"
            }
            competitor["dirs"] = state["dirs"] + ["d-competitor"]
            competitor["seq"] = state["seq"] + 1
            with open(st._entry_path(state["entry"] + 1), "x") as f:
                _json.dump(competitor, f)
            st._swap_pointer(state["entry"] + 1)
        return state  # the STALE pre-competitor snapshot

    monkeypatch.setattr(MergeOnReadStore, "_log", racing_log)
    new = st._commit_log(
        lambda cur: {
            **{k: v for k, v in cur.items() if k != "entry"},
            "seq": cur["seq"] + 1,
            "dirs": cur["dirs"] + ["d-loser"],
        }
    )
    monkeypatch.undo()
    final = st._log()
    assert final == {**new}
    assert "d-competitor" in final["dirs"] and "d-loser" in final["dirs"]
    assert final["dirs"].index("d-competitor") < final["dirs"].index(
        "d-loser"
    )
    assert final["seq"] == 2  # both increments retained


def test_orphan_entry_conflicts_until_cleaned(spark, tmp_path):
    """A crashed commit's orphan log entry (created, never pointed at)
    must make the next writer fail LOUDLY with ConcurrentWriteConflict
    — the base store's law — and clean_orphans() must reopen the
    slot."""
    from parquet_demo_spark.sources.merge_store import (
        ConcurrentWriteConflict,
    )

    st = _seed(spark, tmp_path)
    st.commit_delta(
        spark.createDataFrame([Row(k=1, v=2, payload="ok")])
    )
    head = st._log()["entry"]
    open(st._entry_path(head + 1), "x").close()  # crashed mid-commit
    with pytest.raises(ConcurrentWriteConflict, match="clean_orphans"):
        st.commit_delta(
            spark.createDataFrame([Row(k=2, v=2, payload="blocked")])
        )
    removed = st.clean_orphans()
    assert any(f"e{head + 1:08d}" in r for r in removed)
    st.commit_delta(
        spark.createDataFrame([Row(k=2, v=2, payload="lands")])
    )
    assert (2, 2, "lands") in _rows(st.read(spark))


def test_bootstrap_evolution_after_compaction_refreshes_record(
    spark, tmp_path
):
    """ADVICE r10 (medium): after compact() empties the log, a
    bootstrap merge with allow_schema_evolution=True changes the base
    schema; the next commit_delta must validate against the EVOLVED
    record (re-derived from the live base manifest), not the stale
    pointer record — and the evolved column must read back."""
    st = _seed(spark, tmp_path)
    st.commit_delta(
        spark.createDataFrame([Row(k=1, v=2, payload="edit")])
    )
    st.compact(spark)
    assert st.delta_count() == 0
    st.merge(
        spark.createDataFrame([Row(k=5, v=1, payload="e", extra=10)]),
        allow_schema_evolution=True,
    )
    # the stale record would reject this valid evolved batch
    st.commit_delta(
        spark.createDataFrame([Row(k=1, v=9, payload="x", extra=7)])
    )
    got = st.read(spark)
    assert "extra" in got.columns
    rows = sorted(
        (r.k, r.v, r.payload, r.extra) for r in got.collect()
    )
    assert (1, 9, "x", 7) in rows and (5, 1, "e", 10) in rows
    # pre-evolution base rows surface with NULL extra
    assert (2, 1, "base2", None) in rows
    # and the refreshed record survives another compact cycle
    st.compact(spark)
    assert (1, 9, "x", 7) in sorted(
        (r.k, r.v, r.payload, r.extra) for r in st.read(spark).collect()
    )


def test_vacuum_removes_stray_pointer_temps_and_old_entries(
    spark, tmp_path
):
    """ADVICE r10: a crash between mkstemp and os.replace leaks a
    _DELTAS.* temp into the store root; vacuum must unlink it (and
    superseded log entries), never the live pointer or head entry."""
    st = _seed(spark, tmp_path)
    st.commit_delta(
        spark.createDataFrame([Row(k=1, v=2, payload="a")])
    )
    st.commit_delta(
        spark.createDataFrame([Row(k=2, v=2, payload="b")])
    )
    stray = os.path.join(st.root, "_DELTAS.stray123")
    with open(stray, "w") as f:
        f.write("{}")
    before = _rows(st.read(spark))
    removed = st.vacuum()
    assert "_DELTAS.stray123" in removed
    assert not os.path.exists(stray)
    assert os.path.exists(st._pointer_path())  # live pointer kept
    head = st._log()["entry"]
    assert os.path.exists(st._entry_path(head))  # head entry kept
    assert not os.path.exists(st._entry_path(head - 1))  # history gone
    assert _rows(st.read(spark)) == before


def test_compact_keeps_concurrently_appended_delta(spark, tmp_path):
    """A delta committed WHILE compact() is folding (after its log
    snapshot, before its truncation) must survive: it stays live in
    the log, its rows overlay the freshly compacted base, and its
    parquet dir is not deleted (round-11 review: a second log read
    inside compact would truncate it unfolded — silent data loss)."""
    st = _seed(spark, tmp_path)
    st.commit_delta(
        spark.createDataFrame([Row(k=1, v=2, payload="edit", op="u")]),
        op_col="op",
    )
    other = MergeOnReadStore(
        st.root, keys=("k",), version_cols=("v",), num_buckets=4
    )
    real_merge = st.base.merge
    raced = {}

    def merge_hook(batch, **kw):
        if not raced:
            raced["x"] = True
            other.commit_delta(
                spark.createDataFrame([Row(k=99, v=1, payload="race")])
            )
        return real_merge(batch, **kw)

    st.base.merge = merge_hook
    try:
        st.compact(spark)
    finally:
        st.base.merge = real_merge
    assert st.delta_count() == 1  # the racer's delta is still live
    rows = _rows(st.read(spark))
    assert (99, 1, "race") in rows  # ...and still readable
    assert (1, 2, "edit") in rows  # the folded delta reached the base
    st.compact(spark)  # the next cadence folds the racer
    assert st.delta_count() == 0
    assert (99, 1, "race") in _rows(st.base.read(spark))


def test_maintain_compacts_at_cadence_and_provisions_base(
    spark, tmp_path
):
    """The MOR maintenance policy: below the live-delta cadence it
    leaves the log alone; at the cadence it folds (bounding the read
    overlay), and always runs the base's size-driven provisioning —
    the two knobs of VERDICT r10 #2 in one call."""
    st = _seed(spark, tmp_path)
    for i in range(3):
        st.commit_delta(
            spark.createDataFrame(
                [Row(k=i + 10, v=1, payload=f"d{i}")]
            )
        )
    expect = _rows(st.read(spark))
    act = st.maintain(spark, max_live_deltas=4)
    assert act["compacted"] is False and st.delta_count() == 3
    assert act["base"]["action"] == "none"
    st.commit_delta(
        spark.createDataFrame([Row(k=13, v=1, payload="d3")])
    )
    expect = _rows(st.read(spark))
    act = st.maintain(spark, max_live_deltas=4)
    assert act["compacted"] is True and st.delta_count() == 0
    assert _rows(st.read(spark)) == expect
    assert _rows(st.base.read(spark)) == expect  # folded into base


def test_merge_kwargs_passthrough_and_live_log_guard(spark, tmp_path):
    """Bootstrap merges pass base-merge options through; once the log
    is live, options raise instead of being silently dropped."""
    st = _store(tmp_path)
    st.merge(
        spark.createDataFrame([Row(k=1, v=1, payload="a", extra=1)]),
        allow_schema_evolution=True,
    )
    st.commit_delta(
        spark.createDataFrame(
            [Row(k=1, v=2, payload="b", extra=2)]
        )
    )
    with pytest.raises(ValueError, match="delta log is live"):
        st.merge(
            spark.createDataFrame([Row(k=1, v=3, payload="c", extra=3)]),
            conditional=True,
        )


def test_vacuum_keep_last_zero_retains_everything(spark, tmp_path):
    """keep_last=0 mirrors the base store's committed[-0:] slicing:
    EVERY entry (and every dir any entry lists) is retained — the
    same law wap_abandon follows (round-12 review: max(1, ...) used
    to map 0 to 1 and destroyed all log history)."""
    st = _store(tmp_path)
    st.commit_delta(spark.createDataFrame([Row(k=1, v=1, payload="a")]))
    st.commit_delta(spark.createDataFrame([Row(k=1, v=2, payload="b")]))
    st.vacuum(keep_last=0)
    # entry 0 is still pinned-readable
    assert _rows(st.read(spark, version=0)) == [(1, 1, "a")]
    assert _rows(st.read(spark)) == [(1, 2, "b")]


def test_vacuum_base_window_covers_retained_entry_pins(spark, tmp_path):
    """A compact burns up to TWO base versions for ONE log entry, so
    a base window paced by the same keep_last could expire a retained
    entry's pinned base (round-12 review). The base keep window must
    widen to cover every retained entry's recorded base_version."""
    st = _store(tmp_path)
    # e0: bulk append; compact -> base v0 (merge), e1 truncation
    st.commit_delta(
        spark.createDataFrame(
            [Row(k=1, v=1, payload="a"), Row(k=2, v=1, payload="x")]
        )
    )
    st.compact(spark)
    # e2: upsert + delete; compact -> base v1 (merge) + v2 (DV
    # delete), e3 truncation
    st.commit_delta(
        spark.createDataFrame(
            [
                Row(k=1, v=2, payload="b", op="u"),
                Row(k=2, v=2, payload=None, op="d"),
            ]
        ),
        op_col="op",
    )
    e2 = st.current_version()  # the append entry is the head here
    st.compact(spark)
    # retain the last 2 entries: e2 (append, base_version=v0) and the
    # truncation head; base keep_last=2 alone would keep only v1, v2
    # and expire e2's pinned v0
    st.vacuum(keep_last=2)
    assert _rows(st.read(spark, version=e2)) == [(1, 2, "b")]
    assert _rows(st.read(spark)) == [(1, 2, "b")]


# -- CDC: changes_between over the log-entry chain (round 13) ----------


def _cdc_rows(df):
    return sorted(
        (r.k, r._change_type, r.payload) for r in df.collect()
    )


def _delta(spark, rows):
    """[(k, v, payload, op)] -> a typed delta batch."""
    return spark.createDataFrame(
        rows, "k bigint, v bigint, payload string, op string"
    )


def test_changes_between_append_span(spark, tmp_path):
    """The O(Δ) append fast path classifies insert / update / delete,
    drops identical rewrites and absent-key tombstones, and emits
    pre-images on request."""
    st = _store(tmp_path)
    st.commit_delta(
        spark.createDataFrame(
            [Row(k=i, v=1, payload=f"a{i}") for i in range(1, 5)]
        )
    )  # e0
    st.commit_delta(
        _delta(
            spark,
            [
                (1, 2, "CHANGED", "u"),  # real update
                (2, 1, "a2", "u"),  # identical rewrite -> dropped
                (10, 1, "new", "u"),  # insert
            ],
        ),
        op_col="op",
    )  # e1
    st.commit_delta(
        _delta(
            spark,
            [
                (3, 3, None, "d"),  # delete of a live key
                (99, 3, None, "d"),  # tombstone of an absent key
            ],
        ),
        op_col="op",
    )  # e2
    got = _cdc_rows(st.changes_between(spark, 0, 2))
    assert got == sorted(
        [
            (1, "update_postimage", "CHANGED"),
            (3, "delete", "a3"),
            (10, "insert", "new"),
        ]
    )
    with_pre = _cdc_rows(
        st.changes_between(spark, 0, 2, include_preimages=True)
    )
    assert with_pre == sorted(
        [
            (1, "update_postimage", "CHANGED"),
            (1, "update_preimage", "a1"),
            (3, "delete", "a3"),
            (10, "insert", "new"),
        ]
    )
    # empty span: same entry both ends -> typed empty frame
    assert st.changes_between(spark, 2, 2).count() == 0


def test_changes_between_replay_law(spark, tmp_path):
    """Applying the feed to snapshot@from reproduces snapshot@to —
    the law every CDC consumer (MV refresh, replication) builds on."""
    st = _seed(spark, tmp_path)  # base only, no entries yet
    st.commit_delta(
        _delta(spark, [(1, 2, "upd", "u"), (9, 1, "ins", "u")]),
        op_col="op",
    )  # e0
    st.commit_delta(
        _delta(spark, [(2, 3, None, "d"), (3, 2, "upd3", "u")]),
        op_col="op",
    )  # e1
    cdc = st.changes_between(spark, 0, 1).collect()
    old = {
        (r.k): (r.k, r.v, r.payload)
        for r in st.read(spark, version=0).collect()
    }
    for r in cdc:
        if r._change_type == "delete":
            old.pop(r.k)
        else:
            old[r.k] = (r.k, r.v, r.payload)
    assert sorted(old.values()) == _rows(st.read(spark, version=1))


def test_changes_between_across_compact_is_logical(spark, tmp_path):
    """A span crossing a compact boundary (snapshot-diff fallback)
    emits the logical changes only — compaction itself is CDC-silent."""
    st = _store(tmp_path)
    st.commit_delta(
        spark.createDataFrame(
            [Row(k=i, v=1, payload=f"a{i}") for i in range(1, 4)]
        )
    )  # e0
    st.commit_delta(
        _delta(spark, [(1, 2, "upd", "u"), (2, 2, None, "d")]),
        op_col="op",
    )  # e1
    st.compact(spark)  # e2: truncation entry, base stamped
    e2 = st.current_version()
    # pure compact span: no logical change
    assert st.changes_between(spark, 1, e2).count() == 0
    # span from BEFORE the appends, across the compact
    assert _cdc_rows(st.changes_between(spark, 0, e2)) == sorted(
        [(1, "update_postimage", "upd"), (2, "delete", "a2")]
    )


def test_changes_between_append_after_compact_keeps_fast_path(
    spark, tmp_path
):
    """commit_delta carries a prior compact's base stamp forward, so
    post-compact appends still satisfy the append fast path AND an
    entry-pinned read never resolves against a later compact's base."""
    st = _store(tmp_path)
    st.commit_delta(
        spark.createDataFrame([Row(k=1, v=1, payload="a")])
    )  # e0
    st.compact(spark)  # e1
    e1 = st.current_version()
    st.commit_delta(
        spark.createDataFrame([Row(k=2, v=1, payload="b")])
    )  # e2
    e2 = st.current_version()
    s1, s2 = st._entry_state(e1), st._entry_state(e2)
    assert s2.get("base_version") == s1.get("base_version")
    assert _cdc_rows(st.changes_between(spark, e1, e2)) == [
        (2, "insert", "b")
    ]
    # a SECOND compact must not leak into e2's pinned read
    st.compact(spark)
    assert _rows(st.read(spark, version=e2)) == [
        (1, 1, "a"),
        (2, 1, "b"),
    ]


def test_post_compact_bootstrap_merge_is_visible(spark, tmp_path):
    """Round-13 store-law fix: a bootstrap (COW-path) merge into a
    store whose head entry stamps a base version must re-stamp the
    entry — its rows were previously committed BEHIND the pin and
    invisible to every read."""
    st = _store(tmp_path)
    st.commit_delta(
        spark.createDataFrame([Row(k=1, v=1, payload="a")])
    )
    st.compact(spark)
    e_compact = st.current_version()
    st.merge(spark.createDataFrame([Row(k=2, v=1, payload="b")]))
    assert _rows(st.read(spark)) == [(1, 1, "a"), (2, 1, "b")]
    # the pre-merge entry still reads the OLD snapshot (pin isolation)
    assert _rows(st.read(spark, version=e_compact)) == [(1, 1, "a")]
    # and the boundary is CDC-visible
    assert _cdc_rows(
        st.changes_between(spark, e_compact, st.current_version())
    ) == [(2, "insert", "b")]


def test_bootstrap_merge_after_restore_does_not_resurrect(
    spark, tmp_path
):
    """Round-13 review finding: a bootstrap merge into a store whose
    head entry pins a base BEHIND the live base head (a restore
    fenced out later folds) must not merge onto — and re-stamp — the
    fenced-out state; it routes through the delta log over the
    PINNED base."""
    st = _store(tmp_path)
    st.commit_delta(
        spark.createDataFrame([Row(k=1, v=1, payload="keep")])
    )  # e0
    st.compact(spark)  # e1: base v1? (v0+DV-free fold), stamps pin
    e1 = st.current_version()
    st.commit_delta(
        spark.createDataFrame([Row(k=2, v=1, payload="aborted")])
    )  # e2
    st.compact(spark)  # e3: folds the aborted batch into the base
    st.restore(e1)  # e4: fence the aborted fold out
    st.merge(spark.createDataFrame([Row(k=3, v=1, payload="new")]))
    rows = _rows(st.read(spark))
    assert rows == [(1, 1, "keep"), (3, 1, "new")], rows
    # the fenced-out key must NOT resurrect
    assert (2, 1, "aborted") not in rows


def test_compact_after_restore_does_not_resurrect(spark, tmp_path):
    """Round-14 ADVICE HIGH: compact() folded resolved deltas onto the
    LIVE base head and re-stamped base_version to it — so the compact
    AFTER a restore-then-merge resurrected the aborted fold the
    restore had fenced out. compact must fence the base to the pinned
    version (metadata-only restore) before folding."""
    st = _store(tmp_path)
    st.commit_delta(
        spark.createDataFrame([Row(k=1, v=1, payload="keep")])
    )  # e0
    st.compact(spark)  # e1 pins base v_keep
    e1 = st.current_version()
    st.commit_delta(
        spark.createDataFrame([Row(k=2, v=1, payload="aborted")])
    )  # e2
    st.compact(spark)  # e3: folds the aborted batch into the base
    st.restore(e1)  # e4: fence the aborted fold out
    st.merge(spark.createDataFrame([Row(k=3, v=1, payload="new")]))
    # pre-fix: this compact folds onto the live (fenced-out) base head
    st.compact(spark)
    rows = _rows(st.read(spark))
    assert rows == [(1, 1, "keep"), (3, 1, "new")], rows
    # idempotent under further maintenance cycles
    st.commit_delta(
        spark.createDataFrame([Row(k=4, v=1, payload="later")])
    )
    st.compact(spark)
    rows = _rows(st.read(spark))
    assert rows == [(1, 1, "keep"), (3, 1, "new"), (4, 1, "later")]
    # and the boundary stays CDC-coherent: head diff vs e1 shows the
    # net effect (k=2 never appears)
    changed = _cdc_rows(
        st.changes_between(spark, e1, st.current_version())
    )
    assert (2, "insert", "aborted") not in changed
    assert {(3, "insert", "new"), (4, "insert", "later")} <= set(changed)


def test_shallow_clone_pins_entry_and_diverges(spark, tmp_path):
    """Child-level MOR shallow clone (round-14 VERDICT #2): the clone
    pins a committed LOG ENTRY (base shallow-cloned at the entry's
    stamped base version, live deltas copied), reads identically, and
    diverges independently — including through its own compact."""
    st = _store(tmp_path)
    st.merge(spark.createDataFrame([Row(k=1, v=1, payload="a")]))
    st.commit_delta(spark.createDataFrame([Row(k=2, v=1, payload="b")]))
    e_mid = st.current_version()
    st.commit_delta(spark.createDataFrame([Row(k=3, v=1, payload="c")]))
    clone = st.shallow_clone(str(tmp_path / "cl"), version=e_mid)
    assert _rows(clone.read(spark)) == [(1, 1, "a"), (2, 1, "b")]
    # divergence both ways, and the clone's compact stays inside it
    clone.commit_delta(
        spark.createDataFrame([Row(k=9, v=1, payload="cl")])
    )
    clone.compact(spark)
    assert _rows(clone.read(spark)) == [
        (1, 1, "a"),
        (2, 1, "b"),
        (9, 1, "cl"),
    ]
    assert _rows(st.read(spark)) == [
        (1, 1, "a"),
        (2, 1, "b"),
        (3, 1, "c"),
    ]
    # cloning a vacuumed entry raises the descriptive error
    st.compact(spark)
    st.vacuum(keep_last=1)
    with pytest.raises(ValueError, match="vacuum"):
        st.shallow_clone(str(tmp_path / "cl2"), version=e_mid)


def test_stored_feed_equals_log_diff(spark, tmp_path):
    """Round-14 VERDICT #3 law: change_feed(e) ≡
    changes_between(e-1, e, include_preimages=True) — the stored feed
    is the same Delta-CDF rows, materialized once at commit time by
    the writer's probe instead of per consumer at diff time."""
    st = _store(tmp_path)
    st.commit_delta(
        spark.createDataFrame(
            [Row(k=i, v=1, payload=f"base{i}") for i in range(1, 5)]
        )
    )
    e0 = st.current_version()
    st.commit_delta(
        _delta(
            spark,
            [
                (1, 2, "edit", "u"),      # update
                (2, 1, "base2", "u"),     # identical rewrite → no-op
                (3, 2, None, "d"),        # delete
                (77, 1, None, "d"),       # absent key → no-op tombstone
                (9, 1, "new", "u"),       # insert
            ],
        ),
        op_col="op",
        write_change_feed=True,
    )
    e1 = st.current_version()
    feed = _cdc_rows(st.change_feed(spark, e1))
    diff = _cdc_rows(
        st.changes_between(spark, e0, e1, include_preimages=True)
    )
    assert feed == diff
    assert feed == [
        (1, "update_postimage", "edit"),
        (1, "update_preimage", "base1"),
        (3, "delete", "base3"),
        (9, "insert", "new"),
    ]
    # feed-less entries raise the descriptive error: the seed merge...
    with pytest.raises(ValueError, match="no stored change feed"):
        st.change_feed(spark, e0)
    # ...a compact truncation (CDC-silent, must not inherit the ref)...
    st.compact(spark)
    with pytest.raises(ValueError, match="no stored change feed"):
        st.change_feed(spark)
    # ...and a restore (its net revert is a snapshot diff)
    st.restore(e1)
    with pytest.raises(ValueError, match="no stored change feed"):
        st.change_feed(spark)
    # the original entry still serves its feed (dirs retained)
    assert _cdc_rows(st.change_feed(spark, e1)) == feed


def test_stored_feed_vacuum_and_first_commit(spark, tmp_path):
    """Feeds expire with the entries that reference them; a
    first-ever commit's feed is all inserts (no pre-state probe)."""
    st = _store(tmp_path)
    st.commit_delta(
        _delta(spark, [(1, 1, "a", "u"), (2, 1, None, "d")]),
        op_col="op",
        write_change_feed=True,
    )
    assert _cdc_rows(st.change_feed(spark)) == [(1, "insert", "a")]
    st.commit_delta(
        _delta(spark, [(1, 2, "b", "u")]),
        op_col="op",
        write_change_feed=True,
    )
    assert _cdc_rows(st.change_feed(spark)) == [
        (1, "update_postimage", "b"),
        (1, "update_preimage", "a"),
    ]
    head_feed = st._log()["feed"]
    st.vacuum(keep_last=1)
    # the head entry's feed survives; the expired entry's is swept
    assert os.path.isdir(os.path.join(st.root, head_feed))
    assert sorted(os.listdir(st._changes_root)) == [
        os.path.basename(head_feed)
    ]
    with pytest.raises(ValueError, match="vacuum"):
        st.change_feed(spark, 0)


def test_changes_between_across_compact_is_o_delta(spark, tmp_path):
    """Round-14 VERDICT #4: an append…compact…append span composes
    from the O(Δ) sub-spans — compaction is CDC-silent, so
    changes_between(e0, e_head) must equal the same edits diffed with
    no compact in between, WITHOUT reading any snapshot (the fast
    path probes pre-images only)."""
    st = _store(tmp_path)
    st.commit_delta(
        spark.createDataFrame(
            [Row(k=i, v=1, payload=f"base{i}") for i in range(1, 5)]
        )
    )
    e0 = st.current_version()
    st.commit_delta(
        _delta(spark, [(1, 2, "edit1", "u"), (9, 1, "new", "u")]),
        op_col="op",
    )
    st.compact(spark)
    st.commit_delta(
        _delta(
            spark,
            [
                (1, 3, "edit2", "u"),      # re-edit across the fold
                (2, 2, None, "d"),         # delete a base key
                (9, 2, "new2", "u"),       # update the span's insert
                (3, 1, "base3", "u"),      # identical rewrite → no-op
            ],
        ),
        op_col="op",
    )
    st.compact(spark)  # a second fold — the span ends ON a compact
    e_head = st.current_version()

    # fast-path assertion: the snapshot fallback goes through read();
    # forbid it for the duration of the diff
    real_read = st.read

    def _no_read(*a, **kw):  # pragma: no cover - fails the test
        raise AssertionError("compact-crossing diff read a snapshot")

    st.read = _no_read
    try:
        got = _cdc_rows(
            st.changes_between(
                spark, e0, e_head, include_preimages=True
            )
        )
    finally:
        st.read = real_read
    assert got == [
        (1, "update_postimage", "edit2"),
        (1, "update_preimage", "base1"),
        (2, "delete", "base2"),
        (9, "insert", "new2"),
    ]
    # equivalence law: the same net diff as the snapshot fallback
    twin = _cdc_rows(
        st.changes_between(spark, e_head, e0, include_preimages=True)
    )  # backward span exercises the fallback machinery (net revert)
    assert twin == [
        (1, "update_postimage", "base1"),
        (1, "update_preimage", "edit2"),
        (2, "insert", "base2"),
        (9, "delete", "new2"),
    ]


def test_changes_between_restore_span_falls_back(spark, tmp_path):
    """A span containing a restore is NOT silent — the net revert
    must surface through the snapshot fallback."""
    st = _store(tmp_path)
    st.commit_delta(
        spark.createDataFrame([Row(k=1, v=1, payload="a")])
    )
    e0 = st.current_version()
    st.commit_delta(
        spark.createDataFrame([Row(k=2, v=1, payload="b")])
    )
    st.restore(e0)
    st.commit_delta(
        spark.createDataFrame([Row(k=3, v=1, payload="c")])
    )
    e_head = st.current_version()
    assert _cdc_rows(st.changes_between(spark, e0, e_head)) == [
        (3, "insert", "c")
    ]  # k=2 reverted inside the span: no net change for it


def test_stored_feed_cas_rebase_recomputes(spark, tmp_path):
    """A feed-writing commit that loses the CAS and rebases past a
    competitor must recompute its pre-images against the entry it
    actually landed on — the feed ≡ log-diff law must hold even
    though the probe originally ran against the pre-race head."""
    st = _store(tmp_path)
    st.commit_delta(
        spark.createDataFrame([Row(k=1, v=1, payload="a")])
    )
    # second writer handle on the SAME store
    rival = MergeOnReadStore(
        st.root, keys=("k",), version_cols=("v",), num_buckets=4
    )
    orig = st._commit_log
    fired: dict = {}

    def racy(mutate):
        if not fired:
            fired["x"] = True
            # the competitor lands AFTER our feed was materialized
            # against the observed head, BEFORE our CAS
            rival.commit_delta(
                spark.createDataFrame(
                    [Row(k=1, v=2, payload="rival")]
                )
            )
        return orig(mutate)

    st._commit_log = racy
    try:
        st.commit_delta(
            spark.createDataFrame([Row(k=1, v=3, payload="mine")]),
            write_change_feed=True,
        )
    finally:
        st._commit_log = orig
    e = st.current_version()
    assert e == 2  # rebased past the rival's entry
    feed = _cdc_rows(st.change_feed(spark, e))
    diff = _cdc_rows(
        st.changes_between(spark, e - 1, e, include_preimages=True)
    )
    # pre-image must be the RIVAL's committed row, not the stale 'a'
    assert feed == diff == [
        (1, "update_postimage", "mine"),
        (1, "update_preimage", "rival"),
    ]


def test_compact_after_restore_without_prior_pin(spark, tmp_path):
    """Round-14 review finding: the compact fence only handled an
    INT-pinned entry. A store restored to a pre-compact entry of a
    never-explicitly-compacted history pins base_version=None — reads
    resolve the overlay alone — and the next compact folded onto the
    live base anyway, resurrecting the fenced-out fold. The None-pin
    fence must delete every base key the overlay does not re-assert."""
    st = _store(tmp_path)
    st.commit_delta(
        spark.createDataFrame([Row(k=1, v=1, payload="keep")])
    )  # e0: base_version None (no base yet)
    st.commit_delta(
        spark.createDataFrame([Row(k=2, v=1, payload="aborted")])
    )  # e1
    e0 = 0
    st.compact(spark)  # e2: folds BOTH keys into base v0
    st.restore(e0)  # e3: fence k=2 out (reads = overlay only)
    assert _rows(st.read(spark)) == [(1, 1, "keep")]
    st.merge(spark.createDataFrame([Row(k=3, v=1, payload="new")]))
    assert _rows(st.read(spark)) == [(1, 1, "keep"), (3, 1, "new")]
    # pre-fix: this compact folded onto the live base and resurrected
    st.compact(spark)
    rows = _rows(st.read(spark))
    assert rows == [(1, 1, "keep"), (3, 1, "new")], rows
    # stable under a further cycle
    st.commit_delta(
        spark.createDataFrame([Row(k=4, v=1, payload="later")])
    )
    st.compact(spark)
    assert _rows(st.read(spark)) == [
        (1, 1, "keep"),
        (3, 1, "new"),
        (4, 1, "later"),
    ]
