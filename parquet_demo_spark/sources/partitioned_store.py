"""Partition columns on the merge store (VERDICT r6 #3).

A 100 TB events table needs date partitions so time-scoped reads and
deletes prune whole directories and retention is a metadata-only drop —
PK-hash buckets and min/max/bloom stats alone can't do that (every
bucket spans every date).

Design: Hive-style partition directories COMPOSED WITH the existing
single-writer store rather than threaded through it. Each partition
value owns a child :class:`ParquetMergeStore` at ``root/p=<val>/``
(bucketed, bloom'd, CDC-capable, time-travelable — everything the child
already does); a GLOBAL versioned manifest (``root/v{N}/manifest.json``
+ atomic ``_latest`` pointer: the child's own commit protocol,
:func:`~parquet_demo_spark.sources.commit_log.manifest_log`) maps
each committed table version to ``{partition value: child version}``.
Readers resolve the global manifest first, so child versions committed
by an in-flight writer are invisible until the global pointer swaps —
the same snapshot-isolation story as the child store, one level up.

Why composition beats widening the child's bucket key to
(partition, bucket):

- **Pruning is directory-shaped.** A date-scoped read selects child
  stores by partition value from the manifest — zero file listings, let
  alone reads, under non-matching partitions; inside each selected
  child, the usual bucket/min-max/bloom pruning still applies. For
  NON-partition predicates, each entry also carries the child's
  rolled-up per-column [min, max] (the Iceberg manifest-list design),
  so a ``where`` range skips whole child directories before any child
  manifest is opened.
- **Retention is one manifest write.** ``drop_partition`` commits a new
  global version without the partition's entry; no data file is
  touched, and the change feed can still synthesize the delete rows
  from the dropped child's (still-present) last snapshot.
- **Per-partition commit independence.** Two ingest jobs landing on
  different dates commit different child stores and only contend on the
  cheap global pointer CAS — a single integrated manifest would
  serialize them through one optimistic-concurrency domain. At 1000
  executors x daily partitions, that's the difference between parallel
  and queued ingest.

Constraint: every partition column must be one of the PK columns. The
PK then determines the partition, so an upsert routes deterministically
and a key can never silently move between partitions (which would
duplicate it — the same invariant reasoning as the child's reopen
config validation). ``partition_col`` also accepts a TUPLE of columns
(VERDICT r7 #6 — real retention keys are (date, source)): composite
values key the manifest and child dirs as ``p=v1|v2``, and scoped
reads/deletes prune on any subset of the columns via a dict-shaped
``partitions`` argument.

Crash story: children commit first, then the global manifest. A crash
between the two leaves orphan child versions that no global manifest
references — invisible to readers, reclaimable via the child's own
``clean_orphans``/``vacuum``. Every write path (merge, delete_where,
compact) builds on the globally PINNED child version, not the child's
HEAD: when they differ (the crashed-writer residue), the child is
first restored to the pin, so an aborted transaction's rows can never
silently fold into a later successful commit even if the crashed batch
is never retried.

Reference parity note: the reference's R14 upsert
(`/root/reference/examples/ingest_parquet_to_mongo_bulk.py:108-116`)
has no partition concept; this is a charter extension following public
lakehouse designs (Hive partitioning, Delta partition columns +
drop-partition retention, Iceberg partition pruning).
"""

from __future__ import annotations

import contextlib
import functools
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_demo_spark.sources import commit_log
from parquet_demo_spark.sources.merge_store import (
    ConcurrentWriteConflict,
    ParquetMergeStore,
    _load_manifest,
    anti_join_dv,
    apply_where_ranges,
    stats_rule_out,
)
from parquet_demo_spark.sources.staging import arrow_writes, write_staged
from parquet_demo_spark.tuning import op_pool, scoped_store_op, small_op


# separator between the components of a composite (multi-column)
# partition value in manifest keys and child dir names: p=2024-01-05|web
_SEP = "|"


def _pdir(val, multi: bool = False) -> str:
    """Directory-safe partition value COMPONENT (dates/ints/strings).

    The composite separator is rejected only for MULTI-column stores
    (where it would make ``pval.split`` ambiguous); a single-column
    store's values may legally contain it — pre-existing stores created
    before composite keys existed stay writable (ADVICE r8)."""
    s = str(val)
    bad = "/\\\0\n" + (_SEP if multi else "")
    if not s or any(c in s for c in bad):
        raise ValueError(f"unsupported partition value: {val!r}")
    return s


def _composite(vals) -> str:
    """Composite manifest key / dir tag for a value tuple."""
    vals = list(vals)
    return _SEP.join(_pdir(v, multi=len(vals) > 1) for v in vals)


class PartitionedParquetMergeStore:
    """Partition-directory composition over :class:`ParquetMergeStore`."""

    def __init__(
        self,
        root: str,
        keys: tuple[str, ...],
        partition_col: str | tuple[str, ...],
        version_cols: tuple[str, ...] = (),
        num_buckets: int = 8,
        bloom_cols: tuple[str, ...] = (),
        write_concurrency: int = 8,
        constraints: dict[str, str] | None = None,
        child_store: str = "cow",
    ) -> None:
        # a string means one partition column; a tuple is HIVE-style
        # multi-level partitioning, e.g. (date, source) — real retention
        # keys (VERDICT r7 #6). Composite values key the manifest (and
        # name child dirs) as "v1|v2"; scoped reads prune on any subset
        # of the columns via dict-shaped ``partitions``.
        cols = (
            (partition_col,)
            if isinstance(partition_col, str)
            else tuple(partition_col)
        )
        if not cols:
            raise ValueError("partition_col must name at least one column")
        bad = [c for c in cols if c not in keys]
        if bad:
            raise ValueError(
                "every partition column must be one of the PK columns "
                "(the PK determines the partition so upserts route "
                f"deterministically): {bad} not in {keys}"
            )
        self.root = root
        self.keys = tuple(keys)
        self.partition_cols = cols
        # single-column compatibility alias (existing callers/tests)
        self.partition_col = cols[0] if len(cols) == 1 else None
        self.version_cols = tuple(version_cols)
        self.num_buckets = int(num_buckets)
        self.bloom_cols = tuple(bloom_cols)
        # operational knob, not table schema: how many copy-on-write
        # child stores a multi-partition merge, delete or compact
        # writes CONCURRENTLY (each child is an independent directory +
        # commit; Spark schedules the threads' jobs in parallel) —
        # deliberately outside the config-mismatch validation below.
        # Merge-on-read merges and deletes write every touched child in
        # one Spark job and never use it.
        self.write_concurrency = max(1, int(write_concurrency))
        # CHECK constraints are TABLE properties (name -> SQL boolean),
        # persisted in the global manifest and forwarded to every child,
        # so each child write enforces them on its merged post-state;
        # merge() additionally validates the incoming BATCH up front so
        # a violating multi-partition backfill fails before ANY child
        # commits (no partial-transaction cleanup needed)
        self.constraints: dict[str, str] = dict(constraints or {})
        # child-store strategy (VERDICT r11 #4): "cow" children are
        # ParquetMergeStore (copy-on-write bucket rewrites — perfect
        # reads, write amplification); "mor" children are
        # MergeOnReadStore (O(batch) delta appends resolved at read
        # time — the scatter-write backfill trade). MOR children pin
        # by LOG ENTRY number instead of manifest version; per-bucket
        # stats/bloom rollups, change feeds, clones/WAP, conditional
        # merges, and schema evolution are copy-on-write machinery and
        # raise for a MOR table (reads, scoped reads, time travel,
        # deletes, compaction, retention, restore all work).
        if child_store not in ("cow", "mor"):
            raise ValueError(
                f"child_store must be 'cow' or 'mor', got {child_store!r}"
            )
        self.child_store = child_store
        if child_store == "mor":
            if self.bloom_cols:
                raise ValueError(
                    "bloom_cols require copy-on-write children (MOR "
                    "delta logs carry no per-bucket bloom manifests)"
                )
            if self.constraints:
                raise ValueError(
                    "CHECK constraints require copy-on-write children"
                )
        self._chain = commit_log.manifest_log(
            root,
            "global version",
            self._read_manifest,
            commit_log.Rebase(
                self._REBASE_SAFE_OPS,
                self._footprint,
                self._compatible,
                self._overlay,
            ),
        )
        os.makedirs(root, exist_ok=True)
        committed = self.current_version()
        if committed is not None:
            m = self._read_manifest(committed)
            persisted_cs = m.get("child_store", "cow")
            if persisted_cs != child_store:
                raise ValueError(
                    f"partitioned store at {root} was created with "
                    f"child_store={persisted_cs!r}, reopened with "
                    f"{child_store!r}"
                )
            # manifests persist a bare string for single-column stores
            # (older format) and a list for composite keys
            persisted_pc = m["partition_col"]
            persisted_pcols = (
                [persisted_pc]
                if isinstance(persisted_pc, str)
                else list(persisted_pc)
            )
            mismatches = {
                field: (got, have)
                for field, got, have in (
                    ("keys", list(self.keys), m["keys"]),
                    (
                        "partition_col",
                        list(self.partition_cols),
                        persisted_pcols,
                    ),
                    (
                        "version_cols",
                        list(self.version_cols),
                        m["version_cols"],
                    ),
                    ("num_buckets", self.num_buckets, m["num_buckets"]),
                )
                if have != got
            }
            if mismatches:
                raise ValueError(
                    f"partitioned store at {root} was created with "
                    f"different config: {mismatches} (constructor value, "
                    "manifest value)"
                )
            # constraints are mutable table properties, not config: new
            # names add (validated against each child's snapshot on its
            # first write — the child's deferred add_constraint law);
            # silently REDEFINING a persisted one would weaken the
            # table's invariant, so that raises (the child's own rule)
            persisted = m.get("constraints", {})
            conflicts = {
                n: (self.constraints[n], persisted[n])
                for n in self.constraints
                if n in persisted and persisted[n] != self.constraints[n]
            }
            if conflicts:
                raise ValueError(
                    f"partitioned store at {root} already persists "
                    f"constraints with different expressions: {conflicts} "
                    "(constructor value, manifest value); drop the "
                    "constraint or change it via add_constraint"
                )
            self.constraints = {**persisted, **self.constraints}

    # -- global pointer / manifest (the child's commit protocol, reused:
    # both chains are commit_log.manifest_log) --------------------------

    def current_version(self) -> int | None:
        return self._chain.head()

    def _manifest_path(self, version: int) -> str:
        return self._chain.path(version)

    def _read_manifest(self, version: int) -> dict:
        try:
            # same immutable-manifest cache as the child store: global
            # manifests carry per-partition stats + bloom rollups (tens
            # of KB per partition) and _parts re-reads them on every
            # operation — parse once per (path, stat signature)
            return _load_manifest(self._manifest_path(version))
        except FileNotFoundError:
            cur = self.current_version()
            raise ValueError(
                f"global version {version} does not exist in {self.root} "
                f"(committed pointer: {cur}): never committed, or removed "
                "by vacuum(keep_last=...)"
            ) from None

    def _commit(
        self,
        version: int,
        parts: dict[str, int],
        operation: str,
        op_params: dict | None = None,
        columns: list[str] | None = None,
        column_types: dict[str, str] | None = None,
    ) -> int:
        # table-level schema record (name order + simpleString types):
        # the authoritative column set at this global version. After a
        # widening merge routed to a SUBSET of partitions, untouched
        # children keep their narrower physical schemas — readers align
        # every child to THIS set with typed-null backfill, so the
        # table stays readable through a partial evolution. Commits
        # that don't change schema (delete/drop/compact/clone) carry
        # the predecessor's record forward; manifests predating the
        # record derive it from live children on read (legacy stores
        # never evolved at the table level, so the derivation is safe).
        if columns is None and version > 0:
            prev = self._read_manifest(version - 1)
            columns = prev.get("columns")
            column_types = prev.get("column_types")
        manifest = {
            "version": version,
            "keys": list(self.keys),
            # bare string for a single column (original format), list
            # for composite keys
            "partition_col": (
                self.partition_cols[0]
                if len(self.partition_cols) == 1
                else list(self.partition_cols)
            ),
            "version_cols": list(self.version_cols),
            "num_buckets": self.num_buckets,
            # partition value -> committed CHILD version at this table
            # version (the whole point: readers pin children through us)
            "partitions": dict(parts),
            "operation": operation,
            "op_params": op_params or {},
            "constraints": self.constraints,
            "child_store": self.child_store,
            "committed_at": __import__("time").time(),
        }
        if columns is not None:
            manifest["columns"] = list(columns)
            manifest["column_types"] = dict(column_types or {})
        # a successful rebase lands at a HIGHER version — the caller
        # must return THAT number, not its stale pre-race target
        return self._chain.commit(version, manifest)

    # rebase-safe table commits: effects confined to their touched
    # partitions. restore re-pins the whole table; clone is v0-only.
    _REBASE_SAFE_OPS = frozenset(
        {"merge", "delete_where", "drop_partition", "compact"}
    )

    @staticmethod
    def _footprint(older: dict, newer: dict) -> set:
        """Partition values whose entry differs between two global
        manifests — the commit's footprint (a drop shows as present →
        absent, a re-create as a new epoch dir)."""
        a, b = older.get("partitions", {}), newer.get("partitions", {})
        return {p for p in set(a) | set(b) if a.get(p) != b.get(p)}

    @staticmethod
    def _compatible(head: dict, ours: dict) -> bool:
        """No schema or constraint change underneath a rebasing commit."""
        return (
            head["num_buckets"] == ours["num_buckets"]
            and head.get("columns") == ours.get("columns")
            and head.get("column_types") == ours.get("column_types")
            and head.get("constraints", {}) == ours["constraints"]
        )

    @staticmethod
    def _overlay(head: dict, ours: dict, footprint: set) -> dict:
        """A rebasing commit's partition entries overlaid on the head's
        map; a partition it dropped is in the footprint but absent from
        its map, so it stays dropped."""
        held = head.get("partitions", {})
        theirs = {p: e for p, e in held.items() if p not in footprint}
        mine = {p: e for p, e in ours["partitions"].items() if p in footprint}
        return {"partitions": {**theirs, **mine}}

    def _parts(self, version: int | None = None) -> dict[str, dict]:
        """{partition value: {"dir": child dir name, "version": child
        version}} at a global version. The DIR is part of the pin: a
        partition dropped and later re-created gets a fresh epoch dir
        (``p=<val>@N``), so the old rows can never resurrect through
        the new entry while time travel still resolves the old dir."""
        v = self.current_version() if version is None else version
        if v is None:
            raise ValueError(f"empty partitioned store: {self.root}")
        return {
            k: dict(e)
            for k, e in self._read_manifest(v)["partitions"].items()
        }

    def _columns_at(self, version: int) -> list[str]:
        """Authoritative table column order at a global version.

        Recorded in the manifest from the evolution-aware merge path;
        a manifest predating the record derives it as the first-seen
        union over the live children's own manifests (metadata-only —
        legacy stores never evolved at the table level, so every child
        agrees and the union is exact, not a guess)."""
        m = self._read_manifest(version)
        cols = m.get("columns")
        if cols:
            return list(cols)
        out: list[str] = []
        for pval in sorted(m["partitions"]):
            e = m["partitions"][pval]
            ccols = self._child(e["dir"])._read_manifest(
                int(e["version"])
            )["columns"]
            out.extend(c for c in ccols if c not in out)
        return out

    def _column_types_at(self, version: int) -> dict[str, str]:
        """{column: Spark simpleString type} recorded at a version (may
        be empty for legacy manifests — see :meth:`_columns_at`)."""
        return dict(self._read_manifest(version).get("column_types", {}))

    def _aligned_union(
        self,
        spark: SparkSession,
        dfs: list[DataFrame],
        version: int,
        extra_cols: tuple[str, ...] = (),
    ) -> DataFrame:
        """Union frames by name, aligned to the TABLE schema at
        ``version`` with TYPED null backfill — the child store's
        ``_read_aligned`` law one level up.

        Its callers are CDC, whose result unions at most four frames
        (the dropped and the created snapshots, the log law and the
        snapshot law, each already one plan over its children) across
        the two endpoints' schemas, and the typed empty frame. Columns
        missing from SOME frames take their type from the frames that
        have them (Spark's allowMissingColumns); columns missing from
        EVERY frame backfill from the manifest's recorded type — never
        an untyped NullType, which the parquet writer would reject
        downstream."""
        out = functools.reduce(
            lambda x, y: x.unionByName(y, allowMissingColumns=True), dfs
        )
        cols = self._columns_at(version) + list(extra_cols)
        missing = [c for c in cols if c not in out.columns]
        if not missing:
            return out.select(*cols)
        types = self._column_types_at(version)
        untyped = [c for c in missing if c not in types]
        if untyped:
            # legacy manifest without a type record: probe live
            # children's manifests for one that carries the column
            # (JSON reads + one lazy schema resolution — footer work)
            parts = self._parts(version)
            for pval in sorted(parts):
                e = parts[pval]
                child = self._child(e["dir"])
                ccols = child._read_manifest(int(e["version"]))["columns"]
                have = [c for c in untyped if c in ccols]
                if have:
                    sch = child.read(spark, version=int(e["version"])).schema
                    for f in sch.fields:
                        if f.name in have:
                            types[f.name] = f.dataType.simpleString()
                    untyped = [c for c in untyped if c not in types]
                if not untyped:
                    break
        if untyped:
            raise ValueError(
                f"cannot type null backfill for column(s) {untyped}: "
                "no manifest type record and no live child carries them"
            )
        return out.select(
            *[
                F.col(c)
                if c in out.columns
                else F.lit(None).cast(types[c]).alias(c)
                for c in cols
            ]
        )

    def _require_cow(self, op: str) -> None:
        """Gate for the surfaces still composed from COW children's
        per-bucket manifests (CHECK constraints, footer counts). NOT
        in this set anymore: ``changes_between`` and ``files_read``
        (round 13 — MOR CDC derives from the children's delta logs),
        and ``shallow_clone``/``wap_branch``/``wap_publish`` (round 14
        — MOR children clone as base-shallow-clone + copied live
        deltas, so an MOR table sits behind the same audit gate)."""
        if self.child_store != "cow":
            raise ValueError(
                f"{op} requires copy-on-write children "
                "(child_store='cow'): MOR children carry no per-bucket "
                "manifests/stored feeds/clones to compose it from"
            )

    def _child(self, dirname: str):
        if self.child_store == "mor":
            from parquet_demo_spark.sources.mor_store import (
                MergeOnReadStore,
            )

            return MergeOnReadStore(
                os.path.join(self.root, dirname),
                keys=self.keys,
                version_cols=self.version_cols,
                num_buckets=self.num_buckets,
            )
        return ParquetMergeStore(
            os.path.join(self.root, dirname),
            keys=self.keys,
            version_cols=self.version_cols,
            num_buckets=self.num_buckets,
            bloom_cols=self.bloom_cols,
            constraints=self.constraints,
        )

    def _pinned_child(self, entry: dict) -> ParquetMergeStore:
        """Open a child store FOR WRITING, fenced to the globally pinned
        version.

        A writer that crashed (or lost the global pointer CAS) after
        committing child versions leaves the child's HEAD ahead of the
        pin; those versions belong to an aborted global transaction and
        must not fold into the next successful commit. Building on the
        child's HEAD would do exactly that — so when HEAD != pin, the
        child is first RESTOREd to the pinned snapshot (the child's
        metadata-only re-commit; the aborted versions stay on disk for
        the child's own vacuum) and the new write builds on that. The
        same guard compact() always had, now on every write path.
        """
        child = self._child(entry["dir"])
        head = child.current_version()
        pinned = int(entry["version"])
        if head != pinned:
            if head is None or head < pinned:
                raise ValueError(
                    f"child store {entry['dir']} is at v{head}, BEHIND "
                    f"the global pin v{pinned}: the partition directory "
                    "was truncated or replaced out-of-band; refusing to "
                    "write through it"
                )
            child.restore(pinned)
        return child

    @staticmethod
    def _child_stats_rollup(
        child: ParquetMergeStore, child_version: int
    ) -> dict[str, list]:
        """Per-column [min, max] over ALL the child's buckets at a
        version — the Iceberg manifest-list rollup, derived purely from
        the child's own manifest (no file I/O, no Spark job).

        A column gets a partition-level bound only when EVERY bucket
        recorded stats for it; otherwise some bucket's contents are
        unbounded and the honest answer is "can't prune". Readers use
        these to skip whole child directories on non-partition
        predicates (e.g. a user_id point lookup touching 3 of 400
        dates) before any child manifest — let alone data file — is
        opened.
        """
        m = child._read_manifest(child_version)
        stats = {int(k): v for k, v in m.get("stats", {}).items()}
        buckets = [int(k) for k in m["bucket_paths"]]
        if not buckets:
            return {}
        common = set(stats.get(buckets[0], {}))
        for b in buckets[1:]:
            common &= set(stats.get(b, {}))
        return {
            c: [
                min(stats[b][c][0] for b in buckets),
                max(stats[b][c][1] for b in buckets),
            ]
            for c in sorted(common)
        }

    @staticmethod
    def _child_blooms_rollup(
        child: ParquetMergeStore, child_version: int
    ) -> dict[str, dict]:
        """Per-column partition-level bloom = bitwise OR of the child's
        bucket blooms at a version (VERDICT r8 #7) — derived purely
        from the child's manifest, no file I/O.

        Only columns every bucket recorded a bloom for (uniform m/k —
        guaranteed since the fixed-m sizing; mixed legacy sizes skip)
        get a rollup; absence means "can't prune". Readers consult
        these on point lookups to skip whole child stores WITHOUT
        opening their manifests — previously q164's lookup pruned
        children by min/max only (useless for hash-scattered keys) and
        paid one child-manifest read per surviving partition just to
        reach the bucket blooms.
        """
        from parquet_demo_spark.sources.merge_store import _bloom_or

        m = child._read_manifest(child_version)
        blooms = {int(k): v for k, v in m.get("blooms", {}).items()}
        buckets = [int(k) for k in m["bucket_paths"]]
        if not buckets or not blooms:
            return {}
        common = set(blooms.get(buckets[0], {}))
        for b in buckets[1:]:
            common &= set(blooms.get(b, {}))
        out = {}
        for c in sorted(common):
            u = _bloom_or([blooms[b][c] for b in buckets])
            if u is not None:
                out[c] = u
        return out

    def _next_epoch_dir(self, pval: str) -> str:
        """Child dir for a partition value with no LIVE entry: the bare
        ``p=<val>`` if never used, else the next ``p=<val>@N`` epoch
        (the bare/previous dirs belong to dropped history)."""
        base = f"p={pval}"
        if not os.path.exists(os.path.join(self.root, base)):
            return base
        n = 1
        while os.path.exists(os.path.join(self.root, f"{base}@{n}")):
            n += 1
        return f"{base}@{n}"

    def partitions(self, version: int | None = None) -> list[str]:
        """Live partition values at a version (manifest-only)."""
        return sorted(self._parts(version))

    def version_at(self, timestamp: float) -> int:
        """Newest global version committed at or before ``timestamp``
        (epoch seconds) — Delta's timestampAsOf, at the table level."""
        return self._chain.version_at(timestamp)

    def describe_history(self) -> list[dict]:
        """Commit log of the committed global versions, oldest first —
        operation, parameters, wall-clock commit time, partition count
        (the child's DESCRIBE HISTORY, one level up)."""
        return self._chain.describe(
            lambda m: {"n_partitions": len(m.get("partitions", {}))},
        )

    # -- write side -------------------------------------------------------

    # the parent-level scope: one size decision for the whole multi-
    # child operation (children's nested scopes just ride along) — see
    # tuning.py
    @scoped_store_op("upserts")
    def merge(
        self,
        upserts: DataFrame,
        write_change_feed: bool = False,
        conditional: bool = False,
        allow_schema_evolution: bool = False,
    ) -> int:
        """Route the batch to its partitions' child stores, then commit
        one global version pinning every child.

        Only TOUCHED partitions' children advance (and inside each, only
        touched buckets rewrite — the child's law); untouched partitions
        re-reference their committed child versions.

        ``conditional=True`` forwards the child's only-if-newer merge,
        which makes streaming ingest through ``stream_merge_into_store``
        order-independent and redelivery-idempotent per partition — the
        q135 exactly-once recipe, now date-partitioned.

        Copy-on-write children: touched partitions write CONCURRENTLY
        (``write_concurrency`` threads; each child is an independent
        directory + commit, so a backfill touching P partitions pays
        ~P/threads Spark-job rounds, not P).

        Merge-on-read children stage once and adopt per child: the
        whole batch, collapsed last-write-wins with ``__op = 'u'``, is
        written in ONE Spark job, one dir per partition value, into a
        staging dir under the table root (:meth:`_stage`: collected to
        the driver and written by pyarrow when this merge's small-plan
        scope pinned, else a ``partitionBy`` Spark write); each staged
        dir is renamed into its child's ``deltas/`` and adopted with a
        metadata-only log-entry commit. The staged write IS the
        routing: its partition values name the touched partitions,
        carry the NULL guard and make an empty batch a no-op, so a
        merge is one job at any number of touched partitions. Every
        touched child is fenced to the global pin and checks the batch
        against its schema record after the write is staged and before
        any child adopts.

        Copy-on-write children route with one distinct collect of
        (partition value, bucket) pairs: each child's merge needs its
        touched buckets. Routing and the staged partition dirs derive
        from the SAME Spark-side ``cast('string')`` expression, so a
        partition value whose Python ``str()`` rendering differs from
        Spark's (doubles, fractional timestamps) can never route to a
        slice that matches nothing.
        """
        lacking = [
            c for c in self.partition_cols if c not in upserts.columns
        ]
        if lacking:
            raise ValueError(f"batch lacks partition column(s) {lacking}")
        if self.child_store == "mor" and (
            conditional or allow_schema_evolution
        ):
            # write_change_feed is NOT in this list anymore (round 14):
            # MOR commits can materialize their feed at commit time
            raise ValueError(
                "conditional/allow_schema_evolution "
                "require copy-on-write children (child_store='cow')"
            )
        # TABLE-level schema law (the child's strict-mode mirror, one
        # level up): a drifting batch must be rejected HERE, not only by
        # the touched children — a widening batch routed exclusively to
        # NEW partitions creates fresh children with the wide schema
        # without any child ever seeing a mismatch, and the next
        # whole-table read dies on the union. With the flag, the global
        # manifest's column set widens (batch-order append) and every
        # read aligns children to it via _aligned_union.
        cur = self.current_version()
        g_cols, g_types = None, None
        if cur is not None:
            g_cols = self._columns_at(cur)
            g_types = self._column_types_at(cur)
            if set(upserts.columns) != set(g_cols):
                if not allow_schema_evolution:
                    raise ValueError(
                        "schema drift: batch columns "
                        f"{sorted(set(upserts.columns) ^ set(g_cols))} "
                        "differ from the table's; pass "
                        "allow_schema_evolution=True for Delta-style "
                        "mergeSchema behavior"
                    )
                g_cols = g_cols + [
                    c for c in upserts.columns if c not in g_cols
                ]
        else:
            g_cols = list(upserts.columns)
            g_types = {}
        got = {
            f.name: f.dataType.simpleString()
            for f in upserts.schema.fields
        }
        # TYPE half of the schema law (round-11 review): evolution adds
        # or drops columns, it never RETYPES one. A retyped batch routed
        # exclusively to a NEW partition would otherwise create a fresh
        # child with the drifted physical type without any child-level
        # check firing — and a later fused whole-table read (one
        # parquet scan across same-named children) dies on the mixed
        # types. Reject at the door, like the MOR store's commit_delta.
        drift = {
            c: (got[c], (g_types or {}).get(c))
            for c in got
            if (g_types or {}).get(c) not in (None, got[c])
        }
        if drift:
            raise ValueError(
                "schema drift: batch column TYPES differ from the "
                f"table's record {drift} (batch type, table type); "
                "schema evolution adds columns, never retypes them"
            )
        g_types = {
            **{c: t for c, t in (g_types or {}).items() if c in g_cols},
            **got,
        }
        # fail-fast CHECK validation of the whole BATCH, before routing:
        # a violating multi-partition backfill must raise before ANY
        # child commits (children re-validate their merged post-state —
        # the full invariant — but by then sibling partitions may have
        # committed; this one agg job keeps the failure atomic)
        self._validate_batch(upserts, "merge batch")
        parts = {} if cur is None else self._parts(cur)
        if self.child_store == "mor":
            from parquet_demo_spark.sources.mongo import collapse_for_upsert
            from parquet_demo_spark.sources.mor_store import _OP

            # the staged write IS the delta write: 'u' ops, collapsed
            # last-write-wins on (__pval, *keys) — the PK collapse, as
            # every partition column is a PK column — so a Spark-written
            # stage's __pval shuffle already satisfies the window: one
            # shuffle
            arrow = arrow_writes(upserts, small_op())
            staged = collapse_for_upsert(
                self._by_pval(upserts.withColumn(_OP, F.lit("u")), arrow),
                ("__pval", *self.keys),
                self.version_cols,
            )
            results = self._stage_and_adopt(
                staged, upserts, parts, write_change_feed, arrow
            )
        else:
            results = self._cow_merge(
                upserts,
                parts,
                write_change_feed=write_change_feed,
                conditional=conditional,
                allow_schema_evolution=allow_schema_evolution,
            )
        if not results:
            # empty batch: no child advanced, so no global version burns
            # (the child store's own no-op law, one level up)
            if cur is None:
                raise ValueError(
                    "cannot merge an empty batch into an empty store"
                )
            return cur
        parts.update(results)
        new_version = 0 if cur is None else cur + 1
        return self._commit(
            new_version,
            parts,
            "merge",
            {"touched_partitions": sorted(results)},
            columns=g_cols,
            column_types=g_types,
        )

    def _by_pval(self, df: DataFrame, arrow: bool) -> DataFrame:
        """``df`` plus its composite partition value ``__pval``, for
        :meth:`_stage` with the same ``arrow``. The Spark writer
        (``arrow`` False) needs the frame shuffled on it, so each
        value's rows sit in one task and its staged dir gets one file;
        the Arrow writer groups on the driver and needs no shuffle.

        Each component renders with Spark's ``cast('string')``, as in
        the copy-on-write routing collect. The value is NULL when any
        component is NULL or holds a NUL character (which Spark would
        write into a dir name unescaped), and :meth:`_stage` rejects
        it."""
        comps = [F.col(c).cast("string") for c in self.partition_cols]
        # concat, unlike concat_ws, is NULL when any input is
        pval_col = F.concat(*[x for c in comps for x in (F.lit(_SEP), c)][1:])
        pval_col = F.when(~pval_col.contains("\0"), pval_col)
        df = df.withColumn("__pval", pval_col)
        return df if arrow else df.repartition(F.col("__pval"))

    @contextlib.contextmanager
    def _staging(self):
        """A fresh staging dir under the table root (the same
        filesystem as every child, so staged dirs rename into place),
        removed on exit whatever happened."""
        staging = tempfile.mkdtemp(dir=self.root, prefix="_staging.")
        try:
            yield staging
        finally:
            shutil.rmtree(staging, ignore_errors=True)

    def _stage(
        self, df: DataFrame, staging: str, arrow: bool
    ) -> dict[str, str]:
        """Write ``df`` (shaped by :meth:`_by_pval` with the same
        ``arrow``) into ``staging`` in ONE Spark job, one dir and one
        file per ``__pval`` value, and return {partition value: its
        staged dir}, one per value that received rows.
        ``arrow`` (:func:`staging.arrow_writes` of the operation's
        :func:`tuning.small_op`) picks the writer
        (:func:`staging.write_staged`): a driver-side ``toArrow``
        collect written by pyarrow, or a ``partitionBy("__pval")``
        Spark write. The values are the routing, so they are validated
        here, before any caller fences or adopts a child: a NULL value
        (a NULL component, or an empty or NUL-bearing value: both stage
        as NULL) raises, and each value's components must be
        ``len(partition_cols)`` values that :func:`_composite`
        accepts."""
        groups = write_staged(df, staging, arrow, by="__pval")
        if None in groups:
            raise ValueError(
                f"NULL in {self.partition_cols} cannot route to a "
                "partition (an empty value, or one holding a NUL "
                "character, stages as NULL too)"
            )
        slices = {}
        n = len(self.partition_cols)
        for pval, d in groups.items():
            comps = pval.split(_SEP) if n > 1 else [pval]
            if len(comps) != n:
                raise ValueError(
                    f"unsupported partition value: {pval!r} has "
                    f"{len(comps)} {_SEP!r}-separated components, not {n}"
                )
            slices[_composite(comps)] = d
        return slices

    def _child_dir(self, parts: dict, pval: str) -> str:
        """The dir a write to ``pval`` goes through: its live entry's,
        else a FRESH epoch dir even if an old child exists on disk
        (dropped history): pinning the old child again would resurrect
        its pre-drop rows."""
        if pval in parts:
            return parts[pval]["dir"]
        return self._next_epoch_dir(pval)

    def _cow_entry(self, dirname: str, child, v: int) -> dict:
        """A copy-on-write child's manifest entry at its version ``v``."""
        return {
            "dir": dirname,
            "version": v,
            "stats": self._child_stats_rollup(child, v),
            "blooms": self._child_blooms_rollup(child, v),
        }

    def _cow_merge(
        self, upserts: DataFrame, parts: dict, **merge_kw
    ) -> dict[str, dict]:
        """Copy-on-write children of a merge. Returns the new manifest
        entry per touched partition ({} for an empty batch).

        ONE distinct job routes partitions AND buckets: the child
        bucket id rides along so each child's merge can skip its own
        touched-bucket distinct-collect — a per-child fixed-cost Spark
        job a W-partition backfill paid W times (VERDICT r11 #1/#7).
        The expression is the child's own bucket_expr, so the sets are
        exact by construction, and the NULL guard rides the same job.

        A single-partition batch (the streaming-ingest common case) IS
        its slice. Otherwise ONE Spark job stages the whole batch
        (VERDICT r7 #1's composite-write design) one dir per partition
        value (:meth:`_stage`), so each child's merge then reads ITS
        one-file slice — a 1-task scan under the batch's own schema, so
        no footer-inference job — instead of re-filtering the full
        batch. Without this, a 50-partition backfill pays 50 x (batch
        partitions) tasks per stage; with it, the batch is scanned
        once."""
        pexprs = [
            F.col(c).cast("string").alias(c) for c in self.partition_cols
        ]
        bexpr = ParquetMergeStore.bucket_expr(self.keys, self.num_buckets)
        routed = [
            tuple(r)
            for r in upserts.select(*pexprs, bexpr.alias("__b"))
            .distinct()
            .collect()
        ]
        if any(None in row[:-1] for row in routed):
            raise ValueError(
                f"NULL in {self.partition_cols} cannot route to a partition"
            )
        touched: dict[str, set[int]] = {}
        for row in routed:
            touched.setdefault(_composite(row[:-1]), set()).add(int(row[-1]))
        pvals = sorted(touched)
        if not pvals:
            return {}
        # dir assignment stays serial (cheap, and epoch probing must not
        # race itself)
        dirnames = {p: self._child_dir(parts, p) for p in pvals}
        spark = upserts.sparkSession

        def _open(pval: str):
            return (
                self._pinned_child(parts[pval])
                if pval in parts
                else self._child(dirnames[pval])
            )

        if len(pvals) == 1:
            [only] = pvals
            child = _open(only)
            pend = child._merge_prepare(
                upserts, touched=sorted(touched[only]), **merge_kw
            )
            v = child._merge_commit(
                pend, child._out_dir_blooms(spark, pend["out_dir"])
            )
            return {only: self._cow_entry(dirnames[only], child, v)}
        with self._staging() as staging:
            arrow = arrow_writes(upserts, small_op())
            slices = self._stage(
                self._by_pval(upserts, arrow), staging, arrow
            )
            if sorted(slices) != pvals:
                raise ValueError(
                    f"staged partitions {sorted(slices)} differ from the "
                    f"routed set {pvals} — partition-value rendering "
                    "drifted"
                )

            def _prepare_one(pval: str):
                child = _open(pval)
                pend = child._merge_prepare(
                    spark.read.schema(upserts.schema).parquet(slices[pval]),
                    touched=sorted(touched[pval]),
                    **merge_kw,
                )
                return child, pend

            # prepare ALL children first (data writes fan out across
            # the pool), then build EVERY child's touched-bucket blooms
            # in ONE Spark job over the just-written output dirs, then
            # commit — the per-child `_out_dir_blooms` job was a FIXED
            # ~0.3–1 s cost paid once per child commit, which a W-week
            # backfill paid W times (VERDICT r11 #1, the q164 2.9×
            # regression). A failure before the commit loop leaves only
            # unreferenced data dirs (child vacuum reclaims them); a
            # child that commits before a sibling fails leaves its
            # versions ABOVE this table's pin — invisible to readers,
            # restored-over by the next write through _pinned_child —
            # so propagating the first error is crash-consistent either
            # way.
            with op_pool(
                spark, min(self.write_concurrency, len(pvals))
            ) as pool:
                futs = {p: pool.submit(_prepare_one, p) for p in pvals}
                prepared = {p: f.result() for p, f in futs.items()}
            new_blooms = (
                ParquetMergeStore._out_dirs_blooms(
                    spark,
                    {
                        p: pend["out_dir"]
                        for p, (_, pend) in prepared.items()
                    },
                    self.bloom_cols,
                )
                if self.bloom_cols
                else {}
            )

            def _commit_one(pval: str) -> dict:
                child, pend = prepared[pval]
                v = child._merge_commit(pend, new_blooms.get(pval, {}))
                return self._cow_entry(dirnames[pval], child, v)

            # commits are metadata-only (manifest write + footer-stat
            # walk); the pool still helps when W is large
            with op_pool(
                spark, min(self.write_concurrency, len(pvals))
            ) as pool:
                futs = {p: pool.submit(_commit_one, p) for p in pvals}
                return {p: f.result() for p, f in futs.items()}

    def _stage_and_adopt(
        self,
        staged: DataFrame,
        batch: DataFrame,
        parts: dict,
        write_change_feed: bool,
        arrow: bool,
    ) -> dict[str, dict]:
        """The merge-on-read stage-and-adopt law. ONE Spark job writes
        ``staged`` (collapsed rows of ``batch`` with ``__op``, shaped
        by :meth:`_by_pval` with the same ``arrow``) into a staging
        dir, by the writer ``arrow`` picks (:meth:`_stage`), and its
        validated partition values pick the children: each staged dir
        is one child's whole delta. Every such child is then fenced to
        the global pin (``_pinned_child``) and checks ``batch`` against
        its delta schema record; only when all pass is each dir renamed
        into its child's ``deltas/`` under a fresh unique name (same
        filesystem, so the rename is atomic) and adopted with a
        metadata-only log-entry commit. A batch with no rows stages no
        dir and adopts nothing.

        Crash law: a staged or renamed dir is invisible until a child
        log entry references it (the child's vacuum reclaims an
        unadopted one); a failure before the caller's global commit
        leaves child entries above the pin, which ``_pinned_child``
        restores over on the next write; the staging dir is removed
        either way. Returns the new manifest entry per adopted
        partition."""
        with self._staging() as staging:
            slices = self._stage(staged, staging, arrow)
            dirs = {p: self._child_dir(parts, p) for p in slices}
            # live children first: a fresh child's dir is created only
            # once no fence or schema check is left to fail
            children = {
                p: self._pinned_child(parts[p]) for p in slices if p in parts
            }
            records = {p: c._delta_schema(batch) for p, c in children.items()}
            for p in sorted(set(slices) - set(children)):
                children[p] = self._child(dirs[p])
                records[p] = children[p]._delta_schema(batch)
            out = {}
            for pval in sorted(slices):
                child = children[pval]
                d = child._new_delta_dir()
                os.rename(slices[pval], d)
                state = child._append_delta(
                    batch.sparkSession, d, records[pval], write_change_feed
                )
                out[pval] = {
                    "dir": dirs[pval],
                    "version": state["entry"],
                    "stats": {},
                    "blooms": {},
                }
            return out

    @scoped_store_op(None, "spark")
    def delete_where(
        self,
        spark: SparkSession,
        condition,
        partitions: tuple | dict | None = None,
        write_change_feed: bool = False,
        deletion_vectors: bool = False,
    ) -> int:
        """DELETE WHERE, pruned to a partition range first.

        ``partitions=(lo, hi)`` (closed, on the stringified value —
        ISO dates sort correctly) restricts which CHILD STORES even run
        the delete. A delete scoped to one day of a 100 TB table opens
        one partition directory.

        Copy-on-write children run the child's two-phase bucket-pruned
        delete, CONCURRENTLY (``write_concurrency`` threads).
        Merge-on-read children tombstone the matching rows' PKs as
        ``__op = 'd'`` deltas — O(matching) appended, no bucket rewrite
        at any child size; the next compact materializes them. One
        fused read of the scoped table at the current version, filtered
        by ``condition``, is staged and adopted per child like a merge
        (see :meth:`merge`): ONE Spark job, and the staged dirs that
        exist are exactly the children that matched.
        """
        if self.child_store == "mor" and deletion_vectors:
            # write_change_feed is allowed since round 14 (the MOR
            # commit materializes its feed); DVs stay COW machinery
            raise ValueError(
                "deletion_vectors require copy-on-write children (a "
                "MOR delete IS already a soft tombstone in the delta "
                "log)"
            )
        cur = self.current_version()
        parts = self._parts(cur)
        in_scope = self._select(parts, partitions)
        touched = []
        if in_scope and self.child_store == "mor":
            from parquet_demo_spark.sources.mor_store import _OP

            matching = self.read(
                spark, version=cur, partitions=partitions
            ).filter(condition)
            arrow = arrow_writes(matching, small_op())
            results = self._stage_and_adopt(
                self._by_pval(matching.withColumn(_OP, F.lit("d")), arrow),
                matching,
                parts,
                write_change_feed,
                arrow,
            )
            parts.update(results)
            touched = sorted(results)
        elif in_scope:

            def _delete_one(pval: str) -> dict | None:
                child = self._pinned_child(parts[pval])
                v = child.delete(
                    spark,
                    condition,
                    write_change_feed=write_change_feed,
                    deletion_vectors=deletion_vectors,
                )
                if v is None:  # no match, no child commit burned
                    return None
                return self._cow_entry(parts[pval]["dir"], child, v)

            with op_pool(
                spark, min(self.write_concurrency, len(in_scope))
            ) as pool:
                futs = {p: pool.submit(_delete_one, p) for p in in_scope}
                for pval in in_scope:
                    entry = futs[pval].result()
                    if entry is not None:
                        parts[pval] = entry
                        touched.append(pval)
        if not touched:
            # nothing matched anywhere: mirror the child's no-op law
            return cur
        new_version = cur + 1
        return self._commit(
            new_version,
            parts,
            "delete_where",
            {
                "partitions": (
                    {c: list(r) for c, r in partitions.items()}
                    if isinstance(partitions, dict)
                    else list(partitions or ())
                ),
                "touched": touched,
            },
        )

    def drop_partition(self, pval) -> int:
        """Metadata-only retention: commit a global version WITHOUT the
        partition. No data file is touched — the drop is one manifest
        write + pointer swap, O(1) regardless of partition size; the
        dropped child's files stay on disk (time travel to older global
        versions still sees them) until :meth:`vacuum`. Multi-column
        stores pass the value tuple (or the composite string).
        """
        pval = (
            _composite(pval)
            if isinstance(pval, (tuple, list))
            else _pdir(pval)
        )
        cur = self.current_version()
        parts = self._parts(cur)
        if pval not in parts:
            raise ValueError(f"no live partition {pval!r}")
        dropped_child_version = parts.pop(pval)
        new_version = cur + 1
        return self._commit(
            new_version,
            parts,
            "drop_partition",
            {"partition": pval, "child_version": dropped_child_version},
        )

    def _validate_batch(self, df: DataFrame, context: str) -> None:
        """One aggregate over ``df``: per-constraint violation counts
        (SQL CHECK null semantics — a NULL predicate is satisfied)."""
        if not self.constraints:
            return
        aggs = [
            F.sum(
                F.when(
                    ~F.coalesce(F.expr(e).cast("boolean"), F.lit(True)), 1
                ).otherwise(0)
            ).alias(n)
            for n, e in self.constraints.items()
        ]
        row = df.agg(*aggs).first()
        bad = {n: row[n] for n in self.constraints if row[n]}
        if bad:
            raise ValueError(
                f"CHECK constraint violation in {context}: "
                f"{bad} (constraint -> violating rows); "
                f"expressions: { {n: self.constraints[n] for n in bad} }"
            )

    def add_constraint(
        self, spark: SparkSession, name: str, expr: str
    ) -> None:
        """Register a table-level CHECK constraint (SQL boolean over
        table columns) — the child's add_constraint law, one level up.

        The EXISTING table snapshot (all live partitions) is validated
        first; a constraint the current data violates raises and
        registers nothing. The constraint reaches the global manifest
        at the next commit and every child's manifest on its next
        write (children receive it through construction), so both
        levels carry the invariant independently.
        """
        self._require_cow("add_constraint")
        if not name.isidentifier():
            raise ValueError(
                f"constraint name must be an identifier: {name}"
            )
        probe = {name: expr}
        if self.current_version() is not None and self._parts(
            self.current_version()
        ):
            saved, self.constraints = self.constraints, probe
            try:
                self._validate_batch(
                    self.read(spark), f"add_constraint({name})"
                )
            finally:
                self.constraints = saved
        self.constraints = {**self.constraints, **probe}

    def restore(self, target_version: int) -> int:
        """Delta-style RESTORE at the TABLE level: re-commit an earlier
        global version's state as a NEW commit. Metadata-only — the new
        manifest re-pins exactly the target's {partition: (dir, child
        version, stats)} entries, so dropped partitions reappear and
        later merges/deletes across ANY number of partitions are undone
        in one manifest write + pointer swap, no data file touched (the
        child's own restore law, one level up; reverting a bad backfill
        on a 100 TB table costs O(1)).

        History is preserved: the rolled-back global versions stay
        time-travelable until :meth:`vacuum`, and
        ``changes_between(bad, restored)`` shows consumers the net
        revert as ordinary signed row diffs. A child whose HEAD sits
        ahead of a re-pinned (lower) version needs no rewrite here —
        the next write through ``_pinned_child`` restores it to the pin
        before building on it, exactly as for a crashed writer.

        No-op (returns the current version, burns nothing) when the
        target IS the head. Raises — before any commit — if the target
        manifest, a pinned child dir, or a pinned child-version
        manifest was removed by vacuum.
        """
        cur = self.current_version()
        if cur is None:
            raise ValueError(
                f"cannot restore an empty partitioned store: {self.root}"
            )
        target_version = int(target_version)
        if target_version == cur:
            return cur
        if not (0 <= target_version < cur):
            raise ValueError(
                f"cannot restore to v{target_version}: committed "
                f"versions are 0..{cur}"
            )
        parts = self._parts(target_version)  # raises if vacuumed
        for pval, e in sorted(parts.items()):
            cdir = os.path.join(self.root, e["dir"])
            if not os.path.isdir(cdir):
                raise ValueError(
                    f"cannot restore to v{target_version}: child dir "
                    f"{e['dir']} (partition {pval!r}) was removed by "
                    "vacuum"
                )
            # a child's pin is a slot of its commit log: a COW child's
            # manifest, a MOR child's log entry
            child = self._child(e["dir"])
            if not os.path.exists(child._chain.path(int(e["version"]))):
                raise ValueError(
                    f"cannot restore to v{target_version}: child "
                    f"{e['dir']} no longer has v{e['version']} "
                    "(vacuumed inside the child)"
                )
        new_version = cur + 1
        # the restored commit's schema is the TARGET's, not the head's:
        # a restore across an evolution boundary re-pins pre-evolution
        # children, and carrying the head's wider record forward would
        # demand typed backfill of columns the snapshot never had
        tm = self._read_manifest(target_version)
        # a legacy (pre-record) target manifest has no columns entry;
        # passing None would let _commit carry the HEAD's wider record
        # forward — exactly what restore must avoid. Derive the
        # target-era schema from the pinned children instead (ADVICE
        # r9: legacy stores never evolved, so the union is exact).
        return self._commit(
            new_version,
            parts,
            "restore",
            {"to_version": target_version},
            columns=tm.get("columns") or self._columns_at(target_version),
            column_types=tm.get("column_types"),
        )

    def shallow_clone(
        self, dst_root: str
    ) -> "PartitionedParquetMergeStore":
        """Zero-copy TABLE clone (Delta SHALLOW CLONE over a partitioned
        table): a new partitioned store whose v0 manifest pins, for
        every live partition, a child that is itself a shallow clone of
        the source child AT ITS GLOBALLY PINNED version — absolute-path
        references, no data moved, cost O(partitions x metadata)
        regardless of table size.

        Cloning the PIN (not the child HEAD) matters: a crashed writer
        can leave child versions above the global pin, and a clone of
        the head would leak that aborted transaction's rows into the
        new table — the same fencing rule ``_pinned_child`` applies to
        writes. The clone is independently writable (copy-on-write
        inside each child; fresh global manifest chain) and carries the
        rolled-up partition stats unchanged, since it pins identical
        data. Vacuum on the SOURCE can strand a clone's references
        (Delta's caveat); vacuum on the clone never crosses into the
        source.
        """
        cur = self.current_version()
        if cur is None:
            raise ValueError(
                f"cannot clone an empty partitioned store: {self.root}"
            )
        parts = self._parts(cur)
        clone = PartitionedParquetMergeStore(
            dst_root,
            keys=self.keys,
            partition_col=(
                self.partition_cols[0]
                if len(self.partition_cols) == 1
                else self.partition_cols
            ),
            version_cols=self.version_cols,
            num_buckets=self.num_buckets,
            bloom_cols=self.bloom_cols,
            write_concurrency=self.write_concurrency,
            # the clone is the same table, child strategy included: an
            # MOR table's clone gets MOR children (each child clone =
            # base shallow clone + copied live deltas) — round-14
            # VERDICT #2, the table-WAP-on-MOR enabler
            child_store=self.child_store,
        )
        if clone.current_version() is not None:
            raise ValueError(f"clone target not empty: {dst_root}")
        # a clone is the same table: it carries the CHECK constraints
        # (the child clones already carry theirs from their manifests)
        clone.constraints = dict(self.constraints)
        new_parts = {}
        for pval, e in sorted(parts.items()):
            self._child(e["dir"]).shallow_clone(
                os.path.join(dst_root, e["dir"]),
                version=int(e["version"]),
            )
            new_parts[pval] = {
                "dir": e["dir"],
                "version": 0,
                "stats": dict(e.get("stats", {})),
                "blooms": dict(e.get("blooms", {})),
            }
        m = self._read_manifest(cur)
        clone._commit(
            0,
            new_parts,
            "clone",
            {"source": self.root, "source_version": cur},
            # the clone is the same table: inherit the schema record so
            # reads over the cloned (possibly mixed-schema) children
            # align exactly as on the source
            columns=m.get("columns"),
            column_types=m.get("column_types"),
        )
        return clone

    # -- write-audit-publish (Iceberg WAP, a public design) ---------------

    _BRANCHES = "_branches"

    def wap_branch(self, name: str) -> "PartitionedParquetMergeStore":
        """Open a TABLE-level audit branch (VERDICT r11 #3): a global
        shallow clone under ``<root>/_branches/<name>`` pinned to the
        current committed table version. The pipeline merges its
        candidate batch into the branch (each touched child copies on
        write into the BRANCH's child dirs — production is never
        touched, across any number of partitions), the audit reads the
        branch, and :meth:`wap_publish` adopts the audited snapshot as
        one production commit. ``_branches/`` sits outside the table
        vacuum's sweep patterns (``p=*`` / ``v*``), so production
        vacuum never collects an open branch.
        """
        import re

        if (
            not re.fullmatch(r"[A-Za-z0-9._-]+", str(name))
            or ".." in str(name)
            or str(name) == "."
        ):
            # the name is joined into a path and wap_abandon later
            # rmtree's the branch root — a separator or '..' would
            # escape _branches/, and '.' IS _branches/ (the child
            # store's same law)
            raise ValueError(
                f"invalid branch name {name!r}: use letters, digits, "
                "'.', '_', '-' only"
            )
        dst = os.path.join(self.root, self._BRANCHES, str(name))
        if os.path.exists(dst):
            raise ValueError(
                f"branch {name!r} already exists at {dst}: publish or "
                "abandon it first (wap_publish / wap_abandon)"
            )
        return self.shallow_clone(dst)

    def _branch_base(
        self, branch: "PartitionedParquetMergeStore"
    ) -> int:
        """Validate ``branch`` is an audit branch of THIS table and
        return the pinned base global version."""
        try:
            v0 = branch._read_manifest(0)
        except ValueError:
            raise ValueError(
                f"{branch.root} has no v0 manifest — not a branch"
            ) from None
        params = v0.get("op_params", {})
        if (
            v0.get("operation") != "clone"
            or params.get("source") != self.root
        ):
            raise ValueError(
                f"{branch.root} is not a branch of {self.root} "
                f"(v0 operation={v0.get('operation')!r}, "
                f"source={params.get('source')!r})"
            )
        return int(params["source_version"])

    def wap_publish(
        self, branch: "PartitionedParquetMergeStore"
    ) -> int:
        """PUBLISH leg of table-level write-audit-publish: adopt the
        branch's audited head as the next committed TABLE version.

        Metadata-only, two steps: each branch-TOUCHED child directory
        (child version advanced, or a partition new on the branch) is
        ``os.rename``d out of ``_branches/`` into a fresh production
        epoch dir (``_next_epoch_dir`` — one rename syscall per
        touched partition, no data movement), then ONE global commit
        pins the moved children at their audited versions alongside
        the untouched partitions' unchanged production entries. The
        EXACT files the audit read become the published snapshot.
        Partitions dropped on the branch are absent from the commit
        (the drop publishes too).

        Like the child store's publish, this is intentionally NOT
        rebase-safe: a production commit past the branch base (or a
        lost pointer CAS — the commit re-checks) raises
        :class:`ConcurrentWriteConflict`; on the CAS race the renames
        are rolled back so the branch survives to re-audit. A crash
        INSIDE the rename window leaves production readers untouched
        (the head still pins the old entries) but consumes the branch:
        ``wap_abandon`` the remains, ``vacuum`` (orphan ``p=*@N`` dirs
        are unreferenced), re-branch, re-audit.

        A published (moved) child still holds clone-v0 ABSOLUTE refs
        into the pre-publish production child's data dirs for buckets
        the branch never rewrote — the table :meth:`vacuum` is
        reference-aware for exactly this (a pinned child's refs keep
        the referenced sibling dirs live), and successive rewrites
        internalize the refs over the child's normal lifecycle. After
        a successful publish the branch directory is REMOVED — the
        fast-forward consumes it; there is no published-branch
        abandon dance (unlike the child store, nothing in production
        references ``_branches/`` after publish).
        """
        import shutil

        base = self._branch_base(branch)
        bcur = branch.current_version()
        if bcur is None or bcur == 0:
            raise ValueError(
                f"branch {branch.root} has no audited commits beyond "
                "its base — nothing to publish"
            )
        bm = branch._read_manifest(bcur)
        bpcols = bm.get("partition_col")
        bpcols = (
            (bpcols,) if isinstance(bpcols, str) else tuple(bpcols or ())
        )
        if (
            tuple(bm["keys"]) != tuple(self.keys)
            or tuple(bm["version_cols"]) != tuple(self.version_cols)
            or int(bm["num_buckets"]) != int(self.num_buckets)
            or bpcols != tuple(self.partition_cols)
        ):
            raise ValueError(
                "branch table definition diverged (keys/version_cols/"
                "num_buckets/partition_col) — it cannot fast-forward "
                "into the production routing"
            )
        cur = self.current_version()
        if cur != base:
            raise ConcurrentWriteConflict(
                f"cannot publish branch {branch.root}: production head "
                f"moved from the branch base v{base} to v{cur} — "
                "re-branch from the new head and re-audit"
            )
        bparts = branch._parts(bcur)
        base_parts = self._parts(base)
        new_parts: dict[str, dict] = {}
        renames: list[tuple[str, str]] = []
        moved: list[str] = []
        for pval, be in sorted(bparts.items()):
            bv = int(be["version"])
            basee = base_parts.get(pval)
            if basee is not None and bv == 0 and be["dir"] == basee["dir"]:
                # untouched on the branch: the clone's v0 pins the
                # SAME snapshot the base entry does — re-pin the
                # production entry directly, no branch indirection
                new_parts[pval] = dict(basee)
                continue
            newdir = self._next_epoch_dir(pval)
            src = os.path.join(branch.root, be["dir"])
            dst = os.path.join(self.root, newdir)
            os.rename(src, dst)
            renames.append((src, dst))
            moved.append(pval)
            new_parts[pval] = {
                "dir": newdir,
                "version": bv,
                "stats": dict(be.get("stats", {})),
                "blooms": dict(be.get("blooms", {})),
            }
        try:
            v = self._commit(
                cur + 1,
                new_parts,
                "wap_publish",
                {
                    "branch": branch.root,
                    "branch_version": bcur,
                    "base_version": base,
                    "published_partitions": moved,
                    "dropped_partitions": sorted(
                        set(base_parts) - set(bparts)
                    ),
                },
                columns=bm.get("columns"),
                column_types=bm.get("column_types"),
            )
        except BaseException:
            # lost the pointer CAS (or any commit failure): move the
            # children back so the branch survives to re-audit
            for src, dst in reversed(renames):
                try:
                    os.rename(dst, src)
                except OSError:  # pragma: no cover - best effort
                    pass
            raise
        shutil.rmtree(branch.root, ignore_errors=True)
        return v

    def wap_abandon(
        self, branch: "PartitionedParquetMergeStore"
    ) -> None:
        """Drop an audit branch without publishing. Production is
        never touched: an open branch's copy-on-write children live
        entirely under ``_branches/<name>``, and no production
        manifest can reference them (publish MOVES children out before
        pinning them). The guard below asserts that law anyway —
        if any committed global version pins a dir under the branch
        root, deleting it would destroy committed data, so refuse.
        """
        import shutil

        self._branch_base(branch)  # validates ownership
        bpfx = os.path.abspath(branch.root) + os.sep
        cur = self.current_version()
        if cur is not None:
            for v in range(cur + 1):
                try:
                    m = self._read_manifest(v)
                except ValueError:
                    continue  # vacuumed below the keep window
                for e in m["partitions"].values():
                    if os.path.abspath(
                        os.path.join(self.root, e["dir"])
                    ).startswith(bpfx):
                        raise ValueError(
                            f"branch {branch.root} is referenced by "
                            f"committed version v{v} — refusing to "
                            "delete committed data"
                        )
        shutil.rmtree(branch.root)

    # -- read side --------------------------------------------------------

    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        partitions: tuple | dict | None = None,
        where: dict | None = None,
        timestamp: float | None = None,
    ) -> DataFrame:
        """Snapshot read: every selected child in ONE fused plan
        (:meth:`_fused_frame`).

        ``partitions=(lo, hi)`` prunes child stores by manifest before
        any file is listed. ``where`` (column → (lo, hi) closed range)
        is answered from recorded summaries before any data is read:
        the global manifest's rolled-up per-partition stats and blooms
        skip whole children (the Iceberg manifest-list design), each
        surviving child's bucket (or clustered per-file) stats choose
        the files its layout contributes (:meth:`_child_layout`), and
        the fused frame is range-filtered once. ``timestamp`` (epoch
        seconds) time-travels to the newest version committed at or
        before it (mutually exclusive with ``version``)."""
        if timestamp is not None:
            if version is not None:
                raise ValueError(
                    "pass either version or timestamp, not both"
                )
            version = self.version_at(timestamp)
        if version is None:
            version = self.current_version()
            if version is None:
                raise ValueError(f"empty partitioned store: {self.root}")
        parts = self._parts(version)
        if not parts:
            raise ValueError(
                "no live partitions (all dropped); time-travel an older "
                "version to read them"
            )
        lays = self._read_layouts(parts, partitions, where)
        return apply_where_ranges(
            self._fused_frame(spark, version, lays), where
        )

    def _read_layouts(
        self, parts: dict, partitions: tuple | dict | None, where: dict | None
    ) -> list[dict]:
        """The layouts a :meth:`read` of this scope scans: the children
        the partition range and the rolled-up stats keep, each pruned
        by ``where``."""
        return [
            self._child_layout(parts[pval], where=where)
            for pval in self._stats_select(
                parts, self._select(parts, partitions), where
            )
        ]

    def _child_layout(
        self, entry: dict, buckets=None, where: dict | None = None
    ) -> dict:
        """The files one pinned child contributes to a table scan:
        ``{"base", "dv", "deltas"}`` — its base store's data paths, its
        deletion-vector (DV) dirs, and its delta dirs in log order. A
        COW child is a MOR child with no deltas whose base is the child
        itself.

        The base paths are bucket dirs, pruned by the base store's own
        min/max/bloom law for ``where``
        (:meth:`ParquetMergeStore._pruned_bucket_paths`), or single
        files where a clustered compact recorded per-file stats
        (:meth:`ParquetMergeStore._pruned_files`); ``buckets`` keeps a
        probe's routed bucket ids only. Delta dirs are not bucketed and
        are always listed in full. Pruning only drops files whose
        summaries exclude the range, so a range filter over the fused
        frame stays exact (the :meth:`MergeOnReadStore._overlay`
        algebra: the anti-join commutes with a row-wise filter on its
        left). An unreadable or vacuumed pin raises the child's own
        descriptive error (``_entry_state``, ``_read_manifest``,
        ``_guard_vacuumed``)."""
        child = self._child(entry["dir"])
        base, bv, deltas = child, int(entry["version"]), []
        if self.child_store == "mor":
            state = child._entry_state(bv)
            base, bv = child.base, state.get("base_version")
            deltas = [
                os.path.join(child._deltas_root, d) for d in state["dirs"]
            ]
        dirs: list[str] = []
        dv: list[str] = []
        if bv is not None:
            bv = int(bv)
            m = base._read_manifest(bv)
            pruned = {
                b: rel
                for b, rel in base._pruned_bucket_paths(bv, where).items()
                if buckets is None or b in buckets
            }
            dirs = sorted(
                {
                    os.path.join(base.root, rel)
                    for rel in pruned.values()
                    if rel
                }
            )
            dv = sorted(
                {
                    os.path.join(base.root, rel)
                    for b, rel in m.get("dv", {}).items()
                    if buckets is None or int(b) in buckets
                }
            )
        base._guard_vacuumed([*dirs, *dv, *deltas], int(entry["version"]))
        if dirs and where and m.get("file_stats"):
            files = base._pruned_files(bv, where)
            dirs = sorted(p for b in pruned for p in files[b])
        return {"base": dirs, "dv": dv, "deltas": deltas}

    def _fused_frame(
        self,
        spark: SparkSession,
        version: int,
        lays: list[dict],
        keys: DataFrame | None = None,
    ) -> DataFrame:
        """The children ``lays`` (see :meth:`_child_layout`) as ONE
        plan in the table schema at ``version``: one multi-path base
        scan minus one DV anti-join, overlaid by the last-write-wins
        fold of every child's delta dirs, itself one
        parquet scan and one window however many dirs the logs hold
        (:func:`~parquet_demo_spark.sources.mor_store.resolve_deltas`);
        a probe's ``keys`` add semi-joins on the full PK. Per-child
        plans would carry one window and one anti-join PER CHILD, and
        AQE materializes each exchange as its own job (q201 census: 21
        -> 5 jobs per table read at 13 children).

        Sound because every partition column is a PK column (module
        docstring): the fold's window, the DV anti-join and the
        semi-joins are all keyed on the full PK, so they never match
        rows across children, and each child's delta positions only
        order rows within its own key space. Every scan takes the
        table's recorded DDL (:meth:`_columns_at`,
        :meth:`_column_types_at`): a merge never retypes a column, so
        it holds for every child's files, a file that lacks a column
        (written before an evolution) reads it as a typed NULL, and no
        scan pays a footer-inference job. A legacy table without a
        type record never evolved and infers its scans. Nothing to
        scan gives the typed empty frame of the table schema."""
        from pyspark.sql.types import StructType

        from parquet_demo_spark.sources.mor_store import (
            _OP,
            resolve_deltas,
            schema_ddl,
        )

        cols, pk = self._columns_at(version), list(self.keys)
        types = self._column_types_at(version)
        row_ddl = schema_ddl(cols, types)
        base = None
        base_paths = sorted({p for lay in lays for p in lay["base"]})
        if base_paths:
            reader = spark.read.schema(row_ddl) if row_ddl else spark.read
            base = anti_join_dv(
                spark,
                reader.parquet(*base_paths).select(*cols),
                pk,
                [d for lay in lays for d in lay["dv"]],
                schema_ddl(pk, types),
            )
            if keys is not None:
                base = base.join(keys, pk, "left_semi")
        latest = resolve_deltas(
            spark, pk, [p for lay in lays for p in lay["deltas"]], row_ddl
        )
        if latest is None:
            if base is None:
                # limit(0) plans an empty local relation: no job
                empty = spark.createDataFrame([], StructType())
                return self._aligned_union(spark, [empty], version).limit(0)
            return base
        if keys is not None:
            latest = latest.join(keys, pk, "left_semi")
        ups = latest.filter(F.col(_OP) == "u").select(*cols)
        if base is None:
            return ups
        keep = base.join(latest.select(*pk), pk, "left_anti")
        return keep.select(*cols).unionByName(ups)

    def _select(
        self, parts: dict[str, dict], partitions: tuple | dict | None
    ) -> list:
        """Manifest-level partition selection.

        ``partitions`` is either a (lo, hi) closed range over the
        composite value string (single-column stores; the comparison is
        LEXICOGRAPHIC — ISO dates and zero-padded numbers sort
        correctly, bare numbers do not), or a dict
        {partition column: (lo, hi)} pruning each named component
        independently — a read scoped to one week AND one source opens
        only that week x source's children. Dict-form bounds compare in
        the BOUND's type (ADVICE r8): an int/float bound converts the
        stored component before comparing, so a numeric partition
        column scopes numerically ('9' < '10' holds, unlike the string
        compare which silently dropped partition 10 from a (9, 12)
        range); a component that can't convert raises rather than
        silently mis-scoping. String bounds stay lexicographic.
        """

        def _pair(v: str, bound):
            """(comparable component, comparable bound) in the bound's
            type: numeric bounds compare numerically, anything else
            lexicographically against str(bound)."""
            if isinstance(bound, bool) or not isinstance(
                bound, (int, float)
            ):
                return v, str(bound)
            try:
                return type(bound)(v), bound
            except ValueError:
                raise ValueError(
                    f"numeric partition bound {bound!r} against "
                    f"non-numeric partition component {v!r}"
                ) from None

        sel = []
        by_col = isinstance(partitions, dict)
        if by_col:
            unknown = sorted(set(partitions) - set(self.partition_cols))
            if unknown:
                raise ValueError(
                    f"partitions names non-partition columns: {unknown} "
                    f"(partition columns: {list(self.partition_cols)})"
                )
        for pval in sorted(parts):
            if partitions is None:
                sel.append(pval)
                continue
            if by_col:
                # maxsplit bounds the split to the column count, so a
                # single-column store's values may legally contain the
                # separator character
                comps = dict(
                    zip(
                        self.partition_cols,
                        pval.split(_SEP, len(self.partition_cols) - 1),
                    )
                )
                keep = True
                for col, (lo, hi) in partitions.items():
                    v = comps[col]
                    if lo is not None:
                        cv, cb = _pair(v, lo)
                        if cv < cb:
                            keep = False
                            break
                    if hi is not None:
                        cv, cb = _pair(v, hi)
                        if cv > cb:
                            keep = False
                            break
                if not keep:
                    continue
            else:
                lo, hi = partitions
                if (lo is not None and pval < str(lo)) or (
                    hi is not None and pval > str(hi)
                ):
                    continue
            sel.append(pval)
        return sel

    @staticmethod
    def _stats_select(
        parts: dict[str, dict], selected: list, where: dict | None
    ) -> list:
        """Drop partitions whose rolled-up column stats PROVE no row
        satisfies every ``where`` range. A partition whose entry lacks
        stats for a column (pre-rollup manifests, non-orderable types)
        always survives — absence means "can't prune", never "wrong
        prune" (the child store's law, one level up).

        Point lookups (lo == hi) additionally consult the entry's
        ROLLED-UP bloom (OR of the child's bucket blooms — VERDICT r8
        #7): a hash-scattered key column's [min, max] spans ~the whole
        domain and never prunes, but the bloom skips the partition
        without its child manifest ever being opened."""
        return [
            pval
            for pval in selected
            if not stats_rule_out(
                parts[pval].get("stats") or {},
                parts[pval].get("blooms") or {},
                where,
            )
        ]

    def files_read(
        self,
        version: int | None = None,
        partitions: tuple | dict | None = None,
        where: dict | None = None,
    ) -> int:
        """How many data files a :meth:`read` with this scope opens —
        the pruning evidence (footer-free: manifests + listing),
        counted over the very layouts the read scans
        (:meth:`_read_layouts`): each surviving child's base files, or
        the parquet files of its base bucket dirs, plus those of its
        delta dirs (a delta dir is always read in full)."""
        total = 0
        for lay in self._read_layouts(self._parts(version), partitions, where):
            for p in (*lay["base"], *lay["deltas"]):
                total += (
                    1
                    if os.path.isfile(p)
                    else sum(f.endswith(".parquet") for f in os.listdir(p))
                )
        return total

    # scoped like a batch write: a small key batch's pair collect
    # plans without AQE, one job instead of one per query stage
    @scoped_store_op("keys_df")
    def probe(
        self,
        spark: SparkSession,
        keys_df: DataFrame,
        version: int | None = None,
    ) -> DataFrame:
        """Table-level PK-probe point read: partition-prune, then
        bucket-prune, in ONE fused plan (:meth:`_fused_frame`).

        Partition columns are PK columns (the table's routing
        invariant), so each probe key names its partition exactly — a
        batch of K keys opens only its partitions' children, and
        within each child only the keys' buckets. ONE driver job
        computes the distinct (partition, bucket) pairs for the whole
        key batch (metadata-sized: <= touched partitions x num_buckets
        rows); the touched children's routed bucket dirs (plus their
        delta dirs) are then scanned by one plan semi-joined to the
        keys, so a K-partition probe costs O(1) driver jobs instead of
        K+1 sequential per-child collects (VERDICT r9 #5). Children
        absent from the manifest are no-ops, a batch that routes to no
        live child gets the typed empty frame, and every row comes in
        the table schema (typed-null backfill across any evolution
        boundary). At 100 TB: a thousand-key probe touches a handful
        of dirs, never a listing of the table.
        """
        v = self.current_version() if version is None else version
        if v is None:
            raise ValueError(f"empty partitioned store: {self.root}")
        lacking = [c for c in self.keys if c not in keys_df.columns]
        if lacking:
            raise ValueError(f"probe keys lack PK column(s) {lacking}")
        parts = self._parts(v)
        if not parts:
            raise ValueError(
                "no live partitions (all dropped); time-travel an older "
                "version to probe them"
            )
        # cast probe keys to the TABLE PK types before hashing: F.hash
        # is type-sensitive, so a drifted frame would bucket wrong and
        # silently report rows absent (ADVICE r9 - same law as the
        # child-level probe). Types come from the manifest record; a
        # legacy pre-record store derives them from one child's footer.
        tmap = dict(self._column_types_at(v))
        if any(c not in tmap for c in self.keys):
            any_p = sorted(parts)[0]
            child_schema = self._child(parts[any_p]["dir"]).read(
                spark, version=parts[any_p]["version"]
            ).schema
            for f in child_schema.fields:
                tmap.setdefault(f.name, f.dataType.simpleString())
        in_types = {
            f.name: f.dataType.simpleString()
            for f in keys_df.schema.fields
        }
        keys = keys_df.select(
            *[
                F.col(c).cast(tmap[c]).alias(c)
                if in_types.get(c) != tmap[c]
                else F.col(c)
                for c in self.keys
            ]
        ).distinct()
        # the ONE metadata-sized job: distinct (partition components,
        # bucket) pairs for the entire batch
        pexprs = [
            F.col(c).cast("string").alias(c) for c in self.partition_cols
        ]
        # the child's own routing expression (shared staticmethod —
        # inlining a copy here would let the two levels drift and
        # silently slice the wrong buckets)
        bexpr = ParquetMergeStore.bucket_expr(
            self.keys, self.num_buckets
        ).alias("__bucket")
        pair_rows = keys.select(*pexprs, bexpr).distinct().collect()

        def _pv(row) -> str | None:
            # a probe key whose partition value could never have been
            # WRITTEN ('/', NULL component, '|' on a multi-col store,
            # ...) simply matches nothing — the write-side validation
            # guarantees no partition exists for it, so the right
            # answer is "absent", not a ValueError aborting the batch
            if any(c is None for c in row):
                return None
            try:
                return _composite(row)
            except ValueError:
                return None

        pv_buckets = {}
        for r in pair_rows:
            pv = _pv(tuple(r[c] for c in self.partition_cols))
            if pv is not None and pv in parts:
                pv_buckets.setdefault(pv, set()).add(int(r["__bucket"]))
        lays = [
            self._child_layout(parts[pv], buckets=pv_buckets[pv])
            for pv in sorted(pv_buckets)
        ]
        return self._fused_frame(spark, v, lays, keys)

    def count_rows(
        self,
        version: int | None = None,
        partitions: tuple | dict | None = None,
    ) -> int:
        """Footer-metadata row count over the selected partitions.
        COW children only: a MOR child's count must resolve the delta
        overlay (use ``read(...).count()``)."""
        self._require_cow("count_rows")
        parts = self._parts(version)
        return sum(
            self._child(parts[p]["dir"]).count_rows(
                version=parts[p]["version"]
            )
            for p in self._select(parts, partitions)
        )

    # -- CDC across global versions ----------------------------------------

    def changes_between(
        self,
        spark: SparkSession,
        v_from: int,
        v_to: int,
        include_preimages: bool = False,
    ) -> DataFrame:
        """Net row changes between two global versions, Delta-CDF-tagged.

        Every partition present in both AT THE SAME CHILD DIR, at two
        different pins, is routed once, up front, to one of two laws,
        each ONE plan over all of its children: a MOR child whose log
        span is appends and compacts only, with its appended dirs on
        disk, to the log law (:meth:`_log_diff`, O(appended deltas));
        every other changed child (every COW child, and a MOR child
        whose span holds a restore or runs backward) to the snapshot
        law (:meth:`_snapshot_diff`, O(changed buckets) for a COW
        child). Both scan with the table DDL at ``v_to`` and classify
        on its columns, so an evolution inside the span needs no path
        of its own. A partition only in ``v_to`` contributes its full
        snapshot as inserts; one only in ``v_from`` — i.e. dropped,
        the retention path — contributes its old snapshot as deletes;
        present in both but at DIFFERENT dirs (dropped and later
        re-created — a new epoch) nets the old snapshot as deletes plus
        the new one as inserts. Each snapshot side is one
        :meth:`_fused_frame`. Downstream consumers see retention as
        ordinary CDC delete rows without the drop itself having touched
        any data file.
        """
        p_from = self._parts(v_from)
        p_to = self._parts(v_to)
        snaps: dict[str, list] = {"delete": [], "insert": []}
        logged: list[str] = []
        diffs: list[tuple] = []
        for pval in sorted(set(p_from) | set(p_to)):
            a, b = p_from.get(pval), p_to.get(pval)
            if a and b and a["dir"] == b["dir"]:
                if a["version"] != b["version"]:
                    span = self._span_paths(a, b)
                    if span is None:
                        diffs.append(self._diff_layouts(a, b))
                    else:
                        logged += span
                continue
            if a:  # dropped, or re-created in a new epoch dir
                snaps["delete"].append(self._child_layout(a))
            if b:
                snaps["insert"].append(self._child_layout(b))
        outs = [
            self._fused_frame(spark, v, snaps[tag]).withColumn(
                "_change_type", F.lit(tag)
            )
            for v, tag in ((v_from, "delete"), (v_to, "insert"))
            if snaps[tag]
        ]
        if logged:
            outs.append(
                self._log_diff(spark, v_from, v_to, logged, include_preimages)
            )
        if diffs:
            outs.append(
                self._snapshot_diff(
                    spark, v_to, *zip(*diffs), include_preimages
                )
            )
        # align to the WIDER endpoint's table schema (+ the CDC tag):
        # across an evolution boundary, the narrower side's rows lack
        # the new columns — typed-null backfill, same law as read()
        cols_from, cols_to = self._columns_at(v_from), self._columns_at(v_to)
        wide = v_to if len(cols_to) >= len(cols_from) else v_from
        if not outs:
            return self._fused_frame(spark, wide, []).withColumn(
                "_change_type", F.lit("none")
            )
        return self._aligned_union(
            spark, outs, wide, extra_cols=("_change_type",)
        )

    def _span_paths(self, a: dict, b: dict) -> list[str] | None:
        """The delta dirs a MOR child appended between its pins ``a``
        and ``b`` (same dir), in log order, when the log law can diff
        the span: :meth:`MergeOnReadStore._span_append_dirs` walks it
        (appends and compacts only, forward) and every appended dir is
        still on disk. ``None`` sends the child to the snapshot law,
        as it does every COW child."""
        if self.child_store != "mor":
            return None
        child = self._child(a["dir"])
        try:
            span = child._span_append_dirs(
                int(a["version"]), int(b["version"])
            )
        except (ValueError, KeyError, FileNotFoundError):
            return None
        if span is None:
            return None
        paths = [os.path.join(child._deltas_root, d) for d in span]
        return paths if all(os.path.isdir(p) for p in paths) else None

    def _diff_layouts(self, a: dict, b: dict) -> tuple[dict, dict, dict]:
        """One changed child's (old, new, presence) layouts for
        :meth:`_snapshot_diff`, pinned at ``a`` and ``b`` (same dir).

        A MOR child's sides are unrestricted: its old and new
        snapshots, and presence is the new one (delta dirs are not
        bucketed). A COW child's are restricted per side to the bucket
        ids whose data dir or deletion vector differs between the two
        pins, since an unchanged bucket cannot hold a change. Presence
        reads the NEW pin at the OLD side's changed ids: a table child
        keeps its bucket count (``_child`` refuses to open a child
        whose head has another, and no table path rebuckets), so an
        old row's key hashes to the same id at both pins."""
        if self.child_store == "mor":
            new = self._child_layout(b)
            return self._child_layout(a), new, new
        child = self._child(a["dir"])
        vf, vt = int(a["version"]), int(b["version"])
        paths_f, paths_t = child._bucket_paths(vf), child._bucket_paths(vt)
        dv_f, dv_t = child._dv_entries(vf), child._dv_entries(vt)

        def changed(mine: dict, other: dict) -> set:
            return {
                bid
                for bid, p in mine.items()
                if other.get(bid) != p or dv_f.get(bid) != dv_t.get(bid)
            }

        old_ids = changed(paths_f, paths_t)
        return (
            self._child_layout(a, buckets=old_ids),
            self._child_layout(b, buckets=changed(paths_t, paths_f)),
            self._child_layout(b, buckets=old_ids),
        )

    def _snapshot_diff(
        self,
        spark: SparkSession,
        v_to: int,
        olds: list,
        news: list,
        pres: list,
        include_preimages: bool,
    ) -> DataFrame:
        """The snapshot diff law for every changed child the log law
        does not take, as ONE plan over the children's
        :meth:`_diff_layouts`.

        The old side, the new side and the presence read are each one
        :meth:`_fused_frame` over every child's layouts (base scan
        minus DV anti-join, overlaid by the delta fold), all three in
        the table DDL at ``v_to``: a file written before an evolution
        reads the new column as a typed NULL, as the child's own diff
        backfills it. An old row whose key the presence read lacks is
        a delete; one shared-law classification on ``v_to``'s columns
        emits the feed. Per-child diffs would plan two scans, a
        presence read and a classification join PER CHILD (q159
        census: 30 jobs at 13 children). Sound for the
        :meth:`_fused_frame` reason: every join is keyed on the full
        PK. A side with nothing to scan is the typed empty frame, so a
        version bump that rewrote no bucket emits nothing."""
        from parquet_demo_spark.sources.cdc import classify_changes

        pk = list(self.keys)
        old, new, presence = (
            self._fused_frame(spark, v_to, lays) for lays in (olds, news, pres)
        )
        gone = old.join(
            presence.select(*[F.col(k).alias(f"__new_{k}") for k in pk]),
            [F.col(k).eqNullSafe(F.col(f"__new_{k}")) for k in pk],
            "left_anti",
        )
        return classify_changes(
            old, new, gone, self._columns_at(v_to), pk, include_preimages
        )

    def _log_diff(
        self,
        spark: SparkSession,
        v_from: int,
        v_to: int,
        paths: list[str],
        include_preimages: bool,
    ) -> DataFrame:
        """The log diff law for the MOR children whose spans only
        append, as ONE plan over their appended delta dirs ``paths``
        (see :meth:`_span_paths`).

        The dirs fold at once in the table DDL at ``v_to`` (one typed
        scan, no footer job); their per-PK winners are the candidate
        keys and their post-state, and the pre-state resolves through
        ONE table-level :meth:`probe` of ``v_from`` (a single pair
        collect for the whole batch), backfilled to ``v_to``'s columns
        with typed NULLs across an evolution. One shared-law
        classification on ``v_to``'s columns emits the feed. Per-child
        diffs would plan one fold, one bucket probe and one
        classification PER CHILD, each probe with its own collect
        (q198 census: 60 jobs at 13 children). Sound for the
        :meth:`_fused_frame` reason: the fold and the joins are keyed
        on the full PK.
        """
        from parquet_demo_spark.sources.mor_store import (
            _OP,
            MergeOnReadStore,
            resolve_deltas,
            schema_ddl,
        )

        pk, cols = list(self.keys), self._columns_at(v_to)
        types = self._column_types_at(v_to)
        # the table probe's pair collect materializes the fold once;
        # classification reuses it (the child-level fast path's own
        # lazy-checkpoint law)
        latest = resolve_deltas(
            spark, pk, paths, schema_ddl(cols, types)
        ).localCheckpoint(eager=False)
        pre = self.probe(spark, latest.select(*pk), version=v_from)
        pre = self._aligned_union(spark, [pre], v_to)
        post_u = latest.filter(F.col(_OP) == "u").select(*cols)
        post_d = latest.filter(F.col(_OP) == "d").select(*pk)
        return MergeOnReadStore._cdc_emit(
            pre, post_u, post_d, cols, pk, include_preimages
        )

    # -- maintenance --------------------------------------------------------

    @scoped_store_op(None, "spark")
    def compact(
        self,
        spark: SparkSession,
        min_files: int = 2,
        cluster_by: list[str] | None = None,
        files_per_bucket: int = 4,
    ) -> int | None:
        """OPTIMIZE: compact every live child store (each child's
        snapshot-isolated, CDC-silent compaction), then commit ONE
        global version pinning the compacted children.

        ``cluster_by`` forwards the child's OPTIMIZE ... ZORDER BY:
        every child rewrites clustered on the Morton curve over the
        listed columns and records per-file min/max boxes, so a
        ``where`` box read skips files inside every partition — each
        date of a 100 TB table gets its own within-partition file
        skipping. Returns the new global version, or None if nothing
        was fragmented enough to touch (no version burns — the no-op
        law).
        """
        if self.child_store == "mor" and cluster_by is not None:
            raise ValueError("cluster_by requires copy-on-write children")
        cur = self.current_version()
        parts = self._parts(cur)

        def _compact_one(pval: str) -> dict | None:
            child = self._child(parts[pval]["dir"])
            # only compact the child version this table pins — a child
            # pointer ahead of the pin (crashed writer) must not leak in
            if child.current_version() != parts[pval]["version"]:
                return None
            if self.child_store == "mor":
                # fold the child's delta log into its base; the
                # truncation commits a new log entry, which becomes
                # the new pin (no live deltas -> no entry, no burn)
                if child.delta_count() == 0:
                    return None
                child.compact(spark)
                return {**parts[pval], "version": child.current_version()}
            v = child.compact(
                spark,
                min_files=min_files,
                cluster_by=cluster_by,
                files_per_bucket=files_per_bucket,
            )
            if v is None:
                return None
            return {
                **parts[pval],
                "version": v,
                "stats": self._child_stats_rollup(child, v),
                "blooms": self._child_blooms_rollup(child, v),
            }

        # children are independent directories + commit domains: fan
        # the per-child compactions across the write pool, as merge()/
        # delete_where() do for copy-on-write children — the serial
        # loop paid each child's
        # fold/rewrite jobs back-to-back (round-12 store-suite
        # overhead audit, VERDICT r11 #7)
        touched = []
        if parts:
            with op_pool(
                spark, min(self.write_concurrency, len(parts))
            ) as pool:
                futs = {
                    p: pool.submit(_compact_one, p) for p in sorted(parts)
                }
                for pval in sorted(parts):
                    entry = futs[pval].result()
                    if entry is not None:
                        parts[pval] = entry
                        touched.append(pval)
        if not touched:
            return None
        new_version = cur + 1
        return self._commit(
            new_version,
            parts,
            "compact",
            {
                "min_files": min_files,
                "cluster_by": list(cluster_by or ()),
                "touched": touched,
            },
        )

    def clean_orphans(self) -> list[str]:
        """Remove global manifest dirs ABOVE the committed pointer — the
        residue of a writer that crashed after winning the O_EXCL CAS
        but before the pointer swap (the child store's clean_orphans,
        one level up), plus any ``_staging.*`` dirs a crashed merge's
        routing write left behind. Orphan CHILD versions are reclaimed
        by each child's own clean_orphans/vacuum. Only run when no
        writer is active."""
        removed = [self._chain.rel(v) for v in self._chain.clean_orphans()]
        for d in sorted(os.listdir(self.root)):
            if d.startswith("_staging."):
                shutil.rmtree(os.path.join(self.root, d))
                removed.append(d)
        return sorted(removed)

    def vacuum(
        self, keep_last: int = 1, older_than: float | None = None
    ) -> list[str]:
        """Remove child directories of partitions referenced by NO kept
        global manifest, AND the global manifest dirs below the keep
        window — so time travel never resolves a version whose child
        dirs may be gone and then dies mid-read; it fails up front with
        the descriptive "never committed, or removed by vacuum" error
        (the child store's own vacuum convention, one level up). Live
        children are left to their own vacuum. Returns removed dirs
        (partition and version).

        ``older_than`` (ABSOLUTE unix timestamp — Iceberg's
        ``expireSnapshots(olderThan=...)``) widens retention past
        ``keep_last``: every version committed at or after the cutoff
        is kept. ``committed_at`` is monotonic so the kept set stays a
        contiguous suffix; a legacy manifest with no ``committed_at``
        is kept (never expire data whose age can't be proven); the
        head never expires. Same clone caveat as the child store:
        expiring source versions a shallow clone pins can strand the
        clone; a clone's own vacuum never crosses into the source."""
        import shutil

        cur = self.current_version()
        if cur is None:
            return []
        # the child store's retention law (commit_log): a legacy
        # manifest with no committed_at is kept even below a dated-old
        # version, where a contiguous-window walk would drop it
        keep = set(self._chain.retained(keep_last, older_than))
        live = set()
        for v in sorted(keep):
            live |= {
                e["dir"]
                for e in self._read_manifest(v)["partitions"].values()
            }
        # reference-aware pass (round 12, the table-WAP analog of the
        # child store's ADVICE r11 vacuum fix): a published branch
        # child moved into the table root still holds clone-v0
        # ABSOLUTE refs into the PRE-publish production child's data
        # dirs for buckets the branch never rewrote. This sweep is
        # DIR-level, so it must treat a sibling dir as live while any
        # kept-pinned child's manifest references data under it —
        # otherwise expiring the old entry's versions would rmtree a
        # dir the published head still reads through. Metadata-sized:
        # one child-manifest read per distinct (dir, pinned version).
        root_pfx = os.path.abspath(self.root) + os.sep
        seen: set[tuple[str, int]] = set()
        # MOR children hold the same cross-dir ref kind since round 14:
        # a published branch child's BASE is a clone whose v0 manifest
        # references the pre-publish production child's base data dirs
        # (its deltas are copied, never referenced) — resolve the
        # pinned ENTRY to its base version and sweep that base manifest
        for v in sorted(keep):
            for e in self._read_manifest(v)["partitions"].values():
                pin = (e["dir"], int(e["version"]))
                if pin in seen:
                    continue
                seen.add(pin)
                child = self._child(e["dir"])
                if self.child_store == "mor":
                    try:
                        st = child._entry_state(pin[1])
                    except ValueError:
                        continue  # vacuumed inside the child
                    bv = (
                        st["base_version"]
                        if "base_version" in st
                        else child.base.current_version()
                    )
                    if bv is None:
                        continue  # delta-only child: no base refs
                    ref_store = child.base
                    try:
                        cm = ref_store._read_manifest(int(bv))
                    except (FileNotFoundError, ValueError):
                        continue
                else:
                    ref_store = child
                    try:
                        cm = ref_store._read_manifest(pin[1])
                    except (FileNotFoundError, ValueError):
                        continue  # vacuumed inside the child
                croot = os.path.abspath(child.root) + os.sep
                for p in list(
                    cm.get("bucket_paths", {}).values()
                ) + list(cm.get("dv", {}).values()):
                    ap = os.path.abspath(
                        p
                        if os.path.isabs(p)
                        else os.path.join(ref_store.root, p)
                    )
                    if ap.startswith(root_pfx) and not ap.startswith(
                        croot
                    ):
                        live.add(
                            os.path.relpath(ap, self.root).split(
                                os.sep, 1
                            )[0]
                        )
        expired = {
            self._chain.rel(v)
            for v in self._chain.slots()
            if v <= cur and v not in keep
        }
        removed = []
        for d in sorted(os.listdir(self.root)):
            if (d.startswith("p=") and d not in live) or d in expired:
                shutil.rmtree(os.path.join(self.root, d))
                removed.append(d)
        return removed
