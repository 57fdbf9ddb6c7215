"""Scale-adaptive plan scope: size the physical plan from the INPUT,
not from a constant (optimization guide §2 — "make partitioning
scale-adaptive ... rather than a constant tuned for either local mode
or the cluster").

AQE is the right default for data-proportional work: at 100 TB it
coalesces post-shuffle partitions, splits skewed joins, and re-plans
from runtime statistics. But AQE materializes every query stage as its
own Spark job, so for a KB-scale store commit (a streaming micro-batch
append, a metadata fold, a small bucket rewrite) one logical query
becomes 3-14 driver-scheduled jobs whose fixed cost (~0.1 s each in
local mode, scheduler+planning latency on a cluster) dominates the
data by orders of magnitude — the profiled floor in BASELINE.md's
"Streaming-applier floor" section.

:func:`plan_scope` is the adaptive dial: callers that KNOW their
input size (a store knows its on-disk footprint; a commit knows its
batch's plan statistics) run small inputs under a single-partition,
non-adaptive plan — one job per action instead of one per query stage
— and leave everything at the session's scale posture when the input
is big or its size is unknown. The decision is made from measured
bytes per operation, so the SAME code path keeps AQE + parallel
shuffles on a 100 TB table and drops to the minimal plan for the tail
of tiny maintenance commits every lakehouse accumulates.

The scope changes three things and no semantics: partition counts, AQE
staging, and the WRITER of a store operation's staging writes (a batch
written into a fresh private dir that no reader sees until a commit
adopts it: ``sources/staging.py``). :func:`scoped_store_op` records its
own decision for the operation's thread (:func:`small_op`); a staging
write under a pinned scope whose column types read back exactly is
collected once with ``toArrow()`` and written from the driver by
pyarrow, which skips a Spark file-write job's fixed cost, and any other
staging write runs as a Spark job. Wrong estimates are
performance-neutral-to-suboptimal, never incorrect: both writers
produce files that read back identically.

Threshold: ``SPARK_GRAFT_SMALL_PLAN_BYTES`` (default 64 MiB, the
``autoBroadcastJoinThreshold`` ``session.get_spark`` pins, so by
default the driver never collects a staged batch larger than Spark
would broadcast); 0 disables the scope entirely.

:func:`scoped_store_op` also names the operation's Spark jobs: their
job description is ``<Class>.<method>``, on the pool threads
(:func:`op_pool`) the operation fans its per-child work across too.
"""

from __future__ import annotations

import functools
import inspect
import os
import threading
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

from parquet_demo_spark.session import BROADCAST_BYTES

_ENV = "SPARK_GRAFT_SMALL_PLAN_BYTES"
_DEFAULT_BYTES = BROADCAST_BYTES
# the local property SparkContext.setJobDescription sets
_DESC = "spark.job.description"

# conf a small-input scope pins (saved/restored on exit):
# - AQE off: no per-query-stage job materialization for plans whose
#   every exchange is KBs — the job-count floor, not a re-planning
#   opportunity, is what dominates them;
# - 4 shuffle partitions (not 1): a sub-threshold sort/window/join
#   fits a handful of tasks by construction (the threshold bounds it),
#   and 32 near-empty reducers cost scheduling without buying
#   parallelism — 4 keeps a sliver of overlap for multi-stage commits
#   while staying at the single-digit job floor;
# - driver-side file listing: a sub-threshold table's partition dirs
#   never justify a distributed listing job.
_SMALL_CONF = {
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.shuffle.partitions": "4",
    "spark.sql.sources.parallelPartitionDiscovery.threshold": "9999",
}

_lock = threading.RLock()
_depth = 0
_saved: dict[str, str | None] = {}
# the session the pinned conf was SET on: nested scopes may enter from
# a different session object (a streaming micro-batch clone), and the
# last exit must restore where the first entry wrote
_saved_spark: SparkSession | None = None
# per thread: whether the innermost scoped store op running on it
# pinned its small-plan scope (see small_op)
_op = threading.local()


def small_plan_threshold() -> int:
    return int(os.environ.get(_ENV, _DEFAULT_BYTES))


def dir_bytes(
    path: str, suffix: str = ".parquet", stop_at: int | None = None
) -> int:
    """Total size of ``suffix`` files under ``path`` (0 if absent).

    A filesystem walk, no Spark job — the store-side term of the scope
    decision. Walking the whole store root OVERCOUNTS (older versions'
    dirs are included until vacuum); overcounting can only keep the
    session's scale posture, never mis-apply the small plan.
    ``stop_at`` short-circuits the walk once the running total passes
    it, so a commit against a huge table pays a few directory entries,
    never a full-tree listing. A plain-file ``path`` (a single-file
    parquet table) is its own size.
    """
    if os.path.isfile(path):
        try:
            return os.path.getsize(path) if path.endswith(suffix) else 0
        except OSError:
            return 0
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for fname in files:
            if fname.endswith(suffix):
                try:
                    total += os.path.getsize(os.path.join(dirpath, fname))
                except OSError:
                    continue
        if stop_at is not None and total > stop_at:
            return total
    return total


def plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's size estimate for ``df``'s optimized plan, or None
    when unknown (the Long.MaxValue default sentinel, or any failure).
    Unknown means "treat as big" — the caller keeps the session's
    scale posture."""
    try:
        size = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        return None
    if size < 0 or size >= (1 << 62):
        return None
    return size


def _minimal_posture(spark: SparkSession) -> bool:
    """True when ``spark`` already plans with the small-scope conf
    (AQE off, shuffle partitions <= the scope's 4). A Structured
    Streaming micro-batch session is the canonical case: it clones
    with AQE force-disabled, and the stream wiring pins its few state
    partitions — entering the scope there buys nothing, while its
    size estimate costs a store-root walk plus an extra
    analyze/optimize of the batch plan EVERY batch (measured in r15:
    both stream A/B rows regressed ~5% with job counts unchanged)."""
    try:
        if spark.conf.get("spark.sql.adaptive.enabled") != "false":
            return False
        return int(
            spark.conf.get("spark.sql.shuffle.partitions")
        ) <= int(_SMALL_CONF["spark.sql.shuffle.partitions"])
    except Exception:
        return False


def store_plan_scope(
    spark: SparkSession,
    root: str | tuple[str, ...] | list[str],
    batch: DataFrame | None = None,
):
    """The store-commit instance of :func:`plan_scope`: estimate the
    operation's input as (store bytes on disk, over one root or
    several — an applier touches its index store AND its watermark
    side store) + (the batch's plan statistics, when a batch is
    involved). A batch whose size Catalyst cannot estimate keeps the
    session's scale posture — unknown is never treated as small.

    Skipped outright (no walk, no plan-stats probe) when the session
    the operation will PLAN on — the batch's own session when there is
    a batch; micro-batch clones differ from the outer handle — already
    runs the minimal posture: the scope could only re-pin what is
    already pinned, so the estimate would be pure per-batch overhead.
    """
    plan_session = batch.sparkSession if batch is not None else spark
    if _minimal_posture(plan_session):
        return plan_scope(spark, None)
    threshold = small_plan_threshold()
    if threshold <= 0:
        return plan_scope(spark, None)
    roots = [root] if isinstance(root, str) else list(root)
    est = 0
    for r in roots:
        est += dir_bytes(r, stop_at=threshold)
        if est >= threshold:
            break
    if est < threshold and batch is not None:
        b = plan_size_bytes(batch)
        est = None if b is None else est + b
    return plan_scope(spark, est)


def scoped_store_op(batch_arg: str | None, spark_arg: str | None = None):
    """Decorator form of :func:`store_plan_scope` for store methods
    (``self.root`` is the store). ``batch_arg`` names the method's
    batch-DataFrame parameter (None when the operation's only input is
    the store itself, e.g. compact); ``spark_arg`` names an explicit
    SparkSession parameter when there is no batch to derive it from.
    With neither resolvable the method runs unscoped — never an error.

    A scoped call records its decision for :func:`small_op` and sets the
    job description ``<Class>.<method>`` on its thread; both are
    restored on exit, so a nested store op names and sizes only its own
    jobs.
    """

    def deco(fn):
        sig = inspect.signature(fn)

        @functools.wraps(fn)
        def inner(self, *args, **kwargs):
            try:
                bound = sig.bind(self, *args, **kwargs)
            except TypeError:
                return fn(self, *args, **kwargs)
            batch = bound.arguments.get(batch_arg) if batch_arg else None
            spark = bound.arguments.get(spark_arg) if spark_arg else None
            if spark is None and batch is not None:
                spark = batch.sparkSession
            if spark is None:
                spark = SparkSession.getActiveSession()
            if spark is None:
                return fn(self, *args, **kwargs)
            sc = spark.sparkContext
            desc = sc.getLocalProperty(_DESC)
            sc.setJobDescription(f"{type(self).__name__}.{fn.__name__}")
            outer = small_op()
            try:
                with store_plan_scope(spark, self.root, batch) as small:
                    _op.small = small
                    return fn(self, *args, **kwargs)
            finally:
                _op.small = outer
                sc.setLocalProperty(_DESC, desc)

        return inner

    return deco


def op_pool(spark: SparkSession, max_workers: int) -> ThreadPoolExecutor:
    """A thread pool for a store operation's per-child work. A Spark
    job description is a thread-local property, so each worker starts
    with the calling thread's: the jobs it launches are named after the
    operation too."""
    sc = spark.sparkContext
    return ThreadPoolExecutor(
        max_workers,
        initializer=sc.setLocalProperty,
        initargs=(_DESC, sc.getLocalProperty(_DESC)),
    )


def small_op() -> bool:
    """True when the innermost :func:`scoped_store_op` running on THIS
    thread pinned its small-plan scope: the operation's measured input
    is under the threshold, so its staging writes may be collected to
    the driver. Per thread, never the process-wide :func:`scope_active`:
    another thread's scope says nothing about this operation's size.
    False outside any scoped operation, on a pool thread the operation
    started, and under a streaming micro-batch session (which skips the
    estimate, see :func:`store_plan_scope`)."""
    return getattr(_op, "small", False)


def scope_active() -> bool:
    """True while some thread holds an entered small-plan scope.

    Reads ``_depth`` without the lock: a boolean probe tolerates a
    stale read (callers use it for diagnostics, never to decide
    conf restoration, which stays under ``_lock``)."""
    return _depth > 0


@contextmanager
def plan_scope(spark: SparkSession, est_bytes: int | None):
    """Run the enclosed ACTIONS under the minimal plan when
    ``est_bytes`` is a known size below the threshold; no-op (keep the
    session's scale posture) when it is None (unknown) or big.

    Re-entrant and thread-safe via a global depth counter: the first
    entering scope pins the conf, the last exiting one restores it, so
    a partitioned table's parent scope and its per-child commits
    compose. Session conf is session-global — a concurrent
    out-of-scope action in another thread would plan with the small
    conf, which is a (bounded: the threshold caps what chose the
    scope, and store writers already serialize per store) performance
    trade, never a correctness one. That bound covers store ops; an
    UNRELATED query submitted on the same session from another thread
    while a scope is held also plans small — callers running such
    mixed concurrent workloads should give store maintenance its own
    session (``spark.newSession()``) or disable the scope via the env
    dial.
    """
    threshold = small_plan_threshold()
    if (
        est_bytes is None
        or threshold <= 0
        or est_bytes >= threshold
    ):
        yield False
        return
    global _depth, _saved_spark
    with _lock:
        if _depth == 0:
            _saved_spark = spark
            for k, v in _SMALL_CONF.items():
                try:
                    _saved[k] = spark.conf.get(k)
                except Exception:
                    _saved[k] = None
                spark.conf.set(k, v)
        _depth += 1
    try:
        yield True
    finally:
        with _lock:
            _depth -= 1
            if _depth == 0:
                target = _saved_spark if _saved_spark is not None else spark
                for k, v in _saved.items():
                    if v is None:
                        target.conf.unset(k)
                    else:
                        target.conf.set(k, v)
                _saved.clear()
                _saved_spark = None
