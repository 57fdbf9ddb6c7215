"""Where a lakehouse op's wall time goes: inside Spark jobs, or around them.

    python scripts/op_census.py [--child mor|cow] [--seed 7] [--ops 44]

Run from the root of a checkout. One process builds the benchmark's
lakehouse table (``perfbench/gen.py``: the same 6000-row lineitem slice
over 8 date partitions, drawn from ``--seed``) in one session set up as
``perfbench/run.py`` sets up its own (``local[nproc/2]``, the same
session conf). It runs the untimed warm-up ops and then the first
``--ops`` ops of the fixed op schedule, one after another, and prints
one line per op kind:

- ``n``: ops of that kind;
- ``wall_p50``: median wall time of one op;
- ``jobs``: median Spark jobs of one op (the ``nextJobId()`` delta);
- ``job_wall_p50``: median job-covered wall, the length of the union of
  the op's jobs' submit-to-complete intervals, read from
  ``sc.statusStore()`` after the run;
- ``gap_p50``: median driver gap, wall minus job-covered wall: planning,
  py4j, file-system and commit work on the driver.

Job times come from the status store in whole milliseconds, so a figure
below about 2 ms is noise. The inputs live in a temporary dir that is
removed at exit.
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
KINDS = ("merge_recent", "merge_scatter", "delete_where", "read",
         "read_scoped", "probe", "changes_between")
CDC_SPAN = 3  # changes_between reads the last few versions, as in the benchmark


def job_intervals(spark, first: int, last: int) -> dict[int, tuple[float, float]]:
    """{job id: (submit, complete) in epoch seconds} for ids in [first, last)."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    out = {}
    for jid in range(first, last):
        try:
            jd = store.job(jid)
            t0, t1 = jd.submissionTime(), jd.completionTime()
        except Exception:  # never registered (or evicted)
            continue
        if t0.isDefined() and t1.isDefined():
            out[jid] = (t0.get().getTime() / 1000.0, t1.get().getTime() / 1000.0)
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--child", choices=("mor", "cow"), default="mor")
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--ops", type=int, default=44)
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]
    import gen
    import run as bench
    from census import covered
    from pyspark.sql import functions as F

    from parquet_demo_spark.session import get_spark
    from parquet_demo_spark.sources.partitioned_store import (
        PartitionedParquetMergeStore,
    )

    work = tempfile.mkdtemp(prefix="op_census.")
    os.makedirs(os.path.join(work, "tmp"))
    n = bench.task_slots()
    os.environ["SPARK_GRAFT_CPUS"] = str(n)
    spark = get_spark(app_name="op_census", master=f"local[{n}]",
                      shuffle_partitions=n, extra_conf=bench.session_conf(work))
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    try:
        g = gen.LakeGenerator(os.path.join(work, "inputs"), args.seed)
        base = os.path.join(work, "base.parquet")
        g.write_base(base)
        store = PartitionedParquetMergeStore(
            os.path.join(work, "store"), keys=gen.LAKE_KEYS,
            partition_col="ship_day", num_buckets=2, child_store=args.child,
        )
        store.merge(spark.read.parquet(base))

        def execute(op: dict, path: str | None) -> None:
            kind = op["kind"]
            if kind.startswith("merge"):
                store.merge(spark.read.parquet(path))
            elif kind == "delete_where":
                lo, hi = (gen.day_name(d) for d in op["days"])
                cond = F.col("l_orderkey") % op["mod"] == op["rem"]
                store.delete_where(spark, cond, partitions=(lo, hi))
            elif kind == "read":
                store.read(spark).write.format("noop").mode("overwrite").save()
            elif kind == "read_scoped":
                lo, hi = (gen.day_name(d) for d in op["days"])
                (store.read(spark, partitions=(lo, hi))
                 .write.format("noop").mode("overwrite").save())
            elif kind == "changes_between":
                v = store.current_version()
                (store.changes_between(spark, max(0, v - CDC_SPAN), v)
                 .write.format("noop").mode("overwrite").save())
            elif kind == "probe":
                store.probe(spark, spark.read.parquet(path)).collect()

        warm = g.warmup_ops()
        for seq, op in enumerate(warm):
            execute(op, g.materialize(op, seq))
        ops = []  # (kind, wall t0, wall t1, first job, next job)
        for seq, op in enumerate(g.ops(args.ops), start=len(warm)):
            path = g.materialize(op, seq)
            j0, t0 = int(sched.nextJobId()), time.time()
            execute(op, path)
            t1, j1 = time.time(), int(sched.nextJobId())
            ops.append((op["kind"], t0, t1, j0, j1))
        jobs = job_intervals(spark, ops[0][3], ops[-1][4]) if ops else {}
    finally:
        bench.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    print(f"# op_census child={args.child} seed={args.seed} ops={len(ops)} "
          f"slots={n} nproc={bench.nproc()}")
    print(f"{'kind':<16} {'n':>3} {'wall_p50':>9} {'jobs':>5} "
          f"{'job_wall_p50':>12} {'gap_p50':>8}")
    for kind in KINDS:
        mine = [o for o in ops if o[0] == kind]
        if not mine:
            continue
        walls = [t1 - t0 for _, t0, t1, _, _ in mine]
        covers = [
            covered([jobs[j] for j in range(j0, j1) if j in jobs], t0, t1)
            for _, t0, t1, j0, j1 in mine
        ]
        gaps = [w - c for w, c in zip(walls, covers)]
        njobs = statistics.median(j1 - j0 for *_, j0, j1 in mine)
        print(f"{kind:<16} {len(mine):>3} {statistics.median(walls):>9.3f} "
              f"{njobs:>5g} {statistics.median(covers):>12.3f} "
              f"{statistics.median(gaps):>8.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
