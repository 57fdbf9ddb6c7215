"""Generated-code census: what a second pass over the registry compiles.

Runs every one-shot registry query (no build/read phase split) twice in
one ``get_spark`` session, each run materialized through the noop sink,
and reads Spark's ``CodegenMetrics`` through py4j around every run. A
compile is one Janino compilation of a generated class: a whole-stage
codegen stage or an expression projection/predicate/ordering. Prints:

- the classes compiled in pass 1 and the pass's wall time;
- the classes compiled again in pass 2, with each query that compiled
  any and its count, and the pass's wall time;
- the JVM's metaspace in use after each pass (generated classes live
  there).

A pass-2 compile is a class the generated-code cache no longer held
(evicted at the cap, ``spark.sql.codegen.cache.maxEntries``) or code
whose source text differs from run to run, which no cache size removes.

Usage: python scripts/codegen_census.py [sf_dir] [--max-entries N]

Default sf_dir is /root/testdata/sf0.001. ``--max-entries`` builds the
session with another cache cap (100 is Spark's default) to show what the
session's pinned cap saves; without it the session keeps its own.
``SPARK_GRAFT_CPUS`` sets the local core count as for every session.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)


def _compiles(jvm) -> int:
    metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def _metaspace_mb(jvm) -> float:
    for pool in jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans():
        if pool.getName() == "Metaspace":
            return pool.getUsage().getUsed() / 2**20
    return float("nan")


def _run_pass(spark, queries, sf_dir) -> tuple[dict[str, int], float, list[str]]:
    """Run each query once; returns {query: compiles}, wall s, failures."""
    jvm = spark.sparkContext._jvm
    counts, failed = {}, []
    t0 = time.perf_counter()
    for q in queries:
        before = _compiles(jvm)
        try:
            q.spark(spark, sf_dir).write.format("noop").mode("overwrite").save()
        except Exception as e:  # report it and go on with the census
            failed.append(f"{q.name}: {str(e).splitlines()[0][:200]}")
        counts[q.name] = _compiles(jvm) - before
    return counts, time.perf_counter() - t0, failed


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.001")
    ap.add_argument("--max-entries", type=int, default=None)
    args = ap.parse_args(argv)
    if not os.path.isdir(args.sf_dir):
        raise SystemExit(f"not a directory: {args.sf_dir}")

    from parquet_demo_spark.registry import all_queries
    from parquet_demo_spark.session import get_spark

    extra = {}
    if args.max_entries is not None:
        extra["spark.sql.codegen.cache.maxEntries"] = str(args.max_entries)
    spark = get_spark(app_name="codegen_census", extra_conf=extra)
    try:
        jvm = spark.sparkContext._jvm
        cap = spark.conf.get("spark.sql.codegen.cache.maxEntries")
        queries = [q for q in all_queries().values() if q.build is None]
        print(f"# {len(queries)} one-shot queries at {args.sf_dir}; "
              f"{spark.sparkContext.master}; codegen cache cap {cap}")
        for n in (1, 2):
            counts, wall, failed = _run_pass(spark, queries, args.sf_dir)
            total = sum(counts.values())
            print(f"pass {n}: {total} classes compiled in {wall:.1f} s; "
                  f"metaspace {_metaspace_mb(jvm):.0f} MB")
            if n == 2:
                again = {k: v for k, v in sorted(counts.items()) if v}
                print(f"pass 2: {len(again)} queries compiled again: "
                      + ", ".join(f"{k} {v}" for k, v in again.items()))
            for msg in failed:
                print(f"pass {n} FAILED {msg}")
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
