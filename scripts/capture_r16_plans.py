#!/usr/bin/env python
"""Capture round-16 before/after physical plans under plans/r16/.

"Before" plans replay the pre-round-16 planning posture (scope dial
forced off via SPARK_GRAFT_SMALL_PLAN_BYTES=0 where the change is a
measured-input plan scope); "after" plans come from the live code at
the default dial. The partitioned read is captured live only: its
committed "before" plan is the record of the removed per-child path.
Like r15, action-time conf scopes never appear in a declared query's
RETURNED plan — the observable artifact is the plan the scoped action
runs, captured here by planning the same logical query inside vs
outside the scope.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "plans",
    "r16",
)


def explain_str(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def write(name: str, df) -> None:
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, name), "w") as fh:
        fh.write(explain_str(df))
    print("wrote", name)


def _q196_iteration_plan(spark, sf: str):
    """The per-iteration pair-count query of the BPE training loop
    (_q196_mine's hot path), planned at the CURRENT session conf."""
    from pyspark.sql import functions as F

    from parquet_demo_spark.catalog import load
    from parquet_demo_spark.functions import tokens

    docs = load(spark, sf, "documents").select("text")
    vocab = (
        docs.select(F.explode(tokens("text")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").cast("bigint").alias("freq"))
        .select(
            F.regexp_replace("token", "(.)", r"|$1").alias("seg"),
            "freq",
        )
    )
    pairs = (
        vocab.select(
            "freq",
            F.expr("split(substring(seg, 2), '\\\\|')").alias("l"),
        )
        .select(
            "freq",
            F.explode(
                F.arrays_zip(
                    F.expr("slice(l, 1, size(l) - 1)").alias("a"),
                    F.expr("slice(l, 2, size(l) - 1)").alias("b"),
                )
            ).alias("p"),
        )
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"), "freq")
    )
    return (
        pairs.groupBy("a", "b")
        .agg(F.sum("freq").cast("bigint").alias("score"))
        .orderBy(F.col("score").desc(), "a", "b")
        .limit(1)
    )


def main() -> None:
    from parquet_demo_spark import tuning
    from parquet_demo_spark.session import get_spark

    spark = get_spark(app_name="capture_r16_plans")

    # --- q196/q200 training-boundary scope -------------------------------
    # before = the iteration planned at session posture (scope off);
    # after = planned under the measured-input scope _q196_mine now
    # enters (sub-threshold corpus -> AQE off, 4 shuffle partitions).
    q = _q196_iteration_plan(spark, SF)
    write("q200_bpe_train_iteration_before.txt", q)
    corpus = tuning.dir_bytes(
        os.path.join(SF, "documents.parquet"),
        stop_at=tuning.small_plan_threshold(),
    )
    with tuning.plan_scope(spark, corpus if corpus > 0 else None):
        write(
            "q200_bpe_train_iteration_after.txt",
            _q196_iteration_plan(spark, SF),
        )

    # --- partitioned MOR fused table read (q195/q198/q201/q182) ---------
    # the live fused read (one base scan + one fold + one DV anti-join).
    # The table has no per-child read path left to replay, so the
    # committed q201_mor_table_read_before.txt (the r15 shape: one
    # delta window + one anti-join per child) stays as the record.
    from parquet_demo_spark.registry import all_queries

    q = all_queries()["q201_mor_table_wap"]
    store, ev = q.build(spark, SF)
    # drive the store into the representative post-publish state —
    # live delta dirs layered over DV-carrying compacted bases — so the
    # captured plans show the delta fold and the DV anti-join, not just
    # the base union
    q.read(spark, SF, (store, ev)).write.mode("overwrite").format(
        "noop"
    ).save()
    from pyspark.sql import functions as FF

    store.merge(ev.filter(FF.col("event_id") % 11 == 0))
    write("q201_mor_table_read_after.txt", store.read(spark))

    # --- q126/q127 ANN: vectorized hyperplane bucket + norm-precomputed
    # cosine. before = interpreted fold bucket + full cosine (3 folds
    # per pair); after = ArrowEvalPython bucket + dot/(nrm*qn) (1 fold)
    from pyspark.sql import functions as F2

    from parquet_demo_spark.functions import l2_norm
    from parquet_demo_spark.operators import similarity as sim

    base, probes0, _planted = sim._planted_sets(spark, SF)
    write(
        "q126_bucket_build_before.txt",
        base.withColumn(
            "bkt", sim._hyperplane_bucket_expr(F2.col("e"))
        ),
    )
    write(
        "q126_bucket_build_after.txt",
        base.withColumn("bkt", sim._hyperplane_bucket(F2.col("e"))),
    )
    probes_b = probes0.select("qid", "qe")
    corpus_b = base.select("vec_id", "e")
    write(
        "q126_top3_truth_before.txt",
        sim._top3(corpus_b, probes_b, F2.lit(True)),
    )
    # after = the real read shape: norms ride in MATERIALIZED from the
    # build checkpoints, so the pair step plans exactly one fold
    probes_c, fc_c, _pc_c = sim._q126_build(spark, SF)
    write(
        "q126_top3_truth_after.txt",
        sim._top3(fc_c, probes_c, F2.lit(True)),
    )


if __name__ == "__main__":
    main()
