"""The fixed-round iteration helper (operators/iterate.py): same rows
as the hand-unrolled loop, no action issued by the loop, and a plan
that stays flat in the round count."""

from __future__ import annotations

from pyspark.sql import functions as F

from tda596_lab02mapreduce_spark.operators.iterate import iterate


def _step(df):
    return df.select("id", ((F.col("v") * 7 + F.col("id")) % 101).alias("v"))


def _plan_depth(df) -> int:
    lines = df._jdf.queryExecution().analyzed().treeString().splitlines()
    return max(len(ln) - len(ln.lstrip(" :+-")) for ln in lines)


def test_iterate_equals_unrolled(spark):
    state = spark.range(40).select("id", (F.col("id") % 13).alias("v"))
    unrolled = _step(_step(_step(state)))
    assert sorted(iterate(state, _step, 3).collect()) == sorted(unrolled.collect())


def test_iterate_starts_no_jobs(spark):
    # a narrow step: under AQE a shuffle step's map stages run when its
    # frame is marked (see the module docstring), which is not an
    # action of the loop's own
    sc = spark.sparkContext
    state = spark.range(40).select("id", (F.col("id") % 13).alias("v"))
    sc.setJobGroup("test_iterate_starts_no_jobs", "iterate")
    try:
        out = iterate(state, _step, 5)
        assert sc.statusTracker().getJobIdsForGroup("test_iterate_starts_no_jobs") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert out.count() == 40


def test_iterate_plan_depth_flat(spark):
    state = spark.range(40).select("id", (F.col("id") % 13).alias("v"))
    assert _plan_depth(iterate(state, _step, 20)) <= _plan_depth(
        iterate(state, _step, 2)
    )
