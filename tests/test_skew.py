"""Explicit skew handling (north_rule): the filter plan must spread
pathological key distributions across tasks.

The hazard at 10^12 rows: phash buckets are the storage layout, and a
boilerplate flood (millions of identical/near-identical images or captions)
could land one bucket on one task if any stage were keyed on phash.
run_pipeline's plan has no exchange at all, so its parallelism follows
the input splits (sized in bytes by the scan) and never a key.
"""

import pytest
from pyspark.sql import functions as F

from corpusama_spark.pipeline import FilterConfig, run_pipeline
from corpusama_spark.sources.synth import captions_df


def test_hot_phash_bucket_runs_in_input_splits(spark):
    # all rows forced into ONE phash bucket — the worst case
    caps = captions_df(spark, 400, partitions=4).withColumn("phash", F.lit(7))
    decisions = run_pipeline(caps, FilterConfig())
    plan = decisions._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    sc = spark.sparkContext
    sc.setJobGroup("skew-run", "skew-run")
    try:
        decisions.write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    stages = [
        s
        for j in tracker.getJobIdsForGroup("skew-run")
        for s in tracker.getJobInfo(j).stageIds
    ]
    # one stage, one task per input partition: the hot key never matters
    assert [tracker.getStageInfo(s).numTasks for s in stages] == [4]


def test_pipeline_correct_under_pathological_skew(spark):
    # decisions must be identical whether or not the input is skew-bucketed
    caps = captions_df(spark, 200, partitions=4)
    skewed = caps.withColumn("phash", F.lit(7))
    cols = ["image_id", "l1", "drop_reason", "keep"]
    a = {
        r["image_id"]: tuple(r)
        for r in run_pipeline(caps, FilterConfig()).select(*cols).collect()
    }
    b = {
        r["image_id"]: tuple(r)
        for r in run_pipeline(skewed, FilterConfig()).select(*cols).collect()
    }
    assert a == b


def test_concentration_stats_uniform_and_degenerate(spark):
    from corpusama_spark.operators.skew import concentration_stats

    uniform = spark.createDataFrame(
        [(f"s{i % 4}", i) for i in range(40)], "src string, x long"
    )
    r = concentration_stats(uniform, "src").collect()[0]
    assert r.n_groups == 4 and r.gini == 0.0
    assert r.norm_entropy == 1.0 and r.top_share == 0.25
    single = spark.createDataFrame([("only", i) for i in range(5)],
                                   "src string, x long")
    r1 = concentration_stats(single, "src").collect()[0]
    assert r1.n_groups == 1 and r1.gini == 0.0
    assert r1.entropy == 0.0 and r1.norm_entropy == 0.0
    assert r1.top_share == 1.0


def test_concentration_stats_skewed_is_high_gini(spark):
    from corpusama_spark.operators.skew import concentration_stats

    rows = [("big", i) for i in range(98)] + [("a", 0), ("b", 0)]
    df = spark.createDataFrame(rows, "src string, x long")
    r = concentration_stats(df, "src").collect()[0]
    # sizes (1,1,98): gini = (2*(1*1+2*1+3*98) - 4*100) / (3*100)
    assert r.gini == round((2 * 297 - 400) / 300, 6)
    assert r.top_share == 0.98 and r.norm_entropy < 0.15


def test_theil_decomposition_identity_and_hand_case(spark):
    """T_total = T_between + T_within exactly (residual ~0), values
    match the direct per-row formula computed in Python."""
    import math

    from corpusama_spark.operators.skew import theil_decomposition

    data = [("a", 10), ("a", 20), ("a", 30), ("b", 100), ("b", 140)]
    df = spark.createDataFrame(data, ["source", "n_chars"])
    (row,) = theil_decomposition(df, "source", "n_chars").collect()

    xs = [x for _, x in data]
    n, X = len(xs), sum(xs)
    mu = X / n
    t_total = sum((x / X) * math.log(x / mu) for x in xs)
    groups = {"a": [10, 20, 30], "b": [100, 140]}
    t_between = sum(
        (sum(g) / X) * math.log((sum(g) / X) / (len(g) / n))
        for g in groups.values()
    )
    assert row["n"] == 5
    assert row["theil_total"] == pytest.approx(t_total, abs=1e-6)
    assert row["theil_between"] == pytest.approx(t_between, abs=1e-6)
    assert row["theil_within"] == pytest.approx(
        t_total - t_between, abs=1e-6
    )
    assert abs(row["residual"]) < 1e-6
    assert row["n_excluded"] == 0


def test_theil_excludes_nonpositive_even_for_all_excluded_groups(spark):
    from corpusama_spark.operators.skew import theil_decomposition

    df = spark.createDataFrame(
        [("a", 10), ("a", 0), ("b", None), ("c", -5), ("c", 0)],
        "source string, n_chars int",
    )
    (row,) = theil_decomposition(df, "source", "n_chars").collect()
    assert row["n"] == 1
    assert row["n_excluded"] == 4  # group c fully excluded still counts
    assert row["theil_total"] == 0.0  # single value → perfect equality


def test_theil_equal_values_zero_inequality(spark):
    from corpusama_spark.operators.skew import theil_decomposition

    df = spark.createDataFrame(
        [("a", 7), ("a", 7), ("b", 7), ("b", 7)], ["source", "n_chars"]
    )
    (row,) = theil_decomposition(df, "source", "n_chars").collect()
    assert row["theil_total"] == 0.0
    assert row["theil_between"] == 0.0
    assert row["theil_within"] == 0.0
