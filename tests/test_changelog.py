"""Row-level CDC changelog (X253): four change kinds, null-safe compare,
multi-key, snapshot integration with churned-bucket pruning."""

from pyspark.sql import functions as F

from corpusama_spark.operators.upsert import row_changelog


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def test_four_change_kinds(spark):
    before = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30)], "k long, v long"
    )
    after = spark.createDataFrame(
        [(2, 20), (3, 31), (4, 40)], "k long, v long"
    )
    got = _rows(row_changelog(before, after, ("k",)))
    assert got == [
        (1, 10, "delete"),
        (3, 30, "update_before"),
        (3, 31, "update_after"),
        (4, 40, "insert"),
    ]
    # unchanged key 2 emits nothing; changelog size ~ change, not table


def test_null_safe_compare_and_null_values(spark):
    before = spark.createDataFrame(
        [(1, None), (2, None), (3, 3)], "k long, v long"
    )
    after = spark.createDataFrame(
        [(1, None), (2, 9), (3, None)], "k long, v long"
    )
    got = _rows(row_changelog(before, after, ("k",)))
    # NULL == NULL is unchanged; NULL -> value and value -> NULL are updates
    assert (1, None, "update_before") not in got
    assert (2, None, "update_before") in got and (2, 9, "update_after") in got
    assert (3, 3, "update_before") in got and (3, None, "update_after") in got


def test_multi_key_and_default_compare_cols(spark):
    before = spark.createDataFrame(
        [("a", 1, 10, "x"), ("a", 2, 20, "y")],
        "s string, k long, v long, tag string",
    )
    after = spark.createDataFrame(
        [("a", 1, 10, "z"), ("b", 2, 20, "y")],
        "s string, k long, v long, tag string",
    )
    got = _rows(row_changelog(before, after, ("s", "k")))
    assert ("a", 1, 10, "x", "update_before") in got  # tag differs
    assert ("a", 2, 20, "y", "delete") in got
    assert ("b", 2, 20, "y", "insert") in got


def test_snapshot_changelog_prunes_untouched_buckets(spark, tmp_path):
    from corpusama_spark.snapshots import (
        commit_snapshot,
    )
    from corpusama_spark.tableops import (
        _churned_buckets,
        snapshot_changelog,
    )

    out = str(tmp_path / "out")
    snaps = str(tmp_path / "snaps")
    base = spark.createDataFrame(
        [(i, i * 10, i % 3) for i in range(30)],
        "image_id long, score long, bucket int",
    )
    base.write.partitionBy("bucket").mode("overwrite").parquet(out)
    commit_snapshot(snaps, "r1", [0, 1], 20, 20)
    commit_snapshot(snaps, "r2", [2], 10, 10)
    # only bucket 2 churned between snapshots 1 and 2
    assert _churned_buckets(snaps, 1, 2) == {2}
    log = snapshot_changelog(
        spark, out, snaps, 1, 2, keys=("image_id",), compare_cols=["score"]
    )
    rows = log.collect()
    assert rows and all(r.change == "insert" for r in rows)
    assert sorted(r.image_id for r in rows) == [i for i in range(30) if i % 3 == 2]
    # full-range changelog from before-anything (0) to latest sees all rows
    all_log = snapshot_changelog(
        spark, out, snaps, 0, None, keys=("image_id",), compare_cols=["score"]
    )
    assert all_log.count() == 30
    assert all_log.where(F.col("change") != "insert").count() == 0
