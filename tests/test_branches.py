"""Snapshot branches (X269): invisible to main until fast-forward,
branch reads see base+branch, fast-forward refused after main advances,
ref lifecycle."""

import pytest

from corpusama_spark.snapshots import (
    buckets_as_of,
    commit_snapshot,
    read_as_of,
)
from corpusama_spark.tableops import (
    commit_to_branch,
    create_branch,
    fast_forward,
    read_branch,
)


def _write(spark, out, rows):
    spark.createDataFrame(
        rows, "image_id long, bucket int"
    ).write.partitionBy("bucket").mode("append").parquet(out)


def test_branch_build_validate_fast_forward(spark, tmp_path):
    out, snaps = str(tmp_path / "out"), str(tmp_path / "snaps")
    _write(spark, out, [(i, 0) for i in range(5)])
    commit_snapshot(snaps, "main1", [0], 5, 5)

    create_branch(snaps, "v2")
    _write(spark, out, [(i, 1) for i in range(5, 9)])
    commit_to_branch(snaps, "v2", "b1", [1], 4, 4)
    _write(spark, out, [(i, 2) for i in range(9, 12)])
    commit_to_branch(snaps, "v2", "b2", [2], 3, 3)

    # main consumers are completely unaffected by the branch line
    assert buckets_as_of(snaps) == {0}
    assert read_as_of(spark, out, snaps).count() == 5
    # the branch sees base + its own commits
    assert read_branch(spark, out, snaps, "v2").count() == 12

    published = fast_forward(snaps, "v2")
    assert published == [2, 3]
    assert buckets_as_of(snaps) == {0, 1, 2}
    assert read_as_of(spark, out, snaps).count() == 12
    # ref is gone; branch reads now fail, recreate works
    with pytest.raises(ValueError, match="no branch"):
        read_branch(spark, out, snaps, "v2")
    create_branch(snaps, "v2")


def test_fast_forward_refused_when_main_advances(spark, tmp_path):
    out, snaps = str(tmp_path / "out"), str(tmp_path / "snaps")
    _write(spark, out, [(0, 0)])
    commit_snapshot(snaps, "main1", [0], 1, 1)
    create_branch(snaps, "risky")
    _write(spark, out, [(1, 1)])
    commit_to_branch(snaps, "risky", "b", [1], 1, 1)
    # main moves on while the branch is open
    _write(spark, out, [(2, 2)])
    commit_snapshot(snaps, "main2", [2], 1, 1)
    with pytest.raises(RuntimeError, match="not fast-forwardable"):
        fast_forward(snaps, "risky")
    # nothing leaked into main
    assert buckets_as_of(snaps) == {0, 2}
    with pytest.raises(ValueError, match="already exists"):
        create_branch(snaps, "risky")
