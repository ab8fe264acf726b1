"""Snapshot workflow ops (X240): write-audit-publish visibility, abandon,
incremental scans, immutable tags, expiry guard around pending audits."""

import pytest
from pyspark.sql import functions as F


def _wave(spark, out, bucket, n):
    spark.createDataFrame(
        [(f"i{bucket}-{j}", j % 2 == 0) for j in range(n)],
        "image_id string, keep boolean",
    ).withColumn("bucket", F.lit(bucket)).write.mode("append").partitionBy(
        "bucket"
    ).parquet(out)


def test_write_audit_publish(spark, tmp_path):
    from corpusama_spark.snapshots import (
        commit_snapshot,
        commit_staged,
        publish_snapshot,
        read_as_of,
    )
    from corpusama_spark.tableops import (
        read_staged,
    )

    out, snaps = str(tmp_path / "t"), str(tmp_path / "s")
    _wave(spark, out, 0, 4)
    commit_snapshot(snaps, "r", [0], 4, 2)

    # stage wave 1: data on disk, snapshot invisible
    _wave(spark, out, 1, 6)
    sid = commit_staged(snaps, "r", [1], 6, 3)
    assert read_as_of(spark, out, snaps).count() == 4
    # the audit sees exactly the staged rows
    assert read_staged(spark, out, snaps, sid).count() == 6

    publish_snapshot(snaps, sid)
    assert read_as_of(spark, out, snaps).count() == 10
    publish_snapshot(snaps, sid)  # idempotent
    assert read_as_of(spark, out, snaps).count() == 10


def test_abandon_refuses_published(spark, tmp_path):
    from corpusama_spark.snapshots import (
        abandon_snapshot,
        commit_snapshot,
        commit_staged,
        latest_snapshot_id,
        read_as_of,
    )

    out, snaps = str(tmp_path / "t"), str(tmp_path / "s")
    _wave(spark, out, 0, 3)
    s1 = commit_snapshot(snaps, "r", [0], 3, 1)
    _wave(spark, out, 1, 3)
    bad = commit_staged(snaps, "r", [1], 3, 0)
    abandon_snapshot(snaps, bad)
    assert latest_snapshot_id(snaps) == s1
    assert read_as_of(spark, out, snaps).count() == 3
    # the freed id is reused by the next commit — the abandoned
    # snapshot never became history, so no reader could have pinned it
    _wave(spark, out, 2, 2)
    s3 = commit_snapshot(snaps, "r", [2], 2, 1)
    assert s3 == bad and read_as_of(spark, out, snaps).count() == 5
    with pytest.raises(ValueError):
        abandon_snapshot(snaps, s3)


def test_incremental_scan(spark, tmp_path):
    from corpusama_spark.snapshots import commit_snapshot
    from corpusama_spark.tableops import read_incremental

    out, snaps = str(tmp_path / "t"), str(tmp_path / "s")
    ids = []
    for b, n in ((0, 2), (1, 3), (2, 4)):
        _wave(spark, out, b, n)
        ids.append(commit_snapshot(snaps, "r", [b], n, n))
    assert read_incremental(spark, out, snaps, ids[0]).count() == 7
    assert read_incremental(spark, out, snaps, ids[0], ids[1]).count() == 3
    assert read_incremental(spark, out, snaps, None, ids[0]).count() == 2
    assert read_incremental(spark, out, snaps, ids[2]).count() == 0


def test_tags_immutable(spark, tmp_path):
    from corpusama_spark.snapshots import commit_snapshot
    from corpusama_spark.tableops import create_tag, read_tag

    out, snaps = str(tmp_path / "t"), str(tmp_path / "s")
    _wave(spark, out, 0, 3)
    s1 = commit_snapshot(snaps, "r", [0], 3, 1)
    create_tag(snaps, "training-v1")
    _wave(spark, out, 1, 5)
    commit_snapshot(snaps, "r", [1], 5, 2)
    # the tag still reads the pinned snapshot, not the head
    assert read_tag(spark, out, snaps, "training-v1").count() == 3
    assert create_tag(snaps, "training-v1", s1) == s1  # same pin: ok
    with pytest.raises(ValueError):
        create_tag(snaps, "training-v1")  # re-pin to head: refused
    with pytest.raises(ValueError):
        read_tag(spark, out, snaps, "nope")


def test_expiry_waits_for_pending_audit(spark, tmp_path):
    from corpusama_spark.snapshots import (
        commit_snapshot,
        commit_staged,
        expire_snapshots,
        expiry_plan,
        publish_snapshot,
    )

    out, snaps = str(tmp_path / "t"), str(tmp_path / "s")
    for b in range(4):
        _wave(spark, out, b, 2)
        commit_snapshot(snaps, "r", [b], 2, 1)
    _wave(spark, out, 9, 2)
    sid = commit_staged(snaps, "r", [9], 2, 1)
    assert expiry_plan(snaps, keep_last=2)["expire_ids"] == []
    assert expire_snapshots(snaps, keep_last=2)["expire_ids"] == []
    publish_snapshot(snaps, sid)
    assert expire_snapshots(snaps, keep_last=2)["expire_ids"] != []
