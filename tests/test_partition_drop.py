"""Partition drop + TTL retention (X264): metadata-only drop, time
travel keeps dropped data, re-add revives, expiry absorbs the drop,
vacuum reclaims only after expiry — the full lifecycle."""

import pytest

from corpusama_spark.operators.maintenance import orphan_scan, vacuum_orphans
from corpusama_spark.snapshots import (
    buckets_as_of,
    commit_snapshot,
    expire_snapshots,
    read_as_of,
)
from corpusama_spark.tableops import (
    drop_partitions,
    storage_live_buckets,
    ttl_plan,
)


def _write(spark, out, rows):
    spark.createDataFrame(
        rows, "image_id long, bucket int"
    ).write.partitionBy("bucket").mode("append").parquet(out)


def test_drop_ttl_expire_vacuum_lifecycle(spark, tmp_path):
    out, snaps = str(tmp_path / "out"), str(tmp_path / "snaps")
    _write(spark, out, [(i, i % 2) for i in range(8)])        # buckets 0,1
    s1 = commit_snapshot(snaps, "wave1", [0, 1], 8, 8)
    _write(spark, out, [(i, 2) for i in range(8, 12)])        # bucket 2
    s2 = commit_snapshot(snaps, "wave2", [2], 4, 4)

    # TTL preview: everything last committed at or before wave 1
    assert ttl_plan(snaps, s1) == [0, 1]
    with pytest.raises(ValueError, match="uncommitted"):
        drop_partitions(snaps, "typo", [9])

    s3 = drop_partitions(snaps, "ttl", [0, 1])
    assert buckets_as_of(snaps) == {2}
    assert read_as_of(spark, out, snaps).count() == 4
    # time travel BEFORE the drop still reads the dropped buckets
    assert read_as_of(spark, out, snaps, snapshot_id=s2).count() == 12
    # ... so the files are storage-live and the vacuum must NOT touch them
    assert storage_live_buckets(snaps) == {0, 1, 2}
    assert orphan_scan(out, snaps)["orphan_buckets"] == []

    # re-adding a dropped bucket revives it
    _write(spark, out, [(100, 1)])
    commit_snapshot(snaps, "wave3", [1], 1, 1)
    assert buckets_as_of(snaps) == {1, 2}

    # expiry past the drop absorbs it into the squashed base...
    expire_snapshots(snaps, keep_last=1)
    assert buckets_as_of(snaps) == {1, 2}
    # ...bucket 0 is now unreachable from every remaining snapshot
    assert storage_live_buckets(snaps) == {1, 2}
    plan = orphan_scan(out, snaps)
    assert plan["orphan_buckets"] == [0]
    res = vacuum_orphans(out, snaps, older_than_s=0)
    assert res["removed_buckets"] == [0]
    # logical reads unchanged by the vacuum
    assert sorted(
        r.image_id for r in read_as_of(spark, out, snaps).collect()
    ) == [1, 3, 5, 7, 8, 9, 10, 11, 100]
    assert s3 == 3
