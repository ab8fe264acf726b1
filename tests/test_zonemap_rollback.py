"""X273 zone-map data skipping + X274 snapshot rollback.

Zone maps are the Iceberg manifest column-bounds shape: per-bucket
[min, max] recorded at commit time, range predicates plan only
intersecting buckets, missing bounds must scan (never silently prune),
and bounds follow bucket-overwrite/drop semantics exactly like rows.
Rollback is Iceberg rollback_to_snapshot: a metadata-only commit
restoring past bucket state, refusing when the target's files were
physically overwritten since.
"""

import pytest

from corpusama_spark.snapshots import (
    buckets_as_of,
    commit_snapshot,
    fast_count,
    read_as_of,
)
from corpusama_spark.tableops import (
    backfill_column_stats,
    column_stats_as_of,
    compute_column_stats,
    drop_partitions,
    plan_scan_for_range,
    read_range,
    rollback,
)


def _write(spark, out, lo, hi, nb=4, shift=0):
    df = spark.createDataFrame(
        [(i, (i + shift) * 10, i % nb) for i in range(lo, hi)],
        "image_id long, v long, bucket int",
    )
    df.write.partitionBy("bucket").mode("append").parquet(out)
    return df


def test_zonemap_plan_and_read(spark, tmp_path):
    out, snaps = str(tmp_path / "out"), str(tmp_path / "snaps")
    df = _write(spark, out, 0, 40)
    stats = compute_column_stats(df, ["v"])
    assert set(stats) == {0, 1, 2, 3}
    commit_snapshot(snaps, "r1", [0, 1, 2, 3], 40, 40, column_stats=stats)

    # bucket b holds v in {10b, 10(b+4), ...}: min=10b, max=10(36+b)
    assert column_stats_as_of(snaps)[2]["v"] == [20, 380]
    plan = plan_scan_for_range(snaps, "v", 0, 5)
    assert plan["scan"] == [0] and plan["pruned"] == [1, 2, 3]
    # the pruned read equals the full-scan filter row-for-row
    got = sorted(
        r.image_id for r in read_range(spark, out, snaps, "v", 100, 130).collect()
    )
    want = sorted(
        r.image_id
        for r in read_as_of(spark, out, snaps).where("v between 100 and 130").collect()
    )
    assert got == want == [10, 11, 12, 13]


def test_zonemap_missing_stats_must_scan(spark, tmp_path):
    out, snaps = str(tmp_path / "out"), str(tmp_path / "snaps")
    df = _write(spark, out, 0, 40)
    stats = compute_column_stats(df.where("bucket < 2"), ["v"])
    commit_snapshot(snaps, "r1", [0, 1, 2, 3], 40, 40, column_stats=stats)
    plan = plan_scan_for_range(snaps, "v", 10_000, 20_000)
    # bounded buckets prove emptiness; unbounded ones must scan
    assert plan["pruned"] == [0, 1]
    assert plan["scan"] == plan["unbounded"] == [2, 3]


def test_zonemap_overwrite_clears_stale_bounds(spark, tmp_path):
    out, snaps = str(tmp_path / "out"), str(tmp_path / "snaps")
    df = _write(spark, out, 0, 40)
    commit_snapshot(
        snaps, "r1", [0, 1, 2, 3], 40, 40,
        column_stats=compute_column_stats(df, ["v"]),
    )
    # bucket 1 re-committed WITHOUT stats: its old bounds must clear,
    # else the shifted rows (v up to 10*1039) would be wrongly pruned
    _write(spark, out, 41, 42, shift=1000)
    commit_snapshot(snaps, "r2", [1], 1, 1)
    assert 1 not in column_stats_as_of(snaps)
    plan = plan_scan_for_range(snaps, "v", 10_000, 20_000)
    assert 1 in plan["scan"] and 1 in plan["unbounded"]
    # drop removes bounds with the bucket
    drop_partitions(snaps, "ttl", [2])
    assert 2 not in column_stats_as_of(snaps)


def test_rollback_restores_and_refuses(spark, tmp_path):
    out, snaps = str(tmp_path / "out"), str(tmp_path / "snaps")
    _write(spark, out, 0, 40)
    s1 = commit_snapshot(snaps, "r1", [0, 1, 2, 3], 40, 40)
    drop_partitions(snaps, "ttl", [1])
    spark.createDataFrame(
        [(100, 0, 7)], "image_id long, v long, bucket int"
    ).write.partitionBy("bucket").mode("append").parquet(out)
    commit_snapshot(snaps, "r3", [7], 1, 1)
    assert buckets_as_of(snaps) == {0, 2, 3, 7}

    rb = rollback(snaps, "undo", s1)
    assert buckets_as_of(snaps) == {0, 1, 2, 3}
    rows = sorted(
        r.image_id for r in read_as_of(spark, out, snaps).collect()
    )
    assert rows == list(range(40))  # bad wave gone, dropped bucket back
    # history intact: time travel still sees the pre-rollback state
    assert buckets_as_of(snaps, rb - 1) == {0, 2, 3, 7}
    # metadata-only count is honestly declined across a rollback
    assert fast_count(snaps) is None

    # a bucket physically re-committed after the target refuses
    spark.createDataFrame(
        [(101, 0, 0)], "image_id long, v long, bucket int"
    ).write.partitionBy("bucket").mode("append").parquet(out)
    commit_snapshot(snaps, "r5", [0], 1, 1)
    with pytest.raises(ValueError, match="re-committed"):
        rollback(snaps, "undo2", s1)
    with pytest.raises(ValueError, match="future"):
        rollback(snaps, "undo3", 99)


def test_backfill_stats_only_snapshot(spark, tmp_path):
    """X275: ANALYZE parity — bounds for unbounded live buckets are
    computed from committed files and recorded WITHOUT touching
    ownership (fast_count still answers; a second backfill is a no-op)."""
    out, snaps = str(tmp_path / "out"), str(tmp_path / "snaps")
    df = _write(spark, out, 0, 40)
    commit_snapshot(
        snaps, "r1", [0, 1, 2, 3], 40, 40,
        column_stats=compute_column_stats(df.where("bucket < 2"), ["v"]),
    )
    assert plan_scan_for_range(snaps, "v", 0, 5)["unbounded"] == [2, 3]

    sid = backfill_column_stats(spark, out, snaps, "analyze", ["v"])
    assert sid is not None
    plan = plan_scan_for_range(snaps, "v", 0, 5)
    assert plan["unbounded"] == [] and plan["scan"] == [0]
    # ownership and metadata counting untouched by the stats commit
    assert fast_count(snaps) == 40
    assert backfill_column_stats(spark, out, snaps, "again", ["v"]) is None


def test_expiry_squash_preserves_bounds(spark, tmp_path):
    from corpusama_spark.snapshots import expire_snapshots

    out, snaps = str(tmp_path / "out"), str(tmp_path / "snaps")
    df = _write(spark, out, 0, 40)
    commit_snapshot(
        snaps, "r1", [0, 1, 2, 3], 40, 40,
        column_stats=compute_column_stats(df, ["v"]),
    )
    commit_snapshot(snaps, "r2", [], 0, 0)
    commit_snapshot(snaps, "r3", [], 0, 0)
    before = column_stats_as_of(snaps)
    plan = expire_snapshots(snaps, keep_last=2)
    assert plan["expire_ids"]
    assert column_stats_as_of(snaps) == before
    assert plan_scan_for_range(snaps, "v", 0, 5)["pruned"] == [1, 2, 3]
