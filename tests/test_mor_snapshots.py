"""Snapshot-integrated equality deletes (X257): erasure without rewrite,
strict-sequence re-insert survival, time-travel correctness, stacking."""

from pyspark.sql import functions as F

from corpusama_spark.snapshots import (
    bucket_commit_seq,
    commit_snapshot,
    read_as_of,
)
from corpusama_spark.tableops import (
    commit_eq_delete,
    read_as_of_mor,
)


def _write(spark, out, rows):
    spark.createDataFrame(
        rows, "image_id long, caption string, bucket int"
    ).write.partitionBy("bucket").mode("append").parquet(out)


def _ids(df):
    return sorted(r.image_id for r in df.select("image_id").collect())


def test_eq_delete_snapshots_end_to_end(spark, tmp_path):
    out, snaps = str(tmp_path / "out"), str(tmp_path / "snaps")
    _write(spark, out, [(i, f"c{i}", i % 2) for i in range(10)])
    s1 = commit_snapshot(snaps, "r1", [0, 1], 10, 10)
    _write(spark, out, [(i, f"c{i}", 2) for i in range(10, 15)])
    s2 = commit_snapshot(snaps, "r2", [2], 5, 5)
    assert bucket_commit_seq(snaps) == {0: 1, 1: 1, 2: 2}

    # GDPR wave: erase keys 3, 4, 12 — no data file rewritten
    dels = spark.createDataFrame([(3,), (4,), (12,)], "image_id long")
    s3 = commit_eq_delete(dels, out, snaps, "erasure-1")
    assert s3 == 3
    assert _ids(read_as_of_mor(spark, out, snaps)) == sorted(
        set(range(15)) - {3, 4, 12}
    )
    # physical rows still present in the raw read (hard erasure is the
    # bucket rewrite scheduled separately)
    assert len(_ids(read_as_of(spark, out, snaps))) == 15
    # time travel BEFORE the delete sees everything
    assert len(_ids(read_as_of_mor(spark, out, snaps, snapshot_id=s2))) == 15

    # re-insert key 3 in a later snapshot: strict data_seq < delete_seq
    # means the NEW row survives while the old one stays dead
    _write(spark, out, [(3, "c3-new", 3)])
    s4 = commit_snapshot(snaps, "r3", [3], 1, 1)
    ids_now = _ids(read_as_of_mor(spark, out, snaps))
    assert 3 in ids_now and 4 not in ids_now and 12 not in ids_now
    row3 = (
        read_as_of_mor(spark, out, snaps)
        .where(F.col("image_id") == 3)
        .collect()
    )
    assert [r.caption for r in row3] == ["c3-new"]

    # a second delete wave stacks; horizon s3 still shows pre-s4 state
    s5 = commit_eq_delete(
        spark.createDataFrame([(0,)], "image_id long"), out, snaps, "erasure-2"
    )
    assert 0 not in _ids(read_as_of_mor(spark, out, snaps))
    assert _ids(read_as_of_mor(spark, out, snaps, snapshot_id=s3)) == sorted(
        set(range(15)) - {3, 4, 12}
    )
    assert s5 == 5 and s4 == 4 and s1 == 1
