"""Hard erasure (X260): residue worklist, physical rewrite drops erased
bytes, logical table invariant, re-insert survives, idempotent."""

from pyspark.sql import functions as F

from corpusama_spark.operators.maintenance import (
    erasure_status,
    rewrite_erased_buckets,
)
from corpusama_spark.snapshots import (
    commit_snapshot,
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


def test_hard_erasure_end_to_end(spark, tmp_path):
    out, snaps = str(tmp_path / "out"), str(tmp_path / "snaps")
    _write(spark, out, [(i, f"c{i}", i % 2) for i in range(10)])
    commit_snapshot(snaps, "r1", [0, 1], 10, 10)
    _write(spark, out, [(i, f"c{i}", 2) for i in range(10, 15)])
    commit_snapshot(snaps, "r2", [2], 5, 5)
    commit_eq_delete(
        spark.createDataFrame([(3,), (4,), (12,)], "image_id long"),
        out, snaps, "erase-1",
    )
    # re-insert key 3 after the delete: must survive everything below
    _write(spark, out, [(3, "c3-new", 3)])
    commit_snapshot(snaps, "r3", [3], 1, 1)

    st = erasure_status(spark, out, snaps)
    assert st["n_delete_keys"] == 3
    assert st["residue_buckets"] == [0, 1, 2]  # old 3(b=1),4(b=0),12(b=2)
    assert st["n_residue_rows"] == 3

    logical_before = _ids(read_as_of_mor(spark, out, snaps))
    res = rewrite_erased_buckets(spark, out, snaps, "hard-erase")
    assert res["rewritten_buckets"] == [0, 1, 2]

    # bytes gone: the raw, snapshot-ignorant read no longer contains the
    # erased rows (re-inserted key 3 remains, old caption c3 gone)
    raw = spark.read.parquet(out)
    caps = sorted(
        r.caption for r in raw.where(F.col("image_id") == 3).collect()
    )
    assert caps == ["c3-new"]
    assert raw.where(F.col("image_id").isin(4, 12)).count() == 0

    # logical table identical before/after the rewrite
    assert _ids(read_as_of_mor(spark, out, snaps)) == logical_before

    # idempotent: no residue left, second run is a no-op
    st2 = erasure_status(spark, out, snaps)
    assert st2["residue_buckets"] == [] and st2["n_residue_rows"] == 0
    assert rewrite_erased_buckets(spark, out, snaps, "again") == {
        "rewritten_buckets": [],
        "n_rows_kept": 0,
    }
