"""Metadata tables (X261): history/partitions/refs as queryable
DataFrames over a real commit chain with deletes, tags, and staging."""

from corpusama_spark.snapshots import (
    commit_snapshot,
    commit_staged,
)
from corpusama_spark.tableops import (
    commit_eq_delete,
    create_tag,
    metadata_history,
    metadata_partitions,
    metadata_refs,
)


def test_metadata_tables_are_queryable_sql(spark, tmp_path):
    out, snaps = str(tmp_path / "out"), str(tmp_path / "snaps")
    spark.createDataFrame(
        [(i, f"c{i}", i % 3) for i in range(12)],
        "image_id long, caption string, bucket int",
    ).write.partitionBy("bucket").mode("append").parquet(out)
    commit_snapshot(snaps, "r1", [0, 1], 8, 8)
    commit_snapshot(snaps, "r2", [2], 4, 4)
    commit_eq_delete(
        spark.createDataFrame([(1,)], "image_id long"), out, snaps, "erase"
    )
    commit_staged(snaps, "r-wap", [7], 1, 1)
    create_tag(snaps, "training-v1", 2)

    hist = metadata_history(spark, snaps)
    hist.createOrReplaceTempView("table_history")
    rows = {
        r.snapshot_id: r
        for r in spark.sql(
            "SELECT * FROM table_history ORDER BY snapshot_id"
        ).collect()
    }
    assert rows[1].kind == "data" and rows[1].parent_id is None
    assert rows[2].parent_id == 1 and rows[2].n_buckets == 1
    assert rows[3].kind == "eq_delete"
    assert rows[4].staged is True
    # operational SQL just works: growth per committed data wave
    total = spark.sql(
        "SELECT sum(n_rows) AS t FROM table_history "
        "WHERE kind = 'data' AND NOT staged"
    ).first().t
    assert total == 12

    parts = {
        r.bucket: r for r in metadata_partitions(spark, snaps, out).collect()
    }
    assert set(parts) == {0, 1, 2}
    assert parts[0].committed_by == 1 and parts[2].committed_by == 2
    assert all(p.n_files >= 1 and p.bytes > 0 for p in parts.values())

    refs = metadata_refs(spark, snaps).collect()
    assert [(r.name, r.snapshot_id) for r in refs] == [("training-v1", 2)]


def test_fast_count_matches_scan_and_declines_honestly(spark, tmp_path):
    from corpusama_spark.snapshots import (
        fast_count,
        read_as_of,
    )
    from corpusama_spark.tableops import (
        drop_partitions,
    )

    out, snaps = str(tmp_path / "o2"), str(tmp_path / "s2")

    def _w(rows):
        spark.createDataFrame(
            rows, "image_id long, bucket int"
        ).write.partitionBy("bucket").mode("append").parquet(out)

    _w([(i, i % 2) for i in range(10)])
    s1 = commit_snapshot(snaps, "r1", [0, 1], 10, 10)
    _w([(i, 2) for i in range(10, 14)])
    s2 = commit_snapshot(snaps, "r2", [2], 4, 4)
    # metadata count == scan count, at head and time-traveled
    assert fast_count(snaps) == read_as_of(spark, out, snaps).count() == 14
    assert fast_count(snaps, s1) == 10
    # a whole-wave overwrite stays answerable (old wave's contribution
    # drops, the new one counts) — physically replace the bucket like
    # dynamic partition overwrite does
    import shutil

    shutil.rmtree(f"{out}/bucket=2")
    _w([(100, 2)])
    commit_snapshot(snaps, "r3", [2], 1, 1)
    assert fast_count(snaps) == read_as_of(spark, out, snaps).count() == 11
    # dropping ONE bucket of a multi-bucket wave: the wave's per-bucket
    # split is unknown from its single summary -> honest decline
    drop_partitions(snaps, "ttl", [0])
    assert fast_count(snaps) is None
    # an eq-delete is likewise unknowable from metadata
    commit_eq_delete(
        spark.createDataFrame([(1,)], "image_id long"), out, snaps, "erase"
    )
    assert fast_count(snaps) is None
    # but time travel BEFORE the drop/delete still answers from metadata
    assert fast_count(snaps, s2) == 14
