"""Table maintenance (X255): orphan scan finds exactly the uncommitted
buckets + litter, vacuum honors the age guard and never touches committed
data, small-file report flags fragmentation, compaction round-trips."""

import os
import pathlib
import time

from pyspark.sql import functions as F

from corpusama_spark.operators.maintenance import (
    compact_bucket,
    orphan_scan,
    small_file_report,
    vacuum_orphans,
)
from corpusama_spark.snapshots import commit_snapshot, read_as_of


def _setup(spark, tmp_path, fragments=1):
    out, snaps = str(tmp_path / "out"), str(tmp_path / "snaps")
    df = spark.createDataFrame(
        [(i, i % 4, f"cap {i}") for i in range(40)],
        "image_id long, bucket int, caption string",
    ).repartition(fragments)
    df.write.partitionBy("bucket").mode("overwrite").parquet(out)
    # commit buckets 0..2 only: bucket=3 is a crashed wave's orphan
    commit_snapshot(snaps, "r1", [0, 1, 2], 30, 30)
    return out, snaps


def test_orphan_scan_and_vacuum(spark, tmp_path):
    out, snaps = _setup(spark, tmp_path)
    # add writer litter
    litter_dir = pathlib.Path(out) / "_temporary"
    litter_dir.mkdir()
    (litter_dir / "part-stage").write_text("x")
    (pathlib.Path(out) / ".tmp-stage").write_text("y")

    plan = orphan_scan(out, snaps)
    assert plan["live_buckets"] == [0, 1, 2]
    assert plan["orphan_buckets"] == [3]
    assert plan["orphan_bytes"] > 0 and plan["orphan_files"]
    assert len(plan["litter"]) == 2

    # age guard: everything is fresh -> nothing removed
    res_young = vacuum_orphans(out, snaps, older_than_s=3600)
    assert res_young["removed_buckets"] == [] and res_young["skipped_young"]
    assert (pathlib.Path(out) / "bucket=3").exists()

    before = sorted(
        r.image_id for r in read_as_of(spark, out, snaps, None).collect()
    )
    res = vacuum_orphans(out, snaps, older_than_s=0)
    assert res["removed_buckets"] == [3] and res["removed_files"] > 0
    assert not (pathlib.Path(out) / "bucket=3").exists()
    assert not litter_dir.exists()
    # committed reads identical after vacuum
    after = sorted(
        r.image_id for r in read_as_of(spark, out, snaps, None).collect()
    )
    assert after == before and len(after) == 30
    # idempotent: second vacuum is a no-op
    res2 = vacuum_orphans(out, snaps, older_than_s=0)
    assert res2["removed_buckets"] == [] and res2["removed_files"] == 0


def test_small_file_report_and_compaction(spark, tmp_path):
    out, snaps = _setup(spark, tmp_path, fragments=8)
    rep = {r["bucket"]: r for r in small_file_report(out, snaps)}
    assert set(rep) == {0, 1, 2}
    assert rep[0]["n_files"] > 1 and rep[0]["needs_compaction"]
    # worst-first ordering
    order = [r["n_files"] for r in small_file_report(out, snaps)]
    assert order == sorted(order, reverse=True)

    before = sorted(
        r.image_id
        for r in spark.read.parquet(f"{out}/bucket=0").collect()
    )
    n = compact_bucket(spark, out, 0)
    assert n == len(before)
    after_files = [
        f
        for f in (pathlib.Path(out) / "bucket=0").rglob("*.parquet")
        if f.is_file()
    ]
    assert len(after_files) == 1
    after = sorted(
        r.image_id
        for r in spark.read.parquet(f"{out}/bucket=0").collect()
    )
    assert after == before
    rep2 = {r["bucket"]: r for r in small_file_report(out, snaps)}
    assert not rep2[0]["needs_compaction"] or rep2[0]["n_files"] == 1


def test_vacuum_reclaims_old_orphan_delete_files(spark, tmp_path):
    """An equality-delete file no snapshot names is reclaimed once it is
    older than the guard; a young orphan and a delete a snapshot names
    stay."""
    from corpusama_spark.tableops import commit_eq_delete

    out, snaps = _setup(spark, tmp_path)
    keys = spark.createDataFrame([(5,)], "image_id long")
    commit_eq_delete(keys, out, snaps, "erase")
    eq_dir = pathlib.Path(out) / "_deletes" / "eq"
    (named,) = eq_dir.iterdir()
    for name in ("del-old-orphan", "del-young-orphan"):
        keys.write.parquet(str(eq_dir / name))
    old = time.time() - 7200
    for d in (named, eq_dir / "del-old-orphan"):
        for f in d.rglob("*"):
            os.utime(f, (old, old))

    res = vacuum_orphans(out, snaps, older_than_s=3600)
    assert not (eq_dir / "del-old-orphan").exists()
    assert res["removed_deletes"] == [str(eq_dir / "del-old-orphan")]
    assert (eq_dir / "del-young-orphan").exists() and named.exists()
    assert str(eq_dir / "del-young-orphan") in res["skipped_young"]
    assert orphan_scan(out, snaps)["orphan_deletes"] == [
        str(eq_dir / "del-young-orphan")
    ]
