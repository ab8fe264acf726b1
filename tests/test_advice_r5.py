"""Round-5 fixes for the round-4 ADVICE findings on the snapshot layer:

1. rewrite_spec stages migrated rows invisibly (negative staging pspec)
   and flips visibility atomically with the retirement commit — no
   window where readers see moved rows twice, no permanent duplicates
   after a crash between data append and metadata commit;
2. commit_to_branch refuses buckets main already owns (bucket-granular
   isolation would otherwise leak branch writes into main's pruned
   reads immediately);
3. fast_forward retries are idempotent after a crash mid-publish (the
   branch's own commits are excluded from the main-head check; already
   published commits are skipped, not re-rewritten);
4. metadata_partitions marks logically dropped buckets instead of
   reporting drop-retained files as current partitions;
5. (found while fixing 1) expire_snapshots preserves partition-spec
   state — squashing a rewrite snapshot must not resurrect retired
   specs or orphan committed staged rows;
6. rollback re-adds dropped buckets without re-stamping their data
   sequence number, so an equality delete committed at or before the
   rollback target still applies in read_as_of_mor.
"""

import json
import pathlib

import pyspark.sql.functions as F

from corpusama_spark.snapshots import (
    bucket_commit_seq,
    buckets_as_of,
    commit_snapshot,
    expire_snapshots,
)
from corpusama_spark.tableops import (
    commit_eq_delete,
    commit_to_branch,
    create_branch,
    drop_partitions,
    evolve_spec,
    fast_forward,
    live_specs,
    metadata_partitions,
    read_as_of_mor,
    read_with_specs,
    rewrite_spec,
    rollback,
    write_with_spec,
)


def _batch(spark, lo, hi):
    return spark.createDataFrame(
        [(i, 1000 + i * 7) for i in range(lo, hi)], "image_id long, phash long"
    )


def _setup_two_specs(spark, out, snaps):
    evolve_spec(snaps, 4)
    spec = write_with_spec(_batch(spark, 0, 40), out, snaps)
    commit_snapshot(snaps, "r1", list(range(4)), 40, 40, spec_id=spec["spec_id"])
    evolve_spec(snaps, 16)
    spec2 = write_with_spec(_batch(spark, 40, 80), out, snaps)
    commit_snapshot(
        snaps, "r2", list(range(16)), 40, 40, spec_id=spec2["spec_id"]
    )


def test_crashed_rewrite_leaves_no_duplicates(spark, tmp_path):
    """A rewrite that dies between the staged append and the metadata
    commit must leave the visible row set IDENTICAL (the staged copies
    sit under a never-live pspec); completing the rewrite later flips
    atomically and still yields exactly one copy per row."""
    out, snaps = str(tmp_path / "out"), str(tmp_path / "snaps")
    _setup_two_specs(spark, out, snaps)
    before = sorted(
        r.image_id for r in read_with_specs(spark, out, snaps).collect()
    )
    assert before == list(range(80))

    # emulate the crash: the staged append happened (same write
    # rewrite_spec performs — old-spec rows re-bucketed under the
    # staging pspec) but the retirement snapshot never committed
    staged = (
        spark.read.parquet(out)
        .where(F.col("pspec") == 0)
        .drop("bucket", "pspec")
        .withColumn("bucket", F.pmod(F.col("phash"), F.lit(16)).cast("int"))
        .withColumn("pspec", F.lit(-2))
    )
    staged.write.partitionBy("pspec", "bucket").mode("append").parquet(out)

    mid = sorted(
        r.image_id for r in read_with_specs(spark, out, snaps).collect()
    )
    assert mid == before  # crashed attempt invisible — zero duplicates

    # retry completes: dynamic overwrite replaces the crashed attempt's
    # staged files, the commit retires spec 0 and publishes the staging
    rewrite_spec(spark, out, snaps, "migrate-retry")
    assert live_specs(snaps) == {1, -2}
    after = sorted(
        r.image_id for r in read_with_specs(spark, out, snaps).collect()
    )
    assert after == before


def test_branch_refuses_mains_live_buckets(spark, tmp_path):
    snaps = str(tmp_path / "snaps")
    commit_snapshot(snaps, "r1", [0, 1, 2], 30, 30)
    create_branch(snaps, "audit")
    try:
        commit_to_branch(snaps, "audit", "w1", [2, 7], 10, 10)
        raise AssertionError("conflicting branch commit must raise")
    except ValueError as e:
        assert "live buckets [2]" in str(e)
    # disjoint buckets commit fine and main stays frozen
    commit_to_branch(snaps, "audit", "w1", [7, 8], 10, 10)
    assert buckets_as_of(snaps) == {0, 1, 2}


def test_fast_forward_retry_after_crash(spark, tmp_path):
    snaps = str(tmp_path / "snaps")
    commit_snapshot(snaps, "base", [0], 5, 5)
    create_branch(snaps, "wave")
    b1 = commit_to_branch(snaps, "wave", "w1", [10], 4, 4)
    b2 = commit_to_branch(snaps, "wave", "w2", [11], 4, 4)

    # emulate a crash mid-publish: the first branch commit already lost
    # its branch marker (as fast_forward's loop does), then the process
    # died before touching the second or deleting the ref
    p = pathlib.Path(snaps) / f"snap-{b1:06d}.json"
    doc = json.loads(p.read_text())
    del doc["branch"]
    p.write_text(json.dumps(doc))

    # retry must NOT see the half-published commit as "main advanced";
    # it publishes the rest and removes the ref
    published = fast_forward(snaps, "wave")
    assert published == [b1, b2]
    assert buckets_as_of(snaps) == {0, 10, 11}
    assert not (pathlib.Path(snaps) / "branches" / "wave.json").exists()


def test_metadata_partitions_marks_dropped(spark, tmp_path):
    out, snaps = str(tmp_path / "out"), str(tmp_path / "snaps")
    spark.createDataFrame(
        [(i, i % 3) for i in range(12)], "image_id long, bucket int"
    ).write.partitionBy("bucket").mode("append").parquet(out)
    commit_snapshot(snaps, "r1", [0, 1, 2], 12, 12)
    drop_partitions(snaps, "ttl", [1])
    parts = {
        r.bucket: r for r in metadata_partitions(spark, snaps, out).collect()
    }
    assert parts[1].dropped is True
    assert parts[0].dropped is False and parts[2].dropped is False
    # drop-retained bytes still reported (addressable to time travel)
    assert parts[1].n_files >= 1 and parts[1].bytes > 0


def test_expiry_squash_preserves_spec_state(spark, tmp_path):
    out, snaps = str(tmp_path / "out"), str(tmp_path / "snaps")
    _setup_two_specs(spark, out, snaps)
    rewrite_spec(spark, out, snaps, "migrate")
    # push the rewrite into the expirable prefix with two more commits
    spec = write_with_spec(_batch(spark, 80, 90), out, snaps)
    commit_snapshot(snaps, "r4", [3], 10, 10, spec_id=spec["spec_id"])
    spec = write_with_spec(_batch(spark, 90, 100), out, snaps)
    commit_snapshot(snaps, "r5", [4], 10, 10, spec_id=spec["spec_id"])

    before = sorted(
        r.image_id for r in read_with_specs(spark, out, snaps).collect()
    )
    plan = expire_snapshots(snaps, keep_last=2)
    assert plan["expire_ids"]  # the squash actually happened
    # retired spec 0 stays retired, committed staging stays visible
    assert live_specs(snaps) == {1, -2}
    after = sorted(
        r.image_id for r in read_with_specs(spark, out, snaps).collect()
    )
    assert after == before == list(range(100))


def test_double_expiry_preserves_squashed_spec_state(spark, tmp_path):
    """A second expiry squashes the first one's base: the spec ids that
    base carries (including the committed rewrite's staging pspec) must
    survive, or read_with_specs silently drops the migrated rows."""
    out, snaps = str(tmp_path / "out"), str(tmp_path / "snaps")
    _setup_two_specs(spark, out, snaps)
    rewrite_spec(spark, out, snaps, "migrate")
    for i, lo in enumerate((80, 90)):
        spec = write_with_spec(_batch(spark, lo, lo + 10), out, snaps)
        commit_snapshot(snaps, f"r{4 + i}", [3 + i], 10, 10, spec_id=spec["spec_id"])
    assert expire_snapshots(snaps, keep_last=2)["expire_ids"]
    for i, lo in enumerate((100, 110)):
        spec = write_with_spec(_batch(spark, lo, lo + 10), out, snaps)
        commit_snapshot(snaps, f"r{6 + i}", [5 + i], 10, 10, spec_id=spec["spec_id"])
    assert expire_snapshots(snaps, keep_last=2)["expire_ids"]
    assert live_specs(snaps) == {1, -2}
    after = sorted(
        r.image_id for r in read_with_specs(spark, out, snaps).collect()
    )
    assert after == list(range(120))


def test_rollback_does_not_resurrect_deleted_rows(spark, tmp_path):
    out, snaps = str(tmp_path / "out"), str(tmp_path / "snaps")
    spark.createDataFrame(
        [(i, i % 2) for i in range(10)], "image_id long, bucket int"
    ).write.partitionBy("bucket").mode("append").parquet(out)
    s1 = commit_snapshot(snaps, "r1", [0, 1], 10, 10)
    deleted = spark.createDataFrame([(2,), (3,)], "image_id long")
    s2 = commit_eq_delete(deleted, out, snaps, "erase")
    drop_partitions(snaps, "ttl", [0, 1])
    rollback(snaps, "undo-ttl", s2)

    def ids(sid=None):
        return sorted(
            r.image_id for r in read_as_of_mor(spark, out, snaps, sid).collect()
        )

    assert ids(s2) == [0, 1, 4, 5, 6, 7, 8, 9]
    assert ids() == ids(s2)
    # the re-added buckets were never re-written: same data sequence number
    assert bucket_commit_seq(snaps) == {0: s1, 1: s1}

    # expiry squashes the re-added buckets' original commit and their
    # drop into a base without them: the rollback then stands in as their
    # commit, so they stay listed, addressable and rollback-able
    out2, snaps2 = str(tmp_path / "out2"), str(tmp_path / "snaps2")
    spark.createDataFrame(
        [(i, i % 3) for i in range(12)], "image_id long, bucket int"
    ).write.partitionBy("bucket").mode("append").parquet(out2)
    commit_snapshot(snaps2, "r1", [0, 1], 8, 8)
    drop_partitions(snaps2, "ttl", [0, 1])
    r3 = rollback(snaps2, "undo-ttl", 1)
    commit_snapshot(snaps2, "r4", [2], 4, 4)
    expire_snapshots(snaps2, keep_last=2)
    assert buckets_as_of(snaps2) == {0, 1, 2}
    assert bucket_commit_seq(snaps2) == {0: r3, 1: r3, 2: r3 + 1}
    parts = metadata_partitions(spark, snaps2, out2).collect()
    assert {(r.bucket, r.dropped) for r in parts} == {
        (0, False), (1, False), (2, False)
    }
    rollback(snaps2, "back", r3)
    assert buckets_as_of(snaps2) == {0, 1}
    assert sorted(
        r.image_id for r in read_as_of_mor(spark, out2, snaps2).collect()
    ) == [i for i in range(12) if i % 3 != 2]
