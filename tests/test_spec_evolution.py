"""Partition-spec evolution (X254): multi-spec planning, per-spec bucket
math, rewrite migration retiring old specs, time travel includes specs."""

import pytest
from pyspark.sql import functions as F

from corpusama_spark.snapshots import (
    commit_snapshot,
    partition_specs,
)
from corpusama_spark.tableops import (
    current_spec,
    evolve_spec,
    live_specs,
    plan_scan_for_key,
    read_with_specs,
    rewrite_spec,
    write_with_spec,
)


def _batch(spark, lo, hi):
    return spark.createDataFrame(
        [(i, 1000 + i * 7) for i in range(lo, hi)], "image_id long, phash long"
    )


def test_spec_evolution_end_to_end(spark, tmp_path):
    out, snaps = str(tmp_path / "out"), str(tmp_path / "snaps")
    assert evolve_spec(snaps, 4) == 0
    spec = write_with_spec(_batch(spark, 0, 40), out, snaps)
    s1 = commit_snapshot(snaps, "r1", list(range(4)), 40, 40, spec_id=spec["spec_id"])

    # metadata-only evolution: nothing moves, writers pick up 16 buckets
    assert evolve_spec(snaps, 16) == 1
    assert current_spec(snaps)["nbuckets"] == 16
    spec2 = write_with_spec(_batch(spark, 40, 80), out, snaps)
    s2 = commit_snapshot(
        snaps, "r2", list(range(16)), 40, 40, spec_id=spec2["spec_id"]
    )
    assert live_specs(snaps) == {0, 1}

    # split planning for one key: exactly one partition PER LIVE SPEC
    key = 1000 + 11 * 7  # phash of image 11 (written under spec 0)
    plan = plan_scan_for_key(snaps, key)
    assert plan == [(0, key % 4), (1, key % 16)]
    got = read_with_specs(spark, out, snaps, phash=key)
    assert [r.image_id for r in got.collect()] == [11]

    # rewrite migrates spec-0 files under spec 1 and retires spec 0
    before_rows = sorted(
        r.image_id for r in read_with_specs(spark, out, snaps).collect()
    )
    s3 = rewrite_spec(spark, out, snaps, "migrate")
    # migrated rows are owned by the committed staging pspec (-2): the
    # retirement snapshot flips spec-0 out and the staged copies in
    # ATOMICALLY (round-5 ADVICE fix — no window where readers see both)
    assert live_specs(snaps) == {1, -2}
    assert plan_scan_for_key(snaps, key) == [(-2, key % 16), (1, key % 16)]
    after_rows = sorted(
        r.image_id for r in read_with_specs(spark, out, snaps).collect()
    )
    assert after_rows == before_rows == list(range(80))
    # the migrated key is still found through the single-spec plan
    assert [
        r.image_id
        for r in read_with_specs(spark, out, snaps, phash=key).collect()
    ] == [11]

    # time travel BEFORE the rewrite still plans both specs (the old
    # layout is part of that snapshot's reality)
    assert set(
        dict(plan_scan_for_key(snaps, key, snapshot_id=s2))
    ) == {0, 1}
    # ... and a time-travel read as of s1 sees only spec-0 data (its
    # files are dead for CURRENT reads but live for pre-rewrite ids
    # until vacuumed)
    assert sorted(
        r.image_id
        for r in read_with_specs(spark, out, snaps, snapshot_id=s1).collect()
    ) == list(range(40))
    assert s3 > s2 > s1


def test_evolution_guards(spark, tmp_path):
    snaps = str(tmp_path / "snaps")
    evolve_spec(snaps, 8)
    with pytest.raises(ValueError, match="must change"):
        evolve_spec(snaps, 8)
    evolve_spec(snaps, 32)
    assert [s["nbuckets"] for s in partition_specs(snaps).values()] == [8, 32]
    # committing with an unregistered spec id fails loudly
    with pytest.raises(ValueError, match="unregistered spec_id"):
        commit_snapshot(snaps, "r", [0], 1, 1, spec_id=9)


def test_rewrite_noop_without_old_specs(spark, tmp_path):
    out, snaps = str(tmp_path / "out"), str(tmp_path / "snaps")
    evolve_spec(snaps, 4)
    spec = write_with_spec(_batch(spark, 0, 10), out, snaps)
    commit_snapshot(snaps, "r1", [0, 1, 2, 3], 10, 10, spec_id=spec["spec_id"])
    rewrite_spec(spark, out, snaps, "noop")
    assert live_specs(snaps) == {0}
    assert read_with_specs(spark, out, snaps).count() == 10
