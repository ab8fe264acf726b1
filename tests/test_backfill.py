"""Rule-version lineage + selective backfill (X251): version excludes
execution knobs, plan marks exactly the stale buckets, backfill
recomputes only those, legacy manifests read as always-stale."""

import datetime

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from corpusama_spark import snapshots as S

from corpusama_spark.checkpoint import (
    add_bucket,
    backfill_plan,
    completed_buckets,
    fold_legacy_manifest,
    run_checkpointed,
)
from corpusama_spark.pipeline import FilterConfig
from corpusama_spark.sources.synth import captions_df


def test_rule_version_semantics():
    a = FilterConfig()
    # execution knobs don't change the version
    b = FilterConfig(nbuckets=8)
    assert a.rule_version() == b.rule_version()
    # decision thresholds do
    c = FilterConfig(min_caption_chars=25)
    assert c.rule_version() != a.rule_version()


def test_backfill_only_stale_buckets(spark, tmp_path):
    out, man = str(tmp_path / "out"), str(tmp_path / "man")
    caps = captions_df(spark, 240, partitions=4)
    cfg1 = FilterConfig(nbuckets=4)
    assert run_checkpointed(spark, caps, out, man, cfg1, run_id="v1") == 4

    # same rules: nothing to backfill
    plan = backfill_plan(spark, man, cfg1)
    assert plan.where(F.col("needs_backfill")).count() == 0
    assert run_checkpointed(spark, caps, out, man, cfg1, run_id="nb") == 0

    # rule change: every bucket is stale. Buckets 1 and 2 are recomputed
    # first (a pre-bucketed slice); the backfill then re-runs exactly the
    # other two and the new plan is clean
    cfg2 = FilterConfig(nbuckets=4, min_caption_chars=25)
    plan2 = backfill_plan(spark, man, cfg2)
    assert plan2.where(F.col("needs_backfill")).count() == 4
    part = add_bucket(caps, 4).where(F.col("bucket").isin(1, 2))
    assert run_checkpointed(spark, part, out, man, cfg2, run_id="v2a") == 2
    stale = backfill_plan(spark, man, cfg2).where(F.col("needs_backfill"))
    assert sorted(r.bucket for r in stale.collect()) == [0, 3]
    n = run_checkpointed(spark, caps, out, man, cfg2, run_id="v2")
    assert n == 2
    plan3 = backfill_plan(spark, man, cfg2)
    assert plan3.where(F.col("needs_backfill")).count() == 0
    # decisions actually changed under the stricter rule
    dec = spark.read.parquet(out)
    assert dec.count() == 240
    strict_drops = dec.where(~F.col("keep")).count()
    assert strict_drops > 0


def test_legacy_manifest_is_always_stale(spark, tmp_path):
    """A manifest table from before versioned lineage has no
    rule_version column: folded into the snapshot log, its buckets read
    as 'legacy', which is always stale, and the fold happens once."""
    log = str(tmp_path / "man")
    cfg = FilterConfig(nbuckets=2)
    spark.createDataFrame(
        [(0, 60, 50, "v0"), (1, 60, 55, "v0")],
        "bucket int, n_rows long, n_keep long, run_id string",
    ).withColumn("committed_at", F.current_timestamp()).write.parquet(log)
    assert fold_legacy_manifest(log, log, cfg.rule_version()) == 2
    plan = backfill_plan(spark, log, cfg)
    assert {(r.bucket, r.rule_version, r.needs_backfill) for r in plan.collect()} == {
        (0, "legacy", True), (1, "legacy", True),
    }
    assert completed_buckets(spark, log, cfg) == set()
    assert fold_legacy_manifest(log, log, cfg.rule_version()) == 0


def test_expired_unversioned_log_still_takes_the_manifest_fold(tmp_path):
    """An older log squashed before its first versioned run records no
    bucket state in its base, so the manifest's versions still fold onto
    it, once."""
    log = tmp_path / "log"
    for b in range(3):
        S.commit_snapshot(str(log), "old", [b], 10, 8)
    assert S.expire_snapshots(str(log), keep_last=1)["expire_ids"] == [1, 2]
    assert "bucket_state" not in S.snapshots(str(log))[0]
    now = datetime.datetime.now(datetime.timezone.utc)
    pq.write_table(
        pa.table(
            {
                "bucket": pa.array([0, 1, 2], pa.int32()),
                "n_rows": [10] * 3,
                "n_keep": [8] * 3,
                "run_id": ["old"] * 3,
                "committed_at": pa.array([now] * 3, pa.timestamp("us", tz="UTC")),
                "rule_version": ["v1", "v1", "v0"],
            }
        ),
        log / "part-0.parquet",
    )
    assert fold_legacy_manifest(str(log), str(log), "v1") == 3
    assert {b: st["rule_version"] for b, st in S.bucket_state(str(log)).items()} == {
        0: "v1", 1: "v1", 2: "v0",
    }
    assert fold_legacy_manifest(str(log), str(log), "v1") == 0
