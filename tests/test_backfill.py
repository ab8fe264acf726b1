"""Rule-version lineage + selective backfill (X251): version excludes
execution knobs, plan marks exactly the stale buckets, backfill
recomputes only those, legacy manifests read as always-stale."""

import time

from pyspark.sql import functions as F

from corpusama_spark.checkpoint import (
    backfill_plan,
    run_backfill,
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
    assert run_backfill(spark, caps, out, man, cfg1, run_id="nb") == 0

    # rule change: every bucket is stale; backfill recomputes all 4 and
    # the new plan is clean
    time.sleep(1.1)  # committed_at has second resolution
    cfg2 = FilterConfig(nbuckets=4, min_caption_chars=25)
    plan2 = backfill_plan(spark, man, cfg2)
    assert plan2.where(F.col("needs_backfill")).count() == 4
    n = run_backfill(spark, caps, out, man, cfg2, run_id="v2")
    assert n == 4
    plan3 = backfill_plan(spark, man, cfg2)
    assert plan3.where(F.col("needs_backfill")).count() == 0
    # decisions actually changed under the stricter rule
    dec = spark.read.parquet(out)
    assert dec.count() == 240
    strict_drops = dec.where(~F.col("keep")).count()
    assert strict_drops > 0


def test_legacy_manifest_is_always_stale(spark, tmp_path):
    out, man = str(tmp_path / "out"), str(tmp_path / "man")
    caps = captions_df(spark, 120, partitions=2)
    cfg = FilterConfig(nbuckets=2)
    run_checkpointed(spark, caps, out, man, cfg, run_id="v1")
    # strip the version column to simulate a pre-X251 manifest
    legacy = spark.read.parquet(man).drop("rule_version")
    legacy_path = str(tmp_path / "man_legacy")
    legacy.write.parquet(legacy_path)
    plan = backfill_plan(spark, legacy_path, cfg)
    assert plan.count() == 2
    assert plan.where(F.col("needs_backfill")).count() == 2
