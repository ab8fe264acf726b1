"""The checkpoint commit path: a wave is one write, verification reads the
parquet footers it produced, manifest rows come from the verified counts,
and a mismatched input layout fails before anything is written."""

import pathlib
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from corpusama_spark import checkpoint
from corpusama_spark.checkpoint import (
    backfill_plan,
    completed_buckets,
    run_checkpointed,
)
from corpusama_spark.pipeline import FilterConfig, run_pipeline
from corpusama_spark.snapshots import fast_count, read_as_of, snapshots
from corpusama_spark.sources.synth import captions_df, write_captions

DECISION = ("image_id", "keep", "drop_reason", "caption_scrubbed")


def _decisions(df):
    return sorted(tuple(r) for r in df.select(*DECISION).collect())


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_bucket_layout_mismatch_fails_before_writing(spark, tmp_path):
    """Input written at the default 16 buckets, job configured for 64:
    the restart-time scan sees rows whose bucket is not pmod(phash, 64)
    and refuses to start — no output, no manifest."""
    src = str(tmp_path / "in")
    write_captions(spark, 200, src)
    out, man = tmp_path / "out", tmp_path / "man"
    with pytest.raises(ValueError, match="nbuckets=64"):
        run_checkpointed(
            spark, spark.read.parquet(src), str(out), str(man),
            FilterConfig(nbuckets=64),
        )
    assert not out.exists() and not man.exists()


def test_matching_bucket_layout_runs(spark, tmp_path):
    src = str(tmp_path / "in")
    write_captions(spark, 120, src, nbuckets=4)
    out, man = str(tmp_path / "out"), str(tmp_path / "man")
    cfg = FilterConfig(nbuckets=4)
    assert run_checkpointed(spark, spark.read.parquet(src), out, man, cfg) == 4
    assert completed_buckets(spark, man) == {0, 1, 2, 3}
    assert spark.read.parquet(out).count() == 120


def test_footer_counts_need_drop_reason_null_counts(tmp_path):
    """Rows come from row-group sizes and kept rows from the drop_reason
    null count; a footer without that count cannot verify a wave."""
    part = tmp_path / "bucket=0"
    part.mkdir()
    table = pa.table({"drop_reason": [None, "perplexity", None, None]})
    pq.write_table(table, part / "part-0.parquet", row_group_size=3)
    (part / ".part-0.parquet.crc").write_bytes(b"not data")
    assert checkpoint._footer_counts(str(tmp_path), [0, 1]) == {
        0: (4, 3), 1: (0, 0),
    }
    pq.write_table(table, part / "part-1.parquet", write_statistics=False)
    with pytest.raises(RuntimeError, match="commit verification failed"):
        checkpoint._footer_counts(str(tmp_path), [0])


def test_wave_launches_no_jobs_beyond_its_write(spark, tmp_path):
    """Derived buckets (no pre-bucketed scan), snapshots and a WAP audit:
    each wave of run_checkpointed is exactly one Spark job, its write."""
    caps = captions_df(spark, 240, partitions=4)
    cfg = FilterConfig(nbuckets=4)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    previews = []

    def audit(metrics, written):
        previews.append(written.columns)  # schema only: must not run a job
        return metrics["n_rows"] > 0

    run_jobs = _jobs_in_group(
        spark,
        "checkpoint-run",
        lambda: run_checkpointed(
            spark, caps, str(tmp_path / "out"), str(tmp_path / "man"), cfg,
            snapshot_dir=str(tmp_path / "snaps"), wap_audit=audit,
        ),
    )
    assert len(previews) == 4 and all("bucket" in c for c in previews)
    assert run_jobs == 4, run_jobs
    # one manifest file per wave, each written through a temp name
    files = sorted((tmp_path / "man").iterdir())
    assert len(files) == 4
    assert all(f.name.startswith("part-") for f in files)


def test_short_write_fails_verification_then_reruns(spark, tmp_path, monkeypatch):
    """A part file vanishes between the write and verification: the wave
    raises before any manifest row or snapshot exists for it, and a
    restart re-runs exactly that wave."""
    caps = captions_df(spark, 240, partitions=4)
    cfg = FilterConfig(nbuckets=2)
    out, man, snaps = (
        str(tmp_path / "out"), str(tmp_path / "man"), str(tmp_path / "snaps")
    )
    real = checkpoint._footer_counts
    waves = []

    def lose_a_file(out_path, wave):
        waves.append(wave)
        if len(waves) == 2:
            part = next(
                f
                for b in wave
                for f in sorted(pathlib.Path(out_path, f"bucket={b}").glob("part-*"))
            )
            part.unlink()
        return real(out_path, wave)

    monkeypatch.setattr(checkpoint, "_footer_counts", lose_a_file)
    with pytest.raises(RuntimeError, match="commit verification failed"):
        run_checkpointed(
            spark, caps, out, man, cfg, "r1",
            snapshot_dir=snaps, wap_audit=lambda m, w: True,
        )
    short = set(waves[1])
    assert completed_buckets(spark, man) == {0, 1} - short
    chain = snapshots(snaps)
    assert len(chain) == 1 and not chain[0].get("staged")
    assert not short & set(chain[0]["buckets"])
    monkeypatch.undo()

    assert run_checkpointed(
        spark, caps, out, man, cfg, "r2",
        snapshot_dir=snaps, wap_audit=lambda m, w: True,
    ) == len(short)
    assert set(snapshots(snaps)[-1]["buckets"]) == short
    assert completed_buckets(spark, man) == {0, 1}
    expected = _decisions(run_pipeline(caps, cfg))
    assert _decisions(spark.read.parquet(out)) == expected
    assert _decisions(read_as_of(spark, out, snaps)) == expected
    assert fast_count(snaps) == sum(1 for r in expected if r[1])


def test_manifest_mixes_spark_and_pyarrow_files(spark, tmp_path):
    """Manifests written before the footer commit path hold Spark-written
    files, some without rule_version; new waves append pyarrow-written
    files next to them, and every reader sees one table."""
    out, man = str(tmp_path / "out"), str(tmp_path / "man")
    cfg = FilterConfig(nbuckets=4)
    stamp = F.date_trunc("second", F.current_timestamp())
    spark.createDataFrame(
        [(0, 30, 28, "old", "v-old")],
        "bucket int, n_rows long, n_keep long, run_id string, "
        "rule_version string",
    ).withColumn("committed_at", stamp).write.mode("append").parquet(man)
    spark.createDataFrame(
        [(1, 30, 29, "older")],
        "bucket int, n_rows long, n_keep long, run_id string",
    ).withColumn("committed_at", stamp).write.mode("append").parquet(man)
    assert completed_buckets(spark, man) == {0, 1}

    caps = captions_df(spark, 120, partitions=2)
    t0 = int(time.time())
    assert run_checkpointed(spark, caps, out, man, cfg, "new") == 2
    assert completed_buckets(spark, man) == {0, 1, 2, 3}

    plan = {r.bucket: r for r in backfill_plan(spark, man, cfg).collect()}
    assert (plan[0].rule_version, plan[0].needs_backfill) == ("v-old", True)
    assert (plan[1].rule_version, plan[1].needs_backfill) == ("legacy", True)
    for b in (2, 3):
        assert (plan[b].rule_version, plan[b].needs_backfill) == (
            cfg.rule_version(), False,
        )

    m = spark.read.option("mergeSchema", "true").parquet(man)
    assert dict(m.dtypes) == {
        "bucket": "int", "n_rows": "bigint", "n_keep": "bigint",
        "run_id": "string", "committed_at": "timestamp",
        "rule_version": "string",
    }
    new = m.where(F.col("run_id") == "new")
    got = new.agg(
        F.sum("n_rows"), F.sum("n_keep"),
        F.min(F.unix_timestamp("committed_at")),
        F.max(F.unix_timestamp("committed_at")),
    ).first()
    written = spark.read.parquet(out).where(F.col("bucket").isin(2, 3))
    assert got[0] == written.count()
    assert got[1] == written.where("keep").count()
    assert t0 <= got[2] <= got[3] <= time.time()
