"""The checkpoint commit path: a wave is one write, verification reads the
parquet footers it produced, the wave's one snapshot commit records the
verified counts, and a mismatched input layout fails before anything is
written."""

import datetime
import json
import pathlib

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from corpusama_spark import checkpoint
from corpusama_spark import snapshots as S
from corpusama_spark.checkpoint import (
    add_bucket,
    backfill_plan,
    completed_buckets,
    run_checkpointed,
)
from corpusama_spark.pipeline import FilterConfig, run_pipeline
from corpusama_spark.snapshots import (
    buckets_as_of,
    fast_count,
    read_as_of,
    snapshots,
)
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
    and refuses to start — no output, no snapshot log."""
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
    assert completed_buckets(spark, man, cfg) == {0, 1, 2, 3}
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
    # one published snapshot doc per wave, carrying the per-bucket record;
    # no manifest file is written
    assert not (tmp_path / "man").exists()
    chain = snapshots(str(tmp_path / "snaps"))
    assert len(chain) == 4 and not any(s.get("staged") for s in chain)
    assert sorted(tmp_path.joinpath("snaps").iterdir()) == [
        S._snap_path(str(tmp_path / "snaps"), s["snapshot_id"]) for s in chain
    ]
    for s in chain:
        assert s["rule_version"] == cfg.rule_version()
        assert list(s["bucket_counts"]) == [str(b) for b in s["buckets"]]


def test_short_write_fails_verification_then_reruns(spark, tmp_path, monkeypatch):
    """A part file vanishes between the write and verification: the wave
    raises before any snapshot exists for it, and a restart re-runs
    exactly that wave."""
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
    assert completed_buckets(spark, snaps, cfg) == {0, 1} - short
    chain = snapshots(snaps)
    assert len(chain) == 1 and not chain[0].get("staged")
    assert not short & set(chain[0]["buckets"])
    monkeypatch.undo()

    assert run_checkpointed(
        spark, caps, out, man, cfg, "r2",
        snapshot_dir=snaps, wap_audit=lambda m, w: True,
    ) == len(short)
    assert set(snapshots(snaps)[-1]["buckets"]) == short
    assert completed_buckets(spark, snaps, cfg) == {0, 1}
    expected = _decisions(run_pipeline(caps, cfg))
    assert _decisions(spark.read.parquet(out)) == expected
    assert _decisions(read_as_of(spark, out, snaps)) == expected
    assert fast_count(snaps) == sum(1 for r in expected if r[1])


def test_manifest_mixes_spark_and_pyarrow_files(spark, tmp_path):
    """A manifest table from before the snapshot log was the only commit
    record mixes Spark-written files (some without rule_version) and
    pyarrow-written ones. The first run folds it into the empty log
    once: buckets at the current rule version are skipped, 'legacy' and
    older-version buckets re-run, and a second run folds nothing."""
    out, man = str(tmp_path / "out"), str(tmp_path / "man")
    cfg = FilterConfig(nbuckets=4)
    caps = captions_df(spark, 120, partitions=2)
    # bucket 2 was written and verified under the current rules
    done = run_pipeline(
        add_bucket(caps, 4).where(F.col("bucket") == 2), cfg
    ).withColumn("bucket", F.lit(2))
    done.write.partitionBy("bucket").parquet(out)
    n2 = spark.read.parquet(out).count()
    k2 = spark.read.parquet(out).where("keep").count()

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
    now = datetime.datetime.now(datetime.timezone.utc)
    long_ago = datetime.datetime(2020, 1, 1, tzinfo=datetime.timezone.utc)
    # pyarrow-written rows; bucket 0's current-version row is older than
    # its Spark-written v-old row, so bucket 0 stays stale
    pq.write_table(
        pa.table(
            {
                "bucket": pa.array([2, 0], pa.int32()),
                "n_rows": pa.array([n2, 30], pa.int64()),
                "n_keep": pa.array([k2, 30], pa.int64()),
                "run_id": ["new", "ancient"],
                "committed_at": pa.array(
                    [now, long_ago], pa.timestamp("us", tz="UTC")
                ),
                "rule_version": [cfg.rule_version()] * 2,
            }
        ),
        pathlib.Path(man) / "part-pyarrow.parquet",
        store_schema=False,
    )

    assert run_checkpointed(spark, caps, out, man, cfg, "new") == 3
    chain = snapshots(man)
    fold = chain[0]
    assert (fold["run_id"], fold["buckets"]) == ("manifest-fold", [0, 1, 2])
    assert {b: st["rule_version"] for b, st in fold["bucket_state"].items()} == {
        "0": "v-old", "1": "legacy", "2": cfg.rule_version(),
    }
    assert [s["buckets"] for s in chain[1:]] == [[0], [1], [3]]
    plan = {r.bucket: r for r in backfill_plan(spark, man, cfg).collect()}
    assert {b: r.needs_backfill for b, r in plan.items()} == dict.fromkeys(
        range(4), False
    )
    expected = _decisions(run_pipeline(caps, cfg))
    assert _decisions(read_as_of(spark, out, man)) == expected
    assert fast_count(man) == sum(1 for r in expected if r[1])

    assert run_checkpointed(spark, caps, out, man, cfg, "again") == 0
    assert snapshots(man) == chain


def test_crash_between_write_and_commit_reruns_the_wave(
    spark, tmp_path, monkeypatch
):
    """The second wave's write lands but its snapshot commit fails: the
    wave is not done, so the restart re-runs it, and the log, time
    travel and the metadata count all agree with the pipeline."""
    caps = captions_df(spark, 200, partitions=4)
    cfg = FilterConfig(nbuckets=4)
    out, man, snaps = (
        str(tmp_path / "out"), str(tmp_path / "man"), str(tmp_path / "snaps")
    )
    real = S.commit_snapshot
    calls = []

    def crash_second(*args, **kwargs):
        calls.append(args[2])
        if len(calls) == 2:
            raise OSError("crash before the commit")
        return real(*args, **kwargs)

    monkeypatch.setattr(S, "commit_snapshot", crash_second)
    with pytest.raises(OSError, match="crash before the commit"):
        run_checkpointed(spark, caps, out, man, cfg, "r1", snapshot_dir=snaps)
    assert buckets_as_of(snaps) == set(calls[0])
    monkeypatch.undo()

    assert run_checkpointed(
        spark, caps, out, man, cfg, "r2", snapshot_dir=snaps
    ) == 3
    assert buckets_as_of(snaps) == set(range(4))
    expected = _decisions(run_pipeline(caps, cfg))
    assert _decisions(read_as_of(spark, out, snaps)) == expected
    assert fast_count(snaps) == sum(1 for r in expected if r[1])
    assert run_checkpointed(
        spark, caps, out, man, cfg, "r3", snapshot_dir=snaps
    ) == 0


def test_fast_count_credits_buckets_of_a_partly_dropped_wave(spark, tmp_path):
    """Waves of two buckets each: dropping one bucket of a wave, or
    re-writing one bucket of another, leaves a count that per-bucket
    commit records still answer exactly."""
    from corpusama_spark.tableops import drop_partitions

    caps = captions_df(spark, 200, partitions=4)
    cfg = FilterConfig(nbuckets=8)
    out, log = str(tmp_path / "out"), str(tmp_path / "log")
    run_checkpointed(spark, caps, out, log, cfg, "r1")
    assert all(len(s["buckets"]) == 2 for s in snapshots(log))
    drop_partitions(log, "ttl", [0])
    kept = read_as_of(spark, out, log).where("keep").count()
    assert fast_count(log) == kept
    # re-write bucket 5 alone under another rule version
    strict = FilterConfig(nbuckets=8, min_caption_chars=25)
    one = add_bucket(caps, 8).where(F.col("bucket") == 5)
    assert run_checkpointed(spark, one, out, log, strict, "r2") == 1
    kept = read_as_of(spark, out, log).where("keep").count()
    assert fast_count(log) == kept


def test_legacy_manifest_folds_onto_an_unversioned_log(spark, tmp_path):
    """Older runs with a snapshot log kept rule versions in the manifest
    table only. The fold gives the buckets the log holds their manifest
    versions, so a restart re-runs none of them; a manifest row whose
    commit never landed stays invisible and re-runs."""
    caps = captions_df(spark, 200, partitions=4)
    cfg = FilterConfig(nbuckets=4)
    out, man, snaps = (
        str(tmp_path / "out"), str(tmp_path / "man"), str(tmp_path / "snaps")
    )
    assert run_checkpointed(
        spark, caps, out, man, cfg, "r1", snapshot_dir=snaps
    ) == 4
    chain = snapshots(snaps)
    counts = {
        int(b): c for s in chain for b, c in s["bucket_counts"].items()
    }
    # the older shape: commits without versions or per-bucket counts,
    # and the last wave's commit never landed
    for s in chain[:-1]:
        old = {
            k: v
            for k, v in s.items()
            if k not in ("rule_version", "bucket_counts")
        }
        S._snap_path(snaps, s["snapshot_id"]).write_text(json.dumps(old))
    S._snap_path(snaps, chain[-1]["snapshot_id"]).unlink()
    spark.createDataFrame(
        [(b, r, k, "r1", cfg.rule_version()) for b, (r, k) in counts.items()],
        "bucket int, n_rows long, n_keep long, run_id string, "
        "rule_version string",
    ).withColumn("committed_at", F.current_timestamp()).write.parquet(man)
    assert completed_buckets(spark, snaps, cfg) == set()

    assert run_checkpointed(
        spark, caps, out, man, cfg, "r2", snapshot_dir=snaps
    ) == len(chain[-1]["buckets"])
    assert completed_buckets(spark, snaps, cfg) == set(range(4))
    expected = _decisions(run_pipeline(caps, cfg))
    assert _decisions(read_as_of(spark, out, snaps)) == expected
    assert fast_count(snaps) == sum(1 for r in expected if r[1])
    after = snapshots(snaps)
    assert run_checkpointed(
        spark, caps, out, man, cfg, "r3", snapshot_dir=snaps
    ) == 0
    assert snapshots(snaps) == after


def test_hard_erasure_keeps_buckets_done(spark, tmp_path):
    """Hard erasure re-commits the erased buckets without a rule version:
    they keep the version of the wave that wrote them, so a restart
    re-runs nothing and the erased rows stay gone."""
    from corpusama_spark.operators.maintenance import rewrite_erased_buckets
    from corpusama_spark.tableops import commit_eq_delete, read_as_of_mor

    caps = captions_df(spark, 120, partitions=2)
    cfg = FilterConfig(nbuckets=4)
    out, log = str(tmp_path / "out"), str(tmp_path / "log")
    assert run_checkpointed(spark, caps, out, log, cfg, "r1") == 4
    erased = [
        r.image_id
        for r in read_as_of(spark, out, log)
        .select("image_id")
        .orderBy("image_id")
        .limit(3)
        .collect()
    ]
    commit_eq_delete(
        spark.createDataFrame([(i,) for i in erased], "image_id string"),
        out, log, "erase",
    )
    assert rewrite_erased_buckets(spark, out, log, "hard-erase")[
        "rewritten_buckets"
    ]
    assert completed_buckets(spark, log, cfg) == set(range(4))
    assert run_checkpointed(spark, caps, out, log, cfg, "r2") == 0
    gone = F.col("image_id").isin(erased)
    assert read_as_of_mor(spark, out, log).where(gone).count() == 0
    assert spark.read.parquet(out).where(gone).count() == 0
