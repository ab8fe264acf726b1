"""Streaming snapshot sink (X248): per-microbatch atomic commits, time
travel over a live stream's output, replay idempotence, incremental
scans between stream snapshots."""

import pathlib
import shutil

import pytest
from pyspark.sql import functions as F

from corpusama_spark.pipeline import FilterConfig
from corpusama_spark.sources.synth import captions_df


def _drop_files(spark, df, path, n_files):
    df.repartition(n_files).write.mode("append").parquet(path)


def test_stream_commits_snapshots(spark, tmp_path):
    from corpusama_spark.snapshots import (
        read_as_of,
        snapshots,
    )
    from corpusama_spark.tableops import (
        read_incremental,
    )
    from corpusama_spark.streaming.incremental import stream_filter_snapshots

    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    snap = str(tmp_path / "snap")
    cfg = FilterConfig(nbuckets=4)

    # first drop: 120 rows -> one availableNow drain
    caps = captions_df(spark, 120, partitions=2)
    _drop_files(spark, caps, inp, 2)
    q = stream_filter_snapshots(spark, inp, out, ckpt, snap, cfg)
    q.awaitTermination()
    chain1 = snapshots(snap)
    assert len(chain1) >= 1
    n1 = read_as_of(spark, out, snap).count()
    assert n1 == 120
    first_head = chain1[-1]["snapshot_id"]

    # second drop: 60 more rows -> new epoch, new snapshot(s)
    more = captions_df(spark, 180, partitions=2).where(F.col("image_id").isNotNull())
    more = more.subtract(caps)
    _drop_files(spark, more, inp, 1)
    q2 = stream_filter_snapshots(spark, inp, out, ckpt, snap, cfg)
    q2.awaitTermination()
    chain2 = snapshots(snap)
    assert len(chain2) > len(chain1)
    assert read_as_of(spark, out, snap).count() == 180
    # time travel to the first drain still sees exactly the old rows
    assert read_as_of(spark, out, snap, first_head).count() == 120
    # incremental scan between the two stream heads = the second drop
    assert read_incremental(spark, out, snap, first_head).count() == 60
    # every snapshot owns a disjoint bucket range
    seen = set()
    for s in chain2:
        assert not (set(s["buckets"]) & seen)
        seen.update(s["buckets"])


def test_replay_is_idempotent(spark, tmp_path):
    from corpusama_spark.snapshots import read_as_of, snapshots
    from corpusama_spark.streaming.incremental import stream_filter_snapshots

    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    snap = str(tmp_path / "snap")
    cfg = FilterConfig(nbuckets=4)
    _drop_files(spark, captions_df(spark, 100, partitions=2), inp, 2)
    q = stream_filter_snapshots(spark, inp, out, ckpt, snap, cfg)
    q.awaitTermination()
    before = sorted(
        map(tuple, read_as_of(spark, out, snap).collect())
    )
    n_snaps = len(snapshots(snap))

    # simulate a crash-replay: wipe the stream checkpoint so the same
    # files re-drain as the same epoch ids — the sink must no-op
    shutil.rmtree(ckpt)
    q2 = stream_filter_snapshots(spark, inp, out, ckpt, snap, cfg)
    q2.awaitTermination()
    assert len(snapshots(snap)) == n_snaps
    after = sorted(
        map(tuple, read_as_of(spark, out, snap).collect())
    )
    assert before == after


def test_one_filter_job_per_microbatch(spark, tmp_path):
    """The sink's write is the micro-batch's only Spark job: row and keep
    counts ride it as an observation and the bucket list comes from the
    footers it wrote, so the filter runs once per micro-batch."""
    from corpusama_spark.snapshots import snapshots
    from corpusama_spark.streaming.incremental import stream_filter_snapshots

    inp = str(tmp_path / "in")
    snap = str(tmp_path / "snap")
    cfg = FilterConfig(nbuckets=4)
    _drop_files(spark, captions_df(spark, 100, partitions=2), inp, 2)
    q = stream_filter_snapshots(
        spark, inp, str(tmp_path / "out"), str(tmp_path / "ckpt"), snap, cfg
    )
    q.awaitTermination()
    batches = [p for p in q.recentProgress if p["numInputRows"]]
    # a streaming query runs every job of its micro-batches in the job
    # group named by its run id
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId))
    assert len(batches) == 1 and len(jobs) == 1, (len(batches), jobs)
    [s] = snapshots(snap)
    assert (s["run_id"], s["summary"]["n_rows"]) == ("stream-0", 100)


def test_short_microbatch_write_fails_verification_then_replays_once(
    spark, tmp_path, monkeypatch
):
    """A part file of the micro-batch's write vanishes before the commit:
    the batch fails footer verification before any snapshot exists, and
    the replay from the stream checkpoint commits it exactly once."""
    from corpusama_spark import checkpoint
    from corpusama_spark.snapshots import read_as_of, snapshots
    from corpusama_spark.streaming.incremental import stream_filter_snapshots

    inp, out = str(tmp_path / "in"), str(tmp_path / "out")
    ckpt, snap = str(tmp_path / "ckpt"), str(tmp_path / "snap")
    cfg = FilterConfig(nbuckets=4)
    _drop_files(spark, captions_df(spark, 100, partitions=2), inp, 2)
    real = checkpoint._footer_counts

    def lose_a_file(out_path, wave):
        next(pathlib.Path(out_path).glob("bucket=*/part-*")).unlink()
        return real(out_path, wave)

    monkeypatch.setattr(checkpoint, "_footer_counts", lose_a_file)
    q = stream_filter_snapshots(spark, inp, out, ckpt, snap, cfg)
    with pytest.raises(Exception, match="commit verification failed"):
        q.awaitTermination()
    assert snapshots(snap) == []
    monkeypatch.undo()

    q = stream_filter_snapshots(spark, inp, out, ckpt, snap, cfg)
    q.awaitTermination()
    [s] = snapshots(snap)
    assert (s["run_id"], s["summary"]["n_rows"]) == ("stream-0", 100)
    assert s["rule_version"] == cfg.rule_version()
    assert sum(r for r, _ in s["bucket_counts"].values()) == 100
    assert read_as_of(spark, out, snap).count() == 100


def test_stream_commit_lists_only_written_buckets(spark, tmp_path):
    """A micro-batch smaller than its bucket range commits only the
    buckets it wrote rows to, each with a non-empty per-bucket count."""
    from corpusama_spark.snapshots import read_as_of, snapshots
    from corpusama_spark.streaming.incremental import stream_filter_snapshots

    inp, out = str(tmp_path / "in"), str(tmp_path / "out")
    ckpt, snap = str(tmp_path / "ckpt"), str(tmp_path / "snap")
    cfg = FilterConfig(nbuckets=16)
    _drop_files(spark, captions_df(spark, 3, partitions=1), inp, 1)
    stream_filter_snapshots(spark, inp, out, ckpt, snap, cfg).awaitTermination()
    [s] = snapshots(snap)
    assert 1 <= len(s["buckets"]) <= 3
    assert list(s["bucket_counts"]) == [str(b) for b in s["buckets"]]
    assert all(r > 0 for r, _ in s["bucket_counts"].values())
    assert read_as_of(spark, out, snap).count() == 3
