"""Incremental / streaming ingest of the captions table.

The reference's incremental contract is `get_new_records`: resume from the
stored high-water mark, abort/restart safely, never double-process
(corpusama/source/reliefweb.py:47-75, S2 in SURVEY.md §2.1). Its Spark-native
equivalent is Structured Streaming over the input table directory with
`Trigger.AvailableNow`:

- the stream checkpoint directory IS the high-water mark (file-source offsets
  → with an Iceberg catalog, snapshot ids);
- each trigger processes exactly the files not yet committed, then stops —
  the same "catch up, then exit" shape as the reference's harvest runs;
- the filter plan is `pipeline.run_pipeline`, whose one plan has no
  exchange, so the stream needs no watermarks or state store: every
  micro-batch is embarrassingly parallel and the sink append is
  idempotent per offset range (exactly-once for the parquet/file sink).

A crashed run restarts from the checkpoint and reprocesses at most one
uncommitted micro-batch — the reference's "can be aborted and restarted
safely" (reliefweb.py:55-56) with stronger guarantees.
"""

from __future__ import annotations

import pathlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from corpusama_spark.pipeline import FilterConfig, run_pipeline
from corpusama_spark.sources.synth import CAPTIONS_SCHEMA


def read_caption_stream(
    spark: SparkSession, input_path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over a captions parquet directory."""
    reader = spark.readStream.schema(CAPTIONS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_path)


def stream_filter(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    config: FilterConfig = FilterConfig(),
    available_now: bool = True,
) -> StreamingQuery:
    """Start the streaming filter job; returns the StreamingQuery.

    With ``available_now`` (default) the query drains everything new since
    the last checkpointed offset and terminates — call `.awaitTermination()`.
    With ``available_now=False`` it runs continuously on new files.
    """
    captions = read_caption_stream(spark, input_path)
    decisions = run_pipeline(captions, config)
    writer = (
        decisions.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_filter_snapshots(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    snapshot_dir: str,
    config: FilterConfig = FilterConfig(),
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming filter whose sink is the SNAPSHOT LOG (X248): each
    microbatch writes its decisions partitioned by bucket and commits
    one atomic snapshot — the Iceberg streaming-sink shape, so
    ``read_as_of``/tags/incremental scans work over a live stream's
    output exactly as over the batch job's.

    Exactly-once: Structured Streaming may REPLAY a microbatch after a
    crash (same epoch id). The foreachBatch sink is made idempotent at
    BOTH layers — the physical bucket id is ``batch_id·nbuckets +
    bucket`` so every snapshot OWNS its bucket range (a replay's
    dynamic-partition-overwrite can only rewrite its own partitions,
    never an earlier batch's, and bucket-pruned time travel stays exact
    because a bucket belongs to exactly one snapshot — the same
    invariant the batch waves guarantee by construction), and the
    snapshot commit is skipped when the log already holds this epoch's
    ``stream-<batch_id>`` run_id, so a replay neither duplicates rows
    nor forks history. Within a batch the phash-derived locality of
    add_bucket is preserved modulo the offset.

    Each micro-batch commits through ``checkpoint.commit_wave``, like a
    checkpoint wave: its footers must match the counts its write
    observed (a short write raises before any snapshot exists and the
    replay re-runs the batch), and the commit records the rule version
    and per-bucket counts of the buckets it wrote.
    """
    from pyspark.sql import functions as F

    from corpusama_spark.checkpoint import add_bucket, commit_wave
    from corpusama_spark.plans.metrics import metrics_row, observe_decisions
    from corpusama_spark.snapshots import snapshots

    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    captions = read_caption_stream(spark, input_path)
    decisions = run_pipeline(captions, config)

    def sink(batch_df, batch_id: int) -> None:
        run_id = f"stream-{batch_id}"
        if any(s.get("run_id") == run_id for s in snapshots(snapshot_dir)):
            return  # replayed epoch: already fully committed
        first = int(batch_id) * config.nbuckets
        bucketed = add_bucket(
            batch_df.withColumn(
                "phash",
                F.coalesce(F.col("phash"), F.xxhash64("image_id")),
            ),
            config.nbuckets,
        ).withColumn("bucket", (F.lit(first) + F.col("bucket")).cast("int"))
        # the write is the batch's one filter job: its counts ride it as an
        # observation, and the batch commits like a checkpoint wave
        observed, obs = observe_decisions(bucketed)
        observed.write.mode("overwrite").partitionBy("bucket").parquet(
            output_path
        )
        m = metrics_row(obs)
        if not m["n_rows"]:
            return
        # the write made a directory for each bucket it wrote rows to;
        # empty ones stay out of the commit, and a lost directory still
        # fails verification as a short write
        wrote = [
            b
            for b in range(first, first + config.nbuckets)
            if (pathlib.Path(output_path) / f"bucket={b}").is_dir()
        ]
        commit_wave(
            snapshot_dir, output_path, run_id, wrote, m, config.rule_version()
        )

    writer = (
        decisions.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
