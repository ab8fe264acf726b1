"""Checkpointed, restartable execution (north_rule resumability).

The reference resumes API harvests from `max(date.changed)` and tolerates
abort/restart because writes are PK-idempotent (`INSERT OR REPLACE`,
corpusama/source/reliefweb.py:47-63; database.py:57) and skips already-built
outputs (secondary_pipeline.py:282-287). The Spark equivalent:

- work is partitioned by `bucket = pmod(phash, nbuckets)` (the Iceberg
  `bucket(N, phash)` transform shape) and runs in waves of buckets;
- a wave is ONE Spark action: a dynamic-partition-overwrite write, so
  re-running a bucket replaces its files exactly (idempotent replay), with
  its row and keep counts riding the write as an Observation
  (plans/metrics.py);
- verification reads parquet footers, not data: rows are the row-group
  ``num_rows`` and kept rows the ``drop_reason`` null count of the files
  under ``out_path/bucket=<b>/`` (``keep`` is ``drop_reason IS NULL`` by
  construction, pipeline._decide), and their totals must equal the
  observed counts before the wave is marked done;
- the wave's manifest rows (bucket, counts, run stamp, rule version — the
  `_log` analogue) are those verified per-bucket footer counts, zeros for
  empty buckets, appended as one parquet file by temp write + rename;
- on restart, buckets already in the manifest are skipped via partition
  pruning on the bucket column.

The manifest, the output footers and the snapshot log are read through
the local filesystem (a shared mount on a cluster), not through Spark.
With an Iceberg catalog the manifest + overwrite pair collapses into
snapshot commits; the interface below is format-agnostic on purpose.
"""

from __future__ import annotations

import datetime
import os
import pathlib
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from corpusama_spark import snapshots
from corpusama_spark.pipeline import FilterConfig, run_pipeline
from corpusama_spark.plans.metrics import metrics_row, observe_decisions

# the columns and types the Spark-written lineage rows always had, so old
# and new manifest files read together
MANIFEST_SCHEMA = pa.schema(
    [
        ("bucket", pa.int32()),
        ("n_rows", pa.int64()),
        ("n_keep", pa.int64()),
        ("run_id", pa.string()),
        ("committed_at", pa.timestamp("us", tz="UTC")),
        ("rule_version", pa.string()),
    ]
)


def add_bucket(df: DataFrame, nbuckets: int) -> DataFrame:
    if "bucket" in df.columns:
        return df
    return df.withColumn(
        "bucket", F.pmod(F.col("phash"), F.lit(nbuckets)).cast("int")
    )


def _data_files(directory: pathlib.Path) -> list[pathlib.Path]:
    """Parquet data files of one directory; hidden and underscore files
    (checksums, ``_SUCCESS``, uncommitted temp names) are not data."""
    if not directory.is_dir():
        return []
    return sorted(
        f
        for f in directory.iterdir()
        if f.suffix == ".parquet" and not f.name.startswith((".", "_"))
    )


def completed_buckets(spark: SparkSession, manifest_path: str) -> set[int]:
    """Buckets with a manifest row: the ``bucket`` column of every
    manifest file, read with pyarrow (no Spark job)."""
    return {
        b
        for f in _data_files(pathlib.Path(manifest_path))
        for b in pq.read_table(f, columns=["bucket"])["bucket"].to_pylist()
    }


def pending_buckets(
    df: DataFrame, done: set[int], nbuckets: int, pre_bucketed: bool
) -> list[int]:
    """Buckets still owed. When the bucket column was DERIVED by
    ``add_bucket`` the ids are range(nbuckets) by construction, so the
    todo list is pure set arithmetic — NO corpus scan (the old
    distinct().collect() read every row's phash on every restart, a full
    table pass at 10^12 rows before the first wave ran — VERDICT r3).
    Externally-bucketed inputs keep one aggregate over the bucket
    column: their ids are data, not construction. The same pass checks
    the layout — every row's bucket must be ``pmod(phash, nbuckets)`` —
    and raises ``ValueError`` before anything is written, since a wave
    over a mismatched layout can never verify."""
    if pre_bucketed:
        # a bare bucket-id frame carries no phash, hence no layout to check
        stray = (
            F.col("bucket") != F.pmod(F.col("phash"), F.lit(nbuckets))
            if "phash" in df.columns
            else F.lit(False)
        )
        rows = df.groupBy("bucket").agg(F.count_if(stray).alias("stray")).collect()
        n_stray = sum(r.stray for r in rows)
        if n_stray:
            raise ValueError(
                f"{n_stray} input rows have bucket != pmod(phash, "
                f"nbuckets={nbuckets}): the input was bucketed with another "
                "bucket count; set FilterConfig.nbuckets to match it"
            )
        return sorted(r.bucket for r in rows if r.bucket not in done)
    return sorted(set(range(nbuckets)) - done)


def _footer_counts(out_path: str, wave: list[int]) -> dict[int, tuple[int, int]]:
    """bucket -> (rows, kept rows) from the parquet footers under
    ``out_path/bucket=<b>/``: row-group ``num_rows`` and the
    ``drop_reason`` null count. A row group without that null count
    cannot be verified and fails the wave."""
    counts = {}
    for b in wave:
        rows = keep = 0
        for f in _data_files(pathlib.Path(out_path) / f"bucket={b}"):
            md = pq.read_metadata(f)
            col = next(
                (
                    i
                    for i in range(md.num_columns)
                    if md.schema.column(i).path == "drop_reason"
                ),
                None,
            )
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                if not rg.num_rows:
                    continue
                stats = None if col is None else rg.column(col).statistics
                if stats is None or not stats.has_null_count:
                    raise RuntimeError(
                        f"commit verification failed for bucket {b}: {f.name} "
                        "has no drop_reason null count in its footer"
                    )
                rows += rg.num_rows
                keep += stats.null_count
        counts[b] = (rows, keep)
    return counts


def _append_manifest(
    manifest_path: str,
    counts: dict[int, tuple[int, int]],
    run_id: str,
    rule_version: str,
) -> None:
    """Append one manifest file holding a row per bucket of ``counts``:
    written under a dot-prefixed name every reader skips, then renamed
    into place, so a crash leaves either no rows or all of them."""
    d = pathlib.Path(manifest_path)
    d.mkdir(parents=True, exist_ok=True)
    bs = sorted(counts)
    now = datetime.datetime.now(datetime.timezone.utc).replace(microsecond=0)
    table = pa.table(
        {
            "bucket": bs,
            "n_rows": [counts[b][0] for b in bs],
            "n_keep": [counts[b][1] for b in bs],
            "run_id": [run_id] * len(bs),
            "committed_at": [now] * len(bs),
            "rule_version": [rule_version] * len(bs),
        },
        schema=MANIFEST_SCHEMA,
    )
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = d / f".{name}"
    with open(tmp, "wb") as fh:
        # readers use the parquet schema; an embedded Arrow copy is dead bytes
        pq.write_table(table, fh, store_schema=False)
        fh.flush()
        os.fsync(fh.fileno())
    os.rename(tmp, d / name)


def run_checkpointed(
    spark: SparkSession,
    captions: DataFrame,
    out_path: str,
    manifest_path: str,
    config: FilterConfig = FilterConfig(),
    run_id: str = "run-0",
    fail_after_buckets: int | None = None,
    snapshot_dir: str | None = None,
    wap_audit=None,
) -> int:
    """Run the filter job bucket-group-wise with mid-run restartability.

    Returns the number of buckets processed this invocation. Each wave
    is one write: the dynamic-partition-overwrite output write is the
    wave's only Spark action, and it observes the wave's row and keep
    counts. Verification reads the footers of the files that write
    produced, not the data; a mismatch with the observed counts raises
    ``commit verification failed`` before the wave is marked done. The
    wave's manifest rows are then the verified per-bucket footer counts
    (zeros for empty buckets), so restart skips exactly the verified
    buckets. ``fail_after_buckets`` injects a crash for restart tests
    (the reference's abort/restart contract, reliefweb.py:55-56).

    With ``snapshot_dir`` each verified wave also commits an atomic
    snapshot (snapshots.py — the Iceberg commit shape), enabling
    ``read_as_of`` time travel; restart derives done-ness from the
    manifest, the snapshot chain is the externally-visible commit log.

    ``wap_audit`` (X246; requires ``snapshot_dir``, else ``ValueError``
    before anything is written) turns each wave into
    a write-audit-publish cycle: the wave commits STAGED (invisible to
    every reader), ``wap_audit(metrics, written_df) -> bool`` judges it
    BEFORE the manifest marks the wave done, and only a passing wave is
    published + recorded. ``written_df`` is a lazy read of the wave's
    buckets. A rejected wave abandons its staged snapshot and raises —
    the manifest never saw it, so a restart after fixing the gate re-runs
    exactly that wave (the write is idempotent). Bad data never becomes
    readable history OR restart-skippable state.
    """
    if wap_audit is not None and snapshot_dir is None:
        raise ValueError(
            "wap_audit needs snapshot_dir: a wave is audited as a staged "
            "snapshot, so without a snapshot log nothing would be gated"
        )
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    pre_bucketed = "bucket" in captions.columns
    df = add_bucket(captions, config.nbuckets)
    done = completed_buckets(spark, manifest_path)
    todo = pending_buckets(df, done, config.nbuckets, pre_bucketed)
    if not todo:
        return 0

    # group buckets into waves so a restart loses at most one wave
    wave_size = max(1, len(todo) // 4)
    processed = 0
    for i in range(0, len(todo), wave_size):
        wave = [int(b) for b in todo[i : i + wave_size]]
        decided, obs = observe_decisions(
            run_pipeline(df.where(F.col("bucket").isin(wave)), config)
        )
        written = decided.withColumn(
            "bucket", F.pmod(F.col("phash"), F.lit(config.nbuckets)).cast("int")
        )
        written.write.mode("overwrite").partitionBy("bucket").parquet(out_path)
        m = metrics_row(obs)
        counts = _footer_counts(out_path, wave)
        footer = (
            sum(r for r, _ in counts.values()),
            sum(k for _, k in counts.values()),
        )
        if footer != (m["n_rows"], m["n_keep"]):
            raise RuntimeError(
                f"commit verification failed for wave {wave}: observed "
                f"({m['n_rows']}, {m['n_keep']}) vs footers {footer}"
            )
        staged_id = None
        if wap_audit is not None:
            staged_id = snapshots.commit_staged(
                snapshot_dir, run_id, wave, m["n_rows"], m["n_keep"]
            )
            preview = (
                spark.read.schema(written.schema)
                .parquet(out_path)
                .where(F.col("bucket").isin(wave))
            )
            if not wap_audit(m, preview):
                snapshots.abandon_snapshot(snapshot_dir, staged_id)
                raise RuntimeError(
                    f"WAP audit rejected wave {wave}: {m} — staged "
                    "snapshot abandoned, wave left un-committed for re-run"
                )
        _append_manifest(manifest_path, counts, run_id, config.rule_version())
        if staged_id is not None:
            snapshots.publish_snapshot(snapshot_dir, staged_id)
        elif snapshot_dir is not None:
            snapshots.commit_snapshot(
                snapshot_dir, run_id, wave, m["n_rows"], m["n_keep"]
            )
        processed += len(wave)
        if fail_after_buckets is not None and processed >= fail_after_buckets:
            raise RuntimeError(f"injected failure after {processed} buckets")
    return processed


def backfill_plan(
    spark: SparkSession, manifest_path: str, config: FilterConfig
) -> DataFrame:
    """(bucket, rule_version, committed_at, needs_backfill): each
    bucket's LATEST lineage row vs the current config's decision-rule
    version (X251). A rule change (threshold bump, new gate) marks
    exactly the buckets written under older rules — at 10^12 rows the
    difference between "recompute 3% of buckets" and "recompute the
    corpus" is this table. Manifests from before versioned lineage read
    as 'legacy' (mergeSchema), which is always stale — the honest
    default for provenance you don't have."""
    cur = config.rule_version()
    m = (
        spark.read.option("mergeSchema", "true").parquet(manifest_path)
        if pathlib.Path(manifest_path).exists()
        else None
    )
    if m is None:
        return spark.createDataFrame(
            [],
            "bucket int, rule_version string, committed_at timestamp, "
            "needs_backfill boolean",
        )
    if "rule_version" not in m.columns:
        m = m.withColumn("rule_version", F.lit(None).cast("string"))
    # same-second commits tie under the truncated timestamp: prefer the
    # current rule version on ties so a just-finished backfill wins
    w = Window.partitionBy("bucket").orderBy(
        F.col("committed_at").desc(),
        (F.coalesce("rule_version", F.lit("legacy")) == cur).desc(),
    )
    latest = (
        m.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .select(
            "bucket",
            F.coalesce("rule_version", F.lit("legacy")).alias("rule_version"),
            "committed_at",
        )
    )
    return latest.select(
        "*", (F.col("rule_version") != cur).alias("needs_backfill")
    ).orderBy("bucket")


def run_backfill(
    spark: SparkSession,
    captions: DataFrame,
    out_path: str,
    manifest_path: str,
    config: FilterConfig = FilterConfig(),
    run_id: str = "backfill-0",
    snapshot_dir: str | None = None,
) -> int:
    """Selective recompute: re-run ONLY the buckets whose latest lineage
    carries a different decision-rule version (plus any never-done
    buckets). Data writes are the same idempotent dynamic-partition
    overwrites as the normal waves; fresh lineage rows supersede the
    stale ones (latest-wins in backfill_plan and restart alike)."""
    plan = backfill_plan(spark, manifest_path, config)
    stale = {r.bucket for r in plan.where(F.col("needs_backfill")).collect()}
    done_fresh = {
        r.bucket for r in plan.where(~F.col("needs_backfill")).collect()
    }
    if not stale and done_fresh:
        # nothing stale: defer to the normal restart for never-done work
        return run_checkpointed(
            spark, captions, out_path, manifest_path, config,
            run_id=run_id, snapshot_dir=snapshot_dir,
        )
    df = add_bucket(captions, config.nbuckets)
    todo = sorted(
        set(range(config.nbuckets)) - done_fresh
    )
    if not todo:
        return 0
    # reuse the wave loop by presenting a manifest-done set that marks
    # ONLY fresh buckets as complete: run the stale+pending buckets
    part = df.where(F.col("bucket").isin([int(b) for b in todo]))
    n = run_checkpointed(
        spark,
        part,
        out_path,
        manifest_path + "_backfill_" + config.rule_version(),
        config,
        run_id=run_id,
        snapshot_dir=snapshot_dir,
    )
    # fold fresh lineage into the MAIN manifest so future plans see the
    # new version (the scratch manifest is the wave-restart scope)
    scratch = manifest_path + "_backfill_" + config.rule_version()
    if pathlib.Path(scratch).exists():
        spark.read.parquet(scratch).write.mode("append").parquet(
            manifest_path
        )
    return n
