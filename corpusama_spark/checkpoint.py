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
  observed counts before the wave commits;
- the wave's snapshot commit (snapshots.py) is its one "done" mark, so
  no second record can run ahead of it: it carries the decision-rule
  version and the verified per-bucket footer counts (the `_log`
  analogue), and on restart a bucket is done when its latest visible
  commit carries the current rule version — a rule change re-runs
  exactly the stale buckets.

The output footers and the snapshot log are read through the local
filesystem (a shared mount on a cluster), not through Spark. With an
Iceberg catalog the overwrite + snapshot pair is one table commit.
"""

from __future__ import annotations

import pathlib

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from corpusama_spark import snapshots
from corpusama_spark.pipeline import FilterConfig, run_pipeline
from corpusama_spark.plans.metrics import metrics_row, observe_decisions


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


def completed_buckets(
    spark: SparkSession, log_dir: str, config: FilterConfig
) -> set[int]:
    """Buckets whose latest visible commit in the snapshot log at
    ``log_dir`` carries ``config``'s rule version, read from the JSON
    docs (no Spark job)."""
    cur = config.rule_version()
    return {
        b
        for b, st in snapshots.bucket_state(log_dir).items()
        if st["rule_version"] == cur
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


def _totals(counts: dict[int, tuple[int, int]]) -> tuple[int, int]:
    return sum(r for r, _ in counts.values()), sum(k for _, k in counts.values())


def fold_legacy_manifest(
    manifest_path: str, log_dir: str, current_version: str
) -> int:
    """Fold the parquet manifest table older runs kept at
    ``manifest_path`` into the log at ``log_dir``, once: while no log
    doc records a rule version or a bucket state. Each bucket's latest
    row (by ``committed_at``; on a same-second tie the row at
    ``current_version`` wins) gives its rule version, ``"legacy"``
    (always stale) when it has none. An empty log takes the manifest's
    buckets as committed, with their counts; a log older runs committed
    to takes only the versions of the buckets it holds, so a row whose
    commit never landed stays invisible and re-runs. One commit;
    returns the number of buckets folded."""
    files = _data_files(pathlib.Path(manifest_path))
    chain = snapshots.snapshots(log_dir)
    if not files or any(
        "rule_version" in s or "bucket_state" in s for s in chain
    ):
        return 0
    latest: dict[int, tuple] = {}
    for f in files:
        t = pq.read_table(f)
        stamps = t["committed_at"].cast(pa.timestamp("us")).cast(pa.int64())
        for row, ts in zip(t.to_pylist(), stamps.to_pylist()):
            b, v = row["bucket"], row.get("rule_version") or "legacy"
            key = (ts, v == current_version)
            if b not in latest or key > latest[b][0]:
                latest[b] = (key, v, row["n_rows"], row["n_keep"])
    live = snapshots.buckets_as_of(log_dir) if chain else set(latest)
    counts = {} if chain else {b: (r, k) for b, (_, _, r, k) in latest.items()}
    state = {b: {"rule_version": latest[b][1]} for b in live & set(latest)}
    if state:
        snapshots.commit_snapshot(
            log_dir, "manifest-fold", list(counts), *_totals(counts),
            bucket_counts=counts, bucket_state=state,
        )
    return len(state)


def commit_wave(
    log_dir: str,
    out_path: str,
    run_id: str,
    wave: list[int],
    observed: dict,
    rule_version: str,
    wap_audit=None,
    preview: DataFrame | None = None,
) -> int:
    """Verify a written wave and commit it to the snapshot log at
    ``log_dir``; returns the snapshot id. The one commit path of the
    checkpointed waves and the stream sink.

    The footers under ``out_path/bucket=<b>/`` of every bucket in
    ``wave`` must add up to the write's ``observed`` counts
    (plans/metrics.py), else ``commit verification failed`` raises
    before anything is committed. The commit records ``rule_version``
    and the verified per-bucket counts. With ``wap_audit`` the wave
    commits STAGED, ``wap_audit(observed, preview)`` judges it, and only
    a passing wave is published; an audit that rejects or raises
    abandons the staged snapshot, so the wave stays un-committed for
    re-run and never becomes readable history."""
    counts = _footer_counts(out_path, wave)
    footer = _totals(counts)
    if footer != (observed["n_rows"], observed["n_keep"]):
        raise RuntimeError(
            f"commit verification failed for wave {wave}: observed "
            f"({observed['n_rows']}, {observed['n_keep']}) vs footers {footer}"
        )
    record = dict(rule_version=rule_version, bucket_counts=counts)
    if wap_audit is None:
        return snapshots.commit_snapshot(log_dir, run_id, wave, *footer, **record)
    staged = snapshots.commit_staged(log_dir, run_id, wave, *footer, **record)
    passed = False
    try:
        passed = wap_audit(observed, preview)
    finally:
        if not passed:
            snapshots.abandon_snapshot(log_dir, staged)
    if not passed:
        raise RuntimeError(
            f"WAP audit rejected wave {wave}: {observed} — staged "
            "snapshot abandoned, wave left un-committed for re-run"
        )
    snapshots.publish_snapshot(log_dir, staged)
    return staged


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
    counts. ``commit_wave`` then verifies the footers of the files that
    write produced against those counts and commits the wave to the
    snapshot log, the run's one commit record: restart skips exactly
    the buckets whose latest commit carries this config's rule version,
    and ``snapshots.read_as_of`` / ``fast_count`` read the same commits.
    ``fail_after_buckets`` injects a crash for restart tests (the
    reference's abort/restart contract, reliefweb.py:55-56).

    The log lives at ``snapshot_dir`` when given, else at
    ``manifest_path``. A manifest table left at ``manifest_path`` by
    older runs is folded into the log first (``fold_legacy_manifest``),
    and a staged snapshot a crashed audit left over the pending buckets
    is abandoned before the first wave.

    ``wap_audit(metrics, written_df) -> bool`` (X246) gates each wave
    as a write-audit-publish cycle (``commit_wave``); ``written_df`` is a
    lazy read of the wave's buckets. A rejected wave raises, and a
    restart after fixing the gate re-runs exactly that wave (the write
    is idempotent). Bad data never becomes readable history OR
    restart-skippable state.
    """
    log = snapshot_dir or manifest_path
    version = config.rule_version()
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    pre_bucketed = "bucket" in captions.columns
    df = add_bucket(captions, config.nbuckets)
    fold_legacy_manifest(manifest_path, log, version)
    done = completed_buckets(spark, log, config)
    todo = pending_buckets(df, done, config.nbuckets, pre_bucketed)
    if not todo:
        return 0
    # a crash inside an audit leaves its staged snapshot behind; this
    # run's writes replace its data, and while nothing has committed
    # since, it is still the latest doc, so abandoning it leaves no hole
    for s in snapshots.snapshots(log):
        if s.get("staged") and set(s["buckets"]) & set(todo):
            snapshots.abandon_snapshot(log, s["snapshot_id"])

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
        preview = None
        if wap_audit is not None:
            preview = (
                spark.read.schema(written.schema)
                .parquet(out_path)
                .where(F.col("bucket").isin(wave))
            )
        commit_wave(
            log, out_path, run_id, wave, metrics_row(obs), version,
            wap_audit, preview,
        )
        processed += len(wave)
        if fail_after_buckets is not None and processed >= fail_after_buckets:
            raise RuntimeError(f"injected failure after {processed} buckets")
    return processed


def backfill_plan(
    spark: SparkSession, log_dir: str, config: FilterConfig
) -> DataFrame:
    """(bucket, rule_version, snapshot_id, needs_backfill): each
    bucket's latest commit in the snapshot log (the highest snapshot id)
    vs the current config's decision-rule version (X251). A rule change
    (threshold bump, new gate) marks exactly the buckets written under
    older rules — at 10^12 rows the difference between "recompute 3% of
    buckets" and "recompute the corpus" is this table. Commits from
    before versioned lineage read as 'legacy', which is always stale —
    the honest default for provenance you don't have. A backfill is a
    ``run_checkpointed`` run under the new config: the stale buckets
    are exactly its pending ones, and its commits supersede them."""
    cur = config.rule_version()
    rows = [
        (b, st["rule_version"], st["snapshot_id"], st["rule_version"] != cur)
        for b, st in sorted(snapshots.bucket_state(log_dir).items())
    ]
    return spark.createDataFrame(
        rows,
        "bucket int, rule_version string, snapshot_id long, "
        "needs_backfill boolean",
    )

