"""Table maintenance over the snapshot store — the Iceberg
remove_orphan_files / rewrite_data_files housekeeping pair.

A long-lived 10^12-row table accumulates two kinds of rot that no query
ever surfaces:

- **Orphan files**: data written by a crashed wave that never committed,
  or staged by a WAP snapshot that was abandoned (snapshots.py
  abandon_snapshot drops the METADATA; the parquet it audited stays on
  disk). They cost storage and — worse — a naive directory-listing read
  would resurrect rows that were never part of any committed snapshot.
  The engine's readers are immune (read_as_of prunes to committed
  buckets), which is exactly why the files linger unnoticed.
- **Small files**: every wave commit closes its writers, so a bucket
  re-committed by many incremental runs fragments into files far below
  the scan-efficient size; at scale the NameNode/manifest pressure and
  per-file open cost dominate the read.

Both audits here are METADATA-scale operations: they walk the file
listing (on a real deployment, the Iceberg manifest — no data is read)
and return plans. ``vacuum_orphans`` is the only destructive call and
takes an age guard (Iceberg's ``older_than``) so an in-flight writer's
fresh files are never swept.
"""

from __future__ import annotations

import os
import pathlib
import time

from corpusama_spark.snapshots import buckets_as_of, snapshots

_BUCKET_PREFIX = "bucket="


def _bucket_of(d: pathlib.Path) -> int | None:
    if d.name.startswith(_BUCKET_PREFIX):
        try:
            return int(d.name[len(_BUCKET_PREFIX):])
        except ValueError:
            return None
    return None


def orphan_scan(out_path: str, snap_dir: str) -> dict:
    """What a vacuum would reclaim: partition directories whose bucket no
    committed snapshot references (crashed-wave leftovers, abandoned WAP
    stages) plus writer litter (_temporary dirs, .tmp/. staging files).
    Returns a dry-run plan: {live_buckets, orphan_buckets, orphan_files,
    orphan_bytes, litter, orphan_deletes}. ``orphan_deletes`` lists the
    equality-delete files under ``_deletes/eq/`` that no snapshot names
    (a ``commit_eq_delete`` that lost the id race, or a delete whose
    snapshot expiry squashed away). Never deletes."""
    from corpusama_spark.tableops import storage_live_buckets

    root = pathlib.Path(out_path)
    named = {
        s["eq_delete"]["path"] for s in snapshots(snap_dir) if "eq_delete" in s
    }
    eq_dir = root / "_deletes" / "eq"
    orphan_deletes = sorted(
        str(f)
        for f in (eq_dir.iterdir() if eq_dir.is_dir() else ())
        if f"_deletes/eq/{f.name}" not in named
    )
    # storage-live, not logically-live: a TTL-dropped bucket stays
    # addressable to pre-drop time travel until snapshot expiry removes
    # the snapshots that reach it — vacuuming earlier would corrupt
    # time travel (X264 lifecycle: drop -> expire -> vacuum)
    live = storage_live_buckets(snap_dir)
    orphan_buckets: list[int] = []
    orphan_files: list[str] = []
    orphan_bytes = 0
    litter: list[str] = []
    if not root.exists():
        return {
            "live_buckets": sorted(live),
            "orphan_buckets": [],
            "orphan_files": [],
            "orphan_bytes": 0,
            "litter": [],
            "orphan_deletes": [],
        }
    for child in sorted(root.iterdir()):
        if child.name == "_temporary" or child.name.startswith(".tmp"):
            litter.append(str(child))
            continue
        b = _bucket_of(child)
        if b is None:
            if child.is_file() and child.name.startswith("_"):
                continue  # _SUCCESS and friends
            continue
        if b in live:
            # committed bucket: only stray temp files inside are litter
            # (.crc checksum companions are legitimate writer output)
            for f in child.rglob("*"):
                if "_temporary" in f.parts or (
                    f.name.startswith(".") and not f.name.endswith(".crc")
                ):
                    litter.append(str(f))
            continue
        orphan_buckets.append(b)
        for f in child.rglob("*"):
            if f.is_file():
                orphan_files.append(str(f))
                orphan_bytes += f.stat().st_size
    return {
        "live_buckets": sorted(live),
        "orphan_buckets": orphan_buckets,
        "orphan_files": orphan_files,
        "orphan_bytes": orphan_bytes,
        "litter": litter,
        "orphan_deletes": orphan_deletes,
    }


def vacuum_orphans(
    out_path: str, snap_dir: str, older_than_s: float = 3 * 24 * 3600
) -> dict:
    """Execute the orphan plan, skipping anything younger than
    ``older_than_s`` (a writer racing the vacuum has fresh mtimes —
    Iceberg's older_than guard). Returns {removed_buckets,
    removed_deletes, removed_files, skipped_young}. Committed data is
    untouched by construction: the plan only ever lists buckets absent
    from every published snapshot and delete files no snapshot names."""
    import shutil

    plan = orphan_scan(out_path, snap_dir)
    now = time.time()
    removed_buckets: list[int] = []
    removed_deletes: list[str] = []
    removed_files = 0
    skipped_young: list[str] = []
    root = pathlib.Path(out_path)
    orphans = [(b, root / f"{_BUCKET_PREFIX}{b}") for b in plan["orphan_buckets"]]
    orphans += [(None, pathlib.Path(f)) for f in plan["orphan_deletes"]]
    for b, d in orphans:
        files = [f for f in d.rglob("*") if f.is_file()]
        newest = max((f.stat().st_mtime for f in files), default=0.0)
        if now - newest < older_than_s:
            skipped_young.append(str(d))
            continue
        removed_files += len(files)
        shutil.rmtree(d)
        if b is None:
            removed_deletes.append(str(d))
        else:
            removed_buckets.append(b)
    for item in plan["litter"]:
        p = pathlib.Path(item)
        if not p.exists():
            continue
        if now - p.stat().st_mtime < older_than_s:
            skipped_young.append(item)
            continue
        if p.is_dir():
            shutil.rmtree(p)
        else:
            p.unlink()
    return {
        "removed_buckets": removed_buckets,
        "removed_deletes": removed_deletes,
        "removed_files": removed_files,
        "skipped_young": skipped_young,
    }


def small_file_report(
    out_path: str, snap_dir: str, target_bytes: int = 128 * 1024 * 1024
) -> list[dict]:
    """Per committed bucket: file count, bytes, and whether a compaction
    (rewrite_data_files) would help — more than one file and a mean file
    size under half the target. Listing-only; sorted worst-first by file
    count so the maintenance job can budget top-N."""
    root = pathlib.Path(out_path)
    live = buckets_as_of(snap_dir)
    out = []
    for b in sorted(live):
        d = root / f"{_BUCKET_PREFIX}{b}"
        if not d.exists():
            continue
        files = [f for f in d.rglob("*.parquet") if f.is_file()]
        total = sum(f.stat().st_size for f in files)
        n = len(files)
        out.append(
            {
                "bucket": b,
                "n_files": n,
                "total_bytes": total,
                "mean_bytes": (total // n) if n else 0,
                "needs_compaction": n > 1 and (total / n) < target_bytes / 2,
            }
        )
    out.sort(key=lambda r: (-r["n_files"], r["bucket"]))
    return out


def compact_bucket(spark, out_path: str, bucket: int) -> int:
    """Rewrite one bucket's fragments into a single file (the Iceberg
    bin-pack rewrite at its smallest grain): read the bucket partition,
    coalesce(1), write to a staging dir, atomic-swap. Returns the row
    count. Idempotent — re-running on a compacted bucket is a no-op
    rewrite of one file."""
    import shutil

    d = pathlib.Path(out_path) / f"{_BUCKET_PREFIX}{bucket}"
    df = spark.read.parquet(str(d))
    n = df.count()
    tmp = str(d) + "__compact_tmp"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    shutil.rmtree(d)
    os.rename(tmp, d)
    return n


def erasure_status(spark, out_path: str, snap_dir: str) -> dict:
    """Compliance view of the eq-delete lane (X260, closing X257's loop):
    which buckets still PHYSICALLY hold rows that every current read
    already subtracts. Logical erasure (commit_eq_delete) is immediate;
    regulations want the bytes gone too, and that requires rewriting the
    owning data files — this is the worklist. Returns {n_delete_keys,
    residue_buckets, n_residue_rows}.

    Cost shape: one column-pruned scan of the key column joined against
    the (broadcast-small) union of delete files; a real deployment cuts
    this further with per-file bloom sidecars (operators/bloom.py)."""
    from pyspark.sql import functions as F

    from corpusama_spark.tableops import data_seq_col, eq_deletes_as_of

    eq = eq_deletes_as_of(spark, out_path, snap_dir)
    if eq is None:
        return {"n_delete_keys": 0, "residue_buckets": [], "n_residue_rows": 0}
    key_cols = tuple(c for c in eq.columns if c != "delete_seq")
    eq_agg = eq.groupBy(*key_cols).agg(
        F.max("delete_seq").alias("delete_seq")
    )
    raw = spark.read.parquet(out_path).select(*key_cols, "bucket")
    data_seq = data_seq_col(snap_dir)
    residue = (
        raw.withColumn("_seq", data_seq)
        .join(F.broadcast(eq_agg), list(key_cols))
        .where(F.col("_seq") < F.col("delete_seq"))
    )
    per_bucket = residue.groupBy("bucket").count().collect()
    return {
        "n_delete_keys": eq_agg.count(),
        "residue_buckets": sorted(int(r["bucket"]) for r in per_bucket),
        "n_residue_rows": int(sum(r["count"] for r in per_bucket)),
    }


def rewrite_erased_buckets(
    spark, out_path: str, snap_dir: str, run_id: str
) -> dict:
    """Hard erasure: rewrite every residue bucket with its MOR-dead rows
    dropped, atomic per-bucket swap, then ONE snapshot re-committing
    those buckets. Invariants (pytest-pinned): the logical table
    (read_as_of_mor at latest) is identical before and after; the raw
    files no longer contain the erased keys; a second run is a no-op.

    Deliberate consequence: time travel to snapshots BEFORE the rewrite
    no longer resurrects the erased rows in rewritten buckets — hard
    erasure outranks time travel (the same trade real Iceberg makes when
    compliance rewrites + expires old snapshots)."""
    import shutil

    from corpusama_spark.snapshots import commit_snapshot
    from corpusama_spark.tableops import read_as_of_mor

    status = erasure_status(spark, out_path, snap_dir)
    buckets = status["residue_buckets"]
    if not buckets:
        return {"rewritten_buckets": [], "n_rows_kept": 0}
    from pyspark.sql import functions as F

    kept_total = 0
    for b in buckets:
        keep = read_as_of_mor(spark, out_path, snap_dir).where(
            F.col("bucket") == b
        )
        d = pathlib.Path(out_path) / f"{_BUCKET_PREFIX}{b}"
        tmp = str(d) + "__erase_tmp"
        keep.drop("bucket").write.mode("overwrite").parquet(tmp)
        kept = spark.read.parquet(tmp).count()
        kept_total += kept
        shutil.rmtree(d)
        os.rename(tmp, d)
    commit_snapshot(
        snap_dir, run_id, buckets, kept_total, kept_total
    )
    return {"rewritten_buckets": buckets, "n_rows_kept": kept_total}
