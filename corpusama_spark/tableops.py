"""Table maintenance over the snapshot log — the Iceberg table features
beyond plain commits, time travel and expiry.

``snapshots`` is the filter job's commit log; this module is what a
table owner runs against that same log, outside the job's import
closure:

- write-audit-publish audit reads and incremental scans (X240);
- partition-spec evolution and the rewrite to the current spec (X254);
- merge-on-read equality deletes (X257) and row-level changelogs (X253);
- immutable tags and mutable branches with fast-forward (X240, X269);
- partition drops and TTL retention (X264), rollback (X274);
- zone-map column bounds and their backfill (X273, X275);
- the commit log as queryable metadata tables (X261).

Every commit here goes through ``snapshots._append`` and every metadata
write through ``snapshots._write_doc``; every reader walks the chain with
``snapshots._visible``. The snapshot JSON format is the one
``snapshots`` documents, so the job's readers see these commits exactly
as their own.
"""

from __future__ import annotations

import json
import pathlib
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from corpusama_spark.snapshots import (
    _append,
    _snap_path,
    _visible,
    _write_doc,
    bucket_commit_seq,
    buckets_as_of,
    latest_snapshot_id,
    partition_specs,
    read_as_of,
    snapshots,
)


# ---------------------------------------------------------------------------
# X240: audit reads, incremental scan and tags — the workflow ops a
# production pipeline leans on beyond plain commits.
# ---------------------------------------------------------------------------


def read_staged(
    spark: SparkSession, out_path: str, snap_dir: str, snapshot_id: int
) -> DataFrame:
    """The rows a STAGED snapshot would add — the audit input."""
    snaps = {s["snapshot_id"]: s for s in snapshots(snap_dir)}
    s = snaps[snapshot_id]
    bs = sorted(s["buckets"])
    df = spark.read.parquet(out_path)
    return df.where(F.col("bucket").isin(bs)) if bs else df.where(F.lit(False))


def read_incremental(
    spark: SparkSession,
    out_path: str,
    snap_dir: str,
    from_id: int | None,
    to_id: int | None = None,
) -> DataFrame:
    """Rows added AFTER ``from_id`` up to ``to_id`` (latest when None) —
    the Iceberg incremental-scan shape. from_id=None means everything up
    to to_id. Bucket-pruned like read_as_of; published snapshots only."""
    newer = buckets_as_of(snap_dir, to_id)
    older = buckets_as_of(snap_dir, from_id) if from_id is not None else set()
    delta = sorted(newer - older)
    df = spark.read.parquet(out_path)
    return (
        df.where(F.col("bucket").isin(delta)) if delta else df.where(F.lit(False))
    )


def create_tag(snap_dir: str, name: str, snapshot_id: int | None = None) -> int:
    """Pin an immutable named ref to a snapshot (latest published when
    None). Re-tagging an existing name to a DIFFERENT id raises — tags
    are immutable (Iceberg tags; use a new name for a new pin)."""
    sid = snapshot_id if snapshot_id is not None else latest_snapshot_id(snap_dir)
    if sid is None:
        raise ValueError("no snapshots to tag")
    known = {s["snapshot_id"] for s in snapshots(snap_dir)}
    if sid not in known:
        raise ValueError(f"no snapshot {sid}")
    path = pathlib.Path(snap_dir) / "tags" / f"{name}.json"
    if path.exists():
        with open(path, encoding="utf-8") as fh:
            cur = json.load(fh)["snapshot_id"]
        if cur != sid:
            raise ValueError(f"tag {name!r} pinned to {cur}, not re-pinnable")
        return sid
    _write_doc(path, {"name": name, "snapshot_id": sid})
    return sid


def read_tag(
    spark: SparkSession, out_path: str, snap_dir: str, name: str
) -> DataFrame:
    """read_as_of at the tagged snapshot (schema-as-of included)."""
    path = pathlib.Path(snap_dir) / "tags" / f"{name}.json"
    if not path.exists():
        raise ValueError(f"no tag {name!r}")
    with open(path, encoding="utf-8") as fh:
        sid = json.load(fh)["snapshot_id"]
    return read_as_of(spark, out_path, snap_dir, sid)


# ---------------------------------------------------------------------------
# X254: partition-spec evolution — metadata-only; data already written
# keeps its old spec, and reads plan across every live spec.
# ---------------------------------------------------------------------------


def evolve_spec(snap_dir: str, nbuckets: int) -> int:
    """Register a NEW partition spec (X254; Iceberg partition-spec
    evolution — metadata-only, no data moves). Returns the new spec_id.
    The first registration is spec 0; each evolution increments. Writers
    pick up the latest spec; data already written keeps its old spec —
    the table legitimately holds files under SEVERAL specs at once, and
    ``plan_scan_for_key`` plans across all of them (Iceberg's
    multi-spec split planning)."""
    specs = partition_specs(snap_dir)
    spec_id = (max(specs) + 1) if specs else 0
    if specs and specs[max(specs)]["nbuckets"] == int(nbuckets):
        raise ValueError(
            f"current spec already buckets by {nbuckets}; evolution must change it"
        )
    _write_doc(
        pathlib.Path(snap_dir) / f"spec-{spec_id:04d}.json",
        {"spec_id": spec_id, "nbuckets": int(nbuckets)},
    )
    return spec_id


def current_spec(snap_dir: str) -> dict | None:
    specs = partition_specs(snap_dir)
    return specs[max(specs)] if specs else None


def live_specs(snap_dir: str, snapshot_id: int | None = None) -> set[int]:
    """Spec ids that still own committed data as of a snapshot: every
    spec recorded by a published snapshot's ``spec_id``, minus specs
    fully migrated away by a ``replace_spec`` snapshot (its
    ``retired_specs`` list)."""
    live: set[int] = set()
    for s in _visible(snap_dir, snapshot_id):
        if "spec_id" in s:
            live.add(s["spec_id"])
        if "staging_pspec" in s:
            # rows a committed rewrite_spec migrated: owned by the
            # negative staging pspec, visible from this snapshot on
            live.add(s["staging_pspec"])
        # squashed bases carry the merged state of their expired range
        live.update(s.get("spec_ids", []))
        for r in s.get("retired_specs", []):
            live.discard(r)
    return live


def plan_scan_for_key(
    snap_dir: str, phash: int, snapshot_id: int | None = None
) -> list[tuple[int, int]]:
    """Split planning for an equality predicate on the bucketing key
    under MIXED partition specs: the physical ``(pspec, bucket)``
    partitions that can contain ``phash``. One partition per live spec —
    a reader scans len(live_specs) partitions instead of the whole
    table, which is the Iceberg guarantee that spec evolution never
    degrades pruning to a full scan."""
    specs = partition_specs(snap_dir)
    out = []
    for sid in sorted(live_specs(snap_dir, snapshot_id)):
        # a negative sid is a committed rewrite's staging pspec; its rows
        # were bucketed under the target spec's width (-sid - 1)
        n = specs[sid if sid >= 0 else -sid - 1]["nbuckets"]
        out.append((sid, int(phash) % n))
    return out


def write_with_spec(df: DataFrame, out_path: str, snap_dir: str) -> dict:
    """Write rows under the CURRENT spec: bucket = pmod(phash, nbuckets),
    physical layout partitioned by (pspec, bucket). Returns the spec
    used (callers record its spec_id in their commit)."""
    spec = current_spec(snap_dir)
    if spec is None:
        raise ValueError("no partition spec registered; call evolve_spec first")
    (
        df.withColumn(
            "bucket",
            F.pmod(F.col("phash"), F.lit(spec["nbuckets"])).cast("int"),
        )
        .withColumn("pspec", F.lit(spec["spec_id"]))
        .write.partitionBy("pspec", "bucket")
        .mode("append")
        .parquet(out_path)
    )
    return spec


def rewrite_spec(
    spark: SparkSession,
    out_path: str,
    snap_dir: str,
    run_id: str,
) -> int:
    """Migrate every old-spec partition to the current spec (Iceberg
    rewrite_data_files to spec): re-bucket rows from retired-candidate
    specs under the latest spec, append them, and commit a snapshot that
    records the old specs as ``retired_specs`` so readers stop planning
    against them. Data under old paths becomes dead (expiry can vacuum
    it); the row set under ``read_with_specs`` is pinned unchanged by
    test."""
    spec = current_spec(snap_dir)
    old = sorted(live_specs(snap_dir) - {spec["spec_id"]})
    if not old:
        return latest_snapshot_id(snap_dir) or 0
    df = spark.read.parquet(out_path).where(F.col("pspec").isin(old))
    moved = df.drop("bucket", "pspec")
    n = moved.count()
    # Stage the migrated rows INVISIBLY: they land under a staging pspec
    # (-(spec_id+1), never a registered spec id, so no reader's
    # live-spec filter matches) and become visible in the SAME atomic
    # commit that retires the old specs — the snapshot doc records the
    # staging pspec and live_specs starts returning it only once the
    # doc exists. A crash between this write and the commit leaves
    # only invisible staged files (dead data for the orphan vacuum),
    # never duplicates (ADVICE r4, commit-then-visible violation).
    staging = -(spec["spec_id"] + 1)
    (
        moved.withColumn(
            "bucket",
            F.pmod(F.col("phash"), F.lit(spec["nbuckets"])).cast("int"),
        )
        .withColumn("pspec", F.lit(staging))
        .write.partitionBy("pspec", "bucket")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite")
        .parquet(out_path)
    )
    # dynamic overwrite (not append) so a crashed earlier attempt's
    # staged files are replaced, never double-counted, on retry — the
    # old-spec input is frozen, so the retry rewrites the exact same
    # (staging, bucket) partitions
    return _append(
        snap_dir,
        {
            "run_id": run_id,
            "buckets": [],
            "spec_id": spec["spec_id"],
            "retired_specs": old,
            "staging_pspec": staging,
            "summary": {"n_rows": int(n), "n_keep": int(n)},
        },
    )


def read_with_specs(
    spark: SparkSession,
    out_path: str,
    snap_dir: str,
    phash: int | None = None,
    snapshot_id: int | None = None,
) -> DataFrame:
    """Read the spec-partitioned table: only live specs' partitions (a
    retired spec's files are dead data awaiting vacuum). With ``phash``,
    prune to exactly the partitions ``plan_scan_for_key`` returns."""
    df = spark.read.parquet(out_path)
    live = sorted(live_specs(snap_dir, snapshot_id))
    df = df.where(F.col("pspec").isin(live))
    if phash is not None:
        plan = plan_scan_for_key(snap_dir, phash, snapshot_id)
        cond = F.lit(False)
        for sid, b in plan:
            cond = cond | ((F.col("pspec") == sid) & (F.col("bucket") == b))
        df = df.where(cond & (F.col("phash") == phash))
    return df


# ---------------------------------------------------------------------------
# X257 merge-on-read equality deletes and X253 row-level changelog.
# ---------------------------------------------------------------------------


def commit_eq_delete(
    keys_df: DataFrame,
    out_path: str,
    snap_dir: str,
    run_id: str,
    key_cols: tuple[str, ...] = ("image_id",),
) -> int:
    """Commit an EQUALITY-DELETE snapshot (X257; Iceberg v2 row-level
    deletes riding the commit chain): the key values land as a small
    delete file under ``<out_path>/_deletes/eq/`` and the snapshot
    records it — no data file is rewritten. ``read_as_of_mor``
    subtracts them at scan time with the spec's strict rule
    (data_seq < delete_seq), so a later re-insert of a deleted key
    survives, and time travel to a snapshot BEFORE the delete still
    sees the rows. This is GDPR/takedown erasure priced at the delete,
    not the table.

    The delete file's name is fresh per call, not derived from the id
    the commit will claim: a committer that loses the id race leaves
    the winner's file untouched (its own file stays an orphan).

    NOTE: the logical rows become unreadable immediately; the physical
    bytes persist until the owning bucket is rewritten or expired — a
    hard-erasure deployment schedules ``compact_mor``-style rewrites of
    affected buckets (listed in the snapshot doc) on its compliance
    deadline, exactly as real Iceberg deployments do."""
    rel = f"_deletes/eq/del-{uuid.uuid4().hex}"
    keys_df.select(*key_cols).distinct().write.mode("overwrite").parquet(
        f"{out_path.rstrip('/')}/{rel}"
    )
    return _append(
        snap_dir,
        {
            "run_id": run_id,
            "buckets": [],
            "eq_delete": {"path": rel, "key_cols": list(key_cols)},
            "summary": {"n_rows": 0, "n_keep": 0},
        },
    )


def eq_deletes_as_of(
    spark: SparkSession,
    out_path: str,
    snap_dir: str,
    snapshot_id: int | None = None,
) -> DataFrame | None:
    """Every equality-delete file visible at the horizon, unioned, with
    ``delete_seq`` = the id of the snapshot that committed it (the key
    columns plus ``delete_seq``); None when there is none."""
    eq = None
    for s in _visible(snap_dir, snapshot_id):
        if "eq_delete" not in s:
            continue
        d = spark.read.parquet(
            f"{out_path.rstrip('/')}/{s['eq_delete']['path']}"
        ).withColumn("delete_seq", F.lit(s["snapshot_id"]).cast("long"))
        eq = d if eq is None else eq.unionByName(d)
    return eq


def data_seq_col(snap_dir: str, snapshot_id: int | None = None):
    """Per-row data sequence number as a column: the bucket's last
    committing snapshot (``bucket_commit_seq``) as a literal map keyed
    by ``bucket`` — rows need no sequence column."""
    seq_map = bucket_commit_seq(snap_dir, snapshot_id)
    if not seq_map:
        return F.lit(None).cast("long")
    pairs = []
    for b, sid in sorted(seq_map.items()):
        pairs.extend([F.lit(int(b)), F.lit(int(sid))])
    return F.create_map(*pairs)[F.col("bucket").cast("int")].cast("long")


def read_as_of_mor(
    spark: SparkSession,
    out_path: str,
    snap_dir: str,
    snapshot_id: int | None = None,
    keys: tuple[str, ...] = ("image_id",),
) -> DataFrame:
    """Time-travel read WITH merge-on-read equality deletes applied:
    ``read_as_of`` minus every eq-delete snapshot at or before the
    horizon. Per-row data_seq comes from the metadata chain
    (bucket -> last committing snapshot), joined in as a broadcast-size
    literal map — rows need no sequence column. Strict Iceberg rule:
    a delete at snapshot s kills rows whose bucket was committed at a
    snapshot < s and spares re-inserts committed at >= s."""
    from corpusama_spark.operators.deletes import apply_mor_deletes

    base = read_as_of(spark, out_path, snap_dir, snapshot_id)
    eq = eq_deletes_as_of(spark, out_path, snap_dir, snapshot_id)
    if eq is None:
        return base
    data = base.withColumn("data_seq", data_seq_col(snap_dir, snapshot_id))
    live = apply_mor_deletes(data, None, eq, keys=keys)
    return live.drop("data_seq")


def snapshot_changelog(
    spark: SparkSession,
    out_path: str,
    snap_dir: str,
    from_id: int,
    to_id: int | None = None,
    keys: tuple[str, ...] = ("image_id",),
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Row-level CDC between two snapshots (X253; the Iceberg
    changelog-scan shape): inserts / deletes / update_before+after image
    pairs from ``from_id`` to ``to_id`` (latest when None).

    Unlike ``read_incremental`` (bucket-level, append-only), this
    compares ROW STATES — it sees rows replaced inside a re-committed
    bucket (backfill, WAP republish, upsert wave). Buckets untouched
    between the two snapshots are pruned from BOTH sides before the
    join, so the compare cost is proportional to the churned partitions,
    not the table."""
    from corpusama_spark.operators.upsert import row_changelog

    before_b = buckets_as_of(snap_dir, from_id)
    after_b = buckets_as_of(snap_dir, to_id)
    churn = _churned_buckets(snap_dir, from_id, to_id)
    before = read_as_of(spark, out_path, snap_dir, from_id).where(
        F.col("bucket").isin(sorted(before_b & churn))
        if churn != before_b
        else F.lit(True)
    )
    after = read_as_of(spark, out_path, snap_dir, to_id).where(
        F.col("bucket").isin(sorted(after_b & churn))
        if churn != after_b
        else F.lit(True)
    )
    return row_changelog(before, after, keys, compare_cols)


def _churned_buckets(
    snap_dir: str, from_id: int, to_id: int | None
) -> set[int]:
    """Buckets committed by any snapshot in (from_id, to_id] plus
    buckets that disappeared — the partitions whose row state can have
    changed. A bucket committed only at or before from_id and never
    re-committed cannot differ between the two reads."""
    out: set[int] = set()
    for s in _visible(snap_dir, to_id):
        if s["snapshot_id"] > from_id:
            out.update(s["buckets"])
    # buckets present before but absent after (expiry/replace) also churn
    out |= buckets_as_of(snap_dir, from_id) - buckets_as_of(snap_dir, to_id)
    return out


# ---------------------------------------------------------------------------
# metadata tables (X261) — the Iceberg `table.history` / `table.partitions`
# / `table.refs` surface: the commit log itself as QUERYABLE DataFrames, so
# operational questions ("which run committed bucket 7?", "how fast is the
# table growing per wave?", "what does training-v1 pin?") are ordinary SQL
# instead of JSON spelunking. Driver-side O(#snapshots) parsing; the data
# files are never touched except for partition file counts/bytes, which is
# a listing (manifest-scale on a real catalog).
# ---------------------------------------------------------------------------


def metadata_history(spark: SparkSession, snap_dir: str) -> DataFrame:
    """One row per snapshot, chain order: commit kind derived from the
    doc (data / eq-delete / spec-rewrite / squashed base), WAP state,
    summary counts."""
    rows = []
    for s in snapshots(snap_dir):
        kind = "data"
        if "eq_delete" in s:
            kind = "eq_delete"
        elif s.get("dropped_buckets"):
            kind = "drop_partitions"
        elif s.get("retired_specs"):
            kind = "spec_rewrite"
        elif s.get("squashed"):
            kind = "squash_base"
        rows.append(
            (
                s["snapshot_id"],
                s.get("parent_id"),
                s.get("run_id", ""),
                kind,
                bool(s.get("staged", False)),
                len(s.get("buckets", [])),
                int(s.get("summary", {}).get("n_rows", 0)),
                int(s.get("summary", {}).get("n_keep", 0)),
                "schema" in s,
                s.get("spec_id"),
            )
        )
    return spark.createDataFrame(
        rows,
        "snapshot_id long, parent_id long, run_id string, kind string, "
        "staged boolean, n_buckets long, n_rows long, n_keep long, "
        "schema_change boolean, spec_id long",
    )


def metadata_partitions(
    spark: SparkSession, snap_dir: str, out_path: str
) -> DataFrame:
    """One row per committed bucket: owning (last-committing) snapshot,
    physical file count and bytes from the listing, and whether the
    bucket has been logically dropped (drop-retained files kept for
    time travel until expiry, but not a current table partition)."""
    seq = bucket_commit_seq(snap_dir)
    live = buckets_as_of(snap_dir)
    root = pathlib.Path(out_path)
    rows = []
    for b, sid in sorted(seq.items()):
        d = root / f"bucket={b}"
        files = (
            [f for f in d.rglob("*.parquet") if f.is_file()]
            if d.exists()
            else []
        )
        rows.append(
            (
                b,
                sid,
                len(files),
                sum(f.stat().st_size for f in files),
                b not in live,
            )
        )
    # `dropped` replays dropped_buckets (which bucket_commit_seq does
    # not): a TTL'd partition still shows its drop-retained files but is
    # no longer a CURRENT table partition (ADVICE r4 — without the flag
    # logically dropped buckets read as live)
    return spark.createDataFrame(
        rows,
        "bucket long, committed_by long, n_files long, bytes long, "
        "dropped boolean",
    )


def metadata_refs(spark: SparkSession, snap_dir: str) -> DataFrame:
    """One row per named ref (tag): the immutable pins training jobs
    address datasets by."""
    p = pathlib.Path(snap_dir) / "tags"
    rows = []
    if p.exists():
        for f in sorted(p.glob("*.json")):
            with open(f, encoding="utf-8") as fh:
                rows.append((f.stem, json.load(fh)["snapshot_id"]))
    return spark.createDataFrame(rows, "name string, snapshot_id long")


# ---------------------------------------------------------------------------
# partition drop + TTL retention (X264) — the Iceberg DROP PARTITION /
# data-retention lifecycle: dropping a bucket is a METADATA commit (the
# cheapest possible delete — no file touched, no row scanned); the bytes
# stay addressable to pre-drop time travel until snapshot expiry squashes
# past the drop, after which the orphan vacuum (operators/maintenance.py)
# reclaims them. drop -> expire -> vacuum is the complete lifecycle, each
# step atomic and auditable in metadata_history.
# ---------------------------------------------------------------------------


def drop_partitions(
    snap_dir: str, run_id: str, buckets: list[int]
) -> int:
    """Commit a partition-drop snapshot: the listed buckets leave the
    logical table at this point in the chain (buckets_as_of replays the
    drop; re-adding later makes them live again). Dropping a bucket no
    published snapshot has committed raises — a typo'd TTL job should
    fail loudly, not record a no-op."""
    missing = set(int(b) for b in buckets) - buckets_as_of(snap_dir)
    if missing:
        raise ValueError(f"cannot drop uncommitted buckets {sorted(missing)}")
    return _append(
        snap_dir,
        {
            "run_id": run_id,
            "buckets": [],
            "dropped_buckets": sorted(int(b) for b in buckets),
            "summary": {"n_rows": 0, "n_keep": 0},
        },
    )


def ttl_plan(snap_dir: str, older_than_snapshot: int) -> list[int]:
    """Retention preview: currently-live buckets whose LAST commit is at
    or before ``older_than_snapshot`` — the drop candidates for a
    "expire data older than wave N" policy. Pure metadata."""
    seq = bucket_commit_seq(snap_dir)
    live = buckets_as_of(snap_dir)
    return sorted(
        b for b, sid in seq.items() if b in live and sid <= older_than_snapshot
    )


def storage_live_buckets(snap_dir: str) -> set[int]:
    """Buckets whose FILES must stay on disk: every bucket added by any
    snapshot still in the metadata log (including staged WAP commits and
    logically-dropped buckets — both remain addressable, by publish or
    by time travel, until expiry removes the snapshots that reach them).
    The orphan vacuum keys off THIS, not the logical live set — vacuuming
    a dropped-but-travel-reachable bucket would corrupt time travel."""
    out: set[int] = set()
    for s in snapshots(snap_dir):
        out.update(s["buckets"])
    return out


# ---------------------------------------------------------------------------
# branches (X269) — mutable named refs with fast-forward publish (Iceberg
# branches): build the NEXT corpus version on a branch while main stays
# frozen for consumers, validate it (the same audits WAP runs on one
# wave, applied to a whole line of commits), then fast-forward main in
# one atomic metadata step. Differs from tags (immutable pins) and from
# WAP staging (a single snapshot): a branch is a SEQUENCE of commits
# with its own lineage.
# ---------------------------------------------------------------------------


def _branch_path(snap_dir: str, name: str) -> pathlib.Path:
    return pathlib.Path(snap_dir) / "branches" / f"{name}.json"


def create_branch(snap_dir: str, name: str) -> dict:
    """Open a branch at the current main head. One live branch per name;
    recreating an unmerged branch raises."""
    p = _branch_path(snap_dir, name)
    if p.exists():
        raise ValueError(f"branch {name!r} already exists")
    head = latest_snapshot_id(snap_dir) or 0
    doc = {"name": name, "base_id": head, "head_id": head, "commits": []}
    _write_doc(p, doc)
    return doc


def branch_info(snap_dir: str, name: str) -> dict:
    p = _branch_path(snap_dir, name)
    if not p.exists():
        raise ValueError(f"no branch {name!r}")
    with open(p, encoding="utf-8") as fh:
        return json.load(fh)


def commit_to_branch(
    snap_dir: str,
    name: str,
    run_id: str,
    buckets: list[int],
    n_rows: int,
    n_keep: int,
) -> int:
    """Commit a snapshot ON the branch: the snapshot doc carries
    ``branch: name`` so every main reader (buckets_as_of / read_as_of /
    time travel / restart) skips it, exactly like a WAP stage — but the
    branch accumulates a LINEAGE of such commits, each parented on the
    branch's previous head."""
    info = branch_info(snap_dir, name)
    conflict = sorted(
        set(int(b) for b in buckets) & buckets_as_of(snap_dir)
    )
    if conflict:
        # isolation is bucket-granular: a branch wave writing into a
        # bucket main already owns would physically append into a
        # directory main's bucket-pruned readers scan IMMEDIATELY,
        # breaking "main stays frozen until fast-forward" — fail loudly
        # (the drop_partitions stance) instead of silently leaking
        # (ADVICE r4). Branches own NEW buckets only.
        raise ValueError(
            f"branch {name!r} may not write into main's live buckets "
            f"{conflict}: branch commits must target new buckets only"
        )
    snap_id = _append(
        snap_dir,
        {
            "parent_id": info["head_id"] or None,
            "run_id": run_id,
            "branch": name,
            "buckets": sorted(int(b) for b in buckets),
            "summary": {"n_rows": int(n_rows), "n_keep": int(n_keep)},
        },
    )
    info["head_id"] = snap_id
    info["commits"] = info["commits"] + [snap_id]
    _write_doc(_branch_path(snap_dir, name), info)
    return snap_id


def read_branch(
    spark: SparkSession, out_path: str, snap_dir: str, name: str
) -> DataFrame:
    """The table as the branch sees it: main as of the branch base plus
    the branch's own commits, bucket-pruned like read_as_of."""
    info = branch_info(snap_dir, name)
    buckets = buckets_as_of(snap_dir, info["base_id"])
    commits = set(info["commits"])
    for s in snapshots(snap_dir):
        if s["snapshot_id"] in commits:
            buckets |= set(s["buckets"])
            buckets -= set(s.get("dropped_buckets", []))
    df = spark.read.parquet(out_path)
    return (
        df.where(F.col("bucket").isin(sorted(buckets)))
        if buckets
        else df.where(F.lit(False))
    )


def fast_forward(snap_dir: str, name: str) -> list[int]:
    """Publish the branch into main atomically-per-commit: allowed ONLY
    when main has not advanced past the branch base (the Iceberg
    fast-forward rule — anything else is a merge, which this engine
    refuses rather than invents). Each branch snapshot's ``branch``
    marker is removed (the WAP publish mechanism), making its commits
    visible to every main reader in chain order; the branch ref is then
    deleted. Returns the published snapshot ids."""
    info = branch_info(snap_dir, name)
    own = set(info["commits"])
    main_head = 0
    for s in _visible(snap_dir):
        # the branch's own commits are excluded so a crash mid-publish
        # (some markers already removed) does not make main look
        # advanced and strand the branch behind a permanent
        # "not fast-forwardable" on retry (ADVICE r4)
        if s["snapshot_id"] not in own:
            main_head = s["snapshot_id"]
    if main_head != info["base_id"]:
        raise RuntimeError(
            f"main advanced ({info['base_id']} -> {main_head}) since branch "
            f"{name!r} was created: not fast-forwardable"
        )
    for sid in info["commits"]:
        path = _snap_path(snap_dir, sid)
        with open(path, encoding="utf-8") as fh:
            doc = json.load(fh)
        # a commit without the marker was published by a previous,
        # interrupted fast_forward — retry is idempotent
        if doc.pop("branch", None) is not None:
            _write_doc(path, doc)
    _branch_path(snap_dir, name).unlink()
    return list(info["commits"])


# ---------------------------------------------------------------------------
# X273: zone-map data skipping — the Iceberg manifest column-bounds shape.
# Each data commit may carry per-bucket [min, max] bounds for value
# columns; a range predicate then plans exactly the buckets whose bounds
# intersect it, and buckets with NO recorded bounds must scan (missing
# stats never silently prune — the same honesty stance as fast_count).
# Bounds replay with bucket-overwrite semantics: the last committing
# snapshot of a bucket owns its stats, drops remove them.
# ---------------------------------------------------------------------------


def compute_column_stats(
    df: DataFrame, cols: list[str], bucket_col: str = "bucket"
) -> dict:
    """Per-bucket [min, max] of ``cols``: one map-side-combinable
    groupBy collapsed to a bucket-count-sized collect (the listing-scale
    cost model of manifest stats — never corpus rows to the driver)."""
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"mn_{c}"), F.max(c).alias(f"mx_{c}")]
    out: dict = {}
    for r in df.groupBy(bucket_col).agg(*aggs).collect():
        out[int(r[bucket_col])] = {
            c: [r[f"mn_{c}"], r[f"mx_{c}"]] for c in cols
        }
    return out


def column_stats_as_of(
    snap_dir: str, snapshot_id: int | None = None
) -> dict[int, dict]:
    """bucket -> {col: [min, max]} at the horizon: last-committer-wins
    per bucket (a re-committed bucket's old bounds are as dead as its
    old rows), dropped buckets lose their stats, and a re-commit
    WITHOUT stats clears them (the bucket's content changed; stale
    bounds would prune wrongly — the one failure mode a zone map must
    never have)."""
    out: dict[int, dict] = {}
    for snap in _visible(snap_dir, snapshot_id):
        stats = snap.get("column_stats", {})
        if snap.get("stats_only"):
            # X275 backfill: bounds recorded WITHOUT re-committing the
            # buckets (ownership, fast_count attribution and
            # bucket_commit_seq untouched — an ANALYZE, not a write)
            for bs, v in stats.items():
                out[int(bs)] = v
        else:
            for b in snap["buckets"]:
                if str(b) in stats:
                    out[b] = stats[str(b)]
                else:
                    out.pop(b, None)
        for b in snap.get("dropped_buckets", []):
            out.pop(b, None)
        # squashed bases carry the replayed bounds state of their
        # expired prefix (set last: it already reflects pops/drops)
        for bs, v in snap.get("column_stats_state", {}).items():
            out[int(bs)] = v
    return out


def plan_scan_for_range(
    snap_dir: str,
    col: str,
    lo,
    hi,
    snapshot_id: int | None = None,
) -> dict:
    """Split planning for ``col BETWEEN lo AND hi``: partitions the live
    bucket set into ``scan`` (bounds intersect the range, or no bounds
    recorded — must scan) and ``pruned`` (bounds prove emptiness).
    Returns {"scan": [...], "pruned": [...], "unbounded": [...]} with
    unbounded ⊆ scan (the buckets scanned only because stats are
    missing — the maintenance signal to backfill bounds)."""
    live = buckets_as_of(snap_dir, snapshot_id)
    stats = column_stats_as_of(snap_dir, snapshot_id)
    scan, pruned, unbounded = [], [], []
    for b in sorted(live):
        bounds = stats.get(b, {}).get(col)
        if bounds is None or bounds[0] is None or bounds[1] is None:
            scan.append(b)
            unbounded.append(b)
        elif bounds[1] < lo or bounds[0] > hi:
            pruned.append(b)
        else:
            scan.append(b)
    return {"scan": scan, "pruned": pruned, "unbounded": unbounded}


def read_range(
    spark: SparkSession,
    out_path: str,
    snap_dir: str,
    col: str,
    lo,
    hi,
    snapshot_id: int | None = None,
) -> DataFrame:
    """Zone-map-pruned range read: scan only the buckets
    ``plan_scan_for_range`` keeps (partition pruning on the bucket
    directory layout makes the skip physical), then apply the residual
    predicate — by construction identical row set to filtering the full
    ``read_as_of`` scan, at a fraction of the bytes when bounds are
    tight (clustered layouts: see operators/layout.py)."""
    plan = plan_scan_for_range(snap_dir, col, lo, hi, snapshot_id)
    df = read_as_of(spark, out_path, snap_dir, snapshot_id)
    if not plan["scan"]:
        return df.where(F.lit(False))
    return df.where(
        F.col("bucket").isin(plan["scan"])
        & F.col(col).between(F.lit(lo), F.lit(hi))
    )


# ---------------------------------------------------------------------------
# X274: snapshot rollback — Iceberg's rollback_to_snapshot: a NEW
# metadata-only commit restores the table's bucket state to a past
# snapshot without rewriting history (time travel still sees the bad
# wave; current readers do not). Rollback is only possible while the
# target state's data files are intact: buckets physically re-committed
# since the target were OVERWRITTEN on disk, and the rollback refuses
# loudly rather than resurrecting wrong bytes.
# ---------------------------------------------------------------------------


def rollback(snap_dir: str, run_id: str, snapshot_id: int) -> int:
    """Commit a rollback snapshot: current state := state as of
    ``snapshot_id``. Buckets added since the target are dropped
    (metadata-only; their files await expiry+vacuum like any drop);
    buckets dropped since the target are re-added (their files are
    intact — drops never touch data). Raises if any bucket live at the
    target was RE-COMMITTED since (its files were replaced by dynamic
    partition overwrite; the old bytes are gone and a metadata rollback
    cannot restore them). fast_count declines across rollback commits —
    ownership attribution is no longer per-wave additive."""
    target = buckets_as_of(snap_dir, snapshot_id)
    if snapshot_id > (latest_snapshot_id(snap_dir) or 0):
        raise ValueError(f"cannot roll back to future snapshot {snapshot_id}")
    seq_t = bucket_commit_seq(snap_dir, snapshot_id)
    seq_now = bucket_commit_seq(snap_dir)
    overwritten = sorted(
        b for b in target if seq_now.get(b, seq_t[b]) != seq_t[b]
    )
    if overwritten:
        raise ValueError(
            f"buckets {overwritten} were re-committed after snapshot "
            f"{snapshot_id}: their files were overwritten, rollback "
            "cannot restore them (restore from a branch/tag instead)"
        )
    current = buckets_as_of(snap_dir)
    return _append(
        snap_dir,
        {
            "run_id": run_id,
            "rollback_to": int(snapshot_id),
            "buckets": sorted(target - current),
            "dropped_buckets": sorted(current - target),
            "summary": {"n_rows": 0, "n_keep": 0},
        },
    )


def backfill_column_stats(
    spark: SparkSession,
    out_path: str,
    snap_dir: str,
    run_id: str,
    cols: list[str],
) -> int | None:
    """X275 — the ANALYZE-table maintenance op that consumes
    plan_scan_for_range's ``unbounded`` signal: compute [min, max]
    bounds for every LIVE bucket that has none, from the committed
    files themselves, and record them in a ``stats_only`` snapshot that
    changes NOTHING else (no bucket ownership, no fast_count effect —
    bucket_commit_seq ignores it because its ``buckets`` list is
    empty). Returns the new snapshot id, or None when every live
    bucket already carries bounds for every requested column. The scan
    is bucket-pruned to exactly the unbounded buckets."""
    live = buckets_as_of(snap_dir)
    have = column_stats_as_of(snap_dir)
    missing = sorted(
        b
        for b in live
        if any(
            have.get(b, {}).get(c) is None
            or have[b][c][0] is None
            or have[b][c][1] is None
            for c in cols
        )
    )
    if not missing:
        return None
    df = read_as_of(spark, out_path, snap_dir).where(
        F.col("bucket").isin(missing)
    )
    stats = compute_column_stats(df, cols)
    return _append(
        snap_dir,
        {
            "run_id": run_id,
            "stats_only": True,
            "buckets": [],
            "column_stats": {
                str(int(b)): {c: [v[0], v[1]] for c, v in colmap.items()}
                for b, colmap in stats.items()
            },
            "summary": {"n_rows": 0, "n_keep": 0},
        },
    )
