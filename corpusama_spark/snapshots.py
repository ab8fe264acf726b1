"""Snapshot log over the bucket-wave output — the Iceberg commit shape.

The north rule asks for "checkpointed Iceberg snapshot commits". The real
iceberg-spark runtime jar is unobtainable in this sandbox (BENCH.md
"Environment attempts"), so the engine implements the SHAPE Iceberg
provides over the parquet output itself, documented honestly:

- an append-only chain of snapshot JSON files (``snap-<id>.json``) with
  parent pointers — Iceberg's metadata log;
- each snapshot lists the buckets (partitions) it committed plus summary
  counts — Iceberg's manifest list;
- commits are ATOMIC via write-to-temp + ``os.rename`` on the same
  filesystem — a crashed commit leaves no torn snapshot, the restart
  simply re-runs the wave (the data write is idempotent
  dynamic-partition-overwrite);
- ``read_as_of`` gives time travel: the output table as of snapshot N is
  a partition-pruned read of exactly the buckets committed by snapshots
  ≤ N.

With the real catalog, ``commit_snapshot``/``read_as_of`` map 1:1 onto
Iceberg snapshot commits and ``VERSION AS OF`` reads behind the same
call sites (checkpoint.run_checkpointed).
"""

from __future__ import annotations

import json
import os
import pathlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_PREFIX = "snap-"


def _snap_path(snap_dir: str, snap_id: int) -> pathlib.Path:
    return pathlib.Path(snap_dir) / f"{_PREFIX}{snap_id:06d}.json"


def snapshots(snap_dir: str) -> list[dict]:
    """All committed snapshots, id-ascending. Unreadable/torn files cannot
    exist by construction (atomic rename), so any parse error is a real
    corruption and raises."""
    p = pathlib.Path(snap_dir)
    if not p.exists():
        return []
    out = []
    for f in sorted(p.glob(f"{_PREFIX}*.json")):
        with open(f, encoding="utf-8") as fh:
            out.append(json.load(fh))
    return out


def latest_snapshot_id(snap_dir: str) -> int | None:
    snaps = snapshots(snap_dir)
    return snaps[-1]["snapshot_id"] if snaps else None


def commit_snapshot(
    snap_dir: str,
    run_id: str,
    buckets: list[int],
    n_rows: int,
    n_keep: int,
    schema: list[dict] | None = None,
    spec_id: int | None = None,
    column_stats: dict | None = None,
) -> int:
    """Atomically append one snapshot; returns its id. Parent pointer is
    the current latest (None for the first commit).

    ``spec_id`` (X254, partition-spec evolution): the partition spec
    this snapshot's data files were written under; ``live_specs`` /
    ``plan_scan_for_key`` plan multi-spec reads from it.

    ``schema`` (X239, the Iceberg schema-evolution shape): a list of
    {"name", "type", "default"} entries recording the TABLE SCHEMA this
    snapshot was written under (Spark DDL type strings; defaults must be
    JSON-encodable). Omit it to inherit the last recorded schema —
    ``schema_as_of`` walks the chain. Recording a schema that ADDS
    columns is an add-column evolution: older buckets lack the column on
    disk and ``read_as_of`` fills the recorded default at read time
    (Iceberg's initial-default semantics); reads as of an OLDER snapshot
    drop the new column entirely — time travel includes the schema."""
    p = pathlib.Path(snap_dir)
    p.mkdir(parents=True, exist_ok=True)
    parent = latest_snapshot_id(snap_dir)
    snap_id = (parent or 0) + 1
    doc = {
        "snapshot_id": snap_id,
        "parent_id": parent,
        "run_id": run_id,
        "buckets": sorted(int(b) for b in buckets),
        "summary": {"n_rows": int(n_rows), "n_keep": int(n_keep)},
    }
    if schema is not None:
        for c in schema:
            if set(c) != {"name", "type", "default"}:
                raise ValueError(f"schema entry needs name/type/default: {c}")
        doc["schema"] = schema
    if spec_id is not None:
        if spec_id not in partition_specs(snap_dir):
            raise ValueError(f"unregistered spec_id {spec_id}")
        doc["spec_id"] = int(spec_id)
    if column_stats is not None:
        # X273 zone maps: {bucket: {col: [min, max]}} for THIS wave's
        # buckets (the Iceberg manifest lower_bounds/upper_bounds shape);
        # stats follow bucket-overwrite semantics exactly like rows do
        doc["column_stats"] = {
            str(int(b)): {
                c: [v[0], v[1]] for c, v in cols.items()
            }
            for b, cols in column_stats.items()
        }
    tmp = p / f".tmp-{_PREFIX}{snap_id:06d}.json"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(doc, fh)
        fh.flush()
        os.fsync(fh.fileno())
    target = _snap_path(snap_dir, snap_id)
    if target.exists():  # concurrent/replayed commit of the same wave
        tmp.unlink()
        raise RuntimeError(f"snapshot {snap_id} already committed")
    os.rename(tmp, target)
    return snap_id


def buckets_as_of(snap_dir: str, snapshot_id: int | None = None) -> set[int]:
    """Union of buckets committed by snapshots ≤ snapshot_id (all when
    None)."""
    out: set[int] = set()
    for s in snapshots(snap_dir):
        if snapshot_id is not None and s["snapshot_id"] > snapshot_id:
            break
        if s.get("staged") or s.get("branch"):
            continue  # write-audit-publish: invisible until published
        out.update(s["buckets"])
        # partition drops (X264, the DROP PARTITION / TTL shape) replay
        # in chain order: a re-add after a drop is live again
        out.difference_update(s.get("dropped_buckets", []))
    return out


def schema_as_of(
    snap_dir: str, snapshot_id: int | None = None
) -> list[dict] | None:
    """The table schema in effect at ``snapshot_id`` (latest when None):
    the most recent ``schema`` recorded at or before it, walking the
    same metadata chain as ``buckets_as_of``. None when no snapshot ever
    recorded one (pre-evolution logs stay fully compatible)."""
    eff = None
    for s in snapshots(snap_dir):
        if snapshot_id is not None and s["snapshot_id"] > snapshot_id:
            break
        if s.get("staged") or s.get("branch"):
            continue
        if "schema" in s:
            eff = s["schema"]
    return eff


def read_as_of(
    spark: SparkSession,
    out_path: str,
    snap_dir: str,
    snapshot_id: int | None = None,
) -> DataFrame:
    """Time-travel read: the decisions table as of a snapshot — a
    partition-pruned scan of exactly the committed buckets (the bucket
    column is the physical partition key, so pruning is free)."""
    committed = sorted(buckets_as_of(snap_dir, snapshot_id))
    schema = schema_as_of(snap_dir, snapshot_id)
    reader = spark.read
    if schema is not None:
        # buckets written under different schema versions differ in
        # footer columns; merge so every column is visible before the
        # default fill
        reader = reader.option("mergeSchema", "true")
    df = reader.parquet(out_path)
    if not committed:
        df = df.where(F.lit(False))
    else:
        df = df.where(F.col("bucket").isin(committed))
    if schema is None:
        return df
    # per-column provenance: buckets committed STRICTLY BEFORE the
    # snapshot that introduced a column were written without it — their
    # rows take the recorded initial default (Iceberg initial-default
    # semantics). Rows written after the column existed keep their
    # stored value, including genuine NULLs.
    intro: dict[str, int] = {}
    prov: dict[str, set] = {}
    for s in snapshots(snap_dir):
        if snapshot_id is not None and s["snapshot_id"] > snapshot_id:
            break
        if s.get("staged") or s.get("branch"):
            continue
        for c in s.get("schema", []):
            intro.setdefault(c["name"], s["snapshot_id"])
        for name, bs in s.get("schema_provenance", {}).items():
            prov.setdefault(name, set()).update(bs)
    cols = []
    for c in schema:
        default = F.lit(c["default"]).cast(c["type"])
        if c["name"] not in df.columns:
            # newer than any committed data file: all-default
            cols.append(default.alias(c["name"]))
            continue
        col = F.col(c["name"])
        pre = set(prov.get(c["name"], set()))
        if c["name"] in intro and c["default"] is not None:
            pre |= buckets_as_of(snap_dir, intro[c["name"]] - 1)
        pre = sorted(pre) if c["default"] is not None else []
        if pre:
            col = F.when(
                F.col("bucket").isin(pre) & col.isNull(), default
            ).otherwise(col)
        cols.append(col.alias(c["name"]))
    if "bucket" in df.columns and all(c["name"] != "bucket" for c in schema):
        cols.append(F.col("bucket"))
    return df.select(*cols)


def expiry_plan(snap_dir: str, keep_last: int = 2) -> dict:
    """What ``expire_snapshots`` would do (X229; the Iceberg
    expire-snapshots maintenance shape): retain the newest ``keep_last``
    snapshots for time travel, squash everything older into one base
    snapshot. Returns {expire_ids, retain_ids, base_buckets,
    time_travel_horizon} without touching anything — the review step a
    retention policy runs before mutating the metadata log."""
    snaps = snapshots(snap_dir)
    keep_last = max(int(keep_last), 1)
    if len(snaps) <= keep_last:
        return {
            "expire_ids": [],
            "retain_ids": [s["snapshot_id"] for s in snaps],
            "base_buckets": [],
            "time_travel_horizon": snaps[0]["snapshot_id"] if snaps else None,
        }
    staged = [s for s in snaps if s.get("staged") or s.get("branch")]
    if staged:
        # WAP in flight: resolve (publish/abandon) before compaction —
        # squashing around a pending audit would renumber its parent
        return {
            "expire_ids": [],
            "retain_ids": [s["snapshot_id"] for s in snaps],
            "base_buckets": [],
            "time_travel_horizon": snaps[0]["snapshot_id"],
        }
    old, kept = snaps[:-keep_last], snaps[-keep_last:]
    if len(old) == 1 and old[0].get("squashed"):
        # the only expirable snapshot IS the base from a prior squash —
        # nothing left to compact (keeps expire_snapshots idempotent)
        return {
            "expire_ids": [],
            "retain_ids": [s["snapshot_id"] for s in snaps],
            "base_buckets": [],
            "time_travel_horizon": old[0]["snapshot_id"],
        }
    # replay adds AND drops over the expired prefix so a TTL drop inside
    # the squashed range stays dropped in the base snapshot
    acc: set[int] = set()
    for s in old:
        acc.update(s["buckets"])
        acc.difference_update(s.get("dropped_buckets", []))
    base_buckets = sorted(acc)
    return {
        "expire_ids": [s["snapshot_id"] for s in old],
        "retain_ids": [s["snapshot_id"] for s in kept],
        "base_buckets": base_buckets,
        "time_travel_horizon": kept[0]["snapshot_id"],
    }


def expire_snapshots(snap_dir: str, keep_last: int = 2) -> dict:
    """Execute the expiry plan: squash all snapshots older than the
    newest ``keep_last`` into ONE base snapshot carrying the union of
    their buckets and summed summaries (flagged ``"squashed": true``),
    then remove the expired metadata files. Contracts preserved:

    - ``buckets_as_of(None)`` (what restart reads) is IDENTICAL before
      and after — no data is touched, only metadata compacts;
    - ``read_as_of`` at any RETAINED id is identical;
    - time travel to an expired id now coarsens to the base snapshot
      (Iceberg semantics: expired snapshots are no longer addressable).

    The squash commits atomically (temp + rename of the base file,
    then unlink of expired files); a crash between steps leaves either
    the old chain or a superset — never a torn/shrunken history,
    because the base file replaces the OLDEST expired id in place and
    unlinking is idempotent on restart.
    """
    plan = expiry_plan(snap_dir, keep_last)
    if not plan["expire_ids"]:
        return plan
    snaps = {s["snapshot_id"]: s for s in snapshots(snap_dir)}
    old = [snaps[i] for i in plan["expire_ids"]]
    base = {
        "snapshot_id": plan["expire_ids"][-1],  # last expired id: keeps
        # parent pointers of retained snapshots valid
        "parent_id": None,
        "run_id": "squash",
        "squashed": True,
        "squashed_ids": plan["expire_ids"],
        "buckets": plan["base_buckets"],
        "summary": {
            "n_rows": sum(s["summary"]["n_rows"] for s in old),
            "n_keep": sum(s["summary"]["n_keep"] for s in old),
        },
    }
    # partition-spec state must survive the squash: which specs (and
    # committed rewrite staging pspecs) still own rows, minus those the
    # expired range itself retired — otherwise compacting a
    # rewrite_spec snapshot away would resurrect retired specs
    # (duplicates) or orphan staged rows (loss). live_specs reads the
    # plural fields below alongside the per-commit singular ones; an
    # earlier squash's base carries its state in those plural fields.
    retired_all = sorted(
        {r for s in old for r in s.get("retired_specs", [])}
    )
    spec_live = sorted(
        (
            {s["spec_id"] for s in old if "spec_id" in s}
            | {s["staging_pspec"] for s in old if "staging_pspec" in s}
            | {sid for s in old for sid in s.get("spec_ids", [])}
        )
        - set(retired_all)
    )
    if spec_live:
        base["spec_ids"] = spec_live
    if retired_all:
        base["retired_specs"] = retired_all
    # zone-map bounds replay (X273/X275): without this a squash would
    # silently degrade every expired-range bound to must-scan
    stats_state: dict = {}
    for snap in old:
        st = snap.get("column_stats", {})
        if snap.get("stats_only"):
            for bs, v in st.items():
                stats_state[int(bs)] = v
        else:
            for b in snap["buckets"]:
                if str(b) in st:
                    stats_state[b] = st[str(b)]
                else:
                    stats_state.pop(b, None)
        for b in snap.get("dropped_buckets", []):
            stats_state.pop(b, None)
        for bs, v in snap.get("column_stats_state", {}).items():
            stats_state[int(bs)] = v
    if stats_state:
        base["column_stats_state"] = {
            str(b): v for b, v in stats_state.items()
        }
    old_schemas = [s["schema"] for s in old if "schema" in s]
    if old_schemas:
        # the schema in effect at the squash horizon — keeps
        # schema_as_of(retained ids) identical after compaction
        base["schema"] = old_schemas[-1]
    # provenance: a column INTRODUCED inside the expired range loses its
    # "which buckets predate me" answer once the chain compacts — record
    # it in the base (merging provenance from any earlier squash)
    provenance: dict[str, list] = {}
    for s in old:
        for name, bs in s.get("schema_provenance", {}).items():
            provenance.setdefault(name, [])
            provenance[name] = sorted(set(provenance[name]) | set(bs))
    seen_cols: set = set()
    buckets_before: set = set()
    for s in old:
        for c in s.get("schema", []):
            if c["name"] not in seen_cols:
                seen_cols.add(c["name"])
                if buckets_before:
                    provenance[c["name"]] = sorted(
                        set(provenance.get(c["name"], [])) | buckets_before
                    )
        buckets_before |= set(s["buckets"])
    if provenance:
        base["schema_provenance"] = provenance
    p = pathlib.Path(snap_dir)
    tmp = p / f".tmp-squash-{base['snapshot_id']:06d}.json"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(base, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, _snap_path(snap_dir, base["snapshot_id"]))
    for sid in plan["expire_ids"][:-1]:
        _snap_path(snap_dir, sid).unlink(missing_ok=True)
    return plan


# ---------------------------------------------------------------------------
# X240: snapshot workflow ops — the three Iceberg idioms a production
# pipeline leans on beyond plain commits:
#   * write-audit-publish: a wave lands as a STAGED snapshot invisible to
#     readers, quality gates run against it, then one atomic publish (or
#     abandon) — bad data never becomes readable history;
#   * incremental scan: exactly the rows added between two snapshots (the
#     downstream-consumer contract: "give me what's new since I last ran");
#   * tags: named immutable refs ("training-v1") so jobs pin a snapshot by
#     meaning, not by remembering an integer.
# All metadata-log ops: atomic rename, no data files touched.
# ---------------------------------------------------------------------------


def commit_staged(
    snap_dir: str,
    run_id: str,
    buckets: list[int],
    n_rows: int,
    n_keep: int,
    schema: list[dict] | None = None,
) -> int:
    """Commit a snapshot in STAGED state (write-audit-publish): it holds
    its id in the chain but ``buckets_as_of``/``read_as_of``/
    ``schema_as_of`` skip it until ``publish_snapshot``. Audit the wave
    via ``read_staged`` first."""
    sid = commit_snapshot(snap_dir, run_id, buckets, n_rows, n_keep, schema)
    path = _snap_path(snap_dir, sid)
    with open(path, encoding="utf-8") as fh:
        doc = json.load(fh)
    doc["staged"] = True
    tmp = path.parent / f".tmp-stage-{sid:06d}.json"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(doc, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, path)
    return sid


def read_staged(
    spark: SparkSession, out_path: str, snap_dir: str, snapshot_id: int
) -> DataFrame:
    """The rows a STAGED snapshot would add — the audit input."""
    snaps = {s["snapshot_id"]: s for s in snapshots(snap_dir)}
    s = snaps[snapshot_id]
    bs = sorted(s["buckets"])
    df = spark.read.parquet(out_path)
    return df.where(F.col("bucket").isin(bs)) if bs else df.where(F.lit(False))


def publish_snapshot(snap_dir: str, snapshot_id: int) -> None:
    """Atomically flip a staged snapshot to published (the WAP publish).
    Idempotent; raises on an unknown id."""
    path = _snap_path(snap_dir, snapshot_id)
    if not path.exists():
        raise ValueError(f"no snapshot {snapshot_id}")
    with open(path, encoding="utf-8") as fh:
        doc = json.load(fh)
    if not doc.get("staged"):
        return
    doc.pop("staged")
    tmp = path.parent / f".tmp-pub-{snapshot_id:06d}.json"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(doc, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, path)


def abandon_snapshot(snap_dir: str, snapshot_id: int) -> None:
    """Drop a STAGED snapshot (audit failed). Refuses to drop published
    history — that's ``expire_snapshots``' job, with its contracts. The
    freed id is reused by the next commit: an abandoned snapshot never
    became readable history, so no reader could have pinned it."""
    path = _snap_path(snap_dir, snapshot_id)
    if not path.exists():
        return
    with open(path, encoding="utf-8") as fh:
        doc = json.load(fh)
    if not doc.get("staged"):
        raise ValueError(
            f"snapshot {snapshot_id} is published; expire, don't abandon"
        )
    path.unlink()


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


def evolve_spec(snap_dir: str, nbuckets: int) -> int:
    """Register a NEW partition spec (X254; Iceberg partition-spec
    evolution — metadata-only, no data moves). Returns the new spec_id.
    The first registration is spec 0; each evolution increments. Writers
    pick up the latest spec; data already written keeps its old spec —
    the table legitimately holds files under SEVERAL specs at once, and
    ``plan_scan_for_key`` plans across all of them (Iceberg's
    multi-spec split planning)."""
    p = pathlib.Path(snap_dir)
    p.mkdir(parents=True, exist_ok=True)
    specs = partition_specs(snap_dir)
    spec_id = (max(specs) + 1) if specs else 0
    if specs and specs[max(specs)]["nbuckets"] == int(nbuckets):
        raise ValueError(
            f"current spec already buckets by {nbuckets}; evolution must change it"
        )
    tmp = p / f".tmp-spec-{spec_id:04d}.json"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump({"spec_id": spec_id, "nbuckets": int(nbuckets)}, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.rename(tmp, p / f"spec-{spec_id:04d}.json")
    return spec_id


def partition_specs(snap_dir: str) -> dict[int, dict]:
    """All registered partition specs, keyed by spec_id."""
    p = pathlib.Path(snap_dir)
    out: dict[int, dict] = {}
    if not p.exists():
        return out
    for f in sorted(p.glob("spec-*.json")):
        with open(f, encoding="utf-8") as fh:
            doc = json.load(fh)
        out[doc["spec_id"]] = doc
    return out


def current_spec(snap_dir: str) -> dict | None:
    specs = partition_specs(snap_dir)
    return specs[max(specs)] if specs else None


def live_specs(snap_dir: str, snapshot_id: int | None = None) -> set[int]:
    """Spec ids that still own committed data as of a snapshot: every
    spec recorded by a published snapshot's ``spec_id``, minus specs
    fully migrated away by a ``replace_spec`` snapshot (its
    ``retired_specs`` list)."""
    live: set[int] = set()
    for s in snapshots(snap_dir):
        if snapshot_id is not None and s["snapshot_id"] > snapshot_id:
            break
        if s.get("staged") or s.get("branch"):
            continue
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
    # rename that retires the old specs — the snapshot doc records the
    # staging pspec and live_specs starts returning it only once the
    # doc exists. A crash between this append and the commit leaves
    # only invisible staged files (dead data for the orphan vacuum),
    # never duplicates; before the fix the rows appended under the
    # already-live current spec and readers saw them TWICE until the
    # retirement committed (ADVICE r4, commit-then-visible violation).
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
    parent = latest_snapshot_id(snap_dir)
    snap_id = (parent or 0) + 1
    p = pathlib.Path(snap_dir)
    doc = {
        "snapshot_id": snap_id,
        "parent_id": parent,
        "run_id": run_id,
        "buckets": [],
        "spec_id": spec["spec_id"],
        "retired_specs": old,
        "staging_pspec": staging,
        "summary": {"n_rows": int(n), "n_keep": int(n)},
    }
    tmp = p / f".tmp-{_PREFIX}{snap_id:06d}.json"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(doc, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.rename(tmp, _snap_path(snap_dir, snap_id))
    return snap_id


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


def bucket_commit_seq(
    snap_dir: str, snapshot_id: int | None = None
) -> dict[int, int]:
    """bucket -> the snapshot id that last committed it at or before the
    horizon. This IS the data sequence number of every row in that
    bucket: the engine never needs a per-row seq column because a bucket
    is rewritten atomically by dynamic partition overwrite (latest
    commit wins for the whole partition). A rollback re-adds buckets
    without re-writing them, so they keep the number of the commit that
    wrote them (rollback refuses buckets re-written since its target);
    only when that commit has been squashed away by an expiry that also
    replayed the bucket's drop does the rollback's own id stand in."""
    out: dict[int, int] = {}
    for s in snapshots(snap_dir):
        if snapshot_id is not None and s["snapshot_id"] > snapshot_id:
            break
        if s.get("staged") or s.get("branch"):
            continue
        for b in s["buckets"]:
            if "rollback_to" in s:
                out.setdefault(b, s["snapshot_id"])
            else:
                out[b] = s["snapshot_id"]
    return out


def commit_eq_delete(
    keys_df: DataFrame,
    out_path: str,
    snap_dir: str,
    run_id: str,
    key_cols: tuple[str, ...] = ("image_id",),
) -> int:
    """Commit an EQUALITY-DELETE snapshot (X257; Iceberg v2 row-level
    deletes riding the commit chain): the key values land as a small
    delete file under ``<out_path>/_deletes/eq/snap=<id>/`` and the
    snapshot records it — no data file is rewritten. ``read_as_of_mor``
    subtracts them at scan time with the spec's strict rule
    (data_seq < delete_seq), so a later re-insert of a deleted key
    survives, and time travel to a snapshot BEFORE the delete still
    sees the rows. This is GDPR/takedown erasure priced at the delete,
    not the table.

    NOTE: the logical rows become unreadable immediately; the physical
    bytes persist until the owning bucket is rewritten or expired — a
    hard-erasure deployment schedules ``compact_mor``-style rewrites of
    affected buckets (listed in the snapshot doc) on its compliance
    deadline, exactly as real Iceberg deployments do."""
    parent = latest_snapshot_id(snap_dir)
    snap_id = (parent or 0) + 1
    rel = f"_deletes/eq/snap={snap_id:06d}"
    keys_df.select(*key_cols).distinct().write.mode("overwrite").parquet(
        f"{out_path.rstrip('/')}/{rel}"
    )
    p = pathlib.Path(snap_dir)
    p.mkdir(parents=True, exist_ok=True)
    doc = {
        "snapshot_id": snap_id,
        "parent_id": parent,
        "run_id": run_id,
        "buckets": [],
        "eq_delete": {"path": rel, "key_cols": list(key_cols)},
        "summary": {"n_rows": 0, "n_keep": 0},
    }
    tmp = p / f".tmp-{_PREFIX}{snap_id:06d}.json"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(doc, fh)
        fh.flush()
        os.fsync(fh.fileno())
    target = _snap_path(snap_dir, snap_id)
    if target.exists():
        tmp.unlink()
        raise RuntimeError(f"snapshot {snap_id} already committed")
    os.rename(tmp, target)
    return snap_id


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
    dels = []
    for s in snapshots(snap_dir):
        if snapshot_id is not None and s["snapshot_id"] > snapshot_id:
            break
        if s.get("staged") or s.get("branch") or "eq_delete" not in s:
            continue
        d = spark.read.parquet(
            f"{out_path.rstrip('/')}/{s['eq_delete']['path']}"
        ).withColumn(
            "delete_seq", F.lit(s["snapshot_id"]).cast("long")
        )
        dels.append(d)
    if not dels:
        return base
    eq = dels[0]
    for d in dels[1:]:
        eq = eq.unionByName(d)
    seq_map = bucket_commit_seq(snap_dir, snapshot_id)
    seq_expr = F.lit(None).cast("long")
    if seq_map:
        pairs = []
        for b, sid in sorted(seq_map.items()):
            pairs.extend([F.lit(int(b)), F.lit(int(sid))])
        mapping = F.create_map(*pairs)
        seq_expr = mapping[F.col("bucket").cast("int")].cast("long")
    data = base.withColumn("data_seq", seq_expr)
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
    for s in snapshots(snap_dir):
        if s.get("staged") or s.get("branch"):
            continue
        sid = s["snapshot_id"]
        if to_id is not None and sid > to_id:
            break
        if sid > from_id:
            out.update(s["buckets"])
    # buckets present before but absent after (expiry/replace) also churn
    out |= buckets_as_of(snap_dir, from_id) - buckets_as_of(snap_dir, to_id)
    return out


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
    p = pathlib.Path(snap_dir) / "tags"
    p.mkdir(parents=True, exist_ok=True)
    path = p / f"{name}.json"
    if path.exists():
        with open(path, encoding="utf-8") as fh:
            cur = json.load(fh)["snapshot_id"]
        if cur != sid:
            raise ValueError(f"tag {name!r} pinned to {cur}, not re-pinnable")
        return sid
    tmp = p / f".tmp-{name}.json"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump({"name": name, "snapshot_id": sid}, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, path)
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
    parent = latest_snapshot_id(snap_dir)
    snap_id = (parent or 0) + 1
    p = pathlib.Path(snap_dir)
    doc = {
        "snapshot_id": snap_id,
        "parent_id": parent,
        "run_id": run_id,
        "buckets": [],
        "dropped_buckets": sorted(int(b) for b in buckets),
        "summary": {"n_rows": 0, "n_keep": 0},
    }
    tmp = p / f".tmp-{_PREFIX}{snap_id:06d}.json"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(doc, fh)
        fh.flush()
        os.fsync(fh.fileno())
    target = _snap_path(snap_dir, snap_id)
    if target.exists():
        tmp.unlink()
        raise RuntimeError(f"snapshot {snap_id} already committed")
    os.rename(tmp, target)
    return snap_id


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
    p.parent.mkdir(parents=True, exist_ok=True)
    doc = {
        "name": name,
        "base_id": latest_snapshot_id(snap_dir) or 0,
        "head_id": latest_snapshot_id(snap_dir) or 0,
        "commits": [],
    }
    tmp = p.parent / f".tmp-{name}.json"
    tmp.write_text(json.dumps(doc))
    os.rename(tmp, p)
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
    parent = info["head_id"]
    snap_id = (latest_snapshot_id(snap_dir) or 0) + 1
    p = pathlib.Path(snap_dir)
    doc = {
        "snapshot_id": snap_id,
        "parent_id": parent or None,
        "run_id": run_id,
        "branch": name,
        "buckets": sorted(int(b) for b in buckets),
        "summary": {"n_rows": int(n_rows), "n_keep": int(n_keep)},
    }
    tmp = p / f".tmp-{_PREFIX}{snap_id:06d}.json"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(doc, fh)
        fh.flush()
        os.fsync(fh.fileno())
    target = _snap_path(snap_dir, snap_id)
    if target.exists():
        tmp.unlink()
        raise RuntimeError(f"snapshot {snap_id} already committed")
    os.rename(tmp, target)
    info["head_id"] = snap_id
    info["commits"] = info["commits"] + [snap_id]
    bp = _branch_path(snap_dir, name)
    btmp = bp.parent / f".tmp-{name}.json"
    btmp.write_text(json.dumps(info))
    os.rename(btmp, bp)
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
    for s in snapshots(snap_dir):
        if (
            not s.get("branch")
            and not s.get("staged")
            and s["snapshot_id"] not in own
        ):
            # the branch's own commits are excluded so a crash mid-publish
            # (some markers already removed) does not make main look
            # advanced and strand the branch behind a permanent
            # "not fast-forwardable" on retry (ADVICE r4)
            main_head = s["snapshot_id"]
    if main_head != info["base_id"]:
        raise RuntimeError(
            f"main advanced ({info['base_id']} -> {main_head}) since branch "
            f"{name!r} was created: not fast-forwardable"
        )
    published = []
    for sid in info["commits"]:
        path = _snap_path(snap_dir, sid)
        with open(path, encoding="utf-8") as fh:
            doc = json.load(fh)
        if "branch" not in doc:
            # already published by a previous, interrupted fast_forward —
            # retry is idempotent, count it and move on
            published.append(sid)
            continue
        doc.pop("branch", None)
        tmp = path.parent / f".tmp-ff-{sid:06d}.json"
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(doc, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.rename(tmp, path)
        published.append(sid)
    _branch_path(snap_dir, name).unlink()
    return published


def fast_count(snap_dir: str, snapshot_id: int | None = None) -> int | None:
    """Metadata-only row count (X272 — Iceberg answers ``COUNT(*)`` from
    manifest statistics without touching data; this is that parity over
    the snapshot summaries): sum of ``n_keep`` for every bucket's LAST
    committing data snapshot at the horizon. Returns None — "cannot
    answer from metadata, fall back to a scan" — whenever the chain
    contains anything that invalidates per-bucket additivity below the
    horizon: an eq-delete snapshot (deletes subtract unknown rows), a
    squashed base (its per-bucket split is gone) or a partial re-commit
    provenance it cannot attribute. Honesty over speed: a wrong fast
    count is strictly worse than a slow one.

    Per-bucket accounting: a re-committed bucket REPLACES its rows
    (dynamic partition overwrite), so the metadata count attributes each
    snapshot's n_keep to its buckets evenly only when the snapshot
    committed exactly one bucket set once; multi-bucket waves record one
    total, so the walk tracks totals per snapshot and drops a snapshot's
    contribution entirely when ANY of its buckets was later overwritten
    or dropped (partial attribution would require per-bucket counts the
    summary does not carry)."""
    snaps = [
        s
        for s in snapshots(snap_dir)
        if not (s.get("staged") or s.get("branch"))
        and (snapshot_id is None or s["snapshot_id"] <= snapshot_id)
    ]
    if any(
        "eq_delete" in s or s.get("squashed") or "rollback_to" in s
        for s in snaps
    ):
        # rollback re-adds buckets under a zero-summary commit, so
        # per-wave attribution is no longer additive — decline
        return None
    owner: dict[int, int] = {}  # bucket -> owning snapshot id
    dropped: set[int] = set()
    for s in snaps:
        for b in s["buckets"]:
            owner[b] = s["snapshot_id"]
            dropped.discard(b)
        for b in s.get("dropped_buckets", []):
            dropped.add(b)
            owner.pop(b, None)
    total = 0
    for s in snaps:
        if not s["buckets"] and not s.get("dropped_buckets"):
            continue
        mine = set(s["buckets"])
        if not mine:
            continue
        still_owned = {b for b in mine if owner.get(b) == s["snapshot_id"]}
        if still_owned == mine:
            total += int(s["summary"]["n_keep"])
        elif still_owned:
            # partially overwritten wave: per-bucket split unknown
            return None
    return total


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
    for snap in snapshots(snap_dir):
        if snapshot_id is not None and snap["snapshot_id"] > snapshot_id:
            break
        if snap.get("staged") or snap.get("branch"):
            continue
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
    parent = latest_snapshot_id(snap_dir)
    snap_id = (parent or 0) + 1
    p = pathlib.Path(snap_dir)
    doc = {
        "snapshot_id": snap_id,
        "parent_id": parent,
        "run_id": run_id,
        "rollback_to": int(snapshot_id),
        "buckets": sorted(target - current),
        "dropped_buckets": sorted(current - target),
        "summary": {"n_rows": 0, "n_keep": 0},
    }
    tmp = p / f".tmp-{_PREFIX}{snap_id:06d}.json"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(doc, fh)
        fh.flush()
        os.fsync(fh.fileno())
    target_path = _snap_path(snap_dir, snap_id)
    if target_path.exists():
        tmp.unlink()
        raise RuntimeError(f"snapshot {snap_id} already committed")
    os.rename(tmp, target_path)
    return snap_id


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
    parent = latest_snapshot_id(snap_dir)
    snap_id = (parent or 0) + 1
    p = pathlib.Path(snap_dir)
    doc = {
        "snapshot_id": snap_id,
        "parent_id": parent,
        "run_id": run_id,
        "stats_only": True,
        "buckets": [],
        "column_stats": {
            str(int(b)): {c: [v[0], v[1]] for c, v in colmap.items()}
            for b, colmap in stats.items()
        },
        "summary": {"n_rows": 0, "n_keep": 0},
    }
    tmp = p / f".tmp-{_PREFIX}{snap_id:06d}.json"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(doc, fh)
        fh.flush()
        os.fsync(fh.fileno())
    target = _snap_path(snap_dir, snap_id)
    if target.exists():
        tmp.unlink()
        raise RuntimeError(f"snapshot {snap_id} already committed")
    os.rename(tmp, target)
    return snap_id
