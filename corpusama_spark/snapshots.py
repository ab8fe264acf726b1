"""Snapshot log: the filter job's commit-log contract — the Iceberg commit
shape over the bucket-wave parquet output.

The iceberg-spark runtime jar is not available to this engine (BENCH.md
"Environment attempts"), so it implements the SHAPE Iceberg provides
over the parquet output itself:

- an append-only chain of snapshot JSON files (``snap-<id>.json``) with
  parent pointers — Iceberg's metadata log; each snapshot lists the
  buckets (partitions) it committed plus summary counts, and a job
  commit also its decision-rule version and verified per-bucket counts
  — the job's one commit record, from which ``bucket_state`` answers
  restart done-ness and backfill plans;
- ONE commit primitive (Iceberg has one for every operation): ``_append``
  claims the next id and writes the doc through ``_write_doc`` (temp
  file, fsync, then a no-clobber link), so a crashed commit leaves no
  torn snapshot and a committer with a stale view of the chain fails
  loudly instead of overwriting the winner; the restart simply re-runs
  the wave (the data write is idempotent dynamic-partition-overwrite);
- ONE chain walk, ``_visible``: published main-line snapshots up to a
  horizon (write-audit-publish stages and branch commits are skipped);
- ``read_as_of`` gives time travel: the output table as of snapshot N is
  a partition-pruned read of exactly the buckets committed by snapshots
  ≤ N; ``fast_count`` answers COUNT(*) from the commit records.

This module holds what the checkpointed job (checkpoint.run_checkpointed),
the stream sink and the benchmark call, plus expiry. Table-maintenance
features written against the same log (spec evolution, equality deletes,
branches and tags, drops and rollback, zone maps, metadata tables) live in
``tableops``, outside the job's import closure.
"""

from __future__ import annotations

import json
import os
import pathlib
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_PREFIX = "snap-"


def _snap_path(snap_dir: str, snap_id: int) -> pathlib.Path:
    return pathlib.Path(snap_dir) / f"{_PREFIX}{snap_id:06d}.json"


def _write_doc(path: pathlib.Path, doc: dict, exclusive: bool = False) -> None:
    """The one durable metadata write: a temp file, fsync, then an atomic
    rename over ``path`` — or, when ``exclusive``, a hard link that fails
    with FileExistsError if ``path`` already exists. Leaves no temp file
    behind either way."""
    path.parent.mkdir(parents=True, exist_ok=True)
    tmp = path.parent / f".tmp-{uuid.uuid4().hex[:8]}-{path.name}"
    try:
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(doc, fh)
            fh.flush()
            os.fsync(fh.fileno())
        if exclusive:
            os.link(tmp, path)
        else:
            os.replace(tmp, path)
    finally:
        tmp.unlink(missing_ok=True)


def _append(snap_dir: str, doc: dict) -> int:
    """Append ``doc`` as the next snapshot; returns its id. The one place
    an id is claimed: id = latest + 1, parent = latest unless ``doc``
    names its own (branch commits). A concurrent or replayed committer
    that computed the same id raises instead of overwriting."""
    parent = latest_snapshot_id(snap_dir)
    snap_id = (parent or 0) + 1
    try:
        _write_doc(
            _snap_path(snap_dir, snap_id),
            {"snapshot_id": snap_id, "parent_id": parent, **doc},
            exclusive=True,
        )
    except FileExistsError:
        raise RuntimeError(f"snapshot {snap_id} already committed") from None
    return snap_id


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


def _visible(snap_dir: str, snapshot_id: int | None = None):
    """Published main-line snapshots at or before ``snapshot_id`` (all
    when None), in chain order — the walk every reader shares. Staged
    (write-audit-publish) and branch commits stay invisible until
    published or fast-forwarded."""
    for s in snapshots(snap_dir):
        if snapshot_id is not None and s["snapshot_id"] > snapshot_id:
            return
        if not (s.get("staged") or s.get("branch")):
            yield s


def latest_snapshot_id(snap_dir: str) -> int | None:
    """The highest id in the log, read from the file names alone (each
    doc's file is named after its id), so a commit parses no existing
    doc."""
    p = pathlib.Path(snap_dir)
    ids = [int(f.stem[len(_PREFIX):]) for f in p.glob(f"{_PREFIX}*.json")]
    return max(ids, default=None)


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


def _data_doc(
    snap_dir: str,
    run_id: str,
    buckets: list[int],
    n_rows: int,
    n_keep: int,
    schema: list[dict] | None = None,
    spec_id: int | None = None,
    column_stats: dict | None = None,
    rule_version: str | None = None,
    bucket_counts: dict | None = None,
    bucket_state: dict | None = None,
) -> dict:
    """The body of a data commit (``commit_snapshot`` documents the
    fields); validates ``schema`` and ``spec_id`` before anything is
    written."""
    doc = {
        "run_id": run_id,
        "buckets": sorted(int(b) for b in buckets),
        "summary": {"n_rows": int(n_rows), "n_keep": int(n_keep)},
    }
    if rule_version is not None:
        doc["rule_version"] = rule_version
    if bucket_counts is not None:
        doc["bucket_counts"] = {
            str(int(b)): [int(r), int(k)] for b, (r, k) in bucket_counts.items()
        }
    if bucket_state is not None:
        doc["bucket_state"] = {str(int(b)): st for b, st in bucket_state.items()}
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
            str(int(b)): {c: [v[0], v[1]] for c, v in cols.items()}
            for b, cols in column_stats.items()
        }
    return doc


def commit_snapshot(
    snap_dir: str,
    run_id: str,
    buckets: list[int],
    n_rows: int,
    n_keep: int,
    schema: list[dict] | None = None,
    spec_id: int | None = None,
    column_stats: dict | None = None,
    rule_version: str | None = None,
    bucket_counts: dict | None = None,
    bucket_state: dict | None = None,
) -> int:
    """Atomically append one snapshot; returns its id. Parent pointer is
    the current latest (None for the first commit).

    ``rule_version`` and ``bucket_counts`` ({bucket: (n_rows, n_keep)})
    are the per-bucket record of a job commit (checkpoint.commit_wave)
    that ``bucket_state`` and ``fast_count`` read. ``bucket_state``
    ({bucket: fields}) overrides those fields of live buckets, listed
    or not (checkpoint.fold_legacy_manifest).

    ``spec_id`` (X254, partition-spec evolution): the partition spec
    this snapshot's data files were written under; ``tableops.live_specs``
    / ``plan_scan_for_key`` plan multi-spec reads from it.

    ``schema`` (X239, the Iceberg schema-evolution shape): a list of
    {"name", "type", "default"} entries recording the TABLE SCHEMA this
    snapshot was written under (Spark DDL type strings; defaults must be
    JSON-encodable). Omit it to inherit the last recorded schema —
    ``schema_as_of`` walks the chain. Recording a schema that ADDS
    columns is an add-column evolution: older buckets lack the column on
    disk and ``read_as_of`` fills the recorded default at read time
    (Iceberg's initial-default semantics); reads as of an OLDER snapshot
    drop the new column entirely — time travel includes the schema."""
    return _append(
        snap_dir,
        _data_doc(
            snap_dir, run_id, buckets, n_rows, n_keep, schema, spec_id,
            column_stats, rule_version, bucket_counts, bucket_state,
        ),
    )


def buckets_as_of(snap_dir: str, snapshot_id: int | None = None) -> set[int]:
    """Union of buckets committed by snapshots ≤ snapshot_id (all when
    None), with partition drops (X264, the DROP PARTITION / TTL shape)
    replayed in chain order: a re-add after a drop is live again."""
    return set(bucket_state(snap_dir, snapshot_id))


def schema_as_of(
    snap_dir: str, snapshot_id: int | None = None
) -> list[dict] | None:
    """The table schema in effect at ``snapshot_id`` (latest when None):
    the most recent ``schema`` recorded at or before it. None when no
    snapshot ever recorded one (pre-evolution logs stay compatible)."""
    eff = None
    for s in _visible(snap_dir, snapshot_id):
        eff = s.get("schema", eff)
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
    for s in _visible(snap_dir, snapshot_id):
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
    for s in _visible(snap_dir, snapshot_id):
        for b in s["buckets"]:
            if "rollback_to" in s:
                out.setdefault(b, s["snapshot_id"])
            else:
                out[b] = s["snapshot_id"]
    return out


def bucket_state(
    snap_dir: str, snapshot_id: int | None = None
) -> dict[int, dict]:
    """bucket -> {"snapshot_id", "rule_version", "counts"} of the visible
    commit that last wrote each live bucket at the horizon — what
    restart done-ness and backfill plans read. ``counts`` is [n_rows,
    n_keep], None when the commit had no per-bucket map. A commit
    without a ``rule_version`` (erasure and other maintenance rewrites)
    keeps the bucket's earlier one; a bucket no commit ever versioned
    reads as ``"legacy"``. A rollback re-adds a dropped bucket with the
    state of the commit that wrote it; a commit's own ``bucket_state``
    (a squashed base, a manifest fold) overrides the fields it names."""
    state: dict[int, dict] = {}
    gone: dict[int, dict] = {}
    for s in _visible(snap_dir, snapshot_id):
        counts = s.get("bucket_counts", {})
        for b in s["buckets"]:
            if "rollback_to" in s and b in gone:
                state[b] = gone.pop(b)
                continue
            prior = state.get(b, {"rule_version": "legacy"})
            state[b] = {
                "snapshot_id": s["snapshot_id"],
                "rule_version": s.get("rule_version", prior["rule_version"]),
                "counts": counts.get(str(b)),
            }
        for b, st in s.get("bucket_state", {}).items():
            if int(b) in state:
                state[int(b)] = {**state[int(b)], **st}
        for b in s.get("dropped_buckets", []):
            if b in state:
                gone[b] = state.pop(b)
    return state


def expiry_plan(snap_dir: str, keep_last: int = 2) -> dict:
    """What ``expire_snapshots`` would do (X229; the Iceberg
    expire-snapshots maintenance shape): retain the newest ``keep_last``
    snapshots for time travel, squash everything older into one base
    snapshot. Returns {expire_ids, retain_ids, base_buckets,
    time_travel_horizon} without touching anything — the review step a
    retention policy runs before mutating the metadata log.

    Raises ValueError when the expired range holds an equality delete
    that still applies to a squashed bucket (the bucket's last commit
    in the range comes before the delete): the base carries no delete
    record, so squashing would bring the deleted rows back."""
    snaps = snapshots(snap_dir)
    keep_last = max(int(keep_last), 1)
    old, kept = snaps[:-keep_last], snaps[-keep_last:]
    if (
        not old
        # WAP in flight: resolve (publish/abandon) before compaction —
        # squashing around a pending audit would renumber its parent
        or any(s.get("staged") or s.get("branch") for s in snaps)
        # the only expirable snapshot IS the base from a prior squash —
        # nothing left to compact (keeps expire_snapshots idempotent)
        or (len(old) == 1 and old[0].get("squashed"))
    ):
        return {
            "expire_ids": [],
            "retain_ids": [s["snapshot_id"] for s in snaps],
            "base_buckets": [],
            "time_travel_horizon": snaps[0]["snapshot_id"] if snaps else None,
        }
    # replay adds AND drops over the expired prefix so a TTL drop inside
    # the squashed range stays dropped in the base snapshot
    base_buckets = sorted(buckets_as_of(snap_dir, old[-1]["snapshot_id"]))
    seq = bucket_commit_seq(snap_dir, old[-1]["snapshot_id"])
    for d in [s["snapshot_id"] for s in old if "eq_delete" in s]:
        hit = [b for b in base_buckets if seq[b] < d]
        if hit:
            raise ValueError(
                f"snapshot {d} holds an equality delete that still applies "
                f"to buckets {hit}; squashing it would bring deleted rows "
                "back (rewrite those buckets first)"
            )
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
    - ``read_as_of`` (and ``tableops.read_as_of_mor``: ``expiry_plan``
      refuses to squash a delete that still applies) at any RETAINED id
      is identical;
    - time travel to an expired id now coarsens to the base snapshot
      (Iceberg semantics: expired snapshots are no longer addressable).

    The base replaces the LAST expired id in place (so retained parent
    pointers stay valid), then the other expired files are unlinked; a
    crash between steps leaves either the old chain or a superset —
    never a torn/shrunken history — and unlinking is idempotent on
    restart.
    """
    plan = expiry_plan(snap_dir, keep_last)
    if not plan["expire_ids"]:
        return plan
    snaps = {s["snapshot_id"]: s for s in snapshots(snap_dir)}
    old = [snaps[i] for i in plan["expire_ids"]]
    base = {
        "snapshot_id": plan["expire_ids"][-1],
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
    retired_all = sorted({r for s in old for r in s.get("retired_specs", [])})
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
        base["column_stats_state"] = {str(b): v for b, v in stats_state.items()}
    # restart done-ness, backfill plans and per-bucket fast_count read
    # the same state before and after the squash; a bucket with neither
    # a version nor counts reads the same without an entry, and a base
    # without any leaves a legacy log open to its manifest fold
    carried = {
        str(b): st
        for b, st in bucket_state(snap_dir, plan["expire_ids"][-1]).items()
        if st["rule_version"] != "legacy" or st["counts"] is not None
    }
    if carried:
        base["bucket_state"] = carried
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
            provenance[name] = sorted(set(provenance.get(name, [])) | set(bs))
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
    _write_doc(_snap_path(snap_dir, base["snapshot_id"]), base)
    for sid in plan["expire_ids"][:-1]:
        _snap_path(snap_dir, sid).unlink(missing_ok=True)
    return plan


# ---------------------------------------------------------------------------
# write-audit-publish (X240): a wave lands as a STAGED snapshot invisible to
# readers, quality gates run against it, then one atomic publish (or
# abandon) — bad data never becomes readable history.
# ---------------------------------------------------------------------------


def commit_staged(
    snap_dir: str,
    run_id: str,
    buckets: list[int],
    n_rows: int,
    n_keep: int,
    schema: list[dict] | None = None,
    rule_version: str | None = None,
    bucket_counts: dict | None = None,
) -> int:
    """Commit a snapshot in STAGED state (write-audit-publish): it holds
    its id in the chain but ``buckets_as_of``/``read_as_of``/
    ``schema_as_of`` skip it until ``publish_snapshot``. The doc is
    staged from its first byte on disk, so no crash can expose an
    unaudited wave. Audit the wave via ``tableops.read_staged`` first."""
    doc = _data_doc(
        snap_dir, run_id, buckets, n_rows, n_keep, schema,
        rule_version=rule_version, bucket_counts=bucket_counts,
    )
    return _append(snap_dir, {**doc, "staged": True})


def publish_snapshot(snap_dir: str, snapshot_id: int) -> None:
    """Atomically flip a staged snapshot to published (the WAP publish).
    Idempotent; raises on an unknown id."""
    path = _snap_path(snap_dir, snapshot_id)
    if not path.exists():
        raise ValueError(f"no snapshot {snapshot_id}")
    with open(path, encoding="utf-8") as fh:
        doc = json.load(fh)
    if doc.pop("staged", False):
        _write_doc(path, doc)


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


def fast_count(snap_dir: str, snapshot_id: int | None = None) -> int | None:
    """Metadata-only row count (X272 — Iceberg answers ``COUNT(*)`` from
    manifest statistics without touching data; this is that parity over
    the commit records): the kept rows of every live bucket at the
    horizon, each credited from the commit that last wrote it
    (``bucket_state``; a re-committed bucket REPLACES its rows). Returns
    None — "fall back to a scan" — when the chain below the horizon
    holds an eq-delete (deletes subtract unknown rows) or a rollback, or
    a bucket's count is unknown: its commit recorded one total, not a
    per-bucket map, and a later commit or drop took some but not all of
    its buckets (a squashed base has no total to credit). A wrong fast
    count is strictly worse than a slow one."""
    snaps = list(_visible(snap_dir, snapshot_id))
    if any("eq_delete" in s or "rollback_to" in s for s in snaps):
        return None
    total = 0
    whole: dict[int, set[int]] = {}  # owner id -> live buckets, no map
    for b, st in bucket_state(snap_dir, snapshot_id).items():
        if st["counts"] is None:
            whole.setdefault(st["snapshot_id"], set()).add(b)
        else:
            total += int(st["counts"][1])
    by_id = {s["snapshot_id"]: s for s in snaps}
    for sid, live in whole.items():
        s = by_id.get(sid)
        if s is None or s.get("squashed") or live != set(s["buckets"]):
            return None
        total += int(s["summary"]["n_keep"])
    return total
