"""Snapshot log (snapshots.py): atomic commits, parent chain, time travel,
restart continuity."""

import json

import pytest

from corpusama_spark.checkpoint import run_checkpointed
from corpusama_spark.pipeline import FilterConfig
from corpusama_spark.snapshots import (
    buckets_as_of,
    commit_snapshot,
    latest_snapshot_id,
    read_as_of,
    snapshots,
)
from corpusama_spark.sources.synth import captions_df


def test_commit_chain_and_time_travel_units(tmp_path, monkeypatch):
    d = str(tmp_path / "snaps")
    assert latest_snapshot_id(d) is None and snapshots(d) == []
    s1 = commit_snapshot(d, "r1", [3, 1], 100, 90)
    s2 = commit_snapshot(d, "r1", [2], 50, 40)
    assert (s1, s2) == (1, 2)
    chain = snapshots(d)
    assert chain[0]["parent_id"] is None and chain[1]["parent_id"] == 1
    assert chain[0]["buckets"] == [1, 3]  # sorted
    assert buckets_as_of(d, 1) == {1, 3}
    assert buckets_as_of(d) == {1, 2, 3}
    # a concurrent committer that computed the same id (stale latest read)
    # must fail loudly instead of overwriting the existing snapshot
    import corpusama_spark.snapshots as S

    target = S._snap_path(d, 3)
    target.write_text(json.dumps({"snapshot_id": 3, "parent_id": 2,
                                  "run_id": "x", "buckets": [7],
                                  "summary": {}}))
    monkeypatch.setattr(S, "latest_snapshot_id", lambda _d: 2)  # stale view
    with pytest.raises(RuntimeError, match="already committed"):
        S.commit_snapshot(d, "r1", [9], 1, 1)
    # no .tmp litter after the failed commit; the winner's file is intact
    assert not list((tmp_path / "snaps").glob(".tmp-*"))
    assert json.loads(target.read_text())["buckets"] == [7]


def test_checkpointed_run_commits_snapshots_and_reads_as_of(spark, tmp_path):
    caps = captions_df(spark, 200, partitions=4)
    out, mani, snaps = (
        str(tmp_path / "out"), str(tmp_path / "mani"), str(tmp_path / "snaps")
    )
    cfg = FilterConfig(nbuckets=8)
    with pytest.raises(RuntimeError, match="injected failure"):
        run_checkpointed(
            spark, caps, out, mani, cfg, "run-1",
            fail_after_buckets=2, snapshot_dir=snaps,
        )
    mid = latest_snapshot_id(snaps)
    assert mid is not None
    mid_rows = read_as_of(spark, out, snaps, mid).count()
    assert 0 < mid_rows < 200
    run_checkpointed(spark, caps, out, mani, cfg, "run-2", snapshot_dir=snaps)
    chain = snapshots(snaps)
    # parent pointers survive the restart
    assert [s["parent_id"] for s in chain] == [None] + [
        s["snapshot_id"] for s in chain[:-1]
    ]
    assert buckets_as_of(snaps) == set(range(8))
    # time travel: as-of mid is a strict prefix of the final table
    assert read_as_of(spark, out, snaps, mid).count() == mid_rows
    assert read_as_of(spark, out, snaps).count() == 200
    # summaries add up to the corpus
    assert sum(s["summary"]["n_rows"] for s in chain) == 200


def test_expiry_squash_preserves_restart_and_retained_reads(spark, tmp_path):
    from corpusama_spark import snapshots as S

    snap = str(tmp_path / "snaps")
    for i in range(5):
        S.commit_snapshot(
            snap, f"run{i}", buckets=[2 * i, 2 * i + 1], n_rows=10, n_keep=8
        )
    before_all = S.buckets_as_of(snap)
    before_latest = S.latest_snapshot_id(snap)
    before_retained = S.buckets_as_of(snap, 4)

    plan = S.expiry_plan(snap, keep_last=2)
    assert plan["expire_ids"] == [1, 2, 3] and plan["retain_ids"] == [4, 5]
    assert plan["base_buckets"] == [0, 1, 2, 3, 4, 5]

    done = S.expire_snapshots(snap, keep_last=2)
    assert done == plan
    snaps = S.snapshots(snap)
    # base (squashed, carries id 3) + the two retained
    assert [s["snapshot_id"] for s in snaps] == [3, 4, 5]
    assert snaps[0].get("squashed") and snaps[0]["buckets"] == [
        0, 1, 2, 3, 4, 5,
    ]
    assert snaps[0]["summary"] == {"n_rows": 30, "n_keep": 24}
    # restart contract: the full committed-bucket set is unchanged
    assert S.buckets_as_of(snap) == before_all
    assert S.latest_snapshot_id(snap) == before_latest
    # retained time travel identical
    assert S.buckets_as_of(snap, 4) == before_retained
    # expired time travel coarsens to the base (documented semantics)
    assert S.buckets_as_of(snap, 1) == set()
    assert S.buckets_as_of(snap, 3) == {0, 1, 2, 3, 4, 5}
    # idempotent / no-op when nothing to expire
    again = S.expire_snapshots(snap, keep_last=2)
    assert again["expire_ids"] == []
    # the chain still accepts new commits after a squash
    S.commit_snapshot(snap, "run5", buckets=[10], n_rows=1, n_keep=1)
    assert S.latest_snapshot_id(snap) == 6
    assert 10 in S.buckets_as_of(snap)


def test_expiry_keeps_restart_done_ness_and_counts(spark, tmp_path):
    """The squashed base carries each bucket's rule version and counts:
    a restart after expiry re-runs nothing, and the backfill plan and the
    metadata count read the same as before the squash."""
    from corpusama_spark import snapshots as S
    from corpusama_spark.checkpoint import backfill_plan

    caps = captions_df(spark, 120, partitions=2)
    out, log = str(tmp_path / "out"), str(tmp_path / "log")
    cfg = FilterConfig(nbuckets=4)
    assert run_checkpointed(spark, caps, out, log, cfg, "run-1") == 4
    plan = sorted(
        (r.bucket, r.rule_version, r.needs_backfill)
        for r in backfill_plan(spark, log, cfg).collect()
    )
    kept = S.fast_count(log)
    assert kept == read_as_of(spark, out, log).where("keep").count()

    assert S.expire_snapshots(log, keep_last=1)["expire_ids"] == [1, 2, 3]
    assert S.snapshots(log)[0]["squashed"]
    assert run_checkpointed(spark, caps, out, log, cfg, "run-2") == 0
    assert plan == sorted(
        (r.bucket, r.rule_version, r.needs_backfill)
        for r in backfill_plan(spark, log, cfg).collect()
    )
    assert S.fast_count(log) == kept


def test_commit_loads_no_existing_doc(tmp_path, monkeypatch):
    """The next id comes from the file names: a commit onto a 200-doc log
    parses none of them, while ``snapshots()`` still parses every doc
    and raises on a corrupt one."""
    import corpusama_spark.snapshots as S

    d = str(tmp_path / "snaps")
    for i in range(200):
        commit_snapshot(d, "r1", [i % 8], 1, 1)
    loads = []
    real_load = json.load

    def counting_load(fh, *a, **kw):
        loads.append(fh.name)
        return real_load(fh, *a, **kw)

    monkeypatch.setattr(json, "load", counting_load)
    assert commit_snapshot(d, "r2", [3], 1, 1) == 201
    assert loads == []
    monkeypatch.undo()
    assert snapshots(d)[-1]["parent_id"] == 200
    S._snap_path(d, 7).write_text("{torn")
    with pytest.raises(json.JSONDecodeError):
        snapshots(d)
