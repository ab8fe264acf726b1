"""The snapshot log's commit primitive: every commit kind claims its id
the same way, refuses a stale id without touching the winner's state,
lands a staged doc staged from its first byte, and expiry never brings
equality-deleted rows back."""

import json
import os
import pathlib

import pytest

import corpusama_spark.snapshots as S
from corpusama_spark.operators.maintenance import orphan_scan
from corpusama_spark.snapshots import (
    commit_snapshot,
    commit_staged,
    expire_snapshots,
    snapshots,
)
from corpusama_spark.tableops import (
    commit_eq_delete,
    evolve_spec,
    read_as_of_mor,
    rewrite_spec,
    write_with_spec,
)


def _write(spark, out, rows):
    spark.createDataFrame(
        rows, "image_id long, caption string, bucket int"
    ).write.partitionBy("bucket").mode("append").parquet(out)


def _keys(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "image_id long")


def _ids(df):
    return sorted(r.image_id for r in df.select("image_id").collect())


def _mor_at(spark, out, snaps, ids):
    return {i: _ids(read_as_of_mor(spark, out, snaps, i)) for i in ids}


def test_expiry_refuses_to_squash_a_live_equality_delete(spark, tmp_path):
    out, snaps = str(tmp_path / "out"), str(tmp_path / "snaps")
    _write(spark, out, [(i, "c", i % 2) for i in range(10)])
    commit_snapshot(snaps, "r1", [0, 1], 10, 10)
    commit_eq_delete(_keys(spark, [2, 3]), out, snaps, "erase")
    _write(spark, out, [(20, "c", 2)])
    commit_snapshot(snaps, "r2", [2], 1, 1)
    _write(spark, out, [(30, "c", 3)])
    commit_snapshot(snaps, "r3", [3], 1, 1)
    want = [0, 1, 4, 5, 6, 7, 8, 9, 20, 30]
    assert _ids(read_as_of_mor(spark, out, snaps)) == want
    chain = snapshots(snaps)
    with pytest.raises(ValueError, match="equality delete"):
        expire_snapshots(snaps, keep_last=2)
    # refused before anything moved: same chain, same reads
    assert snapshots(snaps) == chain
    assert _ids(read_as_of_mor(spark, out, snaps)) == want


def test_expiry_past_an_overwritten_delete_keeps_mor_reads(spark, tmp_path):
    out, snaps = str(tmp_path / "out"), str(tmp_path / "snaps")
    _write(spark, out, [(i, "c", i % 2) for i in range(10)])
    commit_snapshot(snaps, "r1", [0, 1], 10, 10)
    commit_eq_delete(_keys(spark, [2, 3]), out, snaps, "erase")
    # both buckets rewritten without the erased keys after the delete:
    # the delete no longer covers any committed bucket
    spark.createDataFrame(
        [(i, "c", i % 2) for i in range(10) if i not in (2, 3)],
        "image_id long, caption string, bucket int",
    ).write.partitionBy("bucket").mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).parquet(out)
    commit_snapshot(snaps, "rewrite", [0, 1], 8, 8)
    _write(spark, out, [(20, "c", 2)])
    commit_snapshot(snaps, "r2", [2], 1, 1)
    _write(spark, out, [(30, "c", 3)])
    last = commit_snapshot(snaps, "r3", [3], 1, 1)
    retained = [last - 1, last]
    before = _mor_at(spark, out, snaps, retained)
    plan = expire_snapshots(snaps, keep_last=2)
    assert plan["retain_ids"] == retained and plan["expire_ids"]
    assert _mor_at(spark, out, snaps, retained) == before


def test_commit_staged_lands_only_staged_docs(tmp_path, monkeypatch):
    d = str(tmp_path / "snaps")
    commit_snapshot(d, "r1", [0], 4, 2)
    landed = []

    def recording(real):
        def move(src, dst, *a, **kw):
            if pathlib.Path(dst).name.startswith("snap-"):
                with open(src, encoding="utf-8") as fh:
                    landed.append(json.load(fh))
            return real(src, dst, *a, **kw)

        return move

    for name in ("rename", "replace", "link"):
        monkeypatch.setattr(os, name, recording(getattr(os, name)))
    sid = commit_staged(d, "r1", [1], 4, 2)
    assert landed and all(doc.get("staged") for doc in landed)
    assert snapshots(d)[-1] == landed[-1] and landed[-1]["snapshot_id"] == sid


def _winner(d, sid, doc):
    target = S._snap_path(d, sid)
    target.write_text(json.dumps({"snapshot_id": sid, "parent_id": sid - 1,
                                  "run_id": "winner", **doc}))
    return target


def test_rewrite_spec_refuses_a_stale_snapshot_id(spark, tmp_path, monkeypatch):
    out, d = str(tmp_path / "out"), str(tmp_path / "snaps")
    batch = spark.createDataFrame(
        [(i, 1000 + i * 7) for i in range(40)], "image_id long, phash long"
    )
    evolve_spec(d, 4)
    spec = write_with_spec(batch, out, d)
    commit_snapshot(d, "r1", list(range(4)), 40, 40, spec_id=spec["spec_id"])
    evolve_spec(d, 16)
    target = _winner(d, 2, {"buckets": [7], "summary": {}})
    monkeypatch.setattr(S, "latest_snapshot_id", lambda _d: 1)  # stale view
    with pytest.raises(RuntimeError, match="already committed"):
        rewrite_spec(spark, out, d, "rewrite")
    assert not list(pathlib.Path(d).glob(".tmp-*"))
    assert json.loads(target.read_text())["run_id"] == "winner"


def test_commit_eq_delete_refuses_a_stale_id_without_touching_the_winner(
    spark, tmp_path, monkeypatch
):
    out, d = str(tmp_path / "out"), str(tmp_path / "snaps")
    _write(spark, out, [(i, "c", 0) for i in range(8)])
    commit_snapshot(d, "r1", [0], 8, 8)
    won = commit_eq_delete(_keys(spark, [2]), out, d, "winner")
    doc = snapshots(d)[-1]
    monkeypatch.setattr(S, "latest_snapshot_id", lambda _d: won - 1)
    with pytest.raises(RuntimeError, match="already committed"):
        commit_eq_delete(_keys(spark, [5]), out, d, "stale")
    monkeypatch.undo()
    assert snapshots(d)[-1] == doc
    path = f"{out}/{doc['eq_delete']['path']}"
    assert _ids(spark.read.parquet(path)) == [2]
    assert _ids(read_as_of_mor(spark, out, d)) == [0, 1, 3, 4, 5, 6, 7]


def test_orphan_scan_lists_the_losing_eq_delete_file(spark, tmp_path, monkeypatch):
    """The delete file of a commit_eq_delete that lost the id race is
    named by no snapshot: the orphan plan lists it, and only it."""
    out, d = str(tmp_path / "out"), str(tmp_path / "snaps")
    _write(spark, out, [(i, "c", 0) for i in range(8)])
    commit_snapshot(d, "r1", [0], 8, 8)
    won = commit_eq_delete(_keys(spark, [2]), out, d, "winner")
    monkeypatch.setattr(S, "latest_snapshot_id", lambda _d: won - 1)
    with pytest.raises(RuntimeError, match="already committed"):
        commit_eq_delete(_keys(spark, [5]), out, d, "stale")
    monkeypatch.undo()
    eq_dir = pathlib.Path(out) / "_deletes" / "eq"
    winner = eq_dir / pathlib.Path(snapshots(d)[-1]["eq_delete"]["path"]).name
    plan = orphan_scan(out, d)
    assert plan["orphan_deletes"] == [
        str(f) for f in eq_dir.iterdir() if f != winner
    ]
    assert len(plan["orphan_deletes"]) == 1 and winner.exists()
    assert plan["orphan_buckets"] == []
