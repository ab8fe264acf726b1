"""WAP-gated checkpointed pipeline (X246): passing audits publish, a
rejected wave stays un-committed (no staged leftovers, not restart-done)
and re-runs cleanly after the gate is fixed."""

import pytest

from corpusama_spark.checkpoint import run_checkpointed
from corpusama_spark.pipeline import FilterConfig
from corpusama_spark.sources.synth import captions_df


def test_wap_publish_and_reject(spark, tmp_path):
    from corpusama_spark.snapshots import read_as_of, snapshots

    out, man, snap = (
        str(tmp_path / "out"),
        str(tmp_path / "man"),
        str(tmp_path / "snap"),
    )
    caps = captions_df(spark, 240, partitions=4)
    cfg = FilterConfig(nbuckets=4)

    audits = []

    def ok_audit(metrics, written):
        audits.append(metrics)
        # a real gate: rows present, keep-rate sane, written matches
        return metrics["n_rows"] > 0 and written.count() >= metrics["n_keep"]

    n = run_checkpointed(
        spark, caps, out, man, cfg, run_id="wap1",
        snapshot_dir=snap, wap_audit=ok_audit,
    )
    assert n == 4 and len(audits) == 4
    chain = snapshots(snap)
    assert len(chain) == 4 and not any(s.get("staged") for s in chain)
    total = read_as_of(spark, out, snap).count()
    assert total == 240


def test_wap_rejection_leaves_wave_rerunnable(spark, tmp_path):
    from corpusama_spark.snapshots import read_as_of, snapshots

    out, man, snap = (
        str(tmp_path / "out"),
        str(tmp_path / "man"),
        str(tmp_path / "snap"),
    )
    caps = captions_df(spark, 240, partitions=4)
    cfg = FilterConfig(nbuckets=4)

    calls = {"n": 0}

    def flaky_audit(metrics, written):
        calls["n"] += 1
        return calls["n"] != 2  # reject exactly the second wave

    with pytest.raises(RuntimeError, match="WAP audit rejected"):
        run_checkpointed(
            spark, caps, out, man, cfg, run_id="wap2",
            snapshot_dir=snap, wap_audit=flaky_audit,
        )
    # one wave published, none staged, rejected wave NOT in history
    chain = snapshots(snap)
    assert len(chain) == 1 and not any(s.get("staged") for s in chain)
    n_after_fail = read_as_of(spark, out, snap).count()

    # fix the gate, restart: remaining 3 waves run and publish
    n2 = run_checkpointed(
        spark, caps, out, man, cfg, run_id="wap2",
        snapshot_dir=snap, wap_audit=lambda m, w: True,
    )
    assert n2 == 3
    chain = snapshots(snap)
    assert len(chain) == 4 and not any(s.get("staged") for s in chain)
    assert read_as_of(spark, out, snap).count() == 240
    assert n_after_fail < 240


def test_wap_audit_gates_the_log_at_the_manifest_path(spark, tmp_path):
    """Without snapshot_dir the log lives at the manifest path, so an
    audit gate still gates: a rejected wave leaves no commit there and
    nothing readable."""
    from corpusama_spark.snapshots import read_as_of, snapshots

    out, man = str(tmp_path / "out"), str(tmp_path / "man")
    caps = captions_df(spark, 40, partitions=2)
    with pytest.raises(RuntimeError, match="WAP audit rejected"):
        run_checkpointed(
            spark, caps, out, man, FilterConfig(nbuckets=2),
            run_id="wap-no-log", wap_audit=lambda m, w: False,
        )
    assert (tmp_path / "out").exists()
    assert snapshots(man) == []
    assert read_as_of(spark, out, man).count() == 0


def test_job_script_gates_wap_without_snapshots(spark, tmp_path):
    """scripts/run_filter_job.py --wap-keep-rate without --snapshots gates
    the log at --manifest: a keep-rate band no wave can meet fails the job
    with the audit's error and leaves no commit there."""
    import pathlib
    import subprocess
    import sys

    from corpusama_spark.snapshots import snapshots

    script = pathlib.Path(__file__).resolve().parents[1] / "scripts" / "run_filter_job.py"
    inp, man = str(tmp_path / "captions"), str(tmp_path / "man")
    captions_df(spark, 40, partitions=2).write.parquet(inp)
    proc = subprocess.run(
        [
            sys.executable, str(script),
            "--input", inp,
            "--output", str(tmp_path / "out"),
            "--manifest", man,
            "--nbuckets", "2",
            "--wap-keep-rate", "2,3",
        ],
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode != 0, proc.stdout[-2000:]
    assert "WAP audit rejected" in proc.stderr, proc.stderr[-2000:]
    assert snapshots(man) == []


def test_raising_audit_leaves_no_staged_snapshot(spark, tmp_path):
    """An audit that raises abandons its staged snapshot before the error
    propagates, and a staged leftover of a hard crash is abandoned when
    the next run starts over its buckets, while it is still the latest
    doc: its id is reused, no parent dangles, and expiry can still
    compact the log."""
    from corpusama_spark.snapshots import (
        commit_staged,
        expire_snapshots,
        snapshots,
    )

    out, man, snap = (
        str(tmp_path / "out"), str(tmp_path / "man"), str(tmp_path / "snap")
    )
    caps = captions_df(spark, 240, partitions=4)
    cfg = FilterConfig(nbuckets=4)
    calls = []

    def audit_that_crashes(metrics, written):
        calls.append(metrics)
        if len(calls) == 3:
            raise ZeroDivisionError("audit bug")
        return True

    with pytest.raises(ZeroDivisionError):
        run_checkpointed(
            spark, caps, out, man, cfg, run_id="wap3",
            snapshot_dir=snap, wap_audit=audit_that_crashes,
        )
    chain = snapshots(snap)
    assert len(chain) == 2 and not any(s.get("staged") for s in chain)
    assert expire_snapshots(snap, keep_last=1)["expire_ids"] == [1]

    # a hard crash inside the next audit leaves its staged doc behind
    leftover = commit_staged(snap, "crashed", [3], 0, 0)
    assert run_checkpointed(
        spark, caps, out, man, cfg, run_id="wap4",
        snapshot_dir=snap, wap_audit=lambda m, w: True,
    ) == 2
    chain = snapshots(snap)
    assert [s["snapshot_id"] for s in chain] == [1, 2, 3, 4]
    assert leftover == 3 and chain[2]["run_id"] == "wap4"
    assert [s["parent_id"] for s in chain[1:]] == [1, 2, 3]
    assert not any(s.get("staged") for s in chain)
    assert expire_snapshots(snap, keep_last=1)["expire_ids"] != []
