"""WAP-gated checkpointed pipeline (X246): passing audits publish, a
rejected wave stays un-committed (no staged leftovers, not in the
manifest) and re-runs cleanly after the gate is fixed."""

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


def test_wap_audit_without_snapshots_fails_before_writing(spark, tmp_path):
    """An audit gate with no snapshot log to stage into cannot gate
    anything: the call must refuse before any output or manifest exists
    instead of committing every wave unaudited."""
    out, man = str(tmp_path / "out"), str(tmp_path / "man")
    caps = captions_df(spark, 40, partitions=2)
    with pytest.raises(ValueError, match="snapshot_dir"):
        run_checkpointed(
            spark, caps, out, man, FilterConfig(nbuckets=2),
            run_id="wap-no-log", wap_audit=lambda m, w: False,
        )
    assert not (tmp_path / "out").exists()
    assert not (tmp_path / "man").exists()


def test_job_script_rejects_wap_without_snapshots(tmp_path):
    """scripts/run_filter_job.py --wap-keep-rate needs --snapshots: the
    argument check fails before a SparkSession starts or a path is
    touched."""
    import pathlib
    import subprocess
    import sys

    script = pathlib.Path(__file__).resolve().parents[1] / "scripts" / "run_filter_job.py"
    out = tmp_path / "out"
    proc = subprocess.run(
        [
            sys.executable, str(script),
            "--input", str(tmp_path / "missing-input"),
            "--output", str(out),
            "--manifest", str(tmp_path / "man"),
            "--wap-keep-rate", "0.1,0.9",
        ],
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 2, proc.stderr[-2000:]
    assert "--snapshots" in proc.stderr
    assert not out.exists()
