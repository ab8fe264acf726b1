"""Self-tests of the benchmark: every workload runs once at a small size,
the correctness gate is shown able to fail, and BENCHMARK.json, the
interaction map and the emitted metrics agree.

    python -m pytest filterbench/selfcheck.py -q

The file is not named test_*.py so that a plain `pytest` over the
repository, which collects the engine's own suite, does not also start
these multi-minute benchmark runs; naming it explicitly collects it.

Each run is a subprocess because a JVM cannot be relaunched inside one
Python process once module-level UDFs have bound to the previous one.
"""

from __future__ import annotations

import json
import os
import pathlib
import shutil
import subprocess
import sys

import pytest

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))
from filterbench import run

ROOT = run.ROOT
SPEC = json.loads(run.SPEC.read_text())
WORKLOAD_NAMES = list(run.WORKLOADS)
SMALL_ROWS = {"text_heavy": 600, "image_heavy": 300, "checkpointed_resume": 400}

# shrinks one workload and optionally flips a bit of the expected digest,
# then runs the benchmark's own entry point
_RUNNER = """
import dataclasses, sys
sys.path.insert(0, {root!r})
from filterbench import oracle, run
run.WARMUP_ROWS = 64
run.WORKLOADS[{workload!r}] = dataclasses.replace(run.WORKLOADS[{workload!r}], rows={rows})
if {perturb!r}:
    real = oracle.merge
    def perturbed(parts):
        s = real(parts)
        return dataclasses.replace(s, digest=f"{{int(s.digest, 16) ^ 1:016x}}")
    oracle.merge = perturbed
sys.exit(run.main(["--workload", {workload!r}, "--seed", "7", "--seconds", "0",
                   "--trace", {trace!r}]))
"""


def run_small(workload: str, trace: int = 0, perturb: bool = False):
    code = _RUNNER.format(
        root=str(ROOT), workload=workload, rows=SMALL_ROWS[workload],
        perturb=perturb, trace=str(trace),
    )
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), lines[:-1]


def names(kind: str) -> set[str]:
    return {m["name"] for m in SPEC[kind]}


@pytest.mark.parametrize("workload", WORKLOAD_NAMES)
def test_each_workload_runs_correct(workload):
    result, report = run_small(workload)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == names("end_to_end")
    assert all(m["value"] > 0 for m in result["metrics"].values())
    assert any(line.startswith("# fail_ratio 0.0000") for line in report)
    if workload == "checkpointed_resume":
        assert any(line.startswith("# resume_s") for line in report)
        assert any(line.startswith("# write_amp") for line in report)


def test_traced_run_emits_every_layer_metric():
    result, report = run_small("image_heavy", trace=1)
    assert result["correct"]
    assert set(result["metrics"]) == names("per_layer")
    units = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    for name, m in result["metrics"].items():
        assert m["unit"] == units[name]
        assert isinstance(m["value"], (int, float)) and m["value"] >= 0
    # one wave before the injected crash, one after the resume
    assert result["metrics"]["checkpoint.waves"]["value"] == 2
    assert any(line.startswith("# tracing overhead") for line in report)


def test_perturbed_expected_digest_fails_the_gate():
    result, report = run_small("text_heavy", perturb=True)
    assert not result["correct"]
    assert result["attempted"] >= 1 and result["failed"] == result["attempted"]
    assert any(line.startswith("# fail_ratio 1.0000") for line in report)
    assert any(line.startswith("# FAIL job") for line in report)


def test_exits_nonzero_without_the_engine():
    tmp_path = run.WORK / "without-engine"
    shutil.rmtree(tmp_path, ignore_errors=True)
    tmp_path.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(
        ROOT / "filterbench", tmp_path / "filterbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    proc = subprocess.run(
        [*SPEC["command"], "--workload", WORKLOAD_NAMES[0], "--seed", "1",
         "--seconds", str(SPEC["run_seconds"]), "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    shutil.rmtree(tmp_path)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


def test_benchmark_workloads_exist():
    assert {w["name"] for w in SPEC["workloads"]} <= set(WORKLOAD_NAMES)


def test_interaction_map_covers_every_layer_metric():
    imap = json.loads((ROOT / "filterbench" / "interactions.json").read_text())
    assert set(imap["per_layer"]) == names("per_layer")
    end_to_end = names("end_to_end") | set(imap["report_only"])
    for name, entry in imap["per_layer"].items():
        assert entry["moves"] and set(entry["moves"]) <= end_to_end, name
        assert entry["on"] and set(entry["on"]) <= set(WORKLOAD_NAMES), name
        assert set(entry["flat_on"]) <= set(WORKLOAD_NAMES) - set(entry["on"]), name


def test_benchmark_json_bounds():
    e2e = {m["name"]: m for m in SPEC["end_to_end"]}
    assert e2e["setup_s"]["unit"] == "s" and e2e["setup_s"]["better"] == "lower"
    assert all(0 < m["bound"] <= 0.25 for m in e2e.values())
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())


# exits at once, leaving a grandchild in a new session that outlives it
_ORPHANING = """
import os, sys, time
if os.fork() == 0:
    os.setsid()
    if os.fork() == 0:
        time.sleep(float(sys.argv[1]))
        os._exit(0)
    os._exit(0)
"""


@pytest.mark.parametrize("linger_s", [1.0, 60.0])
def test_supervisor_leaves_no_process(linger_s):
    script = run.WORK / "orphaning.py"
    script.parent.mkdir(parents=True, exist_ok=True)
    script.write_text(_ORPHANING)
    code = (
        f"import sys; sys.path.insert(0, {str(ROOT)!r})\n"
        "from filterbench import supervisor\n"
        "supervisor.GRACE_S = 3.0\n"
        f"rc = supervisor.supervise({str(script)!r}, [{str(linger_s)!r}])\n"
        "import os\n"
        "print(rc, len(supervisor.descendants(os.getpid())))\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=60
    )
    script.unlink()
    # exit code 0, and no descendant once supervise returned: the orphan
    # either ended on its own or was killed after the grace period
    assert proc.stdout.split() == ["0", "0"], proc.stderr
