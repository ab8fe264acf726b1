"""The filter job's import closure stays small: importing the batch,
checkpointed and streaming entry points loads no analytics operator and
no table-maintenance code, and the engine modules it does load stay under
a line budget. Measured in a fresh interpreter, so modules other tests
imported do not count."""

import json
import pathlib
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parents[1]
JOB = (
    "corpusama_spark.checkpoint",
    "corpusama_spark.pipeline",
    "corpusama_spark.streaming.incremental",
)
MAX_LINES = 3125

PROBE = f"""
import importlib, json, sys
for m in {JOB!r}:
    importlib.import_module(m)
print(json.dumps({{
    name: sum(1 for _ in open(mod.__file__, encoding="utf-8"))
    for name, mod in sys.modules.items()
    if name.split(".")[0] == "corpusama_spark"
    and getattr(mod, "__file__", None)
}}))
"""


def test_job_imports_no_operators_or_tableops_and_stays_small():
    out = subprocess.run(
        [sys.executable, "-c", PROBE],
        cwd=ROOT,
        capture_output=True,
        text=True,
        check=True,
    ).stdout
    loaded = json.loads(out.strip().splitlines()[-1])
    assert set(JOB) <= set(loaded)
    assert "corpusama_spark.snapshots" in loaded
    banned = sorted(
        m
        for m in loaded
        if m.startswith("corpusama_spark.operators")
        or m == "corpusama_spark.tableops"
    )
    assert banned == []
    assert sum(loaded.values()) < MAX_LINES, loaded
