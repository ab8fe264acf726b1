"""Measurement helpers that need no third-party packages: spans, peak
memory of the process tree from /proc, a host-contention probe, on-disk sizes and
Spark's own shuffle metrics."""

from __future__ import annotations

import json
import os
import pathlib
import subprocess
import sys
import threading
import time
import uuid
from contextlib import contextmanager


class Spans:
    """In-memory spans (name, start, end, parent, run id), written out once
    at the end. Every span's parent is the run span."""

    def __init__(self):
        self.run_id = uuid.uuid4().hex[:12]
        self.records: list[dict] = []
        self.t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str):
        start = time.perf_counter()
        try:
            yield
        finally:
            self.records.append(
                {
                    "name": name,
                    "start": start - self.t0,
                    "end": time.perf_counter() - self.t0,
                    "parent": "run",
                    "run_id": self.run_id,
                }
            )

    def seconds(self, name: str) -> float:
        """Duration of the last span called ``name``."""
        rec = next(r for r in reversed(self.records) if r["name"] == name)
        return rec["end"] - rec["start"]

    def write(self, path: pathlib.Path, **run_attrs) -> None:
        run = {
            "name": "run",
            "start": 0.0,
            "end": time.perf_counter() - self.t0,
            "parent": None,
            "run_id": self.run_id,
            **run_attrs,
        }
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            for rec in [run, *self.records]:
                fh.write(json.dumps(rec) + "\n")


def _pss_bytes(pid: int) -> int:
    """Proportional set size: shared pages are split between the processes
    sharing them, so forked Python workers are not counted twice."""
    with open(f"/proc/{pid}/smaps_rollup", "rb") as fh:
        for line in fh:
            if line.startswith(b"Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_memory(root: int) -> dict[str, int]:
    """Summed PSS of ``root`` and all its descendants, split into the JVM
    and the Python processes."""
    children: dict[int, list[int]] = {}
    names: dict[int, bytes] = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:  # process exited while scanning
            continue
        # field 2 is the parenthesised command name, field 4 the ppid
        names[int(entry.name)] = stat[stat.index(b"(") + 1 : stat.rindex(b")")]
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(entry.name))
    out = {"jvm": 0, "python": 0}
    todo = [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            pss = _pss_bytes(pid)
        except OSError:
            continue
        out["jvm" if names.get(pid) == b"java" else "python"] += pss
    return out


class MemorySampler:
    """Background thread sampling the process tree's memory; ``stop``
    returns the peak of the total and each part at that peak, in MB."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = {"total": 0, "jvm": 0, "python": 0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            parts = tree_memory(os.getpid())
            total = sum(parts.values())
            if total > self.peak["total"]:
                self.peak = {"total": total, **parts}
            self._stop.wait(self.interval)

    def start(self) -> "MemorySampler":
        self._thread.start()
        return self

    def stop(self) -> dict[str, float]:
        self._stop.set()
        self._thread.join(timeout=10)
        return {k: v / 2**20 for k, v in self.peak.items()}


# one spin loop in a fresh interpreter; prints iterations per second
_SPIN = """
import sys, time
n = int(sys.argv[1])
t0 = time.perf_counter()
x = 0
for i in range(n):
    x += i * i
print(n / (time.perf_counter() - t0))
"""


def _spin_rates(procs: int, iters: int) -> list[float]:
    children = [
        subprocess.Popen(
            [sys.executable, "-c", _SPIN, str(iters)], stdout=subprocess.PIPE, text=True
        )
        for _ in range(procs)
    ]
    return [float(c.communicate(timeout=120)[0]) for c in children]


def spin_probe(procs: int, iters: int = 600_000) -> float:
    """Effective parallelism available right now: the summed rate of
    ``procs`` concurrent spin loops over the fastest single rate seen. On
    an idle host it reads close to ``procs``."""
    single = _spin_rates(1, iters)
    rates = _spin_rates(procs, iters)
    return round(sum(rates) / max(single + rates), 2)


def cpu_times() -> tuple[int, int]:
    """(stolen, total) CPU time since boot in clock ticks, from /proc/stat."""
    with open("/proc/stat", encoding="ascii") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    # user nice system idle iowait irq softirq steal
    return ticks[7], sum(ticks)


def dir_bytes(path: str | pathlib.Path) -> int:
    """Bytes of every regular file under ``path`` (0 when absent)."""
    total = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(dirpath, name))
    return total


def count_files(path: str | pathlib.Path, suffix: str) -> int:
    return sum(
        1
        for _, _, files in os.walk(path)
        for name in files
        if name.endswith(suffix)
    )


def shuffle_bytes(df) -> int:
    """Bytes the last action on ``df`` moved through shuffle exchanges,
    from the ``dataSize`` SQL metric of each exchange in the executed
    (adaptive, final) plan."""
    total = 0
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if kind.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        if kind == "ShuffleExchangeExec":
            metric = node.metrics().get("dataSize")
            if metric.isDefined():
                total += int(metric.get().value())
        children = node.children()
        todo.extend(children.apply(i) for i in range(children.size()))
    return total
