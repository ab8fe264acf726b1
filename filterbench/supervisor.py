"""Run the benchmark in a child process and leave no process behind.

Spark's processes outlive a clean ``SparkSession.stop()`` for a moment:
the Python worker daemon (its own process group) exits only after it
reads end-of-file from the JVM, and a multiprocessing resource tracker
exits after its parent does. The supervisor makes itself the child
subreaper (``prctl(PR_SET_CHILD_SUBREAPER)``), so every process the run
orphans is re-parented to it, and it returns only when it has no child
left: stragglers get ``GRACE_S`` to exit on their own, then SIGKILL.
Imports no engine code, so it runs where the engine is absent.
"""

from __future__ import annotations

import ctypes
import os
import signal
import subprocess
import sys
import time

INNER_ENV = "FILTERBENCH_INNER"
PR_SET_CHILD_SUBREAPER = 36
GRACE_S = 10.0
# a run must end within 180 s; past this the child is stopped and the
# run fails without a result
RUN_TIMEOUT_S = 170.0


class Stopped(Exception):
    """The supervisor was asked to stop (SIGTERM, SIGINT or SIGHUP)."""

    def __init__(self, signum: int):
        super().__init__(signum)
        self.signum = signum


def _raise_stopped(signum, _frame):
    raise Stopped(signum)


def become_subreaper() -> None:
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        err = ctypes.get_errno()
        raise OSError(err, os.strerror(err))


def descendants(root: int) -> list[int]:
    """Every live process below ``root``, from the parent links in /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:  # exited while scanning
            continue
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(entry.name))
    out, todo = [], list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def kill_all(sig: int) -> int:
    pids = descendants(os.getpid())
    for pid in pids:
        try:
            os.kill(pid, sig)
        except ProcessLookupError:
            pass
    return len(pids)


def reap_all(grace: float) -> None:
    """Wait until this process has no child: orphans are re-parented here,
    so none means no descendant is left. SIGKILL whatever still runs after
    ``grace`` seconds."""
    deadline = time.monotonic() + grace
    killed = False
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if not killed and time.monotonic() >= deadline:
            n = kill_all(signal.SIGKILL)
            print(f"# supervisor: killed {n} process(es) still running "
                  f"{grace:.0f} s after the run", file=sys.stderr, flush=True)
            killed = True
        time.sleep(0.05)


def supervise(script: str, argv: list[str]) -> int:
    """Run ``script argv`` with INNER_ENV set; return its exit code once
    every process it started has ended."""
    become_subreaper()
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, _raise_stopped)
    child = subprocess.Popen(
        [sys.executable, script, *argv], env={**os.environ, INNER_ENV: "1"}
    )
    grace = GRACE_S
    try:
        rc = child.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"# supervisor: run exceeded {RUN_TIMEOUT_S:.0f} s, stopping it",
              file=sys.stderr, flush=True)
        kill_all(signal.SIGKILL)
        rc, grace = 124, 0.0
    except Stopped as stop:
        kill_all(signal.SIGTERM)
        rc = 128 + stop.signum
    finally:
        for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
            signal.signal(sig, signal.SIG_IGN)
        reap_all(grace)
    return rc if rc >= 0 else 128 - rc  # killed by signal -rc
