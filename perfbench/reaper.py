"""Every process a benchmark run starts ends before the run does.

The Spark JVM outlives ``SparkSession.stop()``: it exits only once its
stdin closes, and then runs its shutdown hooks while the Python process
that started it may already be gone. The JVM in turn forks the PySpark
daemon and its workers. ``become_subreaper`` makes this process the parent
of every orphan among its descendants, and ``reap_children`` ends and
waits for all of them.

Linux-only (``prctl``, ``/proc``), like the rest of the benchmark.
"""

from __future__ import annotations

import ctypes
import os
import signal
import sys
import time

_PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Orphaned descendants are re-parented to this process, not to init."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def exit_on_sigterm() -> None:
    """SIGTERM unwinds like ``sys.exit``, so ``finally`` blocks still stop
    the session and reap its processes."""
    def handler(signum, frame):
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, handler)


def children(pid: int | None = None) -> list[int]:
    """Direct children of ``pid`` (default: this process), zombies
    included."""
    pid = os.getpid() if pid is None else pid
    out: list[int] = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tasks:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(x) for x in f.read().split())
        except OSError:
            continue
    return out


def _reap_exited() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _signal(pids, sig) -> None:
    for pid in pids:
        try:
            os.kill(pid, sig)
        except ProcessLookupError:
            pass


def reap_children(grace_s: float = 20.0, term_s: float = 10.0,
                  kill_s: float = 5.0) -> list[int]:
    """Wait for every child of this process to end, re-parented orphans
    included: ``grace_s`` seconds for them to exit on their own, then
    SIGTERM, then after ``term_s`` more seconds SIGKILL. Returns the
    children still there ``kill_s`` seconds after that (none, unless one
    is stuck in the kernel)."""
    start = time.monotonic()
    termed: set[int] = set()
    while True:
        _reap_exited()
        left = children()
        waited = time.monotonic() - start
        if not left or waited >= grace_s + term_s + kill_s:
            return left
        if waited >= grace_s + term_s:
            _signal(left, signal.SIGKILL)
        elif waited >= grace_s:
            _signal([p for p in left if p not in termed], signal.SIGTERM)
            termed.update(left)
        time.sleep(0.05)
