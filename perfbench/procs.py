"""The processes one benchmark invocation starts, and stopping them.

The JVM of the Spark session, the Python daemon and workers it forks and
the oracle's process pool are all descendants of the benchmark process.
Left alone, the JVM ends only once it reads end-of-file on the pipe from
this process, seconds after this process has exited, and its Python
workers outlive it a little longer. `stop_all` ends every one of them
and waits until each has ended, before the benchmark exits.
"""

from __future__ import annotations

import ctypes
import os
import signal
import subprocess
import sys
import time

PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Make descendants whose parent dies (the Python workers, once the
    JVM has gone) children of this process instead of init, so that
    `stop_descendants` can wait for them. Linux only; elsewhere a no-op."""
    try:
        libc = ctypes.CDLL(None, use_errno=True)
        libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def proc_table() -> tuple[dict[int, list[int]], dict[int, str], dict[int, str]]:
    """From /proc: children by parent pid, and each process's command
    name and state letter."""
    children: dict[int, list[int]] = {}
    comm: dict[int, str] = {}
    state: dict[int, str] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        head, tail = stat.rsplit(")", 1)
        pid = int(entry)
        fields = tail.split()
        comm[pid] = head.split("(", 1)[1]
        state[pid] = fields[0]
        children.setdefault(int(fields[1]), []).append(pid)
    return children, comm, state


def descendants(root: int | None = None) -> list[int]:
    """Live (not zombie) descendants of `root` (this process)."""
    children, _, state = proc_table()
    found, todo = [], [os.getpid() if root is None else root]
    while todo:
        for child in children.get(todo.pop(), ()):
            todo.append(child)
            if state.get(child) != "Z":
                found.append(child)
    return found


def _reap() -> None:
    """Collect the exit status of every child that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_spark(timeout_s: float = 30.0) -> None:
    """Stop the active SparkContext, close the Py4J gateway and wait for
    the JVM to exit (it exits when its stdin pipe closes)."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=timeout_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def stop_resource_tracker() -> None:
    """Stop multiprocessing's resource tracker if a process pool started
    one; it ignores SIGTERM and would otherwise outlive this process."""
    mod = sys.modules.get("multiprocessing.resource_tracker")
    stop = getattr(getattr(mod, "_resource_tracker", None), "_stop", None)
    if stop is not None:
        stop()


def stop_descendants(grace_s: float = 10.0) -> None:
    """SIGTERM every remaining descendant, SIGKILL what is left after
    `grace_s`, and return once none is left."""
    deadline = time.monotonic() + grace_s
    while True:
        _reap()
        pids = descendants()
        if not pids:
            return
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def stop_all() -> None:
    """Stop the Spark JVM, the resource tracker and every other
    descendant, each step even if an earlier one failed."""
    try:
        stop_spark()
    finally:
        try:
            stop_resource_tracker()
        finally:
            stop_descendants()
