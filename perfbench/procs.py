"""Every process a run starts has ended before the run exits.

The run marks itself a child subreaper, so a descendant that outlives
its own parent (a Python worker of the Spark JVM, say) is re-parented
to the run rather than to init, and the run can signal and wait for
it.  At exit the Spark JVM is asked to stop (its launcher exits when
its stdin closes), the multiprocessing resource tracker is stopped,
and then every child still there gets SIGTERM, SIGKILL after a grace
period, and is waited for.
"""

from __future__ import annotations

import ctypes
import os
import signal
import time

PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> bool:
    """Make orphaned descendants children of this process (Linux)."""
    try:
        libc = ctypes.CDLL(None, use_errno=True)
        return libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) == 0
    except (OSError, AttributeError):
        return False


def live_children(pid: int) -> list[int]:
    """Children of `pid` that are not zombies."""
    kids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                state, ppid = f.read().rsplit(")", 1)[1].split()[:2]
        except (OSError, ValueError):
            continue
        if int(ppid) == pid and state != "Z":
            kids.append(int(name))
    return kids


def _reap_zombies() -> bool:
    """Wait for every child that has exited; False once no child is left."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return False
        if pid == 0:
            return True


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session, then the JVM that serves it, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        if spark is not None:
            spark.stop()
    finally:
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=timeout_s)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def stop_resource_tracker() -> None:
    """The tracker a spawn pool starts ignores SIGTERM; close its pipe."""
    from multiprocessing import resource_tracker

    stop = getattr(resource_tracker._resource_tracker, "_stop", None)
    if stop is not None:
        stop()


def reap_children(grace_s: float = 20.0) -> list[int]:
    """SIGTERM every child, SIGKILL those alive after `grace_s`, and wait
    until none is left (grandchildren re-parented meanwhile included).
    Returns the pids that had to be killed."""
    me = os.getpid()
    termed: dict[int, float] = {}
    killed: list[int] = []
    while _reap_zombies():
        now = time.monotonic()
        for pid in live_children(me):
            try:
                if pid not in termed:
                    os.kill(pid, signal.SIGTERM)
                    termed[pid] = now
                elif now - termed[pid] > grace_s and pid not in killed:
                    os.kill(pid, signal.SIGKILL)
                    killed.append(pid)
            except ProcessLookupError:
                pass
        time.sleep(0.02)
    return killed
