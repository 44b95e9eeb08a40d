"""Process hygiene: every process a run starts (the Spark JVMs, their
Python workers, the job server) has ended before the run exits.

The benchmark process makes itself a child subreaper, so a process
whose parent dies (a Python worker of a stopped JVM, the JVM of the
job server) becomes its child instead of init's; `reap_all` then waits
for every child until none is left. Linux only; elsewhere the
subreaper step is skipped.
"""

from __future__ import annotations

import ctypes
import os
import signal
import time

PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> bool:
    try:
        libc = ctypes.CDLL(None, use_errno=True)
        return libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) == 0
    except (OSError, AttributeError):
        return False


def stop_jvm(timeout: float = 30.0) -> None:
    """Stop the active SparkContext, if any, and end this process's
    Spark JVM: it exits when its stdin closes. Killed if it has not
    exited within ``timeout`` seconds."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        try:
            sc.stop()
        except Exception:  # noqa: BLE001 - the JVM is ended below either way
            pass
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    try:
        gateway.close()
    except Exception:  # noqa: BLE001
        pass
    try:
        proc.stdin.close()
    except OSError:
        pass
    try:
        proc.wait(timeout=timeout)
    except Exception:  # noqa: BLE001 - TimeoutExpired, or interrupted
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _children() -> list[int]:
    me = str(os.getpid())
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # Fields after the parenthesised command: state, ppid, ...
        state, ppid = stat.rsplit(")", 1)[1].split()[:2]
        if ppid == me and state != "Z":
            out.append(int(d))
    return out


def reap_all(timeout: float = 30.0) -> int:
    """Wait until this process has no children left, reaping each; after
    ``timeout`` seconds kill the ones still running. Returns how many
    had to be killed."""
    deadline = time.time() + timeout
    killed = 0
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return killed
        if pid:
            continue
        if time.time() > deadline:
            for child in _children():
                try:
                    os.kill(child, signal.SIGKILL)
                    killed += 1
                except ProcessLookupError:
                    pass
            # A killed child's own children come to this process next.
            deadline = time.time() + 1.0
        time.sleep(0.05)
