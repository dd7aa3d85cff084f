"""Process hygiene: every process a run starts ends before the run does.

* :func:`guard` makes the run the child subreaper of everything it
  starts, so that orphans (the JVM's Python worker daemon and its
  workers) are handed to it; marks the run's environment, so that any
  process exec'd under the run can be found from ``/proc`` even if it
  ends up elsewhere; and turns SIGTERM, SIGHUP and SIGINT into
  ``SystemExit``, so that the run's ``finally`` blocks stop Spark.
* :func:`die_with_parent` asks the kernel to SIGKILL the calling
  process when its parent dies; the JVM (through :func:`jvm_dies_with_us`)
  and the pool workers call it, so that not even a SIGKILL of the run
  leaves them behind.
* :func:`reap` waits until every child and every marked process has
  ended, and kills what is left after a grace period.
"""

from __future__ import annotations

import ctypes
import os
import signal
import time

__all__ = ["die_with_parent", "guard", "jvm_dies_with_us", "reap"]

MARKER = "PERFBENCH_RUN"
PR_SET_PDEATHSIG = 1
PR_SET_CHILD_SUBREAPER = 36
GRACE_S = 30.0  # then every process still left is killed
_SIGNALS = (signal.SIGTERM, signal.SIGHUP, signal.SIGINT)

_libc = ctypes.CDLL(None, use_errno=True)


def _exit_on_signal(signum, _frame) -> None:
    raise SystemExit(128 + signum)


def guard() -> None:
    """Subreaper, environment marker and signal handlers of one run."""
    # where this is refused, the marker sweep in reap() still finds every
    # exec'd descendant
    _libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    os.environ[MARKER] = "%d-%d" % (os.getpid(), time.time_ns())
    for sig in _SIGNALS:
        signal.signal(sig, _exit_on_signal)


def die_with_parent() -> None:
    """SIGKILL this process when its parent dies (also if it already has)."""
    parent = os.getppid()
    _libc.prctl(PR_SET_PDEATHSIG, signal.SIGKILL, 0, 0, 0)
    if os.getppid() != parent:
        os._exit(1)


def jvm_dies_with_us() -> None:
    """Make the JVM that ``SparkContext`` launches die with this process,
    on top of its own exit at end of input."""
    from pyspark import java_gateway

    popen = java_gateway.Popen
    if getattr(popen, "_dies_with_us", False):
        return

    def _popen(*args, preexec_fn=None, **kwargs):
        def pre() -> None:
            if preexec_fn is not None:
                preexec_fn()
            _libc.prctl(PR_SET_PDEATHSIG, signal.SIGKILL, 0, 0, 0)

        return popen(*args, preexec_fn=pre, **kwargs)

    _popen._dies_with_us = True
    java_gateway.Popen = _popen


def _pids_where(pred) -> list:
    me = os.getpid()
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) == me:
            continue
        try:
            if pred(name):
                pids.append(int(name))
        except (OSError, IndexError, ValueError):  # it ended while we looked
            continue
    return pids


def _children() -> list:
    me = os.getpid()

    def child(name: str) -> bool:
        with open("/proc/%s/stat" % name) as f:
            return int(f.read().rsplit(")", 1)[1].split()[1]) == me

    return _pids_where(child)


def _marked() -> list:
    """Live processes, other than this one, exec'd with this run's marker."""
    token = ("%s=%s" % (MARKER, os.environ[MARKER])).encode()

    def marked(name: str) -> bool:
        with open("/proc/%s/environ" % name, "rb") as f:
            return token in f.read().split(b"\0")

    return _pids_where(marked)


def reap() -> None:
    """Wait until every child, every orphan handed to this process and
    every marked process has ended; SIGKILL what is left after
    ``GRACE_S``. Signals are ignored meanwhile, so the wait completes."""
    for sig in _SIGNALS:
        signal.signal(sig, signal.SIG_IGN)
    deadline = time.monotonic() + GRACE_S
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
            waiting = True
        except ChildProcessError:
            waiting = False
        left = _marked()
        if not waiting and not left:
            return
        if time.monotonic() > deadline:
            for pid in set(left) | set(_children()):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)
