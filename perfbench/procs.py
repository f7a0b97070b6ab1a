"""Process hygiene: run the benchmark in a session of its own and end
every process of that session before returning.

The measured run starts helpers that outlive it by a moment unless they
are waited for: the Spark JVM, PySpark's worker daemon (which moves to a
process group of its own), DuckDB's child process, and the resource
tracker that Python's `multiprocessing` starts and leaves to exit after
its parent. None of them leaves the session, so the supervisor finds them
by session id, and as a child subreaper it inherits and reaps the ones
whose parent is gone.
"""

from __future__ import annotations

import ctypes
import os
import signal
import time

PR_SET_CHILD_SUBREAPER = 36
KILL_WAIT_S = 30.0


def set_subreaper() -> bool:
    """Make orphaned descendants children of this process (Linux)."""
    try:
        libc = ctypes.CDLL(None, use_errno=True)
        return libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) == 0
    except (OSError, AttributeError):
        return False


def _stat(pid: int) -> tuple[str, int, int] | None:
    """(state, parent pid, session id) of a process, or None if it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return fields[0], int(fields[1]), int(fields[3])


def session_pids(sid: int) -> list[int]:
    """Processes of session `sid` that have not ended, this one excluded.
    A zombie counts until it is reaped if this process or one of the
    session's will reap it; one left to another parent has ended."""
    me = os.getpid()
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit() and int(name) != me:
            st = _stat(int(name))
            if st is not None and st[2] == sid:
                procs[int(name)] = st
    return [
        pid for pid, (state, ppid, _) in procs.items()
        if state != "Z" or ppid == me or ppid in procs
    ]


def reap() -> None:
    """Collect the exit status of every child that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _signal_all(pids: list[int], sig: int) -> None:
    for pid in pids:
        try:
            os.kill(pid, sig)
        except ProcessLookupError:
            pass


def end_session(sid: int, grace_s: float, terminate: bool = False) -> list[int]:
    """Wait for every process of session `sid` to end: `grace_s` seconds
    for them to exit on their own (after SIGTERM if `terminate`), then
    SIGKILL. Returns the pids that had to be killed; raises if one
    outlives SIGKILL by `KILL_WAIT_S`."""
    if terminate:
        _signal_all(session_pids(sid), signal.SIGTERM)
    killed: list[int] = []
    deadline = time.monotonic() + grace_s
    while True:
        reap()
        live = session_pids(sid)
        if not live:
            break
        now = time.monotonic()
        if now > deadline + KILL_WAIT_S:
            raise RuntimeError(f"processes {live} of session {sid} outlived SIGKILL")
        if now > deadline:
            _signal_all(live, signal.SIGKILL)
            killed.extend(p for p in live if p not in killed)
        time.sleep(0.02)
    reap()
    return killed
