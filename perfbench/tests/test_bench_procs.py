"""The supervisor ends every process a run leaves in its session."""

import subprocess
import sys
import time

import _paths  # noqa: F401

import procs

# A child that starts a grandchild and exits without waiting for it, as
# multiprocessing's resource tracker and the Spark JVM's helpers do.
LEAVER = (
    "import subprocess, sys; "
    "subprocess.Popen([sys.executable, '-c', 'import sys, time; time.sleep(float(sys.argv[1]))', "
    "sys.argv[1]])"
)


def _run_leaver(sleep_s: float) -> int:
    child = subprocess.Popen([sys.executable, "-c", LEAVER, str(sleep_s)],
                             start_new_session=True)
    child.wait(timeout=30)
    return child.pid


def test_left_process_is_killed_after_grace():
    sid = _run_leaver(60)
    assert procs.session_pids(sid), "the grandchild should outlive its parent"
    t0 = time.monotonic()
    killed = procs.end_session(sid, grace_s=0.5)
    assert len(killed) == 1
    assert procs.session_pids(sid) == []
    assert time.monotonic() - t0 < 10


def test_process_that_exits_in_grace_is_waited_for_not_killed():
    sid = _run_leaver(2)
    assert procs.session_pids(sid)
    assert procs.end_session(sid, grace_s=20) == []
    assert procs.session_pids(sid) == []


def test_terminate_sends_sigterm_first():
    sid = _run_leaver(60)
    assert procs.session_pids(sid)
    assert procs.end_session(sid, grace_s=20, terminate=True) == []
    assert procs.session_pids(sid) == []
