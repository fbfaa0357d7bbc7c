"""Clean-up of the processes a run starts."""

import os
import subprocess
import sys
import textwrap
import time

from perfbench import procfs, run

# forks a child that leaves the process group for one of its own, as
# PySpark's worker daemon does; both sleep
LEAVES_GROUP = textwrap.dedent(
    """
    import os, time
    if os.fork() == 0:
        os.setpgid(0, 0)
    time.sleep(60)
    """
)


def _wait_for(pred, timeout=10.0):
    deadline = time.time() + timeout
    while not pred():
        assert time.time() < deadline
        time.sleep(0.02)


def test_reap_session_kills_a_member_that_left_the_process_group():
    p = subprocess.Popen([sys.executable, "-c", LEAVES_GROUP], start_new_session=True)
    _wait_for(lambda: len(procfs.session_pids(p.pid)) == 2)
    assert len({f[2] for f in procfs._session_stats(p.pid).values()}) == 2  # process groups
    run._reap_session(p.pid)
    assert procfs.session_pids(p.pid, zombies=True) == {}
    p.wait()


def test_stop_descendants_reaps_an_orphan():
    # a run adopts its orphans; a grandchild whose parent has exited is
    # then its child, and the sweep at the end of the run kills it
    code = textwrap.dedent(
        f"""
        import os, subprocess, sys, time
        sys.path.insert(0, {os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))!r})
        from perfbench import procfs, run
        run._adopt_orphans()
        mid = subprocess.Popen([sys.executable, "-c",
            "import os, subprocess, sys; "
            "p = subprocess.Popen([sys.executable, '-c', 'import time; time.sleep(60)']); "
            "print(p.pid, flush=True); os._exit(0)"], stdout=subprocess.PIPE, text=True)
        orphan = int(mid.stdout.readline())
        mid.wait()
        deadline = time.time() + 10
        while orphan not in procfs.child_pids(os.getpid()):
            assert time.time() < deadline
            time.sleep(0.02)
        run._stop_descendants()
        print(orphan, procfs.child_pids(os.getpid()), os.path.exists(f"/proc/{{orphan}}"))
        """
    )
    out = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True, timeout=60)
    assert out.returncode == 0, out.stderr
    orphan, rest = out.stdout.split(" ", 1)
    assert rest.strip() == "[] False"
    assert not os.path.exists(f"/proc/{orphan}")
