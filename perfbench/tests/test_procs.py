"""A run waits for every process it started, orphaned grandchildren too."""

import os
import subprocess
import sys
import textwrap

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def test_reap_children_ends_orphans_and_term_ignorers():
    # a child that ignores SIGTERM, and a grandchild whose parent exits
    # at once, so that only the subreaper can wait for it
    script = textwrap.dedent("""
        import os, subprocess, sys, time
        from perfbench import procs
        assert procs.become_subreaper()
        ignore_term = ("import signal, time;"
                       " signal.signal(signal.SIGTERM, signal.SIG_IGN); time.sleep(60)")
        stubborn = subprocess.Popen([sys.executable, "-c", ignore_term])
        out = subprocess.run(["sh", "-c", "sleep 60 >/dev/null 2>&1 & echo $!"],
                             capture_output=True, text=True).stdout
        orphan = int(out)
        time.sleep(0.3)
        killed = procs.reap_children(grace_s=0.5)
        print(stubborn.pid, orphan, len(killed), procs.live_children(os.getpid()))
    """)
    out = subprocess.run([sys.executable, "-c", script], cwd=ROOT, capture_output=True,
                         text=True, timeout=30, check=True).stdout.split(maxsplit=3)
    stubborn, orphan, n_killed = (int(x) for x in out[:3])
    assert n_killed == 1
    assert out[3].strip() == "[]"
    assert not _alive(stubborn) and not _alive(orphan)
