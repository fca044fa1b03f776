"""The runner leaves no process behind: orphans are reaped and waited for."""

import os
import subprocess
import sys
import textwrap

import _paths

# A child shell whose background grandchild outlives it, as Python workers
# outlive a JVM that has exited.
SCRIPT = textwrap.dedent("""
    import subprocess, sys, time
    import harness as H
    H.become_subreaper()
    sh = subprocess.Popen(["sh", "-c", "sleep 60 & echo $!"], stdout=subprocess.PIPE, text=True)
    grandchild = int(sh.stdout.readline())
    sh.wait()
    time.sleep(0.2)
    assert grandchild in H.tree_pids(H.os.getpid(), set()), "orphan was not reparented"
    H.stop_descendants(grace_s=5)
    print(grandchild)
""")


def test_stop_descendants_ends_orphaned_grandchildren():
    out = subprocess.run([sys.executable, "-c", SCRIPT], cwd=_paths.BENCH, capture_output=True,
                         text=True, timeout=60, env={**os.environ, "PYTHONPATH": _paths.BENCH})
    assert out.returncode == 0, out.stderr
    grandchild = int(out.stdout.strip())
    assert not os.path.exists(f"/proc/{grandchild}")
