"""Unit tests for the process-tree sampler.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from procstat import TreeSampler, tree_cpu_s, tree_pids  # noqa: E402

# a child that spawns a grandchild; both burn CPU, the grandchild also holds
# ~200 MB resident, then both exit (the grandchild is reaped by the child)
_CHILD = r"""
import subprocess, sys, time
g = subprocess.Popen([sys.executable, "-c",
    "import time\nb = bytearray(200 << 20)\nb[::4096] = b'x' * len(b[::4096])\n"
    "t = time.process_time()\nwhile time.process_time() - t < 0.6: pass\n"
    "time.sleep(0.6)\n"])
t = time.process_time()
while time.process_time() - t < 0.6:
    pass
g.wait()
"""


def test_tree_includes_descendants_and_reaped_cpu():
    with TreeSampler(interval=0.05) as s:
        cpu0 = s.cpu_s()
        p = subprocess.Popen([sys.executable, "-c", _CHILD])
        deadline = time.monotonic() + 5
        seen_grandchild = False
        while p.poll() is None and time.monotonic() < deadline:
            seen_grandchild |= len(tree_pids(os.getpid())) >= 3
            time.sleep(0.05)
        assert p.wait(timeout=30) == 0
        # the child is still unreaped here: its stat carries its own and the
        # reaped grandchild's time; after wait() it moves to our cutime
        cpu1 = s.cpu_s()
    assert seen_grandchild
    assert cpu1 - cpu0 >= 1.0, (cpu0, cpu1)
    assert s.peak_rss >= 200 << 20, s.peak_rss


def test_cpu_is_monotone_for_idle_tree():
    a = tree_cpu_s(os.getpid())
    b = tree_cpu_s(os.getpid())
    assert b >= a


def test_missing_process_reads_empty():
    assert tree_cpu_s(2**22 + 12345) == 0.0
