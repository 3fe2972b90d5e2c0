"""The /proc sampler against a busy child process.

Run with ``python3 -m pytest perfbench -q`` from the repository root.
"""

import os
import subprocess
import sys
import time

import procstat

# burns ~1 s of CPU holding ~160 MB, then waits for stdin to close
_BUSY = (
    "import sys, time\n"
    "ballast = bytearray(160 * 2**20)\n"
    "for i in range(0, len(ballast), 4096): ballast[i] = 1\n"
    "t = time.process_time()\n"
    "while time.process_time() - t < 1.0: pass\n"
    "print('done', flush=True)\n"
    "sys.stdin.read()\n"
)


def test_busy_child_cpu_and_rss_are_seen():
    with procstat.ProcTreeSampler(interval_s=0.02) as sampler:
        base_rss = sampler.sample_rss()
        before = sampler.cpu()
        child = subprocess.Popen([sys.executable, "-c", _BUSY],
                                 stdin=subprocess.PIPE,
                                 stdout=subprocess.PIPE, text=True)
        try:
            assert child.stdout.readline().strip() == "done"
            time.sleep(0.1)
            tree = procstat.tree(os.getpid())
            assert child.pid in tree
            assert procstat.kind(tree[child.pid]) == "python"
            used = sampler.cpu() - before
            peak = sampler.peak_rss_bytes()
        finally:
            child.stdin.close()
            child.wait(timeout=10)
    assert child.returncode == 0
    # the child's busy second lands on the Python side of the split (a JVM
    # left by another test in this process may add a little on its side)
    assert 0.9 <= used.python_s <= 2.5
    assert tree[child.pid].cpu_s >= 0.9
    assert peak - base_rss >= 150 * 2**20


def test_tree_excludes_unrelated_processes():
    t = procstat.tree(os.getpid())
    assert os.getpid() in t
    assert 1 not in t or os.getpid() == 1
    assert all(p.rss_bytes >= 0 and p.cpu_s >= 0 for p in t.values())
