"""Tests for the /proc process-tree sampler (no Spark needed).

Run with: python -m pytest perfbench/tests
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from procstat import TreeSampler, tree_pids, tree_usage  # noqa: E402

_BURN = "import time\nt = time.process_time()\nwhile time.process_time() - t < {s}: pass\n"
_HOLD = "b = bytearray({n})\nimport time\ntime.sleep({s})\n"


def test_tree_includes_children_and_grandchildren():
    # child spawns a grandchild and both sleep, so both are alive when read
    code = (
        "import subprocess, sys, time\n"
        "g = subprocess.Popen([sys.executable, '-c', 'import time; time.sleep(5)'])\n"
        "print(g.pid, flush=True)\n"
        "time.sleep(5)\n"
        "g.wait()\n"
    )
    child = subprocess.Popen([sys.executable, "-c", code], stdout=subprocess.PIPE)
    try:
        grandchild = int(child.stdout.readline())
        pids = tree_pids(os.getpid())
        assert os.getpid() in pids
        assert child.pid in pids
        assert grandchild in pids
    finally:
        child.kill()
        child.wait(timeout=10)
        child.stdout.close()


def test_cpu_of_exited_child_is_kept():
    cpu0, _ = tree_usage(os.getpid())
    subprocess.run([sys.executable, "-c", _BURN.format(s=0.6)], check=True, timeout=30)
    cpu1, _ = tree_usage(os.getpid())
    # the reaped child's time moves into our cutime/cstime
    assert cpu1 - cpu0 >= 0.5


def test_cpu_of_running_child_is_counted():
    child = subprocess.Popen([sys.executable, "-c", _BURN.format(s=5)])
    try:
        cpu0, _ = tree_usage(os.getpid())
        time.sleep(0.8)
        cpu1, _ = tree_usage(os.getpid())
        assert cpu1 - cpu0 >= 0.4
    finally:
        child.kill()
        child.wait(timeout=10)


def test_peak_rss_sees_short_lived_child():
    n = 200 * 1024 * 1024
    with TreeSampler(interval_s=0.05) as s:
        base = s.peak_bytes
        subprocess.run(
            [sys.executable, "-c", _HOLD.format(n=n, s=0.5)], check=True, timeout=30
        )
    # the child held ~200 MB for half a second; the sampler must have seen it
    assert s.peak_bytes - base >= n * 0.8


def test_sampler_thread_stops():
    s = TreeSampler(interval_s=0.01).start()
    s.stop()
    assert s._thread is not None and not s._thread.is_alive()
