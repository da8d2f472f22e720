"""Process-tree CPU time, the clock of the bounded metrics."""

import os
import subprocess
import sys
import time

from perfbench.run import tree_cpu_s

SPIN = "import time\nt = time.process_time()\nwhile time.process_time() - t < {s}: pass\n"


def _spin(seconds: float) -> None:
    t = time.process_time()
    while time.process_time() - t < seconds:
        pass


def test_counts_own_cpu():
    before = tree_cpu_s(os.getpid())
    _spin(0.3)
    assert tree_cpu_s(os.getpid()) - before >= 0.25


def test_counts_a_running_child():
    child = subprocess.Popen([sys.executable, "-c", SPIN.format(s=0.4) + "input()\n"],
                             stdin=subprocess.PIPE)
    try:
        deadline = time.time() + 30
        while tree_cpu_s(child.pid) < 0.35 and time.time() < deadline:
            time.sleep(0.05)
        # the child is still alive: its CPU counts under this process
        assert tree_cpu_s(os.getpid()) >= tree_cpu_s(child.pid) >= 0.35
    finally:
        child.communicate(b"\n", timeout=30)


def test_keeps_a_reaped_child():
    before = tree_cpu_s(os.getpid())
    subprocess.run([sys.executable, "-c", SPIN.format(s=0.3)], check=True)
    # the waited-for child's time is in this process's cutime
    assert tree_cpu_s(os.getpid()) - before >= 0.25
