"""CpuClock: the JVM's descendants count, and a descendant that exits
keeps counting through its parent's reaped-children time."""

from __future__ import annotations

import os
import subprocess
import sys
import time

from perfbench.run import CpuClock

BUSY = """
import time
t = time.process_time()
while time.process_time() - t < 0.3:
    pass
time.sleep(60)
"""


def test_descendants_count_while_alive_and_after_reaping():
    # this process stands in for the JVM, the child for a Python worker
    clock = CpuClock(os.getpid())
    child = subprocess.Popen([sys.executable, "-c", BUSY])
    try:
        deadline = time.monotonic() + 30
        while clock.split()[2] < 0.25:
            assert time.monotonic() < deadline, "child CPU never counted"
            time.sleep(0.05)
        own = clock.split()[1]
    finally:
        child.kill()
        child.wait()
    _, jvm, below = clock.split()
    assert below == 0
    assert jvm - own >= 0.25
