"""Bench and maintenance scripts, and the helpers they share."""

import sys
import time


def load1() -> float:
    """The host's 1-minute load average; 0.0 where /proc is absent."""
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except OSError:
        return 0.0


def wait_for_quiet(gate: float, timeout_s: float, poll_s: float = 5.0) -> float:
    """Block until load1 drops below ``gate`` (a bench is idle between
    measurements, so load1 is about the co-tenant load) or ``timeout_s``
    passes; returns the last load1 read. Ungated runs under a persistent
    3-6 core external load read local[8] 2.4-7x slow (2026-08-18) —
    best-of-N cannot rescue a window that never comes, the gate waits
    for it instead."""
    t0 = time.time()
    while (l1 := load1()) >= gate and time.time() - t0 < timeout_s:
        print(f"load gate: load1={l1:.2f} >= {gate} — waiting", file=sys.stderr,
              flush=True)
        time.sleep(poll_s)
    return l1
