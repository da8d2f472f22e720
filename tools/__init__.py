"""Bench and maintenance scripts, and the helpers they share."""


def load1() -> float:
    """The host's 1-minute load average; 0.0 where /proc is absent."""
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except OSError:
        return 0.0
