"""Wall time net of hypervisor steal.

On a shared virtual machine the host can withhold CPU from the guest's
vCPUs; the guest kernel counts that time as `steal` in /proc/stat. A
query then takes longer by the share of the CPU time it wanted that was
withheld, which is the host's load, not the engine's. The benchmark's
times are wall times scaled by 1 minus that share over the same
interval, busy / (busy + steal) jiffies summed over all CPUs; nothing
else runs on the machine while a run measures.
"""

from __future__ import annotations

import time


def _jiffies() -> tuple[int, int]:
    """(busy, steal) jiffies summed over all CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    user, nice, system, _idle, _iowait, irq, softirq, steal = map(int, fields[1:9])
    return user + nice + system + irq + softirq, steal


class Stopwatch:
    def __init__(self):
        self._t = time.perf_counter()
        self._j = _jiffies()

    def steal_share(self) -> float:
        """Share of the wanted CPU time the host withheld since start."""
        busy, steal = (b - a for a, b in zip(self._j, _jiffies()))
        return steal / (busy + steal) if busy + steal else 0.0

    def elapsed(self) -> float:
        """Seconds since start, net of steal."""
        return (time.perf_counter() - self._t) * (1 - self.steal_share())
