"""Wall time with the hypervisor's share taken out.

On a shared VM the hypervisor runs other guests on this guest's CPUs; the
guest sees that time as ``steal`` in ``/proc/stat``. A stolen slice stalls
whatever was running on that CPU, so an operation's wall time grows by
however much the neighbours happened to take while it ran, which changes
from minute to minute. Steal only accrues on a CPU that wants to run, so
``steal / (busy + steal)`` over an interval is the share of the CPU time
this machine's work asked for that it did not get. Scaling a wall time by
one minus that share gives the wall time the same work would have taken
with that share restored (exact when the steal falls evenly on the busy
CPUs). Without ``/proc/stat`` the share reads 0 and times are unchanged.
"""

from __future__ import annotations


def cpu_ticks() -> tuple[int, int]:
    """(busy, steal) clock ticks summed over all CPUs since boot."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:9]]
        user, nice, system, _idle, _iowait, irq, softirq, steal = fields
    except (OSError, ValueError):
        return 0, 0
    return user + nice + system + irq + softirq, steal


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of the CPU time asked for between two ``cpu_ticks`` readings
    that the hypervisor gave to someone else."""
    busy, stolen = after[0] - before[0], after[1] - before[1]
    return stolen / (busy + stolen) if busy + stolen > 0 else 0.0


def unstolen(wall_s: float, before: tuple[int, int], after: tuple[int, int]) -> float:
    """``wall_s`` less the hypervisor's share of it."""
    return wall_s * (1.0 - steal_share(before, after))


