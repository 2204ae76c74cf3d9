"""Host and process readings from ``/proc``, and process shutdown."""

from __future__ import annotations

import os
import signal
import time

#: A run is flagged ``contended`` when other tenants took this share of
#: CPU time (steal) or the 1-minute load exceeds this multiple of the
#: cores. The benchmark itself keeps about ``nproc`` threads busy. On
#: the 4-vCPU reference host, sync-run iterations took 15-18 s below
#: 2.5% steal and mostly over 20 s from 4% (README.md).
STEAL_CONTENDED_PCT = 3.0
LOAD_CONTENDED_PER_CORE = 1.5


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate line of /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice];
    # guest time is already counted in user/nice
    return fields[7], sum(fields[:8])


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / total if total > 0 else 0.0


def load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def contended(steal: float, load: float, cores: int) -> bool:
    return steal > STEAL_CONTENDED_PCT or load > LOAD_CONTENDED_PER_CORE * cores


def vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def io_write_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/io") as f:
        for line in f:
            if line.startswith("write_bytes:"):
                return int(line.split()[1])
    return 0


def descendants(root: int) -> list[int]:
    """Every live process below ``root`` in the process tree."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; the ppid follows its ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    found, todo = [], [root]
    while todo:
        for child in children.get(todo.pop(), []):
            found.append(child)
            todo.append(child)
    return found


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            # a zombie has ended; its parent reaps it
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def wait_gone(pids, timeout: float) -> None:
    """Wait for ``pids`` to end; SIGKILL whatever outlives ``timeout``."""
    deadline = time.monotonic() + timeout
    left = [p for p in pids if _alive(p)]
    while left and time.monotonic() < deadline:
        time.sleep(0.1)
        left = [p for p in left if _alive(p)]
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 5
    while any(_alive(p) for p in left) and time.monotonic() < deadline:
        time.sleep(0.1)
