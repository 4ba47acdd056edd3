"""Process accounting from /proc: peak resident memory, this process's
descendants, and CPU contention (foreign cores, by ``bench.py``'s rule,
plus hypervisor steal)."""

from __future__ import annotations

import os
import time

from bench import _cpu_state, _cpu_window


def descendants() -> list[int]:
    """Pids of every live process below this one."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                data = fh.read()
            parent[int(name)] = int(data[data.rindex(")") + 2 :].split()[1])
        except (OSError, ValueError, IndexError):
            continue
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    todo, out = list(children.get(os.getpid(), ())), []
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def hwm_bytes(pids) -> int:
    """Sum of the kernel's resident-memory high-water marks (VmHWM)."""
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1]) * 1024
    return total


def _steal_jiffies() -> int:
    with open("/proc/stat") as fh:
        vals = fh.readline().split()[1:]
    return int(vals[7]) if len(vals) > 7 else 0


class CpuWindow:
    """``bench.py``'s contention verdict over the window: machine busy
    CPU minus this process tree's, per wall second (``foreign_cores_avg``,
    ``contended`` above 1 core). Steal, CPU a hypervisor gave to other
    guests, is part of it and is also reported on its own."""

    def __init__(self) -> None:
        self._t0 = time.perf_counter()
        self._state = _cpu_state()
        self._steal = _steal_jiffies()

    def close(self) -> dict[str, object]:
        wall = time.perf_counter() - self._t0
        out = _cpu_window(self._state, _cpu_state(), wall)
        clk = os.sysconf("SC_CLK_TCK") or 100
        out["steal_cores_avg"] = round((_steal_jiffies() - self._steal) / clk / wall, 3)
        out["wall_s"] = round(wall, 2)
        return out
