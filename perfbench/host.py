"""Host properties and process accounting, read from ``/proc``.

The benchmark pins the engine's configuration to properties of the host
that do not change between runs (the affinity mask and MemTotal), and
accounts CPU and memory for the whole process tree: the Python driver,
the JVM it launches and every Python worker under the JVM.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def affinity_cores() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_gib() -> float:
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal"))
    return kb / 1024 / 1024


def heap_for(total_gib: float) -> str:
    """The engine's default heap rule (``session._default_driver_mem``),
    applied to MemTotal: the largest step the host holds one and a half
    times over. MemAvailable changes with whatever else the host runs,
    MemTotal does not."""
    for want in (12, 8, 4, 2):
        if total_gib >= want * 1.5:
            return f"{want}g"
    return "1g"


def heap_bytes(spec: str) -> int:
    return int(spec[:-1]) * 1024**3


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; the fields after it start at ')'
    return raw[raw.rindex(")") + 2 :].split()


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            kids.setdefault(int(fields[1]), []).append(int(name))
    return kids


def tree(root: int) -> list[int]:
    """``root`` and every live descendant."""
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User plus system CPU of ``root`` and its live descendants, plus
    what each of them has collected from reaped children (``cutime``,
    ``cstime``), so Python workers that exit between two readings are
    still counted."""
    ticks = 0
    for pid in tree(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime are fields 14-17 of stat(5)
            ticks += sum(int(v) for v in fields[11:15])
    return ticks / _TICK


def proc_cpu_s(pid: int) -> float:
    """User plus system CPU of ``pid`` alone."""
    fields = _stat_fields(pid)
    return (int(fields[11]) + int(fields[12])) / _TICK


def rss_bytes(pid: int) -> int:
    fields = _stat_fields(pid)
    return int(fields[21]) * _PAGE if fields is not None else 0


def steal_and_busy() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate line of ``/proc/stat``."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return vals[7], sum(vals[:8])


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(v) for v in f.read().split()[:3]]
