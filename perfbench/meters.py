"""Process and disk meters read straight from ``/proc`` and the file tree.

The processes of a run are the benchmark process itself, the Spark driver JVM
(the py4j gateway's child) and everything the JVM spawns (the PySpark
daemon and its Python workers).
"""

from __future__ import annotations

import os

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name (field 2) may contain spaces; fields resume after ')'
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(pid: int) -> float:
    """User + system CPU of ``pid`` plus that of its reaped children
    (utime, stime, cutime, cstime); 0.0 once the process is gone."""
    fields = _stat_fields(pid)
    if fields is None:
        return 0.0
    # fields[0] is field 3 (state): utime..cstime are fields 14-17
    return sum(int(x) for x in fields[11:15]) / _CLK_TCK


def hwm_kib(pid: int) -> int:
    """Peak resident set (VmHWM) of ``pid`` in KiB; 0 once it is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def alive(pid: int) -> bool:
    """``pid`` exists and is neither a zombie nor dead."""
    fields = _stat_fields(pid)
    return fields is not None and fields[0] not in ("Z", "X")


class ProcessMeter:
    """CPU and peak-RSS bookkeeping for a process tree.

    A process's cumulative CPU counts its reaped children, so a worker
    that exits between samples is still counted through its parent. Peak
    memory is the largest sum, over the samples, of the peaks (VmHWM) of
    the processes alive at that sample: a worker that exits and is
    replaced is not counted twice.
    """

    def __init__(self, root: int):
        self.root = root
        self.peak_kib: dict[int, int] = {}
        self.peak_total_kib = 0

    def sample(self) -> float:
        """Record peak memory and return the tree's total CPU seconds."""
        total, live_kib = 0.0, 0
        for pid in descendants(self.root):
            total += cpu_seconds(pid)
            hwm = hwm_kib(pid)
            live_kib += hwm
            if hwm > self.peak_kib.get(pid, 0):
                self.peak_kib[pid] = hwm
        self.peak_total_kib = max(self.peak_total_kib, live_kib)
        return total

    def peak_rss_mb(self) -> float:
        return self.peak_total_kib / 1024.0


def tree_bytes(*roots: str) -> int:
    """Total size of the regular files under each directory."""
    total = 0
    for root in roots:
        for dirpath, _dirs, files in os.walk(root):
            for name in files:
                try:
                    st = os.lstat(os.path.join(dirpath, name))
                except OSError:
                    continue
                total += st.st_size
    return total
