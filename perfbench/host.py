"""Host and process-tree counters read from /proc.

Process-tree CPU seconds and host busy jiffies come from the repo's
``bench.py`` (imported, not copied); steal jiffies and peak RSS are
read here because ``bench.py`` does not expose them.
"""

from __future__ import annotations

import os

from bench import _tree_cpu_seconds, host_busy_jiffies

tree_cpu_seconds = _tree_cpu_seconds


def host_steal_jiffies() -> float:
    """Hypervisor steal jiffies across all host CPUs (/proc/stat)."""
    with open("/proc/stat") as f:
        parts = f.readline().split()[1:]
    return float(parts[7]) if len(parts) > 7 else 0.0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        ppid = int(raw.rpartition(")")[2].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_peak_mb() -> float:
    """Sum of peak resident set size (VmHWM) over this process and its
    live descendants (the JVM and its Python workers), in MiB."""
    kids = _children()
    todo, total_kb = [os.getpid()], 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


class HostWindow:
    """Process-tree CPU and host busy/steal shares over a window."""

    def __init__(self) -> None:
        self.cpu0 = tree_cpu_seconds()
        self.busy0, self.total0 = host_busy_jiffies()
        self.steal0 = host_steal_jiffies()

    def close(self) -> dict:
        busy, total = host_busy_jiffies()
        steal = host_steal_jiffies()
        span = max(total - self.total0, 1.0)
        return {
            "tree_cpu_s": tree_cpu_seconds() - self.cpu0,
            "host_busy_frac": (busy - self.busy0) / span,
            "host_steal_frac": (steal - self.steal0) / span,
        }
