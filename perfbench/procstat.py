"""Process-tree CPU and memory readings from /proc (Linux only).

A Spark operation spreads over the driver Python process, the JVM it
launches, the pyspark daemon and the daemon's forked workers.  CPU time is
summed over that whole tree, each process adding its own and its reaped
children's user and system time, so a worker that exits mid-operation is
still counted through its reaping parent's ``cutime``/``cstime``.  Memory is
the summed PSS, so pages shared by forked workers are not counted twice.
"""

from __future__ import annotations

import os
import threading

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces and parentheses: split after its end
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and all its live descendants."""
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


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of the tree, reaped children included."""
    ticks = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime are fields 14-17 of stat(5)
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / CLK_TCK


def tree_pss_mb(root: int) -> float:
    total_kb = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


class PssPeak:
    """Samples the tree's summed PSS on a background thread; ``peak_mb`` is
    the highest sample seen between ``start`` and ``stop``.  One sample
    costs about 40 ms of kernel time on 4 cores (the JVM's page tables are
    walked), charged to this process and so to ``tree_cpu_s``: at one
    sample a second that is 4% of a core."""

    def __init__(self, root: int, interval_s: float = 1.0):
        self.root = root
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, tree_pss_mb(self.root))
            if self._stop.wait(self.interval_s):
                return

    def start(self) -> "PssPeak":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_pss_mb(self.root))
        return self.peak_mb


def host_cpu_ticks() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def host_steal_busy_pct(t0: list[int], t1: list[int]) -> dict[str, float]:
    """Host steal and busy share between two /proc/stat readings, in percent.
    Context next to the metrics, never folded into them."""
    d = [b - a for a, b in zip(t0, t1)]
    tot = sum(d) or 1
    steal = d[7] if len(d) > 7 else 0
    idle = d[3] + (d[4] if len(d) > 4 else 0)
    return {
        "host_steal_pct": round(100.0 * steal / tot, 3),
        "host_busy_pct": round(100.0 * (tot - idle) / tot, 3),
    }
