"""Machine-state meters read from ``/proc`` and the cgroup filesystem.

Every reader returns ``None`` when its source is missing, so a run on a
host without it still reports, with the field left empty.
"""

from __future__ import annotations

import hashlib
import os
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def host_busy_s() -> float | None:
    """Busy CPU-seconds over all host CPUs (steal counts as busy)."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
    except OSError:
        return None
    v = [int(x) for x in parts[1:]]
    # user nice system idle iowait irq softirq steal
    return (v[0] + v[1] + v[2] + v[5] + v[6] + (v[7] if len(v) > 7 else 0)) / _CLK_TCK


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, utime+stime ticks) for every live process."""
    table = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        fields = raw.rsplit(")", 1)[1].split()
        table[int(d)] = (int(fields[1]), int(fields[11]) + int(fields[12]))
    return table


def _tree(root: int | None = None) -> dict[int, int]:
    """pid -> CPU ticks for ``root`` (default: this process) and every
    live descendant."""
    table = _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, frontier = {}, [os.getpid() if root is None else root]
    while frontier:
        pid = frontier.pop()
        if pid in table:
            out[pid] = table[pid][1]
            frontier.extend(kids.get(pid, []))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """CPU-seconds used so far by ``root`` and its live descendants: the
    Python driver, the Spark JVM it launched and the JVM's Python
    workers. Children that already exited are not counted."""
    return sum(_tree(root).values()) / _CLK_TCK


def tree_pids(root: int | None = None) -> list[int]:
    """The live descendants of ``root`` (default: this process)."""
    me = os.getpid() if root is None else root
    return [pid for pid in _tree(me) if pid != me]


def reset_peak_rss() -> bool:
    """Reset this process's VmHWM to its current RSS (Linux >= 4.0)."""
    try:
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
        return True
    except OSError:
        return False


def peak_rss_mb() -> float | None:
    try:
        with open("/proc/self/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return None


def _cgroup_v2_dir() -> str | None:
    try:
        with open("/proc/self/cgroup") as f:
            lines = f.read().splitlines()
    except OSError:
        return None
    rel = next((ln[3:] for ln in lines if ln.startswith("0::")), None)
    if rel is None:
        return None
    for mount in ("/sys/fs/cgroup/unified", "/sys/fs/cgroup"):
        d = mount + rel.rstrip("/")
        if os.path.exists(os.path.join(d, "io.pressure")):
            return d
    return None


def io_stall_us() -> int | None:
    """Cumulative ``some`` IO stall time (µs) of this process's own
    cgroup. The host-global ``/proc/pressure/io`` is deliberately not
    used: it counts other tenants' IO and this run's own reads alike."""
    d = _cgroup_v2_dir()
    if d is None:
        return None
    try:
        with open(os.path.join(d, "io.pressure")) as f:
            for line in f:
                parts = line.split()
                if parts and parts[0] == "some":
                    for p in parts[1:]:
                        if p.startswith("total="):
                            return int(p[6:])
    except OSError:
        pass
    return None


def io_pressure_source() -> str | None:
    d = _cgroup_v2_dir()
    return None if d is None else os.path.join(d, "io.pressure")


def loadavg() -> list[float] | None:
    try:
        return [round(x, 2) for x in os.getloadavg()]
    except OSError:
        return None


def calibration_s() -> float:
    """Single-thread speed probe: best of 3 md5 passes over 64 MiB."""
    buf = bytes(range(256)) * 4096
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        h = hashlib.md5()
        for _ in range(64):
            h.update(buf)
        best = min(best, time.perf_counter() - t0)
    return best


def process_start_epoch() -> float:
    """Wall-clock time this process started, from /proc (10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(ln.split()[1]) for ln in f if ln.startswith("btime"))
    return btime + start_ticks / _CLK_TCK


class Window:
    """Machine state over one measured window: wall time, this process
    tree's CPU, external busy cores (host busy minus this tree, per
    wall-second), the cgroup IO stall ratio and the load average."""

    def __enter__(self) -> Window:
        self.load_start = loadavg()
        self.h0 = host_busy_s()
        self.t0 = tree_cpu_s()
        self.io0 = io_stall_us()
        self.w0 = time.time()
        return self

    def __exit__(self, *exc) -> None:
        self.wall = time.time() - self.w0
        h1, t1, io1 = host_busy_s(), tree_cpu_s(), io_stall_us()
        self.tree_cpu = t1 - self.t0
        self.ext_cores = None
        if self.h0 is not None and h1 is not None and self.wall > 0:
            self.ext_cores = max(0.0, ((h1 - self.h0) - self.tree_cpu) / self.wall)
        self.io_stall = None
        if self.io0 is not None and io1 is not None and self.wall > 0:
            self.io_stall = (io1 - self.io0) / 1e6 / self.wall
        self.load_end = loadavg()

    def record(self) -> dict:
        return {
            "wall_s": round(self.wall, 3),
            "tree_cpu_s": round(self.tree_cpu, 3),
            "ext_busy_cores": None if self.ext_cores is None else round(self.ext_cores, 3),
            "io_stall_ratio": None if self.io_stall is None else round(self.io_stall, 4),
            "io_pressure_source": io_pressure_source(),
            "loadavg_start": self.load_start,
            "loadavg_end": self.load_end,
        }
