"""Host facts and process-tree accounting from /proc (Linux)."""

from __future__ import annotations

import os
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_kb() -> int:
    with open("/proc/meminfo", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def loadavg() -> list[float]:
    with open("/proc/loadavg", encoding="ascii") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def cpu_stat() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat, in clock ticks: user,
    nice, system, idle, iowait, irq, softirq, steal, ..."""
    with open("/proc/stat", encoding="ascii") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def _busy_ticks(delta: list[int]) -> int:
    """user + nice + system + irq + softirq of a /proc/stat delta."""
    return delta[0] + delta[1] + delta[2] + delta[5] + delta[6]


def busy_s(start: list[int], end: list[int]) -> float:
    """Seconds of CPU the whole host spent busy between two samples,
    over every CPU."""
    return _busy_ticks([b - a for a, b in zip(start, end)]) / CLK_TCK


def steal_share(start: list[int], end: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests."""
    d = [b - a for a, b in zip(start, end)]
    return d[7] / max(1, sum(d))


def wait_quiet(limit_s: float, busy_limit: float) -> tuple[float, float]:
    """Wait, at most ``limit_s``, until the host's CPUs are less than
    ``busy_limit`` busy over half a second. Returns (seconds waited,
    last busy share)."""
    t0 = time.perf_counter()
    while True:
        a = cpu_stat()
        time.sleep(0.5)
        b = cpu_stat()
        d = [y - x for x, y in zip(a, b)]
        busy = _busy_ticks(d) / max(1, sum(d))
        if busy < busy_limit or time.perf_counter() - t0 >= limit_s:
            return time.perf_counter() - t0, busy


def _procs() -> dict[int, tuple[int, str, float]]:
    """pid -> (parent pid, command name, CPU seconds of the process and
    of its reaped children) for every live process."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as fh:
                raw = fh.read()
        except OSError:
            continue
        head, tail = raw.rsplit(")", 1)
        fields = tail.split()
        if fields[0] == "Z":
            continue
        comm = head.split("(", 1)[1]
        cpu = sum(int(x) for x in fields[11:15]) / CLK_TCK  # utime stime cutime cstime
        out[int(entry)] = (int(fields[1]), comm, cpu)
    return out


def tree(root: int | None = None) -> dict[int, tuple[str, float]]:
    """pid -> (command name, CPU seconds) of ``root`` (default: this
    process) and every live descendant. A process's CPU includes the
    children it has reaped, so the sum over the tree is the CPU the tree
    has used, less what exited children left unreaped."""
    root = os.getpid() if root is None else root
    procs = _procs()
    out = {}
    for pid, (_ppid, comm, cpu) in procs.items():
        p = pid
        while p not in (0, 1, root) and p in procs:
            p = procs[p][0]
        if p == root or pid == root:
            out[pid] = (comm, cpu)
    return out


def tree_cpu_s() -> float:
    return sum(cpu for _comm, cpu in tree().values())


def python_workers_cpu_s(jvm_pid: int) -> float:
    """CPU seconds of the JVM's Python descendants: PySpark's worker
    daemon and its workers (reaped workers count in the daemon)."""
    return sum(cpu for pid, (comm, cpu) in tree(jvm_pid).items()
               if pid != jvm_pid and comm.startswith("python"))


def peak_rss_mb(pid: int) -> float:
    """The kernel's high-water mark of a process's resident set (VmHWM)."""
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def descendants() -> list[int]:
    return [pid for pid in tree() if pid != os.getpid()]
