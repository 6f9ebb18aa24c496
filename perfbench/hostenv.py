"""Host-side measurement helpers: descendant CPU time, host steal time, a
CPU probe sized to the core count, output size, and source identification."""

from __future__ import annotations

import hashlib
import os
import subprocess
import sys
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listdir and open
        return None
    return raw[raw.rindex(")") + 2:].split()


def descendants_cpu_s(root: int | None = None) -> float:
    """Summed utime + stime of every live descendant of ``root`` (default:
    this process), including the time of their reaped children.  For a
    PySpark driver that is the JVM and the Python workers the JVM forks."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(name)
        if fields is None:
            continue
        pid, ppid = int(name), int(fields[1])
        children.setdefault(ppid, []).append(pid)
        # utime, stime, cutime, cstime: stat fields 14-17
        ticks[pid] = sum(int(x) for x in fields[11:15])
    total, stack = 0, list(children.get(root, []))
    while stack:
        pid = stack.pop()
        total += ticks.get(pid, 0)
        stack.extend(children.get(pid, []))
    return total / CLK_TCK


def process_age_s() -> float:
    """Seconds since this process started, from /proc (10 ms resolution)."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - int(_stat_fields("self")[19]) / CLK_TCK


_BUSY = (
    "import time\n"
    "t = time.perf_counter()\n"
    "x = 0\n"
    "for i in range(2_500_000):\n"
    "    x += i\n"
    "print(time.perf_counter() - t)\n"
)


def host_probe(n: int) -> dict:
    """A pure-Python busy loop run in ``n`` processes at once (one per
    core): the slowest loop's seconds.  On an idle host it reads the same
    as one loop alone; a busy host reads slower.  Recorded beside each run
    so a slow host window can be told apart from a slow change."""
    procs = [
        subprocess.Popen([sys.executable, "-c", _BUSY], stdout=subprocess.PIPE, text=True)
        for _ in range(n)
    ]
    loops = [float(p.communicate()[0]) for p in procs]
    return {"busyloop_procs": n, "busyloop_max_s": max(loops), "busyloop_min_s": min(loops)}


def tree_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def source_id(root: str) -> dict:
    """git sha when the tree is a git checkout, and a sha256 of the kgx
    sources either way (benchmark checkouts need not be git repos)."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "kgx")
    for dirpath, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    try:
        sha = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True, timeout=10
        ).stdout.strip() or "unknown"
    except (OSError, subprocess.TimeoutExpired):
        sha = "unknown"
    return {"git_sha": sha, "kgx_sha256": h.hexdigest()[:16]}


def host_steal_s() -> float:
    """CPU seconds the hypervisor ran other guests instead of this host,
    summed over all CPUs since boot (the steal column of /proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / CLK_TCK


class Stopwatch:
    """Wall seconds, descendant CPU seconds and host steal seconds over a
    ``with`` block."""

    def __enter__(self):
        self.cpu0, self.steal0 = descendants_cpu_s(), host_steal_s()
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall_s = time.perf_counter() - self.t0
        self.cpu_s = descendants_cpu_s() - self.cpu0
        self.steal_s = host_steal_s() - self.steal0
        return False
