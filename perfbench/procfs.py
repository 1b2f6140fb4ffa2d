"""What the benchmark reads from /proc: this run's process tree (the
Python driver, the JVM and the Python workers the JVM forks), its CPU
time and peak memory, and the host's CPU steal."""

from __future__ import annotations

import os

CLK_TCK = os.sysconf("SC_CLK_TCK")
# HotSpot's JIT compiler threads, by their (truncated) thread names
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat_fields(pid: int) -> list[str]:
    """Fields of /proc/<pid>/stat after the command name (state first)."""
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def process_tree() -> set[int]:
    """This process and all of its descendants."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                parent[int(entry)] = int(_stat_fields(int(entry))[1])
            except (OSError, IndexError, ValueError):
                continue
    tree, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in tree]
        tree.update(kids)
        frontier.extend(kids)
    return tree


def alive(pid: int) -> bool:
    """True while pid exists and is not a zombie."""
    try:
        return _stat_fields(pid)[0] != "Z"
    except (OSError, IndexError):
        return False


def tree_cpu_s() -> float:
    """User plus system CPU seconds used so far by the live process tree
    (all threads of each process). Time the hypervisor steals from the
    VM is not in it."""
    ticks = 0
    for pid in process_tree():
        try:
            f = _stat_fields(pid)
            ticks += int(f[11]) + int(f[12])  # utime, stime
        except (OSError, IndexError, ValueError):
            continue
    return ticks / CLK_TCK


class JitClock:
    """CPU seconds used by the JIT compiler threads of the processes in
    the tree. HotSpot starts and stops compiler threads as its compile
    queue grows and drains, and a stopped thread's time drops out of
    /proc/<pid>/task, so each thread keeps the time it had at its last
    `sample()`: sample while the window runs, not only at its ends. (A
    thread is stopped once it has sat idle, so its last sample holds
    nearly all of its time.)"""

    def __init__(self) -> None:
        self.seen: dict[tuple[int, int], int] = {}

    def sample(self) -> float:
        for pid in process_tree():
            try:
                tids = os.listdir(f"/proc/{pid}/task")
            except OSError:
                continue
            for tid in tids:
                try:
                    with open(f"/proc/{pid}/task/{tid}/stat") as f:
                        stat = f.read()
                except OSError:
                    continue
                comm, rest = stat[stat.index("(") + 1:].rsplit(")", 1)
                if comm.startswith(JIT_THREADS):
                    fields = rest.split()
                    self.seen[(pid, int(tid))] = int(fields[11]) + int(fields[12])
        return sum(self.seen.values()) / CLK_TCK


def app_cpu_s(jit: JitClock) -> tuple[float, float]:
    """(CPU seconds of the process tree less its JIT compiler threads,
    CPU seconds of those threads), used so far."""
    j = jit.sample()
    return tree_cpu_s() - j, j


def tree_peak_rss_mb() -> float:
    """Sum of VmHWM (peak resident set) over the process tree."""
    kb = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                kb += next(
                    (int(line.split()[1]) for line in f if line.startswith("VmHWM:")), 0
                )
        except OSError:
            continue
    return kb / 1024.0


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) ticks of the host's aggregate CPU line."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    # guest time is already counted in user and nice
    return vals[7], sum(vals[:8])


def steal_pct(start: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor stole since `start`, in %."""
    steal, total = host_cpu_ticks()
    return 100.0 * (steal - start[0]) / max(total - start[1], 1)

