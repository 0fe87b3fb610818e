"""CPU seconds and peak memory of a process tree, read from /proc.

The tree is this Python process and every descendant: the Spark JVM it
launches and the Python worker daemon the JVM forks, with its workers.
CPU counts ``utime + stime + cutime + cstime`` over the live tree, so a
worker that exits and is reaped stays counted through its parent's
``cutime``. A child process, this file run as a script, samples the
summed PSS (proportional set size) for the peak. PSS rather than RSS: the
workers are forked from the daemon and share most of their pages with it,
and summed RSS counted those pages once per live worker, so the peak moved
with how many workers happened to be alive.
"""

from __future__ import annotations

import os
import select
import subprocess
import sys

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int):
    """(ppid, cpu seconds) of one process, or None if it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # fields after the parenthesised command name, which may hold spaces
    rest = raw[raw.rindex(")") + 2:].split()
    ppid = int(rest[1])
    cpu = sum(int(v) for v in rest[11:15]) / _TICK
    return ppid, cpu


def _pss(pid: int) -> int:
    """PSS bytes of one process, or 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return False
    return raw[raw.rindex(")") + 2] != "Z"


def _processes() -> tuple[dict, dict]:
    """({pid: (ppid, cpu)}, {ppid: [child pids]}) of every process."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            s = _stat(int(name))
            if s is not None:
                stats[int(name)] = s
    children: dict = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    return stats, children


def descendants(root: int) -> list:
    """Pids of every live descendant of ``root``."""
    _, children = _processes()
    out, todo = [], list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def host_ticks() -> tuple[int, int]:
    """(steal ticks, all ticks) of the host's CPUs since boot. Steal is
    time a hypervisor gave this VM's CPUs to another guest."""
    with open("/proc/stat") as f:
        ticks = [int(v) for v in f.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


def tree_usage(root: int, skip: int | None = None) -> tuple[float, int]:
    """(cpu seconds, pss bytes) summed over ``root`` and its descendants,
    leaving out the process ``skip``."""
    stats, children = _processes()
    cpu, pss, todo = 0.0, 0, [root]
    while todo:
        pid = todo.pop()
        if pid == skip:
            continue
        if pid in stats:
            cpu += stats[pid][1]
            pss += _pss(pid)
        todo.extend(children.get(pid, ()))
    return cpu, pss


class TreeSampler:
    """Context manager: CPU seconds used by the tree inside the block, the
    peak summed PSS sampled every ``interval`` seconds, and the share of
    the host's CPU time stolen by other guests meanwhile.

    The sampling runs in a child process, which leaves itself out of the
    tree. A sample takes about 16 ms, most of it in Python, and from a
    thread of the driver process it competed for the interpreter lock with
    the driver-side training: the full-batch fit took about a fifth longer
    than with no sampling. The child is stopped before it is reaped, so its
    CPU time never reaches the driver's ``cutime``."""

    def __init__(self, root: int | None = None, interval: float = 0.25):
        self.root = os.getpid() if root is None else root
        self.interval = interval
        self.cpu_s = 0.0
        self.peak_pss = 0
        self.steal_frac = 0.0

    def __enter__(self):
        self._cpu0, self.peak_pss = tree_usage(self.root)
        self._ticks0 = host_ticks()
        self._sampler = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), str(self.root), str(self.interval)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        return self

    def __exit__(self, *exc):
        cpu1, pss = tree_usage(self.root, skip=self._sampler.pid)
        steal, total = (b - a for a, b in zip(self._ticks0, host_ticks()))
        # closing its stdin stops the sampler, which prints its peak
        peak, _ = self._sampler.communicate("")
        self.steal_frac = steal / total if total else 0.0
        self.cpu_s = cpu1 - self._cpu0
        self.peak_pss = max(self.peak_pss, pss, int(peak or 0))
        return False


def _sample(root: int, interval: float) -> int:
    """Peak summed PSS of ``root``'s tree, without this process, sampled
    every ``interval`` seconds until stdin closes."""
    peak = 0
    while not select.select([sys.stdin], [], [], interval)[0]:
        peak = max(peak, tree_usage(root, skip=os.getpid())[1])
    return peak


if __name__ == "__main__":
    print(_sample(int(sys.argv[1]), float(sys.argv[2])))
