"""CPU time and peak memory of a process tree, read from ``/proc``.

The benchmark's own process is the root of the tree: it launches the
Spark JVM, which launches the Python worker daemon, which forks the
workers.  CPU is ``utime + stime`` of every live process plus the
``cutime + cstime`` its reaped children left behind, so a worker that
exited and was waited for still counts.  Linux only; stdlib only.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name is in parentheses and may itself hold spaces
    return raw[raw.rindex(")") + 2 :].split()


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is None:
            continue
        kids.setdefault(int(fields[1]), []).append(int(name))
    return kids


def tree_pids(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def process_cpu_s(pid: int) -> float:
    """utime + stime + cutime + cstime of one process, in seconds."""
    fields = _stat_fields(pid)
    if fields is None:
        return 0.0
    # fields[0] is the state (field 3 of the man page): utime is 14
    return sum(int(fields[i]) for i in (11, 12, 13, 14)) / _TICK


class TreeSample:
    """CPU seconds of the whole tree, of the JVM, and of this process."""

    __slots__ = ("total", "jvm", "driver")

    def __init__(self, total: float, jvm: float, driver: float):
        self.total, self.jvm, self.driver = total, jvm, driver

    def minus(self, earlier: "TreeSample") -> "TreeSample":
        return TreeSample(
            self.total - earlier.total,
            self.jvm - earlier.jvm,
            self.driver - earlier.driver,
        )

    @property
    def workers(self) -> float:
        """CPU of the Python workers: the tree minus JVM and driver."""
        return max(self.total - self.jvm - self.driver, 0.0)


def sample(jvm_pid: int | None) -> TreeSample:
    pids = tree_pids()
    total = sum(process_cpu_s(p) for p in pids)
    jvm = process_cpu_s(jvm_pid) if jvm_pid else 0.0
    return TreeSample(total, jvm, process_cpu_s(os.getpid()))


def peak_rss_mb() -> float:
    """Sum over the live tree of each process's peak resident set."""
    kb = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


def find_jvm_pid() -> int | None:
    """The Spark JVM: the java process in this process's tree."""
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    return pid
        except OSError:
            continue
    return None
