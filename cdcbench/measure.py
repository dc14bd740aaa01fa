"""Process-tree resource accounting, lake byte accounting and host facts.

CPU and memory are read from ``/proc`` for every process whose ancestry
reaches the benchmark process: this Python process, the Spark JVM it launches
and the JVM's Python workers. Other tenants of the host are not counted.
"""

from __future__ import annotations

import glob
import json
import os
import platform
import time

_CLK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, cpu ticks incl. waited-for children)."""
    table = {}
    for st in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(st) as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # the process exited between glob and open
        ticks = sum(int(f) for f in fields[11:15])  # utime stime cutime cstime
        table[int(st.split("/")[2])] = (int(fields[1]), ticks)
    return table


def _tree(table: dict, root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return [p for p in out if p in table]


def tree_cpu_s() -> float:
    """CPU seconds (user + system, children included) of the process tree."""
    table = _proc_table()
    return sum(table[p][1] for p in _tree(table, os.getpid())) / _CLK


class PeakRss:
    """Peak resident memory of the process tree while open: each process's
    kernel high-water mark is reset on entry and summed on exit (a process
    started inside the window counts its whole life)."""

    def __enter__(self):
        table = _proc_table()
        for pid in _tree(table, os.getpid()):
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as fh:
                    fh.write("5")  # reset VmHWM to the current RSS
            except OSError:
                pass  # the process exited
        return self

    def __exit__(self, *exc):
        self.peak = 0
        for pid in _tree(_proc_table(), os.getpid()):
            try:
                with open(f"/proc/{pid}/status") as fh:
                    for line in fh:
                        if line.startswith("VmHWM:"):
                            self.peak += int(line.split()[1]) * 1024
            except OSError:
                pass


def file_sizes(root: str) -> dict[str, int]:
    out = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            p = os.path.join(dirpath, n)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass  # removed by a concurrent expiry between walk and stat
    return out


def bytes_written(before: dict[str, int], after: dict[str, int]) -> int:
    """Bytes of files created or rewritten between two ``file_sizes`` walks."""
    return sum(s for p, s in after.items() if before.get(p) != s)


def git_sha(root: str) -> str:
    """HEAD of the checkout when it is a git work tree, read without git."""
    head = os.path.join(root, ".git", "HEAD")
    try:
        with open(head) as fh:
            ref = fh.read().strip()
        if not ref.startswith("ref: "):
            return ref
        with open(os.path.join(root, ".git", ref[5:])) as fh:
            return fh.read().strip()
    except OSError:
        return "unknown"


def cpu_ticks() -> tuple[int, int]:
    """(all, steal) ticks of the host's CPUs since boot, from /proc/stat.
    Steal is time the hypervisor gave this machine's CPUs to others."""
    with open("/proc/stat") as fh:
        fields = [int(f) for f in fh.readline().split()[1:]]
    return sum(fields), fields[7]


def nproc() -> int:
    """Cores this process may run on (what ``nproc`` prints without
    ``OMP_NUM_THREADS``)."""
    return len(os.sched_getaffinity(0))


def host_facts(root: str) -> dict:
    import pyspark

    return {
        "nproc": nproc(),
        "loadavg_start": os.getloadavg(),
        "git_sha": git_sha(root),
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "machine": platform.machine(),
        "started_unix": time.time(),
    }


def write_json(path: str, payload) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(payload, fh, indent=1, default=str)
