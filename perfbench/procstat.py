"""Process-tree accounting from /proc for the Spark JVM and its Python workers.

The benchmark process launches the JVM; the JVM starts the pyspark daemon,
which forks the Python workers. CPU time is utime+stime of every live
process below the benchmark process, plus cutime+cstime for children that
have already exited and been reaped (a worker that ends moves its time into
its parent's cutime, so the sum stays continuous). Peak memory is VmHWM,
the kernel's high-water mark of resident memory.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _read_stat(pid: str):
    with open(f"/proc/{pid}/stat") as fh:
        data = fh.read()
    comm = data[data.index("(") + 1 : data.rindex(")")]
    f = data[data.rindex(")") + 2 :].split()
    # f[1]=ppid, f[11..14]=utime, stime, cutime, cstime (proc(5) fields 4, 14-17)
    return comm, int(f[1]), int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])


def _table() -> dict[int, tuple]:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                out[int(name)] = _read_stat(name)
            except (OSError, ValueError, IndexError):
                pass  # the process exited while the table was read
    return out


def _below(table: dict[int, tuple], root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (_, ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def descendants(root: int | None = None) -> list[int]:
    """Pids of every live process below ``root`` (default: this process)."""
    return _below(_table(), root or os.getpid())


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds used so far by every process below ``root``."""
    table = _table()
    return sum(table[p][2] for p in _below(table, root or os.getpid())) / _TICK


def host_steal_s() -> float:
    """CPU seconds the hypervisor has taken from this machine's vCPUs."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / _TICK


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024 / 1e6
    except OSError:
        pass
    return 0.0


def peak_rss_mb(root: int | None = None) -> tuple[float, float]:
    """(JVM VmHWM, largest Python worker VmHWM) in MB for the tree below
    ``root``."""
    table = _table()
    jvm = worker = 0.0
    for pid in _below(table, root or os.getpid()):
        comm = table[pid][0]
        if comm == "java":
            jvm = max(jvm, _hwm_mb(pid))
        elif comm.startswith("python") or comm.startswith("pyspark"):
            worker = max(worker, _hwm_mb(pid))
    return jvm, worker
