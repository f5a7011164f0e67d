"""What the benchmark reads from /proc: the process tree under the JVM,
its resident set and CPU time, and the CPU time the hypervisor took."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    """``pid`` and every process under it."""
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def rss_kb(pid: int) -> int:
    """Resident set of ``pid`` and every process under it."""
    total = 0
    for p in descendants(pid):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total


def tree_cpu_s(pid: int) -> float:
    """User plus system CPU seconds of ``pid`` and every process under it,
    with the children each has already reaped (a Python worker that exited
    still counts, in its parent's).  The kernel leaves out the time the
    hypervisor stole, so on a shared virtual machine this moves far less
    than wall time."""
    total = 0
    for p in descendants(pid):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _TICK


def jit_cpu_s(pid: int) -> float:
    """CPU seconds the JIT compiler threads of JVM ``pid`` have used (run
    the JVM with -XX:-UseDynamicNumberOfCompilerThreads, so that none of
    them exits and takes its count along)."""
    total = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        name, fields = raw.rsplit(")", 1)
        if name.split("(", 1)[1].startswith(("C1 CompilerThre", "C2 CompilerThre")):
            total += int(fields.split()[11]) + int(fields.split()[12])
    return total / _TICK


def steal_s() -> float:
    """CPU time the hypervisor has taken from this machine since boot
    (all CPUs)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK
