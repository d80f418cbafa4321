"""CPU time and peak RSS of this process and everything it started.

Reads ``/proc`` (Linux): the tree is the benchmark's Python driver, the
Spark JVM it launches, and the JVM's Python worker daemon and workers.
"""

from __future__ import annotations

import contextlib
import os
import signal
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _children(pid: int) -> list[int]:
    out = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tasks:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return out


def tree(root: int | None = None, skip: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants,
    leaving out ``skip`` and everything below it."""
    todo = [root or os.getpid()]
    seen: list[int] = []
    while todo:
        pid = todo.pop()
        if pid == skip:
            continue
        seen.append(pid)
        todo.extend(_children(pid))
    return seen


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def jvm_pid() -> int:
    """The Spark driver JVM started by this process."""
    for pid in tree():
        if "org.apache.spark.deploy.SparkSubmit" in _cmdline(pid):
            return pid
    raise RuntimeError("no Spark JVM below this process")


def _stat(path: str) -> tuple[str, list[str]]:
    """``comm`` and the fields after it of a ``/proc/.../stat`` file."""
    with open(path) as f:
        head, rest = f.read().rsplit(")", 1)
    return head.split("(", 1)[1], rest.split()


def cpu_s(pids: list[int]) -> float:
    """User + system CPU seconds of ``pids``, including their reaped
    children (a Python worker that exits is charged to the daemon)."""
    total = 0
    for pid in pids:
        try:
            _, fields = _stat(f"/proc/{pid}/stat")
        except OSError:
            continue
        # fields[0] is field 3 (state); utime..cstime are fields 14..17
        total += sum(int(x) for x in fields[11:15])
    return total / _CLK_TCK


def jit_cpu_s(jvm: int) -> dict[str, float]:
    """User + system CPU seconds of each live JIT compiler thread of the
    JVM, by thread id. The JVM starts and ends compiler threads as the
    compile queue grows and shrinks, so compare two readings with
    ``jit_cpu_delta``."""
    out = {}
    for tid in os.listdir(f"/proc/{jvm}/task"):
        try:
            comm, fields = _stat(f"/proc/{jvm}/task/{tid}/stat")
        except OSError:
            continue
        if comm.startswith(("C1 CompilerThre", "C2 CompilerThre")):
            out[tid] = (int(fields[11]) + int(fields[12])) / _CLK_TCK
    return out


def jit_cpu_delta(before: dict[str, float], after: dict[str, float]) -> float:
    """Compiler-thread CPU seconds between two ``jit_cpu_s`` readings,
    over the threads alive at the second one (the CPU of a thread that
    ended in between is not counted; a thread id that reads lower than
    before was reused by a new thread and counts in full)."""
    total = 0.0
    for tid, s in after.items():
        s0 = before.get(tid, 0.0)
        total += s - s0 if s >= s0 else s
    return total


def steal_s() -> float:
    """CPU time this machine's virtual CPUs have lost to other guests so
    far, summed over CPUs (the ``steal`` column of ``/proc/stat``)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _CLK_TCK


def _alive(pid: int) -> bool:
    try:
        return _stat(f"/proc/{pid}/stat")[1][0] != "Z"
    except OSError:
        return False


def wait_gone(pids: list[int], timeout: float) -> None:
    """Wait until none of ``pids`` runs; SIGKILL what is left after
    ``timeout`` seconds and wait for that too."""
    deadline = time.monotonic() + timeout
    while any(map(_alive, pids)) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in filter(_alive, pids):
        with contextlib.suppress(OSError):
            os.kill(pid, signal.SIGKILL)
    while any(map(_alive, pids)):
        time.sleep(0.1)


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def reset_peaks(pids: list[int]) -> None:
    """Reset each process's peak RSS (``VmHWM``) to its current RSS."""
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the processes' peak RSS since their last reset, in MB."""
    return sum(_status_kb(pid, "VmHWM:") for pid in pids) / 1024.0
