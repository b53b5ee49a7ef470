"""Process bookkeeping from /proc: peak resident memory and CPU time of the
JVM and its Python workers, and a clean stop of both."""

from __future__ import annotations

import os
import signal
import subprocess
import time


def _stat(pid: int) -> tuple[str, int] | None:
    """(state, ppid) of a process, or None once it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            # the command name may hold spaces or parentheses: split after it
            fields = f.read().rsplit(")", 1)[1].split()
        return fields[0], int(fields[1])
    except (OSError, IndexError, ValueError):
        return None


def _ppid(pid: int) -> int | None:
    st = _stat(pid)
    return st[1] if st else None


def _alive(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and st[0] != "Z"


def descendants(pid: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            parent = _ppid(int(entry))
            if parent is not None:
                children.setdefault(parent, []).append(int(entry))
    out, todo = set(), [pid]
    while todo:
        for child in children.get(todo.pop(), []):
            if child not in out:
                out.add(child)
                todo.append(child)
    return out


def vm_hwm_kb(pid: int) -> int:
    """Peak resident set size of a live process, in KiB (0 once it is gone)."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _cpu_ticks(pid: int) -> int:
    """utime + stime of a process plus those of its reaped children."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return sum(int(x) for x in fields[11:15])
    except (OSError, IndexError, ValueError):
        return 0


def cpu_seconds(root_pid: int) -> float:
    """CPU seconds used so far by this process, the JVM and every process
    the JVM started (a worker that has exited counts through its parent)."""
    own = os.times()
    ticks = sum(_cpu_ticks(p) for p in {root_pid} | descendants(root_pid))
    return own.user + own.system + ticks / os.sysconf("SC_CLK_TCK")


def jvm_pid(spark) -> int:
    """The driver JVM: pyspark's launcher ``exec``s java in the process it
    started, so the gateway's child pid is the JVM's."""
    return spark.sparkContext._gateway.proc.pid


class PeakRss:
    """Sum over the JVM and its descendant processes (the Python daemon
    and workers) of each one's highest VmHWM seen at any sample."""

    def __init__(self):
        self.peak_kb: dict[int, int] = {}

    def sample(self, root_pid: int) -> None:
        for pid in {root_pid} | descendants(root_pid):
            self.peak_kb[pid] = max(self.peak_kb.get(pid, 0), vm_hwm_kb(pid))

    def peak_mb(self) -> float:
        return sum(self.peak_kb.values()) / 1024


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, end the JVM by closing its stdin, and wait until
    the JVM and every process it started have exited."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    family = {proc.pid} | descendants(proc.pid)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()
    try:
        proc.wait(timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout)
    deadline = time.time() + timeout
    while any(_alive(p) for p in family):
        if time.time() > deadline:
            for p in family:
                if _alive(p):
                    os.kill(p, signal.SIGKILL)
            deadline = float("inf")
        time.sleep(0.1)
