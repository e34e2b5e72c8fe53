"""Process and machine bookkeeping for one benchmark run.

Every process a run starts -- the worker interpreter, the Spark JVM and the
``pyspark.daemon`` Python workers -- inherits ``E2EBENCH_RUN=<token>`` in its
environment. The token, not the process tree or the process group, is what
finds them: ``pyspark.daemon`` moves itself into a process group of its own,
and a killed JVM's children are re-parented, but both keep the environment
they were started with.
"""

from __future__ import annotations

import os
import signal
import time

MARK = "E2EBENCH_RUN"
_PAGE = os.sysconf("SC_PAGE_SIZE")


def run_pids(token: str, exclude: set[int] = frozenset()) -> list[int]:
    """Pids of live processes started with ``E2EBENCH_RUN=token``."""
    needle = f"{MARK}={token}".encode()
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit() or int(d) in exclude:
            continue
        try:
            with open(f"/proc/{d}/environ", "rb") as f:
                env = f.read()
        except OSError:  # exited, or a zombie
            continue
        if needle in env.split(b"\0"):
            pids.append(int(d))
    return pids


def rss_bytes(pids: list[int]) -> int:
    """Summed resident set size of ``pids`` (processes that exit mid-read
    count as 0)."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            continue
    return total


def comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def stop_run(token: str, exclude: set[int], grace_s: float = 5.0,
             timeout_s: float = 30.0) -> list[int]:
    """SIGTERM every process of the run, SIGKILL what is left after
    ``grace_s``, and wait until all are gone. Returns the pids still alive
    after ``timeout_s`` (empty on success)."""
    deadline = time.monotonic() + timeout_s
    sig = signal.SIGTERM
    term_until = time.monotonic() + grace_s
    while True:
        pids = run_pids(token, exclude)
        if not pids or time.monotonic() > deadline:
            return pids
        if sig == signal.SIGTERM and time.monotonic() > term_until:
            sig = signal.SIGKILL
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.2)


def cpu_ticks() -> tuple[int, int]:
    """(total, steal) jiffies summed over all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(v) for v in f.readline().split()[1:9]]
    return sum(fields), fields[7]


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[0] - before[0]
    return (after[1] - before[1]) / total if total > 0 else 0.0


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")
