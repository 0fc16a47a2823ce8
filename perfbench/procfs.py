"""CPU, memory and steal readings from /proc for the Spark JVM and its
Python workers (the daemon and the workers it forks are the JVM's
descendants)."""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # fields after the parenthesised command name, which may hold spaces
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """Every live process below ``root``."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, stack = [], list(children.get(root, []))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, []))
    return out


def cpu_s(pids: list[int]) -> float:
    """User plus system CPU seconds of ``pids``, including children they
    have reaped (Python workers that exited count towards their daemon)."""
    total = 0
    for pid in pids:
        fields = _stat_fields(pid)
        if fields is not None:
            total += sum(int(fields[i]) for i in (11, 12, 13, 14))
    return total / _TICK


def rss_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        fields = _stat_fields(pid)
        if fields is not None:
            total += int(fields[21])
    return total * _PAGE / 2**20


def wait_gone(pids: list[int], timeout: float) -> None:
    """Wait until none of ``pids`` is running (exited or a zombie)."""
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        live = [p for p in pids if (f := _stat_fields(p)) is not None and f[0] != "Z"]
        if not live:
            return
        time.sleep(0.05)


def steal_s() -> float:
    """Machine-wide stolen CPU seconds since boot (/proc/stat ``steal``)."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return int(cpu[8]) / _TICK if len(cpu) > 8 else 0.0


class Usage:
    """CPU and peak resident memory of the JVM and of its Python workers
    while a ``with`` block runs; RSS is sampled every ``period`` seconds."""

    def __init__(self, jvm_pid: int, period: float = 0.1):
        self.jvm_pid = jvm_pid
        self.period = period
        self.jvm_cpu_s = self.python_cpu_s = 0.0
        self.peak_rss_mb = self.python_peak_rss_mb = 0.0
        self._stop = threading.Event()

    def _sample(self) -> None:
        while not self._stop.wait(self.period):
            workers = descendants(self.jvm_pid)
            py = rss_mb(workers)
            self.python_peak_rss_mb = max(self.python_peak_rss_mb, py)
            self.peak_rss_mb = max(self.peak_rss_mb, py + rss_mb([self.jvm_pid]))

    def __enter__(self) -> "Usage":
        self._jvm0 = cpu_s([self.jvm_pid])
        self._py0 = cpu_s(descendants(self.jvm_pid))
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.jvm_cpu_s = cpu_s([self.jvm_pid]) - self._jvm0
        # workers started during the block began at zero CPU
        self.python_cpu_s = cpu_s(descendants(self.jvm_pid)) - self._py0
