"""Host observations read from /proc: CPU steal, load average and the
resident set of the Spark Python workers this process started."""

from __future__ import annotations

import os
import threading


def cpu_times() -> list[int]:
    """Aggregate jiffies from the ``cpu`` line of /proc/stat."""
    with open("/proc/stat", encoding="ascii") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    cpu_times() samples (field 8 of the cpu line)."""
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])  # guest time is already counted in user
    return delta[7] / total if total > 0 and len(delta) > 7 else 0.0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as f:
                stat = f.read()
        except OSError:  # the process ended while we listed /proc
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def python_descendants(root: int) -> list[int]:
    """Python processes below `root` (the JVM's daemon and its workers)."""
    kids = _children()
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/comm", encoding="ascii", errors="replace") as f:
                if f.read().startswith("python"):
                    out.append(pid)
        except OSError:
            continue
    return out


def peak_rss_kib(pid: int) -> int:
    """VmHWM: the process's own peak resident set so far."""
    try:
        with open(f"/proc/{pid}/status", encoding="ascii", errors="replace") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class WorkerRssSampler:
    """Background thread that tracks the largest peak resident set of
    any Python process descended from this one, polled every `period`
    seconds. Reading VmHWM catches peaks that fall between polls."""

    def __init__(self, period: float = 0.2) -> None:
        self.period = period
        self.peak_kib = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _poll(self) -> None:
        me = os.getpid()
        for pid in python_descendants(me):
            self.peak_kib = max(self.peak_kib, peak_rss_kib(pid))

    def _run(self) -> None:
        while not self._stop.is_set():
            self._poll()
            self._stop.wait(self.period)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> float:
        """Stop polling; returns the peak in MB."""
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=10)
        self._poll()
        return self.peak_kib / 1024.0
