"""Measurement helpers shared by the workload drivers."""

from __future__ import annotations

import os
import sys
import threading
import time

_T0 = time.perf_counter()


def log(*a) -> None:
    print(f"[{time.perf_counter() - _T0:6.1f}s]", *a, file=sys.stderr, flush=True)


class RssSampler:
    """Peak resident memory of the driver JVM and every process under it
    (the Python daemon and workers), sampled from /proc."""

    def __init__(self, jvm_pid: int, period: float = 0.5):
        self.pid, self.period = jvm_pid, period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def _children() -> dict[int, list[int]]:
        kids: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
        return kids

    @staticmethod
    def _rss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def sample(self) -> None:
        kids, total, todo = self._children(), 0, [self.pid]
        while todo:
            p = todo.pop()
            total += self._rss_kb(p)
            todo.extend(kids.get(p, []))
        self.peak_kb = max(self.peak_kb, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()
