"""Readings taken from outside the engine: disk usage with ``du``, peak
resident memory from ``/proc/<pid>/status`` (VmHWM), CPU count and load."""

from __future__ import annotations

import os
import subprocess
import threading


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def du_bytes(*paths: str) -> int:
    """Bytes on disk of the given files or directories (``du -s -B1``)."""
    out = subprocess.run(
        ["du", "-s", "-B1", "-c", *paths], check=True, capture_output=True, text=True
    ).stdout
    return int(out.strip().splitlines()[-1].split()[0])


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _descendants() -> list[int]:
    pids, todo = [], [os.getpid()]
    kids = _children()
    while todo:
        p = todo.pop()
        pids.append(p)
        todo.extend(kids.get(p, []))
    return pids


def _vm_hwm_kib(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        return None
    return None


class PeakRss:
    """Samples this process and all its descendants (the Spark JVM and its
    Python workers) every ``interval`` seconds.  ``peak_mib()`` is the
    highest sum, over one sample, of the VmHWM of the processes alive at
    that sample: the resident peak of the process tree, which counts a
    short-lived worker only next to the processes it ran beside."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_kib = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        total = sum(v for v in map(_vm_hwm_kib, _descendants()) if v is not None)
        self.peak_kib = max(self.peak_kib, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def peak_mib(self) -> float:
        return self.peak_kib / 1024.0
