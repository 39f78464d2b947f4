"""Host state and memory of the benchmark's process tree.

``HostState`` snapshots the counters that explain a noisy run without
running it again: CPU steal from ``/proc/stat`` and I/O pressure stall
time from ``/proc/pressure/io``. ``RssSampler`` polls the summed
resident memory of this process and all its descendants (the JVM and
the Python workers it forks) and keeps the peak.
"""

from __future__ import annotations

import os
import threading
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _steal_ticks() -> int | None:
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
    except OSError:
        return None
    return int(fields[8]) if len(fields) > 8 else None


def _io_pressure_us() -> dict[str, int]:
    out = {}
    try:
        with open("/proc/pressure/io") as f:
            for line in f:
                kind, *kv = line.split()
                out[kind] = int(dict(x.split("=") for x in kv)["total"])
    except OSError:
        pass
    return out


class HostState:
    """Counters at construction; ``delta()`` gives the change since."""

    def __init__(self):
        self.t = time.time()
        self.steal = _steal_ticks()
        self.io = _io_pressure_us()

    def delta(self) -> dict:
        now = HostState()
        out: dict = {"wall_s": now.t - self.t}
        if self.steal is not None and now.steal is not None:
            out["steal_s"] = (now.steal - self.steal) / _CLK_TCK
        for kind in ("some", "full"):
            if kind in self.io and kind in now.io:
                out[f"io_pressure_{kind}_s"] = (now.io[kind] - self.io[kind]) / 1e6
        return out


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: ppid is the second field
        # after the closing parenthesis
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _kind(pid: int, root: int) -> str:
    if pid == root:
        return "benchmark"
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return "jvm" if b"java" in f.read().split(b"\0")[0] else "python_workers"
    except OSError:
        return "python_workers"


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_rss_bytes(root: int) -> dict[str, int]:
    """Resident memory of the process tree rooted at ``root``, by process
    kind. Pages shared between processes are split between them (PSS):
    summing plain RSS counts the JVM twice whenever it forks a helper
    command, and the Python workers' copy-on-write pages once per
    worker."""
    out: dict[str, int] = {}
    for p in tree_pids(root):
        try:
            mem = _pss_bytes(p)
        except OSError:
            continue
        k = _kind(p, root)
        out[k] = out.get(k, 0) + mem
    return out


class RssSampler:
    """Background thread keeping the peak summed RSS of the process
    tree rooted at this process."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.peak_by_kind: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            by_kind = tree_rss_bytes(pid)
            total = sum(by_kind.values())
            if total > self.peak_bytes:
                self.peak_bytes, self.peak_by_kind = total, by_kind
            self._stop.wait(self.interval_s)

    def reset(self) -> None:
        """Start a new peak (a sample in flight may still land in it)."""
        self.peak_bytes, self.peak_by_kind = 0, {}

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
