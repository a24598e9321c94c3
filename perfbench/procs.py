"""Process-tree bookkeeping from /proc: sampled peak RSS of this driver,
the Spark JVM it launches and that JVM's Python workers; and waiting for
all of them to end when the benchmark stops."""

from __future__ import annotations

import os
import signal
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _parents() -> dict[int, int]:
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesized command name
        out[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants(root: int) -> set[int]:
    kids: dict[int, list[int]] = {}
    for pid, ppid in _parents().items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = set(), [root]
    while todo:
        for k in kids.get(todo.pop(), []):
            if k not in out:
                out.add(k)
                todo.append(k)
    return out


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Samples the summed RSS of this process and its descendants on a
    background thread; ``peak_mb`` is the largest sample."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def sample(self) -> None:
        me = os.getpid()
        pids = descendants(me)
        total = rss_bytes(me) + sum(rss_bytes(p) for p in pids)
        self.peak_bytes = max(self.peak_bytes, total)
        self.samples += 1

    def _run(self) -> None:
        while True:
            self.sample()
            if self._stop.wait(self.interval_s):
                return

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / (1024.0 * 1024.0)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            # a zombie has exited; its parent reaps it
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def wait_gone(pids, timeout_s: float = 20.0) -> None:
    """Wait for ``pids`` to exit; SIGKILL whatever is left at the end."""
    deadline = time.monotonic() + timeout_s
    left = {p for p in pids if _alive(p)}
    while left and time.monotonic() < deadline:
        time.sleep(0.1)
        left = {p for p in left if _alive(p)}
    for p in left:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while {p for p in left if _alive(p)} and time.monotonic() < deadline + 5:
        time.sleep(0.1)
