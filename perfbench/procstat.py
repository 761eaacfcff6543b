"""CPU time and resident memory of this process and all its descendants
(the JVM, the PySpark worker daemon and its workers), read from /proc."""

from __future__ import annotations

import os
import sys
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree(root: int | None = None) -> list[int]:
    """`root` and every live descendant of it."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def cpu_seconds(pids: list[int]) -> float:
    """User + system CPU of the processes, including children they
    have reaped."""
    total = 0
    for pid in pids:
        st = _stat(pid)
        if st is not None:
            # utime, stime, cutime, cstime (fields 14-17 of stat)
            total += sum(int(v) for v in st[11:15])
    return total / _TICK


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        st = _stat(pid)
        if st is not None:
            total += int(st[21]) * _PAGE
    return total


def mark(label: str) -> None:
    """A phase boundary on stderr, in seconds since this process began."""
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    age = uptime - int(_stat(os.getpid())[19]) / _TICK
    print(f"perfbench: {label} at {age:.1f} s", file=sys.stderr)


def host_steal() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole host, from /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(v) for v in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


class TreeSampler:
    """Samples the process tree's summed RSS on a background thread and
    keeps the peak; `cpu()` reads the tree's CPU seconds on demand."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.interval_s = interval_s
        self.peak_rss = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_rss = max(self.peak_rss, rss_bytes(tree()))
            self._stop.wait(self.interval_s)

    def start(self) -> "TreeSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @staticmethod
    def cpu() -> float:
        return cpu_seconds(tree())
