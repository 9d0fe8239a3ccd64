"""Peak resident memory of a process tree, sampled from /proc.

The tree of a benchmark worker is its Python interpreter, the JVM it launches,
the Python UDF workers forked from one daemon, and short-lived forks of
the JVM (Hadoop's local file system runs shell commands during writes).
Forked processes share their parent's pages, so summing VmRSS counts a
1 GB JVM heap again for every transient fork. ``RssSampler`` sums the
proportional set size (``Pss`` in ``smaps_rollup``) instead: each shared
page is split among the processes mapping it, so the sum is the memory
the tree really holds. It samples every ``interval`` seconds in a
background thread and keeps the peak, and it remembers every process it
saw: the PySpark daemon moves itself and its workers into a process group
of their own, so ``stop`` kills what is left by identity, not by group.
"""

from __future__ import annotations

import os
import signal
import threading
import time


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (field 3 on)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:  # exited
        return None


def _start_time(pid: int) -> str | None:
    st = _stat(pid)
    return st[19] if st else None  # field 22: start time since boot


def descendants(pid: int) -> list[int]:
    """``pid`` and every live process below it."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        st = _stat(int(name)) if name.isdigit() else None
        if st:
            kids.setdefault(int(st[1]), []).append(int(name))  # field 4: ppid
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:  # exited, or a kernel thread without an address space
        pass
    return 0


class RssSampler:
    def __init__(self, pid: int, interval: float = 0.2):
        self.pid = pid
        self.interval = interval
        self.peak_bytes = 0
        self.seen: dict[int, str] = {}  # pid -> start time
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            tree = descendants(self.pid)
            for p in tree:
                self.seen.setdefault(p, _start_time(p))
            self.peak_bytes = max(self.peak_bytes, sum(pss_bytes(p) for p in tree))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def stop(self, timeout: float = 15.0) -> None:
        """Kill every process seen in the tree that is still running, and
        wait until all of them have ended."""
        deadline = time.monotonic() + timeout
        while True:
            alive = [p for p, t in self.seen.items() if t and _start_time(p) == t]
            if not alive:
                return
            for p in alive:
                try:
                    os.kill(p, signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL)
                except ProcessLookupError:
                    pass
            time.sleep(0.2)
