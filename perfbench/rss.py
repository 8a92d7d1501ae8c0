"""Process-tree memory sampler and shutdown helper.

The sampler polls ``/proc`` from a background thread of the benchmark
process: it sums the resident set size of the benchmark process and every
descendant (the Spark driver JVM and its Python workers) and keeps the
peak. It never touches the program under test.
"""

import os
import signal
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _parents():
    """pid -> ppid for every live process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces and parentheses: split after it
        fields = stat[stat.rfind(b")") + 2 :].split()
        out[int(name)] = int(fields[1])
    return out


def descendants(root: int) -> list:
    parents = _parents()
    children = {}
    for pid, ppid in parents.items():
        children.setdefault(ppid, []).append(pid)
    found, stack = [], [root]
    while stack:
        for child in children.get(stack.pop(), ()):
            found.append(child)
            stack.append(child)
    return found


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm", "rb") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Peak summed RSS of this process and its descendants."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def sample(self):
        me = os.getpid()
        tree = [me] + descendants(me)
        self.peak_bytes = max(self.peak_bytes, sum(_rss_bytes(p) for p in tree))

    def _loop(self):
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        return False

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20


def wait_gone(pids, timeout_s: float = 20.0):
    """Wait for ``pids`` to exit; SIGKILL whatever is left at the deadline."""
    deadline = time.monotonic() + timeout_s
    alive = set(pids)
    while alive and time.monotonic() < deadline:
        alive = {p for p in alive if os.path.exists(f"/proc/{p}") and not _is_zombie(p)}
        if alive:
            time.sleep(0.05)
    for pid in alive:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read()
        return stat[stat.rfind(b")") + 2 :].split()[0] == b"Z"
    except OSError:
        return True
