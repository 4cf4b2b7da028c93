"""Hardware key, process-tree memory and process-tree shutdown, read from
``/proc`` (no psutil)."""

from __future__ import annotations

import contextlib
import os
import platform
import signal
import threading
import time


def nproc() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def _mem_total_kb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return 0


def hardware_key() -> dict:
    """What a result depends on besides the code: results taken under
    different keys are not comparable (``compare.py`` refuses them)."""
    import pyarrow
    import pyspark

    return {
        "nproc": nproc(),
        "mem_total_kb": _mem_total_kb(),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
    }


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited between listdir and open
        # the command name may contain spaces: ppid follows the last ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root_pid: int) -> list[int]:
    """Pids of every process below ``root_pid`` (the driver JVM is a child
    of this process, the Python workers are children of the JVM)."""
    kids = _children_map()
    out, todo = [], [root_pid]
    while todo:
        found = kids.get(todo.pop(), ())
        out.extend(found)
        todo.extend(found)
    return out


def tree_rss_bytes(root_pid: int) -> int:
    """Resident bytes of ``root_pid`` and all its descendants."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in [root_pid, *descendants(root_pid)]:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


def _running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie awaiting its reaper."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def wait_ended(pids: list[int], timeout: float = 30.0) -> None:
    """Wait until every pid has ended; SIGKILL the ones still running after
    ``timeout`` and give them a few more seconds."""
    deadline = time.monotonic() + timeout
    killed = False
    while pids := [p for p in pids if _running(p)]:
        if time.monotonic() > deadline:
            if killed:
                return
            for p in pids:
                with contextlib.suppress(OSError):
                    os.kill(p, signal.SIGKILL)
            killed, deadline = True, time.monotonic() + 5
        time.sleep(0.05)


class PeakRSS:
    """Background sampler of the process tree's resident memory."""

    INTERVAL = 0.1  # seconds between samples

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def __enter__(self) -> "PeakRSS":
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self.INTERVAL)

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))

    @property
    def peak_mb(self) -> float:
        return self.peak / (1 << 20)
