"""Host conditions and process-tree accounting from /proc.

The benchmark process is the Spark driver: its descendants are the JVM
and the Python workers. CPU time of the tree is the user+system time of
every live descendant plus the time of children they have already
reaped (cutime/cstime), so workers that exit mid-pass still count.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # fields after "(comm)"; index 0 is the state (field 3 of proc(5))
    return s[s.rfind(")") + 2:].split()


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` and all its live descendants."""
    root = os.getpid() if root is None else root
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat_fields(int(name))
        if st is not None:
            kids.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    total = 0
    for pid in tree_pids():
        st = _stat_fields(pid)
        if st is not None:  # utime, stime, cutime, cstime
            total += sum(int(v) for v in st[11:15])
    return total / _TICK


def tree_rss_bytes() -> int:
    total = 0
    for pid in tree_pids():
        st = _stat_fields(pid)
        if st is not None:
            total += int(st[21]) * _PAGE
    return total


class RssSampler:
    """Samples the tree's summed RSS every ``interval`` seconds while
    started; ``peak`` is the largest sum seen."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes())
            self._stop.wait(self.interval)

    def __enter__(self) -> RssSampler:
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes())


def calibration_s(n: int = 2_000_000) -> float:
    """A fixed single-thread loop; its time tracks host speed drift."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(n):
        acc += i * i % 7
    return time.perf_counter() - t0


def stamp() -> dict:
    """Host conditions: cores, the graft CPU setting, load, calibration."""
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "loadavg": list(os.getloadavg()),
        "calibration_s": calibration_s(),
        "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }


def wait_gone(pids: list[int], timeout: float = 60.0) -> list[int]:
    """Wait until none of ``pids`` is alive (zombies count as gone);
    returns the ones still alive at the timeout."""
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive:
        alive = [p for p in alive
                 if (st := _stat_fields(p)) is not None and st[0] != "Z"]
        if not alive or time.monotonic() > deadline:
            break
        time.sleep(0.1)
    return alive
