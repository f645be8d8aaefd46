"""Process-tree accounting from /proc: CPU seconds and peak RSS of this
process and every descendant (the Spark JVM and its Python worker
daemons), plus the noise record that lets a disturbed run be spotted.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def tree(root: int) -> dict[str, list[str]]:
    """Stat fields of ``root`` and all its live descendants."""
    stats = {p: s for p in os.listdir("/proc") if p.isdigit() and (s := _stat(p))}
    kids: dict[str, list[str]] = {}
    for p, s in stats.items():
        kids.setdefault(s[1], []).append(p)
    out, todo = {}, [str(root)]
    while todo:
        p = todo.pop()
        if p in stats:
            out[p] = stats[p]
            todo.extend(kids.get(p, []))
    return out


def tree_cpu_s(root: int) -> float:
    """utime+stime of the tree, plus the reaped children each member
    waited for, so short-lived Python workers are not lost."""
    return sum(
        sum(int(s[i]) for i in (11, 12, 13, 14)) for s in tree(root).values()
    ) / _TICK


def tree_rss_mb(root: int) -> float:
    return sum(int(s[21]) for s in tree(root).values()) * _PAGE / 2**20


class Sampler:
    """Background thread recording the tree's peak RSS."""

    def __init__(self, period_s: float = 0.25):
        self.root = os.getpid()
        self.period_s = period_s
        self.peak_rss_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_rss_mb = max(self.peak_rss_mb, tree_rss_mb(self.root))
            self._stop.wait(self.period_s)

    def __enter__(self) -> Sampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def reap(root: int, timeout_s: float = 30.0) -> None:
    """Wait for every descendant of ``root`` to exit; kill stragglers."""
    deadline = time.time() + timeout_s
    while (left := [p for p in tree(root) if p != str(root)]) and time.time() < deadline:
        time.sleep(0.2)
    for p in left:
        try:
            os.kill(int(p), signal.SIGKILL)
        except ProcessLookupError:
            pass
    while [p for p in tree(root) if p != str(root)]:
        time.sleep(0.1)


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, all CPUs, since boot."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def stray_jvms() -> list[str]:
    """JVMs alive before this run starts its own (bench.py's check)."""
    from bench import _cmdline_has_java

    return [p for p in os.listdir("/proc") if p.isdigit() and _cmdline_has_java(p)]


def noise_start() -> dict:
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "cwd": os.getcwd(),
        "loadavg_before": loadavg(),
        "steal_s": steal_s(),
        "stray_jvms": stray_jvms(),
        "t_wall": time.time(),
    }
