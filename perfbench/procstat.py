"""CPU and resident memory of this process's descendants, from /proc.

The descendants of the benchmark process are the Spark driver JVM and
the Python workers it forks; the benchmark's own interpreter, which
generates inputs and verifies outputs, is left out.
"""

from __future__ import annotations

import os
import threading

TICK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid) -> tuple[str, list[str]] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    lp, rp = raw.index("("), raw.rindex(")")
    return raw[lp + 1:rp], raw[rp + 2:].split()


def alive(pid: int) -> bool:
    """True while the process exists and is not a zombie."""
    st = _stat(pid)
    return st is not None and st[1][0] != "Z"


def descendants(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st:
            children.setdefault(int(st[1][1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def cpu_snapshot() -> dict:
    """CPU seconds (user + sys) so far of the descendant JVMs and Python
    processes. A Python process also counts the children it has reaped,
    which is how the CPU of finished Python workers stays counted."""
    jvm = py = 0.0
    for pid in descendants():
        st = _stat(pid)
        if not st:
            continue
        comm, f = st
        # fields after the comm: state=0 ppid=1 ... utime=11 stime=12 cutime=13 cstime=14
        own = int(f[11]) + int(f[12])
        if comm.startswith("java"):
            jvm += own / TICK
        elif comm.startswith("python") or comm.startswith("pyspark"):
            py += (own + int(f[13]) + int(f[14])) / TICK
    return {"jvm": jvm, "py": py}


def cpu_delta(a: dict, b: dict) -> dict[str, float]:
    """CPU used between snapshots ``a`` and ``b``, JIT compiler and GC
    threads of the JVM included."""
    return {"jvm_cpu_s": b["jvm"] - a["jvm"], "pyworker_cpu_s": b["py"] - a["py"]}


def tree_rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * PAGE
        except OSError:
            pass
    return total


class RssSampler:
    """Samples the summed RSS of the descendant processes every
    ``interval`` seconds on a background thread and keeps the peak."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pids: list[int] = []
        n = 0
        while not self._stop.is_set():
            if n % 10 == 0:
                pids = descendants()
            n += 1
            self.peak = max(self.peak, tree_rss_bytes(pids))
            self._stop.wait(self.interval)

    def mark(self) -> None:
        """Forget the peak so far."""
        self.peak = 0

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
