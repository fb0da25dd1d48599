"""Process-tree accounting from /proc (CPU, resident memory, reaping).

Spark's work is spread over the Python process that owns the session,
its JVM and the Python workers the JVM forks, so CPU and memory are
summed over the whole tree below a root pid.
"""

from __future__ import annotations

import ctypes
import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
_PR_SET_CHILD_SUBREAPER = 36


def _stat(pid: int):
    """(ppid, cpu seconds incl. reaped children, rss bytes) or None."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode()
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2:].split()
    # fields[0] is state (stat field 3): utime..cstime are 14..17, rss 24
    cpu = sum(int(x) for x in fields[11:15]) / _TICK
    return int(fields[1]), cpu, int(fields[21]) * _PAGE


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def tree(root: int) -> dict[int, tuple]:
    """{pid: (ppid, cpu_s, rss_bytes)} for ``root`` and all descendants."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo += kids.get(pid, [])
    return out


def _pss_bytes(pid: int, rss: int) -> int:
    """Proportional set size: resident pages, each page shared by n
    processes counted 1/n.  Falls back to RSS when unreadable."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return rss


def tree_cpu_s(root: int) -> float:
    return sum(cpu for _, cpu, _ in tree(root).values())


class TreeSampler:
    """Background sampler of a process tree: peak resident memory and the
    Python workers forked.  Memory is the summed PSS, so the pages forked
    workers share with their daemon count once, however many workers run.
    Reading the PSS of a 2 GB JVM takes ~30 ms of kernel time and holds
    its address-space lock, so the tree is sampled once a second."""

    def __init__(self, root: int, period_s: float = 1.0):
        self.root = root
        self.period_s = period_s
        self.peak_rss_mb = 0.0
        self.worker_pids: set[int] = set()
        self._seen: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def _loop(self):
        while not self._stop.is_set():
            procs = tree(self.root)
            mem = sum(_pss_bytes(p, r) for p, (_, _, r) in procs.items()) / 2**20
            self.peak_rss_mb = max(self.peak_rss_mb, mem)
            for pid, (ppid, _, _) in procs.items():
                if pid in self._seen:
                    continue
                self._seen.add(pid)
                # a worker is a fork of the Python daemon: same command
                # line as its parent
                cmd = _cmdline(pid)
                if "daemon" in cmd and cmd == _cmdline(ppid):
                    self.worker_pids.add(pid)
            self._stop.wait(self.period_s)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs since boot, from /proc/stat:
    steal is time the hypervisor ran something else while a CPU of this
    machine was ready to run."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def become_subreaper() -> None:
    """Adopt orphaned descendants (e.g. a JVM outliving its Python parent)
    so that :func:`reap_all` can wait for them."""
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def reap_all(timeout_s: float) -> int:
    """Wait for every child process to end; kill those still alive after
    ``timeout_s``.  Returns the number killed."""
    deadline = time.monotonic() + timeout_s
    killed = 0
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return killed
        if pid:
            continue
        if time.monotonic() > deadline:
            for p in list(tree(os.getpid())):
                if p != os.getpid():
                    try:
                        os.kill(p, signal.SIGKILL)
                        killed += 1
                    except ProcessLookupError:
                        pass
            deadline = time.monotonic() + timeout_s
        time.sleep(0.05)
