"""Process-tree CPU and memory from /proc (psutil is not available).

The tree is this Python process plus every descendant: the driver JVM
that pyspark launches and the Python worker daemon and workers the JVM
forks. CPU of a process that exited counts once its parent reaps it
(it moves into the parent's cutime/cstime), so a sum over live
processes of own + reaped-children time stays monotonic as long as
workers are reaped by a live ancestor, which Spark's worker daemon does.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid):
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may contain spaces and parentheses: split after the last ')'
    f = raw[raw.rfind(b")") + 2:].split()
    # fields from state (index 0 here == field 3 in proc(5))
    return {
        "comm": raw[raw.find(b"(") + 1:raw.rfind(b")")].decode(errors="replace"),
        "ppid": int(f[1]),
        "flags": int(f[6]),
        "utime": int(f[11]), "stime": int(f[12]),
        "cutime": int(f[13]), "cstime": int(f[14]),
        "rss": int(f[21]) * _PAGE,
    }


def tree(root=None):
    """{pid: stat} for ``root`` (default: this process) and descendants."""
    root = root or os.getpid()
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            s = _stat(int(name))
            if s is not None:
                stats[int(name)] = s
    kids = {}
    for pid, s in stats.items():
        kids.setdefault(s["ppid"], []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(kids.get(pid, ()))
    return out


def sample(root=None):
    """-> (user_s, sys_s, rss_bytes) summed over the process tree."""
    t = tree(root)
    u = sum(s["utime"] + s["cutime"] for s in t.values()) / _TICK
    k = sum(s["stime"] + s["cstime"] for s in t.values()) / _TICK
    return u, k, sum(s["rss"] for s in t.values())


_PF_FORKNOEXEC = 0x40  # task flag: forked, has not called exec yet


def jvm_fork_copies(t):
    """Pids in ``t`` that are children of a JVM between fork and exec
    (the JVM starting a process), whose RSS is the JVM's own pages
    counted again."""
    jvms = {pid for pid, s in t.items() if s["comm"] == "java"}
    return {pid for pid, s in t.items()
            if s["ppid"] in jvms and s["flags"] & _PF_FORKNOEXEC}


class PeakRss:
    """Background sampler of the tree's summed RSS (JVM fork copies
    left out); ``peak`` is the maximum seen while running and
    ``at_peak`` the (command, RSS MB) of every process at that moment.
    Use as a context manager."""

    def __init__(self, period=0.05):
        self.period = period
        self.peak = 0
        self.at_peak = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            t = tree()
            for pid in jvm_fork_copies(t):
                del t[pid]
            rss = sum(s["rss"] for s in t.values())
            if rss > self.peak:
                self.peak = rss
                self.at_peak = sorted(((s["comm"], s["rss"] >> 20) for s in t.values()),
                                      key=lambda x: -x[1])
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def descendants():
    return [p for p in tree() if p != os.getpid()]


def wait_gone(pids, timeout=30.0):
    """Wait until none of ``pids`` is alive (zombies count as gone)."""
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        alive = []
        for p in pids:
            try:
                with open(f"/proc/{p}/stat", "rb") as fh:
                    state = fh.read().rsplit(b")", 1)[1].split()[0]
                if state != b"Z":
                    alive.append(p)
            except OSError:
                pass
        if not alive:
            return True
        time.sleep(0.1)
    return False
