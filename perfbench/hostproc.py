"""Process-tree CPU, memory and lifetime, and host context, read from /proc.

psutil is not available, so everything here parses /proc directly. The
process tree is the Spark driver process plus every descendant: the JVM
it launches and the Python worker daemon with its forked workers.
"""

from __future__ import annotations

import ctypes
import os
import signal
import subprocess
import threading
import time

import numpy as np

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
PR_SET_CHILD_SUBREAPER = 36  # <linux/prctl.h>


def stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process exited between listing and reading
        return None
    # comm (field 2) may contain spaces; the fields after it start past ')'
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = stat_fields(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def session_procs(sid: int) -> dict[int, tuple[str, int]]:
    """pid -> (state, ppid) of every process of session sid, zombies
    included. A session, unlike a process group, also holds the PySpark
    daemon, which moves itself into its own process group."""
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = stat_fields(int(name))
            if f is not None and int(f[3]) == sid:
                out[int(name)] = (f[0], int(f[1]))
    return out


def become_subreaper() -> None:
    """Have orphaned descendants reparented to this process instead of to
    init, which need not reap them promptly: a process of a finished run
    (the JVM outlives the Python process that started it by a moment) can
    then be waited for to the end, zombie included."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def reap_session(sid: int, timeout_s: float = 10.0) -> None:
    """Stop every process of session sid and wait until none remains:
    SIGTERM first, SIGKILL for whatever is still alive after timeout_s.
    Zombies reparented to this process (see become_subreaper) are waited
    for here."""
    me = os.getpid()
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid, (state, _) in session_procs(sid).items():
            if state != "Z":
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        deadline = time.monotonic() + timeout_s
        while procs := session_procs(sid):
            for pid, (state, ppid) in procs.items():
                if state == "Z" and ppid == me:
                    try:
                        os.waitpid(pid, 0)
                    except ChildProcessError:
                        pass
            if time.monotonic() > deadline:
                break
            time.sleep(0.1)
        else:
            return


def run_in_session(cmd: list[str], timeout_s: float, **popen_kw) -> int | None:
    """Run cmd as the leader of a new session, wait for it (None on
    timeout), then stop and wait for every process it left in that
    session, whatever it was (the JVM, daemons, forked workers, helpers
    such as multiprocessing's resource tracker)."""
    become_subreaper()
    p = subprocess.Popen(cmd, start_new_session=True, **popen_kw)
    try:
        code = p.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        code = None
        p.kill()
        p.wait()
    finally:
        reap_session(p.pid)
    return code


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


def tree_cpu_by_name(root: int) -> dict[str, float]:
    """CPU seconds of the tree per process name (java, python, ...):
    utime+stime plus the times of children each process has reaped."""
    out: dict[str, float] = {}
    for pid in tree_pids(root):
        f = stat_fields(pid)
        name = _comm(pid)
        if f is not None:
            # fields 14-17 (utime, stime, cutime, cstime), 0-based 11-14 here
            out[name] = out.get(name, 0.0) + sum(int(x) for x in f[11:15]) / _TICK
    return out


def rss_by_pid(pids: list[int]) -> dict[int, int]:
    """Resident bytes per process. A child that shares its parent's
    address space (the JVM starts helpers such as chmod with
    vfork/posix_spawn; until exec they report the JVM's whole RSS as their
    own) is recognised by an identical vsize and an RSS within 1% (the two
    reads are not atomic) and skipped, so the JVM's memory is not counted
    twice."""
    stat = {}
    for pid in pids:
        f = stat_fields(pid)
        if f is not None:
            # ppid, vsize, rss are fields 4, 23, 24 (0-based 1, 20, 21 here)
            stat[pid] = (int(f[1]), int(f[20]), int(f[21]))

    def shares_parent(ppid: int, vsize: int, rss: int) -> bool:
        p = stat.get(ppid)
        return p is not None and p[1] == vsize and abs(p[2] - rss) <= 0.01 * p[2]

    return {pid: rss * _PAGE for pid, (ppid, vsize, rss) in stat.items()
            if not shares_parent(ppid, vsize, rss)}


class RssSampler:
    """Background thread sampling the tree's summed RSS; records the peak,
    and how it splits over process names, only while `active` is set (the
    timed window)."""

    def __init__(self, root: int, period_s: float = 0.05, rescan_s: float = 0.5):
        self.root, self.period_s, self.rescan_s = root, period_s, rescan_s
        self.active = threading.Event()
        self.peak = 0
        self.peak_parts: dict[str, list] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def reset(self) -> None:
        self.peak, self.peak_parts = 0, {}

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        names, scanned = {}, 0.0
        while not self._stop.is_set():
            if self.active.is_set():
                now = time.monotonic()
                if now - scanned > self.rescan_s:
                    names, scanned = {p: _comm(p) for p in tree_pids(self.root)}, now
                rss = rss_by_pid(list(names))
                total = sum(rss.values())
                if total > self.peak:
                    parts: dict[str, list] = {}
                    for pid, b in rss.items():
                        part = parts.setdefault(names[pid], [0, 0.0])
                        part[0] += 1
                        part[1] += b / 2**20
                    self.peak, self.peak_parts = total, parts
            self._stop.wait(self.period_s)


def cpu_times() -> list[int]:
    """Aggregate /proc/stat cpu line: user nice system idle iowait irq
    softirq steal ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    d = [b - a for a, b in zip(before, after)]
    # guest time is already included in user; count the first 8 fields
    total = sum(d[:8])
    return d[7] / total if total > 0 else 0.0


def fresh_write_mbs(mb: int = 160, tries: int = 3) -> float:
    """Host-health canary: MB/s writing freshly allocated pages (healthy
    hosts read GB/s; overcommitted ones have read ~5 MB/s). The block is
    larger than glibc's default mmap threshold, so each try faults new
    pages. Best of `tries`."""
    best = 0.0
    for _ in range(tries):
        a = np.empty(mb << 20, dtype=np.uint8)
        t0 = time.perf_counter()
        a.fill(1)
        best = max(best, mb / (time.perf_counter() - t0))
        del a
    return best
