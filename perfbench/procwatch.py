"""Peak memory of a process tree, sampled from ``/proc`` while it runs.

The job's driver is a Python process whose child is the JVM; the Python
workers are descendants of the JVM.  VmHWM (peak resident set) is tracked
separately for the JVM and for the workers, because the JVM's figure follows
its heap ceiling, a setting, and not the program's memory.

The same ``/proc`` walk stops strays: pyspark's worker daemon moves itself
into a process group of its own, so stopping the job's group misses it.
``adopt_orphans`` makes the benchmark the subreaper of everything it starts,
and ``stop_descendants`` ends and reaps whatever is left under it.
"""

from __future__ import annotations

import ctypes
import os
import signal
import time
import threading
from typing import Dict, List

PR_SET_CHILD_SUBREAPER = 36


def _children(pid: int) -> List[int]:
    out: List[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except (OSError, ValueError):
        pass
    return out


def descendants(pid: int) -> List[int]:
    """Every process below ``pid``, parents before their children."""
    out: List[int] = []
    stack = _children(pid)
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(_children(p))
    return out


def adopt_orphans() -> None:
    """Re-parent to this process, not to init, every process it started
    whose parent ends first, so ``stop_descendants`` still finds it."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        err = ctypes.get_errno()
        raise OSError(err, f"prctl(PR_SET_CHILD_SUBREAPER): {os.strerror(err)}")


def reap_orphans(keep: int = 0) -> None:
    """Reap the ended children of this process, except ``keep``, whose
    exit status its ``Popen`` handle will read.  An adopted process that has
    ended stays a zombie, still a member of its group, until reaped."""
    for pid in _children(os.getpid()):
        if pid == keep:
            continue
        try:
            os.waitpid(pid, os.WNOHANG)
        except ChildProcessError:
            pass


def _live(pids: List[int]) -> List[int]:
    """``pids`` less the zombies, which only wait to be reaped."""
    out = []
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                state = f.read().rsplit(")", 1)[1].split()[0]
        except (OSError, IndexError):
            continue
        if state != "Z":
            out.append(pid)
    return out


def stop_descendants(grace: float = 5.0) -> None:
    """End every process below this one (SIGTERM, then SIGKILL after
    ``grace`` seconds) and wait until none is left.  Only for moments when
    no ``subprocess``/``multiprocessing`` handle is still waiting on one of
    them: the processes are reaped here."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        pids = _live(descendants(os.getpid()))
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + grace
        while pids and time.monotonic() < deadline:
            reap_orphans()
            pids = _live(descendants(os.getpid()))
            if pids:
                time.sleep(0.02)
        if not pids:
            break
    while True:
        reap_orphans()
        left = descendants(os.getpid())
        if not left:
            return
        time.sleep(0.02)


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except (OSError, ValueError):
        pass
    return 0.0


class TreeWatch:
    """Samples the tree under ``root_pid`` every ``interval`` seconds."""

    def __init__(self, root_pid: int, interval: float = 0.05):
        self.root_pid = root_pid
        self.interval = interval
        self.worker_hwm: Dict[int, float] = {}
        self.jvm_hwm: Dict[int, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def _sample(self) -> None:
        stack = [(c, False) for c in _children(self.root_pid)]
        while stack:
            pid, under_jvm = stack.pop()
            comm = _comm(pid)
            if comm == "java":
                self.jvm_hwm[pid] = max(self.jvm_hwm.get(pid, 0.0), _hwm_mb(pid))
                under_jvm = True
            elif under_jvm and comm.startswith("python"):
                self.worker_hwm[pid] = max(
                    self.worker_hwm.get(pid, 0.0), _hwm_mb(pid)
                )
            stack.extend((c, under_jvm) for c in _children(pid))

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    @property
    def worker_peak_mb(self) -> float:
        return max(self.worker_hwm.values(), default=0.0)

    @property
    def jvm_peak_mb(self) -> float:
        return max(self.jvm_hwm.values(), default=0.0)
