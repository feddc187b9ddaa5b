"""Process helpers: host context, peak-RSS sampling, JVM shutdown.

Linux /proc only; on a host without /proc the RSS sampler reports 0 and the
host context holds what it could read.
"""

from __future__ import annotations

import os
import platform
import subprocess
import threading
import time

PAGE = os.sysconf("SC_PAGE_SIZE") if hasattr(os, "sysconf") else 4096


def host_context() -> dict:
    """nproc, CPU model and accumulated steal: context only, never a gate."""
    ctx = {"nproc": os.cpu_count(), "cpu_model": platform.processor() or None,
           "steal_s": steal_s()}
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    ctx["cpu_model"] = line.split(":", 1)[1].strip()
                    break
    except OSError:
        pass
    return ctx


def steal_s() -> float | None:
    """Host vCPU steal accumulated since boot, in seconds."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def _processes() -> dict[int, tuple[int, str]]:
    """{pid: (ppid, command name)} of every visible process."""
    procs = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                # the command name may hold spaces: it is the text
                # between the first '(' and the last ')'
                head, tail = f.read().rsplit(")", 1)
            procs[int(name)] = (int(tail.split()[1]),
                                head.split("(", 1)[1])
        except (OSError, IndexError, ValueError):
            continue
    return procs


def _children(procs: dict | None = None) -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _comm) in (procs or _processes()).items():
        kids.setdefault(ppid, []).append(pid)
    return kids


def tree_rss_bytes(root: int) -> dict[int, int]:
    """RSS per process of the driver ``root``, its JVM and the Python
    workers under the JVM.  Other descendants are skipped: a process the
    JVM forks for a shell command shows the JVM's RSS until it execs."""
    procs = _processes()
    kids = _children(procs)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        ppid, comm = procs.get(pid, (0, ""))
        if not (pid == root or comm.startswith("python")
                or (comm == "java" and ppid == root)):
            continue
        try:
            with open(f"/proc/{pid}/statm") as f:
                out[pid] = int(f.read().split()[1]) * PAGE
        except (OSError, IndexError, ValueError):
            pass
    return out


class RssSampler:
    """Peak of the summed process-tree RSS, sampled on a thread while
    active (``with sampler:`` around each timed section)."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self.at_peak: list[int] = []
        self._on = threading.Event()
        self._quit = threading.Event()
        self._th = threading.Thread(target=self._loop, daemon=True,
                                    name="perfbench-rss")
        self._th.start()

    def _loop(self) -> None:
        while not self._quit.is_set():
            if self._on.wait(0.5):
                try:
                    rss = tree_rss_bytes(os.getpid())
                except OSError:
                    rss = {}
                total = sum(rss.values())
                if total > self.peak:
                    self.peak = total
                    self.at_peak = sorted(rss.values(), reverse=True)
                self._quit.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._on.set()
        return self

    def __exit__(self, *exc) -> None:
        self._on.clear()

    def close(self) -> None:
        self._quit.set()
        self._th.join()


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)
    to exit: closing the gateway's stdin pipe is the JVM's exit signal."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    workers = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    # the worker daemon exits on its own once the JVM is gone; wait for
    # it (and kill a straggler) so no process outlives the benchmark
    deadline = time.time() + 10
    while workers:
        workers = [p for p in workers if _is_alive(p)]
        if workers and time.time() > deadline:
            for p in workers:
                try:
                    os.kill(p, 9)
                except OSError:
                    pass
            deadline = float("inf")
        time.sleep(0.05)


def _descendants(root: int) -> list[int]:
    kids, out, todo = _children(), [], [root]
    while todo:
        for k in kids.get(todo.pop(), ()):
            out.append(k)
            todo.append(k)
    return out


def _is_alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False
