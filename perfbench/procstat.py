"""Readers for /proc: process-tree CPU, resident memory and host state.

The benchmark measures the program from outside, so CPU and memory
come from the kernel's per-process accounting rather than from Spark:
the driver (this Python process), the JVM it launches and the Python
workers the JVM forks are one process tree.
"""

from __future__ import annotations

import os
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # comm may hold spaces and parentheses: split after the last ')'
    head, tail = raw.rsplit(")", 1)
    return [head.split(" (", 1)[1]] + tail.split()


def process_tree(root: int) -> dict[int, dict]:
    """Every live process under ``root`` (itself included): name,
    parent, own plus reaped-children CPU seconds, and a role."""
    procs: dict[int, dict] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                # fields after comm: state(1) ppid(2) ... utime(12) stime(13) cutime(14) cstime(15)
                procs[int(name)] = {
                    "comm": f[0], "ppid": int(f[2]),
                    "cpu": sum(int(x) for x in f[12:16]) / CLK_TCK,
                }
    children: dict[int, list[int]] = {}
    for pid, p in procs.items():
        children.setdefault(p["ppid"], []).append(pid)
    tree, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            tree[pid] = procs[pid]
            todo.extend(children.get(pid, ()))
    for pid, p in tree.items():
        p["role"] = "driver" if pid == root else ("jvm" if p["comm"] == "java" else "python")
    return tree


def end_session(sid: int, timeout_s: float = 30.0) -> None:
    """Kill every process of session ``sid`` and wait until none is
    left (PySpark's worker daemon leaves its parent's process group but
    not its session)."""
    import signal

    deadline = time.monotonic() + timeout_s
    while True:
        pids = [int(n) for n in os.listdir("/proc") if n.isdigit()
                and (f := _stat_fields(int(n))) is not None and int(f[4]) == sid
                and f[1] != "Z"]
        if not pids:
            return
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes {pids} of session {sid} did not end")
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def tree_cpu(root: int) -> dict[str, float]:
    """CPU seconds used so far by the tree under ``root``, split into
    the driver, the JVM and Python workers. A process that has exited
    is counted in its parent's reaped-children time, so differences of
    two readings are exact as long as the parents live on."""
    out = {"driver": 0.0, "jvm": 0.0, "python": 0.0}
    for p in process_tree(root).values():
        out[p["role"]] += p["cpu"]
    out["total"] = out["driver"] + out["jvm"] + out["python"]
    return out


def status_kb(pid: int, key: str) -> int:
    """A ``VmHWM``/``VmRSS``-style field of /proc/<pid>/status in kB."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class WorkerRssSampler:
    """Samples the summed RSS of the Python workers under ``root`` every
    ``interval_s`` on a background thread and keeps the peak. The
    process tree is listed again every ``rescan_s``, which bounds the
    sampler's own CPU use."""

    def __init__(self, root: int, interval_s: float = 0.05, rescan_s: float = 1.0):
        self.root, self.interval_s, self.rescan_s = root, interval_s, rescan_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pids: list[int] = []
        next_scan = 0.0
        while not self._stop.wait(self.interval_s):
            now = time.monotonic()
            if now >= next_scan:
                pids = [pid for pid, p in process_tree(self.root).items() if p["role"] == "python"]
                next_scan = now + self.rescan_s
            self.peak_kb = max(self.peak_kb, sum(status_kb(pid, "VmRSS") for pid in pids))

    def __enter__(self) -> "WorkerRssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def peak_rss_mb(root: int, worker_peak_kb: int) -> dict[str, float]:
    """Driver and JVM high-water marks plus the sampled worker peak."""
    out = {"driver": 0.0, "jvm": 0.0, "python": worker_peak_kb / 1024.0}
    for pid, p in process_tree(root).items():
        if p["role"] != "python":
            out[p["role"]] += status_kb(pid, "VmHWM") / 1024.0
    out["total"] = out["driver"] + out["jvm"] + out["python"]
    return out


def steal_s() -> float:
    """Host-wide stolen CPU seconds since boot (/proc/stat)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / CLK_TCK


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def seconds_since_start(pid: int | None = None) -> float:
    """Seconds since process ``pid`` (default: this one) started."""
    f = _stat_fields(pid or os.getpid())
    with open("/proc/uptime") as u:
        uptime = float(u.read().split()[0])
    return uptime - int(f[20]) / CLK_TCK
