"""Measurement helpers: percentiles, process-tree RSS, host noise, and the
Spark status REST endpoint."""

from __future__ import annotations

import json
import os
import signal
import statistics
import threading
import time
import urllib.request
from datetime import datetime


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(values: list[float], beyond: int = 10) -> tuple[int, float]:
    """The highest whole percentile that still has ``beyond`` samples
    above it, and its value: (q, value)."""
    n = len(values)
    q = max(50, min(99, int(100 * (1 - beyond / n)))) if n else 50
    return q, percentile(values, q) if n else 0.0


def summary(values: list[float]) -> dict:
    if not values:
        return {"n": 0}
    q, v = tail_percentile(values)
    return {"n": len(values), "p50": statistics.median(values),
            f"p{q}": v, "p90": percentile(values, 90), "max": max(values)}


# -- process-tree RSS ------------------------------------------------------

def _proc_table() -> dict[int, tuple[int, int, int]]:
    """pid → (ppid, pgrp, rss bytes) for every visible process."""
    page = os.sysconf("SC_PAGE_SIZE")
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        out[int(name)] = (int(fields[1]), int(fields[2]), int(fields[21]) * page)
    return out


def tree_pids(root: int, table=None) -> set[int]:
    table = table if table is not None else _proc_table()
    pids, grew = {root}, True
    while grew:
        grew = False
        for pid, (ppid, pgrp, _) in table.items():
            if pid not in pids and (ppid in pids or pgrp == root):
                pids.add(pid)
                grew = True
    return pids & set(table)


def tree_rss(root: int) -> int:
    table = _proc_table()
    return sum(table[p][2] for p in tree_pids(root, table))


def _alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return False
    return stat[stat.rfind(")") + 2] != "Z"


def descendants(root: int | None = None) -> set[int]:
    """Live processes below ``root`` (default: this process), by parent
    link or by membership of a process group that one of them leads
    (``root``'s own group is left out: it may hold the caller's pipeline)."""
    root = os.getpid() if root is None else root
    table = _proc_table()
    pids, grew = set(), True
    while grew:
        grew = False
        for pid, (ppid, pgrp, _) in table.items():
            if pid != root and pid not in pids and (
                    ppid == root or ppid in pids or pgrp in pids):
                pids.add(pid)
                grew = True
    return {p for p in pids if _alive(p)}


def stop_processes(pids: set[int], grace: float = 20.0) -> None:
    """SIGTERM, then SIGKILL, each of ``pids`` that is still alive, and
    wait until none is; zombies that are this process's children are
    reaped."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        live = [p for p in pids if _alive(p)]
        for pid in live:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        end = time.monotonic() + grace
        while live and time.monotonic() < end:
            _reap(pids)
            live = [p for p in live if _alive(p)]
            if live:
                time.sleep(0.05)
        if not live:
            break
    _reap(pids)


def _reap(pids) -> None:
    for pid in pids:
        try:
            os.waitpid(pid, os.WNOHANG)
        except ChildProcessError:
            pass


class RssSampler:
    """Peak RSS of a process tree, sampled on a background thread."""

    def __init__(self, root: int, every: float = 0.2):
        self.root, self.every, self.peak = root, every, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss(self.root))
            self._stop.wait(self.every)

    def __enter__(self):
        self._thread.start()
        return self

    def stop(self) -> None:
        if not self._stop.is_set():
            self._stop.set()
            self._thread.join()
            self.peak = max(self.peak, tree_rss(self.root))

    def __exit__(self, *exc):
        self.stop()


# -- host noise ------------------------------------------------------------

def cpu_ticks() -> list[int] | None:
    try:
        with open("/proc/stat") as fh:
            first = fh.readline().split()
    except OSError:
        return None
    return [int(x) for x in first[1:]] if first and first[0] == "cpu" else None


def host_noise(pre: list[int] | None, post: list[int] | None) -> dict:
    """Steal ticks over busy ticks between two ``cpu_ticks`` snapshots (the
    idea behind bench.py's steal probe), plus the load averages."""
    out = {"loadavg": list(os.getloadavg())}
    if pre and post:
        d = [b - a for a, b in zip(pre, post)]
        user, nice, system, steal = d[0], d[1], d[2], d[7]
        busy = user + nice + system + steal
        out["steal_ratio"] = round(steal / busy, 4) if busy else 0.0
    return out


# -- Spark status REST endpoint -------------------------------------------

class SparkStatus:
    """Job, stage and task counts read from a Spark UI's REST API."""

    def __init__(self, ui_url: str):
        self.base = ui_url.rstrip("/") + "/api/v1"
        self._app = None

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=10) as resp:
            return json.load(resp)

    def jobs(self) -> list[dict]:
        if self._app is None:
            self._app = self._get("/applications")[0]["id"]
        return self._get(f"/applications/{self._app}/jobs")

    def last_job_id(self) -> int:
        return max((j["jobId"] for j in self.jobs()), default=-1)

    def since(self, after_job: int) -> dict:
        """Totals over the jobs with an id above ``after_job``."""
        jobs = [j for j in self.jobs() if j["jobId"] > after_job]
        secs = 0.0
        for j in jobs:
            if j.get("completionTime") and j.get("submissionTime"):
                secs += (_ts(j["completionTime"]) - _ts(j["submissionTime"]))
        return {
            "jobs": len(jobs),
            "stages": sum(j["numCompletedStages"] + j["numFailedStages"] for j in jobs),
            "tasks": sum(j["numCompletedTasks"] + j["numFailedTasks"] for j in jobs),
            "job_s": secs,
        }


def _ts(text: str) -> float:
    return datetime.strptime(text.replace("GMT", "+0000"),
                             "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def wait_until_idle(status: SparkStatus, timeout: float = 10.0) -> None:
    """Wait until no job is running, so counts taken next are complete."""
    end = time.monotonic() + timeout
    while time.monotonic() < end:
        if all(j["status"] != "RUNNING" for j in status.jobs()):
            return
        time.sleep(0.1)
