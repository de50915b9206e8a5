"""Measurement from outside the package: the benchmark's own process tree
read from ``/proc``, and Spark's status REST API (``{sc.uiWebUrl}/api/v1``).
"""

from __future__ import annotations

import json
import os
import time
import urllib.parse
import urllib.request

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # Fields after the parenthesised command name, which may hold spaces.
    return s[s.rindex(")") + 2 :].split()


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu() -> float:
    """CPU seconds (user + system, including reaped children) of the
    process tree."""
    total = 0
    for pid in tree_pids():
        st = _stat(pid)
        if st is not None:
            # utime stime cutime cstime (fields 14-17 of proc(5)).
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def _cmdline(pid: int) -> bytes:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read()
    except OSError:
        return b""


def tree_peak_rss_mb() -> float:
    """Sum of the kernel's resident-memory high-water mark (VmHWM) over
    the driver process and its JVM: no sampling, so nothing runs beside
    the work. Spark's forked Python workers are left out; how many are
    alive when it is read varies from run to run."""
    total = 0
    for pid in tree_pids():
        if b"pyspark.daemon" in _cmdline(pid):
            continue
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1e3


class Status:
    """Spark's status REST API for the live application.

    The listener bus is asynchronous, so ``settle`` waits until every job
    started so far has finished before a caller reads stage metrics."""

    def __init__(self, sc):
        port = urllib.parse.urlparse(sc.uiWebUrl).port
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def jobs(self) -> list[dict]:
        return self.get("/jobs")

    def settle(self, timeout: float = 10.0) -> list[dict]:
        deadline = time.monotonic() + timeout
        while True:
            jobs = self.jobs()
            if all(j["status"] != "RUNNING" for j in jobs) or time.monotonic() > deadline:
                return jobs
            time.sleep(0.02)

    def mark(self) -> int:
        """Highest job id so far (-1 if none)."""
        return max((j["jobId"] for j in self.settle()), default=-1)

    def since(self, mark: int) -> tuple[list[dict], list[dict]]:
        """(jobs, completed stages) of the jobs started after ``mark``."""
        jobs = [j for j in self.settle() if j["jobId"] > mark]
        ids = {s for j in jobs for s in j["stageIds"]}
        if not ids:
            return jobs, []
        lo = min(ids)
        stages = [
            s
            for s in self.get("/stages")
            if s["stageId"] >= lo and s["stageId"] in ids and s["status"] == "COMPLETE"
        ]
        return jobs, stages

    def cached_mb(self) -> float:
        return sum(r["memoryUsed"] + r["diskUsed"] for r in self.get("/storage/rdd")) / 1e6


def stage_totals(stages: list[dict]) -> dict[str, float]:
    def tot(key: str) -> float:
        return float(sum(s.get(key, 0) for s in stages))

    return {
        "stages": len(stages),
        "tasks": tot("numCompleteTasks"),
        "run_s": tot("executorRunTime") / 1e3,
        "task_cpu_s": tot("executorCpuTime") / 1e9,
        "gc_s": tot("jvmGcTime") / 1e3,
        "shuffle_mb": tot("shuffleWriteBytes") / 1e6,
        "spill_mb": (tot("memoryBytesSpilled") + tot("diskBytesSpilled")) / 1e6,
        "input_mb": tot("inputBytes") / 1e6,
        "output_mb": tot("outputBytes") / 1e6,
    }
