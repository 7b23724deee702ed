"""Measurement helpers shared by the workloads.

Everything here observes the program from outside: wall clocks, the
process tree's CPU and memory from /proc, the box's CPU steal, and Spark's
own status REST API. Nothing is recorded inside the package.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import time
import urllib.request
from contextlib import contextmanager

_CLK_TCK = os.sysconf("SC_CLK_TCK")

def _rank(n: int, p: float) -> int:
    # the 1e-9 keeps 90% of 100 at rank 90 despite binary rounding
    return max(1, math.ceil(p * n / 100.0 - 1e-9))


def percentile(values, p: float) -> float:
    """Nearest-rank percentile: the smallest value with at least p% of the
    samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    return sorted(values)[_rank(len(values), p) - 1]


def p90_or_zero(values) -> float:
    """p90 when at least ten samples lie beyond it, else 0 (too few
    samples for that tail)."""
    n = len(values)
    if n - _rank(n, 90.0) < 10:
        return 0.0
    return percentile(values, 90.0)


def median(values) -> float:
    s = sorted(values)
    n = len(s)
    if not n:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def settled(prev: float, cur: float, tol: float) -> bool:
    """Warm-up stop rule: two consecutive measurements agree within tol."""
    return abs(cur - prev) <= tol * max(prev, cur)


# ---------------------------------------------------------------- /proc


def _proc_stat(pid: int):
    with open(f"/proc/{pid}/stat") as f:
        raw = f.read()
    # the command name may hold spaces; fields resume after the last ')'
    fields = raw[raw.rindex(")") + 2:].split()
    return int(fields[1]), fields  # ppid, fields from field 3 onwards


def process_tree(root: int | None = None) -> list[int]:
    """The root pid and every live descendant (driver, JVM, python workers)."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            ppid, _ = _proc_stat(int(name))
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User plus system CPU seconds of the live tree, including children
    each member has already reaped."""
    total = 0
    for pid in process_tree(root):
        try:
            _, f = _proc_stat(pid)
        except (OSError, ValueError, IndexError):
            continue
        # utime stime cutime cstime are stat fields 14-17
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _CLK_TCK


def tree_peak_rss_mb(root: int | None = None) -> float:
    """Sum over the live tree of each process's peak resident set (VmHWM)."""
    kb = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


def _cpu_jiffies() -> tuple[int, int]:
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal (guest time is in user)
    return sum(vals[:8]), vals[7]


class PassMeter:
    """Wall, process-tree CPU and box steal across one timed pass."""

    def __enter__(self):
        self.cpu0 = tree_cpu_s()
        self.jif0 = _cpu_jiffies()
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall_s = time.perf_counter() - self.t0
        self.cpu_s = tree_cpu_s() - self.cpu0
        tot1, steal1 = _cpu_jiffies()
        dtot = tot1 - self.jif0[0]
        self.steal_ratio = (steal1 - self.jif0[1]) / dtot if dtot > 0 else 0.0
        self.peak_rss_mb = tree_peak_rss_mb()
        return False


def box_shape(path: str) -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "box.cores": float(os.cpu_count() or 1),
        "box.ram_gb": mem_kb / 1024.0 / 1024.0,
        "box.disk_free_gb": shutil.disk_usage(path).free / 1e9,
    }


# ---------------------------------------------------------------- tracing


class Tracer:
    """In-memory spans: name, start, end, parent span, op id.

    Disabled tracers record nothing and cost one branch per span. The time
    the tracer spends on its own bookkeeping (and on Spark REST harvests
    charged to it) is accumulated in ``overhead_s``.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str, op: str):
        if not self.enabled:
            yield
            return
        t_in = time.perf_counter()
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "op": op,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(sid)
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t_in
        try:
            yield
        finally:
            end = time.perf_counter()
            rec["end"] = end
            self._stack.pop()
            self.overhead_s += time.perf_counter() - end

    def self_times_ms(self) -> dict[str, list[float]]:
        """Per span name, each span's duration minus the part of it that
        its child spans cover (children of one span never overlap)."""
        child_ms = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child_ms[s["parent"]] += (s["end"] - s["start"]) * 1e3
        out: dict[str, list[float]] = {}
        for s in self.spans:
            out.setdefault(s["name"], []).append(
                (s["end"] - s["start"]) * 1e3 - child_ms[s["id"]]
            )
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# ---------------------------------------------------------------- Spark

_STAGE_SUMS = {
    "executorRunTime": "run_ms",
    "executorCpuTime": "cpu_ns",
    "inputBytes": "input_bytes",
    "inputRecords": "input_records",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "numCompleteTasks": "tasks",
    "numFailedTasks": "failed_tasks",
}


class SparkStatus:
    """Per-op Spark costs from the status REST API, keyed by job group."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.sc = sc
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=10) as r:
            return json.load(r)

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def harvest(self, group: str) -> dict:
        """Jobs, stages, tasks and stage metrics of one job group. Waits
        (bounded) for the listener bus to finish recording the group."""
        deadline = time.monotonic() + 5.0
        while True:
            jobs = [j for j in self._get("/jobs") if j.get("jobGroup") == group]
            if all(j["status"] != "RUNNING" for j in jobs) or time.monotonic() > deadline:
                break
            time.sleep(0.02)
        out = {v: 0 for v in _STAGE_SUMS.values()}
        out["jobs"] = len(jobs)
        out["stages"] = 0
        seen = set()
        for j in jobs:
            for sid in j["stageIds"]:
                if sid in seen:
                    continue
                seen.add(sid)
                for attempt in self._get(f"/stages/{sid}"):
                    if attempt["status"] in ("SKIPPED", "PENDING"):
                        continue
                    out["stages"] += 1
                    for k, v in _STAGE_SUMS.items():
                        out[v] += attempt.get(k, 0)
        return out
