"""Shared measurement helpers: spans, percentiles, host CPU counters,
process memory."""

from __future__ import annotations

import contextlib
import os
import signal
import statistics
import time

now = time.time  # wall clock shared across processes (spans cross pq/shim)

# About how long one warm round of each workload takes on a 4-core host
# (s).  A run measures round(--seconds / ROUND_S) whole rounds, at least
# one: a fixed amount of work, not a clock cut-off, keeps the operation
# mix, and with it the statistics, the same on fast and slow hosts.
ROUND_S = {"cli_cold": 25.0, "prql_warm": 7.5, "curate_batch": 15.0}


def rounds(workload: str, seconds: float) -> int:
    return max(1, round(seconds / ROUND_S[workload]))


class Spans:
    """(layer, start, end) records of one operation.  A span's self time
    is its duration minus the spans directly nested in it, so the self
    times of an operation's spans add up to its root span."""

    def __init__(self):
        self.items: list[list] = []

    def add(self, layer: str, t0: float, t1: float) -> None:
        self.items.append([layer, t0, t1])

    @contextlib.contextmanager
    def span(self, layer: str):
        t0 = now()
        try:
            yield
        finally:
            self.add(layer, t0, now())


def self_times(items: list[list]) -> dict[str, float]:
    """Layer -> summed self time (ms) over properly nested spans."""
    order = sorted(items, key=lambda s: (s[1], -s[2]))
    out: dict[str, float] = {}
    stack: list[list] = []
    for layer, t0, t1 in order:
        while stack and t0 >= stack[-1][2] - 1e-9:
            stack.pop()
        d = (t1 - t0) * 1000
        out[layer] = out.get(layer, 0.0) + d
        if stack:
            parent = stack[-1][0]
            out[parent] = out.get(parent, 0.0) - d
        stack.append([layer, t0, t1])
    return out


def p50(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs) -> tuple[float, float, int]:
    """(value, percentile, samples beyond): the highest order statistic with
    at least ten samples above it.  Below twenty samples that statistic
    would sit under the median, so the tail is then the maximum
    (percentile 100, none beyond)."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return 0.0, 0.0, 0
    if n < 20:
        return s[-1], 100.0, 0
    return s[n - 11], 100.0 * (n - 10) / n, 10


def dataframe_class():
    """The DataFrame class whose actions run (Spark 4 splits the public
    class from the classic, py4j-backed implementation)."""
    try:
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:
        from pyspark.sql import DataFrame
    return DataFrame


# ---- Spark-side counts (traced runs)


def plan_exchanges(df) -> int:
    """Force physical planning of ``df`` (the action reuses the plan) and
    return the number of Exchange nodes in the executed plan."""
    plan = df._jdf.queryExecution().executedPlan()
    return sum(1 for ln in plan.toString().splitlines()
               if "Exchange " in ln and "ReusedExchange" not in ln)


def settle(sc) -> None:
    """Let the status store catch up with the last job ends."""
    try:
        sc._jsc.sc().listenerBus().waitUntilEmpty(10000)
    except Exception:  # noqa: BLE001 - best effort
        pass


def job_counts(sc, group: str) -> dict:
    """Jobs, stages, tasks and failed tasks of one job group, from the
    status tracker."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = failed = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for sid in (info.stageIds if info else []):
            s = st.getStageInfo(sid)
            if s:
                stages += 1
                tasks += s.numTasks
                failed += s.numFailedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed": failed}


# ---- host counters from /proc


def cpu_times() -> list[int]:
    """The machine-wide CPU time counters of /proc/stat, user to steal."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return [0] * 8


def steal_pct(t0: list[int], t1: list[int]) -> float:
    """The share of CPU time between two cpu_times() samples that the
    hypervisor gave to other guests (0 on bare metal)."""
    d = [b - a for a, b in zip(t0, t1)]
    return 100.0 * d[7] / sum(d) if sum(d) > 0 else 0.0


# ---- memory high-water marks from /proc


def vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def children(pid: int) -> list[int]:
    out = []
    try:
        for task in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{task}/children") as f:
                out.extend(int(x) for x in f.read().split())
    except OSError:
        pass
    return out


def group_members(pgid: int) -> list[int]:
    """Live processes of a process group (the children the benchmark
    started in their own session)."""
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            if int(fields[2]) == pgid and fields[0] != "Z":
                out.append(int(d))
        except (OSError, IndexError, ValueError):
            continue
    return out


def reap(pgid: int, grace: float = 0.0) -> None:
    """Wait up to ``grace`` seconds for a process group to end, then stop
    what is left of it and wait until it is gone."""
    end = time.time() + grace
    while group_members(pgid) and time.time() < end:
        time.sleep(0.02)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        if not group_members(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        end = time.time() + 10
        while group_members(pgid) and time.time() < end:
            time.sleep(0.05)
