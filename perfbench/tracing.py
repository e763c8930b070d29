"""Spans, Spark job accounting, event-log parsing and the machine record.

Everything here observes the engine from outside: spans are opened by the
benchmark around its calls into the engine, each span gets its own Spark
job group when tracing is on, and job/stage counts come from the
SparkContext status tracker. Shuffle bytes, result bytes and job intervals
come from the Spark event log, which the traced run enables for its own
session only; CPU comes from /proc for the whole process tree, because the
event log's executor CPU time does not see the Python workers.
"""

from __future__ import annotations

import json
import os
import resource
import signal
import subprocess
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

import numpy as np

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def ncpus() -> int:
    return len(os.sched_getaffinity(0))


def driver_rss_peak_mb() -> float:
    """Peak resident set of this Python driver process (ru_maxrss is KiB)."""
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def _proc_table() -> tuple[dict[int, int], dict[int, float]]:
    """(parent pid, CPU seconds incl. reaped children) for every process."""
    parent: dict[int, int] = {}
    cpu: dict[int, float] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        fields = stat[stat.rindex(")") + 2 :].split()
        pid = int(name)
        parent[pid] = int(fields[1])
        cpu[pid] = sum(int(v) for v in fields[11:15]) / _CLK_TCK
    return parent, cpu


def _descendants(parent: dict[int, int]) -> set[int]:
    me = os.getpid()
    out = set()
    for pid in parent:
        p = pid
        while p > 1 and p != me:
            p = parent.get(p, 0)
        if p == me and pid != me:
            out.add(pid)
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) of this process
    and every descendant: the Spark JVM and its Python workers in local
    mode."""
    parent, cpu = _proc_table()
    return sum(cpu[p] for p in _descendants(parent) | {os.getpid()})


def _running(pid: int) -> bool:
    """The process exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, then the JVM it launched, and wait until every
    process started under this one (the JVM and its Python workers) has
    ended; kill what is still alive after ``timeout``."""
    from pyspark import SparkContext

    pids = _descendants(_proc_table()[0])
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.terminate()
        try:
            gateway.proc.wait(timeout)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()
    deadline = time.monotonic() + timeout
    while True:
        alive = {p for p in pids if _running(p)}
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            return
        time.sleep(0.1)


def machine_state(spark=None) -> dict:
    """Diagnostic record of the machine a run saw. Never used to rescale a
    metric: a CPU probe sized to nproc, load average, nproc, total memory,
    the CPU time and steal time counters of /proc/stat and the Spark
    driver-memory setting."""
    n = ncpus()

    def probe(_):
        rng = np.random.default_rng(0)
        a = rng.random(200_000)
        t0 = time.perf_counter()
        for _ in range(20):
            np.sort(a)
        return time.perf_counter() - t0

    with ThreadPoolExecutor(n) as ex:
        t0 = time.perf_counter()
        per_thread = list(ex.map(probe, range(n)))
        probe_s = time.perf_counter() - t0
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    with open("/proc/stat") as f:
        ticks = [int(v) for v in f.readline().split()[1:]]
    return {
        "nproc": n,
        "loadavg": list(os.getloadavg()),
        "mem_total_gb": round(mem_kb / 1024 / 1024, 2),
        "cpu_probe_s": probe_s,
        "cpu_probe_thread_median_s": float(np.median(per_thread)),
        # cumulative since boot, all CPUs; steal is time the host ran
        # something else while a virtual CPU of this machine wanted to run
        "cpu_total_s": sum(ticks) / _CLK_TCK,
        "cpu_steal_s": ticks[7] / _CLK_TCK if len(ticks) > 7 else 0.0,
        "spark_driver_memory": (
            spark.conf.get("spark.driver.memory", None) if spark else None
        ),
    }


class Tracer:
    """Flat spans around calls into the engine. Every span records its wall
    interval; with ``enabled`` it also runs under its own job group, so the
    jobs and stages it started can be counted from the status tracker, and
    records the CPU its process tree used. Spans never overlap, so event-log
    jobs are matched to them by submission time."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str):
        rec = {"name": name, "group": f"{name}#{len(self.spans)}"}
        if self.enabled:
            self.sc.setJobGroup(rec["group"], name)
            cpu0 = tree_cpu_s()
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            rec["wall_s"] = rec["end"] - rec["start"]
            if self.enabled:
                rec["cpu_s"] = tree_cpu_s() - cpu0
                st = self.sc.statusTracker()
                jobs = list(st.getJobIdsForGroup(rec["group"]))
                stages = set()
                for j in jobs:
                    info = st.getJobInfo(j)
                    if info is not None:
                        stages.update(info.stageIds)
                rec["job_ids"] = sorted(jobs)
                rec["jobs"] = len(jobs)
                rec["stages"] = len(stages)
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)

    def last(self, name: str) -> dict:
        return [s for s in self.spans if s["name"] == name][-1]


def read_event_log(log_dir: str) -> dict:
    """Parse the session's Spark event log into per-job records:
    {job_id: {start, end, shuffle_bytes, result_bytes}}. Times are epoch
    seconds. Tasks are attributed to the latest job that lists their stage
    and started before the task."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    files = [f for f in files if os.path.isfile(f) and not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}: {files}")
    jobs: dict[int, dict] = {}
    stage_jobs: dict[int, list[int]] = {}
    tasks = []
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {
                    "start": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "shuffle_bytes": 0,
                    "result_bytes": 0,
                }
                for s in ev.get("Stage IDs", []):
                    stage_jobs.setdefault(s, []).append(jid)
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                tasks.append(ev)
    for ev in tasks:
        launch = ev["Task Info"]["Launch Time"] / 1000.0
        owners = [
            j for j in stage_jobs.get(ev["Stage ID"], []) if jobs[j]["start"] <= launch
        ]
        if not owners:
            continue
        rec = jobs[max(owners)]
        m = ev.get("Task Metrics") or {}
        rec["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        rec["result_bytes"] += m.get("Result Size", 0)
    return jobs


def interval_totals(jobs: dict, start: float, end: float) -> dict:
    """Sums over the event-log jobs submitted within [start, end]."""
    mine = [j for j in jobs.values() if start <= j["start"] <= end]
    return {
        "shuffle_bytes": sum(j["shuffle_bytes"] for j in mine),
        "result_bytes": sum(j["result_bytes"] for j in mine),
    }


def job_busy_s(jobs: dict, start: float, end: float) -> float:
    """Length of the union of job intervals clipped to [start, end]."""
    iv = sorted(
        (max(j["start"], start), min(j["end"], end))
        for j in jobs.values()
        if j["end"] is not None and j["end"] > start and j["start"] < end
    )
    busy, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                busy += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        busy += cur_e - cur_s
    return busy
