"""Measurement helpers that read the system from outside: the process tree
in /proc, Spark's status store and QueryExecution tracker, and streaming
progress events. Nothing here changes what the program does."""

from __future__ import annotations

import ast
import contextlib
import datetime
import json
import math
import os
import threading
import time

import numpy as np

_TICK = os.sysconf("SC_CLK_TCK")
RSS_SAMPLE_S = 0.25  # process-tree memory sampling interval
STEAL_LIMIT = 0.05  # share of CPU time taken by the hypervisor that flags a run
JOB_WAIT_S = 10.0  # longest wait for the status store to record job ends


# ---------------------------------------------------------------------------
# Summaries
# ---------------------------------------------------------------------------


def median(xs) -> float:
    return float(np.median(np.asarray(xs, dtype=np.float64)))


def tail_percentile(n: int) -> float | None:
    """The highest of p99/p95/p90/p50 that has at least ten samples beyond
    it in ``n`` samples, or None."""
    for p in (99.0, 95.0, 90.0, 50.0):
        if n * (100.0 - p) / 100.0 >= 10:
            return p
    return None


def summarize(xs) -> dict:
    """Median, the supported tail percentile and the sample count."""
    a = np.asarray(xs, dtype=np.float64)
    p = tail_percentile(len(a))
    return {
        "n": int(len(a)),
        "p50": float(np.median(a)) if len(a) else math.nan,
        "tail_pct": p,
        "tail": float(np.percentile(a, p)) if p is not None else float(a.max()) if len(a) else math.nan,
    }


# ---------------------------------------------------------------------------
# Process tree: CPU and peak RSS from /proc
# ---------------------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _tree(root: int, exclude: set[int]) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in exclude:
            continue
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _cpu_ticks(pid: int) -> int:
    """utime + stime + reaped children's cutime + cstime."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            fields = f.read().rsplit(b")", 1)[1].split()
    except OSError:
        return 0
    return sum(int(x) for x in fields[11:15])


def _pss_kb(pid: int) -> tuple[str, int]:
    """(process name, Pss kB); 0 for a process that is gone. Pss splits each
    shared page among the processes that map it, so a summed tree counts a
    forked child's copy-on-write pages (the Python workers forked from their
    daemon, a short-lived fork of the JVM) once, where VmRSS would count
    them in every process."""
    try:
        with open(f"/proc/{pid}/comm", encoding="utf-8") as f:
            name = f.read().strip()
        with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
            for line in f:
                if line.startswith(b"Pss:"):
                    return name, int(line.split()[1])
    except OSError:
        pass
    return "?", 0


class ProcTree:
    """CPU seconds and peak RSS of this process and its descendants (this
    Python process, the JVM and the Python workers), excluding the load
    generator. A sampler thread records the summed Pss inside ``window()``,
    the timed region, so set-up and the correctness check do not count."""

    def __init__(self):
        self._root = os.getpid()
        self.exclude: set[int] = set()
        self._peak_kb = 0
        self.peak_parts: dict[str, int] = {}  # kB per process name at the peak
        self.samples: list[tuple[float, int]] = []  # (perf_counter, summed kB)
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def cpu_s(self) -> float:
        return sum(_cpu_ticks(p) for p in _tree(self._root, self.exclude)) / _TICK

    def _sample(self) -> None:
        parts: dict[str, int] = {}
        for p in _tree(self._root, self.exclude):
            name, kb = _pss_kb(p)
            parts[name] = parts.get(name, 0) + kb
        total = sum(parts.values())
        self.samples.append((time.perf_counter(), total))
        if total > self._peak_kb:
            self._peak_kb, self.peak_parts = total, parts

    def _loop(self) -> None:
        while not self._stop.wait(RSS_SAMPLE_S):
            self._sample()

    def start_window(self) -> None:
        self._sample()
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop_window(self) -> None:
        if self._thread is not None:
            self._stop.set()
            self._thread.join()
            self._thread = None
            self._sample()

    @contextlib.contextmanager
    def window(self):
        self.start_window()
        try:
            yield self
        finally:
            self.stop_window()

    def peak_rss_mb(self, ops: list[tuple[float, float]]) -> float:
        """Median over the timed operations (perf_counter intervals) of the
        largest sample inside each; one pass or batch that meets a worker
        fork or a heap expansion does not set the figure. Without
        operations, the largest sample of the window."""
        peaks = [max(kb for t, kb in self.samples if a <= t <= b) for a, b in ops
                 if any(a <= t <= b for t, _ in self.samples)]
        return (median(peaks) if peaks else self._peak_kb) / 1024.0


def calibration_probe() -> float:
    """Seconds for a fixed pure-Python workload, best of three; compared
    across runs, and between the start and end of one run, it flags a
    contended host."""
    best = math.inf
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(1_000_000):
            acc += i * i % 7
        best = min(best, time.perf_counter() - t0)
    return best


def _cpu_and_steal_ticks() -> tuple[int, int]:
    """All CPU ticks of the machine and those the hypervisor gave to other
    guests (steal), from /proc/stat."""
    with open("/proc/stat", encoding="ascii") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return sum(ticks), ticks[7]


def host_state() -> dict:
    return {
        "calib_probe_s": round(calibration_probe(), 4),
        "loadavg_1m": os.getloadavg()[0],
        "cpus": len(os.sched_getaffinity(0)),
        "cpu_steal_ticks": _cpu_and_steal_ticks(),
    }


def contention(start: dict, end: dict) -> str | None:
    """Why a run was contended, or None; ``tools/bench_compare.py``'s rule:
    the end probe is more than 1.3x slower than the start probe, or the
    1-minute load average at the start exceeds the CPU count. A faster end
    probe is warm-up, not contention. On a virtual machine the hypervisor
    can also take CPU time from the guest (steal) without either showing
    it."""
    drift = end["calib_probe_s"] / start["calib_probe_s"]
    if drift > 1.3:
        return f"calibration probe drifted {drift:.2f}x"
    if start["loadavg_1m"] > start["cpus"]:
        return f"loadavg {start['loadavg_1m']:.2f} > {start['cpus']} cpus at start"
    (c0, s0), (c1, s1) = start["cpu_steal_ticks"], end["cpu_steal_ticks"]
    steal = (s1 - s0) / max(c1 - c0, 1)
    if steal > STEAL_LIMIT:
        return f"hypervisor took {steal:.0%} of CPU time (steal)"
    return None


# ---------------------------------------------------------------------------
# Spark status store (works with spark.ui.enabled=false)
# ---------------------------------------------------------------------------


def group_stages(spark, groups: list[str]) -> tuple[int, set[int]]:
    """Job count and stage ids of the jobs started under ``groups``."""
    tracker = spark.sparkContext.statusTracker()
    jobs = [j for g in groups for j in tracker.getJobIdsForGroup(g)]
    stages: set[int] = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    return len(jobs), stages


def job_wall_s(spark, group: str) -> float:
    """Seconds covered by the jobs of job group ``group``: the union of
    their submission -> completion intervals in the status store. Waits
    for the listener bus to record the completions."""
    store = _store(spark)
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup(group)
    deadline = time.monotonic() + JOB_WAIT_S
    while True:
        jobs = [store.job(j) for j in ids]
        if all(d.completionTime().isDefined() for d in jobs) or time.monotonic() > deadline:
            break
        time.sleep(0.05)
    spans = sorted((d.submissionTime().get().getTime(), d.completionTime().get().getTime())
                   for d in jobs if d.submissionTime().isDefined() and d.completionTime().isDefined())
    total_ms, reach = 0, None
    for lo, hi in spans:
        lo = lo if reach is None else max(lo, reach)
        total_ms += max(0, hi - lo)
        reach = hi if reach is None else max(reach, hi)
    return total_ms / 1e3


def _store(spark):
    return spark.sparkContext._jsc.sc().statusStore()


def job_and_stage_ids(spark) -> tuple[set[int], set[int]]:
    """Every job id and stage id the status store holds now; the difference
    of two snapshots is what ran in between (streaming jobs run on the
    query's own thread, outside any job group set here)."""
    jvm = spark.sparkContext._jvm
    jobs = _store(spark).jobsList(jvm.java.util.ArrayList())
    stages = set()
    job_ids = set()
    for i in range(jobs.size()):
        j = jobs.apply(i)
        job_ids.add(j.jobId())
        ids = j.stageIds()
        stages.update(ids.apply(k) for k in range(ids.size()))
    return job_ids, stages


def stage_metrics(spark, jobs: int, stage_ids: set[int]) -> dict:
    """Executor-side totals over ``stage_ids`` from the status store."""
    sc = spark.sparkContext
    jvm = sc._jvm
    quantiles = sc._gateway.new_array(jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    stages = _store(spark).stageList(
        jvm.java.util.ArrayList(), False, True, quantiles, jvm.java.util.ArrayList()
    )
    out = dict(jobs=jobs, stages=0, tasks=0, run_s=0.0, cpu_s=0.0, gc_s=0.0,
               shuffle_read_mb=0.0, shuffle_write_mb=0.0, input_mb=0.0, spill_mb=0.0)
    skews = []
    for i in range(stages.size()):
        s = stages.apply(i)
        if s.stageId() not in stage_ids:
            continue
        out["stages"] += 1
        out["tasks"] += s.numCompleteTasks()
        out["run_s"] += s.executorRunTime() / 1e3
        out["cpu_s"] += s.executorCpuTime() / 1e9
        out["gc_s"] += s.jvmGcTime() / 1e3
        out["shuffle_read_mb"] += s.shuffleReadBytes() / 2**20
        out["shuffle_write_mb"] += s.shuffleWriteBytes() / 2**20
        out["input_mb"] += s.inputBytes() / 2**20
        out["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 2**20
        dist = s.taskMetricsDistributions()
        if dist.isDefined():
            q = dist.get().executorRunTime()
            med, top = q.apply(0), q.apply(1)
            if med > 0:
                skews.append(top / med)
    out["task_skew"] = max(skews) if skews else 1.0
    return out


def catalyst_phases(df) -> dict:
    """analysis / optimization / planning ms of ``df``'s QueryExecution,
    forcing the physical plan first (the tracker only holds analysis until
    then)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    out = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = float(kv._2().durationMs())
    return out


# ---------------------------------------------------------------------------
# Streaming progress events
# ---------------------------------------------------------------------------

PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")


def _epoch(ts: str) -> float:
    return datetime.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _offsets(v) -> dict[str, int]:
    """A source offset as reported: a dict, JSON text, or a Python dict
    repr (Python data sources); None/"None" before the first batch."""
    if v is None or v == "None":
        return {}
    if isinstance(v, str):
        try:
            v = json.loads(v)
        except ValueError:
            v = ast.literal_eval(v)
    return {k: int(x) for k, x in v.items()}


def batches(progress: list) -> list[dict]:
    """Flatten progress events into plain dicts with start/end epoch
    seconds, per-phase ms and per-partition offsets."""
    out = []
    for p in progress:
        d = p["durationMs"]
        src = p["sources"][0]
        t0 = _epoch(p["timestamp"])
        out.append({
            "batch": p["batchId"],
            "rows": p["numInputRows"],
            "start": t0,
            "end": t0 + d.get("triggerExecution", 0) / 1e3,
            "trigger_ms": float(d.get("triggerExecution", 0)),
            "phases": {k: float(d.get(k, 0)) for k in PHASES},
            "start_offsets": _offsets(src["startOffset"]),
            "end_offsets": _offsets(src["endOffset"]),
            "latest_offsets": _offsets(src["latestOffset"]),
        })
    return out


def commit_times(bs: list[dict], part_key: str, offsets: np.ndarray) -> np.ndarray:
    """End time of the first batch whose end offset on ``part_key`` covers
    each message offset (NaN if no batch covered it)."""
    ends = np.array([b["end_offsets"].get(part_key, 0) for b in bs], dtype=np.int64)
    times = np.array([b["end"] for b in bs])
    # end offsets are non-decreasing across batches
    idx = np.searchsorted(ends, offsets, side="right")
    out = np.full(len(offsets), np.nan)
    ok = idx < len(bs)
    out[ok] = times[idx[ok]]
    return out
