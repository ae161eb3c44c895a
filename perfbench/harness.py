"""Measurement plumbing: timed operations, Spark status-store reads,
process-tree memory, and the statistics the result line reports.

Everything here observes the program from outside: it times calls
into the repository's public functions and reads Spark's own status
store and UDF profiler. Nothing is patched.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import threading
import time
from dataclasses import dataclass, field
from typing import Callable

#: physical operators that run Python code in a worker; a stage whose
#: operation graph holds one of them is a "fit stage"
PYTHON_EXEC_NODES = (
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "MapInPandas",
    "MapInArrow",
    "ArrowEvalPython",
    "BatchEvalPython",
    "AggregateInPandas",
    "WindowInPandas",
)

_MB = 1024.0 * 1024.0


@dataclass
class Request:
    """One operation of a workload.

    ``build`` returns the object ``act`` consumes (a DataFrame for
    queries and trend requests); ``act`` performs the action and
    returns the result ``check`` inspects. ``check`` returns ``None``
    for a right result, else the reason it is wrong."""

    name: str
    kind: str
    build: Callable[[], object]
    act: Callable[[object], object]
    check: Callable[[object], str | None]


@dataclass
class Op:
    """The record of one executed request."""

    name: str
    kind: str
    pass_no: int
    traced: bool
    latency_s: float = 0.0  # charged latency: the penalty when failed
    build_s: float = 0.0
    plan_s: float = 0.0
    error: str | None = None
    result_mb: float = 0.0
    series: int = 0
    owned_caches: int = 0
    layers: dict = field(default_factory=dict)
    spans: list = field(default_factory=list)


# -------------------------------------------------------------- memory


def _tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (the JVM, the Python workers), sampled from ``/proc``."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        total = sum(_rss_kb(p) for p in _tree_pids(os.getpid()))
        self.peak_kb = max(self.peak_kb, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def cpu_times() -> list[int]:
    """The machine's aggregate CPU time counters (``/proc/stat``)."""
    with open("/proc/stat") as fh:
        return [int(v) for v in fh.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between
    two :func:`cpu_times` readings: the host load no run controls."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(1, sum(delta[:8]))


# ------------------------------------------------------- status store


def _opt_ms(option) -> float | None:
    return float(option.get().getTime()) if option.isDefined() else None


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for lo, hi in sorted(intervals):
        if end is None or lo > end:
            total += hi - lo
            end = hi
        elif hi > end:
            total += hi - end
            end = hi
    return total


def group_layers(spark, group: str, action_start_ms: float, action_end_ms: float) -> dict:
    """Job, stage and task figures for one job group, from Spark's
    status store (kept with the UI off)."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(
        (
            "jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms",
            "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "fit_stage_run_ms",
        ),
        0.0,
    )
    intervals: list[tuple[float, float]] = []
    fit_intervals: list[tuple[float, float]] = []
    last_job_end = None
    for job_id in sc.statusTracker().getJobIdsForGroup(group):
        job = store.job(job_id)
        out["jobs"] += 1
        job_end = _opt_ms(job.completionTime())
        if job_end is not None:
            last_job_end = max(last_job_end or job_end, job_end)
        ids = job.stageIds()
        for i in range(ids.size()):
            stage_id = ids.apply(i)
            stage = store.lastStageAttempt(stage_id)
            if stage.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += stage.numTasks()
            run_ms = float(stage.executorRunTime())
            out["executor_run_ms"] += run_ms
            out["executor_cpu_ms"] += stage.executorCpuTime() / 1e6
            out["shuffle_read_mb"] += stage.shuffleReadBytes() / _MB
            out["shuffle_write_mb"] += stage.shuffleWriteBytes() / _MB
            out["spill_mb"] += stage.diskBytesSpilled() / _MB
            fit = _runs_python(store, stage_id)
            if fit:
                out["fit_stage_run_ms"] += run_ms
            lo, hi = _opt_ms(stage.submissionTime()), _opt_ms(stage.completionTime())
            if lo is not None and hi is not None and lo >= action_start_ms:
                intervals.append((lo, hi))
                if fit:
                    fit_intervals.append((lo, hi))
    out["fit_stage_wall_ms"] = _union_ms(fit_intervals)
    out["driver_gap_ms"] = max(0.0, action_end_ms - action_start_ms - _union_ms(intervals))
    out["fetch_ms"] = (
        max(0.0, action_end_ms - last_job_end) if last_job_end is not None else 0.0
    )
    return out


def _runs_python(store, stage_id: int) -> bool:
    todo = [store.operationGraphForStage(stage_id).rootCluster()]
    while todo:
        cluster = todo.pop()
        if cluster.name() in PYTHON_EXEC_NODES:
            return True
        kids = cluster.childClusters()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return False


def udf_profile_ms(spark) -> float:
    """Total time spent inside Python UDF bodies since the last clear,
    from the session's ``perf`` UDF profiler; clears it."""
    results = spark._profiler_collector._perf_profile_results
    spark.profile.clear(type="perf")
    return 1000.0 * sum(stats.total_tt for stats in results.values())


# --------------------------------------------------------- running ops


def run_op(
    spark, req: Request, pass_no: int, traced: bool, penalty_s: float, fault: str | None
) -> tuple[Op, object]:
    """Execute one request, time it, check its output.

    A raised error or a wrong result marks the op failed and charges it
    ``penalty_s`` (or its real time when longer), so a failure can
    never make a pass faster. Checks run after the clock stops."""
    op = Op(req.name, req.kind, pass_no, traced)
    sc = spark.sparkContext
    group = f"p{pass_no}:{req.name}"
    if traced:
        sc.setJobGroup(group, req.name, False)
    result = None
    t0 = time.perf_counter()
    wall0 = time.time()
    t_action = wall_action = None
    try:
        if fault == "raise":
            raise RuntimeError("injected failure")
        built = req.build()
        t1 = time.perf_counter()
        op.build_s = t1 - t0
        if traced and hasattr(built, "_jdf"):
            built._jdf.queryExecution().executedPlan()
            op.plan_s = time.perf_counter() - t1
        t_action, wall_action = time.perf_counter(), time.time()
        result = req.act(built)
    except Exception as exc:  # a failing request is a measured outcome
        first_line = (str(exc).strip().splitlines() or [""])[0]
        op.error = f"{type(exc).__name__}: {first_line[:200]}"
    t_end, wall_end = time.perf_counter(), time.time()
    op.latency_s = t_end - t0
    if traced:
        sc._jsc.clearJobGroup()
    if op.error is None:
        if fault == "wrong":
            result = result.slice(1)
        nbytes = getattr(result, "nbytes", 0)
        op.result_mb = nbytes / _MB if isinstance(nbytes, int) else 0.0
        try:
            op.error = req.check(result)
        except Exception as exc:  # a check that cannot read the output fails the op
            op.error = f"check {type(exc).__name__}: {exc}"[:200]
    if op.error is not None:
        op.latency_s = max(op.latency_s, penalty_s)
    if traced:
        start_ms = 1000.0 * (wall_action if wall_action is not None else wall0)
        op.layers = group_layers(spark, group, start_ms, 1000.0 * wall_end)
        op.layers["udf_python_ms"] = udf_profile_ms(spark)
        fetch_s = op.layers["fetch_ms"] / 1000.0
        op.spans = [
            {"span": "build", "start": wall0, "s": op.build_s},
            {"span": "plan", "start": wall0 + op.build_s, "s": op.plan_s},
            {
                "span": "action",
                "start": wall_action,
                "s": (t_end - t_action if t_action else 0.0) - fetch_s,
            },
            {"span": "fetch", "start": wall_end - fetch_s, "s": fetch_s},
        ]
    return op, result


# ---------------------------------------------------------- statistics


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def tail(values, min_samples: int) -> tuple[float, float, int]:
    """Latency at a tail percentile fixed per workload: the highest
    percentile with at least ten samples above it in a run of
    ``min_samples`` samples (the maximum when that is ten or fewer),
    taken by nearest rank over ``values``. Fixing it by the smallest
    run keeps the percentile from moving with the number of passes.
    Returns ``(percentile, value, samples)``."""
    ordered = sorted(values)
    n = len(ordered)
    if not n:
        return 100.0, 0.0, 0
    pct = 100.0 if min_samples <= 10 else 100.0 * (min_samples - 10) / min_samples
    rank = max(1, math.ceil(pct / 100.0 * n - 1e-9))
    return round(pct, 1), ordered[rank - 1], n


def write_spans(path: str, ops: list[Op]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        for i, op in enumerate(ops):
            if not op.traced:
                continue
            head = {"op": i, "name": op.name, "pass": op.pass_no}
            fh.write(json.dumps({**head, "latency_s": op.latency_s, "layers": op.layers}) + "\n")
            for span in op.spans:
                fh.write(json.dumps({**head, **span}) + "\n")
