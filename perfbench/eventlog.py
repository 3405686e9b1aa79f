"""Per-layer Spark metrics read from an uncompressed, non-rolling Spark
event log (`spark.eventLog.compress=false`,
`spark.eventLog.rolling.enabled=false`).

Jobs are attributed by their `spark.job.description`: the benchmark
labels each job `<workload>:<query>:<build|write>`; streaming
micro-batch jobs carry Spark's own `... batch = N` description. A
metric the parser relies on that is missing from a task event raises
`KeyError`, so a rename in Spark fails the run instead of reading 0.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict

# task metrics (Spark 4.1 event-log names) -> unit scale to seconds/bytes
TASK_METRICS = {
    "Executor Run Time": ("run_s", 1e-3),
    "Executor CPU Time": ("cpu_s", 1e-9),
    "JVM GC Time": ("gc_s", 1e-3),
    "Disk Bytes Spilled": ("spill_bytes", 1),
}
SHUFFLE_WRITE = {"Shuffle Bytes Written": ("shuffle_write_bytes", 1)}
SHUFFLE_READ = {
    "Remote Bytes Read": ("shuffle_read_bytes", 1),
    "Local Bytes Read": ("shuffle_read_bytes", 1),
    "Fetch Wait Time": ("fetch_wait_s", 1e-3),
}
# SQL accumulables of Python evaluation nodes (ArrowEvalPython,
# FlatMapGroupsInPandasWithState, ...)
PYTHON_ACCUMS = {
    "time to run Python workers": ("python_run_s", 1e-3),
    "time to start Python workers": ("python_start_s", 1e-3),
    "data sent to Python workers": ("python_bytes_sent", 1),
    "data returned from Python workers": ("python_bytes_returned", 1),
}


def _metric(d: dict, name: str):
    if name not in d:
        raise KeyError(f"Spark event log has no task metric {name!r}; renamed?")
    return d[name]


class EventLog:
    """Jobs, stages and tasks of one application, grouped by job label."""

    def __init__(self, path: str):
        self.job_label: dict[int, str] = {}
        self.job_submit_ms: dict[int, int] = {}
        self.stage_job: dict[int, int] = {}
        self.stage_wall_ms: dict[int, int] = {}
        self.stage_task_run: dict[int, list[float]] = defaultdict(list)
        self.stage_sums: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self.accum_names: set[str] = set()
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            job = e["Job ID"]
            self.job_label[job] = (e.get("Properties") or {}).get("spark.job.description") or ""
            self.job_submit_ms[job] = e["Submission Time"]
            for sid in e["Stage IDs"]:
                self.stage_job[sid] = job
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            if "Submission Time" in info and "Completion Time" in info:
                self.stage_wall_ms[info["Stage ID"]] = (
                    info["Completion Time"] - info["Submission Time"]
                )
        elif kind == "SparkListenerTaskEnd":
            sid = e["Stage ID"]
            tm = e.get("Task Metrics")
            sums = self.stage_sums[sid]
            sums["tasks"] += 1
            if tm is None:  # a failed task reports no metrics
                return
            for name, (key, scale) in TASK_METRICS.items():
                sums[key] += _metric(tm, name) * scale
            for name, (key, scale) in SHUFFLE_WRITE.items():
                sums[key] += _metric(_metric(tm, "Shuffle Write Metrics"), name) * scale
            for name, (key, scale) in SHUFFLE_READ.items():
                sums[key] += _metric(_metric(tm, "Shuffle Read Metrics"), name) * scale
            self.stage_task_run[sid].append(tm["Executor Run Time"] / 1e3)
            for acc in e["Task Info"].get("Accumulables", []):
                self.accum_names.add(acc.get("Name"))
                hit = PYTHON_ACCUMS.get(acc.get("Name"))
                if hit is not None and acc.get("Update") is not None:
                    sums[hit[0]] += float(acc["Update"]) * hit[1]

    def jobs(self, match) -> list[int]:
        """Job ids whose label satisfies `match(label)`."""
        return [j for j, lab in self.job_label.items() if match(lab)]

    def first_submit_ms(self, match) -> int | None:
        subs = [self.job_submit_ms[j] for j in self.jobs(match)]
        return min(subs) if subs else None

    def summary(self, match) -> dict[str, float]:
        """Totals over the jobs whose label satisfies `match`."""
        jobs = set(self.jobs(match))
        stages = [s for s, j in self.stage_job.items() if j in jobs and s in self.stage_sums]
        out: dict[str, float] = defaultdict(float)
        out["jobs"] = len(jobs)
        out["stages"] = len(stages)
        for s in stages:
            for k, v in self.stage_sums[s].items():
                out[k] += v
        timed = [s for s in stages if s in self.stage_wall_ms and self.stage_task_run[s]]
        if timed:
            slowest = max(timed, key=lambda s: self.stage_wall_ms[s])
            runs = self.stage_task_run[slowest]
            med = statistics.median(runs)
            out["task_skew"] = max(runs) / med if med > 0 else 1.0
        return dict(out)
