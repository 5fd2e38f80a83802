"""Per-layer metrics of a traced run.

Sources, all Spark built-ins read from outside the program:

- the uncompressed JSON event log (jobs, stages, tasks and their
  metrics, the SQL metrics of the Python exec nodes);
- the micro-batch progress a ``StreamingQueryListener`` recorded;
- the worker's own spans around each call into a layer.

Every figure is taken over the measured warm passes (those after the
warm-up) and divided by their count, so it reads "per warm pass", like
``wall_s``. Jobs, stages and tasks are attributed to a pass or query by
time: the run is a closed loop, so everything submitted inside a span
belongs to it, including the micro-batch jobs of a streaming drain,
which run on the stream's own thread outside the caller's job group.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

from workloads import MR_JOBS


class ProgressListener(StreamingQueryListener):
    """Keeps every micro-batch progress record of the session."""

    def __init__(self):
        self.records: list[dict] = []
        self.started = 0
        self.terminated = 0
        self._lock = threading.Lock()

    def onQueryStarted(self, event):
        with self._lock:
            self.started += 1

    def onQueryProgress(self, event):
        rec = json.loads(event.progress.json)
        with self._lock:
            self.records.append(rec)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._lock:
            self.terminated += 1

    def wait_idle(self, timeout: float = 10.0) -> None:
        """Listener events arrive asynchronously; wait until every
        started query has reported its termination."""
        deadline = time.time() + timeout
        while time.time() < deadline:
            with self._lock:
                if self.terminated >= self.started:
                    return
            time.sleep(0.05)


# Per-layer metric names, units and directions; BENCHMARK.json lists
# the same set.
PER_LAYER: dict[str, tuple[str, str]] = {
    "session.start_s": ("s", "lower"),
    "session.first_pass_s": ("s", "lower"),
    "driver.peak_rss_mb": ("MB", "lower"),
    "queries.build_s": ("s", "lower"),
    "queries.exec_s": ("s", "lower"),
    "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.sched_gap_s": ("s", "lower"),
    "spark.core_util": ("ratio", "higher"),
    "spark.task_s": ("s", "lower"),
    "spark.cpu_s": ("s", "lower"),
    "spark.gc_s": ("s", "lower"),
    "spark.shuffle_read_bytes": ("B", "lower"),
    "spark.shuffle_write_bytes": ("B", "lower"),
    "spark.spill_bytes": ("B", "lower"),
    "spark.peak_exec_mem_bytes": ("B", "lower"),
    "spark.partition_skew": ("ratio", "lower"),
    "spark.input_bytes": ("B", "lower"),
    **{f"mapreduce.job_s.{f}_{a}": ("s", "lower") for f, a in MR_JOBS},
    "mapreduce.map_stage_s": ("s", "lower"),
    "mapreduce.reduce_stage_s": ("s", "lower"),
    "mapreduce.commit_s": ("s", "lower"),
    "mapreduce.kv_records": ("count", "lower"),
    "mapreduce.groups": ("count", "lower"),
    "mapreduce.bytes_written_per_input_byte": ("ratio", "lower"),
    "python.bytes_to_worker": ("B", "lower"),
    "python.bytes_from_worker": ("B", "lower"),
    "baseline.sequential_s": ("s", "lower"),
    "streaming.drain_s": ("s", "lower"),
    "streaming.batches": ("count", "lower"),
    "streaming.add_batch_s": ("s", "lower"),
    "streaming.planning_s": ("s", "lower"),
    "streaming.wal_commit_s": ("s", "lower"),
    "streaming.offsets_s": ("s", "lower"),
    "streaming.state_rows": ("count", "lower"),
    "streaming.state_mem_bytes": ("B", "lower"),
    "trace.overhead": ("ratio", "lower"),
    "failed_frac": ("ratio", "lower"),
    "warm_passes": ("count", "higher"),
}


def _read_events(eventlog_dir: str) -> list[dict]:
    files = sorted(glob.glob(os.path.join(eventlog_dir, "*", "events_*")))
    files += sorted(glob.glob(os.path.join(eventlog_dir, "local-*")))
    if not files:
        raise FileNotFoundError(f"no Spark event log under {eventlog_dir}")
    events = []
    for path in files:
        with open(path, encoding="utf-8") as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


class _Log:
    """Jobs, stages and tasks of one event log, times in seconds."""

    def __init__(self, events: list[dict]):
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.stages: dict[int, dict] = {}
        self.tasks: list[dict] = []
        for e in events:
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                self.jobs[e["Job ID"]] = {
                    "submit": e["Submission Time"] / 1e3,
                    "group": e.get("Properties", {}).get("spark.jobGroup.id"),
                }
                for sid in e["Stage IDs"]:
                    # A stage a later job lists again is skipped there.
                    self.stage_job.setdefault(sid, e["Job ID"])
            elif kind == "SparkListenerJobEnd":
                self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1e3
            elif kind == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                self.stages[si["Stage ID"]] = {
                    "start": si.get("Submission Time", 0) / 1e3,
                    "end": si.get("Completion Time", 0) / 1e3,
                }
            elif kind == "SparkListenerTaskEnd":
                info, m = e["Task Info"], e.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics", {})
                acc = {a["Name"]: a.get("Update") for a in info.get("Accumulables", [])}
                self.tasks.append({
                    "stage": e["Stage ID"],
                    "launch": info["Launch Time"] / 1e3,
                    "finish": info["Finish Time"] / 1e3,
                    "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                    "gc_s": m.get("JVM GC Time", 0) / 1e3,
                    "peak_mem": m.get("Peak Execution Memory", 0),
                    "spill": m.get("Disk Bytes Spilled", 0),
                    "read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    "write": m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
                    "kv": m.get("Shuffle Write Metrics", {}).get("Shuffle Records Written", 0),
                    "input": m.get("Input Metrics", {}).get("Bytes Read", 0),
                    "out_bytes": m.get("Output Metrics", {}).get("Bytes Written", 0),
                    "out_records": m.get("Output Metrics", {}).get("Records Written", 0),
                    "py_in": int(acc.get("data sent to Python workers") or 0),
                    "py_out": int(acc.get("data returned from Python workers") or 0),
                })

    def jobs_in(self, windows) -> set[int]:
        return {j for j, v in self.jobs.items() if any(a <= v["submit"] <= b for a, b in windows)}

    def tasks_of(self, jobs: set[int]) -> list[dict]:
        return [t for t in self.tasks if self.stage_job.get(t["stage"]) in jobs]

    def stages_of(self, jobs: set[int]) -> list[int]:
        return [s for s in self.stages if self.stage_job.get(s) in jobs]


def _busy(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    busy, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                busy += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        busy += cur_b - cur_a
    return busy


def _progress_time(rec: dict) -> float:
    return datetime.fromisoformat(rec["timestamp"].replace("Z", "+00:00")).timestamp()


def per_layer(eventlog_dir: str, result: dict) -> tuple[dict[str, float], dict]:
    """Per-layer metrics (per warm pass) and a per-query breakdown."""
    log = _Log(_read_events(eventlog_dir))
    spans = [s for s in result["spans"] if s["pass"] > len(result["warmup_pass_s"])]
    passes = sorted({s["pass"] for s in spans})
    k = len(passes)
    windows = [(min(s["start"] for s in spans if s["pass"] == p),
                max(s["end"] for s in spans if s["pass"] == p)) for p in passes]
    jobs = log.jobs_in(windows)
    tasks = log.tasks_of(jobs)
    stages = log.stages_of(jobs)
    wall = sum(b - a for a, b in windows)
    task_s = sum(t["finish"] - t["launch"] for t in tasks)
    gap = sum((b - a) - _busy([(t["launch"], t["finish"]) for t in tasks], a, b) for a, b in windows)

    skew = 0.0
    by_stage: dict[int, list[int]] = defaultdict(list)
    for t in tasks:
        by_stage[t["stage"]].append(t["read"])
    for reads in by_stage.values():
        reads = [r for r in reads if r > 0]
        if len(reads) >= 2:
            skew = max(skew, max(reads) / statistics.median(reads))

    def span_sum(phase: str, names=None) -> float:
        return sum(s["end"] - s["start"] for s in spans
                   if s["phase"] == phase and (names is None or s["name"] in names))

    m: dict[str, float] = dict.fromkeys(PER_LAYER, 0.0)
    m.update({
        "session.start_s": result["setup_s"],
        "session.first_pass_s": result["first_pass_s"],
        "driver.peak_rss_mb": result["peak_rss_mb"],
        "queries.build_s": span_sum("build") / k,
        "queries.exec_s": span_sum("exec") / k,
        "spark.jobs": len(jobs) / k,
        "spark.stages": len(stages) / k,
        "spark.tasks": len(tasks) / k,
        "spark.sched_gap_s": gap / k,
        "spark.core_util": task_s / (wall * result["cores"]),
        "spark.task_s": task_s / k,
        "spark.cpu_s": sum(t["cpu_s"] for t in tasks) / k,
        "spark.gc_s": sum(t["gc_s"] for t in tasks) / k,
        "spark.shuffle_read_bytes": sum(t["read"] for t in tasks) / k,
        "spark.shuffle_write_bytes": sum(t["write"] for t in tasks) / k,
        "spark.spill_bytes": sum(t["spill"] for t in tasks) / k,
        "spark.peak_exec_mem_bytes": max((t["peak_mem"] for t in tasks), default=0),
        "spark.partition_skew": skew,
        "spark.input_bytes": sum(t["input"] for t in tasks) / k,
        "python.bytes_to_worker": sum(t["py_in"] for t in tasks) / k,
        "python.bytes_from_worker": sum(t["py_out"] for t in tasks) / k,
        "baseline.sequential_s": result["baseline_s"],
        "failed_frac": result["failed"] / result["attempted"],
        "warm_passes": k,
    })

    mr_spans = [s for s in spans if s["phase"] == "job"]
    if mr_spans:
        for form, app in MR_JOBS:
            m[f"mapreduce.job_s.{form}_{app}"] = span_sum("job", {f"{form}_{app}"}) / k
        mr_jobs = log.jobs_in([(s["start"], s["end"]) for s in mr_spans])
        mr_tasks = log.tasks_of(mr_jobs)
        writes = {t["stage"] for t in mr_tasks if t["write"] > 0}
        reads = {t["stage"] for t in mr_tasks if t["read"] > 0}
        dur = lambda ids: sum(log.stages[s]["end"] - log.stages[s]["start"] for s in ids if s in log.stages)  # noqa: E731
        commit = 0.0
        for s in mr_spans:
            fin = [t["finish"] for t in log.tasks_of(log.jobs_in([(s["start"], s["end"])]))]
            commit += s["end"] - max(fin, default=s["end"])
        in_bytes = sum(t["input"] for t in mr_tasks)
        m.update({
            "mapreduce.map_stage_s": dur(writes) / k,
            "mapreduce.reduce_stage_s": dur(reads) / k,
            "mapreduce.commit_s": commit / k,
            "mapreduce.kv_records": sum(t["kv"] for t in mr_tasks if t["stage"] in writes) / k,
            "mapreduce.groups": sum(t["out_records"] for t in mr_tasks) / k,
            "mapreduce.bytes_written_per_input_byte":
                sum(t["out_bytes"] for t in mr_tasks) / in_bytes if in_bytes else 0.0,
        })

    progress = [r for r in result["progress"]
                if any(a <= _progress_time(r) <= b for a, b in windows)]
    if progress:
        dms = lambda key: sum(r.get("durationMs", {}).get(key, 0) for r in progress) / 1e3 / k  # noqa: E731
        ops = lambda r, key: sum(op.get(key, 0) for op in r.get("stateOperators", []))  # noqa: E731
        m.update({
            "streaming.drain_s": dms("triggerExecution"),
            "streaming.batches": len(progress) / k,
            "streaming.add_batch_s": dms("addBatch"),
            "streaming.planning_s": dms("queryPlanning"),
            "streaming.wal_commit_s": dms("walCommit"),
            "streaming.offsets_s": dms("latestOffset") + dms("commitOffsets"),
            "streaming.state_rows": max(ops(r, "numRowsTotal") for r in progress),
            "streaming.state_mem_bytes": max(ops(r, "memoryUsedBytes") for r in progress),
        })

    queries = {}
    for name in dict.fromkeys(s["name"] for s in spans):
        own = log.jobs_in([(s["start"], s["end"]) for s in spans if s["name"] == name])
        queries[name] = {
            "first_pass_s": sum(s["end"] - s["start"] for s in result["spans"]
                                if s["pass"] == 0 and s["name"] == name),
            "build_s": span_sum("build", {name}) / k,
            "exec_s": span_sum("exec", {name}) / k,
            "job_s": span_sum("job", {name}) / k,
            "jobs": len(own) / k,
            # Micro-batch jobs carry the stream's run id as their group.
            "groups": sorted({log.jobs[j]["group"] or "" for j in own}),
        }
    return m, queries
