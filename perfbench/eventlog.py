"""Per-layer attribution from Spark's own event log.

A traced run starts the session with an uncompressed, non-rolling event
log (plain JSON lines) and tags every benchmark job with
``setJobDescription("<workload>/<layer>/<job>/<round>")``. After the
session stops, this module reads the log back and sums, per tag, the
Spark jobs, stages and tasks it ran. Spark jobs whose description is
not the benchmark's tag (a streaming query sets its own) are assigned
by time: one client runs one job at a time, so the benchmark job whose
wall-clock window contains the Spark job's submission owns it.
"""

from __future__ import annotations

import glob
import json
from collections import defaultdict
from dataclasses import dataclass, field

EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}

# Stage accumulables (SQL metrics) that the task metrics do not carry.
PY_RUN = "time to run Python workers"  # milliseconds
PY_SENT = "data sent to Python workers"  # bytes

COUNTERS = (
    "jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
    "sched_delay_s", "shuffle_write_bytes", "shuffle_read_bytes",
    "fetch_wait_s", "spill_bytes", "python_worker_s", "python_bytes_sent",
    "task_failures",
)


@dataclass
class SparkJob:
    job_id: int
    tag: str | None
    start_ms: int
    end_ms: int = 0
    stages: list[int] = field(default_factory=list)


@dataclass
class Parsed:
    jobs: dict[int, SparkJob]
    # (stage id) -> counter name -> value, over all attempts
    stage_counters: dict[int, dict[str, float]]


def read(log_dir: str) -> Parsed:
    files = sorted(glob.glob(f"{log_dir}/*"))
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    jobs: dict[int, SparkJob] = {}
    stages: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    with open(files[0]) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                jobs[e["Job ID"]] = SparkJob(
                    e["Job ID"], props.get("spark.job.description"),
                    e["Submission Time"], stages=list(e["Stage IDs"]),
                )
            elif kind == "SparkListenerJobEnd":
                jobs[e["Job ID"]].end_ms = e["Completion Time"]
            elif kind == "SparkListenerStageSubmitted":
                info = e["Stage Info"]
                if info["Stage Attempt ID"] > 0:
                    stages[info["Stage ID"]]["task_failures"] += 1
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                c = stages[info["Stage ID"]]
                c["stages"] += 1
                for acc in info.get("Accumulables", ()):
                    if acc.get("Name") == PY_RUN:
                        c["python_worker_s"] += float(acc["Value"]) / 1e3
                    elif acc.get("Name") == PY_SENT:
                        c["python_bytes_sent"] += float(acc["Value"])
            elif kind == "SparkListenerTaskEnd":
                _add_task(stages[e["Stage ID"]], e)
    return Parsed(jobs, stages)


def _add_task(c: dict[str, float], e: dict) -> None:
    info = e["Task Info"]
    c["tasks"] += 1
    if info.get("Failed") or info.get("Killed"):
        c["task_failures"] += 1
    m = e.get("Task Metrics")
    if not m:
        return
    run_ms = m["Executor Run Time"]
    c["task_run_s"] += run_ms / 1e3
    c["task_cpu_s"] += m["Executor CPU Time"] / 1e9
    c["gc_s"] += m["JVM GC Time"] / 1e3
    # The Spark UI's scheduler delay: the task's wall minus the parts
    # the executor accounts for.
    busy = (run_ms + m["Executor Deserialize Time"]
            + m["Result Serialization Time"] + info.get("Getting Result Time", 0))
    c["sched_delay_s"] += max(0, info["Finish Time"] - info["Launch Time"] - busy) / 1e3
    c["spill_bytes"] += m["Memory Bytes Spilled"]
    sr = m.get("Shuffle Read Metrics") or {}
    c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    c["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
    c["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)


def covered(spans: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of spans."""
    total, reach = 0.0, lo
    for s, e in sorted(spans):
        s, e = max(s, reach), min(e, hi)
        if e > s:
            total += e - s
            reach = e
    return total


def attribute(parsed: Parsed, windows: list[dict]) -> dict[str, dict]:
    """Sum Spark work per benchmark job.

    ``windows`` are the benchmark's job records: ``tag``, ``t0`` and
    ``t1`` (epoch seconds). Returns tag -> counters plus the Spark job
    spans (epoch seconds) and ``driver_s``, the part of the call's wall
    that no Spark job span covers."""
    by_tag = {w["tag"]: w for w in windows}
    ordered = sorted(windows, key=lambda w: w["t0"])
    out: dict[str, dict] = {
        w["tag"]: {**dict.fromkeys(COUNTERS, 0.0), "spark_jobs": []} for w in windows
    }
    seen: set[int] = set()
    for job in sorted(parsed.jobs.values(), key=lambda j: j.job_id):
        # A later job lists the stages it reuses (and skips); their work
        # belongs to the first job that listed them.
        own = [s for s in job.stages if s not in seen]
        seen.update(job.stages)
        t = job.start_ms / 1e3
        owner = by_tag.get(job.tag)
        if owner is None:
            owner = next((w for w in ordered if w["t0"] <= t <= w["t1"]), None)
        if owner is None:
            continue  # warm-up, checks or session start-up work
        rec = out[owner["tag"]]
        rec["jobs"] += 1
        rec["spark_jobs"].append((job.job_id, t, (job.end_ms or job.start_ms) / 1e3))
        for sid in own:
            for k, v in parsed.stage_counters.get(sid, {}).items():
                rec[k] += v
    for tag, rec in out.items():
        w = by_tag[tag]
        spans = [(s, e) for _, s, e in rec["spark_jobs"]]
        rec["driver_s"] = (w["t1"] - w["t0"]) - covered(spans, w["t0"], w["t1"])
    return out
