"""Per-layer metrics from a Spark event log (JSON lines, uncompressed).

The worker writes the log through Spark's own public settings
(``spark.eventLog.*``, passed in ``PYSPARK_SUBMIT_ARGS``) and records
the wall-clock interval of every operation phase.  This module turns
the log plus those intervals into the per-layer numbers:

* jobs are attributed to a phase by their job group
  (``pb|<pass>|<op>|<phase>``) and, for jobs run on other threads
  (streaming micro-batches carry the stream's run id as group), by the
  phase interval their submission time falls in;
* each SQL job's entry method (``count``, ``localCheckpoint``,
  ``collectToPython``, ...) comes from the first frame of its
  ``SQLExecutionStart`` details; RDD jobs use their short call site
  (``collect at operators/bpe.py:110``);
* cached bytes follow ``SparkListenerBlockUpdated`` for ``rdd_*``
  blocks, read at the start of each ``|end`` marker job.

Additive metrics are reported per pass over the workload's operation
list, so runs with a different number of passes compare directly.
"""

from __future__ import annotations

import json
import re
import statistics
from collections import defaultdict
from datetime import datetime

MB = 1024.0 * 1024.0
_ENTRY = re.compile(r"\.Dataset\.(?:\$anonfun\$)?([A-Za-z]+)")
COLLECT_ENTRIES = ("collect", "take", "head", "first", "toPandas", "tail")
CHECKPOINT_ENTRIES = ("localCheckpoint", "checkpoint")


def entry_method(details: str) -> str:
    m = _ENTRY.search(details.split("\n", 1)[0])
    return m.group(1) if m else details.split("(", 1)[0].rsplit(".", 1)[-1]


def _group_phase(group: str | None) -> tuple[str, str] | None:
    if group and group.startswith("pb|"):
        parts = group.split("|")
        if len(parts) == 4:
            return f"{parts[1]}|{parts[2]}", parts[3]
    return None


def read_events(path: str) -> list[dict]:
    with open(path, encoding="utf-8") as fh:
        return [json.loads(line) for line in fh if line.strip()]


def parse(events: list[dict], phases: list[dict], window: tuple[float, float], passes: int) -> dict:
    """``phases``: dicts with ``key`` (pass|op), ``phase`` and wall
    interval ``t0``/``t1`` in epoch milliseconds; ``window`` bounds the
    measured region in epoch milliseconds."""
    w0, w1 = window
    spans = sorted((p["t0"], p["t1"], p["key"], p["phase"]) for p in phases)

    def phase_at(ms: float) -> tuple[str, str] | None:
        for t0, t1, key, phase in spans:
            if t0 <= ms <= t1:
                return key, phase
        return None

    exec_entry: dict[int, str] = {}
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stage_runs: dict[tuple[int, int], list[float]] = defaultdict(list)
    stages_done = 0
    blocks: dict[str, float] = {}
    cached = peak_cached = 0.0
    retained: list[float] = []
    measuring = False  # set by the first job submitted inside the window
    t = defaultdict(float)
    tasks = failed_tasks = 0

    for ev in events:
        kind = ev.get("Event", "")
        if kind.endswith("SQLExecutionStart"):
            exec_entry[int(ev["executionId"])] = entry_method(ev.get("details", ""))
        elif kind == "SparkListenerJobStart":
            submit = ev.get("Submission Time", 0)
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id")
            if not (w0 <= submit <= w1):
                continue
            measuring = True
            if group and group.endswith("|end"):
                retained.append(cached)
                continue
            attributed = _group_phase(group) or phase_at(submit)
            exec_id = props.get("spark.sql.execution.id")
            if exec_id is not None:
                entry = exec_entry.get(int(exec_id), "sql")
            else:
                entry = (props.get("callSite.short") or "rdd").split(" at ", 1)[0]
            jobs[ev["Job ID"]] = {
                "submit": submit,
                "end": submit,
                "phase": attributed[1] if attributed else None,
                "entry": entry,
            }
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = ev["Job ID"]
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(ev["Job ID"])
            if job is not None:
                job["end"] = ev.get("Completion Time", job["submit"])
        elif kind == "SparkListenerStageCompleted":
            if stage_job.get(ev["Stage Info"]["Stage ID"]) in jobs:
                stages_done += 1
        elif kind == "SparkListenerTaskEnd":
            if stage_job.get(ev["Stage ID"]) not in jobs:
                continue
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            tasks += 1
            if info.get("Failed") or ev.get("Task End Reason", {}).get("Reason") != "Success":
                failed_tasks += 1
            run_ms = m.get("Executor Run Time", 0)
            stage_runs[(ev["Stage ID"], ev.get("Stage Attempt ID", 0))].append(run_ms)
            t["task_run"] += run_ms / 1e3
            t["task_cpu"] += m.get("Executor CPU Time", 0) / 1e9
            t["gc"] += m.get("JVM GC Time", 0) / 1e3
            dur = info["Finish Time"] - info["Launch Time"]
            getting = info.get("Getting Result Time", 0)
            fetch = info["Finish Time"] - getting if getting else 0
            delay = dur - run_ms - m.get("Executor Deserialize Time", 0) - m.get("Result Serialization Time", 0) - fetch
            t["sched_delay"] += max(0, delay) / 1e3
            t["spill"] += m.get("Disk Bytes Spilled", 0) / MB
            rd = m.get("Shuffle Read Metrics") or {}
            t["shuffle_read"] += (rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)) / MB
            t["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / MB
            inp = m.get("Input Metrics") or {}
            if inp.get("Bytes Read", 0) or inp.get("Records Read", 0):
                t["input_mb"] += inp.get("Bytes Read", 0) / MB
                t["input_rows"] += inp.get("Records Read", 0)
                t["scan_task"] += run_ms / 1e3
        elif kind == "SparkListenerBlockUpdated":
            b = ev["Block Updated Info"]
            if b["Block ID"].startswith("rdd_"):
                size = (b.get("Memory Size", 0) + b.get("Disk Size", 0)) / MB
                cached += size - blocks.get(b["Block ID"], 0.0)
                blocks[b["Block ID"]] = size
                if measuring:
                    peak_cached = max(peak_cached, cached)

    in_window = list(jobs.values())
    busy, cur_end = 0.0, None
    for job in sorted(in_window, key=lambda j: j["submit"]):
        s, e = max(job["submit"], w0), min(job["end"], w1)
        if cur_end is None or s > cur_end:
            busy += max(0.0, e - s)
            cur_end = e
        elif e > cur_end:
            busy += e - cur_end
            cur_end = e
    skews = [max(r) / max(statistics.median(r), 1.0) for r in stage_runs.values() if len(r) >= 2]

    def phase_jobs(phase: str, entries: tuple[str, ...] | None = None) -> float:
        n = sum(
            1
            for j in in_window
            if j["phase"] == phase and (entries is None or any(j["entry"].startswith(e) for e in entries))
        )
        return n / passes

    return {
        "queries.construct_jobs": phase_jobs("construct"),
        "queries.construct_collect_jobs": phase_jobs("construct", COLLECT_ENTRIES),
        "queries.construct_checkpoint_jobs": phase_jobs("construct", CHECKPOINT_ENTRIES),
        "action.jobs": phase_jobs("action"),
        "pin.cached_mb": peak_cached,
        "pin.retained_mb": max(retained, default=0.0),
        "sources.input_mb": t["input_mb"] / passes,
        "sources.input_rows": t["input_rows"] / passes,
        "sources.scan_task_s": t["scan_task"] / passes,
        "spark.shuffle_write_mb": t["shuffle_write"] / passes,
        "spark.shuffle_read_mb": t["shuffle_read"] / passes,
        "spark.spill_mb": t["spill"] / passes,
        "spark.driver_gap_s": max(0.0, (w1 - w0) - busy) / 1e3 / passes,
        "spark.sched_delay_s": t["sched_delay"] / passes,
        "spark.jobs": len(in_window) / passes,
        "spark.stages": stages_done / passes,
        "spark.tasks": tasks / passes,
        "spark.failed_tasks": failed_tasks / passes,
        "spark.task_run_s": t["task_run"] / passes,
        "spark.task_cpu_s": t["task_cpu"] / passes,
        "spark.gc_s": t["gc"] / passes,
        "spark.task_skew": statistics.median(skews) if skews else 1.0,
    }


def _epoch_ms(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1e3


def streaming_metrics(progress: list[dict], window: tuple[float, float], passes: int) -> dict:
    """Aggregate the ``StreamingQueryProgress`` JSON objects of the
    micro-batches that started inside the measured window."""
    progress = [p for p in progress if window[0] <= _epoch_ms(p["timestamp"]) <= window[1]]
    trig = sorted(p.get("durationMs", {}).get("triggerExecution", 0) for p in progress)

    def pct(q: float) -> float:
        if not trig:
            return 0.0
        return float(trig[min(len(trig) - 1, int(q * len(trig)))])

    def ops_sum(p: dict, key: str) -> float:
        return sum(o.get(key, 0) for o in p.get("stateOperators", []))

    dur = [p.get("durationMs", {}) for p in progress]
    return {
        "streaming.batches": len(progress) / passes,
        "streaming.batch_p50_ms": pct(0.5),
        "streaming.batch_p90_ms": pct(0.9),
        "streaming.add_batch_ms": sum(d.get("addBatch", 0) for d in dur) / passes,
        "streaming.wal_commit_ms": sum(d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in dur) / passes,
        "streaming.state_commit_ms": sum(ops_sum(p, "commitTimeMs") for p in progress) / passes,
        "streaming.state_rows": max((ops_sum(p, "numRowsTotal") for p in progress), default=0),
        "streaming.state_mem_mb": max((ops_sum(p, "memoryUsedBytes") for p in progress), default=0) / MB,
        "streaming.late_rows_dropped": sum(ops_sum(p, "numRowsDroppedByWatermark") for p in progress) / passes,
    }
