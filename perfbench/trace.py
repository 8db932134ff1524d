"""Spans, stream progress and Spark event-log attribution.

Spans are recorded by the benchmark around calls into the program's
public functions; nothing inside the program is instrumented. They are
kept in memory and written once, when the run ends.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from collections import defaultdict
from datetime import datetime


def now_ms() -> float:
    return time.time() * 1000.0


def cpu_ms(pids) -> float:
    """User plus system CPU time of the processes ``pids`` (all their
    threads), in ms, from ``/proc/<pid>/stat``."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        total += int(fields[11]) + int(fields[12])  # utime, stime
    return total * 1000.0 / tick


def peak_rss_mb(pids) -> float:
    """Sum of the resident high-water marks (``VmHWM``) of ``pids``, MB."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            total_kb += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return total_kb / 1024.0


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (q in [0, 100])."""
    values = sorted(values)
    if not values:
        return 0.0
    k = max(0, min(len(values) - 1, int(round(q / 100.0 * len(values) + 0.5)) - 1))
    return values[k]


class Tracer:
    """Thread-safe in-memory span list. A disabled tracer records
    nothing and its ``span`` context manager costs one branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()

    def add(self, name: str, start_ms: float, end_ms: float, op_id, **attrs) -> dict:
        span = {"name": name, "start": start_ms, "end": end_ms, "op": op_id, **attrs}
        if self.enabled:
            with self._lock:
                self.spans.append(span)
        return span

    def span(self, name: str, op_id, **attrs):
        return _SpanCtx(self, name, op_id, attrs)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f, indent=1, default=str)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, op_id, attrs: dict):
        self.tracer, self.name, self.op_id, self.attrs = tracer, name, op_id, attrs

    def __enter__(self):
        self.start = now_ms()
        return self.attrs

    def __exit__(self, *exc):
        self.record = self.tracer.add(self.name, self.start, now_ms(), self.op_id, **self.attrs)
        return False


# ------------------------------------------------------ stream progress


def progress_rows(query) -> list[dict]:
    """One dict per micro-batch that read input, from the query's
    retained progress: batch id, trigger start/end (epoch ms) and the
    ``durationMs`` phases."""
    rows = []
    for p in query.recentProgress:
        if not p.numInputRows:
            continue
        start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp() * 1000
        d = dict(p.durationMs)
        rows.append(
            {
                "batch": p.batchId,
                "start": start,
                "end": start + d.get("triggerExecution", 0),
                "rows": p.numInputRows,
                "phases": d,
            }
        )
    return rows


def file_batches(checkpoint_dir: str) -> dict[str, int]:
    """basename → micro-batch id, from the file source's metadata log
    (``<checkpoint>/sources/0``), including compacted log files."""
    log_dir = os.path.join(checkpoint_dir, "sources", "0")
    out: dict[str, int] = {}
    for name in os.listdir(log_dir):
        if name.startswith("."):
            continue
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


#: progress durationMs key → per-layer metric name
TRIGGER_PHASES = {
    "latestOffset": "trigger.latest_offset_ms",
    "getBatch": "trigger.get_batch_ms",
    "queryPlanning": "trigger.planning_ms",
    "addBatch": "trigger.add_batch_ms",
    "walCommit": "trigger.wal_commit_ms",
    "commitOffsets": "trigger.commit_offsets_ms",
}


def trigger_phase_metrics(rows: list[dict]) -> dict[str, float]:
    out = {m: median(r["phases"].get(k, 0) for r in rows) for k, m in TRIGGER_PHASES.items()}
    out["trigger.execution_ms"] = median(r["phases"].get("triggerExecution", 0) for r in rows)
    out["trigger.unaccounted_ms"] = median(
        r["phases"].get("triggerExecution", 0)
        - sum(r["phases"].get(k, 0) for k in TRIGGER_PHASES)
        for r in rows
    )
    return out


# ------------------------------------------------------------ event log


class EventLog:
    """Jobs, stages and task metrics parsed from an uncompressed,
    non-rolling Spark event log."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.tasks: dict[int, list[dict]] = defaultdict(list)  # stage → tasks
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = e["Job ID"]
                    props = e.get("Properties") or {}
                    self.jobs[jid] = {
                        "id": jid,
                        "start": e["Submission Time"],
                        "end": None,
                        "group": props.get("spark.jobGroup.id"),
                        "stages": list(e.get("Stage IDs", [])),
                    }
                elif kind == "SparkListenerJobEnd":
                    if e["Job ID"] in self.jobs:
                        self.jobs[e["Job ID"]]["end"] = e["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    m = e.get("Task Metrics") or {}
                    info = e.get("Task Info") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    self.tasks[e["Stage ID"]].append(
                        {
                            "run": m.get("Executor Run Time", 0),
                            "cpu": m.get("Executor CPU Time", 0) / 1e6,
                            "gc": m.get("JVM GC Time", 0),
                            "in": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                            "sr": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                            "sw": sw.get("Shuffle Bytes Written", 0),
                            "out": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
                            "spill": m.get("Memory Bytes Spilled", 0)
                            + m.get("Disk Bytes Spilled", 0),
                            "dur": info.get("Finish Time", 0) - info.get("Launch Time", 0),
                        }
                    )
        for j in self.jobs.values():
            if j["end"] is None:
                j["end"] = j["start"]

    def jobs_in(self, start_ms: float, end_ms: float, group=None, exclude_group_prefix=None):
        """Jobs submitted inside [start, end], optionally filtered by
        job group (reader jobs carry their own group)."""
        out = []
        for j in self.jobs.values():
            if not (start_ms <= j["start"] <= end_ms):
                continue
            g = j["group"] or ""
            if group is not None and g != group:
                continue
            if exclude_group_prefix and g.startswith(exclude_group_prefix):
                continue
            out.append(j)
        return out

    def totals(self, jobs: list[dict]) -> dict[str, float]:
        """spark.* metrics summed over ``jobs``; task_skew_max is the
        largest max/median task duration over their stages."""
        t = defaultdict(float)
        skew = 1.0
        for j in jobs:
            t["spark.jobs"] += 1
            for s in j["stages"]:
                tasks = self.tasks.get(s)
                if not tasks:
                    continue  # skipped stage (reused shuffle output)
                t["spark.stages"] += 1
                t["spark.tasks"] += len(tasks)
                for k, name in (
                    ("run", "spark.executor_run_ms"),
                    ("cpu", "spark.executor_cpu_ms"),
                    ("gc", "spark.jvm_gc_ms"),
                    ("in", "spark.input_bytes"),
                    ("sr", "spark.shuffle_read_bytes"),
                    ("sw", "spark.shuffle_write_bytes"),
                    ("out", "spark.output_bytes"),
                    ("spill", "spark.spill_bytes"),
                ):
                    t[name] += sum(x[k] for x in tasks)
                durs = [x["dur"] for x in tasks]
                if len(durs) > 1:
                    skew = max(skew, max(durs) / max(1.0, statistics.median(durs)))
        t["spark.task_skew_max"] = skew
        return dict(t)


SPARK_METRICS = (
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.executor_run_ms",
    "spark.executor_cpu_ms",
    "spark.jvm_gc_ms",
    "spark.input_bytes",
    "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes",
    "spark.output_bytes",
    "spark.spill_bytes",
    "spark.task_skew_max",
)


def union_ms(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(lo, s), min(hi, e)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def per_op_spark(log: EventLog, spans: list[dict], **job_filter) -> dict[str, float]:
    """spark.* metrics per span (mean over ``spans``); each span also
    gets its own totals under ``span['spark']`` for the trace file."""
    acc = defaultdict(float)
    for s in spans:
        t = log.totals(log.jobs_in(s["start"], s["end"], **job_filter))
        s["spark"] = t
        for k, v in t.items():
            if k == "spark.task_skew_max":
                acc[k] = max(acc[k], v)
            else:
                acc[k] += v
    n = max(1, len(spans))
    out = {k: acc.get(k, 0.0) / n for k in SPARK_METRICS}
    out["spark.task_skew_max"] = acc.get("spark.task_skew_max", 0.0) or 1.0
    return out


def driver_only_ms(log: EventLog, span: dict, **job_filter) -> tuple[float, int]:
    """(span duration minus the union of its Spark job intervals,
    number of jobs) — the driver-side share of a span."""
    jobs = log.jobs_in(span["start"], span["end"], **job_filter)
    busy = union_ms([(j["start"], j["end"]) for j in jobs], span["start"], span["end"])
    return span["end"] - span["start"] - busy, len(jobs)
