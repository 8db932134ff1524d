"""``cdc_trickle``: the daemon pipeline ``streaming.pipeline.run`` with
a file backend and a ``lake`` sink (``lake.merge.merge_lake_sink``).

A closed loop: the main thread publishes one small file, waits until
the trigger that read it has committed, and publishes the next, while a
closed-loop reader thread issues ``lake_point_read`` and
``read_lake_snapshot`` scans against the same lake. Freshness is the
time from a file's publish to the end of the trigger that committed it.
The loop is closed so that a slow spell of the host slows the commits
it overlaps and no others: an open loop near capacity builds a backlog
that every later file waits behind.
"""

from __future__ import annotations

import os
import threading
import time

from perfbench import check, gen
from perfbench.trace import (
    EventLog,
    cpu_ms,
    driver_only_ms,
    file_batches,
    median,
    now_ms,
    per_op_spark,
    percentile,
    progress_rows,
    trigger_phase_metrics,
)


#: traffic; every share is an assumption (see README.md)
SHAPE = gen.CdcShape(
    n_keys=10_000,
    events_per_file=200,
    zipf_s=1.1,
    delete_share=0.05,
    insert_share=0.03,
    redelivery_share=0.03,
    out_of_order_share=0.05,
)
#: commits after the bootstrap that run in set-up, with the reader on:
#: the first ones run 2-4x slower (JIT, codegen, class loading)
WARMUP_FILES = 4
#: files generated for the window; a commit takes over a second, so
#: the window never runs out of them
MAX_FILES_PER_S = 4
POINT_KEYS = 10
THINK_S = 0.5  # reader client's pause between operations

N_BUCKETS = 8
COMPACT_EVERY = 10
#: covers the reader: a scan resolves its manifest at open and must
#: outlive the commits that land while it runs
RETAIN_VERSIONS = 4


def _engine_config(src: str, lake: str, ckpt: str):
    from lapidus_spark.config import validate_config

    return validate_config(
        {
            "checkpointRoot": ckpt,
            "backends": [
                {
                    "name": "bench",
                    "type": "file",
                    "path": src,
                    "maxFilesPerTrigger": 1,
                    "sinks": [
                        {
                            "type": "lake",
                            "options": {
                                "path": lake,
                                "buckets": N_BUCKETS,
                                "compactEvery": COMPACT_EVERY,
                                "retainVersions": RETAIN_VERSIONS,
                                "trigger": "0 seconds",
                            },
                        }
                    ],
                }
            ],
        }
    )


def _dir_state(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue  # removed by GC while walking
            out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
    return out


class _LakeProbe:
    """Rebinds ``merge_batch_into_lake`` and ``compact_lake`` in
    ``lapidus_spark.lake.merge`` (the names ``merge_lake_sink`` calls)
    to record a span per commit and compaction, plus what each one
    wrote on disk. Active only in traced runs."""

    def __init__(self, tracer, lake: str):
        import lapidus_spark.lake.merge as merge_mod

        self.mod, self.tracer, self.lake = merge_mod, tracer, lake
        self.orig_merge = merge_mod.merge_batch_into_lake
        self.orig_compact = merge_mod.compact_lake
        self.n = 0

        def merge(*args, **kw):
            return self._wrap("merge", self.orig_merge, args, kw)

        def compact(*args, **kw):
            return self._wrap("compact", self.orig_compact, args, kw)

        merge_mod.merge_batch_into_lake = merge
        merge_mod.compact_lake = compact

    def _wrap(self, name, fn, args, kw):
        before = _dir_state(self.lake) if os.path.isdir(self.lake) else {}
        self.n += 1
        span = self.tracer.span(name, self.n)
        with span:
            result = fn(*args, **kw)
        after = _dir_state(self.lake)
        changed = [p for p, st in after.items() if before.get(p) != st]
        meta = [p for p in changed if p.startswith("_")]
        data = [p for p in changed if p.endswith(".parquet") and not p.startswith("_")]
        span.record.update(
            log_files=len(meta),
            log_bytes=sum(after[p][0] for p in meta),
            data_bytes=sum(after[p][0] for p in data),
            buckets=len({os.path.dirname(p) for p in data}),
            rows_written=_parquet_rows(self.lake, data),
        )
        return result

    def restore(self):
        self.mod.merge_batch_into_lake = self.orig_merge
        self.mod.compact_lake = self.orig_compact


def _parquet_rows(root: str, rel_paths: list[str]) -> int:
    import pyarrow.parquet as pq

    n = 0
    for p in rel_paths:
        try:
            n += pq.read_metadata(os.path.join(root, p)).num_rows
        except (FileNotFoundError, OSError):
            pass  # already garbage-collected
    return n


def _wait_committed(query, ckpt: str, name: str, timeout_s: float) -> None:
    """Block until file ``name`` is in a batch with a commit record
    (``<checkpoint>/commits/<batch>``), polling the checkpoint on disk."""
    deadline = time.time() + timeout_s
    while True:
        if query.exception() is not None:
            raise RuntimeError(f"stream failed: {query.exception()}")
        fb = file_batches(ckpt) if os.path.isdir(os.path.join(ckpt, "sources", "0")) else {}
        if name in fb and os.path.exists(os.path.join(ckpt, "commits", str(fb[name]))):
            return
        if time.time() > deadline:
            raise TimeoutError(f"{name} not committed within {timeout_s}s")
        time.sleep(0.01)


class _Reader(threading.Thread):
    """Closed-loop reader client: point read, scan, point read, ...,
    with a fixed think time between an answer and the next request."""

    def __init__(self, spark, lake: str, keygen, think_s: float, tracer, trace: bool):
        super().__init__(daemon=True)
        self.spark, self.lake, self.keygen, self.tracer = spark, lake, keygen, tracer
        self.think_s = think_s
        self.trace = trace
        self.stop = threading.Event()
        self.ops: list[dict] = []  # kind, start, end, ok, error

    def run(self):
        from pyspark.sql import functions as F

        from lapidus_spark.lake.stats import lake_point_read, read_lake_snapshot

        sc = self.spark.sparkContext
        i = 0
        while not self.stop.is_set():
            i += 1
            kind = "scan" if i % 2 == 0 else "point"
            if self.trace:
                sc.setJobGroup(f"read-{i}", kind)
            start = now_ms()
            ok, error = True, None
            try:
                if kind == "point":
                    keys = [str(k) for k in self.keygen()]
                    rows = lake_point_read(self.spark, self.lake, keys).collect()
                    ok = check.point_read_ok([r["entity_id"] for r in rows], keys)
                else:
                    r = (
                        read_lake_snapshot(self.spark, self.lake)
                        .agg(F.count("*").alias("n"), F.max("last_seq").alias("m"))
                        .collect()[0]
                    )
                    ok = r["n"] > 0
            except Exception as e:  # a failed read is counted, the loop goes on
                ok, error = False, repr(e)
            end = now_ms()
            self.ops.append({"kind": kind, "start": start, "end": end, "ok": ok, "error": error})
            self.tracer.add("read", start, end, i, kind=kind, ok=ok)
            self.stop.wait(self.think_s)
        if self.trace:
            sc.setJobGroup("", "")


def _with_events(rows: list[dict], fb: dict[str, int], file_rows: dict[str, int], first: int):
    """Progress rows from batch ``first`` on, each with the number of
    generated events its file carried (``numInputRows`` counts a row
    once per Spark action that re-reads the batch)."""
    events = {fb[n]: k for n, k in file_rows.items() if n in fb}
    return [dict(r, events=events.get(r["batch"], 0)) for r in rows if r["batch"] >= first]


def run(ctx) -> dict:
    """Set up, measure for ``ctx.seconds``, verify. Returns the
    run's result parts (metrics, attempted, failed, correct)."""
    from lapidus_spark.streaming import pipeline

    spark, tracer = ctx.spark, ctx.tracer
    src, lake, ckpt_root = (os.path.join(ctx.work, d) for d in ("src", "lake", "ckpt"))
    ckpt = os.path.join(ckpt_root, "bench-lake-0")  # <root>/<backend>-<sink type>-<index>
    os.makedirs(src)
    probe = _LakeProbe(tracer, lake) if ctx.trace else None
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "1000")

    # ---- set-up: generate, bootstrap, warm up (all inside setup_s)
    g = gen.CdcGenerator(ctx.seed, SHAPE)
    published: list[str] = []
    file_rows: dict[str, int] = {}

    def publish(name: str, table) -> None:
        published.append(gen.write_atomic(table, src, name))
        file_rows[name] = table.num_rows

    publish("events.parquet", g.bootstrap())
    n_pool = WARMUP_FILES + MAX_FILES_PER_S * ctx.seconds
    files = [(f"events_{i:05d}.parquet", g.next_file()) for i in range(n_pool)]
    warm, rest = files[:WARMUP_FILES], files[WARMUP_FILES:]
    q = pipeline.run(spark, _engine_config(src, lake, ckpt_root), await_termination=False)[0]
    _wait_committed(q, ckpt, "events.parquet", 120)
    ctx.mark("bootstrap committed")
    # the reader starts with the warm-up triggers, so both sides are
    # past JIT and codegen when timing starts
    keys = g.key_sampler(ctx.seed + 1, POINT_KEYS)
    reader = _Reader(spark, lake, keys, THINK_S, tracer, ctx.trace)
    reader.start()
    for name, t in warm:
        publish(name, t)
        _wait_committed(q, ckpt, name, 60)
    setup_s = ctx.setup_done()

    # ---- measured window: publish a file, wait for its commit, repeat
    # until the window closes; freshness counts from the publish
    pub_at: dict[str, float] = {}
    cpu0 = cpu_ms(ctx.pids)
    t0 = now_ms()
    window_end = t0 + ctx.seconds * 1000
    for name, t in rest:
        if now_ms() >= window_end:
            break
        publish(name, t)
        pub_at[name] = now_ms()
        _wait_committed(q, ckpt, name, 60)
    cpu = cpu_ms(ctx.pids) - cpu0
    ctx.window_done()
    reader.stop.set()
    reader.join()
    q.stop()
    if probe is not None:
        probe.restore()
    rows = progress_rows(q)
    fb = file_batches(ckpt)
    by_batch = {r["batch"]: r for r in rows}
    trig = {n: by_batch[fb[n]] for n in pub_at}
    fresh = [trig[n]["end"] - pub_at[n] for n in pub_at]
    ctx.note("freshness ms: " + " ".join(f"{f:.0f}" for f in fresh))
    measured = _with_events(rows, fb, file_rows, first=fb[rest[0][0]])
    reads = [o for o in reader.ops if t0 <= o["start"] < window_end]
    points = [o["end"] - o["start"] for o in reads if o["kind"] == "point"]
    scans = [o["end"] - o["start"] for o in reads if o["kind"] == "scan"]
    rows_in = sum(r["events"] for r in measured)
    busy_s = sum(r["phases"].get("triggerExecution", 0) for r in measured) / 1000
    diag = {
        "trigger_rows_per_s": rows_in / busy_s if busy_s else 0.0,
        "cpu_ms_per_commit": cpu / len(pub_at),
        "freshness_p50_ms": median(fresh),
        "freshness_p90_ms": percentile(fresh, 90),
        "freshness_samples": len(fresh),
        "point_read_p50_ms": median(points),
        "point_read_p90_ms": percentile(points, 90),
        "point_read_samples": len(points),
        "scan_read_p50_ms": median(scans),
        "scan_read_samples": len(scans),
        # publish to the end of the listing that found the file
        "source.pickup_ms": median(
            trig[n]["start"] + trig[n]["phases"].get("latestOffset", 0) - pub_at[n] for n in pub_at
        ),
    }

    # ---- correctness gate (untimed): every read the client made, in
    # or out of the window, and the final snapshot
    from lapidus_spark.lake.stats import read_lake_snapshot

    snap = os.path.join(ctx.work, "snapshot")
    read_lake_snapshot(spark, lake).select(*check.SNAPSHOT_COLS).write.parquet(snap)
    fb = file_batches(ckpt)
    missing = [p for p in published if os.path.basename(p) not in fb]
    problems = check.cdc_failures(missing, check.check_lww(snap, published), reader.ops)
    for p in problems:
        ctx.note(p)

    ctx.diagnostics = diag
    return {
        "setup_s": setup_s,
        "metrics": {"op_p50_ms": median(fresh)},
        "attempted": len(pub_at) + len(reader.ops) + 1,
        "failed": len(problems),
        "correct": not problems,
        "layer": (lambda log: layer_metrics(ctx, log, measured, diag)),
    }


def layer_metrics(ctx, log: EventLog, measured: list[dict], diag: dict) -> dict[str, float]:
    """Per-layer metrics of the traced run, from progress rows, the
    benchmark's spans and the Spark event log."""
    tr = ctx.tracer
    out = trigger_phase_metrics(measured)
    lo = min((r["start"] for r in measured), default=0)
    hi = max((r["end"] for r in measured), default=0)
    in_window = lambda s: lo <= s["start"] <= hi  # noqa: E731
    merges = [s for s in tr.named("merge") if in_window(s)]
    compacts = [s for s in tr.named("compact") if in_window(s)]
    writer_filter = {"exclude_group_prefix": "read-"}
    dr = [driver_only_ms(log, s, **writer_filter) for s in merges]
    trig_of = lambda s: next(  # noqa: E731
        (r for r in measured if r["start"] <= s["start"] <= r["end"]), None
    )
    ratio = []
    for s in merges:
        t = trig_of(s)
        if t and t["events"]:
            ratio.append(s["rows_written"] / t["events"])
    out.update(
        {
            "merge.ms": median(s["end"] - s["start"] for s in merges),
            "merge.spark_jobs": median(n for _, n in dr),
            "merge.driver_only_ms": median(d for d, _ in dr),
            "merge.buckets_touched": median(s["buckets"] for s in merges),
            "merge.rows_rewritten_per_row_in": median(ratio),
            "merge.bytes_written": median(s["data_bytes"] for s in merges),
            "log.files_written": median(s["log_files"] for s in merges),
            "log.metadata_bytes": median(s["log_bytes"] for s in merges),
            "admin.compactions": float(sum(1 for s in compacts if s["buckets"])),
            "admin.compact_ms": median(s["end"] - s["start"] for s in compacts),
        }
    )
    # trigger self time: the trigger minus the commit and compaction
    # spans it contains (stream planning, offsets, WAL, listing)
    selfs = []
    for r in measured:
        inner = [s for s in merges + compacts if r["start"] <= s["start"] <= r["end"]]
        selfs.append(r["phases"].get("triggerExecution", 0) - sum(s["end"] - s["start"] for s in inner))
    out["trigger.self_ms"] = median(selfs)
    reads = [s for s in tr.named("read") if in_window(s)]
    points = [s for s in reads if s["kind"] == "point"]
    rd = [driver_only_ms(log, s, group=f"read-{s['op']}") for s in points]
    in_bytes = []
    for s in points:
        jobs = log.jobs_in(s["start"], s["end"], group=f"read-{s['op']}")
        in_bytes.append(log.totals(jobs).get("spark.input_bytes", 0.0))
    out.update(
        {
            "read.spark_jobs_per_point": median(n for _, n in rd),
            "read.driver_only_ms": median(d for d, _ in rd),
            "read.input_bytes_per_point": median(in_bytes),
        }
    )
    # engine metrics per committed trigger (writer jobs only)
    trig_spans = [{"start": r["start"], "end": r["end"], "op": r["batch"]} for r in measured]
    out.update(per_op_spark(log, trig_spans, **writer_filter))
    out["source.pickup_ms"] = diag["source.pickup_ms"]
    return out
