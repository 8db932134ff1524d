#!/usr/bin/env python3
"""Layered benchmark of lapidus_spark's CDC pipeline, lake readers and
corpus curation.

    python3 perfbench/run.py --workload cdc_trickle --seed 1 --seconds 22 --trace 0

Run from the repository root. ``--trace 0`` prints the end-to-end
metrics named in ``BENCHMARK.json``; ``--trace 1`` turns on Spark's
event log and the benchmark's spans and prints the per-layer metrics
instead. The last line of standard output is one JSON object; the
lines before it name every metric with its unit. The exit code is
non-zero when an output is wrong. All scratch files live under
``.perfbench_work/`` and are removed at exit; traced runs keep their
span file under ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("cdc_trickle", "corpus_curate")
#: Spark task slots: half the cores, so that the tasks, the driver's
#: Python and JVM threads, the reader client and the JIT and GC threads
#: are not more runnable threads than cores (on 4 vCPUs, local[2] ran
#: cdc_trickle commits 15% faster than local[4] and with a third of
#: the run-to-run spread)
SPARK_CPUS = max(1, (os.cpu_count() or 2) // 2)
#: driver heap for the local session; the CLI default (8g) is sized
#: for the sf0.1 fixtures on a large box
DRIVER_MEMORY = "3g"
#: the whole heap is committed and touched at JVM start, so the
#: resident high-water does not depend on when G1 decides to grow the
#: heap (with a 1 GiB initial heap, corpus_curate runs grew it in some
#: runs and not others, and peak RSS split into two modes 20% apart);
#: peak_rss_mb then moves with off-heap and Python memory only
DRIVER_JAVA_OPTIONS = f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch"


class Context:
    """What a workload needs from the harness: the session, its
    scratch directory, the tracer and the run parameters."""

    def __init__(self, args, work: str, t_start: float):
        from perfbench.trace import Tracer

        self.seed, self.seconds, self.trace = args.seed, args.seconds, bool(args.trace)
        self.work = work
        self.tracer = Tracer(self.trace)
        self.t_start = t_start
        self.spark = None
        self.pids: list[int] = [os.getpid()]  # this process and the JVM
        self.root = ROOT
        self.peak_rss_mb = 0.0
        self.diagnostics: dict = {}

    def setup_done(self) -> float:
        return self.mark("setup done")

    def window_done(self) -> None:
        """Called when the measured window ends: records the resident
        high-water of the driver Python and the JVM, before the
        correctness checks run."""
        from perfbench.trace import peak_rss_mb

        self.peak_rss_mb = peak_rss_mb(self.pids)
        self.mark("measured window done")

    def mark(self, label: str) -> float:
        """Log the time since start to stderr; returns it (seconds)."""
        t = time.time() - self.t_start
        print(f"perfbench: {t:7.2f}s {label}", file=sys.stderr)
        return t

    def note(self, msg: str) -> None:
        print(f"perfbench: {msg}", file=sys.stderr)


def _session_env(work: str, trace: bool) -> None:
    """Point every scratch location of Python, the JVM and Spark inside
    the run's work directory, before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    events = os.path.join(work, "eventlog")
    for d in (tmp, local, events):
        os.makedirs(d)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    confs = [f"spark.local.dir={local}"]
    if trace:
        confs += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{events}",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
        ]
    # every JVM, the spark-submit launcher included: temp files inside the
    # run's directory and no perf-data file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "{DRIVER_JAVA_OPTIONS}" '
        + " ".join(f"--conf {c}" for c in confs)
        + " pyspark-shell"
    )


def _stop_jvm(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _metric_specs() -> tuple[list[dict], list[dict]]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec["end_to_end"], spec["per_layer"]


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    t_start = time.time()
    end_to_end, per_layer = _metric_specs()

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    _session_env(work, bool(args.trace))
    sys.path.insert(0, ROOT)
    try:
        from lapidus_spark.session import get_spark

        ctx = Context(args, work, t_start)
        ctx.spark = get_spark("perfbench", cpus=SPARK_CPUS)
        from pyspark import SparkContext

        ctx.pids.append(SparkContext._gateway.proc.pid)
        ctx.mark("session started")
        try:
            if args.workload == "corpus_curate":
                from perfbench import curate

                res = curate.run(ctx)
            else:
                from perfbench import cdc

                res = cdc.run(ctx)
        finally:
            ctx.mark("workload done")
            _stop_jvm(ctx.spark)
            ctx.mark("jvm stopped")
        res["metrics"]["setup_s"] = res["setup_s"]
        res["metrics"]["peak_rss_mb"] = ctx.peak_rss_mb

        if args.trace:
            from perfbench.trace import EventLog

            logs = os.listdir(os.path.join(work, "eventlog"))
            log = EventLog(os.path.join(work, "eventlog", logs[0]))
            layer = res["layer"](log)
            layer["trace.op_p50_ms"] = res["metrics"]["op_p50_ms"]
            specs = per_layer
            values = {m["name"]: float(layer.get(m["name"], 0.0)) for m in per_layer}
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            ctx.tracer.write(
                os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace.json"),
                {"layer_metrics": layer, "diagnostics": ctx.diagnostics},
            )
        else:
            specs = end_to_end
            values = {m["name"]: float(res["metrics"][m["name"]]) for m in end_to_end}
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted, failed = res["attempted"], res["failed"]
    print(f"workload {args.workload} seed {args.seed} seconds {args.seconds} trace {args.trace}")
    for name, v in sorted(ctx.diagnostics.items()):
        print(f"  diagnostic {name} = {v:.6g}")
    print(f"  failed_share = {failed / attempted:.6g} ({failed}/{attempted})")
    for m in specs:
        print(f"  {m['name']} = {values[m['name']]:.6g} {m['unit']}")
    print(
        json.dumps(
            {
                "correct": bool(res["correct"]),
                "attempted": int(attempted),
                "failed": int(failed),
                "metrics": {
                    m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in specs
                },
            }
        )
    )
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
