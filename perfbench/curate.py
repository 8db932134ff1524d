"""``corpus_curate``: the curation chain of ``examples/curate_corpus.py``
as a batch job over a seeded corpus with planted duplicates.

Each stage runs a registry operator and writes its per-document
verdicts as parquet (the stage's span covers the operator and the
write); the assembly step reads the verdicts back and composes them,
as the example does. No lake or streaming code runs here, so a lake
change should leave this workload unchanged.

Set-up runs one untimed pass, which pays JIT, codegen and class
loading; the window then runs a fixed number of warm passes, each over
its own copy of the corpus (``build_ivf_index`` keeps one index per
corpus directory and process, so a copy makes every pass build it).
"""

from __future__ import annotations

import os
import subprocess
import sys

import duckdb

from perfbench import check, gen
from perfbench.trace import EventLog, cpu_ms, median, now_ms, per_op_spark

#: sized so the warm-up pass and the timed passes fit a run's time
#: limit: a warm pass is mostly per-stage job overhead at this size
#: (about 13 s on 4 vCPUs, against 15 s at 1.5k documents)
CORPUS = gen.CorpusShape(n_docs=800)
#: warm passes timed per run, a fixed count so that the metric keeps
#: its meaning when the program gets faster
TIMED_PASSES = 2

#: span name → per-layer metric
STAGE_METRICS = {
    "ivf_index": "curate.ivf_index_ms",
    "span_trim": "curate.span_trim_ms",
    "quality": "curate.quality_ms",
    "components": "curate.components_ms",
    "semdedup": "curate.semdedup_ms",
    "decontam": "curate.decontam_ms",
    "domain_cap": "curate.domain_cap_ms",
    "assembly": "curate.assembly_ms",
}


def curate(spark, corpus_dir: str, out_dir: str, tracer, pass_id: int) -> tuple[dict, str, int]:
    """One pass of the chain. Returns (stage output dirs, survivors
    dir, docs kept)."""
    from pyspark.sql import functions as F

    from lapidus_spark.functions.corpus import ext_decontaminate, ext_dup_span_trim
    from lapidus_spark.functions.dedup import ext_dedup_components
    from lapidus_spark.functions.pipeline import (
        ext_domain_cap,
        ext_quality_logit,
        ext_split_hash,
    )
    from lapidus_spark.functions.similarity import build_ivf_index, ext_semdedup
    from lapidus_spark.sources.tables import load_table

    stages = {
        "span_trim": ("ext_dup_span_trim", ext_dup_span_trim),
        "quality": ("ext_quality_logit", ext_quality_logit),
        "components": ("ext_dedup_components", ext_dedup_components),
        "semdedup": ("ext_semdedup", ext_semdedup),
        "decontam": ("ext_decontaminate", ext_decontaminate),
        "domain_cap": ("ext_domain_cap", ext_domain_cap),
    }
    dirs: dict[str, str] = {}
    with tracer.span("ivf_index", pass_id):
        build_ivf_index(spark, corpus_dir)
    for span, (name, fn) in stages.items():
        dirs[name] = os.path.join(out_dir, name)
        with tracer.span(span, pass_id):
            fn(spark, corpus_dir).write.parquet(dirs[name])

    survivors_dir = os.path.join(out_dir, "survivors")
    dirs["ext_split_hash"] = os.path.join(out_dir, "ext_split_hash")
    with tracer.span("assembly", pass_id) as attrs:
        ext_split_hash(spark, corpus_dir).write.parquet(dirs["ext_split_hash"])
        v = {n: spark.read.parquet(d) for n, d in dirs.items()}
        docs = load_table(spark, corpus_dir, "documents")
        span_ok = v["ext_dup_span_trim"].filter(
            F.col("n_kept") * 10 >= F.col("n_tokens") * 3
        ).select("doc_id")
        quality = (
            v["ext_quality_logit"].filter(F.col("keep") == 1).select("doc_id").join(span_ok, "doc_id")
        )
        # exact dedup after the quality gate: lowest surviving doc per
        # normalized-text hash
        canonical = (
            docs.join(quality, "doc_id")
            .select("doc_id", F.sha2(F.lower(F.trim(F.col("text"))), 256).alias("h"))
            .groupBy("h")
            .agg(F.min("doc_id").alias("doc_id"))
            .select("doc_id")
        )
        clustered = canonical.join(v["ext_dedup_components"], "doc_id", "left")
        deduped = clustered.filter(F.col("component").isNull()).select("doc_id").unionByName(
            clustered.filter(F.col("component").isNotNull())
            .groupBy("component")
            .agg(F.min("doc_id").alias("doc_id"))
            .select("doc_id")
        )
        sem_dropped = (
            v["ext_semdedup"]
            .select(F.explode(F.split("dropped_ids", r"\|")).alias("sid"))
            .filter(F.col("sid") != "")
            .select(F.col("sid").cast("long").alias("doc_id"))
        )
        capped = (
            v["ext_domain_cap"]
            .select(F.explode(F.split("kept_ids", r"\|")).alias("kid"))
            .filter(F.col("kid") != "")
            .select(F.col("kid").cast("long").alias("doc_id"))
        )
        survivors = (
            deduped.join(sem_dropped, "doc_id", "left_anti")
            .join(v["ext_decontaminate"].select("doc_id"), "doc_id", "left_anti")
            .join(capped, "doc_id")
            .join(v["ext_split_hash"].select("doc_id", "split"), "doc_id")
        )
        survivors.write.parquet(survivors_dir)
        kept = spark.read.parquet(survivors_dir).count()
        attrs["docs_kept"] = kept
    return dirs, survivors_dir, kept


def run(ctx) -> dict:
    """Set up (generate, one warm-up pass), time ``TIMED_PASSES``
    warm passes, verify every pass against the oracles."""
    from perfbench.trace import Tracer

    spark, tracer = ctx.spark, ctx.tracer
    tables = gen.corpus_tables(ctx.seed, CORPUS)
    copies = [os.path.join(ctx.work, f"corpus{i}") for i in range(1 + TIMED_PASSES)]
    for d in copies:
        gen.write_corpus(d, *tables)
    # the oracles (DuckDB, in a child process) run beside the warm-up
    # pass and are done before timing starts
    oracle_db = os.path.join(ctx.work, "oracle.duckdb")
    oracle = subprocess.Popen(
        [sys.executable, "-m", "perfbench.check", copies[0], oracle_db], cwd=ctx.root
    )
    try:
        warm = curate(spark, copies[0], os.path.join(copies[0], "out"), Tracer(False), 0)
    finally:
        if oracle.wait() != 0:
            raise RuntimeError(f"the corpus oracles failed (exit {oracle.returncode})")
    setup_s = ctx.setup_done()

    walls, passes = [], [warm[:2]]
    cpu0 = cpu_ms(ctx.pids)
    for i, d in enumerate(copies[1:], start=1):
        t0 = now_ms()
        dirs, survivors_dir, kept = curate(spark, d, os.path.join(d, "out"), tracer, i)
        walls.append(now_ms() - t0)
        tracer.add("pass", t0, t0 + walls[-1], i)
        passes.append((dirs, survivors_dir))
    cpu = cpu_ms(ctx.pids) - cpu0
    ctx.window_done()
    ctx.note("pass ms: " + " ".join(f"{w:.0f}" for w in walls))

    con = duckdb.connect(oracle_db)
    try:
        bad = check.check_corpus(con, passes)
    finally:
        con.close()
    wrong = {k: v for k, v in bad.items() if v}
    if wrong:
        ctx.note(f"corpus check mismatches: {wrong}")
    ctx.diagnostics = {
        "curate_s": median(walls) / 1000,
        "cpu_ms_per_pass": cpu / len(walls),
        "docs_kept": kept,
    }
    return {
        "setup_s": setup_s,
        "metrics": {"op_p50_ms": median(walls)},
        "attempted": len(passes) * len(bad),
        "failed": sum(1 for v in bad.values() if v),
        "correct": not wrong,
        "layer": lambda log: layer_metrics(ctx, log, kept),
    }


def layer_metrics(ctx, log: EventLog, kept: int) -> dict[str, float]:
    tr = ctx.tracer
    out = {m: median(s["end"] - s["start"] for s in tr.named(span)) for span, m in STAGE_METRICS.items()}
    out["curate.docs_kept"] = float(kept)
    out.update(per_op_spark(log, tr.named("pass")))
    return out
