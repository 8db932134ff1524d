"""Spark job count per merge, pinned for every arm of the shared
merge staging: locked and optimistic writers, each with and without a
CHECK constraint, plus the predicate upsert through
``merge_into_lake``. Each count is taken for ONE merge onto a lake
that already holds one data commit, so the staged plan reads stored
buckets (the steady-state shape, not the empty-lake bootstrap). One
compaction (``compact_lake`` with zone-map and Bloom-filter columns
declared) is pinned the same way.

The job count is the third "same behaviour" pin next to oracle parity
and the plan-audit contracts: a refactor of the staging step that
adds a job (a second scan, an extra collect, a lost fusion of the
CHECK validation with the touched-bucket set) fails here, in the
default tier, instead of showing up only as a slower commit.
Counting uses the same job-group probe as
``test_plan_audit.py::test_pagerank_builder_runs_no_spark_jobs``.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import lapidus_spark.streaming.materialize as M

STAMP_TS = "2024-06-01 00:00:00"


def _env(spark, ids, seq_base=0):
    return spark.createDataFrame([(i,) for i in ids], "id long").select(
        F.format_string("k%04d", F.col("id")).alias("pk"),
        (F.col("id") + seq_base).alias("event_seq"),
        F.timestamp_seconds(F.col("id") * 60 + 1_700_000_000 + seq_base)
        .cast("timestamp_ntz")
        .alias("ts"),
        F.lit("insert").alias("type"),
        F.format_string(f"v{seq_base}-%04d", F.col("id")).alias("item"),
    )


def _jobs_of(spark, group: str, fn) -> int:
    """Spark jobs ``fn`` runs, counted by job group once the listener
    bus has delivered every job-start event."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "merge job-count pin")
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _locked(spark, lake):
    M.merge_batch_into_lake(_env(spark, range(20, 60), 1000), lake, n_buckets=4)


def _optimistic(spark, lake):
    M.merge_batch_optimistic(_env(spark, range(20, 60), 1000), lake, n_buckets=4)


def _predicate(spark, lake):
    src = spark.createDataFrame(
        [(f"k{i:04d}", f"p{i}") for i in range(20, 60)], "pk string, item string"
    )
    res = M.merge_into_lake(
        src,
        lake,
        stamp_seq=10_000,
        stamp_ts=STAMP_TS,
        when_matched=({"update": {"item": "source.item"}},),
        when_not_matched=({"insert": None},),
    )
    assert (res["updated"], res["inserted"]) == (20, 20)


#: case → (merge, CHECK constraint or None, Spark jobs of one merge)
CASES = {
    "locked": (_locked, None, 5),
    "locked_check": (_locked, "item IS NOT NULL", 6),
    "optimistic": (_optimistic, None, 5),
    "optimistic_check": (_optimistic, "item IS NOT NULL", 6),
    "predicate_upsert": (_predicate, None, 13),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_merge_spark_jobs_pinned(spark, tmp_path, case):
    merge, check, expected = CASES[case]
    lake = str(tmp_path / "lake")
    M.merge_batch_into_lake(_env(spark, range(40)), lake, n_buckets=4)
    if check is not None:
        M.add_constraint(spark, lake, "item_present", check)
    version = M._read_manifest(lake)["version"]
    n = _jobs_of(spark, f"merge_jobs_{case}", lambda: merge(spark, lake))
    assert M._read_manifest(lake)["version"] == version + 1
    assert n == expected, f"{case}: {n} Spark jobs per merge, pinned {expected}"


#: Spark jobs of one compaction rewriting every bucket with stats and
#: Bloom-filter columns declared
COMPACT_JOBS = 6


def test_compaction_spark_jobs_pinned(spark, tmp_path):
    lake = str(tmp_path / "lake")
    M.merge_batch_into_lake(_env(spark, range(40)), lake, n_buckets=4)
    version = M._read_manifest(lake)["version"]
    res = {}

    def compact():
        res.update(
            M.compact_lake(
                spark,
                lake,
                target_files_per_bucket=0,
                stats_columns=("item",),
                bloom_columns=("item",),
            )
        )

    n = _jobs_of(spark, "compact_jobs", compact)
    assert (res["version"], res["compacted_buckets"]) == (version + 1, 4)
    m = M._read_manifest(lake)
    assert len(m["file_stats"]) == 4 and m["bloom_columns"] == ["item"]
    assert n == COMPACT_JOBS, f"{n} Spark jobs per compaction, pinned {COMPACT_JOBS}"
