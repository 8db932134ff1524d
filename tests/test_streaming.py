"""Streaming parity tests (SURVEY.md §2.4/§2.7 rebuild plan §M3).

Strategy mirrors the reference's integration suite (SURVEY §5): drive
real events through the pipeline end-to-end and assert emitted
envelopes — but with file-replay micro-batches instead of live DBs.
"""

from __future__ import annotations

import json

import pytest

from lapidus_spark.config import ConfigError, parse_config
from lapidus_spark.sources.cdc import ENVELOPE_SCHEMA, normalize_events
from lapidus_spark.sources.tables import load_table
from lapidus_spark.streaming.assembler import assemble_transactions
from lapidus_spark.streaming.pipeline import envelope_stream, run
from tests.conftest import SF_DIR


def _await_all(spark):
    for q in spark.streams.active:
        q.awaitTermination()


def test_envelope_stream_matches_batch(spark, tmp_path):
    """Stream and batch produce identical envelopes (same normalizer)."""
    from lapidus_spark.streaming.sources import batch_events, stream_events

    env = normalize_events(stream_events(spark, SF_DIR))
    q = (
        env.writeStream.format("memory")
        .queryName("env_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = spark.table("env_stream")
    batch = normalize_events(batch_events(spark, SF_DIR))
    assert streamed.schema == batch.schema
    assert streamed.count() == batch.count() == 1000
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0


def test_envelope_schema_is_canonical(spark):
    env = normalize_events(load_table(spark, SF_DIR, "events"))
    assert [f.name for f in env.schema.fields] == [f.name for f in ENVELOPE_SCHEMA.fields]


@pytest.fixture()
def tx_stream_dir(spark, tmp_path):
    """Two micro-batch files of envelope events with begin/commit
    markers, modeling the jsoncdc line stream (postgresql.js:400-469):
    tx 1 commits in batch 1, tx 2 spans both batches (state carry),
    tx 3 never commits (stays buffered until timeout)."""
    d = tmp_path / "txin"
    d.mkdir()

    def ev(seq, typ, tx):
        ts = "2024-01-01T00:00:0%d" % (seq % 10)
        return {
            "event_seq": seq,
            "source": "pg_main",
            "type": typ,
            "schema_name": "public",
            "table_name": "users",
            "pk": str(seq),
            "item": None,
            "tx_id": tx,
            "ts": ts,
        }

    batch1 = [
        ev(1, "beginTransaction", 1),
        ev(2, "insert", 1),
        ev(3, "update", 1),
        ev(4, "commitTransaction", 1),
        ev(5, "beginTransaction", 2),
        ev(6, "insert", 2),
    ]
    batch2 = [
        ev(7, "delete", 2),
        ev(8, "commitTransaction", 2),
        ev(9, "beginTransaction", 3),
        ev(10, "insert", 3),
    ]
    import os
    import time

    now = time.time()
    for i, batch in enumerate([batch1, batch2]):
        p = d / f"batch{i}.json"
        with open(p, "w") as f:
            for e in batch:
                f.write(json.dumps(e) + "\n")
        # distinct mtimes: the file source orders by modification time
        # and breaks ties arbitrarily — pin replay order explicitly
        os.utime(p, (now + i * 10, now + i * 10))
    return str(d)


def test_transaction_assembly_streaming(spark, tx_stream_dir, tmp_path):
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    schema = StructType(
        [
            StructField("event_seq", LongType()),
            StructField("source", StringType()),
            StructField("type", StringType()),
            StructField("schema_name", StringType()),
            StructField("table_name", StringType()),
            StructField("pk", StringType()),
            StructField("item", StringType()),
            StructField("tx_id", LongType()),
            StructField("ts", TimestampType()),
        ]
    )
    from lapidus_spark.streaming.sources import stream_json_dir

    env = stream_json_dir(spark, tx_stream_dir, schema, max_files_per_trigger=1)
    txs = assemble_transactions(env)
    q = (
        txs.writeStream.format("memory")
        .queryName("tx_out")
        .option("checkpointLocation", str(tmp_path / "txckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = {r["tx_id"]: r for r in spark.table("tx_out").collect()}
    # tx 1: committed within batch 1, statement order preserved
    assert out[1]["n_items"] == 2
    assert out[1]["item_types"] == "insert|update"
    assert out[1]["first_seq"] == 2 and out[1]["last_seq"] == 3
    # tx 2: spans micro-batches — state carried across triggers
    assert out[2]["n_items"] == 2
    assert out[2]["item_types"] == "insert|delete"
    # tx 3: never committed — must NOT be emitted
    assert 3 not in out


def test_tx_state_survives_restart(spark, tmp_path, tx_stream_dir):
    """Stateful restart: an open transaction buffered in the state
    store survives a full query stop/start cycle (checkpoint resume —
    the durable-cursor upgrade over the reference's in-memory buffer,
    postgresql.js:14-17). Batch file 1 is processed in run 1; the
    query is then torn down; run 2 picks up batch file 2 and emits
    the transaction that spans both runs."""
    import os
    import shutil

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from lapidus_spark.streaming.sources import stream_json_dir

    schema = StructType(
        [
            StructField("event_seq", LongType()),
            StructField("source", StringType()),
            StructField("type", StringType()),
            StructField("schema_name", StringType()),
            StructField("table_name", StringType()),
            StructField("pk", StringType()),
            StructField("item", StringType()),
            StructField("tx_id", LongType()),
            StructField("ts", TimestampType()),
        ]
    )
    # run 1 sees only batch0 (tx 1 commits; tx 2 left open in state)
    staged = tmp_path / "staged"
    staged.mkdir()
    live = tmp_path / "live"
    live.mkdir()
    shutil.copy(os.path.join(tx_stream_dir, "batch0.json"), live / "batch0.json")
    ckpt = str(tmp_path / "restartckpt")
    out = str(tmp_path / "restartout")

    def run_once():
        env = stream_json_dir(spark, str(live), schema, max_files_per_trigger=1)
        q = (
            assemble_transactions(env)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    first = {r["tx_id"]: r for r in spark.read.parquet(out).collect()}
    assert set(first) == {1}  # tx 2 still open, held in the checkpointed state

    # query fully stopped; new data arrives; a NEW query resumes from
    # the checkpoint and completes the cross-restart transaction
    shutil.copy(os.path.join(tx_stream_dir, "batch1.json"), live / "batch1.json")
    run_once()
    second = {r["tx_id"]: r for r in spark.read.parquet(out).collect()}
    assert second[2]["n_items"] == 2
    assert second[2]["item_types"] == "insert|delete"
    assert 3 not in second  # still uncommitted


def test_funnel_state_survives_restart(spark, tmp_path):
    """CEP restart: candidate stages buffered in the state store
    survive a full query stop/start cycle — run 1 sees only a view
    and a purchase (no funnel entry, nothing emitted, candidates held
    in checkpointed state); after a teardown, run 2 delivers a LATE,
    earlier signup and the funnel completes from the recovered
    candidate sets (signup -> that view -> that purchase)."""
    import json as _json

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from lapidus_spark.streaming.cep import funnel_stream
    from lapidus_spark.streaming.sources import stream_json_dir

    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts_us", LongType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
        ]
    )
    live = tmp_path / "live"
    live.mkdir()
    ckpt = str(tmp_path / "funnelckpt")
    out = str(tmp_path / "funnelout")

    def write_batch(name, rows):
        (live / name).write_text(
            "\n".join(
                _json.dumps(
                    {"event_id": e, "ts_us": t, "user_id": u, "event_type": ty}
                )
                for e, t, u, ty in rows
            )
        )

    def run_once():
        ev = stream_json_dir(spark, str(live), schema, max_files_per_trigger=1)

        def sink(batch_df, epoch_id):
            batch_df.write.mode("append").parquet(out)

        q = (
            funnel_stream(ev)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # run 1: view + purchase only — no stage-1, so nothing may emit
    write_batch("batch0.json", [(2, 20, 7, "view"), (3, 30, 7, "purchase")])
    run_once()
    assert spark.read.schema(
        "entity_id LONG, version LONG, signup_us LONG, view_us LONG, purchase_us LONG"
    ).parquet(out).count() == 0

    # teardown done (availableNow drained); the LATE signup arrives
    # with an EARLIER timestamp; a new query resumes from checkpoint
    write_batch("batch1.json", [(1, 10, 7, "signup")])
    run_once()
    rows = {r["entity_id"]: r for r in spark.read.parquet(out).collect()}
    assert rows[7]["signup_us"] == 10
    assert rows[7]["view_us"] == 20  # recovered candidate, re-resolved
    assert rows[7]["purchase_us"] == 30
    assert rows[7]["version"] == 2  # state version carried across runs


def test_pipeline_fanout_and_gating(spark, tmp_path):
    """End-to-end daemon run: file backend → two sinks with different
    type gates (per-sink emit flags, postgresql.js:88-97)."""
    cfg = parse_config(
        json.dumps(
            {
                "backends": [
                    {
                        "name": "pg_main",
                        "type": "file",
                        "path": SF_DIR,
                        "sinks": [
                            {"type": "memory", "options": {"table": "all_events"}},
                            {
                                "type": "memory",
                                "options": {"table": "inserts_only"},
                                "enabledTypes": ["insert"],
                            },
                        ],
                    }
                ]
            }
        )
    )
    run(spark, cfg, checkpoint_root=str(tmp_path / "ckpts"))
    all_n = spark.table("all_events").count()
    ins_n = spark.table("inserts_only").count()
    assert all_n == 1000
    batch = normalize_events(load_table(spark, SF_DIR, "events"))
    assert ins_n == batch.filter("type = 'insert'").count() > 0


def test_pipeline_exclude_tables(spark, tmp_path):
    cfg = parse_config(
        json.dumps(
            {
                "backends": [
                    {
                        "name": "pg2",
                        "type": "file",
                        "path": SF_DIR,
                        "excludeTables": ["users"],
                        "sinks": [{"type": "memory", "options": {"table": "excluded_out"}}],
                    }
                ]
            }
        )
    )
    run(spark, cfg, checkpoint_root=str(tmp_path / "ckpts2"))
    assert spark.table("excluded_out").count() == 0  # all fixture rows are table 'users'


def test_parquet_sink_subject_and_cache_topic(spark, tmp_path):
    out = tmp_path / "out"
    cfg = parse_config(
        json.dumps(
            {
                "backends": [
                    {
                        "name": "pg3",
                        "type": "file",
                        "path": SF_DIR,
                        "sinks": [
                            {
                                "type": "parquet",
                                "options": {"path": str(out)},
                                "cachePrefix": "cache",
                            }
                        ],
                    }
                ]
            }
        )
    )
    run(spark, cfg, checkpoint_root=str(tmp_path / "ckpts3"))
    written = spark.read.parquet(str(out))
    assert written.count() == 1000
    row = written.filter("type = 'delete'").first()
    assert row["subject"] == f"public.users.{row['pk']}"
    assert row["cache_topic"] == f"cache.purge.public.users.{row['pk']}"
    row = written.filter("type = 'insert'").first()
    assert row["cache_topic"].startswith("cache.populate.")


def test_watermark_append_windows(spark, tmp_path):
    """Watermarked append-mode tumbling windows: only windows closed by
    the watermark are emitted; the trailing open window is withheld
    (late-data handling the reference lacks, SURVEY §2.4 scorecard).

    Two micro-batches: batch 2's later event times advance the
    watermark past batch 1's windows, which then emit."""
    import os
    import time

    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    d = tmp_path / "wmin"
    d.mkdir()
    batches = [
        # hour-10 and hour-11 events
        [(1, "2024-01-01T10:05:00"), (2, "2024-01-01T10:55:00"), (3, "2024-01-01T11:10:00")],
        # hour-13 events: watermark (max ts - 10 min) passes end of hours 10-12
        [(4, "2024-01-01T13:30:00"), (5, "2024-01-01T13:40:00")],
    ]
    now = time.time()
    for i, rows in enumerate(batches):
        p = d / f"b{i}.json"
        with open(p, "w") as f:
            for seq, ts in rows:
                f.write('{"event_seq": %d, "ts": "%s"}\n' % (seq, ts))
        os.utime(p, (now + i * 10, now + i * 10))

    schema = StructType(
        [StructField("event_seq", LongType()), StructField("ts", TimestampType())]
    )
    env = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(str(d))
    )
    agg = (
        env.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("wm_out")
        .option("checkpointLocation", str(tmp_path / "wmckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r["window_start"].hour: r["n"] for r in spark.table("wm_out").collect()}
    # hours 10 (2 events) and 11 (1 event) closed and emitted; hour 13
    # still open (watermark 13:30) — withheld until more data arrives
    assert got == {10: 2, 11: 1}


def test_checkpoint_resume_no_duplicates(spark, tmp_path):
    """Restarting from the checkpoint neither re-emits nor skips:
    the slot-cursor semantics (src_slot, postgresql.js:290-354)
    upgraded to exactly-once (SURVEY §2.4 scorecard upgrade)."""
    import json as _json
    import os
    import time

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    d = tmp_path / "ckin"
    d.mkdir()
    ckpt = str(tmp_path / "resume_ckpt")

    def write_batch(i, rows):
        p = d / f"b{i}.json"
        with open(p, "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")
        os.utime(p, (time.time() + i * 10,) * 2)

    schema = StructType(
        [StructField("event_seq", LongType()), StructField("v", StringType())]
    )
    out = str(tmp_path / "resume_out")

    def run_once():
        env = spark.readStream.schema(schema).json(str(d))
        q = (
            env.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(out)

    write_batch(0, [{"event_seq": 1, "v": "a"}, {"event_seq": 2, "v": "b"}])
    assert run_once().count() == 2

    # new data lands while the query is down; restart resumes from the
    # checkpoint: exactly the new file is appended (no re-emit, no skip)
    write_batch(1, [{"event_seq": 3, "v": "c"}])
    second = run_once()
    assert sorted(r["event_seq"] for r in second.collect()) == [1, 2, 3]


def test_foreach_batch_callback_sink(spark, tmp_path):
    """sink_cb: per-micro-batch user callback (onInsert/...
    postgresql.js:99-106) with type gating."""
    from lapidus_spark.sources.cdc import normalize_events
    from lapidus_spark.streaming.sinks import foreach_batch_sink
    from lapidus_spark.streaming.sources import stream_events

    seen: list[tuple[int, int]] = []

    def handler(df, epoch_id):
        seen.append((epoch_id, df.count()))

    env = normalize_events(stream_events(spark, SF_DIR))
    q = (
        foreach_batch_sink(env, handler, enabled_types=["insert"])
        .option("checkpointLocation", str(tmp_path / "cbckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    batch = normalize_events(load_table(spark, SF_DIR, "events"))
    expected = batch.filter("type = 'insert'").count()
    assert sum(n for _, n in seen) == expected > 0


def test_pipeline_monitor_listener(spark, tmp_path):
    """ctl-plane health events (src_stderr analog): the listener sees
    start, progress with row counts, and clean termination."""
    import time

    from lapidus_spark.sources.cdc import normalize_events
    from lapidus_spark.streaming.monitor import PipelineMonitor, probe_source
    from lapidus_spark.streaming.sources import stream_events

    # start-up probe (src_probe): source exists and has the schema
    assert probe_source(spark, f"{SF_DIR}/events.parquet").count() == 1

    mon = PipelineMonitor()
    spark.streams.addListener(mon)
    try:
        env = normalize_events(stream_events(spark, SF_DIR))
        q = (
            env.writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "monckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # listener callbacks are async — wait for the terminated event
        for _ in range(50):
            if any(e.kind in ("terminated", "error") for e in mon.events):
                break
            time.sleep(0.2)
    finally:
        spark.streams.removeListener(mon)

    kinds = [e.kind for e in mon.events]
    assert "started" in kinds and "terminated" in kinds
    assert not mon.errors()
    assert mon.total_input_rows() == 1000


def test_cli_daemon_end_to_end(spark, tmp_path):
    """ctl_cli (index.js:5-53): the daemon entry point drives a config
    through parse → validate → pipeline → sink, end to end (the
    reference's spawnSync smoke test, test/postgresql.test.js:43-51 —
    ours reuses the live session instead of forking)."""
    import json as _json

    from lapidus_spark.__main__ import main

    out = tmp_path / "cliout"
    cfg_file = tmp_path / "cli.json"
    cfg_file.write_text(
        _json.dumps(
            {
                "backends": [
                    {
                        "name": "cli_pg",
                        "type": "file",
                        "path": SF_DIR,
                        "sinks": [
                            {"type": "parquet", "options": {"path": str(out)},
                             "cachePrefix": "cache"}
                        ],
                    }
                ]
            }
        )
    )
    # validate-only path (the reference's -t flag)
    assert main(["-c", str(cfg_file), "--validate-only"]) == 0
    # bad config path
    assert main(["-c", str(tmp_path / "missing.json"), "--validate-only"]) == 1

    # full run: the daemon builds its own session via get_spark —
    # getOrCreate reuses the test session, so the run is in-process
    assert main(["-c", str(cfg_file)]) == 0
    written = spark.read.parquet(str(out))
    assert written.count() == 1000
    assert "cache_topic" in written.columns


# ---- config validation (ctl_config, mirrors test/config.test.js) ----


def _envelope_replay_setup(spark, tmp_path):
    """Two-micro-batch envelope replay stream + the batch expectation:
    last-write-wins per pk with deletes dropped (shared by the dict
    and partitioned upsert-sink tests)."""
    import os
    import time

    from pyspark.sql import functions as F

    from lapidus_spark.sources.cdc import ENVELOPE_SCHEMA, normalize_events
    from lapidus_spark.streaming.sources import stream_json_dir

    env_batch = normalize_events(load_table(spark, SF_DIR, "events"))
    pdf = env_batch.withColumn(
        "ts", F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
    ).toPandas()
    d = tmp_path / "matin"
    d.mkdir()
    half = pdf["event_seq"].median()
    now = time.time()
    for i, part in enumerate([pdf[pdf.event_seq <= half], pdf[pdf.event_seq > half]]):
        p = d / f"b{i}.json"
        part.to_json(p, orient="records", lines=True, date_format="iso")
        os.utime(p, (now + i * 10, now + i * 10))

    env = stream_json_dir(spark, str(d), ENVELOPE_SCHEMA, max_files_per_trigger=1)
    expected = {
        r["entity_id"]: r
        for r in env_batch.groupBy(F.col("pk").alias("entity_id"))
        .agg(
            F.max_by(F.struct("event_seq", "type"), F.struct("ts", "event_seq")).alias("l")
        )
        .select("entity_id", F.col("l.event_seq").alias("last_seq"), F.col("l.type").alias("last_type"))
        .filter(F.col("last_type") != "delete")
        .collect()
    }
    return env, expected


def test_materialized_snapshot_matches_batch(spark, tmp_path):
    """The canonical CDC consumer (cache semantics, nats.js:25-28):
    a streaming last-write-wins snapshot merged by an idempotent
    upsert sink over TWO micro-batches equals the batch snapshot —
    deletes purge their entities."""
    from lapidus_spark.streaming.materialize import materialize

    env, expected = _envelope_replay_setup(spark, tmp_path)
    store: dict = {}
    wait = materialize(env, store, checkpoint=str(tmp_path / "matckpt"))
    wait()

    assert set(store) == set(expected)
    for k, v in expected.items():
        assert store[k]["last_seq"] == v["last_seq"]


def test_partitioned_upsert_matches_batch(spark, tmp_path):
    """The SCALE path of the CDC consumer: foreachPartition upsert —
    every executor task opens its own store connection and writes only
    its slice of the changed keys (no driver-side collect). Asserts
    (a) the materialized snapshot equals the batch answer and (b) the
    writes actually came from multiple partition-level store
    connections."""
    import os

    from lapidus_spark.streaming.materialize import DirKVStore, materialize

    env, expected = _envelope_replay_setup(spark, tmp_path)
    root = str(tmp_path / "kv")
    markers = str(tmp_path / "conn_markers")
    os.makedirs(markers, exist_ok=True)

    # closure (not module-level) so cloudpickle ships it by VALUE —
    # executors can't import the test module by name
    def marker_store():
        import os as _os
        import tempfile as _tf

        from lapidus_spark.streaming.materialize import DirKVStore

        store = DirKVStore(root)
        fd, _ = _tf.mkstemp(dir=markers, prefix="conn-")
        _os.close(fd)
        return store

    wait = materialize(
        env,
        checkpoint=str(tmp_path / "pmatckpt"),
        store_factory=marker_store,
    )
    wait()

    store = DirKVStore(root)
    assert set(store.keys()) == {str(k) for k in expected}
    for k, v in expected.items():
        assert store.get(k)["last_seq"] == v["last_seq"]
    # >1 store connection ⇒ the merge ran per-partition, not on the
    # driver (update-mode output is hash-partitioned by entity key)
    assert len(os.listdir(markers)) > 1


def test_rate_source_soak(spark, tmp_path):
    """Synthetic load soak (the reference's TPC-C-generator role,
    README.md:241-245): a rate stream through an envelope-shaped
    transform sustains processing with no errors."""
    import time

    from pyspark.sql import functions as F

    from lapidus_spark.streaming.sources import stream_rate

    src = stream_rate(spark, rows_per_second=5000)
    env = src.select(
        F.col("value").alias("event_seq"),
        F.lit("rate").alias("source"),
        (F.col("value") % 3).cast("string").alias("type"),
        F.col("timestamp").alias("ts"),
    )
    q = (
        env.writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "rateckpt"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    deadline = time.time() + 30
    rows = 0
    while time.time() < deadline:
        p = q.lastProgress
        rows = (p or {}).get("numInputRows", 0) or rows
        if rows > 0:
            break
        time.sleep(0.3)
    q.stop()
    assert q.exception() is None
    assert rows > 0


def test_sql_views_api(spark):
    """register_views: the SQL-first API surface — every fixture
    queryable via spark.sql (ctl parity: spark-submit + SQL configs)."""
    from lapidus_spark.sources.tables import register_views

    register_views(spark, SF_DIR)
    out = spark.sql(
        "SELECT event_type, count(*) AS n FROM events GROUP BY event_type"
    )
    assert out.count() == 5
    assert spark.sql("SELECT count(*) FROM lineitem").first()[0] > 0


def test_query_stop_lifecycle(spark, tmp_path):
    """ctl_lifecycle (stop/kill semantics, postgresql.js:356-371):
    a continuously-triggered query stops cleanly on stop() — no
    exception, no re-processing loss (state is in the checkpoint)."""
    import time

    from lapidus_spark.sources.cdc import normalize_events
    from lapidus_spark.streaming.sources import stream_events

    env = normalize_events(stream_events(spark, SF_DIR))
    q = (
        env.writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "stopckpt"))
        .trigger(processingTime="1 second")
        .start()
    )
    deadline = time.time() + 30
    while time.time() < deadline and (q.lastProgress or {}).get("numInputRows") is None:
        time.sleep(0.3)
    q.stop()
    for _ in range(50):
        if not q.isActive:
            break
        time.sleep(0.2)
    assert not q.isActive
    assert q.exception() is None


def test_multi_backend_union(spark, tmp_path):
    """ctl_fork/agg_order: two backends running side by side in one
    session (the reference forks one OS process per backend,
    lapidus.js:88-109), envelopes distinguishable by source and
    unionable downstream."""
    cfg = parse_config(
        json.dumps(
            {
                "backends": [
                    {
                        "name": "pg_a",
                        "type": "file",
                        "path": SF_DIR,
                        "sinks": [{"type": "memory", "options": {"table": "union_a"}}],
                    },
                    {
                        "name": "pg_b",
                        "type": "file",
                        "path": SF_DIR,
                        "emitTypes": ["delete"],
                        "sinks": [{"type": "memory", "options": {"table": "union_b"}}],
                    },
                ]
            }
        )
    )
    run(spark, cfg, checkpoint_root=str(tmp_path / "mbckpt"))
    a, b = spark.table("union_a"), spark.table("union_b")
    merged = a.unionByName(b)
    assert a.count() == 1000
    assert set(r["source"] for r in merged.select("source").distinct().collect()) == {
        "pg_a",
        "pg_b",
    }
    # per-backend gating independent (flag cascade per backend)
    assert set(r["type"] for r in b.select("type").distinct().collect()) == {"delete"}


def test_plugin_sink_registry(spark, tmp_path):
    """sink_plugin (lapidus.js:28-49): a third-party sink factory
    registered by name, validated in config, driven by the pipeline."""
    from lapidus_spark import config as cfg_mod
    from lapidus_spark.streaming.sinks import SINK_FACTORIES, register_sink

    @register_sink("upper_memory")
    def upper_memory(df, table="plugin_out"):
        from pyspark.sql import functions as F

        return (
            df.withColumn("table_name", F.upper("table_name"))
            .writeStream.format("memory")
            .queryName(table)
            .outputMode("append")
        )

    cfg_mod.EXTRA_SINK_TYPES.add("upper_memory")
    try:
        cfg = parse_config(
            json.dumps(
                {
                    "backends": [
                        {
                            "name": "pgp",
                            "type": "file",
                            "path": SF_DIR,
                            "sinks": [
                                {"type": "upper_memory", "options": {"table": "plugin_out"}}
                            ],
                        }
                    ]
                }
            )
        )
        run(spark, cfg, checkpoint_root=str(tmp_path / "plugckpt"))
        out = spark.table("plugin_out")
        assert out.count() == 1000
        assert out.select("table_name").first()[0] == "USERS"
    finally:
        cfg_mod.EXTRA_SINK_TYPES.discard("upper_memory")
        SINK_FACTORIES.pop("upper_memory", None)

    # unregistered type still rejected (ctl_config parity)
    with pytest.raises(ConfigError, match="unknown type"):
        parse_config(
            json.dumps(
                {"backends": [{"type": "file", "path": "/x",
                               "sinks": [{"type": "upper_memory"}]}]}
            )
        )


def test_config_parse_error_mentions_parse():
    with pytest.raises(ConfigError, match="Parse"):
        parse_config("{not json")


def test_config_requires_backend():
    with pytest.raises(ConfigError, match="at least one backend"):
        parse_config('{"backends": []}')


def test_config_unknown_backend_type():
    with pytest.raises(ConfigError, match="unknown type"):
        parse_config('{"backends": [{"type": "oracle"}]}')


def test_config_pg_slot_required():
    with pytest.raises(ConfigError, match="slot"):
        parse_config('{"backends": [{"type": "postgresql"}]}')
    with pytest.raises(ConfigError, match="slot"):
        parse_config('{"backends": [{"type": "postgresql", "slot": "bad slot!"}]}')


def test_config_global_sink_inheritance():
    cfg = parse_config(
        json.dumps(
            {
                "backends": [{"type": "file", "path": "/x"}],
                "sinks": [{"type": "console"}],
            }
        )
    )
    assert cfg.backends[0].sinks[0].type == "console"  # lapidus.js:96


def test_config_emit_flag_cascade():
    cfg = parse_config(
        json.dumps(
            {
                "backends": [
                    {"type": "file", "path": "/x", "emitEvents": False},
                    {"type": "file", "path": "/x", "emitTypes": ["insert"]},
                ],
                "sinks": [{"type": "console"}],
            }
        )
    )
    assert cfg.backends[0].enabled_types() == []  # master switch off
    assert cfg.backends[1].enabled_types() == ["insert"]  # explicit wins


def test_config_per_kind_emit_flags():
    """Constructor cascade (postgresql.js:88-97): explicit per-kind
    boolean wins, unset kinds inherit the master."""
    cfg = parse_config(
        json.dumps(
            {
                "backends": [
                    {"type": "file", "path": "/x", "emitDelete": False},
                    {"type": "file", "path": "/x", "emitEvents": False,
                     "emitInsert": True},
                ],
                "sinks": [{"type": "console"}],
            }
        )
    )
    b0, b1 = cfg.backends
    assert b0.emit["insert"] and b0.emit["update"] and not b0.emit["delete"]
    assert b0.enabled_types() == ["insert", "update"]
    assert b1.emit["insert"] and not b1.emit["update"] and not b1.emit["delete"]
    assert not b1.emit["schema"] and not b1.emit["commitTransaction"]
    assert b1.enabled_types() == ["insert"]


def test_config_emit_master_setter_overwrites_all():
    """emitEvents SETTER cascade (postgresql.js:153-170): assigning the
    master after construction overwrites every per-kind flag, explicit
    ones included."""
    from lapidus_spark.config import EmitFlags

    flags = EmitFlags(master=True, explicit={"delete": False})
    assert not flags["delete"]
    flags.master = False
    assert flags.enabled() == []
    flags.master = True
    assert flags["delete"]  # explicit override NOT preserved — by design


def test_config_wrapper_cascade_preserves_explicit():
    """onEventsWrapper setter (postgresql.js:108-142): re-assigning the
    master re-points only kinds still tracking the old master;
    explicitly-set wrappers keep their value."""
    from lapidus_spark.config import WrapperCascade

    cascade = WrapperCascade(master="gzip", explicit={"delete": "audit"})
    assert cascade["insert"] == "gzip" and cascade["delete"] == "audit"
    cascade.master = "zstd"
    assert cascade["insert"] == "zstd"  # tracked the master → re-pointed
    assert cascade["delete"] == "audit"  # explicit → preserved
    # parse path: wrapper names from JSON config
    cfg = parse_config(
        json.dumps(
            {
                "backends": [
                    {"type": "file", "path": "/x",
                     "onEventsWrapper": "gzip", "onSchemaWrapper": "raw"}
                ],
                "sinks": [{"type": "console"}],
            }
        )
    )
    w = cfg.backends[0].wrappers
    assert w["insert"] == "gzip" and w["schema"] == "raw"


def test_config_file_backend_requires_path():
    """validate-time error instead of a TypeError deep in
    stream_events (mirrors the pg slot check)."""
    with pytest.raises(ConfigError, match="path"):
        parse_config('{"backends": [{"type": "file"}], "sinks": [{"type": "console"}]}')


def test_config_backend_sinks_override_global():
    """lapidus.js:96: a backend with its own sinks does NOT inherit the
    global list; one without any does."""
    cfg = parse_config(
        json.dumps(
            {
                "backends": [
                    {"type": "file", "path": "/x",
                     "sinks": [{"type": "memory"}]},
                    {"type": "file", "path": "/y"},
                ],
                "sinks": [{"type": "console"}],
            }
        )
    )
    assert [s.type for s in cfg.backends[0].sinks] == ["memory"]
    assert [s.type for s in cfg.backends[1].sinks] == ["console"]


def test_tx_assembly_transform_with_state(spark, request):
    """The Spark 4 transformWithStateInPandas assembler must agree
    with the applyInPandasWithState one. Skips where google.protobuf
    (required by the transformWithState state server) is absent."""
    pytest.importorskip("google.protobuf")
    from lapidus_spark.streaming.queries import (
        stream_tx_assembly,
        stream_tx_assembly_tws,
    )

    a = stream_tx_assembly(spark, SF_DIR).collect()
    b = stream_tx_assembly_tws(spark, SF_DIR).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_partitioned_upsert_hot_key_bounded(spark, tmp_path):
    """Skew-adversarial upsert: ONE hot entity receives the vast
    majority of updates (the nats.js cache shape under a hot row).
    The update-mode last-write-wins aggregation must collapse each
    batch's torrent to at most one changed row per key BEFORE the
    sink, so per-partition store-write counts stay bounded by
    (distinct keys x batches) — never proportional to the update
    volume — and the store converges to the final value."""
    import datetime
    import json as _json
    import os
    import time

    from lapidus_spark.sources.cdc import ENVELOPE_SCHEMA
    from lapidus_spark.streaming.materialize import DirKVStore, materialize
    from lapidus_spark.streaming.sources import stream_json_dir

    hot_n, cold_keys, n_batches = 4000, 20, 2
    d = tmp_path / "hotin"
    d.mkdir()
    seq = 0
    now = time.time()
    for b in range(n_batches):
        rows = []
        for _ in range(hot_n):
            seq += 1
            rows.append(("hot", seq))
        for ck in range(cold_keys):
            seq += 1
            rows.append((f"cold{ck}", seq))
        p = d / f"b{b}.json"
        with open(p, "w") as fh:
            for pk, s in rows:
                fh.write(
                    _json.dumps(
                        {
                            "event_seq": s,
                            "source": "pg_main",
                            "type": "update",
                            "schema_name": "public",
                            "table_name": "users",
                            "pk": pk,
                            "item": '{"v":%d}' % s,
                            "tx_id": s,
                            "ts": (
                                datetime.datetime(2026, 1, 1)
                                + datetime.timedelta(seconds=s)
                            ).isoformat(),
                        }
                    )
                    + "\n"
                )
        os.utime(p, (now + b * 10, now + b * 10))

    env = stream_json_dir(spark, str(d), ENVELOPE_SCHEMA, max_files_per_trigger=1)
    root = str(tmp_path / "hotkv")
    puts_dir = str(tmp_path / "hotputs")
    os.makedirs(puts_dir, exist_ok=True)

    def counting_store():
        import os as _os
        import tempfile as _tf

        from lapidus_spark.streaming.materialize import DirKVStore

        class CountingStore(DirKVStore):
            def put(self, key, value):
                fd, _ = _tf.mkstemp(dir=puts_dir, prefix=f"put-{key}-")
                _os.close(fd)
                super().put(key, value)

        return CountingStore(root)

    materialize(env, checkpoint=str(tmp_path / "hotckpt"), store_factory=counting_store)()

    store = DirKVStore(root)
    # converged: the hot entity holds the LAST update of the stream
    assert store.get("hot")["last_seq"] == n_batches * (hot_n + cold_keys) - cold_keys
    assert len(store.keys()) == 1 + cold_keys
    # bounded writes: the 8k-update hot key reached the store at most
    # once per batch — the aggregation absorbed the skew, the sink
    # never saw per-event traffic
    puts = os.listdir(puts_dir)
    hot_puts = [f for f in puts if f.startswith("put-hot-")]
    assert 1 <= len(hot_puts) <= n_batches
    assert len(puts) <= (1 + cold_keys) * n_batches


class _FakeListState:
    """Minimal stand-in for the transformWithState ListState handle —
    enough to drive TxAssemblerProcessor's logic without the RocksDB
    state server (which needs google.protobuf, absent here)."""

    def __init__(self):
        self._items: list[tuple] = []

    def exists(self):
        return bool(self._items)

    def get(self):
        return iter(self._items)

    def appendList(self, items):
        self._items.extend(items)

    def clear(self):
        self._items = []


class _FakeHandle:
    def __init__(self):
        self.states = {}

    def getListState(self, name, schema):
        return self.states.setdefault(name, _FakeListState())


def test_tws_processor_logic_matches_group_state_handler():
    """Environment-independent twin check: the transformWithState
    processor and the applyInPandasWithState handler must produce
    identical emissions for the same per-key batch sequences —
    including buffering across batches, commit-triggered emission
    with seq-sorted item order, and state clearing. This proves the
    PROCESSOR logic while the protobuf-gated integration test
    (test_tx_assembly_transform_with_state) proves the wiring where
    the environment allows."""
    import pandas as pd

    from lapidus_spark.streaming.assembler import TxAssemblerProcessor, _assemble_tx

    class _FakeGroupState:
        def __init__(self):
            self._v = None
            self.hasTimedOut = False

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v

        def remove(self):
            self._v = None

    batches = [
        pd.DataFrame(
            {
                "tx_id": [7, 7, 7],
                "type": ["beginTransaction", "insert", "update"],
                "event_seq": [0, 30, 10],
                "ts": pd.to_datetime(["2026-01-01"] * 3),
            }
        ),
        pd.DataFrame(
            {
                "tx_id": [7, 7],
                "type": ["delete", "commitTransaction"],
                "event_seq": [20, 99],
                "ts": pd.to_datetime(["2026-01-01", "2026-01-02"]),
            }
        ),
    ]

    proc = TxAssemblerProcessor()
    proc.init(_FakeHandle())
    gs = _FakeGroupState()
    tws_out, gst_out = [], []
    for b in batches:
        tws_out += list(proc.handleInputRows((7,), iter([b]), None))
        gst_out += list(_assemble_tx((7,), iter([b]), gs, timeout_ms=None))

    assert len(tws_out) == len(gst_out) == 1
    t, g = tws_out[0].iloc[0], gst_out[0].iloc[0]
    for col in ("tx_id", "n_items", "first_seq", "last_seq", "item_types"):
        assert t[col] == g[col], col
    # buffered items emitted in SEQ order, not arrival order
    assert t["item_types"] == "update|delete|insert"
    assert t["first_seq"] == 10 and t["last_seq"] == 30 and t["n_items"] == 3
    # state cleared after commit on both implementations
    assert not proc._items.exists() and not gs.exists


def test_partitioned_upsert_restart_exactly_once(spark, tmp_path):
    """Exactly-once THROUGH THE SINK across a restart: run the upsert
    stream over the first half of the replay, stop, let the second
    half arrive, restart on the SAME checkpoint. The resumed run must
    process only the new file (offsets committed), every batch's
    upserts must be idempotent re-applications at worst, and the
    final store must equal the batch snapshot. A third run with no
    new data must write nothing at all."""
    import os
    import time

    from pyspark.sql import functions as F

    from lapidus_spark.sources.cdc import ENVELOPE_SCHEMA, normalize_events
    from lapidus_spark.streaming.materialize import DirKVStore, materialize
    from lapidus_spark.streaming.sources import stream_json_dir

    env_batch = normalize_events(load_table(spark, SF_DIR, "events"))
    pdf = env_batch.withColumn(
        "ts", F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
    ).toPandas()
    d = tmp_path / "restartin"
    d.mkdir()
    half = pdf["event_seq"].median()
    now = time.time()
    parts = [pdf[pdf.event_seq <= half], pdf[pdf.event_seq > half]]
    p0 = d / "b0.json"
    parts[0].to_json(p0, orient="records", lines=True, date_format="iso")
    os.utime(p0, (now, now))

    root = str(tmp_path / "rkv")
    puts_dir = str(tmp_path / "rputs")
    os.makedirs(puts_dir, exist_ok=True)
    ckpt = str(tmp_path / "rckpt")

    def counting_store():
        import os as _os
        import tempfile as _tf

        from lapidus_spark.streaming.materialize import DirKVStore

        class CountingStore(DirKVStore):
            def put(self, key, value):
                fd, _ = _tf.mkstemp(dir=puts_dir, prefix="put-")
                _os.close(fd)
                super().put(key, value)

            def delete(self, key):
                fd, _ = _tf.mkstemp(dir=puts_dir, prefix="del-")
                _os.close(fd)
                super().delete(key)

        return CountingStore(root)

    def run():
        env = stream_json_dir(spark, str(d), ENVELOPE_SCHEMA, max_files_per_trigger=1)
        materialize(env, checkpoint=ckpt, store_factory=counting_store)()

    run()  # first half only
    writes_after_first = len(os.listdir(puts_dir))
    assert writes_after_first > 0

    p1 = d / "b1.json"
    parts[1].to_json(p1, orient="records", lines=True, date_format="iso")
    os.utime(p1, (now + 10, now + 10))
    run()  # restart: must pick up ONLY b1 (not reprocess b0)
    writes_after_second = len(os.listdir(puts_dir))
    # update-mode emits only keys changed by the new batch; strictly
    # fewer than a full reprocess (b0 keys ∪ b1 keys) would produce
    n_keys_b1 = parts[1]["pk"].nunique()
    assert writes_after_second - writes_after_first <= n_keys_b1

    run()  # nothing new: the sink must see zero rows
    assert len(os.listdir(puts_dir)) == writes_after_second

    expected = {
        r["entity_id"]: r
        for r in env_batch.groupBy(F.col("pk").alias("entity_id"))
        .agg(
            F.max_by(F.struct("event_seq", "type"), F.struct("ts", "event_seq")).alias("l")
        )
        .select("entity_id", F.col("l.event_seq").alias("last_seq"), F.col("l.type").alias("last_type"))
        .filter(F.col("last_type") != "delete")
        .collect()
    }
    store = DirKVStore(root)
    assert set(store.keys()) == {str(k) for k in expected}
    for k, v in expected.items():
        assert store.get(k)["last_seq"] == v["last_seq"]


def test_merge_lake_idempotent_and_order_independent(spark, tmp_path):
    """The lake MERGE is a semilattice join: applying the same
    batches in a different order, WITH one batch re-delivered
    (at-least-once), must yield the identical snapshot — this is the
    exactly-once-effect claim of merge_lake_sink, tested on the unit
    (merge_batch_into_lake) without a streaming harness."""
    from pyspark.sql import functions as F

    from lapidus_spark.streaming.materialize import (
        merge_batch_into_lake,
        read_lake_snapshot,
    )

    env = normalize_events(load_table(spark, SF_DIR, "events"))
    batches = [env.filter(F.col("event_seq") % 3 == i) for i in range(3)]

    lake_a = str(tmp_path / "lake_a")
    for b in batches:
        merge_batch_into_lake(b, lake_a)
    lake_b = str(tmp_path / "lake_b")
    for b in (batches[2], batches[0], batches[1], batches[1]):  # reorder + replay
        merge_batch_into_lake(b, lake_b)

    cols = ["entity_id", "last_seq", "last_ts", "last_type", "item"]
    snap_a = sorted(map(tuple, read_lake_snapshot(spark, lake_a).select(*cols).collect()))
    snap_b = sorted(map(tuple, read_lake_snapshot(spark, lake_b).select(*cols).collect()))
    assert snap_a == snap_b and len(snap_a) > 0

    # and the batch-oracle shape: one row per surviving entity,
    # matching the global LWW computed in one pass
    direct = (
        env.groupBy(F.col("pk").alias("entity_id"))
        .agg(
            F.max_by(F.struct("event_seq", "type"), F.struct("ts", "event_seq")).alias("l")
        )
        .filter(F.col("l.type") != "delete")
        .count()
    )
    assert len(snap_a) == direct


def test_merge_lake_rewrites_only_affected_buckets(spark, tmp_path):
    """A micro-batch touching one key must write ONLY that key's
    bucket into the new commit and remap only that bucket in the
    manifest — the property that keeps a 100 TB lake's merge cost
    proportional to the batch, not the table."""
    import os

    from pyspark.sql import functions as F

    from lapidus_spark.streaming.materialize import (
        _read_manifest,
        merge_batch_into_lake,
    )

    env = normalize_events(load_table(spark, SF_DIR, "events"))
    lake = str(tmp_path / "lake")
    merge_batch_into_lake(env, lake)

    before = _read_manifest(lake)
    assert len(before["buckets"]) > 1, "fixture must spread keys over several buckets"
    one_key = env.limit(1).select("pk").first()["pk"]
    merge_batch_into_lake(env.filter(F.col("pk") == one_key), lake)
    after = _read_manifest(lake)
    assert after["version"] == before["version"] + 1
    changed = {b for b in after["buckets"] if after["buckets"][b] != before["buckets"][b]}
    assert len(changed) == 1, f"expected exactly one bucket remapped, got {changed}"
    # and the new commit dir physically contains exactly that bucket
    commit_rel = after["buckets"][next(iter(changed))].rsplit("/", 1)[0]
    parts = [d for d in os.listdir(os.path.join(lake, commit_rel)) if d.startswith("pb=")]
    assert len(parts) == 1


def test_merge_lake_checkpoint_restart(spark, tmp_path):
    """Crash-restart across the MERGE sink: drain batch 1, then
    restart from the checkpoint with two more files present — the
    resumed query must process ONLY the new batches (slot-cursor
    semantics) and the final lake must equal the one-shot merge of
    the full history (exactly-once effect on the table)."""
    import os
    import time

    from pyspark.sql import functions as F

    from lapidus_spark.streaming.materialize import (
        merge_lake_sink,
        read_lake_snapshot,
    )

    ev = load_table(spark, SF_DIR, "events")
    d = tmp_path / "replay"
    d.mkdir()
    for i in range(3):
        ev.filter(F.col("event_id") % 3 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(d / f"b{i}"))
        for fn in os.listdir(d / f"b{i}"):
            os.utime(d / f"b{i}" / fn, (time.time() + i * 10,) * 2)
    staged = tmp_path / "staged"
    staged.mkdir()
    os.rename(d / "b1", staged / "b1")
    os.rename(d / "b2", staged / "b2")
    lake, ckpt = str(tmp_path / "lake"), str(tmp_path / "ckpt")
    raw_schema = ev.schema

    def run_once(src):
        raw = (
            spark.readStream.schema(raw_schema)
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .parquet(str(src))
        )
        q = (
            merge_lake_sink(normalize_events(raw), lake)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return len(q.recentProgress or [])

    assert run_once(d) == 1  # crash point: only batch 0 merged
    # two more files "arrive", restart from the checkpoint
    os.rename(staged / "b1", d / "b1")
    os.rename(staged / "b2", d / "b2")
    n2 = run_once(d)
    assert n2 == 2, f"resume must process exactly the 2 new files, got {n2}"

    got = sorted(
        map(
            tuple,
            read_lake_snapshot(spark, lake)
            .select("entity_id", "last_seq", "last_type")
            .collect(),
        )
    )
    from lapidus_spark.streaming.materialize import merge_batch_into_lake

    oneshot = str(tmp_path / "lake_oneshot")
    merge_batch_into_lake(normalize_events(ev), oneshot)
    want = sorted(
        map(
            tuple,
            read_lake_snapshot(spark, oneshot)
            .select("entity_id", "last_seq", "last_type")
            .collect(),
        )
    )
    assert got == want and len(got) > 0


def test_merge_lake_refuses_batch_only_overwrite_on_unreadable_table(spark, tmp_path):
    """If the lake has (pre-manifest legacy) bucket directories but
    cannot be READ, the merge must RAISE — falling through to a
    batch-only merge would commit a manifest pointing the affected
    buckets at batch-only content, silently dropping previously
    merged data. Only a truly absent table may take the first-batch
    path; and because data is staged to a fresh commit dir and the
    manifest never flips, the failed merge leaves the damaged-but-
    live files byte-identical."""
    from pyspark.sql import functions as F

    from lapidus_spark.streaming.materialize import merge_batch_into_lake

    lake = tmp_path / "lake"
    (lake / "bucket=0").mkdir(parents=True)
    (lake / "bucket=0" / "junk.parquet").write_text("this is not parquet")
    env = normalize_events(load_table(spark, SF_DIR, "events")).filter(
        F.col("event_seq") < 100
    )
    with pytest.raises(Exception):
        merge_batch_into_lake(env, str(lake))
    # and the garbage "table" was not replaced by batch-only content
    assert (lake / "bucket=0" / "junk.parquet").read_text() == "this is not parquet"


def test_lake_sink_from_config(spark, tmp_path):
    """The MERGE materialization driven from the daemon's control
    plane (sink type 'lake'): the snapshot in the configured lake
    must equal the batch LWW snapshot, deletes purged from the
    consumer view, bucket count taken from options.buckets."""
    import os

    from pyspark.sql import functions as F

    from lapidus_spark.streaming.materialize import read_lake_snapshot

    lake = str(tmp_path / "cfg_lake")
    cfg = parse_config(
        json.dumps(
            {
                "backends": [
                    {
                        "name": "pg_main",
                        "type": "file",
                        "path": SF_DIR,
                        "sinks": [
                            {
                                "type": "lake",
                                "options": {"path": lake, "buckets": 4},
                            }
                        ],
                    }
                ]
            }
        )
    )
    run(spark, cfg, checkpoint_root=str(tmp_path / "lakeckpt"))
    got = read_lake_snapshot(spark, lake)
    batch = normalize_events(load_table(spark, SF_DIR, "events"))
    want = (
        batch.groupBy(F.col("pk").alias("entity_id"))
        .agg(
            F.max_by(F.struct("event_seq", "type"), F.struct("ts", "event_seq")).alias("l")
        )
        .filter(F.col("l.type") != "delete")
        .select("entity_id", F.col("l.event_seq").alias("last_seq"))
    )
    g = sorted(map(tuple, got.select("entity_id", "last_seq").collect()))
    w = sorted(map(tuple, want.collect()))
    assert g == w and len(g) > 0
    from lapidus_spark.streaming.materialize import _read_manifest

    manifest = _read_manifest(lake)
    assert manifest["n_buckets"] == 4 and len(manifest["buckets"]) == 4


def test_config_lake_sink_validation():
    with pytest.raises(ConfigError, match="lake sink requires options.path"):
        parse_config(
            json.dumps(
                {
                    "backends": [
                        {
                            "name": "b",
                            "type": "file",
                            "path": "/tmp",
                            "sinks": [{"type": "lake", "options": {}}],
                        }
                    ]
                }
            )
        )
    with pytest.raises(ConfigError, match="buckets must be a positive int"):
        parse_config(
            json.dumps(
                {
                    "backends": [
                        {
                            "name": "b",
                            "type": "file",
                            "path": "/tmp",
                            "sinks": [
                                {"type": "lake", "options": {"path": "/tmp/x", "buckets": 0}}
                            ],
                        }
                    ]
                }
            )
        )


def test_example_configs_validate():
    """Every shipped example config must pass --validate-only (the
    reference's -t flag) — docs that rot into invalid configs are
    worse than no docs."""
    import glob

    from lapidus_spark.__main__ import main

    cfgs = sorted(glob.glob("examples/config*.json"))
    assert len(cfgs) >= 3
    for c in cfgs:
        assert main(["-c", c, "--validate-only"]) == 0, c


# --- crash atomicity: the manifest commit protocol (VERDICT r6 #1/#5) ---


def _lake_rows(spark, lake):
    from lapidus_spark.streaming.materialize import read_lake_snapshot

    return sorted(
        map(
            tuple,
            read_lake_snapshot(spark, lake)
            .select("entity_id", "last_seq", "last_ts", "last_type")
            .collect(),
        )
    )


def test_merge_lake_layout_pinned_rejects_bucket_change(spark, tmp_path):
    """n_buckets is the table's physical layout: the manifest pins it
    on first write and a merge with a different value must RAISE
    (updates would hash to new buckets while stored rows keep their
    old ones — the affected-bucket read-back would silently miss
    them; ADVICE r6 #1)."""
    from lapidus_spark.streaming.materialize import merge_batch_into_lake

    env = normalize_events(load_table(spark, SF_DIR, "events"))
    lake = str(tmp_path / "lake")
    merge_batch_into_lake(env, lake, n_buckets=8)
    with pytest.raises(ValueError, match="n_buckets=8.*rebucket_lake"):
        merge_batch_into_lake(env, lake, n_buckets=16)
    with pytest.raises(ValueError, match="positive int"):
        merge_batch_into_lake(env, lake, n_buckets=True)


def test_merge_lake_crash_before_flip_preserves_table(spark, tmp_path, monkeypatch):
    """Fault-inject the committer: a merge that dies between writing
    its commit directory and flipping the manifest must leave the
    table EXACTLY as before (reads resolve through the old manifest;
    the half-commit is invisible), and replaying the same batch must
    converge to the oracle snapshot — no rows from earlier batches
    lost (the r6 torn-write window, closed)."""
    import os

    from pyspark.sql import functions as F

    from lapidus_spark.streaming import materialize
    from lapidus_spark.streaming.materialize import merge_batch_into_lake

    env = normalize_events(load_table(spark, SF_DIR, "events"))
    batches = [env.filter(F.col("event_seq") % 3 == i) for i in range(3)]
    lake = str(tmp_path / "lake")
    merge_batch_into_lake(batches[0], lake)
    merge_batch_into_lake(batches[1], lake)
    before = _lake_rows(spark, lake)

    real_commit = materialize._commit_manifest

    def exploding_commit(lake_dir, manifest):
        raise RuntimeError("injected crash before manifest flip")

    from lapidus_spark.lake import log as lake_log

    monkeypatch.setattr(lake_log, "_commit_manifest", exploding_commit)
    with pytest.raises(RuntimeError, match="injected crash"):
        merge_batch_into_lake(batches[2], lake)
    # the failed merge is invisible: same rows, and the orphan commit
    # dir exists but is unreferenced
    assert _lake_rows(spark, lake) == before
    commits = set(os.listdir(os.path.join(lake, "commits")))
    monkeypatch.setattr(lake_log, "_commit_manifest", real_commit)

    # replay heals: final snapshot == one-shot oracle of full history
    merge_batch_into_lake(batches[2], lake)
    oneshot = str(tmp_path / "oneshot")
    merge_batch_into_lake(env, oneshot)
    assert _lake_rows(spark, lake) == _lake_rows(spark, oneshot)
    # and the successful merge GC'd everything unreferenced
    from lapidus_spark.streaming.materialize import _read_manifest

    live = {
        p.split("/")[1]
        for p in _read_manifest(lake)["buckets"].values()
        if p.startswith("commits/")
    }
    after = set(os.listdir(os.path.join(lake, "commits")))
    assert after == live and len(commits - after) >= 0


@pytest.mark.slow
def test_merge_lake_sigkill_mid_commit(spark, tmp_path):
    """The REAL crash: a subprocess merge SIGKILLs itself at the
    commit point (env failpoint — between the durable commit-dir
    write and the manifest flip). The table must read back exactly
    as before the crash, and replaying the killed batch must yield
    the full-history oracle snapshot."""
    import os
    import signal
    import subprocess
    import sys

    from pyspark.sql import functions as F

    from lapidus_spark.streaming.materialize import merge_batch_into_lake

    env = normalize_events(load_table(spark, SF_DIR, "events"))
    lake = str(tmp_path / "lake")
    merge_batch_into_lake(env.filter(F.col("event_seq") % 3 == 0), lake)
    before = _lake_rows(spark, lake)

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc_env = dict(
        os.environ,
        LAPIDUS_FAILPOINT="lake_merge.before_manifest_flip",
        SPARK_DRIVER_MEMORY="2g",
        PYTHONPATH=repo_root,
    )
    p = subprocess.run(
        [sys.executable, "tests/lake_crash_driver.py", lake, SF_DIR, "merge", "3", "1"],
        env=proc_env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert p.returncode == -signal.SIGKILL, (p.returncode, p.stdout[-500:], p.stderr[-2000:])
    # crash mid-commit is invisible to readers...
    assert _lake_rows(spark, lake) == before
    # ...but the commit dir was written before the kill (the crash
    # really was between data-write and flip, not before the work)
    assert os.path.isdir(os.path.join(lake, "commits")) and any(
        d for d in os.listdir(os.path.join(lake, "commits"))
    )

    # replay the killed batch (at-least-once redelivery) → oracle
    merge_batch_into_lake(env.filter(F.col("event_seq") % 3 == 1), lake)
    merge_batch_into_lake(env.filter(F.col("event_seq") % 3 == 2), lake)
    oneshot = str(tmp_path / "oneshot")
    merge_batch_into_lake(env, oneshot)
    assert _lake_rows(spark, lake) == _lake_rows(spark, oneshot)


def test_merge_lake_legacy_layout_adoption(spark, tmp_path):
    """A pre-manifest lake (r6's root bucket=K dynamic-overwrite
    layout) is adopted in place: the first manifest merge reads the
    legacy dirs via partition inference, migrates touched buckets
    into commit dirs, keeps untouched legacy dirs live, and ends at
    the same snapshot as a from-scratch merge of the full history."""
    import os

    from pyspark.sql import functions as F

    from lapidus_spark.streaming.materialize import (
        _read_manifest,
        merge_batch_into_lake,
        snapshot_stream,
    )

    env = normalize_events(load_table(spark, SF_DIR, "events"))
    old_half = env.filter(F.col("event_seq") % 2 == 0)
    lake = str(tmp_path / "legacy_lake")
    # reproduce the legacy layout exactly: snapshot + bucket as a
    # PARTITION column at the lake root, no manifest
    (
        snapshot_stream(old_half)
        .withColumn("bucket", F.pmod(F.xxhash64("entity_id"), F.lit(8)).cast("int"))
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(lake)
    )
    assert _read_manifest(lake) is None
    assert any(d.startswith("bucket=") for d in os.listdir(lake))

    merge_batch_into_lake(env.filter(F.col("event_seq") % 2 == 1), lake, n_buckets=8)
    m = _read_manifest(lake)
    assert m is not None and m["n_buckets"] == 8

    oneshot = str(tmp_path / "oneshot")
    merge_batch_into_lake(env, oneshot)
    assert _lake_rows(spark, lake) == _lake_rows(spark, oneshot)


@pytest.mark.slow
def test_daemon_sigkill_mid_batch_resumes_from_checkpoint(spark, tmp_path):
    """ctl_lifecycle under a hard kill (the reference's worker-exit
    contract, postgresql.js:356-371): run the CLI daemon over a
    multi-file replay with a lake sink, SIGKILL it mid-merge of the
    SECOND micro-batch (env failpoint), restart with the same
    checkpointRoot, and require the final lake snapshot to equal the
    one-shot oracle — the killed batch is re-delivered from the
    checkpoint and the manifest protocol makes its half-commit
    invisible."""
    import os
    import signal
    import subprocess
    import sys
    import time

    from pyspark.sql import functions as F

    from lapidus_spark.streaming.materialize import merge_batch_into_lake

    ev = load_table(spark, SF_DIR, "events")
    replay = tmp_path / "replay"
    replay.mkdir()
    # three replay files, mtime-ordered so maxFilesPerTrigger=1
    # yields deterministic micro-batches; one must be named exactly
    # events.parquet (schema anchor)
    names = ["events.parquet", "events1.parquet", "events2.parquet"]
    for i, name in enumerate(names):
        part = ev.filter(F.col("event_id") % 3 == i).coalesce(1)
        staging = tmp_path / f"stage{i}"
        part.write.mode("overwrite").parquet(str(staging))
        src = next(f for f in os.listdir(staging) if f.endswith(".parquet"))
        os.rename(staging / src, replay / name)
        os.utime(replay / name, (time.time() + i * 10,) * 2)

    lake = str(tmp_path / "lake")
    cfg = tmp_path / "daemon.json"
    cfg.write_text(
        json.dumps(
            {
                "checkpointRoot": str(tmp_path / "ckpt"),
                "backends": [
                    {
                        "name": "pg_main",
                        "type": "file",
                        "path": str(replay),
                        "maxFilesPerTrigger": 1,
                        "sinks": [{"type": "lake", "options": {"path": lake}}],
                    }
                ],
            }
        )
    )

    def daemon(failpoint: str | None):
        repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        env_vars = dict(
            os.environ,
            SPARK_DRIVER_MEMORY="2g",
            SPARK_GRAFT_CPUS="4",
            PYTHONPATH=repo_root,
        )
        if failpoint:
            env_vars["LAPIDUS_FAILPOINT"] = failpoint
        else:
            env_vars.pop("LAPIDUS_FAILPOINT", None)
        return subprocess.run(
            [sys.executable, "-m", "lapidus_spark", "-c", str(cfg)],
            env=env_vars,
            capture_output=True,
            text=True,
            timeout=300,
        )

    # run 1: SIGKILL at the 2nd merge's commit point (batch 0
    # committed, batch 1 half-merged)
    p1 = daemon("lake_merge.before_manifest_flip:2")
    assert p1.returncode == -signal.SIGKILL, (p1.returncode, p1.stderr[-2000:])
    # batch 0 must be visible and intact after the crash
    batch0 = normalize_events(ev.filter(F.col("event_id") % 3 == 0))
    want0 = str(tmp_path / "want0")
    merge_batch_into_lake(batch0, want0)
    assert _lake_rows(spark, lake) == _lake_rows(spark, want0)

    # run 2: clean restart, same checkpointRoot → resumes, re-delivers
    # the killed batch, drains the rest
    p2 = daemon(None)
    assert p2.returncode == 0, (p2.returncode, p2.stderr[-2000:])
    oneshot = str(tmp_path / "oneshot")
    merge_batch_into_lake(normalize_events(ev), oneshot)
    assert _lake_rows(spark, lake) == _lake_rows(spark, oneshot)


def test_config_rejects_bool_buckets_and_bad_mfpt():
    """JSON true is an int subclass in Python: "buckets": true must
    be a config error, not a silent 1-bucket layout (ADVICE r6 #3);
    same guard for maxFilesPerTrigger and checkpointRoot types."""
    base = {"name": "b", "type": "file", "path": "/tmp"}
    with pytest.raises(ConfigError, match="buckets must be a positive int"):
        parse_config(
            json.dumps(
                {
                    "backends": [
                        {
                            **base,
                            "sinks": [
                                {"type": "lake", "options": {"path": "/tmp/x", "buckets": True}}
                            ],
                        }
                    ]
                }
            )
        )
    with pytest.raises(ConfigError, match="maxFilesPerTrigger"):
        parse_config(
            json.dumps({"backends": [{**base, "maxFilesPerTrigger": True, "sinks": []}]})
        )
    with pytest.raises(ConfigError, match="maxFilesPerTrigger"):
        parse_config(
            json.dumps({"backends": [{**base, "maxFilesPerTrigger": 0, "sinks": []}]})
        )
    with pytest.raises(ConfigError, match="checkpointRoot"):
        parse_config(json.dumps({"checkpointRoot": 7, "backends": [base]}))
    cfg = parse_config(
        json.dumps(
            {
                "checkpointRoot": "/tmp/ck",
                "backends": [{**base, "maxFilesPerTrigger": 2}],
            }
        )
    )
    assert cfg.checkpoint_root == "/tmp/ck"
    assert cfg.backends[0].max_files_per_trigger == 2


# --- versioned lake: time travel, change feed, writer lock (round 7) ---


def _snapshot_rows(spark, lake, version=None):
    from lapidus_spark.streaming.materialize import read_lake_snapshot

    return sorted(
        map(
            tuple,
            read_lake_snapshot(spark, lake, version=version)
            .select("entity_id", "last_seq", "last_ts", "last_type")
            .collect(),
        )
    )


def test_lake_time_travel_matches_per_version_oracles(spark, tmp_path):
    """Each committed version must read back as the LWW snapshot of
    exactly the batches merged up to it — a retained manifest IS the
    table as of that commit. Expired versions (beyond the
    retain_versions horizon) must fail fast with a clear error, and
    their data directories must actually be GC'd."""
    import os

    from pyspark.sql import functions as F

    import lapidus_spark.streaming.materialize as M
    from lapidus_spark.streaming.materialize import merge_batch_into_lake

    env = normalize_events(load_table(spark, SF_DIR, "events"))
    batches = [env.filter(F.col("event_seq") % 3 == i) for i in range(3)]
    lake = str(tmp_path / "lake")
    for b in batches:
        merge_batch_into_lake(b, lake, retain_versions=4)

    # version k == from-scratch merge of batches[:k]
    for k in (1, 2, 3):
        want = str(tmp_path / f"want{k}")
        for b in batches[:k]:
            merge_batch_into_lake(b, want)
        assert _snapshot_rows(spark, lake, version=k) == _snapshot_rows(spark, want), k
    # live read == newest version read
    assert _snapshot_rows(spark, lake) == _snapshot_rows(spark, lake, version=3)
    # one commit-log delta entry per committed version
    deltas = sorted(
        int(f.split(".", 1)[0])
        for f in os.listdir(os.path.join(lake, M.LOG_DIR))
        if not f.endswith(".checkpoint.json")
    )
    assert deltas == [1, 2, 3]

    # tighten retention: next merge keeps only the last 2 versions
    merge_batch_into_lake(batches[0], lake, retain_versions=2)  # replay → v4
    assert M._read_pointer(lake)["floor"] == 3
    assert [h["version"] for h in M.describe_history(lake)] == [4, 3]
    with pytest.raises(ValueError, match="no retained version 1"):
        _snapshot_rows(spark, lake, version=1)
    # v3/v4 still readable, and v4 (an idempotent replay) == v3
    assert _snapshot_rows(spark, lake, version=4) == _snapshot_rows(spark, lake, version=3)


def test_lake_changes_prunes_to_touched_buckets(spark, tmp_path):
    """The change feed between two versions must (a) report exactly
    the entities whose state changed, with post-images, and (b) READ
    only the buckets whose manifest pointers differ — path-level
    pruning, asserted on the plan's actual input files."""
    from pyspark.sql import functions as F

    from lapidus_spark.streaming.materialize import (
        _manifest_at,
        lake_changes,
        merge_batch_into_lake,
    )

    env = normalize_events(load_table(spark, SF_DIR, "events"))
    lake = str(tmp_path / "lake")
    merge_batch_into_lake(env, lake, retain_versions=4)  # v1: full history
    one_key = env.limit(1).select("pk").first()["pk"]
    bump = (
        env.filter(F.col("pk") == one_key)
        .limit(1)
        .withColumn("event_seq", F.lit(10_000_000).cast(env.schema["event_seq"].dataType))
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 1000 DAYS"))
        .withColumn("type", F.lit("update"))
    )
    merge_batch_into_lake(bump, lake, retain_versions=4)  # v2: one entity bumped

    feed = lake_changes(spark, lake, from_version=1, to_version=2)
    rows = feed.collect()
    assert [(r["entity_id"], r["change_type"], r["last_seq"]) for r in rows] == [
        (one_key, "update", 10_000_000)
    ]
    # path pruning: exactly one bucket pointer differs, and the scan
    # reads files from that bucket's two versions only
    m1, m2 = _manifest_at(lake, 1), _manifest_at(lake, 2)
    changed = {b for b in m2["buckets"] if m1["buckets"][b] != m2["buckets"][b]}
    assert len(changed) == 1
    rels = {m["buckets"][b] for m in (m1, m2) for b in changed}
    files = feed.inputFiles()
    assert files and all(any(rel in f for rel in rels) for f in files)
    # no-op distance: same version twice → empty feed, schema intact
    empty = lake_changes(spark, lake, from_version=2, to_version=2)
    assert empty.count() == 0
    assert empty.columns == ["entity_id", "change_type", "last_seq", "last_ts", "last_type", "item"]


def test_lake_changes_classifies_insert_update_delete(spark, tmp_path):
    """change_type taxonomy: first-appearance → insert, newer image →
    update, tombstone-latest → delete, and re-insert after a delete →
    insert again."""
    import datetime

    from lapidus_spark.streaming.materialize import lake_changes, merge_batch_into_lake

    def batch(rows):
        return spark.createDataFrame(
            [
                (
                    seq,
                    "pg_main",
                    typ,
                    "public",
                    "users",
                    pk,
                    None if typ == "delete" else f"v{seq}",
                    0,
                    datetime.datetime(2024, 1, 1, 0, 0, seq),
                )
                for seq, pk, typ in rows
            ],
            "event_seq long, source string, type string, schema_name string, "
            "table_name string, pk string, item string, tx_id long, ts timestamp_ntz",
        )

    lake = str(tmp_path / "lake")
    merge_batch_into_lake(
        batch([(1, "a", "insert"), (2, "b", "insert"), (3, "c", "insert"), (4, "d", "delete")]),
        lake,
        retain_versions=4,
    )
    merge_batch_into_lake(
        batch([(5, "a", "update"), (6, "b", "delete"), (7, "d", "insert"), (8, "e", "insert")]),
        lake,
        retain_versions=4,
    )
    feed = {
        r["entity_id"]: r["change_type"]
        for r in lake_changes(spark, lake, from_version=1, to_version=2).collect()
    }
    assert feed == {"a": "update", "b": "delete", "d": "insert", "e": "insert"}


def test_merge_lake_writer_lock(spark, tmp_path):
    """Single-writer protection: a LIVE holder's lock makes a second
    merge raise ConcurrentMergeError; a stale lock (dead pid — the
    SIGKILLed-writer case) is broken and the merge proceeds; the lock
    is released after a successful merge."""
    import json as _json
    import os
    import socket

    from lapidus_spark.streaming.materialize import (
        LOCK_NAME,
        ConcurrentMergeError,
        merge_batch_into_lake,
    )

    env = normalize_events(load_table(spark, SF_DIR, "events"))
    lake = str(tmp_path / "lake")
    os.makedirs(lake)
    lock = os.path.join(lake, LOCK_NAME)

    # live holder (this very process) → refuse
    with open(lock, "w") as f:
        _json.dump({"pid": os.getpid(), "host": socket.gethostname()}, f)
    with pytest.raises(ConcurrentMergeError, match="live writer"):
        merge_batch_into_lake(env, lake)

    # stale holder (dead pid on this host) → broken, merge proceeds,
    # lock released afterwards
    with open(lock, "w") as f:
        _json.dump({"pid": 2**22 + 12345, "host": socket.gethostname()}, f)
    merge_batch_into_lake(env, lake)
    assert not os.path.exists(lock)
    assert len(_lake_rows(spark, lake)) > 0

    # cross-host holder → fail closed (liveness unknowable)
    with open(lock, "w") as f:
        _json.dump({"pid": 1, "host": "some-other-host"}, f)
    with pytest.raises(ConcurrentMergeError, match="cross-host"):
        merge_batch_into_lake(env, lake)


def test_config_lake_retain_versions():
    with pytest.raises(ConfigError, match="retainVersions"):
        parse_config(
            json.dumps(
                {
                    "backends": [
                        {
                            "name": "b",
                            "type": "file",
                            "path": "/tmp",
                            "sinks": [
                                {
                                    "type": "lake",
                                    "options": {"path": "/tmp/x", "retainVersions": True},
                                }
                            ],
                        }
                    ]
                }
            )
        )


# --- lake maintenance: compaction, rebucket, point reads (round 7) ---


def test_compact_lake_physical_only(spark, tmp_path):
    """Compaction must change the physical layout (degraded buckets →
    one file each, a new committed version) while leaving the logical
    snapshot bit-identical; a second compact must be a no-op (no
    empty commits)."""
    import os

    from pyspark.sql import functions as F

    from lapidus_spark.streaming.materialize import (
        _read_manifest,
        compact_lake,
        merge_batch_into_lake,
    )

    env = normalize_events(load_table(spark, SF_DIR, "events"))
    lake = str(tmp_path / "lake")
    # degrade the layout deliberately: at fixture scale AQE coalesces
    # each merge to one file per bucket, so split the writes the way
    # a long-running production sink's task fan-out would
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "1")
    try:
        for i in range(3):
            merge_batch_into_lake(env.filter(F.col("event_seq") % 3 == i), lake, n_buckets=4)
    finally:
        spark.conf.set("spark.sql.files.maxRecordsPerFile", "0")
    before = _snapshot_rows(spark, lake)
    m0 = _read_manifest(lake)

    def files_per_bucket(m):
        return {
            b: sum(1 for f in os.listdir(os.path.join(lake, rel)) if f.endswith(".parquet"))
            for b, rel in m["buckets"].items()
        }

    assert any(n > 1 for n in files_per_bucket(m0).values()), "fixture not degraded"
    res = compact_lake(spark, lake)
    m1 = _read_manifest(lake)
    assert res["version"] == m0["version"] + 1 == m1["version"]
    assert res["compacted_buckets"] > 0
    assert all(n == 1 for n in files_per_bucket(m1).values())
    assert _snapshot_rows(spark, lake) == before
    # idempotent: nothing degraded now → no new version
    res2 = compact_lake(spark, lake)
    assert res2 == {"version": m1["version"], "compacted_buckets": 0, "skipped_buckets": 0}
    assert _read_manifest(lake)["version"] == m1["version"]


def test_compact_lake_crash_before_flip_is_invisible(spark, tmp_path, monkeypatch):
    """A compaction that dies before the manifest flip (the shared
    _commit_manifest commit point — same machinery the SIGKILL merge
    test exercises) must leave the old snapshot fully live, release
    the writer lock, and a retried compaction must succeed."""
    from pyspark.sql import functions as F

    from lapidus_spark.streaming import materialize as M

    env = normalize_events(load_table(spark, SF_DIR, "events"))
    lake = str(tmp_path / "lake")
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "1")
    try:
        for i in range(2):
            M.merge_batch_into_lake(env.filter(F.col("event_seq") % 2 == i), lake, n_buckets=4)
    finally:
        spark.conf.set("spark.sql.files.maxRecordsPerFile", "0")
    before = _snapshot_rows(spark, lake)
    v0 = M._read_manifest(lake)["version"]

    def boom(lake_dir, manifest):
        raise RuntimeError("injected crash before flip")

    from lapidus_spark.lake import log as lake_log

    monkeypatch.setattr(lake_log, "_commit_manifest", boom)
    with pytest.raises(RuntimeError, match="injected"):
        M.compact_lake(spark, lake)
    monkeypatch.undo()
    assert M._read_manifest(lake)["version"] == v0
    assert _snapshot_rows(spark, lake) == before
    res = M.compact_lake(spark, lake)  # lock released, retry lands
    assert res["compacted_buckets"] > 0
    assert _snapshot_rows(spark, lake) == before


def test_rebucket_lake_switches_layout_atomically(spark, tmp_path):
    """Rebucket 4→8 must re-home every row (all manifest pointers in
    the new commit, n_buckets re-pinned), preserve the snapshot AND
    the tombstones (a rebucket that drops tombstones would resurrect
    dead keys on the next late replay), reject merges asserting the
    old layout, and accept adopting merges (n_buckets=None)."""
    from pyspark.sql import functions as F

    from lapidus_spark.streaming.materialize import (
        _read_live,
        _read_manifest,
        merge_batch_into_lake,
        rebucket_lake,
    )

    env = normalize_events(load_table(spark, SF_DIR, "events"))
    lake = str(tmp_path / "lake")
    merge_batch_into_lake(env.filter(F.col("event_seq") % 2 == 0), lake, n_buckets=4)
    before = _snapshot_rows(spark, lake)
    tombs_before = (
        _read_live(spark, lake, _read_manifest(lake))
        .filter(F.col("last_type") == "delete")
        .count()
    )
    assert tombs_before > 0, "fixture has no tombstones"

    res = rebucket_lake(spark, lake, 8)
    m = _read_manifest(lake)
    assert res == {"version": m["version"], "n_buckets": 8}
    assert m["n_buckets"] == 8
    commit_rel = f"commits/{m['version']:010d}"
    assert all(rel.startswith(commit_rel) for rel in m["buckets"].values())
    assert _snapshot_rows(spark, lake) == before
    tombs_after = (
        _read_live(spark, lake, m).filter(F.col("last_type") == "delete").count()
    )
    assert tombs_after == tombs_before

    batch2 = env.filter(F.col("event_seq") % 2 == 1)
    with pytest.raises(ValueError, match="rebucket_lake"):
        merge_batch_into_lake(batch2, lake, n_buckets=4)
    merge_batch_into_lake(batch2, lake, n_buckets=None)  # adopt pinned layout
    want = str(tmp_path / "want")
    merge_batch_into_lake(env, want, n_buckets=8)
    assert _snapshot_rows(spark, lake) == _snapshot_rows(spark, want)
    # no-op path: same layout → version unchanged
    v = _read_manifest(lake)["version"]
    assert rebucket_lake(spark, lake, 8) == {"version": v, "n_buckets": 8}


def test_lake_point_read_opens_only_key_buckets(spark, tmp_path):
    """lake_point_read must return exactly the keys' live rows while
    opening NO file outside the keys' bucket directories (path-level
    pruning, asserted on the plan's actual inputFiles)."""
    from pyspark.sql import functions as F

    from lapidus_spark.streaming.materialize import (
        _read_manifest,
        lake_point_read,
        merge_batch_into_lake,
        read_lake_snapshot,
    )

    env = normalize_events(load_table(spark, SF_DIR, "events"))
    lake = str(tmp_path / "lake")
    merge_batch_into_lake(env, lake, n_buckets=8)
    keys = [str(u) for u in range(1, 6)]
    got = lake_point_read(spark, lake, keys)
    want = read_lake_snapshot(spark, lake).filter(F.col("entity_id").isin(keys))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    m = _read_manifest(lake)
    kdf = spark.createDataFrame([(k,) for k in keys], "entity_id string")
    expect_buckets = {
        r["b"]
        for r in kdf.select(
            F.pmod(F.xxhash64("entity_id"), F.lit(8)).cast("int").alias("b")
        ).collect()
    }
    allowed = {m["buckets"][str(b)] for b in expect_buckets}
    assert len(allowed) < len(m["buckets"]), "fixture keys hit every bucket"
    for f in got.inputFiles():
        assert any(f"/{rel}/" in f or f.split(lake + "/", 1)[1].startswith(rel) for rel in allowed), f


def test_cli_maintenance_commands(spark, tmp_path, capsys):
    """ctl_cli maintenance surface: --compact and --rebucket operate a
    lake in place and exit 0; argument misuse errors out before any
    Spark work."""
    from pyspark.sql import functions as F

    from lapidus_spark.__main__ import main
    from lapidus_spark.streaming.materialize import (
        _read_manifest,
        merge_batch_into_lake,
    )

    env = normalize_events(load_table(spark, SF_DIR, "events"))
    lake = str(tmp_path / "lake")
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "1")
    try:
        merge_batch_into_lake(env, lake, n_buckets=4)
    finally:
        spark.conf.set("spark.sql.files.maxRecordsPerFile", "0")

    before = _snapshot_rows(spark, lake)
    assert main(["--compact", lake]) == 0
    assert "compacted" in capsys.readouterr().out
    # compaction stages unlocked and always reports buckets lost to races
    assert main(["--compact", lake, "--target-files-per-bucket", "0"]) == 0
    assert "lost to concurrent merges" in capsys.readouterr().out
    assert main(["--rebucket", lake, "--buckets", "8"]) == 0
    assert _read_manifest(lake)["n_buckets"] == 8
    assert _snapshot_rows(spark, lake) == before

    for bad in (
        ["--rebucket", lake],  # missing --buckets
        ["--compact", lake, "--rebucket", lake, "--buckets", "8"],
        ["--compact", lake, "-c", "x.json"],
        ["--rebucket", lake, "--buckets", "8", "--optimistic"],  # unknown flag
    ):
        with pytest.raises(SystemExit) as e:
            main(bad)
        assert e.value.code == 2


def test_merge_lake_auto_compaction(spark, tmp_path):
    """compact_every=K runs OPTIMIZE in-line after every K-th
    micro-batch: two degraded merges (one-row files), then the third
    batch's epoch triggers compaction — the final layout must be one
    file per bucket and the snapshot must equal the one-shot merge;
    config accepts the knob and rejects nonsense values. Batches are
    split BY USER so the third merge's own bucket rewrites don't
    erase the earlier batches' degradation (a merge rewrites every
    bucket it touches) — compaction must have real work left."""
    import os
    import time

    from pyspark.sql import functions as F

    from lapidus_spark.streaming.materialize import (
        _read_manifest,
        merge_batch_into_lake,
        merge_lake_sink,
    )

    ev = load_table(spark, SF_DIR, "events")
    d = tmp_path / "replay"
    d.mkdir()
    for i in range(3):
        ev.filter(F.col("user_id") % 3 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(d / f"b{i}"))
        for fn in os.listdir(d / f"b{i}"):
            os.utime(d / f"b{i}" / fn, (time.time() + i * 10,) * 2)
    staged = tmp_path / "staged"
    staged.mkdir()
    os.rename(d / "b2", staged / "b2")
    lake, ckpt = str(tmp_path / "lake"), str(tmp_path / "ckpt")
    raw_schema = ev.schema

    def run_once():
        raw = (
            spark.readStream.schema(raw_schema)
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .parquet(str(d))
        )
        q = (
            merge_lake_sink(normalize_events(raw), lake, n_buckets=8, compact_every=3)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # epochs 0-1: degraded merges (one-row files), no compaction yet
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "1")
    try:
        run_once()
    finally:
        spark.conf.set("spark.sql.files.maxRecordsPerFile", "0")
    m = _read_manifest(lake)
    assert m["version"] == 2
    assert any(
        sum(1 for f in os.listdir(os.path.join(lake, rel)) if f.endswith(".parquet")) > 1
        for rel in m["buckets"].values()
    ), "fixture not degraded before the compacting epoch"

    # epoch 2 arrives: merge (v3) then in-line compaction (v4)
    os.rename(staged / "b2", d / "b2")
    run_once()
    m = _read_manifest(lake)
    assert m["version"] == 4
    assert all(
        sum(1 for f in os.listdir(os.path.join(lake, rel)) if f.endswith(".parquet")) == 1
        for rel in m["buckets"].values()
    )
    oneshot = str(tmp_path / "oneshot")
    merge_batch_into_lake(normalize_events(ev), oneshot, n_buckets=8)
    assert _snapshot_rows(spark, lake) == _snapshot_rows(spark, oneshot)

    cfg = {
        "backends": [
            {
                "name": "pg",
                "type": "file",
                "path": SF_DIR,
                "sinks": [
                    {
                        "type": "lake",
                        "options": {"path": lake, "compactEvery": 5},
                    }
                ],
            }
        ]
    }
    parse_config(json.dumps(cfg))  # valid knob accepted
    for bad in (0, True, "5"):
        cfg["backends"][0]["sinks"][0]["options"]["compactEvery"] = bad
        with pytest.raises(ConfigError, match="compactEvery"):
            parse_config(json.dumps(cfg))
    # the multi-writer knob: both modes accepted, anything else trapped
    cfg["backends"][0]["sinks"][0]["options"]["compactEvery"] = 5
    for mode in ("locked", "optimistic"):
        cfg["backends"][0]["sinks"][0]["options"]["concurrency"] = mode
        parse_config(json.dumps(cfg))
    for bad in ("chaotic", True, 1):
        cfg["backends"][0]["sinks"][0]["options"]["concurrency"] = bad
        with pytest.raises(ConfigError, match="concurrency"):
            parse_config(json.dumps(cfg))


@pytest.mark.slow
def test_maintenance_sigkill_breaks_stale_lock_and_preserves_table(spark, tmp_path):
    """Kill-mid-commit for the MAINTENANCE ops, cross-process: a
    subprocess compaction (then rebucket) SIGKILLs itself at the
    shared manifest-flip failpoint. Each crash must (a) leave the
    table bit-identical for readers, (b) leave the dead writer's
    LOCK FILE behind — which the next in-process writer must detect
    as stale (dead pid, same host) and break — and (c) allow the
    retried op to land. This is the dead-pid lock-breaking path
    exercised by a REAL kill, not a unit-level simulation."""
    import os
    import signal
    import subprocess
    import sys

    from pyspark.sql import functions as F

    from lapidus_spark.streaming.materialize import (
        LOCK_NAME,
        _read_manifest,
        compact_lake,
        merge_batch_into_lake,
        rebucket_lake,
    )

    env = normalize_events(load_table(spark, SF_DIR, "events"))
    lake = str(tmp_path / "lake")
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "1")
    try:
        for i in range(2):
            merge_batch_into_lake(env.filter(F.col("event_seq") % 2 == i), lake, n_buckets=4)
    finally:
        spark.conf.set("spark.sql.files.maxRecordsPerFile", "0")
    before = _snapshot_rows(spark, lake)
    v0 = _read_manifest(lake)["version"]

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc_env = dict(
        os.environ,
        LAPIDUS_FAILPOINT="lake_merge.before_manifest_flip",
        SPARK_DRIVER_MEMORY="2g",
        PYTHONPATH=repo_root,
    )

    def killed(args):
        p = subprocess.run(
            [sys.executable, "tests/lake_crash_driver.py", lake, SF_DIR, *args],
            env=proc_env,
            capture_output=True,
            text=True,
            timeout=300,
        )
        assert p.returncode == -signal.SIGKILL, (p.returncode, p.stderr[-2000:])

    killed(["compact"])
    assert _read_manifest(lake)["version"] == v0
    assert _snapshot_rows(spark, lake) == before
    assert os.path.exists(os.path.join(lake, LOCK_NAME)), "dead writer's lock expected"
    res = compact_lake(spark, lake)  # breaks the stale lock, lands
    assert res["compacted_buckets"] > 0
    assert _snapshot_rows(spark, lake) == before
    v1 = _read_manifest(lake)["version"]

    killed(["rebucket", "16"])
    m = _read_manifest(lake)
    assert m["version"] == v1 and m["n_buckets"] == 4  # old layout fully live
    assert _snapshot_rows(spark, lake) == before
    assert os.path.exists(os.path.join(lake, LOCK_NAME))
    assert rebucket_lake(spark, lake, 16)["n_buckets"] == 16
    assert _read_manifest(lake)["n_buckets"] == 16
    assert _snapshot_rows(spark, lake) == before


# --- review-found regressions (round 7): CDF across rebucket, point
# reads of unwritten buckets, empty-stream auto-compaction, valve
# convergence ---


def test_lake_changes_across_rebucket_layouts(spark, tmp_path):
    """A rebucket between two versions makes bucket ids incomparable
    (different hash ranges), so the feed must read each side through
    its OWN manifest instead of pointer-diffing: a pure rebucket —
    SHRINKING included, the case where old-only buckets were silently
    dropped and unchanged entities came back as spurious inserts —
    yields an EMPTY feed, and a post-rebucket merge yields exactly
    that batch's changes."""
    from pyspark.sql import functions as F

    from lapidus_spark.streaming.materialize import (
        _read_manifest,
        lake_changes,
        merge_batch_into_lake,
        rebucket_lake,
    )

    env = normalize_events(load_table(spark, SF_DIR, "events"))
    lake = str(tmp_path / "lake")
    merge_batch_into_lake(env.filter(F.col("event_seq") % 2 == 0), lake, n_buckets=8, retain_versions=8)
    v_pre = _read_manifest(lake)["version"]
    rebucket_lake(spark, lake, 4, retain_versions=8)  # SHRINK 8→4
    v_post = _read_manifest(lake)["version"]
    assert lake_changes(spark, lake, from_version=v_pre, to_version=v_post).count() == 0

    merge_batch_into_lake(env.filter(F.col("event_seq") % 2 == 1), lake, n_buckets=None, retain_versions=8)
    feed = lake_changes(spark, lake, from_version=v_pre)
    # the feed across the layout change equals the logical delta of
    # batch 2 on the snapshot: every changed entity's post-image
    snap_pre = dict(
        (r["entity_id"], r["last_seq"])
        for r in lake_changes(spark, lake, from_version=v_post).select("entity_id", "last_seq").collect()
    )
    got = {(r["entity_id"], r["last_seq"]) for r in feed.select("entity_id", "last_seq").collect()}
    assert got == set(snap_pre.items())  # same delta whether measured from v_pre or v_post
    assert feed.count() > 0


def test_lake_point_read_unwritten_buckets_and_empty_keys(spark, tmp_path):
    """Missing-key lookups are the NORMAL outcome: keys hashing to
    never-written buckets (and an empty key list) must return zero
    rows, not raise."""
    from pyspark.sql import functions as F

    from lapidus_spark.streaming.materialize import (
        lake_point_read,
        merge_batch_into_lake,
    )

    env = normalize_events(load_table(spark, SF_DIR, "events"))
    # 4096 buckets, 15 users: almost every bucket is unwritten
    lake = str(tmp_path / "lake")
    merge_batch_into_lake(env, lake, n_buckets=4096)
    ghosts = [f"no-such-user-{i}" for i in range(20)]
    assert lake_point_read(spark, lake, ghosts).count() == 0
    assert lake_point_read(spark, lake, []).count() == 0
    # mixed present/absent: returns exactly the present keys' rows
    got = lake_point_read(spark, lake, ["1", "no-such-user-x"])
    assert {r["entity_id"] for r in got.collect()} <= {"1"}


def test_merge_lake_auto_compaction_skips_manifestless_lake(spark, tmp_path):
    """All-empty micro-batches never create a manifest; a compacting
    epoch must SKIP (not kill the stream with 'no manifest')."""
    import os

    from pyspark.sql import functions as F

    from lapidus_spark.streaming.materialize import MANIFEST_NAME, merge_lake_sink

    ev = load_table(spark, SF_DIR, "events")
    lake, ckpt = str(tmp_path / "lake"), str(tmp_path / "ckpt")
    ev.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "src"))
    raw = spark.readStream.schema(ev.schema).parquet(str(tmp_path / "src"))
    empty = normalize_events(raw).filter(F.lit(False))
    q = (
        merge_lake_sink(empty, lake, compact_every=1)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()  # must not raise
    assert not os.path.exists(os.path.join(lake, MANIFEST_NAME))


def test_compact_lake_valve_convergence(spark, tmp_path):
    """A valve-split bucket must not be re-counted as degraded by the
    next same-valve compaction (no endless rewrite churn); changing
    the valve re-arms the check once, then converges again."""
    from pyspark.sql import functions as F

    from lapidus_spark.streaming.materialize import (
        compact_lake,
        merge_batch_into_lake,
    )

    env = normalize_events(load_table(spark, SF_DIR, "events"))
    lake = str(tmp_path / "lake")
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "1")
    try:
        for i in range(2):
            merge_batch_into_lake(env.filter(F.col("event_seq") % 2 == i), lake, n_buckets=4)
    finally:
        spark.conf.set("spark.sql.files.maxRecordsPerFile", "0")
    before = _snapshot_rows(spark, lake)

    r1 = compact_lake(spark, lake, max_records_per_file=2)
    assert r1["compacted_buckets"] > 0
    # same valve again: buckets the valve split stay converged
    r2 = compact_lake(spark, lake, max_records_per_file=2)
    assert r2 == {"version": r1["version"], "compacted_buckets": 0, "skipped_buckets": 0}
    # valve change re-arms exactly once, then converges
    r3 = compact_lake(spark, lake)
    assert r3["version"] == r1["version"] + 1 and r3["compacted_buckets"] > 0
    assert compact_lake(spark, lake)["compacted_buckets"] == 0
    assert _snapshot_rows(spark, lake) == before


def test_cli_daemon_lake_sink_with_extra_columns(spark, tmp_path):
    """ctl_config → pipeline → lake sink with options.extraColumns:
    the daemon's own config plumbs schema evolution end to end — the
    lake row accretes the declared envelope attribute, the manifest
    records the epoch, and the snapshot carries the winner's value.
    Also pins the validation error for a malformed declaration."""
    import json as _json

    import lapidus_spark.streaming.materialize as M
    from lapidus_spark.config import ConfigError, parse_config
    from lapidus_spark.__main__ import main

    lake = tmp_path / "lake"
    cfg_file = tmp_path / "cli.json"
    cfg_file.write_text(
        _json.dumps(
            {
                "backends": [
                    {
                        "name": "evolving",
                        "type": "file",
                        "path": SF_DIR,
                        "sinks": [
                            {
                                "type": "lake",
                                "options": {
                                    "path": str(lake),
                                    # source (backend name) is an
                                    # envelope column the core lake
                                    # row does not store
                                    "extraColumns": ["source"],
                                },
                            }
                        ],
                    }
                ]
            }
        )
    )
    assert main(["-c", str(cfg_file), "--validate-only"]) == 0
    assert main(["-c", str(cfg_file)]) == 0
    m = M._read_manifest(str(lake))
    assert m["columns"] == [{"name": "source", "type": "string"}]
    snap = M.read_lake_snapshot(spark, str(lake))
    assert snap.columns[-1] == "source"
    vals = {r["source"] for r in snap.select("source").distinct().collect()}
    assert vals == {"evolving"}

    with pytest.raises(ConfigError, match="extraColumns"):
        parse_config(
            _json.dumps(
                {
                    "backends": [
                        {
                            "name": "x",
                            "type": "file",
                            "path": SF_DIR,
                            "sinks": [
                                {
                                    "type": "lake",
                                    "options": {"path": str(lake), "extraColumns": [1]},
                                }
                            ],
                        }
                    ]
                }
            )
        )
