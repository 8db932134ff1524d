"""Streaming snapshot materialization — the canonical CDC consumer.

The whole point of the reference's event stream is to keep a
downstream copy current (the NATS cache populate/invalidate/purge
semantics, src/plugins/nats.js:25-28). The rebuild ships that
consumer: a last-write-wins snapshot maintained incrementally by a
streaming aggregation in update output mode, merged into the target
by an idempotent upsert sink — together with checkpointed offsets
this is the exactly-once delivery story (re-delivered batches
overwrite with identical values instead of duplicating).

Two sink shapes:

- ``partitioned_upsert_sink`` — the SCALE path. Each executor
  partition opens its own store connection from a picklable factory
  and applies only its rows; the driver never sees the data. The
  update-mode aggregation hash-partitions output by the group key, so
  within one micro-batch a key is written by exactly one task (no
  cross-partition write conflicts), and across batches last-write-wins
  replays make the merge idempotent. At 100 TB the target is a KV
  service / Kafka-compacted topic / MERGE INTO a table format; the
  per-partition connection amortizes over the partition's rows.
- ``upsert_sink`` — dict-backed driver-side variant for tests and
  demos ONLY (a plain dict lives in the driver process, so the rows
  must cross to the driver by construction). Kept because the
  idempotency/restart tests want to inspect the final map in-process.
"""

from __future__ import annotations

import json
import os
import tempfile
from collections.abc import Callable, Iterable, MutableMapping

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter



# ---------------------------------------------------------------------
# Facade re-exports: the lake table format lives in lapidus_spark.lake
# (split from this file in round 10 — log/merge/admin/stats planes);
# every name keeps its import path here. The OCC counters are proxied
# via module __getattr__ below so reads through this module stay LIVE
# (they mutate inside lake.merge).
# ---------------------------------------------------------------------

from lapidus_spark.lake import merge as _merge_mod
from lapidus_spark.lake.catalog import (  # noqa: F401
    catalog_entry,
    commit_multi_table_tx,
    describe_catalog_history,
    read_catalog_pointer,
    read_catalog_table,
)
from lapidus_spark.lake.log import (  # noqa: F401
    CHECKPOINT_EVERY,
    GC_GRACE_SECONDS,
    HISTORY_DIR,
    LOCK_NAME,
    LOCKED_WAIT_S,
    LOG_DIR,
    MANIFEST_NAME,
    MERGE_LAKE_BUCKETS,
    CommitConflictError,
    ConcurrentMergeError,
    ConstraintViolationError,
    _LAKE_COLS,
    _PARTITION_COL,
    _acquire_lock,
    _acquire_lock_once,
    _align_extras,
    _apply_delta,
    _apply_dv_mask,
    _atomic_write_json,
    _bucket_content_changed,
    _checkpoint_path,
    _checkpoint_versions,
    _commit_manifest,
    _delta_path,
    _dv_entries,
    _epoch_iso,
    _failpoint,
    _flip_version,
    _gc_unreferenced,
    _healed_manifest,
    _is_missing_file_error,
    _live_paths,
    _manifest_at,
    _manifest_columns,
    _newest_mtime,
    _next_commit_stamp,
    _no_retained_version,
    _publish_version,
    _read_live,
    _read_manifest,
    _read_pointer,
    _reclaimable_commit_dirs,
    _resolve_version,
    _stage_commit,
    _validate_merge_args,
    _write_history,
)
from lapidus_spark.lake.merge import (  # noqa: F401
    _evolved_schema,
    _lww_combine,
    _merge_locked,
    _occ_conflicts,
    _resolve_base,
    _txn_already_applied,
    _validate_extra_cols,
    _validate_txn,
    merge_batch_into_lake,
    merge_batch_optimistic,
    merge_into_lake,
    merge_lake_sink,
    predicate_merge_sink,
    snapshot_stream,
    sync_snapshot_into_lake,
)
from lapidus_spark.lake.admin import (  # noqa: F401
    _cluster_sorted,
    _compact,
    _degraded_buckets,
    _validate_cluster_by,
    add_constraint,
    clone_lake,
    compact_lake,
    delete_from_lake,
    detach_clone,
    drop_constraint,
    drop_lake_column,
    rebucket_lake,
    rename_lake_column,
    restore_lake,
    vacuum_lake,
)
from lapidus_spark.lake.stats import (  # noqa: F401
    _cdf_frames,
    _commit_file_stats,
    _file_key_range,
    _resolve_change_bounds,
    _snapshot_schema,
    _ts_iso,
    describe_detail,
    describe_history,
    lake_changes,
    lake_changes_rows,
    lake_point_read,
    lake_skip_read,
    lake_time_read,
    lake_version_at,
    read_lake_snapshot,
)


def __getattr__(name: str):
    """Live proxy for the OCC outcome counters: they mutate inside
    ``lapidus_spark.lake.merge`` (module globals incremented under
    the flip lock), so a static re-export here would go stale after
    the first conflict/rebase. PEP-562 module __getattr__ keeps
    ``materialize.OCC_CONFLICTS`` reads truthful."""
    if name in ("OCC_CONFLICTS", "OCC_REBASES"):
        return getattr(_merge_mod, name)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")


class DirKVStore:
    """Filesystem-backed KV store: one JSON file per key, atomic
    tmp+rename writes. A stand-in for a real KV service that is valid
    from *executor* processes (no shared driver memory) — proves the
    partitioned upsert path without a database in the container.
    Picklable by construction (holds only the root path)."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _path(self, key) -> str:
        return os.path.join(self.root, f"{key}.json")

    def put(self, key, value: dict) -> None:
        fd, tmp = tempfile.mkstemp(dir=self.root, suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(value, f, default=str, sort_keys=True)
        os.replace(tmp, self._path(key))

    def delete(self, key) -> None:
        try:
            os.remove(self._path(key))
        except FileNotFoundError:
            pass

    def close(self) -> None:
        pass

    # driver-side inspection helpers (tests)
    def keys(self) -> list[str]:
        return sorted(os.path.splitext(f)[0] for f in os.listdir(self.root) if f.endswith(".json"))

    def get(self, key) -> dict:
        with open(self._path(key)) as f:
            return json.load(f)


def partitioned_upsert_sink(
    snapshot: DataFrame,
    store_factory: Callable[[], object],
    on_delete: str = "purge",
) -> DataStreamWriter:
    """Distributed idempotent upsert: ``foreachBatch`` →
    ``foreachPartition``, so every executor task opens its own store
    via ``store_factory()`` (must be picklable; returned object needs
    ``put(key, dict)`` / ``delete(key)`` / ``close()``) and applies
    its slice of the changed keys. Updates replace, deletes purge
    (the cache-intent mapping, nats.js:25-28); replayed micro-batches
    re-apply identical upserts — exactly-once effect on the target
    without transactional coordination, and no driver-side collect."""

    def merge(batch_df: DataFrame, epoch_id: int) -> None:
        def write_partition(rows: Iterable[Row]) -> None:
            store = store_factory()
            try:
                for row in rows:
                    if row["last_type"] == "delete" and on_delete == "purge":
                        store.delete(row["entity_id"])
                    else:
                        store.put(row["entity_id"], row.asDict())
            finally:
                store.close()

        batch_df.foreachPartition(write_partition)

    return snapshot.writeStream.foreachBatch(merge).outputMode("update")


def upsert_sink(
    snapshot: DataFrame,
    store: MutableMapping,
    on_delete: str = "purge",
) -> DataStreamWriter:
    """Driver-side dict upsert for tests/demos ONLY — a plain dict
    lives in the driver, so rows must cross to the driver by
    construction (streamed via ``toLocalIterator``, never a full
    ``collect``). Production targets use ``partitioned_upsert_sink``."""

    def merge(batch_df: DataFrame, epoch_id: int) -> None:
        for row in batch_df.toLocalIterator():
            if row["last_type"] == "delete" and on_delete == "purge":
                store.pop(row["entity_id"], None)
            else:
                store[row["entity_id"]] = row.asDict()

    return snapshot.writeStream.foreachBatch(merge).outputMode("update")


def materialize(
    envelopes: DataFrame,
    store: MutableMapping | None = None,
    checkpoint: str = "",
    trigger_available_now: bool = True,
    store_factory: Callable[[], object] | None = None,
) -> Callable[[], None]:
    """Wire snapshot_stream → upsert sink and start; returns a join
    function that blocks until the stream drains. Pass ``store`` (a
    dict-like, driver-side, test path) or ``store_factory`` (picklable
    factory, partition-parallel scale path) — exactly one."""
    if (store is None) == (store_factory is None):
        raise ValueError("pass exactly one of store / store_factory")
    snap = snapshot_stream(envelopes)
    if store_factory is not None:
        writer = partitioned_upsert_sink(snap, store_factory)
    else:
        writer = upsert_sink(snap, store)
    writer = writer.option("checkpointLocation", checkpoint)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    query = writer.start()
    return query.awaitTermination

