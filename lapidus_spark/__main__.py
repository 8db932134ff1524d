"""CLI daemon entry (ctl_cli, reference index.js:5-53).

    python -m lapidus_spark -c config.json [--validate-only]
    python -m lapidus_spark --compact LAKE_DIR [--retain-versions K] [--cluster-by entity_id,last_ts]
    python -m lapidus_spark --rebucket LAKE_DIR --buckets N
    python -m lapidus_spark --restore LAKE_DIR --version N
    python -m lapidus_spark --vacuum LAKE_DIR [--retain-versions K] [--dry-run]
    python -m lapidus_spark --delete LAKE_DIR --where SQL_PREDICATE [--delete-mode dv]
    python -m lapidus_spark --clone SRC_LAKE --into DST_DIR [--version N]
    python -m lapidus_spark --rename-column LAKE_DIR --old X --new Y
    python -m lapidus_spark --drop-column LAKE_DIR --column X
    python -m lapidus_spark --history LAKE_DIR / --detail LAKE_DIR
    python -m lapidus_spark --catalog-history CATALOG_DIR
    python -m lapidus_spark --catalog-vacuum CATALOG_DIR --retain-entries K [--dry-run]

``--validate-only`` parses and validates the config then exits 0/1
(the reference's ``-t`` flag, index.js:46-49). The maintenance and
administration commands run one lake table operation and exit; the
mutating ones take the lake's single-writer lock, so run them while
the daemon's lake sink is paused (a colliding writer raises — or
waits out a transient flip-lock hold — instead of corrupting).
``--compact`` is the exception: it rewrites with no lock held and
locks only its manifest flip, so it runs beside a live daemon; the
buckets the daemon merges meanwhile are reported as lost to
concurrent merges and stay armed for the next run.
``--restore``, ``--vacuum``, ``--clone``, ``--rename-column``,
``--history`` and ``--detail`` are metadata-only and need no Spark
session at all."""

from __future__ import annotations

import argparse
import sys

from lapidus_spark.config import ConfigError, parse_config
from lapidus_spark.session import get_spark


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="lapidus_spark")
    ap.add_argument("-c", "--config", help="path to JSON config")
    ap.add_argument(
        "--compact",
        metavar="LAKE_DIR",
        help="compact a lake table's degraded buckets and exit",
    )
    ap.add_argument(
        "--rebucket",
        metavar="LAKE_DIR",
        help="rebucket a lake table to --buckets and exit",
    )
    ap.add_argument("--buckets", type=int, help="target bucket count for --rebucket")
    ap.add_argument(
        "--retain-versions",
        type=int,
        default=None,
        help="committed versions whose data GC keeps (time-travel "
        "horizon). Defaults per command: 1 for --compact/--rebucket/"
        "--vacuum, 2 for --restore/--delete/--rename-column (keeping "
        "the undone/pre-delete/pre-rename version time-travelable, "
        "the library default)",
    )
    ap.add_argument(
        "--target-files-per-bucket",
        type=int,
        default=1,
        help="--compact rewrites buckets with more parquet files than this",
    )
    ap.add_argument(
        "--max-records-per-file",
        type=int,
        default=None,
        help="split valve for oversized buckets during --compact",
    )
    ap.add_argument(
        "--stats-columns",
        default=None,
        help="--compact: comma-separated payload columns to record "
        "per-file min/max zone maps for (data skipping via "
        "lake_skip_read); omit to adopt the set a previous OPTIMIZE "
        "recorded (table-property semantics)",
    )
    ap.add_argument(
        "--bloom-columns",
        default=None,
        help="--compact: comma-separated string/integral payload columns "
        "to record per-file Bloom filters for (equality-probe file "
        "skipping via lake_skip_read); omit to adopt the previously "
        "declared set (table-property semantics)",
    )
    ap.add_argument(
        "--cluster-by",
        default="entity_id",
        help="--compact sort dims, comma-separated (entity_id | "
        "entity_id,last_ts — two dims = OPTIMIZE ZORDER BY)",
    )
    ap.add_argument(
        "--restore",
        metavar="LAKE_DIR",
        help="RESTORE the lake to --version (metadata-only commit) and exit",
    )
    ap.add_argument(
        "--version",
        type=int,
        default=None,
        help="target version for --restore / source version for --clone",
    )
    ap.add_argument(
        "--vacuum",
        metavar="LAKE_DIR",
        help="raise the retention floor to live - --retain-versions + 1, "
        "reclaim unreferenced files, and exit",
    )
    ap.add_argument(
        "--dry-run",
        action="store_true",
        help="--vacuum: report what would be reclaimed without mutating",
    )
    ap.add_argument(
        "--delete",
        metavar="LAKE_DIR",
        help="DELETE FROM the lake WHERE --where (tombstone flip) and exit",
    )
    ap.add_argument(
        "--where",
        default=None,
        help="SQL predicate over the snapshot columns for --delete",
    )
    ap.add_argument(
        "--delete-mode",
        choices=("rewrite", "dv"),
        default="rewrite",
        help="--delete strategy: 'rewrite' materializes tombstones into "
        "rewritten buckets; 'dv' records a deletion vector (zero data "
        "bytes, merge-on-read — the GDPR single-row path; the next "
        "OPTIMIZE materializes and sheds it)",
    )
    ap.add_argument(
        "--rename-column",
        metavar="LAKE_DIR",
        help="RENAME an accreted lake column --old to --new "
        "(metadata-only commit; old files read through the alias) and exit",
    )
    ap.add_argument("--old", default=None, help="current column name for --rename-column")
    ap.add_argument(
        "--drop-column",
        metavar="LAKE_DIR",
        help="DROP an accreted lake column --column (metadata-only "
        "commit; the name set stays quarantined, pre-drop versions "
        "still time-travel with the column) and exit",
    )
    ap.add_argument("--column", default=None, help="column name for --drop-column")
    ap.add_argument("--new", default=None, help="new column name for --rename-column")
    ap.add_argument(
        "--clone",
        metavar="SRC_LAKE",
        help="shallow-clone SRC_LAKE into --into (zero-copy; registers a "
        "retention pin the source's GC/vacuum honor) and exit",
    )
    ap.add_argument(
        "--into", default=None, help="destination dir for --clone/--detach-clone"
    )
    ap.add_argument(
        "--detach-clone",
        metavar="SRC_LAKE",
        help="release the clone at --into's retention pin on SRC_LAKE "
        "(refuses while the clone still references the source's files)",
    )
    ap.add_argument(
        "--force",
        action="store_true",
        help="--detach-clone: sever the pin even while the clone still "
        "references the source (the next source vacuum may break it)",
    )
    ap.add_argument(
        "--history",
        metavar="LAKE_DIR",
        help="print DESCRIBE HISTORY (one JSON line per retained version) and exit",
    )
    ap.add_argument(
        "--catalog-history",
        metavar="CATALOG_DIR",
        help="print a multi-table catalog's committed entries (one JSON "
        "line per catalog version, newest first: version, txid, the "
        "table→version map) and exit",
    )
    ap.add_argument(
        "--catalog-vacuum",
        metavar="CATALOG_DIR",
        help="coordinated retention trim: raise the catalog floor to "
        "keep --retain-entries catalog versions, reclaim older entry "
        "JSONs, then vacuum each member table down to exactly the "
        "versions the remaining entries reference (the ONLY safe way "
        "to shrink a catalog member's history — uncoordinated "
        "--vacuum on a member table refuses to cross a retained "
        "entry's reference)",
    )
    ap.add_argument(
        "--retain-entries",
        type=int,
        default=None,
        help="catalog versions to keep for --catalog-vacuum",
    )
    ap.add_argument(
        "--detail",
        metavar="LAKE_DIR",
        help="print DESCRIBE DETAIL (one JSON line) and exit",
    )
    ap.add_argument(
        "-t",
        "--validate-only",
        action="store_true",
        help="validate config and exit",
    )
    ap.add_argument(
        "--checkpoint-root",
        default=None,
        help="durable checkpoint dir (overrides config checkpointRoot); "
        "restarting with the same dir resumes from committed offsets",
    )
    args = ap.parse_args(argv)

    admin = [
        a
        for a in (
            args.compact,
            args.rebucket,
            args.restore,
            args.vacuum,
            args.delete,
            args.clone,
            args.detach_clone,
            args.history,
            args.detail,
            args.rename_column,
            args.drop_column,
            args.catalog_history,
            args.catalog_vacuum,
        )
        if a
    ]
    if admin:
        if args.config:
            ap.error("maintenance/administration commands do not take -c")
        if len(admin) > 1:
            ap.error("pass exactly one maintenance/administration command")
        if args.rebucket and args.buckets is None:
            ap.error("--rebucket requires --buckets")
        if args.restore and args.version is None:
            ap.error("--restore requires --version")
        if args.delete and not args.where:
            ap.error("--delete requires --where")
        if args.clone and not args.into:
            ap.error("--clone requires --into")
        if args.detach_clone and not args.into:
            ap.error("--detach-clone requires --into")
        if args.catalog_vacuum and args.retain_entries is None:
            ap.error("--catalog-vacuum requires --retain-entries")
        if args.rename_column and (not args.old or not args.new):
            ap.error("--rename-column requires --old and --new")
        if args.drop_column and not args.column:
            ap.error("--drop-column requires --column")

        import json as _json

        retain = args.retain_versions
        if retain is None:
            # restore/delete/rename keep the undone / pre-delete /
            # pre-rename version time-travelable by default (the
            # library defaults); maintenance commands default to
            # live-only
            retain = (
                2
                if (args.restore or args.delete or args.rename_column or args.drop_column)
                else 1
            )

        # metadata-only commands: no Spark session needed
        if args.restore:
            from lapidus_spark.streaming.materialize import restore_lake

            res = restore_lake(args.restore, args.version, retain_versions=retain)
            print(
                f"restored to version {res['restored_from']} as version "
                f"{res['version']} ({res['restored_buckets']} bucket(s) repointed"
                f"{', full layout swap' if res['replace_all'] else ''})"
            )
            return 0
        if args.vacuum:
            from lapidus_spark.streaming.materialize import vacuum_lake

            res = vacuum_lake(args.vacuum, retain_versions=retain, dry_run=args.dry_run)
            verb = "would reclaim" if args.dry_run else "reclaimed"
            print(
                f"{verb} {res['reclaimable_dirs']} commit dir(s), "
                f"{res['reclaimable_files']} file(s), "
                f"{res['reclaimable_bytes']} byte(s); floor now {res['floor']} "
                f"of live {res['version']}"
            )
            return 0
        if args.clone:
            from lapidus_spark.streaming.materialize import clone_lake

            res = clone_lake(args.clone, args.into, version=args.version)
            print(
                f"cloned {res['cloned_from']['source']} @ version "
                f"{res['cloned_from']['version']} into {args.into} (zero-copy)"
            )
            return 0
        if args.detach_clone:
            from lapidus_spark.streaming.materialize import detach_clone

            res = detach_clone(args.detach_clone, args.into, force=args.force)
            if res["detached"]:
                print(
                    f"detached clone {args.into} from {args.detach_clone}"
                    + (" (was still referencing — forced)" if res["was_referencing"] else "")
                )
            else:
                print(f"no pin for clone {args.into} on {args.detach_clone}")
            return 0
        if args.history:
            from lapidus_spark.streaming.materialize import describe_history

            for row in describe_history(args.history):
                print(_json.dumps(row, sort_keys=True))
            return 0
        if args.catalog_history:
            from lapidus_spark.lake.catalog import describe_catalog_history

            for row in describe_catalog_history(args.catalog_history):
                print(_json.dumps(row, sort_keys=True))
            return 0
        if args.catalog_vacuum:
            from lapidus_spark.lake.catalog import catalog_vacuum

            res = catalog_vacuum(
                args.catalog_vacuum,
                retain_entries=args.retain_entries,
                dry_run=args.dry_run,
            )
            verb = "would reclaim" if args.dry_run else "reclaimed"
            print(
                f"{verb} {res['reclaimed_entries']} catalog entr(ies); "
                f"catalog floor now {res['floor']}; "
                + "; ".join(
                    f"{t}: retain {p['retain_versions']} (oldest ref "
                    f"{p['min_referenced']})"
                    for t, p in sorted(res["tables"].items())
                )
            )
            return 0
        if args.detail:
            from lapidus_spark.streaming.materialize import describe_detail

            print(_json.dumps(describe_detail(args.detail), sort_keys=True))
            return 0
        if args.drop_column:
            from lapidus_spark.streaming.materialize import drop_lake_column

            res = drop_lake_column(
                args.drop_column, args.column, retain_versions=retain
            )
            print(
                f"dropped {args.column}; version {res['version']} "
                "(metadata-only, name quarantined, zero data bytes)"
            )
            return 0
        if args.rename_column:
            from lapidus_spark.streaming.materialize import rename_lake_column

            res = rename_lake_column(
                args.rename_column, args.old, args.new, retain_versions=retain
            )
            print(
                f"renamed {args.old} -> {args.new}; version {res['version']} "
                "(metadata-only, zero data bytes)"
            )
            return 0

        from lapidus_spark.streaming.materialize import (
            compact_lake,
            delete_from_lake,
            rebucket_lake,
        )

        spark = get_spark("lapidus_spark_maintenance")
        if args.compact:
            res = compact_lake(
                spark,
                args.compact,
                target_files_per_bucket=args.target_files_per_bucket,
                max_records_per_file=args.max_records_per_file,
                retain_versions=retain,
                cluster_by=tuple(args.cluster_by.split(",")),
                stats_columns=(
                    tuple(c for c in args.stats_columns.split(",") if c)
                    if args.stats_columns is not None
                    else None
                ),
                bloom_columns=(
                    tuple(c for c in args.bloom_columns.split(",") if c)
                    if args.bloom_columns is not None
                    else None
                ),
            )
            print(
                f"compacted {res['compacted_buckets']} bucket(s); version "
                f"{res['version']} ({res['skipped_buckets']} lost to concurrent merges)"
            )
        elif args.delete:
            res = delete_from_lake(
                spark, args.delete, args.where, retain_versions=retain,
                mode=args.delete_mode,
            )
            how = "deletion vector" if args.delete_mode == "dv" else "rewrite"
            print(
                f"deleted {res['deleted_rows']} row(s) across "
                f"{res['deleted_buckets']} bucket(s) via {how}; "
                f"version {res['version']}"
            )
        else:
            res = rebucket_lake(spark, args.rebucket, args.buckets, retain_versions=retain)
            print(f"rebucketed to {res['n_buckets']}; version {res['version']}")
        return 0
    if not args.config:
        ap.error("-c/--config is required (or a maintenance command)")

    try:
        with open(args.config) as f:
            cfg = parse_config(f.read())
    except (OSError, ConfigError) as e:
        print(f"config error: {e}", file=sys.stderr)
        return 1
    if args.validate_only:
        print(f"config ok: {len(cfg.backends)} backend(s)")
        return 0

    from lapidus_spark.streaming.pipeline import run

    spark = get_spark("lapidus_spark_daemon")
    run(spark, cfg, checkpoint_root=args.checkpoint_root, await_termination=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
