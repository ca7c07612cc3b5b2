"""Engine CLI — reference parity for kompactor's entry point
(kompactor.ts:343-372: positional data-dir, required --hosts
comma-list, --dry-run, --verbose) with the differences that matter:
--dry-run actually does nothing destructive (reference bug B1), and
the planned-but-dead generation level (D4/D8) is reachable via
--generation.

Usage:
    python -m kompactor_spark <data-dir> --hosts host-a,host-b
        [--dry-run] [--verbose] [--generation] [--now-ns N]
    python -m kompactor_spark <data-dir> --hosts host-a
        --ingest-source /path/to/files [--auto-compact] [--grace-ns N]
        [--ingest-format parquet|json|csv] [--db N] [--table N]
"""

from __future__ import annotations

import argparse
import logging
import sys

from pyspark.sql import SparkSession

from kompactor_spark.compaction import CompactionJob
from kompactor_spark.compaction.metadata import TIME_COL
from kompactor_spark.timeutil import NS_PER_HOUR


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="kompactor_spark",
        description="Metadata-driven Parquet compaction for InfluxDB-3-style layouts, on Spark.",
    )
    p.add_argument("data_dir", help="root data directory (contains <host>/{snapshots,dbs})")
    p.add_argument("--hosts", required=True, help="comma-separated host list")
    p.add_argument("--dry-run", action="store_true", help="plan and report; write nothing")
    p.add_argument("--verbose", action="store_true", help="INFO-level logging")
    p.add_argument(
        "--generation",
        action="store_true",
        help="run the day-level (generation) pass instead of the hour-level pass",
    )
    p.add_argument(
        "--now-ns",
        type=int,
        default=None,
        help="generation-pass clock (ns epoch); days newer than --time-window-hours before "
        "this are skipped. Omit to compact every day (backfill).",
    )
    p.add_argument(
        "--time-window-hours",
        type=int,
        default=24,
        help="generation pass: days whose end is newer than this many hours before "
        "--now-ns are still 'hot' and skipped (reference timeWindowHours, declared "
        "but unwired there; default 24)",
    )
    p.add_argument(
        "--fsck",
        action="store_true",
        help="check catalog <-> disk integrity (footer stats vs snapshot entries) and exit; "
        "non-zero exit on corruption",
    )
    p.add_argument(
        "--bootstrap",
        action="store_true",
        help="before compacting, catalog the <host>/dbs files the catalog does not hold (footer stats only, "
        "no data scan; a second run adopts nothing); rerun a failed compaction first, or its c_ outputs duplicate rows",
    )
    p.add_argument(
        "--retention-cutoff-ns",
        type=int,
        default=None,
        help="prune files whose max_time is older than this ns epoch (catalog-first "
        "commit, then deletes), print a report, and exit; honors --dry-run",
    )
    p.add_argument(
        "--ingest-source",
        default=None,
        help="stream-ingest this directory (availableNow file source) into the "
        "<host>/dbs WAL layout + live catalog instead of compacting; requires "
        "exactly one --hosts entry; rows carry their event time as int64 ns in a "
        "column named 'time'",
    )
    p.add_argument(
        "--ingest-format",
        default="parquet",
        choices=["parquet", "json", "csv", "lineprotocol"],
        help="file format of --ingest-source (schema inferred from existing files; "
        "'lineprotocol' parses InfluxDB line protocol text into "
        "measurement/tags/fields/time columns, dropping malformed lines)",
    )
    p.add_argument(
        "--auto-compact",
        action="store_true",
        help="with --ingest-source: after each batch, hour-compact hours the event "
        "clock has closed (continuous compaction; the hot hour is never touched)",
    )
    p.add_argument(
        "--grace-ns",
        type=int,
        default=0,
        help="with --auto-compact: extra event-time lag before an hour counts as closed",
    )
    p.add_argument("--checkpoint", default=None, help="streaming checkpoint dir (ingest mode)")
    p.add_argument(
        "--max-files-per-trigger",
        type=int,
        default=None,
        help="ingest mode: cap source files per micro-batch (batch = one WAL file per hour)",
    )
    p.add_argument("--db", type=int, default=0, help="target db id (ingest mode)")
    p.add_argument("--table", type=int, default=0, help="target table id (ingest mode)")
    p.add_argument(
        "--expire-snapshots",
        action="store_true",
        help="fold each host's snapshot history into one manifest "
        "(catalog GC; moves the as_of time-travel horizon to now)",
    )
    p.add_argument(
        "--export-zorder",
        default=None,
        metavar="DEST",
        help="export the (--db, --table) table as a Z-ORDERED parquet copy at "
        "DEST for multi-dimension analytics (the catalog's own files stay "
        "time-sorted; this is a derived layout, not a catalog rewrite)",
    )
    p.add_argument(
        "--zorder-cols",
        default="time",
        help="comma-separated dimensions for --export-zorder (default: time)",
    )
    p.add_argument(
        "--zorder-files",
        type=int,
        default=8,
        help="output file count for --export-zorder (default: 8)",
    )
    p.add_argument(
        "--export-rollup",
        default=None,
        metavar="DEST",
        help="materialize an EXACT hourly rollup of the (--db, --table) "
        "table at DEST (continuous-aggregate state: count + fixed-point "
        "limb sums + min/max units; coarser grains re-aggregate from "
        "these rows bit-exactly, never re-scanning raw data)",
    )
    p.add_argument(
        "--rollup-value-col",
        default="value",
        help="numeric field to roll up for --export-rollup (default: value)",
    )
    p.add_argument(
        "--rollup-key-cols",
        default="",
        help="comma-separated extra group keys for --export-rollup (default: none)",
    )
    p.add_argument(
        "--skew-report",
        default=None,
        metavar="KEY_COL",
        help="print the top-20 heaviest values of KEY_COL in the "
        "(--db, --table) table with per-key share and cumulative share — "
        "the pre-flight diagnostic for choosing broadcast vs salting vs "
        "AQE skew-split on a join key",
    )
    return p


# modes that act on one host's table
_SINGLE_HOST = ("export_zorder", "skew_report", "export_rollup", "ingest_source")


def main(argv: list[str] | None = None, spark: SparkSession | None = None) -> int:
    args = build_parser().parse_args(argv)
    logging.basicConfig(level=logging.INFO if args.verbose else logging.WARNING, stream=sys.stderr)
    hosts = [h for h in args.hosts.split(",") if h]

    # the catalog-only modes read and write metadata alone: no session
    if args.fsck:
        from kompactor_spark.compaction.fsck import fsck_host

        rc = 0
        for host in hosts:
            rep = fsck_host(args.data_dir, host)
            print(rep.summary())
            for issue in rep.dangling + rep.orphans + rep.stat_mismatches:
                print(f"  {issue}")
            if not rep.ok:
                rc = 2
        return rc
    if args.retention_cutoff_ns is not None:
        from kompactor_spark.compaction.retention import enforce_retention

        for rep in enforce_retention(
            args.data_dir,
            hosts,
            cutoff_ns=args.retention_cutoff_ns,
            dry_run=args.dry_run,
        ):
            print(rep.summary())
        return 0
    if args.expire_snapshots:
        from kompactor_spark.compaction.metadata import expire_snapshots

        for host in hosts:
            rep = expire_snapshots(args.data_dir, host)
            print(f"{host}: snapshots merged={rep['merged']} kept={rep['kept']}")
        return 0

    own_session = spark is None
    if own_session:
        from kompactor_spark.session import get_spark

        spark = get_spark("kompactor-spark-cli")
    try:
        mode = next((m for m in _SINGLE_HOST if getattr(args, m) is not None), None)
        if mode is not None and len(hosts) != 1:
            print(f"--{mode.replace('_', '-')} requires exactly one --hosts entry", file=sys.stderr)
            return 2
        if args.export_zorder is not None:
            from kompactor_spark.compaction.readers import read_table
            from kompactor_spark.operators.zorder import zorder_layout

            df = read_table(spark, args.data_dir, hosts[0], args.db, args.table)
            cols = [c for c in args.zorder_cols.split(",") if c]
            zorder_layout(df, cols, num_files=args.zorder_files).write.mode(
                "overwrite"
            ).parquet(args.export_zorder)
            n = spark.read.parquet(args.export_zorder).count()
            print(
                f"{hosts[0]}: z-ordered export db={args.db} table={args.table} "
                f"by {cols} -> {args.export_zorder} ({n} rows, {args.zorder_files} files)"
            )
            return 0
        if args.skew_report is not None:
            from kompactor_spark.compaction.readers import read_table
            from kompactor_spark.operators.skew import skew_report

            df = read_table(spark, args.data_dir, hosts[0], args.db, args.table)
            key = args.skew_report
            rows = skew_report(df, key, top_n=20, dp=4).collect()
            print(f"{hosts[0]}: key skew for db={args.db} table={args.table} key={key}")
            for row in rows:
                print(
                    f"  {row[key]!r:>20}  n={row['n']:<10} share={row['share']:<8} "
                    f"cum={row['cum_share']}"
                )
            return 0
        if args.export_rollup is not None:
            from kompactor_spark.compaction.readers import read_table
            from kompactor_spark.operators.rollup import exact_hourly_rollup

            df = read_table(spark, args.data_dir, hosts[0], args.db, args.table)
            keys = tuple(c for c in args.rollup_key_cols.split(",") if c)
            exact_hourly_rollup(
                df, time_col=TIME_COL, value_col=args.rollup_value_col, key_cols=keys
            ).write.mode("overwrite").parquet(args.export_rollup)
            n = spark.read.parquet(args.export_rollup).count()
            print(
                f"{hosts[0]}: exact hourly rollup db={args.db} table={args.table} "
                f"value={args.rollup_value_col} keys={list(keys)} -> "
                f"{args.export_rollup} ({n} rollup rows)"
            )
            return 0
        if args.ingest_source is not None:
            import os

            from kompactor_spark.compaction.metadata import load_manifest
            from kompactor_spark.streaming.ingest import IngestJob

            if args.ingest_format == "lineprotocol":
                from kompactor_spark.sources import parse_line_protocol

                reader = spark.readStream
                if args.max_files_per_trigger is not None:
                    reader = reader.option("maxFilesPerTrigger", args.max_files_per_trigger)
                parsed = parse_line_protocol(reader.text(args.ingest_source))
                # timestamped, well-formed lines only; the time column is
                # ns-long as the WAL layout requires
                stream = parsed.where("malformed IS NULL AND time IS NOT NULL").drop("malformed")
            else:
                # Pin the schema from the files already present — a streaming
                # file source must not re-infer per batch.
                schema = getattr(spark.read, args.ingest_format)(args.ingest_source).schema
                reader = spark.readStream.schema(schema).format(args.ingest_format)
                if args.max_files_per_trigger is not None:
                    reader = reader.option("maxFilesPerTrigger", args.max_files_per_trigger)
                stream = reader.load(args.ingest_source)
            job = IngestJob(
                args.data_dir,
                hosts[0],
                db=args.db,
                table=args.table,
                auto_compact=args.auto_compact,
                grace_ns=args.grace_ns,
            )
            ckpt = args.checkpoint or os.path.join(
                args.data_dir, hosts[0], ".checkpoints", f"db-{args.db}-table-{args.table}"
            )
            q = job.attach(stream, ckpt)
            q.awaitTermination()
            manifest = load_manifest(args.data_dir, hosts[0])
            n_rows = sum(f.row_count for _, _, f in manifest)
            print(f"{hosts[0]}: ingested -> {n_rows} rows in {len(manifest)} files "
                  f"(auto-compact {'on' if args.auto_compact else 'off'})")
            return 0
        if args.bootstrap:
            from kompactor_spark.compaction.metadata import adopt

            for host in hosts:
                files = adopt(args.data_dir, host)
                print(f"{host}: bootstrapped catalog ({sum(f.row_count for f in files)} rows, "
                      f"{len(files)} files)")
        job = CompactionJob(spark, args.data_dir, hosts, dry_run=args.dry_run)
        if args.generation:
            # D4: a day is cold once its newest row is a full window before the clock
            before_ns = None if args.now_ns is None else args.now_ns - args.time_window_hours * NS_PER_HOUR
            reports = job.run_generation(before_ns=before_ns)
        else:
            reports = job.run()
        for rep in reports:
            mode = "dry-run" if rep.dry_run else "compacted"
            print(
                f"{rep.host}: {mode} {rep.compacted_groups}/{rep.planned_groups} groups "
                f"({rep.skipped_singletons} singletons skipped)"
            )
            for r in rep.results:
                print(f"  {'/'.join(r.key[1:])}: {len(r.input_paths)} files -> {', '.join(r.output_paths)} "
                      f"({r.row_count} rows)")
        return 0
    finally:
        if own_session:
            spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
