"""Iceberg table operations CLI over the pure-Python metadata layer.

Operational front door for the Iceberg v2 tables this engine writes
(lineage checkpoints via ``table_format='iceberg'``, or any table
``opentopodata_spark.iceberg`` created):

    python -m opentopodata_spark.jobs.iceberg info    --table <loc>
    python -m opentopodata_spark.jobs.iceberg history --table <loc>
    python -m opentopodata_spark.jobs.iceberg files   --table <loc>
        [--snapshot ID | --as-of-ms MS]
    python -m opentopodata_spark.jobs.iceberg export  --table <loc>
        --out <parquet dir> [--snapshot ID | --as-of-ms MS] [--cores N]

``info`` / ``history`` / ``files`` are DRIVER-ONLY: they read metadata
JSON + Avro manifests and never start a JVM — the property that makes
them usable as health probes at any table size (metadata is O(files),
not O(rows)). ``export`` materializes a (possibly time-traveled)
snapshot through a Spark scan of exactly the planned live files.

Each subcommand prints one JSON line (the jobs/raster.py info
contract)."""

from __future__ import annotations

import argparse
import json
import os

from .. import iceberg as _ice


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="opentopodata_spark.jobs.iceberg")
    sub = p.add_subparsers(dest="cmd", required=True)

    def common(sp):
        sp.add_argument("--table", required=True,
                        help="Iceberg table location (HadoopCatalog "
                             "layout: <loc>/metadata/version-hint.text)")

    sp = sub.add_parser("info", help="table summary (driver-only)")
    common(sp)
    sp = sub.add_parser("history", help="snapshot log (driver-only)")
    common(sp)
    sp = sub.add_parser("files", help="live data files (driver-only)")
    common(sp)
    sp.add_argument("--snapshot", type=int, default=None)
    sp.add_argument("--as-of-ms", type=int, default=None)
    sp = sub.add_parser("export",
                        help="materialize a snapshot to parquet (Spark)")
    common(sp)
    sp.add_argument("--out", required=True)
    sp.add_argument("--snapshot", type=int, default=None)
    sp.add_argument("--as-of-ms", type=int, default=None)
    sp.add_argument("--cores", type=int, default=None)
    sp.add_argument("--master", default=None)
    sp = sub.add_parser("compact",
                        help="rewrite live files to ~target-mb (Spark; "
                             "one 'replace' snapshot)")
    common(sp)
    sp.add_argument("--target-mb", type=int, default=64)
    sp.add_argument("--cores", type=int, default=None)
    sp.add_argument("--master", default=None)
    sp = sub.add_parser("expire",
                        help="expire old snapshots + GC their files "
                             "(driver-only)")
    common(sp)
    sp.add_argument("--keep-last", type=int, default=1)
    sp.add_argument("--older-than-ms", type=int, default=None)
    return p


def _resolve_snapshot(t: _ice.IcebergTable, ns):
    if ns.snapshot is not None and ns.as_of_ms is not None:
        raise ValueError("pass --snapshot or --as-of-ms, not both")
    if ns.as_of_ms is not None:
        sid = t.snapshot_as_of(ns.as_of_ms)
        if sid is None:
            raise ValueError(
                f"no snapshot at or before {ns.as_of_ms} "
                f"(earliest: {t.history()[0] if t.history() else None})")
        return sid
    return ns.snapshot  # may be None = current


def run(ns: argparse.Namespace) -> dict:
    t = _ice.IcebergTable(ns.table)
    if ns.cmd == "info":
        entries = t.live_entries()
        return {
            "table": ns.table,
            "format_version": t.meta["format-version"],
            "table_uuid": t.meta["table-uuid"],
            "metadata_version": t.version,
            "current_snapshot_id": t.current_snapshot_id(),
            "n_snapshots": len(t.snapshots()),
            "partition_col": t.partition_col,
            "partitions": sorted(
                v for v in t.partition_values() if v is not None),
            "live_files": len(entries),
            "live_rows": sum(
                e["data_file"]["record_count"] for e in entries),
            "live_bytes": sum(
                e["data_file"]["file_size_in_bytes"] for e in entries),
            "columns": [
                f["name"] for f in t.meta["schemas"][0]["fields"]],
        }
    if ns.cmd == "history":
        return {
            "table": ns.table,
            "history": [
                {
                    "snapshot_id": s["snapshot-id"],
                    "parent": s.get("parent-snapshot-id"),
                    "sequence_number": s["sequence-number"],
                    "timestamp_ms": s["timestamp-ms"],
                    "operation": s["summary"]["operation"],
                }
                for s in t.snapshots()
            ],
        }
    if ns.cmd == "files":
        sid = _resolve_snapshot(t, ns)
        files = t.live_files(sid)
        return {
            "table": ns.table,
            "snapshot_id": sid if sid is not None
            else t.current_snapshot_id(),
            "n_files": len(files),
            "files": files,
        }
    if ns.cmd == "compact":
        from ..session import get_spark

        spark = get_spark(
            app_name="otds-iceberg-compact", cores=ns.cores,
            master=ns.master,
        )
        out = _ice.rewrite_data_files(spark, t, target_mb=ns.target_mb)
        return {"table": ns.table, **out}
    if ns.cmd == "expire":
        out = _ice.expire_snapshots(
            t, keep_last=ns.keep_last, older_than_ms=ns.older_than_ms)
        return {"table": ns.table, **out}
    if ns.cmd == "export":
        from ..session import get_spark

        sid = _resolve_snapshot(t, ns)
        spark = get_spark(
            app_name="otds-iceberg-export", cores=ns.cores,
            master=ns.master,
        )
        df = _ice.read_table(spark, ns.table, snapshot_id=sid)
        df.write.mode("overwrite").parquet(ns.out)
        return {
            "table": ns.table,
            "snapshot_id": sid if sid is not None
            else t.current_snapshot_id(),
            "out": ns.out,
            "rows": spark.read.parquet(ns.out).count(),
        }
    raise ValueError(f"unknown command {ns.cmd}")


def main(argv=None) -> int:
    ns = build_parser().parse_args(argv)
    print(json.dumps(run(ns), separators=(",", ":")))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
