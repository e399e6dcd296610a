"""The flagship batch job: documents -> coordinates -> elevations.

The cluster-facing surface the north rule requires — one script that runs
identically under ``python -m opentopodata_spark.jobs.elevation`` (local
dev, this sandbox) and ``spark-submit --py-files otds.zip elevation.py
--master external`` (a real multi-executor cluster). All engine knobs are
CLI flags; argument validation reuses the reference's client-error
semantics (opentopodata_spark.args, SURVEY.md P5-P8).

Pipeline (SURVEY.md §3): parquet/Iceberg scan of interleaved text+media
documents -> single-pass coordinate extraction (P1/P2) -> distributed
elevation resolution (J1-J4, S1-S9) -> optional bucket-granular lineage
checkpointing for resume (SNK5) -> parquet / JSON / GeoJSON sink
(SNK1/SNK2). ``stream_documents`` + ``run_elevation_stream`` are the
streaming twin: the same plan per micro-batch over arriving files.

Example:

    python -m opentopodata_spark.jobs.elevation \
        --documents /root/testdata/sf0.01/documents.parquet \
        --config tests_config.yaml --datasets multi_eudem_etopo1 \
        --interpolation bilinear --nodata-value null \
        --out /tmp/elev_out --resume-dir /tmp/elev_ckpt
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from pyspark.sql import functions as F

from .. import args as _args
from .. import config as _config
from .. import lineage as _lineage
from .. import sinks as _sinks
from ..operators import elevation as _elevation
from ..operators import extract as _extract
from ..session import get_spark


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="opentopodata_spark.jobs.elevation",
        description="Distributed elevation resolution over a documents table.",
    )
    p.add_argument("--documents", required=True, help="parquet path of the documents table (doc_id, spans)")
    p.add_argument("--config", required=True, help="dataset config YAML (reference schema)")
    p.add_argument("--datasets", required=True, help="dataset name or comma-separated list (MultiDataset names expand)")
    p.add_argument("--out", required=True, help="output directory")
    p.add_argument("--interpolation", default=None, help="nearest|bilinear|cubic (default bilinear)")
    p.add_argument("--nodata-value", default=None, help="'null', 'nan', or an integer")
    p.add_argument("--format", dest="out_format", default="parquet", help="parquet|json|geojson")
    p.add_argument("--resume-dir", default=None, help="lineage checkpoint dir; rerun after a crash does only missing work")
    p.add_argument("--keep-errors", action="store_true", help="also write rows whose location text failed to parse")
    p.add_argument("--cores", type=int, default=None, help="local[] cores (ignored with --master external)")
    p.add_argument("--shuffle-partitions", type=int, default=None)
    p.add_argument("--master", default=None, help="Spark master; 'external' defers to spark-submit")
    return p


def run(argv: list[str] | None = None) -> dict:
    ns = build_parser().parse_args(argv)

    # Fail fast on bad client args before any Spark work (reference 400s).
    interpolation = _args.parse_interpolation(ns.interpolation)
    nodata_value = _args.parse_nodata_value(ns.nodata_value)
    out_format = _args.parse_format(ns.out_format)

    datasets = _config.load_datasets(ns.config)
    ordered = _config.resolve_dataset_names(ns.datasets, datasets)

    spark = get_spark(
        app_name=f"otds-elevation-{ns.datasets}",
        cores=ns.cores,
        shuffle_partitions=ns.shuffle_partitions,
        master=ns.master,
    )

    t0 = time.time()
    docs = spark.read.parquet(ns.documents)
    points = _extract.with_point_id(_extract.extract_points(docs))
    good = points.where(F.col("loc_error").isNull()).drop("loc_error")

    resolver = _elevation.ElevationResolver(
        spark, ordered, interpolation, nodata_value=nodata_value
    )
    # skew + sizing pre-pass on a document sample: per-spatial-cell salt
    # factors (a Zipf-hot cell otherwise serializes the sampling stage)
    # and the total-row estimate that sizes the wide shuffle
    sample_pts = _extract.with_point_id(
        _extract.extract_points(docs.sample(0.02, seed=7))
    ).where(F.col("loc_error").isNull())
    resolver.set_cell_salts(
        _elevation.estimate_cell_salts(resolver, sample_pts, sample_fraction=0.02)
    )

    stats: dict = {"job": "elevation", "datasets": [d.name for d in ordered]}
    if ns.resume_dir:
        res = _lineage.resumable_resolve(spark, resolver, good, ns.resume_dir)
        stats.update(res)
        resolved = spark.read.parquet(res["output"]).drop("_bucket")
    else:
        carry = tuple(c for c in good.columns if c not in ("point_id", "lat", "lon"))
        resolved = resolver.resolve(good, carry)

    # row count via an Observation on the write itself — no second scan
    from pyspark.sql import Observation

    obs = Observation()
    if out_format == "parquet":
        resolved.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
            "overwrite"
        ).parquet(f"{ns.out}/results")
    else:
        # json / geojson are SERIALIZATION formats: write JSON-lines text
        # (one result/Feature object per line), not JSON-shaped parquet
        col = "json" if out_format == "json" else "feature"
        sink = (
            _sinks.json_results(resolved)
            if out_format == "json"
            else _sinks.geojson_features(resolved)
        )
        sink.observe(obs, F.count(F.lit(1)).alias("rows")).select(col).write.mode(
            "overwrite"
        ).text(f"{ns.out}/results")

    if ns.keep_errors:
        points.where(F.col("loc_error").isNotNull()).write.mode(
            "overwrite"
        ).parquet(f"{ns.out}/errors")

    n = obs.get["rows"]
    stats.update(
        {
            "rows": n,
            "seconds": round(time.time() - t0, 3),
            "out": f"{ns.out}/results",
            "interpolation": interpolation,
        }
    )
    return stats


# ---------------------------------------------------------------------------
# streaming twin: continuous documents -> elevations
# ---------------------------------------------------------------------------
#
# New document files land in a directory; each micro-batch runs the SAME
# extraction + resolver plan as ``run`` via ``foreachBatch`` (batch
# operators, so the full batch planner applies). Exactly-once: the
# streaming checkpoint dedupes micro-batches across restarts, and each
# micro-batch overwrites its own ``ingest_batch=<id>`` partition, so a
# retry after a partial write replaces its own output. Tested in
# tests/test_streaming.py, including a restart with no new files and a
# partial-write retry.

DOCUMENTS_DDL = (
    "doc_id string, spans array<struct<"
    "kind:string,text:string,media_ref:string,offset:int>>"
)


def stream_documents(spark, path: str, max_files_per_trigger: int | None = None):
    """Streaming scan of a documents directory (parquet files arriving).
    ``maxFilesPerTrigger`` trades ingest latency against shuffle size."""
    reader = spark.readStream.schema(DOCUMENTS_DDL)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def run_elevation_stream(
    resolver,
    documents_stream,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """documents stream -> extraction -> resolver -> parquet, exactly-once.

    Returns the started StreamingQuery; callers ``awaitTermination()``.
    ``available_now=True`` drains everything currently in the directory
    then stops (the batch-catchup trigger); False runs continuously.
    """

    def process_batch(batch_df, batch_id: int) -> None:
        pts = _extract.with_point_id(_extract.extract_points(batch_df)).where(
            F.col("loc_error").isNull()
        )
        resolved = resolver.resolve(pts, carry=("doc_id", "span_pos", "point_pos"))
        # each micro-batch owns ingest_batch=<id> and OVERWRITES it: a
        # plain append would duplicate rows when a batch retries
        (
            resolved.select(
                "doc_id", "span_pos", "point_pos", "lat", "lon",
                "elevation", "dataset",
            )
            .write.mode("overwrite")
            .parquet(f"{out_dir}/ingest_batch={batch_id}")
        )

    writer = (
        documents_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def main(argv: list[str] | None = None) -> int:
    try:
        stats = run(argv)
    except _args.ClientError as e:
        print(json.dumps({"status": "INVALID_REQUEST", "error": str(e)}))
        return 2
    print(json.dumps({"status": "OK", **stats}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
