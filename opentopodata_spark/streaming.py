"""Structured Streaming ingestion: continuous documents -> elevations.

The reference is strictly request/response (SURVEY.md §2 "Streaming
operators: None"), so nothing here mirrors reference behavior — this is
the engine-native continuous-ingest mode a document pipeline needs:
new document files land in a directory (the batch table's streaming twin),
each micro-batch runs the SAME extraction + resolver plan via
``foreachBatch``, and the sink is exactly-once per micro-batch through the
streaming checkpoint (a re-run with no new files writes nothing).

Design notes for scale:

* ``foreachBatch`` (not a continuous streaming plan) because the resolver
  is a repartition + mapInArrow pipeline — batch operators. Inside
  foreachBatch the full Catalyst batch planner applies, so the
  micro-batch runs the identical single-shuffle plan the batch job runs.
* ``maxFilesPerTrigger`` bounds micro-batch size: ingest latency trades
  against shuffle efficiency explicitly, not implicitly.

Exactly-once: the checkpoint dedupes micro-batches across restarts, and
each micro-batch writes (overwrite) its own ``ingest_batch=<id>``
partition, so a retry after a partial write replaces its own output —
idempotent at batch granularity, the foreachBatch half of the guarantee
the checkpoint alone does not provide. Tested in tests/test_streaming.py
including a restart-with-no-new-data run and a partial-write retry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators import extract as _extract

__all__ = [
    "DOCUMENTS_DDL",
    "TILE_MANIFEST_DDL",
    "stream_documents",
    "run_elevation_stream",
    "stream_tile_manifests",
    "run_overview_stream",
]

DOCUMENTS_DDL = (
    "doc_id string, spans array<struct<"
    "kind:string,text:string,media_ref:string,offset:int>>"
)


def stream_documents(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Streaming scan of a documents directory (parquet files arriving)."""
    reader = spark.readStream.schema(DOCUMENTS_DDL)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def run_elevation_stream(
    resolver,
    documents_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """documents stream -> extraction -> resolver -> parquet, exactly-once.

    Returns the started StreamingQuery; callers ``awaitTermination()``.
    ``available_now=True`` drains everything currently in the directory
    then stops (the batch-catchup trigger); False runs continuously.
    """

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        pts = _extract.with_point_id(_extract.extract_points(batch_df)).where(
            F.col("loc_error").isNull()
        )
        resolved = resolver.resolve(pts, carry=("doc_id", "span_pos", "point_pos"))
        # Idempotent per-batch sink: each micro-batch owns the
        # ingest_batch=<id> directory and OVERWRITES it, so a batch that
        # retries after a partial write replaces its own output instead of
        # appending duplicates (a plain mode("append") would break the
        # exactly-once claim exactly there). Readers see ingest_batch as a
        # discovered partition column — lineage metadata, prunable.
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


# ---------------------------------------------------------------------------
# file-arrival-driven raster processing (streaming x raster family)
# ---------------------------------------------------------------------------

TILE_MANIFEST_DDL = "tile_iy long, tile_ix long, path string"


def stream_tile_manifests(
    spark: SparkSession, manifest_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming scan of tile-manifest JSON files (one row per newly
    landed raster tile). The STREAM carries only metadata rows — tile
    payloads stay on storage and are opened executor-side by the raster
    operator each batch, so state and checkpoints are KB-scale no matter
    how big the tiles are."""
    reader = spark.readStream.schema(TILE_MANIFEST_DDL)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(manifest_dir)


def run_overview_stream(
    spark: SparkSession,
    manifests: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    *,
    factor: int = 2,
    method: str = "average",
    available_now: bool = True,
):
    """Tile-arrival stream -> overview tiles, exactly-once.

    Idempotency comes from the SINK, not the stream: overview outputs
    publish via atomic rename and ``skip_existing=True``, so a batch
    that is re-delivered after a crash (or a manifest accidentally
    listing an old tile again) re-derives its manifest rows from the
    stored files instead of recomputing or duplicating. Per-batch
    manifests land under ``{out_dir}/_manifest/ingest_batch=<id>`` with
    overwrite — the same per-batch-ownership pattern as the documents
    ingest sink.
    """
    from .operators import resample as _resample

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        tiles = [
            (r["tile_iy"], r["tile_ix"], r["path"])
            for r in batch_df.select("tile_iy", "tile_ix", "path")
            .dropDuplicates(["tile_iy", "tile_ix"]).collect()
        ]
        if not tiles:
            return
        manifest = _resample.resample_tiles(
            spark, tiles, out_dir, factor=factor, method=method,
            skip_existing=True,
        )
        manifest.write.mode("overwrite").parquet(
            f"{out_dir}/_manifest/ingest_batch={batch_id}"
        )

    writer = (
        manifests.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
