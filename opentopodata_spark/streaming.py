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
* the events rollup shows the genuinely-streaming path (watermark +
  windowed aggregation, late data dropped after the watermark) for the
  engine's events table; it is a standard incremental-state aggregation —
  state is bounded by (windows in watermark) x (event types).

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
    "events_rollup_stream",
    "sessionize_stream",
    "stream_tile_manifests",
    "run_overview_stream",
    "geofence_transitions_stream",
]

DOCUMENTS_DDL = (
    "doc_id string, spans array<struct<"
    "kind:string,text:string,media_ref:string,offset:int>>"
)

EVENTS_DDL = (
    "event_id long, ts timestamp, user_id long, event_type string,"
    " value double, props string"
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


def sessionize_stream(
    spark: SparkSession,
    events_dir: str,
    gap_minutes: int = 30,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming twin of operators/events.sessionize — a CUSTOM STATEFUL
    operator via ``applyInPandasWithState`` (gap-based sessions are not
    expressible as a windowed aggregation: session extent depends on the
    data, not a fixed grid).

    Per-user state = the one open session (start_us, last_us, n_events).
    Each micro-batch merges its events into that session with the same
    gap rule as the batch operator; sessions CLOSED by an in-batch gap
    emit immediately, and the open session emits when the event-time
    watermark passes last_ts + gap (state timeout) — so emitted rows are
    exactly the sessions no future in-order event can extend. State is
    one row per user with an open session: bounded by active users
    within the watermark horizon, the textbook stateful-streaming shape.

    Determinism caveat (tested): for the SAME file arrivals and drains,
    output equals the batch ``sessionize`` restricted to closed sessions
    (session_end + gap <= final watermark)."""
    import pandas as pd

    gap_us = gap_minutes * 60 * 1_000_000
    out_schema = (
        "user_id long, session_start timestamp, session_end timestamp,"
        " n_events long"
    )
    state_schema = "start_us long, last_us long, n long"

    def _emit(user_id, start_us, last_us, n):
        return pd.DataFrame(
            {
                "user_id": [user_id],
                "session_start": [pd.to_datetime(start_us, unit="us")],
                "session_end": [pd.to_datetime(last_us, unit="us")],
                "n_events": [n],
            }
        )

    def fn(key, pdf_iter, state):
        (user_id,) = key
        if state.hasTimedOut:
            start_us, last_us, n = state.get
            state.remove()
            yield _emit(user_id, start_us, last_us, n)
            return
        if state.exists:
            start_us, last_us, n = state.get
        else:
            start_us = None
            last_us = n = 0
        for pdf in pdf_iter:
            ts = pdf["ts"].sort_values()
            us = ts.astype("int64") // 1000  # ns -> us
            for t in us:
                t = int(t)
                if start_us is None:
                    start_us, last_us, n = t, t, 1
                elif t - last_us > gap_us:
                    yield _emit(user_id, start_us, last_us, n)
                    start_us, last_us, n = t, t, 1
                elif t < start_us:
                    # late (cross-batch out-of-order) event, still inside
                    # the watermark. If it chains onto the open session's
                    # head, extend the session backwards — matching the
                    # batch operator's globally-sorted semantics. If it is
                    # older than the open session by more than the gap, in
                    # sorted order it belongs to an already-closed earlier
                    # session: emit it as its own singleton (late-data
                    # policy — two such stragglers that would have chained
                    # with EACH OTHER emit separately; the watermark
                    # bounds how late this path can trigger at all).
                    if start_us - t <= gap_us:
                        start_us = t
                        n += 1
                    else:
                        yield _emit(user_id, t, t, 1)
                else:
                    last_us = max(last_us, t)
                    n += 1
        if start_us is None:
            state.remove() if state.exists else None
            return
        state.update((start_us, last_us, n))
        # close the open session when the watermark passes last + gap
        timeout_ms = (last_us + gap_us) // 1000
        state.setTimeoutTimestamp(max(timeout_ms, state.getCurrentWatermarkMs() + 1))

    ev = spark.readStream.schema(EVENTS_DDL).parquet(events_dir)
    return (
        ev.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf="EventTimeTimeout",
        )
    )


def events_rollup_stream(
    spark: SparkSession,
    events_dir: str,
    watermark: str = "30 minutes",
    window: str = "1 hour",
) -> DataFrame:
    """Streaming windowed rollup over the events table: watermarked
    event-time windows per event_type. Append-mode compatible (windows
    emit once finalized by the watermark); state is bounded by the
    watermark horizon."""
    ev = spark.readStream.schema(EVENTS_DDL).parquet(events_dir)
    return (
        ev.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # decimal: incremental state-merge order can't perturb the sum
            F.sum(F.col("value").cast("decimal(28,6)")).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


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


def geofence_transitions_stream(
    spark: SparkSession,
    events_dir: str,
    polygons: list,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming twin of operators/events.geofence_transitions — live
    fence ENTER/EXIT detection via ``applyInPandasWithState``.

    Membership per event is computed INLINE by a closure over the
    polygon list (vectorized ray-cast per polygon over the Arrow batch)
    rather than the batch op's S2-cover join: a second stateful operator
    (the membership groupBy) upstream of the state function is exactly
    the multi-stateful-operator shape streaming restricts, and a
    geofence set is small by nature (10s-100s of fences — a broadcast
    closure). The batch operator remains the shape for polygon sets too
    big to close over.

    Per-user state = the sorted list of currently-inside fence ids.
    Events apply in (ts, event_id) order within each batch; a user's
    first-ever event enters every fence it is already inside —
    identical to the batch twin for in-order arrivals (the sessionize
    determinism caveat applies to out-of-order cross-batch data; the
    watermark bounds it). State never times out: membership is durable
    per active user, one small row each.
    """
    import numpy as np
    import pandas as pd

    from .operators.spatial import points_in_polygon_mask

    polys = [
        (str(p["polygon_id"]), list(p["lats"]), list(p["lons"]))
        for p in polygons
    ]
    out_schema = (
        "user_id long, ts timestamp, polygon_id string, transition string"
    )
    state_schema = "inside array<string>"

    def fn(key, pdf_iter, state):
        (user_id,) = key
        if state.hasTimedOut:  # pragma: no cover - NoTimeout configured
            state.remove()
            return
        inside = set(state.get[0]) if state.exists else set()
        out_ts, out_poly, out_tr = [], [], []
        for pdf in pdf_iter:
            pdf = pdf.sort_values(["ts", "event_id"])
            la = pdf["lat"].to_numpy(dtype=np.float64)
            lo = pdf["lon"].to_numpy(dtype=np.float64)
            members = np.zeros((len(pdf), len(polys)), dtype=bool)
            for j, (_pid, pla, plo) in enumerate(polys):
                members[:, j] = points_in_polygon_mask(la, lo, pla, plo)
            for i, ts in enumerate(pdf["ts"]):
                now = {polys[j][0] for j in np.nonzero(members[i])[0]}
                for p in sorted(now - inside):
                    out_ts.append(ts)
                    out_poly.append(p)
                    out_tr.append("enter")
                for p in sorted(inside - now):
                    out_ts.append(ts)
                    out_poly.append(p)
                    out_tr.append("exit")
                inside = now
        state.update((sorted(inside),))
        if out_ts:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(out_ts),
                    "ts": out_ts,
                    "polygon_id": out_poly,
                    "transition": out_tr,
                }
            )

    ev = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, lat double, lon double"
    ).parquet(events_dir)
    return (
        ev.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf="NoTimeout",
        )
    )
