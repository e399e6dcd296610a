"""Structured Streaming ingestion: continuous documents -> elevations.

The reference is strictly request/response (SURVEY.md §2 "Streaming
operators: None"), so nothing here mirrors reference behavior — this is
the engine-native continuous-ingest mode a training-data pipeline needs:
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

import contextlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators import extract as _extract

__all__ = [
    "DOCUMENTS_DDL",
    "CORPUS_DDL",
    "stream_documents",
    "stream_corpus",
    "run_elevation_stream",
    "run_dedup_stream",
    "events_rollup_stream",
    "sessionize_stream",
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


CORPUS_DDL = "doc_id long, text string, lang string, source string"


def stream_corpus(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Streaming scan of a flat documents corpus directory (parquet files
    of (doc_id, text, lang, source) arriving continuously)."""
    reader = spark.readStream.schema(CORPUS_DDL)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def run_dedup_stream(
    corpus_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    index_dir: str,
    available_now: bool = True,
    key=None,
):
    """Streaming corpus ingestion with INCREMENTAL exact dedup: each
    micro-batch admits only documents whose text hash has never been seen
    — not in any earlier batch (the accumulated hash index) and not
    duplicated within the batch itself (min doc_id wins, same canonical
    rule as operators/dedup.exact_duplicates).

    This is the continuous twin of jobs/dataprep's exact-dedup stage: a
    training-data pipeline does not re-scan a 100 TB corpus per crawl
    drop; it folds each drop against the (tiny by comparison) hash index.

    ``key``: optional Column overriding the dedup key (default
    md5(text)) — pass ``urlops.normalize_url(F.col("url"))`` for
    URL-level crawl dedup with identical exactly-once mechanics (the
    index stays tiny either way: one key string per admitted doc).

    State layout: ``index_dir`` holds ONLY text hashes, partitioned by
    ingest_batch — ~48 bytes/doc, so a 10^12-doc corpus carries a ~50 TB
    corpus with a ~50 GB index. Batch writes (corpus and index alike) each
    OVERWRITE their own ingest_batch=<id> partition, and the index read
    EXCLUDES the current batch id, so a batch that retries after a partial
    index write neither duplicates output nor anti-joins against its own
    half-written hashes. At production scale the index would be a
    hash-bucketed table (bucketed on text_hash) so the per-batch anti-join
    shuffles only the new batch, not the index; plain parquet here.
    """
    from pyspark.errors import AnalysisException

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark_l = batch_df.sparkSession
        # Joins are NULL-SAFE on text_hash (md5(NULL) is NULL): groupBy
        # already folds all NULL-text docs into one group, and <=> keeps
        # them matchable in the semi/anti joins — same semantics as the
        # batch twin exact_duplicates, still a hash-partitionable equi-join.
        hashed = batch_df.withColumn(
            "text_hash", key if key is not None else F.md5(F.col("text"))
        )
        canon = hashed.groupBy("text_hash").agg(F.min("doc_id").alias("doc_id"))
        batch_canon = hashed.alias("h").join(
            canon.alias("c"),
            F.col("h.text_hash").eqNullSafe(F.col("c.text_hash"))
            & (F.col("h.doc_id") == F.col("c.doc_id")),
            "left_semi",
        )
        try:
            idx = spark_l.read.parquet(index_dir).where(
                F.col("ingest_batch") != batch_id
            )
            fresh = batch_canon.alias("b").join(
                idx.select("text_hash").alias("i"),
                F.col("b.text_hash").eqNullSafe(F.col("i.text_hash")),
                "left_anti",
            )
        except AnalysisException:  # first batch: no index yet
            fresh = batch_canon
        fresh = fresh.persist()
        try:
            fresh.write.mode("overwrite").parquet(
                f"{out_dir}/ingest_batch={batch_id}"
            )
            fresh.select("text_hash").write.mode("overwrite").parquet(
                f"{index_dir}/ingest_batch={batch_id}"
            )
        finally:
            fresh.unpersist()

    writer = corpus_stream.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_near_dup_stream(
    corpus_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    index_dir: str,
    threshold: float = 0.5,
    shingle_n: int = 2,
    num_hashes: int = 8,
    band_size: int = 2,
    available_now: bool = True,
):
    """Streaming incremental NEAR-dup dedup — the continuous-crawl twin of
    ``operators/dedup.verified_near_duplicates``: each micro-batch is

    1. deduplicated WITHIN itself (verified pairs -> connected components
       -> keep each cluster's min doc_id), then
    2. LSH-probed against the accumulated ADMITTED-corpus bucket index:
       a new doc sharing a band bucket with an admitted doc becomes a
       candidate, exact Jaccard verifies it against the admitted doc's
       shingles (texts re-read from the output corpus, pruned to
       candidate ids only), and a verified match rejects the new doc.

    State is the bucket index: (doc_id, band, value) rows of admitted
    docs — ~n_bands small rows per admitted doc, no shingles, no raw
    text. Verification re-reads the admitted corpus but ONLY the docs
    that collided (semi-join on candidate ids — at sane dup rates a tiny
    pruned read). Because the index holds only ADMITTED (already
    deduplicated) docs, boilerplate mega-clusters collapse to single
    representatives and bucket degeneracy is structurally bounded —
    the streaming analog of the batch max_bucket cap.

    Batch writes (corpus + index) each overwrite their own
    ingest_batch=<id> partition and the index/corpus reads exclude the
    current batch id, so a retried batch neither duplicates output nor
    verifies against its own half-written state (same idempotency
    contract as run_dedup_stream)."""
    from pyspark.errors import AnalysisException

    from .operators import dedup as _dedup

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark_l = batch_df.sparkSession
        # Scope every internal persist the dedup operators take to this
        # batch: `tracked` hands them back so the finally block releases
        # exactly the frames this batch created — NOT a session-wide
        # clearCache(), which would wipe caches owned by concurrent
        # streams/jobs sharing the SparkSession.
        persist_scope = contextlib.ExitStack()
        tracked = persist_scope.enter_context(_dedup.tracked_persists())
        within = _dedup.verified_near_duplicates(
            batch_df, shingle_n=shingle_n, num_hashes=num_hashes,
            band_size=band_size, threshold=threshold,
        )
        canon = _dedup.dedup_corpus(batch_df, within).localCheckpoint()

        sigs = _dedup.minhash_signatures(
            canon, shingle_n=shingle_n, num_hashes=num_hashes
        )
        new_buckets = _dedup.lsh_buckets(sigs, band_size).persist()

        # ONLY the index read signals "first batch" — any later failure
        # (corpus read, shingling, verification) must raise, not silently
        # disable dedup and admit duplicates
        try:
            idx = spark_l.read.parquet(index_dir).where(
                F.col("ingest_batch") != batch_id
            )
        except AnalysisException:  # first batch: no index yet
            idx = None

        admitted = canon
        if idx is not None:
            cands = (
                new_buckets.join(
                    idx.withColumnRenamed("doc_id", "old_id"),
                    ["band", "value"],
                )
                .select(F.col("doc_id").alias("new_id"), "old_id")
                .distinct()
            )
            # exact-verify candidates: new shingles from the batch, old
            # shingles from a candidate-pruned read of the admitted corpus
            old_docs = (
                spark_l.read.parquet(out_dir)
                .where(F.col("ingest_batch") != batch_id)
                .join(
                    cands.select(F.col("old_id").alias("doc_id")).distinct(),
                    "doc_id",
                    "left_semi",
                )
            )
            rejected = _dedup.verify_pairs_jaccard(
                cands,
                _dedup.word_shingles(canon, n=shingle_n),
                _dedup.word_shingles(old_docs, n=shingle_n),
                threshold,
                a_col="new_id",
                b_col="old_id",
            ).select(F.col("new_id").alias("doc_id")).distinct()
            admitted = canon.join(rejected, "doc_id", "left_anti")
        admitted = admitted.persist()
        try:
            admitted.write.mode("overwrite").parquet(
                f"{out_dir}/ingest_batch={batch_id}"
            )
            new_buckets.join(
                admitted.select("doc_id"), "doc_id", "left_semi"
            ).write.mode("overwrite").parquet(
                f"{index_dir}/ingest_batch={batch_id}"
            )
        finally:
            admitted.unpersist()
            new_buckets.unpersist()
            # (canon is localCheckpoint()ed, not persisted — its cached
            # RDD is released by the ContextCleaner once unreferenced.)
            for frame in tracked:
                frame.unpersist()
            persist_scope.close()

    writer = corpus_stream.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


MEDIA_DDL = "media_ref string, payload binary"


def stream_media(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Streaming scan of a media-payload directory (parquet files of
    (media_ref, payload) arriving continuously — a crawl's image side)."""
    reader = spark.readStream.schema(MEDIA_DDL)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def run_image_near_dup_stream(
    media_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    index_dir: str,
    max_distance: int = 7,
    n_bands: int = 8,
    available_now: bool = True,
):
    """Streaming incremental PERCEPTUAL image dedup — the continuous-
    crawl twin of ``operators/imagehash.near_dup_pairs``: each
    micro-batch is

    1. decoded + pHashed (imagehash.hash_images — PNG/JPEG/JP2 via the
       pure-numpy codecs, Arrow-batched),
    2. deduplicated WITHIN itself: exact pigeonhole band pairs, then
       drop the LARGER media_ref of every verified pair (the 'pairs'
       semantics of dataprep near-dup — kept images are pairwise
       non-near-dup, and the rule replays directly in SQL), then
    3. probed against the accumulated ADMITTED band index: a new image
       sharing a band with an admitted one is Hamming-verified
       (bit_count(xor) <= max_distance) and rejected on a match.

    Unlike the text twin, verification needs NO re-read of admitted
    payloads: the index rows carry the 64-bit hash, so the reject test
    is pure integer metadata — state is ~n_bands tiny rows per admitted
    image. Undecodable payloads (null hash) are admitted unindexed
    (they cannot perceptually collide; exact dedup handles byte-equal
    copies upstream). Because the index holds only ADMITTED images,
    boilerplate mega-clusters (solid-color thumbnails) collapse to one
    representative — the streaming analog of the batch max_bucket cap.

    Same idempotency contract as run_near_dup_stream: batch writes
    overwrite their own ingest_batch=<id> partitions and reads exclude
    the current batch id, so a retried batch neither duplicates output
    nor probes its own half-written state."""
    from pyspark.errors import AnalysisException

    from .operators import imagehash as _ih

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark_l = batch_df.sparkSession
        hashes = _ih.hash_images(batch_df).persist()
        try:
            pairs = _ih.near_dup_pairs(
                hashes, max_distance=max_distance, n_bands=n_bands)
            # drop the larger id of every verified pair: kept images
            # are pairwise non-near-dup (any edge drops its larger
            # endpoint), deterministic, and exactly SQL-replayable
            drop = pairs.select(
                F.col("id_b").alias("media_ref")).distinct()
            canon = hashes.join(drop, "media_ref", "left_anti")
            canon = canon.localCheckpoint()

            # ONLY the index read signals "first batch" — any later
            # failure must raise, never silently admit duplicates
            try:
                idx = spark_l.read.parquet(index_dir).where(
                    F.col("ingest_batch") != batch_id
                )
            except AnalysisException:
                idx = None

            admitted = canon
            if idx is not None:
                new_bands = _ih.band_rows(
                    canon, "media_ref", "phash", n_bands)
                rejected = (
                    new_bands.join(
                        idx.select(
                            "band", "v",
                            F.col("phash").alias("old_h")),
                        ["band", "v"],
                    )
                    .where(
                        F.bit_count(
                            F.col("h").bitwiseXOR(F.col("old_h"))
                        ) <= max_distance
                    )
                    .select(F.col("id").alias("media_ref"))
                    .distinct()
                )
                admitted = canon.join(rejected, "media_ref", "left_anti")
            admitted = admitted.persist()
            try:
                admitted.write.mode("overwrite").parquet(
                    f"{out_dir}/ingest_batch={batch_id}"
                )
                _ih.band_rows(
                    admitted, "media_ref", "phash", n_bands
                ).select(
                    F.col("id").alias("media_ref"), "band", "v",
                    F.col("h").alias("phash"),
                ).write.mode("overwrite").parquet(
                    f"{index_dir}/ingest_batch={batch_id}"
                )
            finally:
                admitted.unpersist()
        finally:
            hashes.unpersist()

    writer = media_stream.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


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


_HH_STATE_SCHEMA = "key string, est long, n_total long, delta long"


def _hh_state_fs(spark, state_dir: str):
    """(hadoop FileSystem, Path) for the state dir — works for any
    scheme Spark's Hadoop conf knows (local, HDFS, s3a), not just
    local paths."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(state_dir)
    fs = path.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs, path


def _list_hh_batches(spark, state_dir: str) -> list[int]:
    """Sorted ingest_batch partition ids present under state_dir, via a
    single directory listing — O(#partitions) names, zero data read."""
    fs, path = _hh_state_fs(spark, state_dir)
    if not fs.exists(path):
        return []
    out = []
    for st in fs.listStatus(path):
        name = st.getPath().getName()
        if name.startswith("ingest_batch="):
            try:
                out.append(int(name.split("=", 1)[1]))
            except ValueError:
                continue
    return sorted(out)


def _read_hh_state(spark, state_dir: str, exclude_batch: int):
    """Latest heavy-hitters summary before ``exclude_batch``: (counts
    dict, n_total, delta). Same retry discipline as the dedup index —
    each batch OVERWRITES its own ingest_batch partition and reads only
    strictly earlier ones, so a retried batch never merges against its
    own half-written state.

    Reads exactly ONE partition: the latest eligible ingest_batch is
    found by listing directory names, never by scanning rows of every
    historical partition — per-batch read cost stays O(capacity)
    regardless of stream age."""
    eligible = [b for b in _list_hh_batches(spark, state_dir)
                if b < exclude_batch]
    if not eligible:
        return {}, 0, 0
    latest = eligible[-1]
    rows = spark.read.parquet(
        f"{state_dir}/ingest_batch={latest}"
    ).collect()
    counts, n_total, delta = {}, 0, 0
    for r in rows:
        if r.key is None:
            n_total, delta = int(r.n_total), int(r.delta)
        else:
            counts[r.key] = int(r.est)
    return counts, n_total, delta


def _prune_hh_state(spark, state_dir: str, current_batch: int) -> None:
    """After batch ``current_batch`` commits, drop state partitions
    older than its merge input. A retried batch N re-reads the latest
    batch < N, so the newest strictly-older partition must survive;
    everything before that is unreachable and only grows the dir."""
    batches = _list_hh_batches(spark, state_dir)
    older = [b for b in batches if b < current_batch]
    keep = set(older[-1:])  # the partition batch N merged against
    fs, path = _hh_state_fs(spark, state_dir)
    jvm = spark._jvm
    for b in older:
        if b in keep:
            continue
        fs.delete(
            jvm.org.apache.hadoop.fs.Path(f"{state_dir}/ingest_batch={b}"),
            True,
        )


def run_heavy_hitters_stream(
    stream_df: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    key_col: str = "key",
    capacity: int = 100,
    available_now: bool = True,
):
    """Streaming heavy hitters with bounded state: the continuous twin
    of operators/sketch.heavy_hitters for feeds that cannot be
    re-scanned for an exact recount. Each micro-batch is counted
    exactly (one map-side-combined groupBy), strictly MG-trimmed to
    ``capacity`` (only the top capacity+1 rows are ever collected), and
    merged into the running summary with a second trim. The state is
    <= capacity keys + one metadata row, written per ingest_batch
    partition (retry-idempotent, exactly like the streaming-dedup hash
    index), and carries the EXACT error bookkeeping: every trim's cut
    accumulates into ``delta``, giving est <= true <= est + delta for
    every key — including keys absent from the summary (true <= delta).

    Read the final top-k with :func:`heavy_hitters_state_topk`.
    """
    from .operators.sketch import mg_trim

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark_l = batch_df.sparkSession
        cnts = (
            batch_df.select(F.col(key_col).cast("string").alias("key"))
            .where(F.col("key").isNotNull())
            .groupBy("key").agg(F.count("*").alias("c"))
        )
        top = cnts.orderBy(F.col("c").desc(), F.col("key").asc()).limit(
            capacity + 1
        ).collect()
        n_batch = cnts.agg(F.sum("c")).collect()[0][0] or 0
        batch_counts = {r.key: int(r.c) for r in top}
        batch_summary, cut1 = mg_trim(batch_counts, capacity)
        prev, n_prev, delta_prev = _read_hh_state(
            spark_l, state_dir, exclude_batch=batch_id
        )
        merged = dict(prev)
        for k, v in batch_summary.items():
            merged[k] = merged.get(k, 0) + v
        merged, cut2 = mg_trim(merged, capacity)
        n_total = n_prev + int(n_batch)
        delta = delta_prev + cut1 + cut2
        rows = [(k, v, 0, 0) for k, v in merged.items()]
        rows.append((None, 0, n_total, delta))
        spark_l.createDataFrame(rows, _HH_STATE_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{state_dir}/ingest_batch={batch_id}")
        _prune_hh_state(spark_l, state_dir, batch_id)

    writer = stream_df.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_hll_stream(
    stream_df: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    value_col: str = "value",
    p: int = 12,
    group_cols: tuple = (),
    available_now: bool = True,
):
    """Streaming distinct-count: the continuous twin of
    operators/sketch.hll_sketch for feeds that cannot be rescanned.

    Each micro-batch is sketched with the same pure-expression register
    math as the batch operator, merged (max per register) against the
    LATEST persisted state partition only (the heavy-hitters discipline:
    each batch OVERWRITES its own ingest_batch=<id> partition, reads
    strictly earlier ones, and prunes everything older than its merge
    input after a successful write — retry-idempotent, O(2^p) state per
    group regardless of stream age). Unlike the MG summary, HLL merge is
    LOSSLESS: the streamed sketch is register-identical to a one-shot
    batch sketch over the full history, which the tests pin.

    Read the running estimate with :func:`hll_state_estimate`.
    """
    from .operators.sketch import hll_merge, hll_sketch

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark_l = batch_df.sparkSession
        cur = hll_sketch(batch_df, value_col, p=p, group_cols=group_cols)
        eligible = [b for b in _list_hh_batches(spark_l, state_dir)
                    if b < batch_id]
        if eligible:
            prev = spark_l.read.parquet(
                f"{state_dir}/ingest_batch={eligible[-1]}"
            ).select(*cur.columns)
            cur = hll_merge(prev, cur, group_cols=group_cols)
        cur.coalesce(1).write.mode("overwrite").parquet(
            f"{state_dir}/ingest_batch={batch_id}"
        )
        _prune_hh_state(spark_l, state_dir, batch_id)

    writer = stream_df.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def hll_state_estimate(spark, state_dir: str, group_cols: tuple = ()) -> DataFrame:
    """Cardinality estimates over the latest streamed sketch state (one
    partition read, never a historical scan)."""
    from .operators.sketch import hll_estimate

    batches = _list_hh_batches(spark, state_dir)
    if not batches:
        raise FileNotFoundError(f"no HLL state under {state_dir}")
    regs = spark.read.parquet(f"{state_dir}/ingest_batch={batches[-1]}")
    return hll_estimate(regs, group_cols=group_cols)


def heavy_hitters_state_topk(spark, state_dir: str, k: int) -> DataFrame:
    """Top-k view over the final streaming summary: (key, est, est_hi,
    n_total) with est <= true <= est_hi, deterministic (est desc, key
    asc) cut."""
    counts, n_total, delta = _read_hh_state(
        spark, state_dir, exclude_batch=2**62
    )
    items = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    rows = [(key, est, est + delta, n_total) for key, est in items]
    if not rows:
        df = spark.createDataFrame(
            [], "key string, est long, est_hi long, n_total long"
        )
        return df
    return spark.createDataFrame(
        rows, "key string, est long, est_hi long, n_total long"
    )
