"""Structured Streaming ingestion: incremental correctness + exactly-once.

The streaming path must produce EXACTLY the rows the batch pipeline
produces for the same files, across micro-batches, and a restart with no
new files must write nothing (checkpointed exactly-once)."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from opentopodata_spark import config, streaming
from opentopodata_spark.operators import elevation, extract


@pytest.fixture()
def stream_dirs(tmp_path, documents_path, spark):
    """Split the documents fixture into two 'arriving' file chunks."""
    docs = spark.read.parquet(documents_path).orderBy("doc_id").collect()
    half = len(docs) // 2
    inbox = str(tmp_path / "inbox")
    os.makedirs(inbox)
    staging = str(tmp_path / "staging")
    for name, chunk in (("a", docs[:half]), ("b", docs[half:])):
        spark.createDataFrame(chunk, streaming.DOCUMENTS_DDL).coalesce(
            1
        ).write.parquet(f"{staging}/{name}")
    return inbox, staging, str(tmp_path / "out"), str(tmp_path / "ckpt")


def _arrive(staging, inbox, name):
    src = next(
        f for f in os.listdir(f"{staging}/{name}") if f.endswith(".parquet")
    )
    shutil.copy(f"{staging}/{name}/{src}", f"{inbox}/{name}.parquet")


def _drain(resolver, spark, inbox, out, ckpt):
    q = streaming.run_elevation_stream(
        resolver, streaming.stream_documents(spark, inbox), out, ckpt
    )
    q.awaitTermination()


class TestElevationStream:
    def test_incremental_matches_batch(self, spark, datasets, stream_dirs):
        inbox, staging, out, ckpt = stream_dirs
        ordered = config.resolve_dataset_names("multi_eudem_etopo1", datasets)
        resolver = elevation.ElevationResolver(spark, ordered, "bilinear")

        _arrive(staging, inbox, "a")
        _drain(resolver, spark, inbox, out, ckpt)
        n_after_a = spark.read.parquet(out).count()
        assert n_after_a > 0

        _arrive(staging, inbox, "b")
        _drain(resolver, spark, inbox, out, ckpt)

        got = {
            (r.doc_id, r.span_pos, r.point_pos): (r.elevation, r.dataset)
            for r in spark.read.parquet(out).collect()
        }
        assert len(got) > n_after_a

        # batch reference over the same files
        pts = extract.with_point_id(
            extract.extract_points(spark.read.parquet(inbox))
        ).where(F.col("loc_error").isNull())
        want = {
            (r.doc_id, r.span_pos, r.point_pos): (r.elevation, r.dataset)
            for r in resolver.resolve(
                pts, carry=("doc_id", "span_pos", "point_pos")
            ).collect()
        }
        assert set(got) == set(want)
        for k, (e, d) in want.items():
            ge, gd = got[k]
            if e is None or (isinstance(e, float) and e != e):
                assert ge is None or ge != ge
            else:
                assert ge == e
            assert gd == d

    def test_restart_without_new_files_writes_nothing(
        self, spark, datasets, stream_dirs
    ):
        inbox, staging, out, ckpt = stream_dirs
        ordered = config.resolve_dataset_names("etopo1deg", datasets)
        resolver = elevation.ElevationResolver(spark, ordered, "bilinear")
        _arrive(staging, inbox, "a")
        _drain(resolver, spark, inbox, out, ckpt)
        n1 = spark.read.parquet(out).count()
        # exactly-once: second availableNow run sees no new files
        _drain(resolver, spark, inbox, out, ckpt)
        assert spark.read.parquet(out).count() == n1

    def test_batch_retry_is_idempotent(self, spark, datasets, stream_dirs):
        """Crash between the data write and the checkpoint commit: the
        restart re-runs the batch, and the per-batch overwrite replaces
        its own output instead of appending duplicates.

        The streaming metadata cache is disabled for the restart (a real
        crash-restart is a fresh JVM with a cold cache; in-JVM the stale
        cache entry would mask the deleted commit)."""
        inbox, staging, out, ckpt = stream_dirs
        ordered = config.resolve_dataset_names("etopo1deg", datasets)
        resolver = elevation.ElevationResolver(spark, ordered, "bilinear")
        _arrive(staging, inbox, "a")
        cache_key = "spark.sql.streaming.metadataCache.enabled"
        spark.conf.set(cache_key, "false")
        try:
            _drain(resolver, spark, inbox, out, ckpt)
            n1 = spark.read.parquet(out).count()
            # drop the commit marker (and the local-FS checksum sidecar —
            # a real FS loses both): batch 0's data is on disk but the
            # checkpoint says it never committed -> restart retries batch 0
            os.remove(os.path.join(ckpt, "commits", "0"))
            crc = os.path.join(ckpt, "commits", ".0.crc")
            if os.path.exists(crc):
                os.remove(crc)
            _drain(resolver, spark, inbox, out, ckpt)
            assert spark.read.parquet(out).count() == n1
        finally:
            spark.conf.set(cache_key, "true")


class TestSessionizeStream:
    def _write_events(self, spark, inbox, rows):
        df = spark.createDataFrame(
            rows, "event_id long, ts_s string, user_id long, event_type string,"
            " value double, props string"
        ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s").select(
            "event_id", "ts", "user_id", "event_type", "value", "props"
        )
        df.coalesce(1).write.mode("append").parquet(inbox)

    def _drain(self, spark, inbox, out, ckpt):
        q = (
            streaming.sessionize_stream(
                spark, inbox, gap_minutes=30, watermark="10 minutes"
            )
            .writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start(path=out, format="parquet")
        )
        q.awaitTermination()

    def test_closed_sessions_match_batch(self, spark, tmp_path):
        """applyInPandasWithState sessionization emits exactly the
        sessions the batch operator produces, restricted to sessions no
        in-order future event can extend (end + gap <= final watermark):
        in-batch gap closes, cross-batch closes, and the state-timeout
        path (user silent after batch 1) all covered."""
        inbox = str(tmp_path / "ev")
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ck")
        t = "2024-01-01 {}:00"
        batch1 = [
            # u1 session A (3 events), then in-batch gap -> session B
            (0, t.format("00:00"), 1, "view", 0.0, "{}"),
            (1, t.format("00:10"), 1, "view", 0.0, "{}"),
            (2, t.format("00:20"), 1, "view", 0.0, "{}"),
            (3, t.format("01:30"), 1, "view", 0.0, "{}"),
            (4, t.format("01:40"), 1, "view", 0.0, "{}"),
            # u2: one session, then silent -> closes via state TIMEOUT
            (5, t.format("00:00"), 2, "view", 0.0, "{}"),
            (6, t.format("00:05"), 2, "view", 0.0, "{}"),
        ]
        batch2 = [
            # u1: big gap -> closes session B, opens C (stays open)
            (7, t.format("05:00"), 1, "view", 0.0, "{}"),
        ]
        self._write_events(spark, inbox, batch1)
        self._drain(spark, inbox, out, ckpt)
        self._write_events(spark, inbox, batch2)
        self._drain(spark, inbox, out, ckpt)
        # extra drains: event-time timeouts fire on the micro-batch AFTER
        # the one that advanced the watermark
        self._drain(spark, inbox, out, ckpt)
        self._drain(spark, inbox, out, ckpt)

        got = {
            (r.user_id, str(r.session_start)): (str(r.session_end), r.n_events)
            for r in spark.read.parquet(out).collect()
        }
        # batch reference: closed sessions only (end + gap <= final
        # watermark = 05:00 - 10min)
        from opentopodata_spark.operators import events as evops

        all_ev = spark.read.parquet(inbox)
        batch = evops.sessionize(all_ev, gap_minutes=30).collect()
        import datetime

        wm = datetime.datetime(2024, 1, 1, 4, 50)
        want = {
            (r.user_id, str(r.session_start)): (str(r.session_end), r.n_events)
            for r in batch
            if r.session_end + datetime.timedelta(minutes=30) <= wm
        }
        assert want  # the scenario really closes sessions
        assert got == want
        # the still-open session (u1 at 05:00) must NOT be emitted
        assert (1, "2024-01-01 05:00:00") not in got


    def test_late_events_within_watermark(self, spark, tmp_path):
        """Out-of-order cross-batch events that survive Spark's own
        late-row filter (newer than the watermark, older than the open
        session): one chains onto the session's head (extends
        session_start backwards, matching batch semantics), one is older
        than the session by more than the gap (emits as its own
        singleton — the documented late policy). A 2-hour watermark keeps
        both inside the admission window."""
        inbox = str(tmp_path / "ev")
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ck")

        def drain():
            q = (
                streaming.sessionize_stream(
                    spark, inbox, gap_minutes=30, watermark="2 hours"
                )
                .writeStream.outputMode("append")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start(path=out, format="parquet")
            )
            q.awaitTermination()

        t = "2024-01-01 {}:00"
        b1 = [(0, t.format("12:00"), 1, "view", 0.0, "{}")]
        b2 = [
            (1, t.format("11:50"), 1, "view", 0.0, "{}"),  # chains (10 min)
            (2, t.format("10:30"), 1, "view", 0.0, "{}"),  # singleton (80 min)
            (3, t.format("18:00"), 2, "view", 0.0, "{}"),  # advances watermark
        ]
        TestSessionizeStream._write_events(self, spark, inbox, b1)
        drain()
        TestSessionizeStream._write_events(self, spark, inbox, b2)
        for _ in range(3):
            drain()
        got = {
            (r.user_id, str(r.session_start), str(r.session_end), r.n_events)
            for r in spark.read.parquet(out).collect()
        }
        assert (1, "2024-01-01 10:30:00", "2024-01-01 10:30:00", 1) in got
        assert (1, "2024-01-01 11:50:00", "2024-01-01 12:00:00", 2) in got


class TestEventsRollupStream:
    def test_watermarked_windows_match_batch(self, spark, tmp_path):
        inbox = str(tmp_path / "events")
        os.makedirs(inbox)
        rows = []
        base = "2024-01-01 {h:02d}:{m:02d}:00"
        eid = 0
        for h in range(4):
            for m in (5, 25, 45):
                for et in ("view", "click"):
                    rows.append(
                        (eid, base.format(h=h, m=m), eid % 7, et, float(eid), "{}")
                    )
                    eid += 1
        df = spark.createDataFrame(
            rows, "event_id long, ts_s string, user_id long, event_type string,"
            " value double, props string"
        ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s").select(
            "event_id", "ts", "user_id", "event_type", "value", "props"
        )
        df.where("hour(ts) < 2").coalesce(1).write.mode("append").parquet(inbox)

        out = str(tmp_path / "ro")
        ckpt = str(tmp_path / "rc")
        rollup = streaming.events_rollup_stream(
            spark, inbox, watermark="10 minutes", window="1 hour"
        )
        q = (
            rollup.writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start(path=out, format="parquet")
        )
        q.awaitTermination()

        # second batch advances the watermark past hours 0-1 -> those
        # windows finalize and emit
        df.where("hour(ts) >= 2").coalesce(1).write.mode("append").parquet(inbox)
        q = (
            streaming.events_rollup_stream(
                spark, inbox, watermark="10 minutes", window="1 hour"
            )
            .writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start(path=out, format="parquet")
        )
        q.awaitTermination()

        got = {
            (str(r.window_start), r.event_type): (r.n_events, r.sum_value)
            for r in spark.read.parquet(out).collect()
        }
        # all hour-0..2 windows are finalized by the max event time (03:45)
        batch = (
            df.where("hour(ts) < 3")
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
            .collect()
        )
        for r in batch:
            key = (str(r.w.start), r.event_type)
            assert got[key] == (r.n, r.s), key


def test_overview_stream_idempotent(spark, raster_root, tmp_path):
    """Tile-arrival stream -> overview tiles: wave 2 builds only the new
    tile; a re-listed wave-1 tile is skipped (sink idempotency), never
    recomputed or duplicated."""
    import glob as _glob
    import json as _json

    from opentopodata_spark import streaming as st

    srtm = sorted(_glob.glob(
        os.path.join(raster_root, "test-srtm90m-subset", "*.tif")
    ))
    man_dir = tmp_path / "manifests"
    man_dir.mkdir()
    out_dir = str(tmp_path / "ovr")
    ckpt = str(tmp_path / "ckpt")

    def emit(name, rows):
        with open(man_dir / name, "w") as f:
            for iy, ix, p in rows:
                f.write(_json.dumps(
                    {"tile_iy": iy, "tile_ix": ix, "path": p}) + "\n")

    emit("wave1.json", [(0, 10, srtm[0])])
    q = st.run_overview_stream(
        spark, st.stream_tile_manifests(spark, str(man_dir)),
        out_dir, ckpt, factor=8,
    )
    q.awaitTermination()
    tiles1 = sorted(_glob.glob(os.path.join(out_dir, "ovr8_*.tif")))
    assert len(tiles1) == 1
    mtime1 = os.path.getmtime(tiles1[0])

    # wave 2: one genuinely new tile + a re-listing of the wave-1 tile
    emit("wave2.json", [(0, 11, srtm[1]), (0, 10, srtm[0])])
    q = st.run_overview_stream(
        spark, st.stream_tile_manifests(spark, str(man_dir)),
        out_dir, ckpt, factor=8,
    )
    q.awaitTermination()
    tiles2 = sorted(_glob.glob(os.path.join(out_dir, "ovr8_*.tif")))
    assert len(tiles2) == 2
    assert os.path.getmtime(tiles1[0]) == mtime1  # untouched, not rebuilt
    # per-batch manifests are complete even for the skipped tile
    m = spark.read.parquet(os.path.join(out_dir, "_manifest"))
    rows = {(r["tile_iy"], r["tile_ix"]): r for r in m.collect()}
    assert set(rows) == {(0, 10), (0, 11)}
    assert all(r["error"] is None and r["n_valid"] > 0 for r in rows.values())


def test_geofence_stream_matches_batch(spark, tmp_path):
    """streaming_geofence_rollup over an availableNow drain produces the
    same (window, polygon) event counts as the batch geofence_rollup
    (n_users is approximate in the stream by design and checked for
    sanity, not equality)."""
    from opentopodata_spark.operators import events as evops

    polygons = [
        {"polygon_id": "BOX_A", "lats": [0.0, 0.0, 30.0, 30.0],
         "lons": [0.0, 40.0, 40.0, 0.0]},
        {"polygon_id": "BOX_B", "lats": [-20.0, -20.0, 10.0, 10.0],
         "lons": [20.0, 70.0, 70.0, 20.0]},  # overlaps BOX_A: double count
    ]
    rows = []
    for i in range(240):
        h, m = divmod(i, 60)
        # lat in [-30, 30), lon in [0, 80): inside A, B, both, or neither
        rows.append((i, f"2024-01-01 {h:02d}:{m:02d}:00", i % 9,
                     float(i % 61 - 30) + 0.5, float(i * 13 % 80) + 0.5))
    df = spark.createDataFrame(
        rows, "event_id long, ts_s string, user_id long, lat double, lon double"
    ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")

    batch = {
        (str(r.window_start), r.polygon_id): (r.n_events, r.n_users)
        for r in evops.geofence_rollup(df, polygons).collect()
    }
    assert batch  # fixture actually hits the fences
    assert any(k[1] == "BOX_A" for k in batch) and any(k[1] == "BOX_B" for k in batch)

    inbox = str(tmp_path / "gf_in")
    os.makedirs(inbox)
    df.select("event_id", "ts", "user_id", "lat", "lon").coalesce(1).write.mode(
        "append"
    ).parquet(inbox)
    stream = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, lat double, lon double"
    ).parquet(inbox)
    out = str(tmp_path / "gf_out")
    q = (
        evops.streaming_geofence_rollup(
            stream, polygons, width="1 hour", watermark="0 seconds"
        )
        .writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "gf_ckpt"))
        .trigger(availableNow=True)
        .start(path=out, format="parquet")
    )
    q.awaitTermination()
    got = {
        (str(r.window_start), r.polygon_id): (r.n_events, r.n_users_approx)
        for r in spark.read.parquet(out).collect()
    }
    # append mode finalizes a window once the watermark passes its END:
    # the last hour (max ts 03:59 < end 04:00) stays in state by design
    finalized = {k: v for k, v in batch.items()
                 if k[0] < "2024-01-01 03:00:00"}
    assert set(got) == set(finalized) and finalized
    for k, (n_events, n_users) in finalized.items():
        assert got[k][0] == n_events            # counts exact
        assert abs(got[k][1] - n_users) <= max(2, int(0.15 * n_users))  # HLL


def test_geofence_transitions_batch(spark):
    """Batch enter/exit derivation: first-event enters, membership-change
    transitions only, deterministic tie order."""
    from opentopodata_spark.operators import events as evops

    polygons = [
        {"polygon_id": "A", "lats": [0.0, 0.0, 30.0, 30.0],
         "lons": [0.0, 40.0, 40.0, 0.0]},
        {"polygon_id": "B", "lats": [-20.0, -20.0, 10.0, 10.0],
         "lons": [20.0, 70.0, 70.0, 20.0]},
    ]
    rows = [
        (1, "2024-01-01 00:00:00", 1, 5.0, 10.0),    # in A        -> enter A
        (2, "2024-01-01 00:10:00", 1, 5.0, 30.0),    # in A+B      -> enter B
        (3, "2024-01-01 00:20:00", 1, -10.0, 50.0),  # in B only   -> exit A
        (4, "2024-01-01 00:30:00", 1, 50.0, 50.0),   # outside     -> exit B
        (5, "2024-01-01 00:05:00", 2, 5.0, 25.0),    # u2 in both  -> enter A, B
        (6, "2024-01-01 00:06:00", 2, 5.1, 25.1),    # no change   -> nothing
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts_s string, user_id long, lat double, lon double"
    ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
    got = sorted(
        (r.user_id, str(r.ts), r.polygon_id, r.transition)
        for r in evops.geofence_transitions(df, polygons).collect()
    )
    assert got == [
        (1, "2024-01-01 00:00:00", "A", "enter"),
        (1, "2024-01-01 00:10:00", "B", "enter"),
        (1, "2024-01-01 00:20:00", "A", "exit"),
        (1, "2024-01-01 00:30:00", "B", "exit"),
        (2, "2024-01-01 00:05:00", "A", "enter"),
        (2, "2024-01-01 00:05:00", "B", "enter"),
    ]


def test_geofence_transitions_zipf_skew_bounded(spark):
    """One user owns 50% of events (Zipf hotspot): the range-partitioned
    lag must (a) match a sequential per-user replay exactly and (b) keep
    the hot user SPLIT across partitions — max/median partition rows
    <= 2 in the lag stage, where a hash-by-user window would put half
    the table in one task."""
    import random

    import numpy as np

    from opentopodata_spark.operators import events as evops
    from opentopodata_spark.operators import spatial as _spatial

    polygons = [
        {"polygon_id": "A", "lats": [0.0, 0.0, 30.0, 30.0],
         "lons": [0.0, 40.0, 40.0, 0.0]},
        {"polygon_id": "B", "lats": [-20.0, -20.0, 10.0, 10.0],
         "lons": [20.0, 70.0, 70.0, 20.0]},
    ]
    rng = random.Random(99)
    rows = []
    eid = 0
    for i in range(4000):
        # user 1 owns half the stream; 50 cold users share the rest
        uid = 1 if i % 2 == 0 else 2 + rng.randrange(50)
        lat = rng.uniform(-25.0, 35.0)
        lon = rng.uniform(-5.0, 75.0)
        ts = f"2024-01-01 {i // 3600:02d}:{(i // 60) % 60:02d}:{i % 60:02d}"
        rows.append((eid, ts, uid, lat, lon))
        eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts_s string, user_id long, lat double,"
        " lon double"
    ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")

    got = sorted(
        (r.user_id, str(r.ts), r.polygon_id, r.transition)
        for r in evops.geofence_transitions(df, polygons).collect()
    )

    # sequential replay oracle: per-user ordered membership diff
    def inside(lat, lon):
        out = set()
        if 0.0 <= lat <= 30.0 and 0.0 <= lon <= 40.0:
            out.add("A")
        if -20.0 <= lat <= 10.0 and 20.0 <= lon <= 70.0:
            out.add("B")
        return out

    by_user: dict = {}
    for e, ts, u, la, lo in rows:
        by_user.setdefault(u, []).append((ts, e, la, lo))
    want = []
    for u, evs in by_user.items():
        evs.sort()
        cur: set = set()
        for ts, _e, la, lo in evs:
            now = inside(la, lo)
            for p in sorted(now - cur):
                want.append((u, ts, p, "enter"))
            for p in sorted(cur - now):
                want.append((u, ts, p, "exit"))
            cur = now
    assert got == sorted(want)
    # the PIP membership must agree with the replay's rectangle math
    # implicitly via the equality above; now pin the skew bound on the
    # range-partitioned frame the lag runs over
    memb = df.select("event_id", "user_id", "ts")
    rp = memb.repartitionByRange("user_id", "ts", "event_id")
    counts = np.array(
        rp.rdd.mapPartitions(lambda it: [sum(1 for _ in it)]).collect()
    )
    counts = counts[counts > 0]
    assert counts.max() / np.median(counts) <= 2.0, counts.tolist()


def test_geofence_transitions_stream_matches_batch(spark, tmp_path):
    """The stateful streaming twin emits exactly the batch transitions
    across two micro-batches (in-order arrivals), with membership state
    carried across the batch boundary."""
    from opentopodata_spark.operators import events as evops

    polygons = [
        {"polygon_id": "A", "lats": [0.0, 0.0, 30.0, 30.0],
         "lons": [0.0, 40.0, 40.0, 0.0]},
        {"polygon_id": "B", "lats": [-20.0, -20.0, 10.0, 10.0],
         "lons": [20.0, 70.0, 70.0, 20.0]},
    ]
    rows = [
        (1, "2024-01-01 00:00:00", 1, 5.0, 10.0),
        (2, "2024-01-01 00:10:00", 1, 5.0, 30.0),
        (5, "2024-01-01 00:05:00", 2, 5.0, 25.0),
        # batch 2
        (3, "2024-01-01 00:20:00", 1, -10.0, 50.0),  # exit A (state crosses batches)
        (4, "2024-01-01 00:30:00", 1, 50.0, 50.0),   # exit B
        (6, "2024-01-01 00:40:00", 2, 5.0, 25.0),    # no change
    ]
    schema = "event_id long, ts_s string, user_id long, lat double, lon double"

    def _df(chunk):
        return spark.createDataFrame(chunk, schema).withColumn(
            "ts", F.col("ts_s").cast("timestamp")
        ).drop("ts_s").select("event_id", "ts", "user_id", "lat", "lon")

    inbox = str(tmp_path / "gt_in")
    os.makedirs(inbox)
    out = str(tmp_path / "gt_out")
    ckpt = str(tmp_path / "gt_ckpt")

    def drain():
        q = (
            streaming.geofence_transitions_stream(spark, inbox, polygons)
            .writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start(path=out, format="parquet")
        )
        q.awaitTermination()

    _df(rows[:3]).coalesce(1).write.mode("append").parquet(inbox)
    drain()
    _df(rows[3:]).coalesce(1).write.mode("append").parquet(inbox)
    drain()

    got = sorted(
        (r.user_id, str(r.ts), r.polygon_id, r.transition)
        for r in spark.read.parquet(out).collect()
    )
    want = sorted(
        (r.user_id, str(r.ts), r.polygon_id, r.transition)
        for r in evops.geofence_transitions(_df(rows), polygons).collect()
    )
    assert got == want and len(got) == 6


def test_funnel_counts(spark):
    from opentopodata_spark.operators import events as evops

    t = "2024-01-01 {}:00"
    rows = [
        # u1 completes in order
        (1, t.format("00:00"), 1, "view", 0.0, "{}"),
        (2, t.format("00:10"), 1, "click", 0.0, "{}"),
        (3, t.format("00:20"), 1, "purchase", 0.0, "{}"),
        # u2: click BEFORE view, purchase after -> converts only to view...
        (4, t.format("00:00"), 2, "click", 0.0, "{}"),
        (5, t.format("00:10"), 2, "view", 0.0, "{}"),
        (6, t.format("00:20"), 2, "purchase", 0.0, "{}"),
        # u3: view only
        (7, t.format("00:00"), 3, "view", 0.0, "{}"),
        # u4: view then click, no purchase
        (8, t.format("00:00"), 4, "view", 0.0, "{}"),
        (9, t.format("00:30"), 4, "click", 0.0, "{}"),
        # u5: equal-ts chain (view and click same instant): at-or-after
        (10, t.format("01:00"), 5, "view", 0.0, "{}"),
        (11, t.format("01:00"), 5, "click", 0.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts_s string, user_id long, event_type string,"
        " value double, props string"
    ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
    got = {r.step: r.n_users
           for r in evops.funnel(df, ["view", "click", "purchase"]).collect()}
    # view: u1-u5 all have one; click-after-view: u1, u4, u5 (u2's click
    # precedes its view... but u2 has no second click) ; purchase: u1 only
    assert got == {"view": 5, "click": 3, "purchase": 1}

    # windowed: only chains finishing within 15 min of first touch
    got_w = {r.step: r.n_users
             for r in evops.funnel(df, ["view", "click", "purchase"],
                                   within=F.expr("INTERVAL 15 MINUTES")).collect()}
    assert got_w == {"view": 5, "click": 2, "purchase": 0}  # u1+u5 click in time


def test_funnel_single_linear_plan(spark, tmp_path):
    """The whole k-step funnel is ONE plan scanning events k times.

    The old shape returned a union of k per-step aggregates over an
    unpersisted chain, re-running step i's joins for every j >= i —
    O(k^2) scans. Pin: exactly k FileScans of the events parquet, and
    every count derives from a single stack() over one aggregate row.
    """
    from opentopodata_spark.operators import events as evops

    p = str(tmp_path / "ev.parquet")
    spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 1, "view"),
         (2, "2024-01-01 00:10:00", 1, "click"),
         (3, "2024-01-01 00:20:00", 1, "purchase")],
        "event_id long, ts_s string, user_id long, event_type string",
    ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s") \
        .write.parquet(p)
    ev = spark.read.parquet(p)
    steps = ["view", "click", "purchase"]
    out = evops.funnel(ev, steps)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == len(steps)
    assert "Union" not in plan
    assert {(r.step, r.step_index, r.n_users) for r in out.collect()} == {
        ("view", 0, 1), ("click", 1, 1), ("purchase", 2, 1)
    }


def test_retention_cohorts(spark):
    from opentopodata_spark.operators import events as evops

    rows = [
        # u1 signs up day 0, active days 0,1,3
        (1, "2024-01-01 10:00:00", 1, "signup", 0.0, "{}"),
        (2, "2024-01-02 09:00:00", 1, "view", 0.0, "{}"),
        (3, "2024-01-04 09:00:00", 1, "click", 0.0, "{}"),
        # u2 signs up day 0, never returns
        (4, "2024-01-01 11:00:00", 2, "signup", 0.0, "{}"),
        # u3 signs up day 1, active day 2; pre-signup activity ignored
        (5, "2023-12-31 08:00:00", 3, "view", 0.0, "{}"),
        (6, "2024-01-02 08:00:00", 3, "signup", 0.0, "{}"),
        (7, "2024-01-03 08:00:00", 3, "purchase", 0.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts_s string, user_id long, event_type string,"
        " value double, props string"
    ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
    got = {(str(r.cohort_date), r.period): (r.n_cohort, r.n_active)
           for r in evops.retention(df, max_periods=3).collect()}
    # cohort 2024-01-01 = {u1, u2}: day0 both active (signup itself),
    # day1 u1, day2 none, day3 u1
    assert got[("2024-01-01", 0)] == (2, 2)
    assert got[("2024-01-01", 1)] == (2, 1)
    assert got[("2024-01-01", 2)] == (2, 0)   # zero cell EMITTED
    assert got[("2024-01-01", 3)] == (2, 1)
    # cohort 2024-01-02 = {u3}: day0 active, day1 active
    assert got[("2024-01-02", 0)] == (1, 1)
    assert got[("2024-01-02", 1)] == (1, 1)
    assert got[("2024-01-02", 2)] == (1, 0)
    assert len(got) == 8  # dense grid: 2 cohorts x 4 periods
