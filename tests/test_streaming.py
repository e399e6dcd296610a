"""Structured Streaming ingestion: incremental correctness + exactly-once.

The documents stream (the elevation job's streaming twin) must produce
EXACTLY the rows the batch pipeline produces for the same files, across
micro-batches, and a restart with no new files must write nothing
(checkpointed exactly-once)."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from opentopodata_spark import config
from opentopodata_spark.jobs import elevation as job
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
        spark.createDataFrame(chunk, job.DOCUMENTS_DDL).coalesce(
            1
        ).write.parquet(f"{staging}/{name}")
    return inbox, staging, str(tmp_path / "out"), str(tmp_path / "ckpt")


def _arrive(staging, inbox, name):
    src = next(
        f for f in os.listdir(f"{staging}/{name}") if f.endswith(".parquet")
    )
    shutil.copy(f"{staging}/{name}/{src}", f"{inbox}/{name}.parquet")


def _drain(resolver, spark, inbox, out, ckpt):
    q = job.run_elevation_stream(
        resolver, job.stream_documents(spark, inbox), out, ckpt
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

