"""Differential tests: the distributed pipeline vs the reference-semantics
oracle, plus the span-sequence round-trip invariant (BASELINE.json)."""

import math

import pytest
from pyspark.sql import functions as F

from opentopodata_spark import config, oracle
from opentopodata_spark.operators import elevation, extract


@pytest.fixture(scope="module")
def points(spark, documents_path):
    docs = spark.read.parquet(documents_path)
    pts = extract.with_point_id(extract.extract_points(docs)).where(
        F.col("loc_error").isNull()
    )
    pts = pts.cache()
    pts.count()
    return pts


def _same(a, b):
    if a is None or b is None:
        return a is None and b is None
    if math.isnan(a) or math.isnan(b):
        return math.isnan(a) and math.isnan(b)
    return a == b


def _diff(spark, points, datasets, interpolation, nodata_value=None):
    res = elevation.ElevationResolver(
        spark, datasets, interpolation, nodata_value
    ).resolve(points)
    rows = res.select("point_id", "lat", "lon", "elevation", "dataset").collect()
    lats = [r.lat for r in rows]
    lons = [r.lon for r in rows]
    e, n = oracle.get_elevation(lats, lons, datasets, interpolation, nodata_value)
    mismatches = [
        (r.lat, r.lon, r.elevation, eo, r.dataset, no)
        for r, eo, no in zip(rows, e, n)
        if not (_same(r.elevation, eo) and r.dataset == no)
    ]
    assert mismatches == [], mismatches[:10]
    return len(rows)


class TestDifferential:
    def test_multi_dataset_bilinear(self, spark, points, datasets):
        ds = [
            datasets["nodata"],
            datasets["eudemsubset"],
            datasets["srtm90subset"],
            datasets["etopo1deg"],
        ]
        n = _diff(spark, points, ds, "bilinear")
        assert n > 1000

    def test_nearest(self, spark, points, datasets):
        ds = [datasets["srtm90subset"], datasets["etopo1deg"]]
        _diff(spark, points, ds, "nearest")

    def test_cubic(self, spark, points, datasets):
        ds = [datasets["nodata"], datasets["etopo1deg"]]
        _diff(spark, points, ds, "cubic")

    def test_single_bounded_dataset_nulls(self, spark, points, datasets):
        # srtm alone: most points out of coverage -> null + fallback name
        _diff(spark, points, [datasets["srtm90subset"]], "bilinear")

    def test_nodata_value_int(self, spark, points, datasets):
        ds = [datasets["nodata"], datasets["etopo1deg"]]
        _diff(spark, points, ds, "bilinear", nodata_value=-9999)

    def test_nodata_value_nan(self, spark, points, datasets):
        ds = [datasets["nodata"], datasets["etopo1deg"]]
        _diff(spark, points, ds, "bilinear", nodata_value=float("nan"))

    def test_utm_and_wkt_datasets(self, spark, points, datasets):
        ds = [datasets["srtm90utm"], datasets["eudemnoepsg"], datasets["etopo1deg"]]
        _diff(spark, points, ds, "bilinear")

    def test_compressed_fixtures_e2e(self, spark, points, compressed_raster_root):
        """Full distributed resolve over DEFLATE/LZW compressed + tiled
        rasters and a zipped-SRTM dataset — decode runs inside executor
        Arrow UDFs through the spill tier, values differential-checked
        against the oracle."""
        import os

        cds = config.load_datasets(
            os.path.join(compressed_raster_root, "test-config.yaml")
        )
        # the config is generated for THIS checkout, never another one's
        root = os.path.realpath(compressed_raster_root) + os.sep
        for d in cds.values():
            p = getattr(d, "path", None) or getattr(d, "tile_path", None)
            assert p is None or os.path.realpath(p).startswith(root), p
        ds = [
            cds["nodata"],
            cds["eudemsubset"],
            cds["srtmhgtzip"],
            cds["etopo1deg"],
        ]
        n = _diff(spark, points, ds, "bilinear")
        assert n > 1000

    def test_compressed_resolve_twice_through_spill_tier(
            self, spark, points, compressed_raster_root):
        """The sampler's workers publish decoded blocks to the executor's
        spill tier under the SparkFiles root; a second resolve, whose
        tasks land on whichever worker is idle, reads them back exactly."""
        import os

        from pyspark import SparkFiles

        cds = config.load_datasets(
            os.path.join(compressed_raster_root, "test-config.yaml")
        )
        ds = [cds[n] for n in ("nodata", "eudemsubset", "srtm90subset",
                               "etopo1deg")]
        _diff(spark, points, ds, "bilinear")
        spill = os.path.join(SparkFiles.getRootDirectory(), "decoded-blocks")
        assert any(files for _, _, files in os.walk(spill)), spill
        _diff(spark, points, ds, "bilinear")

    def test_compressed_vs_plain_identical(self, spark, points, datasets,
                                           compressed_raster_root):
        """Same pipeline, same points: compressed corpus must produce
        bit-identical elevations to the plain corpus."""
        import os

        cds = config.load_datasets(
            os.path.join(compressed_raster_root, "test-config.yaml")
        )
        names = ["nodata", "eudemsubset", "srtm90subset", "etopo1deg"]
        plain = elevation.ElevationResolver(
            spark, [datasets[n] for n in names], "bilinear"
        ).resolve(points)
        comp = elevation.ElevationResolver(
            spark, [cds[n] for n in names], "bilinear"
        ).resolve(points)
        a = {r.point_id: (r.elevation, r.dataset) for r in plain.collect()}
        b = {r.point_id: (r.elevation, r.dataset) for r in comp.collect()}
        assert set(a) == set(b)
        for k in a:
            assert _same(a[k][0], b[k][0]) and a[k][1] == b[k][1]

    def test_salted_repartition_same_result(self, spark, points, datasets):
        ds = [datasets["srtm90subset"], datasets["etopo1deg"]]
        # an installed empty plan (salt 1) vs no plan (uniform salt 4)
        planned = elevation.ElevationResolver(spark, ds, "bilinear")
        planned.set_cell_salts({})
        r1 = planned.resolve(points)
        r4 = elevation.ElevationResolver(spark, ds, "bilinear").resolve(points)
        a = {r.point_id: (r.elevation, r.dataset) for r in r1.collect()}
        b = {r.point_id: (r.elevation, r.dataset) for r in r4.collect()}
        assert set(a) == set(b)
        for k in a:
            assert _same(a[k][0], b[k][0]) and a[k][1] == b[k][1]


class TestSpanInvariant:
    def test_round_trip(self, spark, documents_path):
        """Per-row span-sequence equality (kind, text, media_ref, order):
        the pipeline derives points and joins results back by key; the
        documents table itself is never disassembled. Verify an
        extract -> resolve -> reattach round trip leaves spans identical."""
        docs = spark.read.parquet(documents_path)
        before = docs.select("doc_id", "spans").orderBy("doc_id").collect()

        pts = extract.with_point_id(extract.extract_points(docs)).where(
            F.col("loc_error").isNull()
        )
        # re-attach derived results to documents (J4): pure left join
        agg = pts.groupBy("doc_id").agg(F.count("*").alias("n_points"))
        out = docs.join(agg, "doc_id", "left")
        after = out.select("doc_id", "spans").orderBy("doc_id").collect()

        assert len(before) == len(after)
        for rb, ra in zip(before, after):
            assert rb.doc_id == ra.doc_id
            assert rb.spans == ra.spans  # kind, text, media_ref, offset, order


class TestExtract:
    def test_polyline_and_pairs_extracted(self, spark, points):
        assert points.where(F.col("lat").isNotNull()).count() > 0
        # all coordinates in range
        bad = points.where(
            ~F.col("lat").between(-90, 90) | ~F.col("lon").between(-180, 180)
        ).count()
        assert bad == 0

    def test_invalid_pairs_become_errors(self, spark):
        docs = spark.createDataFrame(
            [
                (
                    "d1",
                    [
                        {"kind": "text", "text": "see 95.0,10.0 here", "media_ref": None, "offset": 0},
                        {"kind": "text", "text": "ok 1.5,2.5", "media_ref": None, "offset": 20},
                    ],
                )
            ],
            "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
        )
        pts = extract.extract_points(docs)
        errs = pts.where(F.col("loc_error").isNotNull()).collect()
        oks = pts.where(F.col("loc_error").isNull()).collect()
        assert len(errs) == 1 and errs[0].loc_error == "95.0,10.0"
        assert len(oks) == 1 and oks[0].lat == 1.5 and oks[0].lon == 2.5
