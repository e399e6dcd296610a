"""Query contract of the engine (PySpark target).

``entry(spark)`` runs the flagship distributed elevation pipeline
(documents -> coordinate extraction -> tile assignment -> raster
interpolation -> priority coalesce) on deterministic synthetic fixtures
at sf0.001 scale. ``queries()``/``oracle_sql()`` cover the engine's
operator inventory (SURVEY.md §2 plus the spatial joins -- S2 cells,
point-in-polygon, kNN and range joins --, vector feature ingestion and
the raster<->vector operators) over the testdata tables; every
aggregate/computed column is aliased identically on both sides, and all
float expressions are written so Spark and DuckDB evaluate the exact
same double-precision operation sequence. ``oracle_sql()`` lists its
names for free and builds an oracle only when its SQL is read.
"""

from __future__ import annotations

import os
import sys
import tempfile
from collections.abc import Callable, Mapping
from functools import partial

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from opentopodata_spark.operators import knn

_PAIR_REGEX = r"(-?\d+(?:\.\d+)?),(-?\d+(?:\.\d+)?)"


def _ship_package(spark: SparkSession) -> None:
    """Make the package importable in Python workers no matter whose
    SparkSession we were handed (the driver builds its own)."""
    from opentopodata_spark.session import _package_zip

    try:
        spark.sparkContext.addPyFile(_package_zip())
    except Exception:
        pass  # already added


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# shared synthetic derivations (identical arithmetic on both engines)
# ---------------------------------------------------------------------------

def _points(spark, sf_dir):
    """Deterministic query points derived from customer keys."""
    return _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("pid"),
        ((F.col("c_custkey") % 1700) / 10.0 - 85.0 + 0.05).alias("lat"),
        ((F.col("c_custkey") % 3500) / 10.0 - 175.0 + 0.05).alias("lon"),
    )


_POINTS_SQL = (
    "SELECT c_custkey AS pid,"
    " (c_custkey % 1700) / 10.0 - 85.0 + 0.05 AS lat,"
    " (c_custkey % 3500) / 10.0 - 175.0 + 0.05 AS lon"
    " FROM customer"
)


def _anchors(spark, sf_dir):
    """25 spatial anchors (tile centers) derived from nation keys."""
    return _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("anchor_id"),
        (((F.col("n_nationkey") * 7) % 180) - 90 + 0.5).cast("double").alias("lat"),
        (((F.col("n_nationkey") * 13) % 360) - 180 + 0.5).cast("double").alias("lon"),
    )


_ANCHORS_SQL = (
    "SELECT n_nationkey AS anchor_id,"
    " CAST((n_nationkey * 7) % 180 - 90 + 0.5 AS DOUBLE) AS lat,"
    " CAST((n_nationkey * 13) % 360 - 180 + 0.5 AS DOUBLE) AS lon"
    " FROM nation"
)


def _datasets(spark, sf_dir):
    """5 overlapping bbox 'datasets' derived from region keys (J2 dims)."""
    return _t(spark, sf_dir, "region").select(
        F.col("r_name").alias("name"),
        F.col("r_regionkey").cast("int").alias("priority"),
        (F.col("r_regionkey") * 60.0 - 180.0).alias("lon_min"),
        (F.col("r_regionkey") * 60.0 - 180.0 + 100.0).alias("lon_max"),
        (F.col("r_regionkey") * 25.0 - 90.0).alias("lat_min"),
        (F.col("r_regionkey") * 25.0 - 90.0 + 120.0).alias("lat_max"),
    )


_DATASETS_SQL = (
    "SELECT r_name AS name, CAST(r_regionkey AS INT) AS priority,"
    " r_regionkey * 60.0 - 180.0 AS lon_min,"
    " r_regionkey * 60.0 - 180.0 + 100.0 AS lon_max,"
    " r_regionkey * 25.0 - 90.0 AS lat_min,"
    " r_regionkey * 25.0 - 90.0 + 120.0 AS lat_max"
    " FROM region"
)


# ---------------------------------------------------------------------------
# queries — reference-semantics operators (SURVEY.md §2)
# ---------------------------------------------------------------------------

def q_tile_floor_keys(spark, sf_dir):
    """S2/S3/S7/J1 key math: tile floors at three grid sizes + SRTM name."""
    p = _points(spark, sf_dir)
    iy1 = F.floor(F.col("lat") / 1.0).cast("long")
    ix1 = F.floor(F.col("lon") / 1.0).cast("long")
    return p.select(
        "pid",
        "lat",
        "lon",
        iy1.alias("iy1"),
        ix1.alias("ix1"),
        F.floor(F.col("lat") / 0.25).cast("long").alias("iy025"),
        F.floor(F.col("lon") / 0.25).cast("long").alias("ix025"),
        F.floor(F.col("lat") / 5.0).cast("long").alias("iy5"),
        F.floor(F.col("lon") / 5.0).cast("long").alias("ix5"),
        F.concat(
            F.when(iy1 >= 0, F.lit("N")).otherwise(F.lit("S")),
            F.lpad(F.abs(iy1).cast("string"), 2, "0"),
            F.when(ix1 >= 0, F.lit("E")).otherwise(F.lit("W")),
            F.lpad(F.abs(ix1).cast("string"), 3, "0"),
        ).alias("srtm_name"),
    )


_Q_TILE_FLOOR_SQL = f"""
WITH pts AS ({_POINTS_SQL})
SELECT pid, lat, lon,
  CAST(floor(lat / 1.0) AS BIGINT) AS iy1,
  CAST(floor(lon / 1.0) AS BIGINT) AS ix1,
  CAST(floor(lat / 0.25) AS BIGINT) AS iy025,
  CAST(floor(lon / 0.25) AS BIGINT) AS ix025,
  CAST(floor(lat / 5.0) AS BIGINT) AS iy5,
  CAST(floor(lon / 5.0) AS BIGINT) AS ix5,
  concat(
    CASE WHEN CAST(floor(lat / 1.0) AS BIGINT) >= 0 THEN 'N' ELSE 'S' END,
    lpad(CAST(abs(CAST(floor(lat / 1.0) AS BIGINT)) AS VARCHAR), 2, '0'),
    CASE WHEN CAST(floor(lon / 1.0) AS BIGINT) >= 0 THEN 'E' ELSE 'W' END,
    lpad(CAST(abs(CAST(floor(lon / 1.0) AS BIGINT)) AS VARCHAR), 3, '0')
  ) AS srtm_name
FROM pts
"""


def q_bbox_coverage(spark, sf_dir):
    """J2: point-in-rectangle dataset-coverage join (broadcast dims)."""
    p = _points(spark, sf_dir)
    d = _datasets(spark, sf_dir)
    cond = (
        (p["lat"] >= d["lat_min"])
        & (p["lat"] <= d["lat_max"])
        & (p["lon"] >= d["lon_min"])
        & (p["lon"] <= d["lon_max"])
    )
    return (
        p.join(F.broadcast(d), cond, "left")
        .groupBy(F.coalesce(F.col("name"), F.lit("NONE")).alias("dataset"))
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.min("pid").alias("min_pid"),
            F.max("pid").alias("max_pid"),
        )
    )


_Q_BBOX_SQL = f"""
WITH pts AS ({_POINTS_SQL}), ds AS ({_DATASETS_SQL})
SELECT coalesce(d.name, 'NONE') AS dataset,
       count(*) AS n_points, min(p.pid) AS min_pid, max(p.pid) AS max_pid
FROM pts p LEFT JOIN ds d
  ON p.lat >= d.lat_min AND p.lat <= d.lat_max
 AND p.lon >= d.lon_min AND p.lon <= d.lon_max
GROUP BY 1
"""


def q_priority_coalesce(spark, sf_dir):
    """J3(b): first-non-null-by-priority via one window (the resolver's
    coalesce plan on synthetic resolvability)."""
    p = _points(spark, sf_dir)
    d = _datasets(spark, sf_dir)
    cond = (
        (p["lat"] >= d["lat_min"])
        & (p["lat"] <= d["lat_max"])
        & (p["lon"] >= d["lon_min"])
        & (p["lon"] <= d["lon_max"])
    )
    cand = p.join(F.broadcast(d), cond, "left").select(
        "pid",
        "lat",
        "name",
        "priority",
        (
            F.col("priority").isNotNull()
            & (((F.col("pid") + F.col("priority")) % 3) != 0)
        ).alias("resolved"),
        (F.col("lat") + F.col("priority")).alias("elev"),
    )
    order = F.when(F.col("resolved"), F.col("priority")).otherwise(-F.col("priority"))
    w = Window.partitionBy("pid").orderBy(F.col("resolved").desc(), order.asc())
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "pid",
            F.when(F.col("resolved"), F.col("elev"))
            .otherwise(F.lit(None).cast("double"))
            .alias("elevation"),
            F.coalesce(F.col("name"), F.lit("fallback")).alias("dataset"),
        )
    )


_Q_PRIORITY_SQL = f"""
WITH pts AS ({_POINTS_SQL}), ds AS ({_DATASETS_SQL}),
cand AS (
  SELECT p.pid, p.lat, d.name, d.priority,
         (d.priority IS NOT NULL AND (p.pid + d.priority) % 3 <> 0) AS resolved,
         p.lat + d.priority AS elev
  FROM pts p LEFT JOIN ds d
    ON p.lat >= d.lat_min AND p.lat <= d.lat_max
   AND p.lon >= d.lon_min AND p.lon <= d.lon_max),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY pid
    ORDER BY resolved DESC,
             CASE WHEN resolved THEN priority ELSE -priority END ASC) AS rn
  FROM cand)
SELECT pid,
       CASE WHEN resolved THEN elev ELSE NULL END AS elevation,
       coalesce(name, 'fallback') AS dataset
FROM ranked WHERE rn = 1
"""


def q_knn_topk(spark, sf_dir):
    """J5: k nearest anchors per point (broadcast + window top-k)."""
    p = _points(spark, sf_dir).where(F.col("pid") % 20 == 0)
    return knn.knn_join(
        p.withColumnRenamed("pid", "point_id"), _anchors(spark, sf_dir), k=3
    )


_Q_KNN_SQL = f"""
WITH pts AS (SELECT * FROM ({_POINTS_SQL}) WHERE pid % 20 = 0),
anc AS ({_ANCHORS_SQL}),
scored AS (
  SELECT p.pid AS point_id, a.anchor_id,
         round((p.lat - a.lat) * (p.lat - a.lat)
             + (p.lon - a.lon) * (p.lon - a.lon), 6) AS dist
  FROM pts p CROSS JOIN anc a),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY point_id ORDER BY dist ASC, anchor_id ASC) AS "rank"
  FROM scored)
SELECT point_id, anchor_id, "rank", dist FROM ranked WHERE "rank" <= 3
"""


def q_range_join(spark, sf_dir):
    """Within-distance spatial join (operators/knn.range_join): every
    (point, anchor) pair within 750 km — grid-blocked, wrap-correct,
    the only exchange is one cell equi-join (no crossJoin)."""
    p = _points(spark, sf_dir).withColumnRenamed("pid", "point_id")
    a = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("anchor_id"),
        (((F.col("s_suppkey") * 37) % 1700) / 10.0 - 85.0 + 0.03).alias("lat"),
        (((F.col("s_suppkey") * 61) % 3500) / 10.0 - 175.0 + 0.07).alias("lon"),
    )
    return knn.range_join(p, a, radius_m=750_000.0)


_Q_RANGE_SQL = f"""
WITH pts AS ({_POINTS_SQL}),
anc AS (
  SELECT s_suppkey AS anchor_id,
         (s_suppkey * 37) % 1700 / 10.0 - 85.0 + 0.03 AS lat,
         (s_suppkey * 61) % 3500 / 10.0 - 175.0 + 0.07 AS lon
  FROM supplier)
SELECT p.pid AS point_id, a.anchor_id,
       round(2.0 * 6371008.8 * asin(sqrt(
           pow(sin(radians(a.lat - p.lat) / 2), 2)
         + cos(radians(p.lat)) * cos(radians(a.lat))
           * pow(sin(radians(a.lon - p.lon) / 2), 2))), 1) AS dist_m
FROM pts p CROSS JOIN anc a
WHERE round(2.0 * 6371008.8 * asin(sqrt(
           pow(sin(radians(a.lat - p.lat) / 2), 2)
         + cos(radians(p.lat)) * cos(radians(a.lat))
           * pow(sin(radians(a.lon - p.lon) / 2), 2))), 1) <= 750000.0
"""


def q_coord_extract(spark, sf_dir):
    """P1: the lat,lon|lat,lon grammar — build, extract, parse, round-trip."""
    c = _t(spark, sf_dir, "customer")

    def istr(expr):
        return expr.cast("long").cast("string")

    k = F.col("c_custkey")
    loc_text = F.concat(
        istr(k % 170 - 85), F.lit("."), istr(k % 10), F.lit(","),
        istr(k % 350 - 175), F.lit("."), istr(k % 7), F.lit("|"),
        istr(k % 160 - 80), F.lit("."), istr(k % 9), F.lit(","),
        istr(k % 340 - 170), F.lit("."), istr(k % 8),
    )
    src = c.select(k.alias("pid"), loc_text.alias("loc_text"))
    pairs = F.regexp_extract_all(F.col("loc_text"), F.lit(_PAIR_REGEX), F.lit(0))
    parsed = src.select("pid", pairs.alias("pairs"))
    return parsed.select(
        "pid",
        F.split(F.element_at("pairs", 1), ",").getItem(0).cast("double").alias("lat1"),
        F.split(F.element_at("pairs", 1), ",").getItem(1).cast("double").alias("lon1"),
        F.split(F.element_at("pairs", 2), ",").getItem(0).cast("double").alias("lat2"),
        F.split(F.element_at("pairs", 2), ",").getItem(1).cast("double").alias("lon2"),
        F.size("pairs").cast("long").alias("n_points"),
    )


_Q_COORD_SQL = rf"""
WITH src AS (
  SELECT c_custkey AS pid,
    concat(
      CAST(c_custkey % 170 - 85 AS VARCHAR), '.', CAST(c_custkey % 10 AS VARCHAR), ',',
      CAST(c_custkey % 350 - 175 AS VARCHAR), '.', CAST(c_custkey % 7 AS VARCHAR), '|',
      CAST(c_custkey % 160 - 80 AS VARCHAR), '.', CAST(c_custkey % 9 AS VARCHAR), ',',
      CAST(c_custkey % 340 - 170 AS VARCHAR), '.', CAST(c_custkey % 8 AS VARCHAR)
    ) AS loc_text
  FROM customer),
parsed AS (
  SELECT pid,
         regexp_extract_all(loc_text, '{_PAIR_REGEX}', 0) AS pairs
  FROM src)
SELECT pid,
  CAST(string_split(pairs[1], ',')[1] AS DOUBLE) AS lat1,
  CAST(string_split(pairs[1], ',')[2] AS DOUBLE) AS lon1,
  CAST(string_split(pairs[2], ',')[1] AS DOUBLE) AS lat2,
  CAST(string_split(pairs[2], ',')[2] AS DOUBLE) AS lon2,
  CAST(len(pairs) AS BIGINT) AS n_points
FROM parsed
"""


# ---------------------------------------------------------------------------
# rows-only queries (not SQL-expressible: rasters / geodesics)
# ---------------------------------------------------------------------------

def _fixture_root() -> str:
    return os.path.join(tempfile.gettempdir(), "otds_driver_fixtures")


def _prepare_elevation_inputs(n_docs: int, seed: int = 11, n_files: int = 1):
    from opentopodata_spark import fixtures

    root = _fixture_root()
    raster_dir = os.path.join(root, "rasters")
    fixtures.make_all_rasters(raster_dir)
    docs = os.path.join(root, f"docs_{n_docs}_{seed}x{n_files}.parquet")
    if not os.path.exists(docs):
        fixtures.make_documents(docs, n_docs=n_docs, seed=seed, n_files=n_files)
    return os.path.join(raster_dir, "test-config.yaml"), docs


def _run_elevation(spark: SparkSession, n_docs: int, n_files: int = 1) -> DataFrame:
    from opentopodata_spark import config
    from opentopodata_spark.operators import elevation, extract

    _ship_package(spark)
    cfg_path, docs_path = _prepare_elevation_inputs(n_docs, n_files=n_files)
    documents = spark.read.parquet(docs_path)
    pts = extract.with_point_id(extract.extract_points(documents)).where(
        F.col("loc_error").isNull()
    )
    dsets = config.load_datasets(cfg_path)
    ordered = config.resolve_dataset_names("multi_eudem_etopo1", dsets)
    resolver = elevation.ElevationResolver(spark, ordered, "bilinear")
    # skew + sizing pre-pass: per-spatial-cell salt factors (a Zipf-hot
    # cell otherwise serializes the sampling stage) AND a total-row
    # estimate that sizes the wide shuffle (waves of ~200k-row tasks)
    # from one 2% document sample
    sample_pts = extract.with_point_id(
        extract.extract_points(documents.sample(0.02, seed=7))
    ).where(F.col("loc_error").isNull())
    resolver.set_cell_salts(
        elevation.estimate_cell_salts(resolver, sample_pts, sample_fraction=0.02)
    )
    # carry the doc keys through the pipeline instead of joining back:
    # one scan of documents, no self-join (SURVEY.md J4 at scale).
    resolved = resolver.resolve(pts, carry=("doc_id", "span_pos", "point_pos"))
    return resolved.select(
        "doc_id", "span_pos", "point_pos", "lat", "lon", "elevation", "dataset"
    )


def q_elevation_e2e(spark, sf_dir):
    """Flagship: documents -> extraction -> tile join -> raster
    interpolation -> priority coalesce. Rows-only (rasters aren't SQL)."""
    return _run_elevation(spark, n_docs=1000)


def q_geodesic_paths(spark, sf_dir):
    """S6: geodesic path sampling, distributed per path. Rows-only."""
    from opentopodata_spark.operators import paths

    _ship_package(spark)
    a = _anchors(spark, sf_dir)
    pdf = a.select(
        F.col("anchor_id").alias("path_id"),
        F.array(F.col("lat"), F.least(F.col("lat") + 10.0, F.lit(89.0))).alias("lats"),
        F.array(F.col("lon"), F.least(F.col("lon") + 10.0, F.lit(179.0))).alias("lons"),
    )
    return paths.sample_paths(pdf, n_samples=5)


_PROFILE_N_SAMPLES = 21


def _profile_path_frame(spark, sf_dir):
    """Deterministic multi-waypoint paths from nation keys; every 5th
    path routes through the hi-res EU-DEM fixture window (lat 0..1,
    lon 10..12) so the profile exercises priority coalesce, the rest
    land on the global etopo1 layer. The numerics (int-mod grid, then
    one double subtract/add per coordinate) are replayed bit-exact by
    the single-process oracle (_build_profile_oracle)."""
    n = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("path_id")
    )
    eu = F.col("path_id") % 5 == 0
    lat0 = ((F.col("path_id") * 7) % 140).cast("double") - F.lit(69.75)
    lon0 = ((F.col("path_id") * 13) % 320).cast("double") - F.lit(159.75)
    return n.select(
        "path_id",
        F.when(
            eu,
            F.array(
                F.lit(0.2),
                F.lit(0.5) + F.col("path_id").cast("double") / F.lit(100.0),
                F.lit(0.9),
            ),
        )
        .otherwise(F.array(lat0, lat0 + F.lit(4.0), lat0 + F.lit(8.0)))
        .alias("lats"),
        F.when(eu, F.array(F.lit(10.2), F.lit(11.0), F.lit(11.8)))
        .otherwise(F.array(lon0, lon0 + F.lit(6.0), lon0 + F.lit(3.0)))
        .alias("lons"),
    )


def q_elevation_profile(spark, sf_dir):
    """Per-path elevation profile: geodesic sampling -> distributed
    elevation resolution -> ordered fold to (distance, min/max,
    cumulative gain/loss). Checked against a single-process oracle that
    replays the same Karney sampler + raster interpolation + sequential
    fold without Spark."""
    from opentopodata_spark import config
    from opentopodata_spark.operators import elevation, paths

    _ship_package(spark)
    cfg_path, _ = _prepare_elevation_inputs(n_docs=1)
    dsets = config.load_datasets(cfg_path)
    ordered = config.resolve_dataset_names("multi_eudem_etopo1", dsets)
    resolver = elevation.ElevationResolver(spark, ordered, "bilinear")
    return paths.elevation_profile(
        resolver, _profile_path_frame(spark, sf_dir), _PROFILE_N_SAMPLES
    )


_LOS_N_SAMPLES = 33


def _los_pair_frame(spark, sf_dir):
    nat = _t(spark, sf_dir, "nation").select("n_nationkey")
    k = F.col("n_nationkey").cast("long")
    return nat.select(
        k.alias("los_id"),
        # half the pairs cross the hi-res EU window, half are global
        F.when(k % 2 == 0, 0.2 + (k % 7) / 10.0)
         .otherwise((k * 11 % 140) - 69.5).alias("lat_a"),
        F.when(k % 2 == 0, 10.2 + (k % 5) / 10.0)
         .otherwise((k * 17 % 320) - 159.5).alias("lon_a"),
        F.when(k % 2 == 0, 0.9 - (k % 3) / 10.0)
         .otherwise((k * 11 % 140) - 62.5).alias("lat_b"),
        F.when(k % 2 == 0, 11.8 - (k % 4) / 10.0)
         .otherwise((k * 17 % 320) - 150.5).alias("lon_b"),
    )


def q_line_of_sight(spark, sf_dir):
    """Point-to-point terrain line-of-sight (paths.line_of_sight):
    geodesic sampling -> distributed elevation resolution -> per-pair
    visibility fold with earth-curvature/refraction correction. Oracle:
    a single-process sequential replay (same Karney sampler, same raster
    interpolation, same chord/bulge arithmetic) without Spark."""
    from opentopodata_spark import config
    from opentopodata_spark.operators import elevation, paths

    _ship_package(spark)
    cfg_path, _ = _prepare_elevation_inputs(n_docs=1)
    dsets = config.load_datasets(cfg_path)
    ordered = config.resolve_dataset_names("multi_eudem_etopo1", dsets)
    resolver = elevation.ElevationResolver(spark, ordered, "bilinear")
    out = paths.line_of_sight(
        resolver, _los_pair_frame(spark, sf_dir), _LOS_N_SAMPLES
    )
    # round the doubles the fold sums in a fixed order anyway; keeps the
    # compare robust to future fold reshapes without weakening visibility
    return out.select(
        "los_id", "visible", F.round("min_clearance_m", 6).alias("clear_r"),
        F.round("distance_m", 3).alias("dist_r"), "elev_a", "elev_b",
        "n_missing",
    )


def _build_los_oracle(sf_dir: str):
    import numpy as np
    import pyarrow as pa

    from opentopodata_spark import config, geodesic, oracle

    cfg_path, _ = _prepare_elevation_inputs(n_docs=1)
    dsets = config.load_datasets(cfg_path)
    ordered = config.resolve_dataset_names("multi_eudem_etopo1", dsets)
    nk = _read_pq(sf_dir, "nation").column("n_nationkey").to_pylist()
    R = 6371008.8
    cols = {k: [] for k in ("los_id", "visible", "clear_r", "dist_r",
                            "elev_a", "elev_b", "n_missing")}
    for key in sorted(int(k) for k in nk):
        if key % 2 == 0:
            la, lo = 0.2 + (key % 7) / 10.0, 10.2 + (key % 5) / 10.0
            lb, lon_b = 0.9 - (key % 3) / 10.0, 11.8 - (key % 4) / 10.0
        else:
            la = float(key * 11 % 140) - 69.5
            lo = float(key * 17 % 320) - 159.5
            lb = float(key * 11 % 140) - 62.5
            lon_b = float(key * 17 % 320) - 150.5
        n = _LOS_N_SAMPLES
        s_lats, s_lons, s_dist = geodesic.sample_points_with_distance(
            np.asarray([la, lb]), np.asarray([lo, lon_b]), n
        )
        elevs, _ = oracle.get_elevation(s_lats, s_lons, ordered, "bilinear")
        ea, eb, D = elevs[0], elevs[-1], float(s_dist[-1])
        margins, miss = [], 0
        for i in range(1, n - 1):
            if elevs[i] is None:
                miss += 1
                continue
            if ea is None or eb is None:
                continue
            d = float(s_dist[i])
            line = (float(ea) + 2.0) + (float(eb) - (float(ea) + 2.0)) * d / D
            terr = float(elevs[i]) + (1 - 0.13) / (2 * R) * d * (D - d)
            margins.append(line - terr)
        if ea is None or eb is None:
            vis, clear = None, None
        elif not margins:
            vis, clear = True, None
        else:
            clear = min(margins)
            vis = clear >= 0
        cols["los_id"].append(key)
        cols["visible"].append(vis)
        cols["clear_r"].append(None if clear is None else round(clear, 6))
        cols["dist_r"].append(round(D, 3))
        cols["elev_a"].append(None if ea is None else float(ea))
        cols["elev_b"].append(None if eb is None else float(eb))
        cols["n_missing"].append(miss)
    return pa.table(
        {
            "los_id": pa.array(cols["los_id"], type=pa.int64()),
            "visible": pa.array(cols["visible"], type=pa.bool_()),
            "clear_r": pa.array(cols["clear_r"], type=pa.float64()),
            "dist_r": pa.array(cols["dist_r"], type=pa.float64()),
            "elev_a": pa.array(cols["elev_a"], type=pa.float64()),
            "elev_b": pa.array(cols["elev_b"], type=pa.float64()),
            "n_missing": pa.array(cols["n_missing"], type=pa.int64()),
        }
    )


_VS_RAYS, _VS_SAMPLES, _VS_RADIUS = 8, 17, 40000.0


def _vs_observer_frame(spark, sf_dir):
    nat = _t(spark, sf_dir, "nation").select("n_nationkey")
    k = F.col("n_nationkey").cast("long")
    return nat.select(
        k.alias("obs_id"),
        F.when(k % 2 == 0, 0.3 + (k % 6) / 10.0)
         .otherwise((k * 13 % 120) - 59.5).alias("lat"),
        F.when(k % 2 == 0, 10.4 + (k % 4) / 5.0)
         .otherwise((k * 23 % 320) - 159.5).alias("lon"),
    )


def q_viewshed(spark, sf_dir):
    """Radial terrain visibility (paths.viewshed): geodesic rays from
    each observer -> distributed elevation resolve -> per-ray
    running-max-angle sweep with curvature -> per-observer rollup.
    Oracle: single-process sequential replay (same Karney direct rays,
    same interpolation, same sweep arithmetic) without Spark."""
    from opentopodata_spark import config
    from opentopodata_spark.operators import elevation, paths

    _ship_package(spark)
    cfg_path, _ = _prepare_elevation_inputs(n_docs=1)
    dsets = config.load_datasets(cfg_path)
    ordered = config.resolve_dataset_names("multi_eudem_etopo1", dsets)
    resolver = elevation.ElevationResolver(spark, ordered, "bilinear")
    vs = paths.viewshed(
        resolver, _vs_observer_frame(spark, sf_dir),
        _VS_RADIUS, _VS_RAYS, _VS_SAMPLES,
    )
    return paths.viewshed_summary(vs)


def _build_viewshed_oracle(sf_dir: str):
    import numpy as np
    import pyarrow as pa

    from opentopodata_spark import config, geodesic, oracle

    cfg_path, _ = _prepare_elevation_inputs(n_docs=1)
    dsets = config.load_datasets(cfg_path)
    ordered = config.resolve_dataset_names("multi_eudem_etopo1", dsets)
    nk = _read_pq(sf_dir, "nation").column("n_nationkey").to_pylist()
    R = 6371008.8
    curv = (1 - 0.13) / (2 * R)
    cols = {c: [] for c in ("obs_id", "n_visible", "n_valid",
                            "visible_frac")}
    for key in sorted(int(k) for k in nk):
        if key % 2 == 0:
            la, lo = 0.3 + (key % 6) / 10.0, 10.4 + (key % 4) / 5.0
        else:
            la = float(key * 13 % 120) - 59.5
            lo = float(key * 23 % 320) - 159.5
        e0 = oracle.get_elevation(
            np.array([la]), np.array([lo]), ordered, "bilinear")[0][0]
        eye = None if e0 is None else float(e0) + 2.0
        n_vis = n_val = 0
        for ray in range(_VS_RAYS):
            az = 360.0 * ray / _VS_RAYS
            lats, lons, dd = [], [], []
            for i in range(1, _VS_SAMPLES):
                d = _VS_RADIUS * i / (_VS_SAMPLES - 1)
                g = geodesic.direct(la, lo, az, d)
                lats.append(g["lat2"])
                lons.append((g["lon2"] + 180.0) % 360.0 - 180.0)
                dd.append(d)
            elevs, _ = oracle.get_elevation(
                np.array(lats), np.array(lons), ordered, "bilinear")
            maxtan = -np.inf
            for e, d in zip(elevs, dd):
                if eye is None or e is None:
                    continue
                t = (float(e) - curv * d * d - eye) / d
                n_val += 1
                if t >= maxtan:
                    n_vis += 1
                maxtan = max(maxtan, t)
        cols["obs_id"].append(key)
        cols["n_visible"].append(n_vis)
        cols["n_valid"].append(n_val)
        cols["visible_frac"].append(
            round(n_vis / n_val, 6) if n_val else None
        )
    return pa.table(
        {
            "obs_id": pa.array(cols["obs_id"], type=pa.int64()),
            "n_visible": pa.array(cols["n_visible"], type=pa.int64()),
            "n_valid": pa.array(cols["n_valid"], type=pa.int64()),
            "visible_frac": pa.array(cols["visible_frac"],
                                     type=pa.float64()),
        }
    )


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------

# --------------------------------------------------------------------------
# S2-indexed spatial joins (north rule: H3/S2 index + point-in-polygon)
# --------------------------------------------------------------------------

_PIP_POLYGONS = [
    {   # rectilinear L, west hemisphere
        "polygon_id": "L_WEST",
        "lats": [-40.0, 40.0, 40.0, 0.0, 0.0, -40.0],
        "lons": [-100.0, -100.0, -60.0, -60.0, -20.0, -20.0],
    },
    {   # rectilinear L, east hemisphere
        "polygon_id": "L_EAST",
        "lats": [-60.0, -60.0, 60.0, 60.0, -20.0, -20.0],
        "lons": [40.0, 160.0, 160.0, 120.0, 120.0, 40.0],
    },
]


def q_pip_coverage(spark, sf_dir):
    """Point-in-polygon coverage join: S2 cell cover equi-join + exact
    even-odd ray-cast refinement (J2 generalized from rectangles)."""
    from opentopodata_spark.operators import spatial

    _ship_package(spark)
    p = _points(spark, sf_dir)
    out = spatial.point_in_polygon_join(
        p, _PIP_POLYGONS, level=6, lat_col="lat", lon_col="lon"
    )
    return out.select(F.col("pid").alias("point_id"), "polygon_id")


def _pip_sql() -> str:
    edge_rows = []
    for poly in _PIP_POLYGONS:
        la, lo = poly["lats"], poly["lons"]
        n = len(la)
        for k in range(n):
            y1, x1 = la[k], lo[k]
            y2, x2 = la[(k + 1) % n], lo[(k + 1) % n]
            if y1 == y2:
                continue  # horizontal edges never cross (numpy side skips too)
            edge_rows.append(
                f"('{poly['polygon_id']}', {y1!r}, {x1!r}, {y2!r}, {x2!r})"
            )
    edges = ",\n    ".join(edge_rows)
    return f"""
WITH pts AS ({_POINTS_SQL}),
edges(polygon_id, y1, x1, y2, x2) AS (VALUES
    {edges}),
crossings AS (
  SELECT p.pid AS point_id, e.polygon_id,
         CASE WHEN ((e.y1 > p.lat) <> (e.y2 > p.lat))
               AND (p.lon < (e.x2 - e.x1) * (p.lat - e.y1) / (e.y2 - e.y1) + e.x1)
              THEN 1 ELSE 0 END AS c
  FROM pts p CROSS JOIN edges e)
SELECT point_id, polygon_id
FROM crossings
GROUP BY point_id, polygon_id
HAVING SUM(c) % 2 = 1
"""


_SLIPPY_ZOOM = 11


def q_slippy_tiles(spark, sf_dir):
    """Web-Mercator slippy/XYZ tile keys + Bing quadkeys at zoom 11
    (operators/spatial.with_slippy_tile) over the point stream — the
    tile-pyramid partitioning key (ancestors are quadkey prefixes).
    Pure codegen'd floor/asinh arithmetic, zero shuffles; the oracle
    recomputes the same formulas in SQL (asinh spelled ln(tan+sec))."""
    from opentopodata_spark.operators import spatial

    p = _points(spark, sf_dir)
    return spatial.with_slippy_tile(p, _SLIPPY_ZOOM).select(
        "pid", "tile_x", "tile_y", "quadkey"
    )


def _slippy_sql() -> str:
    z = _SLIPPY_ZOOM
    n = 2**z
    digits = " || ".join(
        f"CAST(((tile_x >> {z - 1 - i}) & 1) + 2 * ((tile_y >> {z - 1 - i}) & 1) AS VARCHAR)"
        for i in range(z)
    )
    return f"""
WITH p AS ({_POINTS_SQL}),
t AS (
  SELECT pid,
         least(greatest(CAST(floor((lon + 180.0) / 360.0 * {n}) AS BIGINT),
                        0), {n - 1}) AS tile_x,
         least(greatest(CAST(floor((1.0 - ln(tan(radians(
                    least(greatest(lat, -85.05112878), 85.05112878)))
                 + 1.0 / cos(radians(least(greatest(lat, -85.05112878),
                                           85.05112878)))) / pi()) / 2.0
                 * {n}) AS BIGINT), 0), {n - 1}) AS tile_y
  FROM p)
SELECT pid, tile_x, tile_y, {digits} AS quadkey FROM t
"""


def q_tile_pyramid(spark, sf_dir):
    """Tile-pyramid rollup over quadkeys: point counts at zoom 12 are
    aggregated once, then every coarser level is a substr groupBy over
    the LEVEL-12 AGGREGATE (not the points) — the quadkey
    prefix-is-ancestor property means the pyramid costs one scan of the
    points plus rollups over ever-smaller frames, the gdaladdo shape
    for point density."""
    from opentopodata_spark.operators import spatial

    p = _points(spark, sf_dir)
    base = (
        spatial.with_slippy_tile(p, 12)
        .groupBy("quadkey").agg(F.count("*").alias("n_points"))
    )
    levels = [base.select(F.lit(12).alias("zoom"), "quadkey", "n_points")]
    for z in (8, 4):
        levels.append(
            base.groupBy(F.substring("quadkey", 1, z).alias("quadkey"))
            .agg(F.sum("n_points").alias("n_points"))
            .select(F.lit(z).alias("zoom"), "quadkey", "n_points")
        )
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return out


def _tile_pyramid_sql() -> str:
    z = 12
    n = 2**z
    digits = " || ".join(
        f"CAST(((tile_x >> {z - 1 - i}) & 1) + 2 * ((tile_y >> {z - 1 - i}) & 1) AS VARCHAR)"
        for i in range(z)
    )
    return f"""
WITH p AS ({_POINTS_SQL}),
t AS (
  SELECT least(greatest(CAST(floor((lon + 180.0) / 360.0 * {n}) AS BIGINT),
                        0), {n - 1}) AS tile_x,
         least(greatest(CAST(floor((1.0 - ln(tan(radians(
                    least(greatest(lat, -85.05112878), 85.05112878)))
                 + 1.0 / cos(radians(least(greatest(lat, -85.05112878),
                                           85.05112878)))) / pi()) / 2.0
                 * {n}) AS BIGINT), 0), {n - 1}) AS tile_y
  FROM p),
base AS (SELECT {digits} AS quadkey, COUNT(*) AS n_points FROM t
         GROUP BY 1)
SELECT 12 AS zoom, quadkey, n_points FROM base
UNION ALL
SELECT 8 AS zoom, substr(quadkey, 1, 8) AS quadkey,
       CAST(SUM(n_points) AS BIGINT) AS n_points FROM base GROUP BY 2
UNION ALL
SELECT 4 AS zoom, substr(quadkey, 1, 4) AS quadkey,
       CAST(SUM(n_points) AS BIGINT) AS n_points FROM base GROUP BY 2
"""


def q_s2_cells(spark, sf_dir):
    """S2 cell encoding (level 8) of the point stream — vectorized Arrow
    batches, parity-tested against canonical S2 ids (tests/test_s2_spatial).
    Rows-only (no SQL engine computes S2 Hilbert ids)."""
    from opentopodata_spark.operators import spatial

    _ship_package(spark)
    p = _points(spark, sf_dir)
    return spatial.with_s2_cell(p, level=8).select("pid", "s2_cell")


# --------------------------------------------------------------------------
# Zonal statistics (north rule: raster<->vector aggregate)
# --------------------------------------------------------------------------

# polygons over the int16 SRTM fixture tiles (lon 10..12, lat 0..1) plus
# the 3x3 NODATA fixture (lon/lat -0.5..2.5): TRI spans the tile seam,
# BOX crosses it, NODATA_MIX exercises the nodata accounting
_ZONAL_POLYGONS = [
    {"polygon_id": "TRI", "lats": [0.1, 0.9, 0.1], "lons": [10.2, 10.9, 11.7]},
    {"polygon_id": "BOX", "lats": [0.3, 0.7, 0.7, 0.3],
     "lons": [10.8, 10.8, 11.2, 11.2]},
    {"polygon_id": "NODATA_MIX", "lats": [-0.5, 2.5, 2.5, -0.5],
     "lons": [-0.5, -0.5, 2.5, 2.5]},
]


def _zonal_raster_paths() -> list[str]:
    import glob as _glob

    from opentopodata_spark import fixtures

    raster_dir = os.path.join(_fixture_root(), "rasters")
    fixtures.make_all_rasters(raster_dir)
    paths = sorted(
        _glob.glob(os.path.join(raster_dir, "test-srtm90m-subset", "*.tif"))
    )
    paths.append(os.path.join(raster_dir, "test-nodata", "nodata.geotiff"))
    return paths


def q_zonal_stats(spark, sf_dir):
    """Raster<->vector zonal statistics: per-polygon count/nodata/min/max/
    sum/mean over raster pixel centers. Bounded (polygon x row-strip) work
    units -> executor-side windowed reads + vectorized ray-cast mask ->
    map-side partial aggregates -> tiny final groupBy. The DuckDB oracle
    aggregates a precomputed pixel table with its OWN SQL ray-cast —
    independent mask + aggregation paths (int16 values: sums exact)."""
    from opentopodata_spark.operators import zonal

    _ship_package(spark)
    meta = zonal.raster_metadata(spark, _zonal_raster_paths())
    out = zonal.zonal_stats(meta, _ZONAL_POLYGONS, strip_rows=256)
    return out.select(
        "polygon_id", "n_px", "n_nodata", "n_valid",
        "vmin", "vmax", "vsum", "vmean",
    )


def q_zonal_majority(spark, sf_dir):
    """Categorical zonal statistic (operators/zonal.zonal_majority):
    per-polygon dominant value over the same fixture rasters/polygons
    as zonal_stats — partials carry one row per distinct class per
    strip (never pixels), the winner picked by one max(struct(count,
    -value)) aggregate (highest count, smallest value on ties — no
    window). Oracle: DuckDB's own ray-cast over the shared pixel table
    + ORDER BY cnt DESC, value ASC LIMIT 1 per polygon."""
    from opentopodata_spark.operators import zonal

    _ship_package(spark)
    meta = zonal.raster_metadata(spark, _zonal_raster_paths())
    return zonal.zonal_majority(meta, _ZONAL_POLYGONS, strip_rows=256)


def _zonal_majority_sql() -> str:
    path = _oracle_parquet("zonal_pixels", _build_zonal_pixels)
    parts = []
    for poly in _ZONAL_POLYGONS:
        pid = poly["polygon_id"]
        la, lo = poly["lats"], poly["lons"]
        edge_rows = []
        for k in range(len(la)):
            y1, x1 = la[k], lo[k]
            y2, x2 = la[(k + 1) % len(la)], lo[(k + 1) % len(la)]
            if y1 == y2:
                continue
            edge_rows.append(f"({y1!r}, {x1!r}, {y2!r}, {x2!r})")
        edges = ", ".join(edge_rows)
        parts.append(f"""
SELECT '{pid}' AS polygon_id,
       (SELECT value FROM counts ORDER BY cnt DESC, value ASC LIMIT 1)
         AS majority_value,
       (SELECT cnt FROM counts ORDER BY cnt DESC, value ASC LIMIT 1)
         AS majority_count,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM counts)
         AS n_distinct_values
FROM (SELECT 1) one
WHERE EXISTS (SELECT 1 FROM counts)""".replace(
            "counts",
            f"""(
  SELECT value, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
    SELECT p.pixel_id, p.value
    FROM read_parquet('{path}') p
    CROSS JOIN (VALUES {edges}) AS e(y1, x1, y2, x2)
    WHERE NOT p.is_nodata
      AND p.lat BETWEEN {min(la)!r} AND {max(la)!r}
      AND p.lon BETWEEN {min(lo)!r} AND {max(lo)!r}
    GROUP BY p.pixel_id, p.value
    HAVING SUM(CASE WHEN ((e.y1 > p.lat) <> (e.y2 > p.lat))
                     AND (p.lon < (e.x2 - e.x1) * (p.lat - e.y1)
                                  / (e.y2 - e.y1) + e.x1)
                    THEN 1 ELSE 0 END) % 2 = 1
  ) GROUP BY value)""",
        ))
    return "\nUNION ALL\n".join(parts)


def q_rasterize_grid(spark, sf_dir):
    """Vector->raster: point stream aggregated onto a 1-degree global
    grid — cell floor keys in pure column exprs, ONE wide shuffle with
    map-side combine (shuffle volume = occupied cells, not points).
    Fully SQL-expressible: the oracle recomputes the same floor keys and
    aggregates in DuckDB (integer values: exact)."""
    from opentopodata_spark.operators import rasterize as rz

    grid = rz.GridSpec(x0=-180.0, y0=90.0, sx=1.0, sy=1.0,
                       width=360, height=180)
    p = _points(spark, sf_dir).withColumn("val", F.col("pid") % 997)
    out = rz.rasterize_points(p, grid, value_col="val")
    return out.select("row", "col", "n_points", "vsum", "vmin", "vmax", "vmean")


_Q_RASTERIZE_SQL = f"""
WITH pts AS ({_POINTS_SQL}),
cells AS (
  SELECT CAST(FLOOR((90.0 - lat) / 1.0) AS BIGINT) AS row,
         CAST(FLOOR((lon - -180.0) / 1.0) AS BIGINT) AS col,
         pid % 997 AS val
  FROM pts)
SELECT row, col,
       COUNT(*) AS n_points,
       CAST(SUM(val) AS BIGINT) AS vsum,
       MIN(val) AS vmin,
       MAX(val) AS vmax,
       ROUND(CAST(SUM(val) AS DOUBLE) / COUNT(*), 6) AS vmean
FROM cells
WHERE row >= 0 AND row < 180 AND col >= 0 AND col < 360
GROUP BY row, col
"""


_POLYGONIZE_BANDS = [float(b) for b in range(-700, 800, 200)]


def _polygonize_tile_rows() -> list[tuple[int, int, str]]:
    """Deterministic 3x2 banded-terrain mosaic for the polygonize
    contract: sin/cos hills + seeded noise + a NODATA lake, quantized
    to 8 bands -> hundreds of regions, many crossing tile seams (the
    smooth SRTM fixture quantizes into only ~5 giant regions — weak
    evidence for the seam-merge path)."""
    import numpy as np

    from opentopodata_spark import geotiff

    out_dir = os.path.join(_fixture_root(), "polygonize_mosaic")
    os.makedirs(out_dir, exist_ok=True)
    th, tw, n_ty, n_tx = 400, 400, 2, 3
    H, W = n_ty * th, n_tx * tw
    rng = np.random.default_rng(47)
    z = (
        400 * np.sin(np.linspace(0, 9, W))[None, :]
        + 300 * np.cos(np.linspace(0, 7, H))[:, None]
        + rng.normal(0, 25, (H, W))
    )
    z[300:500, 500:760] = np.nan  # nodata lake straddling two seams
    rows = []
    for iy in range(n_ty):
        for ix in range(n_tx):
            p = os.path.join(out_dir, f"poly_{iy}_{ix}.tif")
            if not os.path.exists(p):
                sub = z[iy * th:(iy + 1) * th, ix * tw:(ix + 1) * tw]
                geotiff.write_geotiff(
                    p, np.where(np.isnan(sub), -32768.0, sub)
                    .astype(np.float32),
                    x0=ix * tw * 0.001, y0=50.0 - iy * th * 0.001,
                    sx=0.001, sy=0.001, epsg=4326, nodata=-32768,
                )
            rows.append((iy, ix, p))
    return rows


def q_raster_polygonize(spark, sf_dir):
    """Distributed region labeling (gdal_polygonize core): connected
    components of equal-elevation-band cells across a tiled mosaic.
    Spark plan: per-tile run-length union-find (mapInPandas, interior
    cells never leave the task) -> one groupBy over the O(perimeter)
    seam-pair rows -> alternating-star CC over the region graph.
    Oracle: the single-process run-batched min-propagation twin
    (different algorithm). Reference note: the reference delegates
    vectorization to GDAL (gdal_polygonize in its dataset prep docs);
    this is the beyond-reference distributed equivalent."""
    from opentopodata_spark.operators import polygonize

    _ship_package(spark)
    return polygonize.label_regions(
        spark, _polygonize_tile_rows(), bands=_POLYGONIZE_BANDS
    )


def _build_raster_polygonize_oracle(sf_dir: str):
    import pyarrow as pa

    from opentopodata_spark.operators import polygonize

    rows = polygonize.label_regions_sequential(
        _polygonize_tile_rows(), bands=_POLYGONIZE_BANDS
    )
    return pa.table({
        "region_id": pa.array([r[0] for r in rows], type=pa.int64()),
        "value": pa.array([r[1] for r in rows], type=pa.int64()),
        "n_cells": pa.array([r[2] for r in rows], type=pa.int64()),
        "n_tiles": pa.array([r[3] for r in rows], type=pa.int64()),
    })


_BURN_KW = dict(mode="paint", all_touched=True, tile_px=128)


def _burn_fixture():
    """Deterministic feature soup for the gdal_rasterize contract: 600
    star-convex polygons (half with a hole) over a 384x256-node
    0.01-degree grid (2x3 tiles of 128px) — overlaps exercise paint
    order, holes the even-odd rule, all_touched the closed-square edge
    test, and the soup crosses every tile seam."""
    import numpy as np

    from opentopodata_spark.operators.rasterize import GridSpec

    rng = np.random.default_rng(41)
    grid = GridSpec(x0=5.0, y0=47.0, sx=0.01, sy=0.01,
                    width=384, height=256)
    feats = []
    for _i in range(600):
        cy = rng.uniform(44.4, 47.0)
        cx = rng.uniform(5.05, 8.8)
        nv = int(rng.integers(3, 9))
        ang = np.sort(rng.uniform(0, 2 * np.pi, nv))
        rad = rng.uniform(0.02, 0.2, nv)
        rings = [{
            "lats": (cy + rad * np.sin(ang)).tolist(),
            "lons": (cx + rad * np.cos(ang)).tolist(),
        }]
        if rng.random() < 0.5:
            hr = float(rad.min()) * rng.uniform(0.2, 0.6)
            ha = np.sort(rng.uniform(0, 2 * np.pi, 4))
            rings.append({
                "lats": (cy + hr * np.sin(ha)).tolist(),
                "lons": (cx + hr * np.cos(ha)).tolist(),
            })
        feats.append({"rings": rings,
                      "burn": float(np.round(rng.uniform(1, 99), 2))})
    return feats, grid


def q_polygon_burn(spark, sf_dir):
    """Distributed gdal_rasterize: 600 overlapping holed polygons
    painted in global feature order (all_touched) onto a 384x256 grid
    of 2x3 GeoTIFF tiles. Features explode to the tiles their bbox can
    touch (narrow exprs), ONE groupBy(tile) shuffle, per-tile paint
    with pinned IEEE center/edge predicates — the sequential twin
    paints the whole unstitched grid per-pixel with the same
    expressions and must reproduce every float32 cell."""
    from opentopodata_spark.operators import rasterize as rz

    _ship_package(spark)
    feats, grid = _burn_fixture()
    out_dir = os.path.join(_fixture_root(), "burn_out")
    m = rz.burn_features(
        spark, rz.features_to_df(spark, feats), grid, out_dir,
        **_BURN_KW,
    )
    return m.select("tile_iy", "tile_ix", "n_burned", "checksum")


def _build_polygon_burn_oracle(sf_dir: str):
    import pyarrow as pa

    from opentopodata_spark.operators import rasterize as rz

    feats, grid = _burn_fixture()
    rows = rz.burn_sequential(feats, grid, **_BURN_KW)
    return pa.table({
        "tile_iy": pa.array([r[0] for r in rows], type=pa.int64()),
        "tile_ix": pa.array([r[1] for r in rows], type=pa.int64()),
        "n_burned": pa.array([r[2] for r in rows], type=pa.int64()),
        "checksum": pa.array([r[3] for r in rows], type=pa.float64()),
    })


def _polyvec_tile_rows() -> list[tuple[int, int, str]]:
    """Deterministic 2x3 mosaic for the vector-polygonize contract:
    smooth banded terrain (low noise -> a few hundred regions, many
    crossing seams) + a NODATA lake, so ring assembly cost stays
    bounded while every seam path is exercised."""
    import numpy as np

    from opentopodata_spark import geotiff

    out_dir = os.path.join(_fixture_root(), "polyvec_mosaic")
    os.makedirs(out_dir, exist_ok=True)
    th, tw, n_ty, n_tx = 200, 200, 2, 3
    H, W = n_ty * th, n_tx * tw
    rng = np.random.default_rng(97)
    z = (
        400 * np.sin(np.linspace(0, 9, W))[None, :]
        + 300 * np.cos(np.linspace(0, 7, H))[:, None]
        + rng.normal(0, 6, (H, W))
    )
    z[150:240, 330:430] = np.nan
    rows = []
    for iy in range(n_ty):
        for ix in range(n_tx):
            p = os.path.join(out_dir, f"pv_{iy}_{ix}.tif")
            if not os.path.exists(p):
                sub = z[iy * th:(iy + 1) * th, ix * tw:(ix + 1) * tw]
                geotiff.write_geotiff(
                    p, np.where(np.isnan(sub), -32768.0, sub)
                    .astype(np.float32),
                    x0=ix * tw * 0.001, y0=20.0 - iy * th * 0.001,
                    sx=0.001, sy=0.001, epsg=4326, nodata=-32768,
                )
            rows.append((iy, ix, p))
    return rows


def q_region_polygons(spark, sf_dir):
    """Vector polygonize: region boundary rings assembled from
    O(perimeter) directed segments (interior cells never leave their
    task) with the shoelace == n_cells identity ASSERTED per region
    inside the job. Oracle: the checkable columns (n_cells + boundary
    edge counts) vs an array-shift sequential twin that never builds
    segments or walks rings."""
    from opentopodata_spark.operators import polyvec

    _ship_package(spark)
    df = polyvec.region_polygons(
        spark, _polyvec_tile_rows(), bands=_POLYGONIZE_BANDS
    )
    return df.select("region_id", "value", "n_cells", "perim_edges")


def _build_region_polygons_oracle(sf_dir: str):
    import pyarrow as pa

    from opentopodata_spark.operators import polyvec

    rows = polyvec.region_boundary_stats_sequential(
        _polyvec_tile_rows(), bands=_POLYGONIZE_BANDS
    )
    return pa.table({
        "region_id": pa.array([r[0] for r in rows], type=pa.int64()),
        "value": pa.array([r[1] for r in rows], type=pa.int64()),
        "n_cells": pa.array([r[2] for r in rows], type=pa.int64()),
        "perim_edges": pa.array([r[3] for r in rows], type=pa.int64()),
    })


def _build_zonal_pixels(sf_dir: str):
    """Pixel table (pixel_id, lat, lon, value, is_nodata) for the zonal
    fixture rasters — decoded single-process; the SQL side does the
    polygon mask and aggregation itself."""
    import numpy as np
    import pyarrow as pa

    from opentopodata_spark import geotiff

    ids, lats, lons, vals, nod = [], [], [], [], []
    base = 0
    for path in _zonal_raster_paths():
        r = geotiff.open_raster(path)
        win, _ = r.read_window(0, r.height, 0, r.width)
        h, w = win.shape
        xs = r.x0 + (np.arange(w) + 0.5) * r.sx
        ys = r.y0 - (np.arange(h) + 0.5) * r.sy
        lons.append(np.broadcast_to(xs, (h, w)).ravel())
        lats.append(np.broadcast_to(ys[:, None], (h, w)).ravel())
        # float64 nodata semantics, same as the operator (_nodata_mask)
        from opentopodata_spark.operators.zonal import _nodata_mask

        v64 = np.asarray(win.ravel(), dtype=np.float64)
        vals.append(v64)
        nod.append(_nodata_mask(v64, r.nodata))
        ids.append(np.arange(base, base + v64.size, dtype=np.int64))
        base += v64.size
    return pa.table(
        {
            "pixel_id": pa.array(np.concatenate(ids)),
            "lat": pa.array(np.concatenate(lats)),
            "lon": pa.array(np.concatenate(lons)),
            "value": pa.array(np.concatenate(vals)),
            "is_nodata": pa.array(np.concatenate(nod)),
        }
    )


def _zonal_sql() -> str:
    path = _oracle_parquet("zonal_pixels", _build_zonal_pixels)
    parts = []
    for poly in _ZONAL_POLYGONS:
        pid = poly["polygon_id"]
        la, lo = poly["lats"], poly["lons"]
        edge_rows = []
        for k in range(len(la)):
            y1, x1 = la[k], lo[k]
            y2, x2 = la[(k + 1) % len(la)], lo[(k + 1) % len(la)]
            if y1 == y2:
                continue
            edge_rows.append(f"({y1!r}, {x1!r}, {y2!r}, {x2!r})")
        edges = ", ".join(edge_rows)
        # the closed-bbox prefilter is exact: the even-odd crossing test
        # can only pass strictly inside the vertex extent
        parts.append(f"""
SELECT '{pid}' AS polygon_id,
       COUNT(*) AS n_px,
       COUNT(*) FILTER (WHERE is_nodata) AS n_nodata,
       COUNT(*) FILTER (WHERE NOT is_nodata) AS n_valid,
       MIN(value) FILTER (WHERE NOT is_nodata) AS vmin,
       MAX(value) FILTER (WHERE NOT is_nodata) AS vmax,
       SUM(value) FILTER (WHERE NOT is_nodata) AS vsum,
       ROUND(SUM(value) FILTER (WHERE NOT is_nodata)
             / COUNT(*) FILTER (WHERE NOT is_nodata), 6) AS vmean
FROM (
  SELECT p.pixel_id, p.value, p.is_nodata
  FROM read_parquet('{path}') p
  CROSS JOIN (VALUES {edges}) AS e(y1, x1, y2, x2)
  WHERE p.lat BETWEEN {min(la)!r} AND {max(la)!r}
    AND p.lon BETWEEN {min(lo)!r} AND {max(lo)!r}
  GROUP BY p.pixel_id, p.value, p.is_nodata
  HAVING SUM(CASE WHEN ((e.y1 > p.lat) <> (e.y2 > p.lat))
                   AND (p.lon < (e.x2 - e.x1) * (p.lat - e.y1)
                                / (e.y2 - e.y1) + e.x1)
                  THEN 1 ELSE 0 END) % 2 = 1
)
HAVING COUNT(*) > 0""")
    return "\nUNION ALL\n".join(parts)


# ---------------------------------------------------------------------------
# precomputed single-process oracles for the non-SQL-expressible queries
#
# DuckDB cannot compute rasters / Karney geodesics / S2 Hilbert ids,
# so for these the oracle is the repo's own SINGLE-PROCESS reference
# implementation (numpy, no Spark): a query's expected output is
# recomputed fresh into a parquet when its oracle SQL is first read, and
# that SQL just reads the file.
# This upgrades the former rows-only checks to full rows+schema+hash checks
# of the distributed plumbing (extraction positions, shuffles, joins,
# carry-through) against an independent execution path. The scalar kernels
# themselves are pinned elsewhere (geodesic/S2/interpolation golden +
# canonical-id parity tests in tests/).
# ---------------------------------------------------------------------------

_ORACLE_SF_DIR_ENV = "OTDS_ORACLE_SF_DIR"
_ORACLE_BUILT: dict[str, str] = {}


def _oracle_sf_dir() -> str:
    return os.environ.get(_ORACLE_SF_DIR_ENV, "/root/testdata/sf0.01")


def _read_pq(sf_dir: str, name: str):
    import pyarrow.parquet as pq

    return pq.read_table(os.path.join(sf_dir, f"{name}.parquet"))


def _oracle_parquet(name: str, builder) -> str:
    """Recompute the expected output (pyarrow table) and write it under the
    fixture root; cached per-process only (always rebuilt per run so code
    edits can never be compared against stale expectations)."""
    if name in _ORACLE_BUILT:
        return _ORACLE_BUILT[name]
    import pyarrow.parquet as pq

    root = _fixture_root()
    os.makedirs(root, exist_ok=True)
    out = os.path.join(root, f"oracle_{name}.parquet")
    table = builder(_oracle_sf_dir())
    tmp = out + f".tmp{os.getpid()}"
    pq.write_table(table, tmp)
    os.replace(tmp, out)
    _ORACLE_BUILT[name] = out
    return out


def _build_s2_oracle(sf_dir: str):
    import numpy as np
    import pyarrow as pa

    from opentopodata_spark import s2

    k = _read_pq(sf_dir, "customer").column("c_custkey").to_numpy()
    lat = (k % 1700) / 10.0 - 85.0 + 0.05
    lon = (k % 3500) / 10.0 - 175.0 + 0.05
    cells = s2.cell_ids(lat, lon, level=8).view(np.int64)
    return pa.table({"pid": pa.array(k), "s2_cell": pa.array(cells)})


def _build_geodesic_oracle(sf_dir: str):
    import numpy as np
    import pyarrow as pa

    from opentopodata_spark import geodesic

    nk = _read_pq(sf_dir, "nation").column("n_nationkey").to_numpy()
    ids, pos, las, los = [], [], [], []
    for key in nk:
        lat = float((int(key) * 7) % 180 - 90 + 0.5)
        lon = float((int(key) * 13) % 360 - 180 + 0.5)
        plats = np.array([lat, min(lat + 10.0, 89.0)])
        plons = np.array([lon, min(lon + 10.0, 179.0)])
        s_lats, s_lons = geodesic.sample_points_on_path(plats, plons, 5)
        ids.extend([int(key)] * 5)
        pos.extend(range(5))
        las.extend(float(v) for v in s_lats)
        los.extend(float(v) for v in s_lons)
    return pa.table(
        {
            "path_id": pa.array(ids, type=pa.int64()),
            "sample_pos": pa.array(pos, type=pa.int32()),
            "lat": pa.array(las, type=pa.float64()),
            "lon": pa.array(los, type=pa.float64()),
        }
    )


def _build_profile_oracle(sf_dir: str):
    """Single-process twin of q_elevation_profile: same waypoint grid,
    same Karney sampler (incl. the distance linspace), same raster
    interpolation via oracle.get_elevation, and a sequential left-fold
    for gain/loss that matches the Spark F.aggregate order bit-exact."""
    import numpy as np
    import pyarrow as pa

    from opentopodata_spark import config, geodesic, oracle

    cfg_path, _ = _prepare_elevation_inputs(n_docs=1)
    dsets = config.load_datasets(cfg_path)
    ordered = config.resolve_dataset_names("multi_eudem_etopo1", dsets)
    nk = _read_pq(sf_dir, "nation").column("n_nationkey").to_pylist()
    cols = {k: [] for k in (
        "path_id", "n_valid", "total_distance_m", "elev_min", "elev_max",
        "elev_gain", "elev_loss",
    )}
    for key in sorted(int(k) for k in nk):
        if key % 5 == 0:
            plats = [0.2, 0.5 + float(key) / 100.0, 0.9]
            plons = [10.2, 11.0, 11.8]
        else:
            lat0 = float((key * 7) % 140) - 69.75
            lon0 = float((key * 13) % 320) - 159.75
            plats = [lat0, lat0 + 4.0, lat0 + 8.0]
            plons = [lon0, lon0 + 6.0, lon0 + 3.0]
        s_lats, s_lons, s_dist = geodesic.sample_points_with_distance(
            np.asarray(plats), np.asarray(plons), _PROFILE_N_SAMPLES
        )
        elevs, _names = oracle.get_elevation(s_lats, s_lons, ordered, "bilinear")
        prev, gain, loss = None, 0.0, 0.0
        valid = [float(e) for e in elevs if e is not None]
        for e in elevs:
            if e is None:
                continue
            e = float(e)
            if prev is not None:
                if e > prev:
                    gain = gain + (e - prev)
                else:
                    gain = gain + 0.0
                if e < prev:
                    loss = loss + (prev - e)
                else:
                    loss = loss + 0.0
            prev = e
        cols["path_id"].append(key)
        cols["n_valid"].append(len(valid))
        cols["total_distance_m"].append(float(np.max(s_dist)))
        cols["elev_min"].append(min(valid) if valid else None)
        cols["elev_max"].append(max(valid) if valid else None)
        cols["elev_gain"].append(gain)
        cols["elev_loss"].append(loss)
    return pa.table(
        {
            "path_id": pa.array(cols["path_id"], type=pa.int64()),
            "n_valid": pa.array(cols["n_valid"], type=pa.int64()),
            "total_distance_m": pa.array(
                cols["total_distance_m"], type=pa.float64()
            ),
            "elev_min": pa.array(cols["elev_min"], type=pa.float64()),
            "elev_max": pa.array(cols["elev_max"], type=pa.float64()),
            "elev_gain": pa.array(cols["elev_gain"], type=pa.float64()),
            "elev_loss": pa.array(cols["elev_loss"], type=pa.float64()),
        }
    )


def _extract_points_single(docs_table):
    """Single-process mirror of operators/extract.extract_points (same
    grammar: ',' dispatch, pair regex, range validation, polyline decode)."""
    import re

    from opentopodata_spark import polyline_codec

    # re.ASCII: Spark's Java regex and RE2 match only ASCII digits
    pair_re = re.compile(_PAIR_REGEX, re.ASCII)
    poly_re = re.compile(r"^(enc:)?[\?-~]+$")
    rows = []
    doc_ids = docs_table.column("doc_id").to_pylist()
    spans_col = docs_table.column("spans").to_pylist()
    for doc_id, spans in zip(doc_ids, spans_col):
        if not spans:
            continue
        for span_pos, span in enumerate(spans):
            if span is None or span["kind"] != "text" or span["text"] is None:
                continue
            text = span["text"]
            if "," in text:
                pts = []
                for m in pair_re.finditer(text):
                    la, lo = float(m.group(1)), float(m.group(2))
                    ok = -90.0 <= la <= 90.0 and -180.0 <= lo <= 180.0
                    pts.append(
                        (la, lo, None) if ok else (None, None, m.group(0))
                    )
            elif poly_re.match(text):
                s = text[4:] if text.startswith("enc:") else text
                try:
                    dec = polyline_codec.decode(s)
                except Exception:
                    continue
                if not dec or not all(
                    -90.0 <= a <= 90.0 and -180.0 <= b <= 180.0 for a, b in dec
                ):
                    continue
                pts = [(float(a), float(b), None) for a, b in dec]
            else:
                continue
            for point_pos, (la, lo, err) in enumerate(pts):
                rows.append((doc_id, span_pos, point_pos, la, lo, err))
    return rows


def _build_elevation_oracle(sf_dir: str):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from opentopodata_spark import config, oracle

    cfg_path, docs_path = _prepare_elevation_inputs(n_docs=1000)
    docs = pq.read_table(docs_path)
    pts = [r for r in _extract_points_single(docs) if r[5] is None]
    dsets = config.load_datasets(cfg_path)
    ordered = config.resolve_dataset_names("multi_eudem_etopo1", dsets)
    lats = [r[3] for r in pts]
    lons = [r[4] for r in pts]
    elev, names = oracle.get_elevation(lats, lons, ordered, "bilinear")
    return pa.table(
        {
            "doc_id": pa.array([r[0] for r in pts], type=pa.string()),
            "span_pos": pa.array([r[1] for r in pts], type=pa.int32()),
            "point_pos": pa.array([r[2] for r in pts], type=pa.int32()),
            "lat": pa.array(lats, type=pa.float64()),
            "lon": pa.array(lons, type=pa.float64()),
            "elevation": pa.array(
                [None if v is None else float(v) for v in elev],
                type=pa.float64(),
            ),
            "dataset": pa.array(names, type=pa.string()),
        }
    )


_FORMAT_FMTS = ("tif", "asc", "bil", "vrt")


def _formats_fixture_dir() -> str:
    """Deterministic two-tile terrain written in EVERY supported raster
    format (one subdir per format, same values), for the cross-format
    and remote-IO contract queries. The directory is named by a hash of
    _FORMAT_FMTS and of the writing modules' bytes, so another format
    list or another writer gets a fresh directory; within one, a
    .complete marker makes it idempotent."""
    import hashlib

    import numpy as np

    from opentopodata_spark import fixtures, geotiff
    from opentopodata_spark import gridformats as gf

    key = hashlib.sha256(repr(_FORMAT_FMTS).encode())
    for mod in (fixtures, geotiff, gf):
        key.update(mod.__loader__.get_data(mod.__file__))
    root = os.path.join(_fixture_root(), f"formats_{key.hexdigest()[:16]}")
    marker = os.path.join(root, ".complete")
    if os.path.exists(marker):
        return root
    wgs84_wkt = (
        'GEOGCS["WGS 84",DATUM["WGS_1984",SPHEROID["WGS 84",6378137,'
        '298.257223563]],PRIMEM["Greenwich",0],'
        'UNIT["degree",0.0174532925199433],AUTHORITY["EPSG","4326"]]'
    )
    side = 64
    res = 1.0 / side
    tiles = {}
    for lon0, stem in ((10.0, "N00E010"), (11.0, "N00E011")):
        lons = lon0 + (np.arange(side) + 0.5) * res
        lats = 1.0 - (np.arange(side) + 0.5) * res
        tiles[stem] = (lon0, np.round(
            fixtures.terrain_wgs84(lats[:, None], lons[None, :])
        ).astype(np.int16))
    for fmt in _FORMAT_FMTS:
        d = os.path.join(root, f"fmt_{fmt}")
        os.makedirs(d, exist_ok=True)
        for stem, (lon0, grid) in tiles.items():
            p = os.path.join(d, f"{stem}.{fmt}")
            if fmt == "tif":
                geotiff.write_geotiff(p, grid, x0=lon0, y0=1.0, sx=res,
                                      sy=res, epsg=4326, nodata=-32768)
            elif fmt == "asc":
                gf.write_ascii_grid(p, grid, x0=lon0, y0=1.0, sx=res,
                                    nodata=-32768, wkt=wgs84_wkt)
            elif fmt == "bil":
                gf.write_bil(p, grid, x0=lon0, y0=1.0, sx=res,
                             nodata=-32768, wkt=wgs84_wkt)
        if fmt == "vrt":
            body = []
            for i, stem in enumerate(sorted(tiles)):
                body.append(
                    f'<SimpleSource><SourceFilename relativeToVRT="1">'
                    f"../fmt_tif/{stem}.tif</SourceFilename>"
                    "<SourceBand>1</SourceBand>"
                    f'<SrcRect xOff="0" yOff="0" xSize="{side}"'
                    f' ySize="{side}"/>'
                    f'<DstRect xOff="{i * side}" yOff="0" xSize="{side}"'
                    f' ySize="{side}"/></SimpleSource>'
                )
            with open(os.path.join(d, "mosaic.vrt"), "w") as f:
                f.write(
                    f'<VRTDataset rasterXSize="{2 * side}" '
                    f'rasterYSize="{side}"><SRS>EPSG:4326</SRS>'
                    f"<GeoTransform>10.0, {res}, 0, 1.0, 0, {-res}"
                    "</GeoTransform>"
                    '<VRTRasterBand dataType="Int16" band="1">'
                    "<NoDataValue>-32768</NoDataValue>"
                    + "".join(body) + "</VRTRasterBand></VRTDataset>"
                )
    with open(marker, "w") as f:
        f.write("ok")
    return root


def _format_point_set():
    ids = list(range(60))
    lats = [0.03 + (i * 0.0157) % 0.94 for i in ids]
    lons = [10.03 + (i * 0.0311) % 1.94 for i in ids]
    return ids, lats, lons


def _format_dataset(fmt: str):
    from opentopodata_spark import config

    root = _formats_fixture_dir()
    d = os.path.join(root, f"fmt_{fmt}")
    if fmt == "vrt":
        return config.dataset_from_config(f"fmt_{fmt}", path=d)
    return config.dataset_from_config(f"fmt_{fmt}", path=d,
                                      filename_tile_size=1)


def q_raster_formats(spark, sf_dir):
    """Cross-format differential as a CONTRACT query: the same two-tile
    terrain written as GeoTIFF / Esri ASCII / BIL / VRT mosaic, resolved
    through the distributed pipeline: the four raster formats the
    engine reads. Every format must produce the same elevations as its
    single-process sequential twin; the same-geometry integer formats
    (tif/asc/bil) must also agree with each other bit-for-bit (asserted
    inside the oracle build). The VRT is ONE mosaic (seam points see
    true cross-tile neighbors, not tile-edge clamps), so it verifies
    against its own sequential twin only."""
    from opentopodata_spark.operators import elevation

    _ship_package(spark)
    ids, lats, lons = _format_point_set()
    pts = spark.createDataFrame(
        [(int(i), float(la), float(lo))
         for i, la, lo in zip(ids, lats, lons)],
        "point_id long, lat double, lon double",
    )
    out = None
    for fmt in _FORMAT_FMTS:
        ds = _format_dataset(fmt)
        res = (
            elevation.ElevationResolver(spark, [ds], "bilinear")
            .resolve(pts)
            .select(F.lit(fmt).alias("fmt"), "point_id", "elevation")
        )
        out = res if out is None else out.unionByName(res)
    return out


def _build_raster_formats_oracle(sf_dir: str):
    import pyarrow as pa

    from opentopodata_spark import oracle

    ids, lats, lons = _format_point_set()
    fmts, pids, els = [], [], []
    base = None
    for fmt in _FORMAT_FMTS:
        elev, _names = oracle.get_elevation(
            lats, lons, [_format_dataset(fmt)], "bilinear")
        if fmt == "tif":
            base = elev
        elif fmt in ("asc", "bil"):
            # same-geometry integer formats must agree with the GeoTIFF
            # exactly — a failed assert fails the oracle build loudly.
            # (vrt is ONE mosaic, so seam points interpolate true
            # cross-tile neighbors instead of tile-edge clamps)
            assert elev == base, f"{fmt} oracle diverges from tif"
        fmts.extend([fmt] * len(ids))
        pids.extend(ids)
        els.extend(None if v is None else float(v) for v in elev)
    return pa.table({
        "fmt": pa.array(fmts, type=pa.string()),
        "point_id": pa.array(pids, type=pa.int64()),
        "elevation": pa.array(els, type=pa.float64()),
    })


_FORMATS_SERVER: dict = {"base": None}


def _formats_http_base() -> str:
    """Singleton in-process HTTP server with Range support over the
    formats fixture dir (daemon thread, lives for the process) — the
    remote-elevation contract query's object store stand-in."""
    if _FORMATS_SERVER["base"] is not None:
        return _FORMATS_SERVER["base"]
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    root = _formats_fixture_dir()

    class H(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"

        def _target(self):
            p = self.path.split("?", 1)[0].lstrip("/")
            full = os.path.join(root, *p.split("/"))
            return full if os.path.isfile(full) else None

        def do_HEAD(self):
            full = self._target()
            if full is None:
                self.send_error(404)
                return
            self.send_response(200)
            self.send_header("Content-Length",
                             str(os.path.getsize(full)))
            self.send_header("Accept-Ranges", "bytes")
            self.end_headers()

        def do_GET(self):
            full = self._target()
            if full is None:
                self.send_error(404)
                return
            size = os.path.getsize(full)
            rng = self.headers.get("Range")
            with open(full, "rb") as f:
                if rng:
                    spec = rng.split("=", 1)[1]
                    lo_s, hi_s = spec.split("-", 1)
                    lo = int(lo_s)
                    hi = min(int(hi_s) if hi_s else size - 1, size - 1)
                    f.seek(lo)
                    body = f.read(hi - lo + 1)
                    self.send_response(206)
                    self.send_header("Content-Range",
                                     f"bytes {lo}-{hi}/{size}")
                else:
                    body = f.read()
                    self.send_response(200)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

        def log_message(self, *a):
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    _FORMATS_SERVER["base"] = f"http://127.0.0.1:{srv.server_address[1]}"
    return _FORMATS_SERVER["base"]


def q_remote_elevation(spark, sf_dir):
    """Remote raster IO as a CONTRACT query: the GeoTIFF tiles served
    over HTTP (byte-range reads on the executors, per-worker chunk
    caches) must resolve bit-identically to the local files. Oracle:
    the single-process sampler over the LOCAL tiles."""
    from opentopodata_spark import config
    from opentopodata_spark.operators import elevation

    _ship_package(spark)
    base = _formats_http_base()
    ds = config.dataset_from_config(
        "remote_srtm", path=f"{base}/fmt_tif/",
        tiles=["N00E010.tif", "N00E011.tif"], filename_tile_size=1,
    )
    ids, lats, lons = _format_point_set()
    pts = spark.createDataFrame(
        [(int(i), float(la), float(lo))
         for i, la, lo in zip(ids, lats, lons)],
        "point_id long, lat double, lon double",
    )
    return (
        elevation.ElevationResolver(spark, [ds], "bilinear")
        .resolve(pts)
        .select("point_id", "lat", "lon", "elevation")
    )


def _build_remote_elevation_oracle(sf_dir: str):
    import pyarrow as pa

    from opentopodata_spark import oracle

    ids, lats, lons = _format_point_set()
    elev, _names = oracle.get_elevation(
        lats, lons, [_format_dataset("tif")], "bilinear")
    return pa.table({
        "point_id": pa.array(ids, type=pa.int64()),
        "lat": pa.array([float(v) for v in lats], type=pa.float64()),
        "lon": pa.array([float(v) for v in lons], type=pa.float64()),
        "elevation": pa.array(
            [None if v is None else float(v) for v in elev],
            type=pa.float64()),
    })


_PROJ4_CRS = "+proj=utm +zone=33 +datum=WGS84 +units=m +no_defs"


def _proj4_fixture_dir() -> str:
    """One UTM-33N tile whose CRS is carried as a PROJ.4 string — the
    reference's third CRS spelling (pyproj.CRS.from_user_input)."""
    import numpy as np

    from opentopodata_spark import crs as _crs
    from opentopodata_spark import geotiff

    root = os.path.join(_fixture_root(), "proj4_r4")
    marker = os.path.join(root, ".complete")
    if os.path.exists(marker):
        return root
    os.makedirs(root, exist_ok=True)
    cx, cy = _crs.reproject_latlons([47.5], [15.0], epsg=32633)
    px = 500.0
    x0 = float(cx[0]) - 60 * px
    y0 = float(cy[0]) + 60 * px
    xs = x0 + (np.arange(120) + 0.5) * px
    ys = y0 - (np.arange(120) + 0.5) * px
    X, Y = np.meshgrid(xs, ys)
    grid = (900.0 + 300.0 * np.sin(X / 1.1e4)
            + 250.0 * np.cos(Y / 0.9e4)).astype(np.float32)
    geotiff.write_geotiff(os.path.join(root, "utm33.tif"), grid, x0=x0,
                          y0=y0, sx=px, sy=px, epsg=None, wkt=_PROJ4_CRS,
                          nodata=-9999)
    with open(marker, "w") as f:
        f.write("ok")
    return root


def _proj4_point_set():
    ids = list(range(60))
    lats = [47.22 + (i * 0.0113) % 0.55 for i in ids]
    lons = [14.62 + (i * 0.0149) % 0.75 for i in ids]
    # a few out-of-coverage points exercise the null path
    lats[-3:] = [10.0, -45.0, 61.5]
    lons[-3:] = [100.0, -60.0, 5.2]
    return ids, lats, lons


def _proj4_dataset():
    from opentopodata_spark import config

    return config.dataset_from_config(
        "proj4_utm", path=_proj4_fixture_dir() + "/")


def q_proj4_elevation(spark, sf_dir):
    """PROJ.4-CRS raster as a CONTRACT query: a UTM tile whose CRS
    rides as a '+proj=...' string must resolve through the distributed
    pipeline exactly like the single-process sampler (and, per
    tests/test_crs_inverse.py, exactly like its EPSG:32633 twin)."""
    from opentopodata_spark.operators import elevation

    _ship_package(spark)
    ids, lats, lons = _proj4_point_set()
    pts = spark.createDataFrame(
        [(int(i), float(la), float(lo))
         for i, la, lo in zip(ids, lats, lons)],
        "point_id long, lat double, lon double",
    )
    return (
        elevation.ElevationResolver(spark, [_proj4_dataset()], "bilinear")
        .resolve(pts)
        .select("point_id", "lat", "lon", "elevation")
    )


def _build_proj4_elevation_oracle(sf_dir: str):
    import pyarrow as pa

    from opentopodata_spark import oracle

    ids, lats, lons = _proj4_point_set()
    elev, _names = oracle.get_elevation(
        lats, lons, [_proj4_dataset()], "bilinear")
    return pa.table({
        "point_id": pa.array(ids, type=pa.int64()),
        "lat": pa.array([float(v) for v in lats], type=pa.float64()),
        "lon": pa.array([float(v) for v in lons], type=pa.float64()),
        "elevation": pa.array(
            [None if v is None else float(v) for v in elev],
            type=pa.float64()),
    })


# UTM 33N spelled as WKT2 (ISO 19162) — the fourth CRS spelling the
# reference accepts (pyproj.CRS.from_user_input at
# /root/reference/opentopodata/utils.py:39-46 takes WKT2 the same as
# WKT1/PROJ.4); tests/test_wkt2.py pins that this string lands on the
# bit-identical projection object as EPSG:32633 and _PROJ4_CRS.
_WKT2_CRS = (
    'PROJCRS["WGS 84 / UTM zone 33N",'
    'BASEGEOGCRS["WGS 84",DATUM["World Geodetic System 1984",'
    'ELLIPSOID["WGS 84",6378137,298.257223563,LENGTHUNIT["metre",1]]],'
    'PRIMEM["Greenwich",0,ANGLEUNIT["degree",0.0174532925199433]],'
    'ID["EPSG",4326]],'
    'CONVERSION["UTM zone 33N",'
    'METHOD["Transverse Mercator",ID["EPSG",9807]],'
    'PARAMETER["Latitude of natural origin",0,'
    'ANGLEUNIT["degree",0.0174532925199433],ID["EPSG",8801]],'
    'PARAMETER["Longitude of natural origin",15,'
    'ANGLEUNIT["degree",0.0174532925199433],ID["EPSG",8802]],'
    'PARAMETER["Scale factor at natural origin",0.9996,'
    'SCALEUNIT["unity",1],ID["EPSG",8805]],'
    'PARAMETER["False easting",500000,LENGTHUNIT["metre",1],'
    'ID["EPSG",8806]],'
    'PARAMETER["False northing",0,LENGTHUNIT["metre",1],'
    'ID["EPSG",8807]]],'
    'CS[Cartesian,2],'
    'AXIS["(E)",east,ORDER[1],LENGTHUNIT["metre",1]],'
    'AXIS["(N)",north,ORDER[2],LENGTHUNIT["metre",1]],'
    'ID["EPSG",32633]]'
)


def _wkt2_fixture_dir() -> str:
    """The proj4_r4 tile regenerated with its CRS carried as WKT2 —
    same grid, same georeferencing, different CRS spelling."""
    import numpy as np

    from opentopodata_spark import crs as _crs
    from opentopodata_spark import geotiff

    root = os.path.join(_fixture_root(), "wkt2_r5")
    marker = os.path.join(root, ".complete")
    if os.path.exists(marker):
        return root
    os.makedirs(root, exist_ok=True)
    cx, cy = _crs.reproject_latlons([47.5], [15.0], epsg=32633)
    px = 500.0
    x0 = float(cx[0]) - 60 * px
    y0 = float(cy[0]) + 60 * px
    xs = x0 + (np.arange(120) + 0.5) * px
    ys = y0 - (np.arange(120) + 0.5) * px
    X, Y = np.meshgrid(xs, ys)
    grid = (900.0 + 300.0 * np.sin(X / 1.1e4)
            + 250.0 * np.cos(Y / 0.9e4)).astype(np.float32)
    geotiff.write_geotiff(os.path.join(root, "utm33.tif"), grid, x0=x0,
                          y0=y0, sx=px, sy=px, epsg=None, wkt=_WKT2_CRS,
                          nodata=-9999)
    with open(marker, "w") as f:
        f.write("ok")
    return root


def _wkt2_dataset():
    from opentopodata_spark import config

    return config.dataset_from_config(
        "wkt2_utm", path=_wkt2_fixture_dir() + "/")


def q_wkt2_elevation(spark, sf_dir):
    """WKT2-CRS raster as a CONTRACT query: a UTM tile whose CRS rides
    as an ISO 19162 PROJCRS string (the spelling modern EPSG/GDAL
    exports emit) must resolve through the distributed pipeline exactly
    like the single-process sampler — and, because the same grid/points
    ride in proj4_elevation, exactly like its PROJ.4-spelled twin."""
    from opentopodata_spark.operators import elevation

    _ship_package(spark)
    ids, lats, lons = _proj4_point_set()
    pts = spark.createDataFrame(
        [(int(i), float(la), float(lo))
         for i, la, lo in zip(ids, lats, lons)],
        "point_id long, lat double, lon double",
    )
    return (
        elevation.ElevationResolver(spark, [_wkt2_dataset()], "bilinear")
        .resolve(pts)
        .select("point_id", "lat", "lon", "elevation")
    )


def _build_wkt2_elevation_oracle(sf_dir: str):
    import pyarrow as pa

    from opentopodata_spark import oracle

    ids, lats, lons = _proj4_point_set()
    elev, _names = oracle.get_elevation(
        lats, lons, [_wkt2_dataset()], "bilinear")
    return pa.table({
        "point_id": pa.array(ids, type=pa.int64()),
        "lat": pa.array([float(v) for v in lats], type=pa.float64()),
        "lon": pa.array([float(v) for v in lons], type=pa.float64()),
        "elevation": pa.array(
            [None if v is None else float(v) for v in elev],
            type=pa.float64()),
    })


_ICEBERG_PB = (
    "CASE WHEN substr(md5(cast(doc_id as string)),1,1) < '4' THEN 0 "
    "WHEN substr(md5(cast(doc_id as string)),1,1) < '8' THEN 1 "
    "WHEN substr(md5(cast(doc_id as string)),1,1) < 'c' THEN 2 ELSE 3 END"
)


def _iceberg_documents_table(spark, sf_dir: str) -> str:
    """Deterministic Iceberg v2 documents table for the contract query:
    two append snapshots (md5-split halves) + one copy-on-write delete
    of partition 1 — so the scan the query runs is genuinely planned
    from snapshots/manifest lists/manifests, not a directory listing."""
    import shutil

    from opentopodata_spark import iceberg as _ice

    root = os.path.join(
        _fixture_root(), "iceberg_r5", os.path.basename(sf_dir.rstrip("/")))
    marker = os.path.join(root, ".complete")
    loc = os.path.join(root, "documents")
    if os.path.exists(marker):
        return loc
    if os.path.exists(root):
        shutil.rmtree(root)
    os.makedirs(root, exist_ok=True)
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    docs = docs.withColumn("_pb", F.expr(_ICEBERG_PB).cast("int"))
    t = _ice.IcebergTable.create(loc, docs.schema, partition_col="_pb")
    half = F.substring(F.md5(F.col("doc_id").cast("string")), 2, 1) < F.lit("8")
    _ice.append_dataframe(t, docs.where(half))
    _ice.append_dataframe(t, docs.where(~half))
    t.delete_partition(1)
    with open(marker, "w") as f:
        f.write("ok")
    return loc


def q_iceberg_documents(spark, sf_dir):
    """Documents as a REAL Iceberg v2 table (pure-Python metadata
    layer, no jars): the query reads the CURRENT snapshot — planned
    from the manifest chain after two appends and a partition delete —
    and aggregates per partition. The oracle replays the table
    definition (append union minus the deleted partition) in SQL, so a
    hash match proves the metadata-planned scan returns exactly the
    committed live file set (north rule: Iceberg input tables)."""
    from opentopodata_spark import iceberg as _ice

    loc = _iceberg_documents_table(spark, sf_dir)
    df = _ice.read_table(spark, loc)
    return (
        df.groupBy(F.col("_pb").alias("pb"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.min("doc_id").alias("first_doc"),
            F.countDistinct("lang").alias("n_langs"),
        )
    )


_Q_ICEBERG_DOCS_SQL = f"""
SELECT pb, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       min(doc_id) AS first_doc,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
FROM (SELECT *, {_ICEBERG_PB} AS pb FROM documents)
WHERE pb <> 1
GROUP BY pb
"""


_PRECOMPUTED_BUILDERS = {
    "raster_formats": _build_raster_formats_oracle,
    "remote_elevation": _build_remote_elevation_oracle,
    "proj4_elevation": _build_proj4_elevation_oracle,
    "wkt2_elevation": _build_wkt2_elevation_oracle,
    "s2_cells": _build_s2_oracle,
    "geodesic_paths": _build_geodesic_oracle,
    "elevation_e2e": _build_elevation_oracle,
    "elevation_profile": _build_profile_oracle,
    "line_of_sight": _build_los_oracle,
    "viewshed": _build_viewshed_oracle,
    "raster_polygonize": _build_raster_polygonize_oracle,
    "polygon_burn": _build_polygon_burn_oracle,
    "region_polygons": _build_region_polygons_oracle,
}


def _precomputed_sql(name: str) -> str:
    path = _oracle_parquet(name, _PRECOMPUTED_BUILDERS[name])
    return f"SELECT * FROM read_parquet('{path}')"


# ---------------------------------------------------------------------------
# vector ingestion contract (shapefile / geopackage feature readers)
# ---------------------------------------------------------------------------


def _vector_fixture_dir() -> str:
    """Deterministic polygon layer written as BOTH ESRI Shapefile and
    GeoPackage (vector.py writers), plus a format-independent
    vertex-definition parquet that the DuckDB oracle reads — the oracle
    never touches the .shp/.gpkg bytes, so any reader/writer defect
    shows up as a hash mismatch. All coordinates are exact multiples of
    1/1024, making every shoelace term an exact binary double: sums are
    order-independent and the compare is exact, not tolerance-based.
    The directory is named by a hash of vector.py's bytes, so another
    version of the writers gets a fresh directory; within one, a
    .complete marker makes it idempotent."""
    import hashlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    from opentopodata_spark import vector

    key = hashlib.sha256(vector.__loader__.get_data(vector.__file__))
    root = os.path.join(_fixture_root(), f"vector_{key.hexdigest()[:16]}")
    marker = os.path.join(root, ".complete")
    if os.path.exists(marker):
        return root
    os.makedirs(root, exist_ok=True)
    Q = 1024.0

    def snap(v: float) -> float:
        return round(v * Q) / Q

    def signed2(ring):
        s = 0.0
        for i in range(len(ring)):
            x1, y1 = ring[i]
            x2, y2 = ring[(i + 1) % len(ring)]
            s += x1 * y2 - x2 * y1
        return s

    def ccw(ring):
        return ring if signed2(ring) > 0 else ring[::-1]

    def cw(ring):
        return ccw(ring)[::-1]

    feats = []
    d_fid, d_ring, d_vi, d_lon, d_lat = [], [], [], [], []
    fid = 1
    for gy in range(5):
        for gx in range(8):
            cx = snap(-20.0 + gx * 5.25)
            cy = snap(10.0 + gy * 4.5)
            k = (gx * 7 + gy * 13) % 5
            w = snap(1.5 + 0.25 * k)
            h = snap(1.0 + 0.125 * ((gx + gy) % 4))
            outer = ccw([[cx - w, cy - h], [cx + w, cy - h],
                         [snap(cx + w + 0.5), cy], [cx + w, cy + h],
                         [cx - w, cy + h]])
            rings = [outer]
            if fid % 4 == 1:
                hw, hh = snap(w / 2), snap(h / 2)
                rings.append(cw([[cx - hw, cy - hh], [cx + hw, cy - hh],
                                 [cx + hw, cy + hh], [cx - hw, cy + hh]]))
            parts = [rings]
            if fid % 20 == 14:  # disjoint second part (never holed fids)
                dx = snap(2.0 * w + 1.0)
                parts.append([ccw([[x + dx, y] for x, y in outer])])
            closed_parts = [
                [r + [r[0]] for r in rs] for rs in parts
            ]
            if len(parts) == 1:
                geom = {"type": "Polygon", "coordinates": closed_parts[0]}
            else:
                geom = {"type": "MultiPolygon",
                        "coordinates": closed_parts}
            feats.append({
                "type": "Feature", "id": fid, "geometry": geom,
                "properties": {"zone_id": fid,
                               "name": f"zone_{fid:03d}"},
            })
            ring_no = 0
            for rs in parts:
                for r in rs:  # definition keeps rings OPEN (no closing)
                    for vi, (x, y) in enumerate(r):
                        d_fid.append(fid)
                        d_ring.append(ring_no)
                        d_vi.append(vi)
                        d_lon.append(x)
                        d_lat.append(y)
                    ring_no += 1
            fid += 1
    fc = {"type": "FeatureCollection", "features": feats}
    vector.write_shapefile(os.path.join(root, "zones.shp"), fc)
    vector.write_gpkg_features(os.path.join(root, "zones.gpkg"), fc,
                               layer="zones")
    pq.write_table(pa.table({
        "zone_id": pa.array(d_fid, type=pa.int64()),
        "ring": pa.array(d_ring, type=pa.int32()),
        "vi": pa.array(d_vi, type=pa.int32()),
        "lon": pa.array(d_lon, type=pa.float64()),
        "lat": pa.array(d_lat, type=pa.float64()),
    }), os.path.join(root, "vertices.parquet"))
    with open(marker, "w") as f:
        f.write("ok")
    return root


def q_vector_ingest(spark, sf_dir):
    """CONTRACT: the Shapefile and GeoPackage feature readers
    (opentopodata_spark/vector.py — the OGR slice the reference gets
    from GDAL) against a format-independent vertex definition. Each
    format's features decode on the driver (vector layers are the
    broadcast-small side by design), explode to one row per ring, and
    Spark column expressions compute per-zone ring counts, vertex
    counts, exact shoelace areas (net + absolute) and coordinate sums —
    every number is ring-order / vertex-rotation / orientation
    invariant, so shapefile hole regrouping and part reordering cannot
    alias a real decode bug. The DuckDB oracle computes the same
    aggregates from the definition parquet alone."""
    from opentopodata_spark import vector

    root = _vector_fixture_dir()
    rows = []
    for fmt, path in (("shp", os.path.join(root, "zones.shp")),
                      ("gpkg", os.path.join(root, "zones.gpkg"))):
        fc = vector.load_features(path)
        for f in fc["features"]:
            zid = int(f["properties"]["zone_id"])
            name = str(f["properties"]["name"])
            g = f["geometry"]
            polys = ([g["coordinates"]] if g["type"] == "Polygon"
                     else g["coordinates"])
            for rings in polys:
                for ring in rings:
                    r = ring[:-1] if ring[0] == ring[-1] else ring
                    rows.append((fmt, zid, name,
                                 [float(p[0]) for p in r],
                                 [float(p[1]) for p in r]))
    df = spark.createDataFrame(
        rows, "fmt string, zone_id long, name string, "
              "lons array<double>, lats array<double>")

    def _rot(c):
        return F.concat(F.slice(c, F.lit(2), F.size(c) - F.lit(1)),
                        F.slice(c, 1, 1))

    def _asum(c):
        return F.aggregate(c, F.lit(0.0), lambda a, x: a + x)

    cross = _asum(F.zip_with("lons", _rot("lats"), lambda x, y: x * y)) \
        - _asum(F.zip_with(_rot("lons"), F.col("lats"),
                           lambda x, y: x * y))
    ringed = df.select(
        "fmt", "zone_id", "name",
        (cross / F.lit(2.0)).alias("ring_area"),
        F.size("lons").cast("long").alias("ring_verts"),
        _asum("lons").alias("ring_sum_lon"),
        _asum("lats").alias("ring_sum_lat"),
    )
    return (
        ringed.groupBy("fmt", "zone_id", "name")
        .agg(F.count(F.lit(1)).alias("n_rings"),
             F.sum("ring_verts").alias("n_vertices"),
             F.sum("ring_area").alias("area_net"),
             F.sum(F.abs(F.col("ring_area"))).alias("area_abs"),
             F.sum("ring_sum_lon").alias("sum_lon"),
             F.sum("ring_sum_lat").alias("sum_lat"))
    )


def _vector_ingest_sql() -> str:
    path = os.path.join(_vector_fixture_dir(), "vertices.parquet")
    return f"""
WITH v AS (SELECT * FROM read_parquet('{path}')),
cnt AS (SELECT zone_id, ring, COUNT(*) AS n
        FROM v GROUP BY zone_id, ring),
e AS (
  SELECT a.zone_id, a.ring, a.lon * b.lat - b.lon * a.lat AS cr
  FROM v a
  JOIN cnt c ON c.zone_id = a.zone_id AND c.ring = a.ring
  JOIN v b ON b.zone_id = a.zone_id AND b.ring = a.ring
          AND b.vi = (a.vi + 1) % c.n
),
r AS (SELECT zone_id, ring, SUM(cr) / 2 AS area
      FROM e GROUP BY zone_id, ring),
f AS (SELECT zone_id, COUNT(DISTINCT ring) AS n_rings,
             COUNT(*) AS n_vertices,
             SUM(lon) AS sum_lon, SUM(lat) AS sum_lat
      FROM v GROUP BY zone_id),
a AS (SELECT zone_id, SUM(area) AS area_net, SUM(ABS(area)) AS area_abs
      FROM r GROUP BY zone_id)
SELECT fm.fmt, f.zone_id,
       'zone_' || LPAD(CAST(f.zone_id AS VARCHAR), 3, '0') AS name,
       f.n_rings, f.n_vertices, a.area_net, a.area_abs,
       f.sum_lon, f.sum_lat
FROM f JOIN a USING (zone_id)
CROSS JOIN (VALUES ('shp'), ('gpkg')) AS fm(fmt)
"""


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query at sf0.001 scale; driver checks rows > 0."""
    return _run_elevation(spark, n_docs=300)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Registration order: queries never checked (or whose module
    # changed) first, then the stale ones, then the most recently
    # re-verified. The registry is smaller than the ~50 entries a
    # checker verifies, so every query is reached; the cohort comments
    # record when each was last green.
    return {
        # -- new in r5 (inserted here as they land) --
        "iceberg_documents": q_iceberg_documents,
        "wkt2_elevation": q_wkt2_elevation,
        # -- modules CHANGED in r5 (ADVICE fix: knn broadcast cap) —
        #    re-verify even though green in r4 --
        "knn_topk": q_knn_topk,
        "range_join": q_range_join,
        # -- last green in r2 (VERDICT r4 Next #1): the stale rows --
        "zonal_stats": q_zonal_stats,
        "rasterize_grid": q_rasterize_grid,
        "pip_coverage": q_pip_coverage,
        "s2_cells": q_s2_cells,
        # -- last green in r3; oldest cohort next, headline ones first --
        "coord_extract": q_coord_extract,
        "tile_floor_keys": q_tile_floor_keys,
        "bbox_coverage": q_bbox_coverage,
        "priority_coalesce": q_priority_coalesce,
        # -- r3 cohort continues --
        "slippy_tiles": q_slippy_tiles,
        "tile_pyramid": q_tile_pyramid,
        # -- green in CORRECTNESS_r04 --
        "zonal_majority": q_zonal_majority,
        "vector_ingest": q_vector_ingest,
        "polygon_burn": q_polygon_burn,
        "raster_polygonize": q_raster_polygonize,
        "region_polygons": q_region_polygons,
        "raster_formats": q_raster_formats,
        "remote_elevation": q_remote_elevation,
        "proj4_elevation": q_proj4_elevation,
        "elevation_profile": q_elevation_profile,
        "line_of_sight": q_line_of_sight,
        "viewshed": q_viewshed,
        "elevation_e2e": q_elevation_e2e,
        "geodesic_paths": q_geodesic_paths,
    }


class _Oracles(Mapping):
    """Query name -> oracle SQL. A value is the SQL itself or a function
    that builds it; the function runs only when that name is read, so
    listing the names builds nothing, and a builder that raises fails
    its own query (loudly) instead of leaving it to a rows-only check."""

    def __init__(self, sql: dict[str, str | Callable[[], str]]):
        self._sql = sql

    def __getitem__(self, name: str) -> str:
        sql = self._sql[name]
        return sql if isinstance(sql, str) else sql()

    def __contains__(self, name) -> bool:
        return name in self._sql

    def __iter__(self):
        return iter(self._sql)

    def __len__(self) -> int:
        return len(self._sql)


def oracle_sql() -> Mapping[str, str]:
    return _Oracles({
        "iceberg_documents": _Q_ICEBERG_DOCS_SQL,
        "tile_floor_keys": _Q_TILE_FLOOR_SQL,
        "bbox_coverage": _Q_BBOX_SQL,
        "priority_coalesce": _Q_PRIORITY_SQL,
        "knn_topk": _Q_KNN_SQL,
        "range_join": _Q_RANGE_SQL,
        "coord_extract": _Q_COORD_SQL,
        "pip_coverage": _pip_sql,
        "vector_ingest": _vector_ingest_sql,
        "slippy_tiles": _slippy_sql,
        "tile_pyramid": _tile_pyramid_sql,
        "zonal_majority": _zonal_majority_sql,
        "rasterize_grid": _Q_RASTERIZE_SQL,
        # elevation_e2e / geodesic_paths / s2_cells and the raster queries
        # are genuinely non-SQL (rasters, Karney geodesics, S2 Hilbert
        # ids): their oracles are the repo's own
        # single-process reference implementations, recomputed fresh into a
        # parquet that the SQL reads (see _precomputed_sql above).
        **{name: partial(_precomputed_sql, name)
           for name in _PRECOMPUTED_BUILDERS},
        # zonal_stats: precomputed PIXEL table; DuckDB runs its own
        # ray-cast mask + aggregation (independent of the Spark path).
        "zonal_stats": _zonal_sql,
    })
