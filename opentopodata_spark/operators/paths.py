"""Distributed geodesic path sampling + elevation profiles (SURVEY.md S6).

The reference samples n equally-spaced points along a WGS84 geodesic per
request (/root/reference/opentopodata/utils.py:102-168, geographiclib).
Here the same numerics (opentopodata_spark.geodesic — Karney series,
validated against the reference's pytest goldens) run per-path inside an
Arrow-batched ``mapInPandas``: one input row = one path (arrays of
waypoint lats/lons), output = one row per sample. Paths are independent,
so the operator is embarrassingly parallel — no shuffle at all; the
explode happens inside the UDF batch.

``elevation_profile`` is the end-to-end consumer the reference's users
build client-side from the path endpoint: sample a path, resolve every
sample's elevation, and reduce each path to profile metrics (total
distance, min/max elevation, cumulative gain/loss). The reduce is a
left-fold over the samples in path order (``array_sort`` +
``F.aggregate``), so the floating-point addition order is fixed and
matches a sequential single-process replay bit-for-bit.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import geodesic
from ..session import worker_bootstrap

__all__ = ["sample_paths", "elevation_profile", "profile_metrics",
           "line_of_sight", "los_metrics"]

_OUT_SCHEMA = "path_id long, sample_pos int, lat double, lon double"
_OUT_SCHEMA_DIST = _OUT_SCHEMA + ", distance_m double"


def sample_paths(
    paths: DataFrame, n_samples: int, with_distance: bool = False
) -> DataFrame:
    """paths: (path_id long, lats array<double>, lons array<double>) ->
    (path_id, sample_pos, lat, lon[, distance_m]) with n_samples rows
    per path.

    Endpoint exactness and shortest-route wraparound semantics follow
    the reference (pinned by tests/test_utils_parity.py).
    ``with_distance`` adds each sample's along-path distance in metres
    from the first waypoint — the sampler's own cumulative-distance
    linspace, exact by construction rather than re-measured.
    """
    if n_samples < 2:
        raise ValueError("n_samples must be >= 2")

    def run(batches):
        worker_bootstrap()
        for pdf in batches:
            ids, pos, las, los, dist = [], [], [], [], []
            for pid, plats, plons in zip(pdf["path_id"], pdf["lats"], pdf["lons"]):
                s_lats, s_lons, s_dist = geodesic.sample_points_with_distance(
                    np.asarray(plats, dtype=np.float64),
                    np.asarray(plons, dtype=np.float64),
                    n_samples,
                )
                ids.extend([pid] * n_samples)
                pos.extend(range(n_samples))
                las.extend(s_lats)
                los.extend(s_lons)
                if with_distance:
                    dist.extend(s_dist)
            out = {"path_id": ids, "sample_pos": pos, "lat": las, "lon": los}
            if with_distance:
                out["distance_m"] = dist
            yield pd.DataFrame(out)

    return paths.mapInPandas(
        run, _OUT_SCHEMA_DIST if with_distance else _OUT_SCHEMA
    )


# point_id = path_id * _POINT_ID_STRIDE + sample_pos keeps the shuffle key a
# long (strings in the wide exchange cost ~4x, docs/BENCH.md): unique while
# path_id < 2^63 / stride and n_samples <= stride.
_POINT_ID_STRIDE = 1_000_000


def elevation_profile(resolver, paths: DataFrame, n_samples: int) -> DataFrame:
    """Per-path elevation profile: sample -> resolve -> fold.

    paths: (path_id long, lats array<double>, lons array<double>).
    Output, one row per path: (path_id, n_valid, total_distance_m,
    elev_min, elev_max, elev_gain, elev_loss).

    Shape at scale: the sampler is shuffle-free; the resolver keeps its
    single wide exchange (operators/elevation.py resolve); the final
    groupBy(path_id) is the only shuffle this operator adds, and its
    rows are 4 narrow columns (path_id, sample_pos, distance_m,
    elevation) — the lat/lon/dataset payload is dropped before the
    exchange. Per-group state is bounded by n_samples, so no salting is
    needed beyond the resolver's own skew handling.
    """
    if n_samples > _POINT_ID_STRIDE:
        raise ValueError(f"n_samples must be <= {_POINT_ID_STRIDE}")
    samples = sample_paths(paths, n_samples, with_distance=True)
    pts = samples.withColumn(
        "point_id",
        F.col("path_id") * F.lit(_POINT_ID_STRIDE) + F.col("sample_pos"),
    )
    resolved = resolver.resolve(
        pts, carry=("path_id", "sample_pos", "distance_m")
    )
    return profile_metrics(
        resolved.select("path_id", "sample_pos", "distance_m", "elevation")
    )


def profile_metrics(samples: DataFrame) -> DataFrame:
    """(path_id, sample_pos, distance_m, elevation) -> one metrics row
    per path. Split out so precomputed sample tables (or streaming
    micro-batches) can reuse the fold without re-resolving.

    Gain/loss are summed over consecutive *valid* samples in path order
    — a null elevation (point outside every dataset) is skipped without
    resetting the previous anchor, matching how the reference's clients
    chart profiles across NODATA gaps. The left-fold runs entirely in
    codegen'd Catalyst expressions (no Python), and its fixed
    evaluation order makes the doubles reproducible run-to-run.
    """
    acc0 = F.struct(
        F.lit(None).cast("double").alias("prev"),
        F.lit(0.0).alias("gain"),
        F.lit(0.0).alias("loss"),
    )

    def step(acc, x):
        e = x["elevation"]
        return F.when(e.isNull(), acc).otherwise(
            F.struct(
                e.alias("prev"),
                (
                    acc["gain"]
                    + F.when(
                        acc["prev"].isNotNull() & (e > acc["prev"]),
                        e - acc["prev"],
                    ).otherwise(F.lit(0.0))
                ).alias("gain"),
                (
                    acc["loss"]
                    + F.when(
                        acc["prev"].isNotNull() & (e < acc["prev"]),
                        acc["prev"] - e,
                    ).otherwise(F.lit(0.0))
                ).alias("loss"),
            )
        )

    folded = F.aggregate(
        F.array_sort(F.collect_list(F.struct("sample_pos", "elevation"))),
        acc0,
        step,
    )
    return (
        samples.groupBy("path_id")
        .agg(
            F.count("elevation").alias("n_valid"),
            F.max("distance_m").alias("total_distance_m"),
            F.min("elevation").alias("elev_min"),
            F.max("elevation").alias("elev_max"),
            folded.alias("_f"),
        )
        .select(
            "path_id",
            "n_valid",
            "total_distance_m",
            "elev_min",
            "elev_max",
            F.col("_f")["gain"].alias("elev_gain"),
            F.col("_f")["loss"].alias("elev_loss"),
        )
    )


_EARTH_R = 6371008.8  # mean earth radius (m), the usual LOS convention


def line_of_sight(
    resolver,
    pairs: DataFrame,
    n_samples: int,
    *,
    observer_height: float = 2.0,
    target_height: float = 0.0,
    refraction: float = 0.13,
    use_curvature: bool = True,
) -> DataFrame:
    """Point-to-point terrain line-of-sight over the resolver's datasets.

    pairs: (los_id long, lat_a, lon_a, lat_b, lon_b doubles). Each pair
    is sampled as an ``n_samples``-point geodesic, every sample's
    elevation is resolved distributedly, and a per-pair fold decides
    visibility: the sight line runs from (0, elev_a + observer_height)
    to (D, elev_b + target_height); a pair is visible iff no
    INTERMEDIATE terrain sample rises above it. With ``use_curvature``
    terrain is raised relative to the chord by the earth bulge
    d*(D-d)*(1-refraction)/(2R) — the chord-frame equivalent of dropping
    everything beyond the observer by d^2(1-k)/(2R) (refraction=0.13 is
    the common optical coefficient; 0 disables refraction only).

    Output per pair: (los_id, visible, min_clearance_m, distance_m,
    elev_a, elev_b, n_missing). ``min_clearance_m`` is the smallest
    (sight line - terrain) over intermediates — negative means blocked
    by that many metres. Samples outside every dataset are SKIPPED and
    counted in ``n_missing``; endpoints outside coverage make
    ``visible`` null (no anchor). Same scale shape as
    elevation_profile: shuffle-free sampler, the resolver's one wide
    exchange, then one narrow groupBy(los_id) whose per-group state is
    bounded by n_samples.
    """
    if n_samples > _POINT_ID_STRIDE:
        raise ValueError(f"n_samples must be <= {_POINT_ID_STRIDE}")
    paths_df = pairs.select(
        F.col("los_id").alias("path_id"),
        F.array("lat_a", "lat_b").alias("lats"),
        F.array("lon_a", "lon_b").alias("lons"),
    )
    samples = sample_paths(paths_df, n_samples, with_distance=True)
    pts = samples.withColumn(
        "point_id",
        F.col("path_id") * F.lit(_POINT_ID_STRIDE) + F.col("sample_pos"),
    )
    resolved = resolver.resolve(
        pts, carry=("path_id", "sample_pos", "distance_m")
    )
    return los_metrics(
        resolved.select("path_id", "sample_pos", "distance_m", "elevation"),
        observer_height=observer_height,
        target_height=target_height,
        refraction=refraction,
        use_curvature=use_curvature,
    )


def los_metrics(
    samples: DataFrame,
    *,
    observer_height: float = 2.0,
    target_height: float = 0.0,
    refraction: float = 0.13,
    use_curvature: bool = True,
) -> DataFrame:
    """(path_id, sample_pos, distance_m, elevation) -> one visibility
    row per path (see :func:`line_of_sight`). Split out so precomputed
    sample tables can re-score with different heights/refraction without
    re-resolving elevations."""
    arr = F.array_sort(
        F.collect_list(F.struct("sample_pos", "distance_m", "elevation"))
    )
    g = samples.groupBy(F.col("path_id").alias("los_id")).agg(arr.alias("a"))
    first = F.element_at("a", 1)
    last = F.element_at("a", -1)
    ea = first["elevation"]
    eb = last["elevation"]
    dist = last["distance_m"]
    inter = F.slice("a", 2, F.size("a") - 2)
    oh = F.lit(float(observer_height))
    th = F.lit(float(target_height))
    curv = (1.0 - float(refraction)) / (2.0 * _EARTH_R) if use_curvature \
        else 0.0

    def margin(x):
        d = x["distance_m"]
        line = (ea + oh) + ((eb + th) - (ea + oh)) * d / dist
        # + : the bulge RAISES terrain relative to the endpoint chord
        terrain = x["elevation"] + F.lit(curv) * d * (dist - d)
        return line - terrain  # null when elevation is null

    margins = F.filter(
        F.transform(inter, margin), lambda m: m.isNotNull()
    )
    min_clear = F.when(F.size(margins) > 0, F.array_min(margins))
    n_missing = F.size(
        F.filter(inter, lambda x: x["elevation"].isNull())
    ).cast("long")
    visible = F.when(
        ea.isNull() | eb.isNull(), F.lit(None).cast("boolean")
    ).otherwise(F.coalesce(min_clear >= 0.0, F.lit(True)))
    return g.select(
        "los_id",
        visible.alias("visible"),
        min_clear.alias("min_clearance_m"),
        dist.alias("distance_m"),
        ea.alias("elev_a"),
        eb.alias("elev_b"),
        n_missing.alias("n_missing"),
    )


_VIEWSHED_SCHEMA = (
    "obs_id long, ray int, sample_pos int, lat double, lon double, "
    "distance_m double"
)


def viewshed(
    resolver,
    observers: DataFrame,
    radius_m: float,
    n_rays: int = 16,
    n_samples: int = 32,
    *,
    observer_height: float = 2.0,
    refraction: float = 0.13,
    use_curvature: bool = True,
) -> DataFrame:
    """Radial visibility grid: which terrain around each observer can it
    see. observers: (obs_id long, lat, lon). Casts ``n_rays`` geodesic
    rays (equal azimuth spacing, Karney direct solver) of ``radius_m``
    from each observer, samples each ray at ``n_samples`` points,
    resolves every sample's elevation distributedly, and folds each ray
    outward with the classic running-max-elevation-angle sweep: a sample
    is visible iff its (curvature-corrected) elevation angle from the
    observer's eye ties or beats every angle before it on the ray.

    Output, one row per ray sample (sample_pos >= 1): (obs_id, ray,
    sample_pos, lat, lon, distance_m, elevation, visible). Samples with
    no elevation get visible = null and do NOT raise the horizon
    (unknown terrain never blocks); observers outside coverage yield all
    nulls for their rays. Curvature drops distant terrain by
    d^2(1-refraction)/(2R) in the observer-tangent frame.

    Scale shape: ray generation is an embarrassingly parallel
    mapInPandas (no shuffle), elevations ride the resolver's one wide
    exchange, and the sweep is one applyInPandas over (obs_id, ray)
    groups bounded by n_samples rows of 6 narrow columns.
    """
    if n_rays * n_samples > _POINT_ID_STRIDE:
        raise ValueError("n_rays * n_samples must be <= 1_000_000")
    if n_samples < 2:
        raise ValueError("n_samples must be >= 2")

    def cast_rays(batches):
        worker_bootstrap()
        from .. import geodesic

        # one vectorized Karney solve per (observer, azimuth): the line
        # setup is shared across the ray, only the distance array varies
        # (geodesic.direct_distances) — no per-sample scalar solves.
        dists = np.array(
            [radius_m * i / (n_samples - 1) for i in range(1, n_samples)]
        )
        for pdf in batches:
            frames = []
            for oid, la, lo in zip(pdf["obs_id"], pdf["lat"], pdf["lon"]):
                for ray in range(n_rays):
                    az = 360.0 * ray / n_rays
                    lat2, lon2, _ = geodesic.direct_distances(
                        la, lo, az, dists
                    )
                    frames.append(pd.DataFrame({
                        "obs_id": np.full(n_samples, oid, dtype=np.int64),
                        "ray": np.full(n_samples, ray, dtype=np.int32),
                        "sample_pos": np.arange(n_samples, dtype=np.int32),
                        "lat": np.concatenate(([la], lat2)),
                        "lon": np.concatenate(
                            ([lo], (lon2 + 180.0) % 360.0 - 180.0)),
                        "distance_m": np.concatenate(([0.0], dists)),
                    }))
            if frames:
                yield pd.concat(frames, ignore_index=True)

    samples = observers.mapInPandas(cast_rays, _VIEWSHED_SCHEMA)
    pts = samples.withColumn(
        "point_id",
        F.col("obs_id") * F.lit(_POINT_ID_STRIDE)
        + F.col("ray") * F.lit(n_samples) + F.col("sample_pos"),
    )
    resolved = resolver.resolve(
        pts, carry=("obs_id", "ray", "sample_pos", "distance_m"),
    ).select("obs_id", "ray", "sample_pos", "lat", "lon", "distance_m",
             "elevation")

    oh = float(observer_height)
    curv = (1.0 - float(refraction)) / (2.0 * _EARTH_R) if use_curvature \
        else 0.0

    def sweep(pdf: pd.DataFrame) -> pd.DataFrame:
        worker_bootstrap()
        pdf = pdf.sort_values("sample_pos").reset_index(drop=True)
        e = pdf["elevation"].to_numpy(dtype=np.float64)  # NaN for null
        d = pdf["distance_m"].to_numpy(dtype=np.float64)
        vis = np.full(len(pdf), np.nan)
        eye = e[0] + oh
        if np.isfinite(eye):
            corr = e - curv * d * d
            maxtan = -np.inf
            for i in range(1, len(pdf)):
                if not np.isfinite(corr[i]):
                    continue
                t = (corr[i] - eye) / d[i]
                vis[i] = 1.0 if t >= maxtan else 0.0
                maxtan = max(maxtan, t)
        out = pdf[pdf["sample_pos"] >= 1].copy()
        v = vis[pdf["sample_pos"].to_numpy() >= 1]
        out["visible"] = pd.array(
            [None if not np.isfinite(x) else bool(x) for x in v],
            dtype="boolean",
        )
        return out

    return resolved.groupBy("obs_id", "ray").applyInPandas(
        sweep, _VIEWSHED_SCHEMA + ", elevation double, visible boolean"
    )


def viewshed_summary(samples: DataFrame) -> DataFrame:
    """Per-observer rollup of a :func:`viewshed` frame: (obs_id,
    n_visible, n_valid, visible_frac)."""
    n_vis = F.coalesce(F.sum(F.col("visible").cast("long")), F.lit(0))
    return samples.groupBy("obs_id").agg(
        n_vis.alias("n_visible"),
        F.count("visible").alias("n_valid"),
        F.round(
            F.sum(F.col("visible").cast("long")) / F.count("visible"), 6
        ).alias("visible_frac"),
    )
