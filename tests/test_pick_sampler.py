"""Metamorphic tests of the resolver's Arrow sampler.

The same points must resolve to the same rows whatever the Arrow batch
size (7 splits string carry columns across many batches), the partition
count, the salting and the input order. The points fall through several
datasets and hit NODATA cells.
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from opentopodata_spark import config, oracle
from opentopodata_spark.operators import elevation, extract

CARRY = ("doc_id", "span_pos", "point_pos")
BATCH_KEY = "spark.sql.execution.arrow.maxRecordsPerBatch"
PARTITIONS_KEY = "spark.sql.shuffle.partitions"


@pytest.fixture(scope="module")
def multi(datasets):
    # nodata (3x3 grid with NODATA cells) -> eudemsubset -> etopo1deg:
    # every dataset is global, so each point has three candidate rows
    return config.resolve_dataset_names("multi_eudem_etopo1", datasets)


@pytest.fixture(scope="module")
def points(spark):
    rng = np.random.default_rng(3)
    n = 1500
    lats = np.concatenate([rng.uniform(-0.5, 2.5, n), rng.uniform(35, 60, n),
                           rng.uniform(-89, 89, n)])
    lons = np.concatenate([rng.uniform(-0.5, 2.5, n), rng.uniform(-10, 30, n),
                           rng.uniform(-179, 179, n)])
    # exact NODATA cells and valid cells of the nodata grid
    lats[:6] = [0, 1, 2, 2, 1, 0]
    lons[:6] = [2, 0.51, 0.5, 0, 0.5, 0]
    rows = [(f"doc-{i // 4:05d}-ü", i % 4, i % 3, float(a), float(b))
            for i, (a, b) in enumerate(zip(lats, lons))]
    df = spark.createDataFrame(
        rows, "doc_id string, span_pos int, point_pos int, lat double, lon double")
    return extract.with_point_id(df).cache()


def _rows(df) -> list:
    return sorted(
        tuple(v.hex() if isinstance(v, float) else v for v in r)
        for r in df.collect()
    )


def _resolve(spark, multi, points, batch=65536, partitions=None,
             cell_salts=None, no_plan=False, nodata_value=None):
    """Resolve under one variant. A salt plan (cell_salts, else empty) is
    installed unless no_plan, which leaves the uniform salt 4 of a
    resolver that never ran a pre-pass."""
    old = {k: spark.conf.get(k) for k in (BATCH_KEY, PARTITIONS_KEY)}
    spark.conf.set(BATCH_KEY, str(batch))
    if partitions:
        spark.conf.set(PARTITIONS_KEY, str(partitions))
    try:
        r = elevation.ElevationResolver(spark, multi, "bilinear", nodata_value)
        if not no_plan:
            r.set_cell_salts(cell_salts or {})
        return _rows(r.resolve(points, carry=CARRY))
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


@pytest.fixture(scope="module", params=[None, float("nan")], ids=["null", "nan"])
def base(request, spark, multi, points):
    return request.param, _resolve(spark, multi, points,
                                   nodata_value=request.param)


def test_base_matches_oracle(multi, points, base):
    nodata_value, rows = base
    assert len(rows) == points.count()
    lats = [float.fromhex(r[1]) for r in rows]
    lons = [float.fromhex(r[2]) for r in rows]
    want_z, want_ds = oracle.get_elevation(lats, lons, multi, "bilinear",
                                           nodata_value)
    got_z = [None if r[6] is None else float.fromhex(r[6]) for r in rows]
    for g, w in zip(got_z, want_z):
        assert (g is None and w is None) or (
            g is not None and w is not None
            and (g == w or (math.isnan(g) and math.isnan(w))))
    assert [r[7] for r in rows] == want_ds
    # the corpus exercises every dataset, and NODATA either falls through
    # (null fill) or resolves to NaN
    assert {r[7] for r in rows} == {d.name for d in multi}
    nodata_cell = next(r for r in rows if (r[1], r[2]) == ((0.0).hex(), (2.0).hex()))
    if nodata_value is None:
        assert nodata_cell[7] == "etopo1deg"
    else:
        assert math.isnan(float.fromhex(nodata_cell[6]))
        assert nodata_cell[7] == "nodata"


@pytest.mark.parametrize(
    "variant",
    [
        {"batch": 7},
        {"partitions": 1},
        {"partitions": 13},
        {"partitions": 13, "batch": 7},
        {"no_plan": True},
        {"cell_salts": "hot"},
        {"cell_salts": "hot_and_filler"},
    ],
    ids=["batch7", "one_partition", "many_partitions",
         "many_partitions_batch7", "no_plan", "cell_salts",
         "cell_salts_broadcast"],
)
def test_same_rows_under_metamorphic_changes(spark, multi, points, base,
                                             variant):
    nodata_value, want = base
    variant = dict(variant)
    if variant.get("cell_salts") in ("hot", "hot_and_filler"):
        r = elevation.ElevationResolver(spark, multi, "bilinear")
        cells = points.select(r._cell_expr())
        hot = cells.groupBy("_cell").count().orderBy(F.desc("count")).limit(5)
        salts = {row["_cell"]: 6 for row in hot.collect()}
        if variant["cell_salts"] == "hot_and_filler":
            # past the literal CASE limit: salts join in by broadcast
            salts = {**dict.fromkeys(range(600), 3), **salts}
            assert len(salts) > r._SALT_LITERAL_LIMIT
        variant["cell_salts"] = salts
    got = _resolve(spark, multi, points, nodata_value=nodata_value, **variant)
    assert got == want


def test_shuffled_input_order(spark, multi, points, base):
    nodata_value, want = base
    shuffled = points.orderBy(F.rand(seed=5)).repartition(3)
    assert _resolve(spark, multi, shuffled, batch=7,
                    nodata_value=nodata_value) == want


def test_resolve_plan_is_one_exchange_one_arrow_pass(spark, multi, points):
    # no plan (uniform salt 4), an empty plan, and per-cell salts few
    # enough for the literal CASE: the points shuffle once, straight into
    # one sampler
    empty_plan = elevation.ElevationResolver(spark, multi, "bilinear")
    empty_plan.set_cell_salts({})
    cell_salted = elevation.ElevationResolver(spark, multi, "bilinear")
    cell_salted.set_cell_salts({0: 3, 1: 5})
    for r in (elevation.ElevationResolver(spark, multi, "bilinear"), empty_plan,
              cell_salted):
        res = r.resolve(points, carry=CARRY)
        plan = res._jdf.queryExecution().executedPlan().toString()
        wide = [ln for ln in plan.splitlines()
                if "Exchange" in ln and "BroadcastExchange" not in ln]
        assert len(wide) == 1, plan
        assert plan.count("MapInArrow") == 1, plan
        for node in ("MapInPandas", "Sort", "BroadcastNestedLoopJoin",
                     "BroadcastHashJoin"):
            assert node not in plan, plan


def test_installed_plan_keeps_unsalted_cells_on_one_partition(spark, multi,
                                                             points):
    # with a plan installed -- even an empty one, as the pre-pass returns
    # when no cell is hot -- a cell the plan does not salt keeps salt 1:
    # all its points land in one partition, so one task reads its tiles
    for plan in ({}, {0: 3}):
        r = elevation.ElevationResolver(spark, multi, "bilinear")
        r.set_cell_salts(plan)
        parts = (
            r.resolve(points, carry=CARRY)
            .select(r._cell_expr(), F.spark_partition_id().alias("part"))
            .where(~F.col("_cell").isin(list(plan)))
            .groupBy("_cell").agg(F.countDistinct("part").alias("n_parts"))
        )
        spread = parts.where(F.col("n_parts") > 1).count()
        assert spread == 0, (
            f"plan {plan}: {spread} cells span more than one partition")


def test_duplicate_point_id_keeps_every_row(spark, multi):
    # two input rows share point_id 7 at different coordinates of one
    # spatial cell (so they shuffle to the same partition): each must come
    # out as its own row with its own elevation and carry key
    rows = [("doc-a", 0, 0, 7, 0.5, 0.5), ("doc-b", 1, 2, 7, 0.25, 0.75),
            ("doc-c", 0, 1, 9, 47.0, 8.0)]
    pts = spark.createDataFrame(
        rows, "doc_id string, span_pos int, point_pos int, point_id long, "
        "lat double, lon double")
    got = sorted(tuple(r) for r in elevation.ElevationResolver(
        spark, multi, "bilinear").resolve(pts, carry=CARRY).collect())
    assert len(got) == 3
    want_z, want_ds = oracle.get_elevation(
        [r[4] for r in rows], [r[5] for r in rows], multi, "bilinear")
    assert want_z[0] != want_z[1]
    assert got == sorted((pid, lat, lon, doc, sp, pp, z, ds)
                         for (doc, sp, pp, pid, lat, lon), z, ds
                         in zip(rows, want_z, want_ds))
