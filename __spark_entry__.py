"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship distributed elevation pipeline
(documents -> coordinate extraction -> tile-join -> raster interpolation
-> priority coalesce) on deterministic synthetic fixtures at sf0.001
scale. ``queries()``/``oracle_sql()`` cover the SQL-expressible operator
inventory (SURVEY.md §2 + the training-data extras) over the driver's
testdata tables; every aggregate/computed column is aliased identically
on both sides, and all float expressions are written so Spark and DuckDB
evaluate the exact same double-precision operation sequence.
"""

from __future__ import annotations

import os
import sys
import tempfile
from collections.abc import Callable

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from opentopodata_spark.operators import dedup, embeddings as emb, events as ev
from opentopodata_spark.operators import knn, sampling, textops

_PAIR_REGEX = r"(-?\d+(?:\.\d+)?),(-?\d+(?:\.\d+)?)"
N_MINHASH = 8
EMB_DIM = 64


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

_TOKENS_SQL = "list_filter(string_split(text, ' '), x -> x <> '')"
_SHINGLES_CTE = (
    "tok AS (SELECT doc_id, "
    f"{_TOKENS_SQL} AS toks FROM documents), "
    "sh AS (SELECT doc_id, unnest(list_distinct("
    "[concat_ws(' ', toks[i], toks[i+1]) for i in "
    "generate_series(1, greatest(len(toks)-1, 1))])) AS shingle FROM tok)"
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
# queries — training-data pipeline extras (dedup / text / embeddings / events)
# ---------------------------------------------------------------------------

def q_exact_dedup(spark, sf_dir):
    return dedup.exact_duplicates(_t(spark, sf_dir, "documents"))


_Q_EXACT_DEDUP_SQL = (
    "SELECT md5(text) AS text_hash, min(doc_id) AS canonical_id,"
    " count(*) AS n_docs FROM documents GROUP BY md5(text)"
)


def q_minhash(spark, sf_dir):
    return dedup.minhash_signatures(
        _t(spark, sf_dir, "documents"), num_hashes=N_MINHASH
    )


_MINHASH_SELECT = (
    "SELECT doc_id, "
    + ", ".join(f"min(md5(shingle || '#{i}')) AS h{i}" for i in range(N_MINHASH))
    + " FROM sh WHERE shingle <> '' GROUP BY doc_id"
)


def _minhash_sql() -> str:
    return f"WITH {_SHINGLES_CTE} {_MINHASH_SELECT}"


def q_lsh_pairs(spark, sf_dir):
    sigs = dedup.minhash_signatures(
        _t(spark, sf_dir, "documents"), num_hashes=N_MINHASH
    )
    return dedup.lsh_candidate_pairs(sigs, band_size=2)


def _lsh_pairs_sql() -> str:
    bands = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, concat_ws('|', h{2*b}, h{2*b+1}) AS value FROM sig"
        for b in range(N_MINHASH // 2)
    )
    return (
        f"WITH {_SHINGLES_CTE}, sig AS ({_MINHASH_SELECT}), "
        f"buckets AS ({bands}) "
        "SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b "
        "FROM buckets a JOIN buckets b "
        "ON a.band = b.band AND a.value = b.value AND a.doc_id < b.doc_id"
    )


def q_jaccard(spark, sf_dir):
    return dedup.jaccard_pairs(_t(spark, sf_dir, "documents"), threshold=0.3)


_Q_JACCARD_SQL = f"""
WITH {_SHINGLES_CTE},
sizes AS (SELECT doc_id, count(*) AS sz FROM sh WHERE shingle <> '' GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  WHERE a.shingle <> ''
  GROUP BY a.doc_id, b.doc_id)
SELECT doc_a, doc_b, inter, sa.sz AS size_a, sb.sz AS size_b,
       round(inter / (sa.sz + sb.sz - inter), 6) AS jaccard
FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(inter / (sa.sz + sb.sz - inter), 6) >= 0.3
"""


def q_near_dup_verified(spark, sf_dir):
    """The scale-correct near-dup shape: LSH candidates -> exact Jaccard
    verification on candidates only, with stop-shingle (max_df) removal."""
    return dedup.verified_near_duplicates(
        _t(spark, sf_dir, "documents"), threshold=0.3, max_df=200
    )


# CTE chain shared by the near_dup_verified oracle and the dedup
# cluster/corpus oracles (which extend it with a recursive closure)
_NEAR_DUP_CTES = f"""{_SHINGLES_CTE},
sig AS ({_MINHASH_SELECT}),
buckets AS (
  SELECT doc_id, 0 AS band, concat_ws('|', h0, h1) AS value FROM sig
  UNION ALL SELECT doc_id, 1, concat_ws('|', h2, h3) FROM sig
  UNION ALL SELECT doc_id, 2, concat_ws('|', h4, h5) FROM sig
  UNION ALL SELECT doc_id, 3, concat_ws('|', h6, h7) FROM sig),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM buckets a JOIN buckets b
    ON a.band = b.band AND a.value = b.value AND a.doc_id < b.doc_id),
shf AS (
  SELECT doc_id, shingle FROM sh
  WHERE shingle <> '' AND shingle NOT IN (
    SELECT shingle FROM sh WHERE shingle <> ''
    GROUP BY shingle HAVING count(*) > 200)),
sizes AS (SELECT doc_id, count(*) AS sz FROM shf GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS inter
  FROM cands c
  JOIN shf a ON a.doc_id = c.doc_a
  JOIN shf b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY c.doc_a, c.doc_b)"""

_NEAR_DUP_SELECT = """
SELECT doc_a, doc_b, inter, sa.sz AS size_a, sb.sz AS size_b,
       round(inter / (sa.sz + sb.sz - inter), 6) AS jaccard
FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(inter / (sa.sz + sb.sz - inter), 6) >= 0.3"""

_Q_NEAR_DUP_SQL = f"WITH {_NEAR_DUP_CTES} {_NEAR_DUP_SELECT}"


def _plant_pii(doc_id_col, text_col):
    """Deterministic PII planted per doc (the synthetic corpus has none):
    built with the IDENTICAL expression in Spark and the SQL oracle."""
    return F.concat(
        text_col,
        F.lit(" contact user"),
        doc_id_col.cast("string"),
        F.lit("@example.com from 10.0."),
        (doc_id_col % 256).cast("string"),
        F.lit(".7"),
        F.when(doc_id_col % 3 == 0, F.lit(" call +1 555-0001234")).otherwise(
            F.lit("")
        ),
    )


def q_pii_scrub(spark, sf_dir):
    """PII redaction (operators/textops.scrub_pii): emails / IPv4 / phone
    runs replaced by typed tokens, per-category counts. Narrow codegen'd
    regex chain — zero shuffles."""
    d = _t(spark, sf_dir, "documents")
    planted = d.select(
        "doc_id", _plant_pii(F.col("doc_id"), F.col("text")).alias("text")
    )
    return textops.scrub_pii(planted)


def _pii_scrub_sql() -> str:
    from opentopodata_spark.operators.textops import PII_PATTERNS

    pats = dict(PII_PATTERNS)
    email, ipv4, phone = pats["email"], pats["ipv4"], pats["phone"]
    # the chain mirrors scrub_pii exactly: each count is taken on the text
    # as redacted by the PREVIOUS stages
    t0 = "text"
    t1 = f"regexp_replace({t0}, '{email}', '<EMAIL>', 'g')"
    t2 = f"regexp_replace({t1}, '{ipv4}', '<IPV4>', 'g')"
    t3 = f"regexp_replace({t2}, '{phone}', '<PHONE>', 'g')"
    return f"""
WITH planted AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com from 10.0.'
              || CAST(doc_id % 256 AS VARCHAR) || '.7'
              || CASE WHEN doc_id % 3 = 0 THEN ' call +1 555-0001234'
                      ELSE '' END AS text
  FROM documents)
SELECT doc_id,
       {t3} AS clean,
       len(regexp_extract_all({t0}, '{email}')) AS n_email,
       len(regexp_extract_all({t1}, '{ipv4}')) AS n_ipv4,
       len(regexp_extract_all({t2}, '{phone}')) AS n_phone
FROM planted
"""


def q_text_normalize(spark, sf_dir):
    """Whitespace/case/control-char normalization
    (operators/textops.normalize_text) — the pre-hash canonicalization
    pass for noise-insensitive exact dedup."""
    d = _t(spark, sf_dir, "documents")
    noisy = d.select(
        "doc_id",
        F.concat(F.lit("  \t"), F.col("text"), F.lit("  X\x01Y  ")).alias("text"),
    )
    return textops.normalize_text(noisy)


_Q_TEXT_NORMALIZE_SQL = r"""
SELECT doc_id,
       trim(regexp_replace(regexp_replace(
           lower('  ' || chr(9) || text || '  X' || chr(1) || 'Y  '),
           '[\x00-\x1F\x7F]', ' ', 'g'), '  +', ' ', 'g')) AS norm
FROM documents
"""


def q_html_extract(spark, sf_dir):
    """HTML -> text extraction (operators/textops.html_to_text): strip
    container elements / comments / tags, block closers -> newlines,
    fixed entity decode, whitespace discipline. The synthetic corpus is
    plain text, so each doc is first wrapped in a deterministic HTML
    shell (same expression in the SQL oracle) including a <script>, a
    <style>-bearing <head>, entities, and nav-ish <li> noise. Pure
    codegen'd regexp projection — zero shuffles, scan-speed at 100 TB."""
    d = _t(spark, sf_dir, "documents")
    planted = d.select(
        "doc_id",
        F.concat(
            F.lit("<html><head><title>doc</title><style>p{color:red}"
                  "</style></head><body><h1>"),
            F.substring(F.col("text"), 1, 40),
            F.lit("</h1><script>if(a<b){track()}</script><p>"),
            F.col("text"),
            F.lit("</p><ul><li>nav&nbsp;home</li><li>x</li></ul>"
                  "<div>tail &amp; fin &#39;q&#39;</div></body></html>"),
        ).alias("html"),
    )
    return textops.html_to_text(planted)


def _html_extract_sql() -> str:
    from opentopodata_spark.operators.textops import html_text_sql

    frag = html_text_sql("html")
    return f"""
WITH planted AS (
  SELECT doc_id,
         '<html><head><title>doc</title><style>p{{color:red}}</style>'
         || '</head><body><h1>' || substr(text, 1, 40)
         || '</h1><script>if(a<b){{track()}}</script><p>' || text
         || '</p><ul><li>nav&nbsp;home</li><li>x</li></ul>'
         || '<div>tail &amp; fin &#39;q&#39;</div></body></html>' AS html
  FROM documents),
extracted AS (SELECT doc_id, {frag} AS text FROM planted)
SELECT doc_id, text,
       CASE WHEN text = '' THEN 0
            ELSE len(string_split(text, chr(10))) END AS n_lines,
       length(text) AS n_chars
FROM extracted
"""


def q_crawl_pipeline(spark, sf_dir):
    """Capstone composition — the crawl front half as ONE Catalyst plan:
    deterministic HTML wrap -> html_to_text -> min-token filter ->
    exact dedup (min doc_id per md5 of the EXTRACTED text) ->
    deterministic 50% sample. Every stage reuses an operator whose
    oracle is already green; this query pins that they compose (column
    flow, null discipline, one shuffle for the dedup window)."""
    from opentopodata_spark.operators.exprutil import tokens

    d = _t(spark, sf_dir, "documents")
    planted = d.select(
        "doc_id", "lang",
        F.concat(
            F.lit("<html><head><title>doc</title><style>p{color:red}"
                  "</style></head><body><h1>"),
            F.substring(F.col("text"), 1, 40),
            F.lit("</h1><script>if(a<b){track()}</script><p>"),
            F.col("text"),
            F.lit("</p><ul><li>nav&nbsp;home</li><li>x</li></ul>"
                  "<div>tail &amp; fin &#39;q&#39;</div></body></html>"),
        ).alias("html"),
    )
    extracted = planted.select(
        "doc_id", "lang",
        textops.html_text_expr("html").alias("text"),
    )
    filtered = extracted.withColumn(
        "n_tokens", F.size(tokens("text")).cast("long")
    ).where(F.col("n_tokens") >= 10)
    from pyspark.sql import Window

    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    deduped = (
        filtered.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1).drop("rn")
    )
    out = deduped.withColumn(
        "sample_key", sampling.sample_key("doc_id", "pipe")
    ).where(F.col("sample_key") < F.lit(sampling.rate_threshold(0.5)))
    return out.select("doc_id", "lang", "n_tokens", "sample_key")


def _crawl_pipeline_sql() -> str:
    from opentopodata_spark.operators.textops import html_text_sql

    frag = html_text_sql("html")
    thr = sampling.rate_threshold(0.5)
    return f"""
WITH planted AS (
  SELECT doc_id, lang,
         '<html><head><title>doc</title><style>p{{color:red}}</style>'
         || '</head><body><h1>' || substr(text, 1, 40)
         || '</h1><script>if(a<b){{track()}}</script><p>' || text
         || '</p><ul><li>nav&nbsp;home</li><li>x</li></ul>'
         || '<div>tail &amp; fin &#39;q&#39;</div></body></html>' AS html
  FROM documents),
extracted AS (SELECT doc_id, lang, {frag} AS text FROM planted),
filtered AS (
  SELECT doc_id, lang, text,
         len(list_filter(string_split(text, ' '), x -> x <> ''))
           AS n_tokens
  FROM extracted
  WHERE len(list_filter(string_split(text, ' '), x -> x <> '')) >= 10),
deduped AS (
  SELECT *, row_number() OVER (PARTITION BY md5(text)
                               ORDER BY doc_id) AS rn
  FROM filtered)
SELECT doc_id, lang, n_tokens,
       substr(md5('pipe#' || CAST(doc_id AS VARCHAR)), 1, 6) AS sample_key
FROM deduped
WHERE rn = 1
  AND substr(md5('pipe#' || CAST(doc_id AS VARCHAR)), 1, 6) < '{thr}'
"""


_CHUNK_TOKENS, _CHUNK_STRIDE = 32, 24


def q_chunk_documents(spark, sf_dir):
    """Fixed-token-window chunking with overlap (textops.chunk_documents):
    the sequence-prep step before tokenizer packing — fully narrow, one
    posexplode, zero shuffles."""
    return textops.chunk_documents(
        _t(spark, sf_dir, "documents"),
        chunk_tokens=_CHUNK_TOKENS,
        stride=_CHUNK_STRIDE,
    )


# merge budget deliberately SMALLER than the synthetic vocabulary needs
# to fuse every word, so rarer words split into genuine subword pieces
# and the BPE chunks differ from whitespace chunks (otherwise the oracle
# would only re-check whitespace chunking under another name)
_BPE_MERGES, _BPE_TOP_N = 25, 100_000
_BPE_TOK_CACHE: dict = {}


def _bpe_tokenizer_for(sf_dir: str, spark=None):
    """Deterministic tokenizer for an sf_dir: Spark-side distributed word
    count when a session is given, pure-Python count otherwise — both
    feed the same deterministic train_bpe, so the merges are identical
    (asserted implicitly by the chunk oracle hash)."""
    key = os.path.abspath(sf_dir)
    tok = _BPE_TOK_CACHE.get(key)
    if tok is not None:
        return tok
    from opentopodata_spark import bpe

    if spark is not None:
        merges = bpe.train_bpe_spark(
            _t(spark, sf_dir, "documents"),
            num_merges=_BPE_MERGES,
            top_n=_BPE_TOP_N,
        )
    else:
        from collections import Counter

        counts: Counter = Counter()
        for text in _read_pq(sf_dir, "documents").column("text").to_pylist():
            if text:
                counts.update(text.split())
        top = dict(
            sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:_BPE_TOP_N]
        )
        merges = bpe.train_bpe(top, num_merges=_BPE_MERGES)
    tok = bpe.BPETokenizer(merges)
    _BPE_TOK_CACHE[key] = tok
    return tok


def q_chunk_documents_bpe(spark, sf_dir):
    """Subword (BPE) chunking: a vocabulary is trained distributed (one
    word-count groupBy, driver-side merge learning — how production
    tokenizers are built), then windows of 32 BPE pieces with stride 24
    are cut and detokenized, Arrow-batched piece UDF + Catalyst
    windowing. Oracle = an independent pure-Python replay (word count ->
    same deterministic trainer -> encode -> window)."""
    return textops.chunk_documents(
        _t(spark, sf_dir, "documents"),
        chunk_tokens=_CHUNK_TOKENS,
        stride=_CHUNK_STRIDE,
        tokenizer=_bpe_tokenizer_for(sf_dir, spark),
    )


def _build_bpe_chunk_oracle(sf_dir: str):
    import pyarrow as pa

    from opentopodata_spark.bpe import BPETokenizer

    tok = _bpe_tokenizer_for(sf_dir)  # pure-Python side
    docs = _read_pq(sf_dir, "documents")
    doc_ids, idxs, chunks, ntoks = [], [], [], []
    for doc_id, text in zip(
        docs.column("doc_id").to_pylist(), docs.column("text").to_pylist()
    ):
        pieces = tok.encode(text or "")
        start, k = 0, 0
        while start < len(pieces):
            window = pieces[start : start + _CHUNK_TOKENS]
            doc_ids.append(doc_id)
            idxs.append(k)
            chunks.append(BPETokenizer.detokenize(window))
            ntoks.append(len(window))
            k += 1
            start += _CHUNK_STRIDE
    return pa.table(
        {
            "doc_id": pa.array(doc_ids, type=docs.column("doc_id").type),
            "chunk_idx": pa.array(idxs, type=pa.int64()),
            "chunk": pa.array(chunks, type=pa.string()),
            "n_tokens": pa.array(ntoks, type=pa.int64()),
        }
    )


_Q_CHUNK_SQL = f"""
WITH tok AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),
w AS (SELECT doc_id, toks,
        unnest(generate_series(1,
          CASE WHEN len(toks) = 0 THEN 0
               ELSE (len(toks) - 1) // {_CHUNK_STRIDE} + 1 END)) AS k
      FROM tok)
SELECT doc_id,
       CAST(k - 1 AS BIGINT) AS chunk_idx,
       array_to_string(
         toks[(k - 1) * {_CHUNK_STRIDE} + 1
              : (k - 1) * {_CHUNK_STRIDE} + {_CHUNK_TOKENS}], ' ') AS chunk,
       CAST(least({_CHUNK_TOKENS},
                  len(toks) - (k - 1) * {_CHUNK_STRIDE}) AS BIGINT) AS n_tokens
FROM w
"""


def q_corpus_stats(spark, sf_dir):
    """Per-language corpus length profile (textops.corpus_stats): doc
    counts, token totals, mean and exact interpolated p50/p95/p99 token
    counts — one grouped aggregate, group count = languages."""
    return textops.corpus_stats(_t(spark, sf_dir, "documents"), by="lang")


_Q_CORPUS_STATS_SQL = f"""
WITH t AS (SELECT lang, len({_TOKENS_SQL}) AS n_tok FROM documents)
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS total_tokens,
       round(avg(n_tok), 6) AS mean_tokens,
       round(quantile_cont(n_tok, 0.5), 6) AS p50_tokens,
       round(quantile_cont(n_tok, 0.95), 6) AS p95_tokens,
       round(quantile_cont(n_tok, 0.99), 6) AS p99_tokens
FROM t GROUP BY lang
"""


def q_corpus_stats_approx(spark, sf_dir):
    """The 10^12-doc path of corpus_stats: approx_percentile (mergeable
    KLL-style sketch, bounded memory per group) instead of the exact
    buffered percentile. At accuracy >= group size the sketch holds every
    value, so it returns the exact discrete quantile (nearest actual
    value at rank round(p*(n-1))+1) — which DuckDB's quantile_disc
    reproduces; the approximation trade only appears past the accuracy
    bound, where no small-scale oracle exists by construction."""
    return textops.corpus_stats(
        _t(spark, sf_dir, "documents"), by="lang", approx=True
    )


_Q_CORPUS_STATS_APPROX_SQL = f"""
WITH t AS (SELECT lang, len({_TOKENS_SQL}) AS n_tok FROM documents)
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS total_tokens,
       round(avg(n_tok), 6) AS mean_tokens,
       round(CAST(quantile_disc(n_tok, 0.5) AS DOUBLE), 6) AS p50_tokens,
       round(CAST(quantile_disc(n_tok, 0.95) AS DOUBLE), 6) AS p95_tokens,
       round(CAST(quantile_disc(n_tok, 0.99) AS DOUBLE), 6) AS p99_tokens
FROM t GROUP BY lang
"""


# BM25 search fixture queries — terms drawn from the synthetic corpus
# vocabulary; shared verbatim by the Spark query and the SQL oracle
_BM25_QUERIES = [
    (1, "spark window agg"),
    (2, "customer query join"),
    (3, "vector hash table"),
]
_BM25_K, _BM25_K1, _BM25_B = 10, 1.2, 0.75


def q_bm25_search(spark, sf_dir):
    """Okapi BM25 top-k retrieval over the documents corpus (inverted-
    index shape: postings pruned by a broadcast query-term dictionary
    BEFORE their one shuffle). operators/search.bm25_topk."""
    from opentopodata_spark.operators import search

    docs = _t(spark, sf_dir, "documents")
    queries = spark.createDataFrame(_BM25_QUERIES, "query_id long, query string")
    return search.bm25_topk(
        docs, queries, k=_BM25_K, k1=_BM25_K1, b=_BM25_B
    )


def _bm25_sql() -> str:
    values = ", ".join(f"({i}, '{q}')" for i, q in _BM25_QUERIES)
    k1, b = _BM25_K1, _BM25_B
    qtoks = "list_filter(string_split(query, ' '), x -> x <> '')"
    return f"""
WITH q(query_id, query) AS (VALUES {values}),
qt AS (SELECT DISTINCT query_id, unnest({qtoks}) AS term FROM q),
stats AS (SELECT count(*) AS n_docs, avg(len({_TOKENS_SQL})) AS avgdl
          FROM documents),
occ AS (SELECT doc_id, len({_TOKENS_SQL}) AS dl, unnest({_TOKENS_SQL}) AS term
        FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf, min(dl) AS dl FROM occ
       WHERE term IN (SELECT term FROM qt) GROUP BY doc_id, term),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT qt.query_id, tf.doc_id,
         round(sum(ln(1 + (s.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
                   * tf.tf * ({k1} + 1)
                   / (tf.tf + {k1} * (1 - {b} + {b} * tf.dl / s.avgdl))), 6)
           AS score
  FROM tf JOIN dfreq USING (term) JOIN qt USING (term) CROSS JOIN stats s
  GROUP BY qt.query_id, tf.doc_id),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, doc_id) AS rank
      FROM scored)
SELECT query_id, doc_id, CAST(rank AS INT) AS rank, score
FROM r WHERE rank <= {_BM25_K}
"""


# Contamination composite (operators/contamination): benchmark set
# derived deterministically FROM the documents table (no external data) —
# every 997th doc contributes tokens 3..17 as a benchmark item, so real
# verbatim contamination (the source doc, coverage 1.0) and incidental
# gram collisions both occur.
_CONTAM_N, _CONTAM_K, _CONTAM_MOD = 5, 10, 23


def _contam_bench(spark, sf_dir):
    from opentopodata_spark.operators.exprutil import tokens

    docs = _t(spark, sf_dir, "documents")
    return (
        docs.where(F.col("doc_id") % _CONTAM_MOD == 0)
        .select(
            F.col("doc_id").alias("bench_id"),
            F.concat_ws(" ", F.slice(tokens("text"), 3, 15)).alias("text"),
        )
        .where(F.col("text") != "")
    )


def q_contamination_check(spark, sf_dir):
    """Benchmark-contamination composite: exact 5-gram collisions
    (broadcast bench gram dictionary pruning the corpus gram stream)
    full-outer BM25 top-k with benchmark items as queries
    (operators/contamination.contamination_check, VERDICT r02 #8)."""
    from opentopodata_spark.operators import contamination

    docs = _t(spark, sf_dir, "documents")
    return contamination.contamination_check(
        docs, _contam_bench(spark, sf_dir), n=_CONTAM_N, k=_CONTAM_K
    )


def _contamination_sql() -> str:
    n, k, k1, b = _CONTAM_N, _CONTAM_K, _BM25_K1, _BM25_B
    gram = f"array_to_string(toks[i:i + {n - 1}], ' ')"
    series = f"generate_series(1, greatest(len(toks) - {n}, 0) + 1)"
    return f"""
WITH tok AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),
bench AS (SELECT doc_id AS bench_id,
                 array_to_string(toks[3:17], ' ') AS btext
          FROM tok WHERE doc_id % {_CONTAM_MOD} = 0
            AND array_to_string(toks[3:17], ' ') <> ''),
btok AS (SELECT bench_id, {_TOKENS_SQL.replace("text", "btext")} AS toks
         FROM bench),
bgr AS (SELECT bench_id, unnest(list_distinct([{gram} for i in {series}]))
          AS gram FROM btok),
bsz AS (SELECT bench_id, count(*) AS bench_n FROM bgr WHERE gram <> ''
        GROUP BY bench_id),
dgr AS (SELECT doc_id, unnest(list_distinct([{gram} for i in {series}]))
          AS gram FROM tok),
ov AS (SELECT b.bench_id, d.doc_id, CAST(count(*) AS BIGINT) AS n_shared
       FROM dgr d JOIN bgr b USING (gram) WHERE gram <> ''
       GROUP BY b.bench_id, d.doc_id),
ovc AS (SELECT bench_id, doc_id, n_shared,
               round(n_shared / bench_n, 6) AS coverage
        FROM ov JOIN bsz USING (bench_id)),
qt AS (SELECT DISTINCT bench_id AS query_id, unnest(toks) AS term FROM btok
       WHERE len(toks) > 0),
stats AS (SELECT count(*) AS n_docs, avg(len(toks)) AS avgdl FROM tok),
occ AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM tok),
tf AS (SELECT doc_id, term, count(*) AS tf, min(dl) AS dl FROM occ
       WHERE term IN (SELECT term FROM qt) GROUP BY doc_id, term),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT qt.query_id, tf.doc_id,
         round(sum(ln(1 + (s.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
                   * tf.tf * ({k1} + 1)
                   / (tf.tf + {k1} * (1 - {b} + {b} * tf.dl / s.avgdl))), 6)
           AS score
  FROM tf JOIN dfreq USING (term) JOIN qt USING (term) CROSS JOIN stats s
  GROUP BY qt.query_id, tf.doc_id),
r AS (SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, doc_id) AS rank
        FROM scored) WHERE rank <= {k})
SELECT coalesce(o.bench_id, r.query_id) AS bench_id,
       coalesce(o.doc_id, r.doc_id) AS doc_id,
       coalesce(o.n_shared, 0) AS n_shared_grams,
       coalesce(o.coverage, 0.0) AS gram_coverage,
       CAST(r.rank AS INT) AS bm25_rank,
       r.score AS bm25_score
FROM ovc o FULL OUTER JOIN r
  ON o.bench_id = r.query_id AND o.doc_id = r.doc_id
"""


def q_dedup_clusters(spark, sf_dir):
    """Near-dup components: pairwise verified verdicts -> disjoint
    clusters via alternating large-star/small-star connected components
    (operators/dedup.connected_components); every document gets the min
    doc_id of its component (itself when singleton). The oracle replays
    the pair SQL and closes it with a recursive CTE — transitive closure
    is fine at oracle scale, only the Spark side needs the O(log² n)
    algorithm."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.verified_near_duplicates(docs, threshold=0.3, max_df=200)
    return dedup.dedup_clusters(docs, pairs)


# closure over the verified pairs: reach(u, v) = v is in u's component;
# cluster = min(self, reachable)
_DEDUP_CLOSURE_CTES = f"""{_NEAR_DUP_CTES},
pairs AS (SELECT doc_a, doc_b FROM ({_NEAR_DUP_SELECT}) verified),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
comp AS (
  SELECT u AS doc_id, least(u, min(v)) AS cluster_id FROM reach GROUP BY u)"""

_Q_DEDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE {_DEDUP_CLOSURE_CTES}
SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
"""


def q_dedup_corpus(spark, sf_dir):
    """The deduplicated corpus: one representative (min doc_id) per
    near-dup cluster plus every singleton — the end-to-end output a
    training run actually consumes (shingle -> MinHash -> LSH -> verify
    -> components -> keep-one)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    pairs = dedup.verified_near_duplicates(
        _t(spark, sf_dir, "documents"), threshold=0.3, max_df=200
    )
    return dedup.dedup_corpus(docs, pairs)


_Q_DEDUP_CORPUS_SQL = f"""
WITH RECURSIVE {_DEDUP_CLOSURE_CTES}
SELECT d.doc_id, d.lang, d.source
FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
WHERE c.doc_id IS NULL OR c.cluster_id = d.doc_id
"""


def q_simhash(spark, sf_dir):
    return dedup.simhash(_t(spark, sf_dir, "documents"), bits=16)


def _simhash_sql(bits: int = 16) -> str:
    votes = ", ".join(
        f"sum(CASE WHEN ((h >> {b}) & 1) = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(bits)
    )
    recompose = " + ".join(
        f"CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(bits)
    )
    return f"""
WITH tok AS (SELECT doc_id, unnest({_TOKENS_SQL}) AS tok FROM documents),
hashed AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM tok),
votes AS (SELECT doc_id, {votes} FROM hashed GROUP BY doc_id)
SELECT doc_id, CAST({recompose} AS BIGINT) AS simhash FROM votes
"""


def _synth_urls(spark, sf_dir):
    """Deterministic messy URLs from doc_id: mixed case, www, default and
    explicit ports, tracking params, trailing slashes, fragments, and
    two-level public suffixes — every normalize_url path."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    k = F.col("doc_id")
    scheme = F.when(k % 3 == 0, F.lit("HTTPS")).otherwise(F.lit("http"))
    host = (
        F.when(k % 6 == 0, F.lit("Example.COM"))
        .when(k % 6 == 1, F.lit("www.news.co.uk"))
        .when(k % 6 == 2, F.lit("blog.example.com"))
        .when(k % 6 == 3, F.lit("spam.bad-site.net"))
        .when(k % 6 == 4, F.lit("shop.example.com.au"))
        .otherwise(F.lit("cdn.example.com"))
    )
    port = (
        F.when(k % 4 == 0, F.when(k % 3 == 0, F.lit(":443")).otherwise(F.lit(":80")))
        .when(k % 7 == 0, F.lit(":8080"))
        .otherwise(F.lit(""))
    )
    path = (
        F.when(k % 5 == 0, F.lit(""))
        .when(k % 5 == 1, F.lit("/a"))
        .when(k % 5 == 2, F.lit("/a/b"))
        .when(k % 5 == 3, F.lit("/a/b/"))
        .otherwise(F.lit("/Path/X"))
    )
    query = (
        F.when(k % 4 == 0, F.concat(F.lit("?utm_source=tw&z=1&a="), (k % 9).cast("string")))
        .when(k % 4 == 1, F.lit("?z=1&a=2"))
        .when(k % 4 == 2, F.lit("?utm_campaign=x"))
        .otherwise(F.lit(""))
    )
    frag = F.when(k % 2 == 0, F.lit("#sec")).otherwise(F.lit(""))
    return d.select(
        "doc_id",
        "text",
        F.concat(scheme, F.lit("://"), host, port, path, query, frag).alias("url"),
    )


_URL_SYNTH_SQL = """
SELECT doc_id, text,
  (CASE WHEN doc_id % 3 = 0 THEN 'HTTPS' ELSE 'http' END) || '://'
  || (CASE doc_id % 6 WHEN 0 THEN 'Example.COM' WHEN 1 THEN 'www.news.co.uk'
        WHEN 2 THEN 'blog.example.com' WHEN 3 THEN 'spam.bad-site.net'
        WHEN 4 THEN 'shop.example.com.au' ELSE 'cdn.example.com' END)
  || (CASE WHEN doc_id % 4 = 0
           THEN (CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE ':80' END)
        WHEN doc_id % 7 = 0 THEN ':8080' ELSE '' END)
  || (CASE doc_id % 5 WHEN 0 THEN '' WHEN 1 THEN '/a' WHEN 2 THEN '/a/b'
        WHEN 3 THEN '/a/b/' ELSE '/Path/X' END)
  || (CASE doc_id % 4 WHEN 0 THEN '?utm_source=tw&z=1&a=' || CAST(doc_id % 9 AS VARCHAR)
        WHEN 1 THEN '?z=1&a=2' WHEN 2 THEN '?utm_campaign=x' ELSE '' END)
  || (CASE WHEN doc_id % 2 = 0 THEN '#sec' ELSE '' END) AS url
FROM documents
"""

# DuckDB replay of urlops.normalize_url / registrable_domain (same regex
# vocabulary; list_slice is end-index based where Spark's slice is
# length-based, hence the differing third arguments)
_URL_NORM_SQL_BODY = """
parts AS (
  SELECT doc_id, text, url,
    lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
    lower(regexp_extract(regexp_extract(url,
        '^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?([^/?#]*)', 1), '([^@]*)$', 1)) AS hostport,
    regexp_extract(url, '^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?[^/?#]*([^?#]*)', 1) AS path0,
    coalesce(regexp_extract(url, '\\?([^#]*)', 1), '') AS query0
  FROM urls),
hp AS (
  SELECT *,
    CASE WHEN hostport LIKE '[%' THEN hostport
         ELSE regexp_extract(hostport, '^([^:]*)', 1) END AS rawhost,
    CASE WHEN hostport LIKE '[%' THEN ''
         ELSE coalesce(regexp_extract(hostport, ':([0-9]+)$', 1), '') END AS port
  FROM parts),
norm AS (
  SELECT doc_id, text, scheme,
    regexp_replace(rawhost, '^www\\.', '') AS host,
    CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
              OR (scheme = 'https' AND port = '443')
         THEN '' ELSE ':' || port END AS portpart,
    CASE WHEN regexp_replace(path0, '/+$', '') = '' THEN '/'
         ELSE regexp_replace(path0, '/+$', '') END AS path,
    coalesce(array_to_string(list_sort(list_filter(string_split(query0, '&'),
      x -> x <> '' AND NOT regexp_matches(x,
        '^(utm_[a-z]*|fbclid|gclid|msclkid|mc_eid|igshid|ref_src)='))), '&'), '') AS q
  FROM hp),
built AS (
  SELECT doc_id, text, host,
    scheme || '://' || host || portpart || path
      || CASE WHEN q = '' THEN '' ELSE '?' || q END AS url_norm,
    string_split(host, '.') AS ls
  FROM norm),
named AS (
  SELECT doc_id, text, host, url_norm,
    CASE WHEN len(ls) >= 3 AND array_to_string(
            list_slice(ls, len(ls) - 1, len(ls)), '.') IN
            ('co.uk','org.uk','ac.uk','gov.uk','com.au','net.au','org.au',
             'co.jp','ne.jp','or.jp','com.br','com.cn','com.mx','co.in',
             'co.kr','co.za','com.tr')
         THEN array_to_string(list_slice(ls, len(ls) - 2, len(ls)), '.')
         ELSE array_to_string(list_slice(ls, greatest(len(ls) - 1, 1), len(ls)), '.')
    END AS domain
  FROM built)
"""


def q_url_normalize(spark, sf_dir):
    """operators/urlops: canonical URL + registrable domain per doc —
    pure regexp/array column expressions, zero Python, zero shuffles."""
    from opentopodata_spark.operators import urlops

    u = _synth_urls(spark, sf_dir)
    host = urlops.url_parts(F.col("url"))["host"]
    return u.select(
        "doc_id",
        urlops.normalize_url(F.col("url")).alias("url_norm"),
        F.regexp_replace(host, "^www\\.", "").alias("host"),
        urlops.registrable_domain(F.regexp_replace(host, "^www\\.", "")).alias(
            "domain"
        ),
    )


_Q_URL_NORM_SQL = f"""
WITH urls AS ({_URL_SYNTH_SQL}),
{_URL_NORM_SQL_BODY}
SELECT doc_id, url_norm, host, domain FROM named
"""


def q_domain_stats(spark, sf_dir):
    """operators/urlops: blocklist anti-join then one per-domain hash
    aggregation; n_urls counts DISTINCT NORMALIZED urls so tracking
    params don't inflate page counts."""
    from opentopodata_spark.operators import urlops

    u = _synth_urls(spark, sf_dir)
    kept = urlops.blocklist_filter(u, ["bad-site.net"])
    return urlops.domain_stats(kept)


_Q_DOMAIN_STATS_SQL = f"""
WITH urls AS ({_URL_SYNTH_SQL}),
{_URL_NORM_SQL_BODY}
SELECT domain,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT url_norm) AS BIGINT) AS n_urls,
       CAST(sum(length(text)) AS BIGINT) AS total_chars
FROM named
WHERE domain <> 'bad-site.net'
GROUP BY domain
"""


def q_ngram_lm_ppl(spark, sf_dir):
    """operators/lm: bigram LM trained on the documents table, every
    document scored against it (self-perplexity — the CCNet-style
    quality signal). Exact, deterministic, fully SQL-replayable."""
    from opentopodata_spark.operators import lm

    docs = _t(spark, sf_dir, "documents")
    return lm.perplexity(docs, lm.train_bigram_lm(docs))


_Q_LM_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         list_concat(list_concat(['<s>'], {_TOKENS_SQL}), ['</s>']) AS f
  FROM documents),
bg AS (
  SELECT doc_id, f[i] AS w1, f[i + 1] AS w2
  FROM toks, UNNEST(generate_series(1, len(f) - 1)) AS g(i)),
model AS (SELECT w1, w2, count(*) AS c FROM bg GROUP BY w1, w2),
ctx AS (SELECT w1, sum(c) AS ctx_c FROM model GROUP BY w1),
voc AS (SELECT count(DISTINCT w2) AS v FROM model),
lp AS (
  SELECT b.doc_id,
         ln((coalesce(m.c, 0) + 0.1) / (coalesce(x.ctx_c, 0) + 0.1 * voc.v)) AS lp
  FROM bg b
  LEFT JOIN model m ON b.w1 = m.w1 AND b.w2 = m.w2
  LEFT JOIN ctx x ON b.w1 = x.w1
  CROSS JOIN voc)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       round(sum(lp), 4) AS logprob,
       round(exp(-sum(lp) / count(*)), 4) AS ppl
FROM lp GROUP BY doc_id
"""


def q_pack_sequences(spark, sf_dir):
    """operators/packing: deterministic contiguous sequence packing via a
    distributed two-level prefix sum (per-bucket partials + broadcast
    bases — no single-task global window)."""
    from opentopodata_spark.operators import packing

    return packing.pack_sequences(
        _t(spark, sf_dir, "documents"), seq_len=128, bucket_shift=5
    )


_Q_PACK_SQL = f"""
WITH d AS (
  SELECT doc_id, CAST(len({_TOKENS_SQL}) AS BIGINT) AS n_tok FROM documents),
nz AS (SELECT * FROM d WHERE n_tok > 0),
off AS (
  SELECT doc_id, n_tok,
         CAST(sum(n_tok) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok
              AS BIGINT) AS o
  FROM nz),
ex AS (
  SELECT doc_id, n_tok, o, s.seq_id
  FROM off, UNNEST(generate_series(o // 128, (o + n_tok - 1) // 128)) AS s(seq_id))
SELECT CAST(seq_id AS BIGINT) AS seq_id, doc_id,
       CAST(greatest(seq_id * 128 - o, 0) AS BIGINT) AS doc_from,
       CAST(least(seq_id * 128 + 127 - o, n_tok - 1) AS BIGINT) AS doc_to,
       CAST(greatest(o - seq_id * 128, 0) AS BIGINT) AS seq_from
FROM ex
"""


def q_collocations(spark, sf_dir):
    """operators/lm.collocations: top-100 word pairs by PMI (min count
    5) — one (w1,w2) aggregation, marginals as windows over that small
    stream, deterministic (pmi desc, w1, w2) cut."""
    from opentopodata_spark.operators import lm

    return lm.collocations(_t(spark, sf_dir, "documents"), min_count=5, k=100)


_Q_COLLOC_SQL = f"""
WITH toks AS (SELECT doc_id, {_TOKENS_SQL} AS f FROM documents),
bg AS (SELECT f[i] AS w1, f[i + 1] AS w2
       FROM toks, UNNEST(generate_series(1, len(f) - 1)) AS g(i)),
pairs AS (SELECT w1, w2, count(*) AS c FROM bg GROUP BY w1, w2),
m AS (SELECT *,
        sum(c) OVER (PARTITION BY w1) AS c1,
        sum(c) OVER (PARTITION BY w2) AS c2,
        sum(c) OVER () AS n FROM pairs)
SELECT w1, w2, CAST(c AS BIGINT) AS c,
       round(ln(c * 1.0 * n / (c1 * 1.0 * c2)), 6) AS pmi
FROM m WHERE c >= 5
ORDER BY pmi DESC, w1, w2 LIMIT 100
"""


_DSIR_KW = dict(n_buckets=4096, smoothing=1.0, seed="dsir")
_DSIR_K = 60


def q_dsir_select(spark, sf_dir):
    """DSIR importance resampling (arXiv:2302.03169): the documents
    table md5-split into a ~1/16 'target' slice and the raw rest;
    hashed unigram+bigram bucket log-ratios (integer micro-units, so
    the per-doc reduction is an exact order-independent sum) score
    every raw doc, and Gumbel-top-k (md5 uniforms) selects 60. Two
    corpus scans + one broadcast-join shuffle; oracle is full ANSI SQL
    over the same parquet."""
    from opentopodata_spark.operators import dsir

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    split = F.substring(F.md5(F.col("doc_id")), 1, 1)
    return dsir.dsir_sample(
        docs.where(split >= F.lit("1")),
        docs.where(split < F.lit("1")),
        _DSIR_K, **_DSIR_KW,
    )


def _dsir_sql() -> str:
    B = _DSIR_KW["n_buckets"]
    s = _DSIR_KW["smoothing"]
    seed = _DSIR_KW["seed"]
    from opentopodata_spark.operators.dsir import HASH_MOD

    grams = """
  SELECT doc_id, unnest(toks || CASE WHEN len(toks) >= 2 THEN
           [toks[i] || ' ' || toks[i+1] FOR i IN range(1, len(toks))]
         ELSE [] END) AS gram
  FROM (SELECT doc_id, list_filter(string_split(trim(regexp_replace(
          regexp_replace(lower(coalesce(text, '')), '[^a-z0-9 ]', ' ',
          'g'), ' +', ' ', 'g')), ' '), x -> x <> '') AS toks
        FROM {src})
"""
    return f"""
WITH raw_docs AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, text FROM documents
  WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) >= '1'
), tgt_docs AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, text FROM documents
  WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '1'
), raw_grams0 AS ({grams.format(src='raw_docs')}),
tgt_grams0 AS ({grams.format(src='tgt_docs')}),
raw_grams AS (
  SELECT doc_id, list_reduce(
    [CAST(0 AS BIGINT)] || list_transform(
      range(1, length(gram) + 1),
      i -> CAST(ord(substring(gram, i::INT, 1)) AS BIGINT)),
    (a, b) -> (a * 31 + b) % {HASH_MOD}) % {B} AS bucket
  FROM raw_grams0 WHERE gram <> ''
), tgt_grams AS (
  SELECT doc_id, list_reduce(
    [CAST(0 AS BIGINT)] || list_transform(
      range(1, length(gram) + 1),
      i -> CAST(ord(substring(gram, i::INT, 1)) AS BIGINT)),
    (a, b) -> (a * 31 + b) % {HASH_MOD}) % {B} AS bucket
  FROM tgt_grams0 WHERE gram <> ''
), rc AS (SELECT bucket, count(*) AS n FROM raw_grams GROUP BY bucket),
tc AS (SELECT bucket, count(*) AS n FROM tgt_grams GROUP BY bucket),
tot AS (SELECT (SELECT coalesce(sum(n), 0) FROM rc) AS tr,
               (SELECT coalesce(sum(n), 0) FROM tc) AS tt),
lr AS (
  SELECT b.range AS bucket,
    CAST(round((ln((coalesce(tc.n, 0) + {s}) / (tot.tt + {s} * {B}))
              - ln((coalesce(rc.n, 0) + {s}) / (tot.tr + {s} * {B})))
             * 1e6) AS BIGINT) AS lr_micro
  FROM range({B}) b
  CROSS JOIN tot
  LEFT JOIN rc ON rc.bucket = b.range
  LEFT JOIN tc ON tc.bucket = b.range
), scored AS (
  SELECT g.doc_id, count(*) AS n_grams, sum(lr.lr_micro) AS w_micro
  FROM raw_grams g JOIN lr ON lr.bucket = g.bucket
  GROUP BY g.doc_id
), keyed AS (
  SELECT d.doc_id,
    CAST(coalesce(s.n_grams, 0) AS BIGINT) AS n_grams,
    coalesce(s.w_micro, 0) / 1000000.0 AS log_weight,
    round(coalesce(s.w_micro, 0) / 1000000.0
      - ln(-ln((('0x' || substring(md5('{seed}#' || d.doc_id), 1, 6))
                ::BIGINT + 0.5) / 16777216.0)), 6) AS gumbel_key
  FROM (SELECT DISTINCT doc_id FROM raw_docs) d
  LEFT JOIN scored s ON s.doc_id = d.doc_id
)
SELECT doc_id, n_grams, log_weight, gumbel_key,
  (row_number() OVER (ORDER BY gumbel_key DESC, doc_id))
    <= {_DSIR_K} AS selected
FROM keyed
"""


_PAGERANK_M = 101  # host universe (prime, so the affine edge maps mix)
_PAGERANK_T = 4  # power-iteration rounds
_PAGERANK_D = 85  # damping percentage (integer contract)


def _synth_host_edges(spark, sf_dir):
    """Deterministic host link graph from doc_id: host u = doc_id % M;
    hosts with u % 11 == 0 publish no links (dangling-mass path); the
    rest link via three affine maps gated on doc parity/mod-3 so
    out-degrees vary 1..3 and duplicates exercise the DISTINCT."""
    m = _PAGERANK_M
    d = _t(spark, sf_dir, "documents").select("doc_id")
    u = F.col("doc_id") % m
    live = (u % 11) != 0
    e1 = d.where(live).select(u.alias("src"), ((u * 7 + 1) % m).alias("dst"))
    e2 = d.where(live & (F.col("doc_id") % 2 == 0)).select(
        u.alias("src"), ((u * 13 + 5) % m).alias("dst")
    )
    e3 = d.where(live & (F.col("doc_id") % 3 == 0)).select(
        u.alias("src"), ((u * 29 + 17) % m).alias("dst")
    )
    return e1.union(e2).union(e3)


def q_host_pagerank(spark, sf_dir):
    """operators/graph: damped PageRank power iteration in exact BIGINT
    micro-units (rank // outdeg shares, dangling mass // n, integer
    damping) — order-independent integer sums make Spark, DuckDB, and
    the pure-Python twin bit-identical. Edges dedupe + hash-partition
    by src ONCE; each of the 4 rounds ships only the 1-row-per-node
    rank table (one join shuffle + one groupBy(dst) partial-agg), with
    localCheckpoint lineage truncation per round."""
    from opentopodata_spark.operators import graph

    edges = _synth_host_edges(spark, sf_dir)
    nodes = spark.range(_PAGERANK_M).select(F.col("id").alias("node"))
    r = graph.pagerank(
        edges, nodes=nodes, iterations=_PAGERANK_T, damping_pct=_PAGERANK_D
    )
    return r.select(
        F.concat(F.lit("h"), F.col("node").cast("string")).alias("host"),
        F.col("rank_units"),
    )


def _pagerank_sql() -> str:
    from opentopodata_spark.operators.graph import UNIT

    m, d, t = _PAGERANK_M, _PAGERANK_D, _PAGERANK_T
    base = UNIT // m
    hold = (100 - d) * base // 100
    iter_tpl = """
d{t} AS (SELECT coalesce(sum(r.rank), 0) AS dang
         FROM r{p} r JOIN deg g ON r.node = g.node WHERE g.outdeg = 0),
c{t} AS (SELECT e.v AS node, sum(r.rank // g.outdeg) AS c
         FROM edges e JOIN r{p} r ON e.u = r.node
                      JOIN deg g ON e.u = g.node
         GROUP BY e.v),
r{t} AS (SELECT n.node,
                {hold} + {d} * (coalesce(c.c, 0)
                                + (SELECT dang FROM d{t}) // {m}) // 100 AS rank
         FROM nodes n LEFT JOIN c{t} c ON n.node = c.node)"""
    iters = ",".join(
        iter_tpl.format(t=i, p=i - 1, hold=hold, d=d, m=m)
        for i in range(1, t + 1)
    )
    return f"""
WITH raw AS (
  SELECT doc_id % {m} AS u, ((doc_id % {m}) * 7 + 1) % {m} AS v
  FROM documents WHERE (doc_id % {m}) % 11 <> 0
  UNION ALL
  SELECT doc_id % {m}, ((doc_id % {m}) * 13 + 5) % {m}
  FROM documents WHERE (doc_id % {m}) % 11 <> 0 AND doc_id % 2 = 0
  UNION ALL
  SELECT doc_id % {m}, ((doc_id % {m}) * 29 + 17) % {m}
  FROM documents WHERE (doc_id % {m}) % 11 <> 0 AND doc_id % 3 = 0
),
edges AS (SELECT DISTINCT u, v FROM raw WHERE u <> v),
nodes AS (SELECT node FROM range({m}) t(node)),
deg AS (SELECT n.node, coalesce(dd.c, 0) AS outdeg
        FROM nodes n LEFT JOIN (SELECT u, count(*) AS c FROM edges
                                GROUP BY u) dd ON n.node = dd.u),
r0 AS (SELECT node, {base} AS rank FROM nodes),
{iters}
SELECT 'h' || CAST(node AS VARCHAR) AS host, CAST(rank AS BIGINT) AS rank_units
FROM r{t}
"""


def q_token_stats(spark, sf_dir):
    return textops.token_stats(_t(spark, sf_dir, "documents"))


_Q_TOKEN_SQL = f"""
WITH tok AS (SELECT doc_id, text, {_TOKENS_SQL} AS toks FROM documents)
SELECT doc_id,
  CAST(length(text) AS BIGINT) AS n_chars,
  CAST(len(toks) AS BIGINT) AS n_ws_tokens,
  CAST(len(regexp_extract_all(text, '{textops.BPE_REGEX}', 0)) AS BIGINT) AS n_bpe_tokens,
  round(list_sum([CAST(length(t) AS BIGINT) for t in toks])
        / greatest(len(toks), 1), 6) AS avg_token_len
FROM tok
"""


def q_quality(spark, sf_dir):
    return textops.quality_score(_t(spark, sf_dir, "documents"))


def _quality_sql() -> str:
    stop = ", ".join(f"'{w}'" for w in textops.STOPWORDS["en"])
    return f"""
WITH tok AS (SELECT doc_id, text, {_TOKENS_SQL} AS toks FROM documents),
c AS (
  SELECT doc_id,
    CAST(len(toks) AS BIGINT) AS n_tokens,
    CAST(len(list_filter(toks, x -> list_contains([{stop}], x))) AS BIGINT) AS n_stop,
    CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 ]', 0)) AS BIGINT) AS n_punct
  FROM tok)
SELECT doc_id, n_tokens, n_stop, n_punct,
  round(0.4 * least(n_tokens / 64.0, 1.0)
      + 0.3 * least(n_stop / greatest(n_tokens, 1) * 8.0, 1.0)
      + 0.3 * (1.0 - least(n_punct / greatest(n_tokens, 1) * 10.0, 1.0)), 6) AS score
FROM c
"""


def q_lang_id(spark, sf_dir):
    return textops.lang_id(_t(spark, sf_dir, "documents"))


def _lang_id_sql() -> str:
    langs = list(textops.STOPWORDS)
    counts = ", ".join(
        "CAST(len(list_filter(toks, x -> list_contains(["
        + ", ".join(f"'{w}'" for w in textops.STOPWORDS[lang])
        + f"], x))) AS BIGINT) AS votes_{lang}"
        for lang in langs
    )
    best = "greatest(" + ", ".join(f"votes_{lang}" for lang in langs) + ")"
    pred = "CASE WHEN " + best + " = 0 THEN 'und' " + " ".join(
        f"WHEN votes_{lang} = {best} THEN '{lang}'" for lang in langs
    ) + " END"
    cols = ", ".join(f"votes_{lang}" for lang in langs)
    return f"""
WITH tok AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),
v AS (SELECT doc_id, {counts} FROM tok)
SELECT doc_id, {cols}, {pred} AS pred_lang FROM v
"""


def q_fingerprint(spark, sf_dir):
    return textops.fingerprint(_t(spark, sf_dir, "documents"), k=8)


_Q_FINGERPRINT_SQL = """
SELECT doc_id,
  list_aggregate([md5(substr(text, i, 8))
                  for i in generate_series(1, greatest(length(text) - 7, 1))],
                 'min') AS fp,
  CAST(greatest(length(text) - 7, 1) AS BIGINT) AS n_grams
FROM documents
"""


def q_repetition_stats(spark, sf_dir):
    return textops.repetition_stats(_t(spark, sf_dir, "documents"))


# Oracle computes the same per-doc repetition profile by unnest+groupBy
# (independent of the Spark sort-fold); LEFT JOIN restores gram-less docs
# with zero counts, matching the fold's zero state.
_Q_REPETITION_SQL = f"""
WITH tok AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),
b AS (SELECT doc_id, unnest([toks[i] || ' ' || toks[i+1]
                             for i in generate_series(1, len(toks) - 1)]) AS gram
      FROM tok),
bc AS (SELECT doc_id, gram, count(*) AS c FROM b GROUP BY doc_id, gram),
bs AS (SELECT doc_id, sum(c) AS n, max(c) AS top, count(*) AS nd
       FROM bc GROUP BY doc_id),
t AS (SELECT doc_id, unnest([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                             for i in generate_series(1, len(toks) - 2)]) AS gram
      FROM tok),
tc AS (SELECT doc_id, gram, count(*) AS c FROM t GROUP BY doc_id, gram),
ts AS (SELECT doc_id, sum(c) AS n, max(c) AS top, count(*) AS nd
       FROM tc GROUP BY doc_id)
SELECT d.doc_id,
  CAST(coalesce(bs.n, 0) AS BIGINT) AS n_bigrams,
  round(coalesce(bs.top, 0) / greatest(coalesce(bs.n, 0), 1), 6) AS top_bigram_frac,
  round((coalesce(bs.n, 0) - coalesce(bs.nd, 0))
        / greatest(coalesce(bs.n, 0), 1), 6) AS dup_bigram_frac,
  CAST(coalesce(ts.n, 0) AS BIGINT) AS n_trigrams,
  round(coalesce(ts.top, 0) / greatest(coalesce(ts.n, 0), 1), 6) AS top_trigram_frac,
  round((coalesce(ts.n, 0) - coalesce(ts.nd, 0))
        / greatest(coalesce(ts.n, 0), 1), 6) AS dup_trigram_frac
FROM documents d LEFT JOIN bs ON d.doc_id = bs.doc_id
                 LEFT JOIN ts ON d.doc_id = ts.doc_id
"""

_REPEATED_N = 5
_REPEATED_MIN = 2


def q_repeated_ngrams(spark, sf_dir):
    return dedup.repeated_ngrams(
        _t(spark, sf_dir, "documents"), n=_REPEATED_N, min_count=_REPEATED_MIN
    )


# Same gram convention as the Spark side: greatest(len-n, 0)+1 start
# positions, slice clamped (a doc shorter than n tokens contributes its
# whole text as one partial gram), '' filtered. The expression and the
# start-position series are shared verbatim with the span_dedup oracle.
_GRAM_EXPR_SQL = f"array_to_string(toks[i:i + {_REPEATED_N - 1}], ' ')"
_GRAM_SERIES_SQL = (
    f"generate_series(1, greatest(len(toks) - {_REPEATED_N}, 0) + 1)"
)

_Q_REPEATED_SQL = f"""
WITH tok AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),
g AS (SELECT doc_id,
        unnest([{_GRAM_EXPR_SQL}
                for i in {_GRAM_SERIES_SQL}]) AS gram
      FROM tok)
SELECT gram,
  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
  CAST(count(*) AS BIGINT) AS n_occ
FROM g WHERE gram <> ''
GROUP BY gram HAVING count(*) >= {_REPEATED_MIN}
"""

_EXACT_SUBSTR_L = 5

_Q_EXACT_SUBSTR_SQL = f"""
WITH tok AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),
pos AS (SELECT doc_id, toks,
          unnest(generate_series(1, len(toks) - {_EXACT_SUBSTR_L} + 1))
            AS p
        FROM tok WHERE len(toks) >= {_EXACT_SUBSTR_L}),
g AS (SELECT doc_id, p,
        array_to_string(toks[p:p + {_EXACT_SUBSTR_L - 1}], ' ') AS gram
      FROM pos),
rep AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
st AS (SELECT doc_id, p - 1 AS s FROM g
       WHERE gram IN (SELECT gram FROM rep)),
m AS (SELECT doc_id, s,
        CASE WHEN lag(s) OVER (PARTITION BY doc_id ORDER BY s) IS NULL
               OR s > lag(s) OVER (PARTITION BY doc_id ORDER BY s)
                    + {_EXACT_SUBSTR_L}
             THEN 1 ELSE 0 END AS new
      FROM st),
i AS (SELECT doc_id, s,
        sum(new) OVER (PARTITION BY doc_id ORDER BY s
                       ROWS UNBOUNDED PRECEDING) AS isl
      FROM m)
SELECT doc_id, min(s) AS span_start,
       max(s) + {_EXACT_SUBSTR_L} AS span_end
FROM i GROUP BY doc_id, isl
"""


def q_exact_substr(spark, sf_dir):
    """TRUE ExactSubstr (Lee et al. 2021) as a CONTRACT query: maximal
    token spans covered by a >= L-token substring repeated anywhere in
    the corpus, found by suffix-array prefix-doubling equivalence
    classes (dedup.exact_substr_spans — O(log L) distributed rounds,
    no gram explosion). The oracle replays the DEFINITION in SQL:
    repeated L-gram starts + a gaps-and-islands merge."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.exact_substr_spans(
        docs, min_len=_EXACT_SUBSTR_L
    ).select(
        "doc_id",
        F.col("start").cast("long").alias("span_start"),
        F.col("end").cast("long").alias("span_end"),
    )


def q_span_dedup(spark, sf_dir):
    """The APPLY step of span-level dedup: strip every occurrence of the
    corpus-repeated n-grams repeated_ngrams flags
    (dedup.remove_repeated_spans) — (doc_id, clean, n_spans_removed)."""
    docs = _t(spark, sf_dir, "documents")
    removal = dedup.repeated_ngrams(
        docs, n=_REPEATED_N, min_count=_REPEATED_MIN
    )
    return dedup.remove_repeated_spans(docs, removal, n=_REPEATED_N)


# token i (1-based here; the Spark side is 0-based internally — only the
# rebuilt text is compared) survives iff no flagged start s covers it
_Q_SPAN_DEDUP_SQL = f"""
WITH tok AS (SELECT doc_id, text, {_TOKENS_SQL} AS toks FROM documents),
g AS (SELECT doc_id,
        unnest([{{'i': i, 'gram': {_GRAM_EXPR_SQL}}}
                for i in {_GRAM_SERIES_SQL}]) AS u
      FROM tok),
occ AS (SELECT doc_id, u.i AS pos, u.gram AS gram FROM g WHERE u.gram <> ''),
rem AS (SELECT gram FROM occ GROUP BY gram HAVING count(*) >= {_REPEATED_MIN}),
hits AS (SELECT occ.doc_id, occ.pos FROM occ JOIN rem USING (gram)),
starts AS (SELECT doc_id, list_sort(list(pos)) AS ss FROM hits GROUP BY doc_id)
SELECT t.doc_id,
       CASE WHEN s.ss IS NULL THEN t.text
            ELSE coalesce(array_to_string(
              [t.toks[i] for i in generate_series(1, len(t.toks))
               if len(list_filter(s.ss, x -> x <= i AND i < x + {_REPEATED_N})) = 0],
              ' '), '')
       END AS clean,
       CAST(coalesce(len(s.ss), 0) AS BIGINT) AS n_spans_removed
FROM tok t LEFT JOIN starts s ON s.doc_id = t.doc_id
"""

_SAMPLE_RATES = {"en": 0.5, "de": 0.25, "fr": 1.0, "zh": 0.0}
_SAMPLE_DEFAULT = 0.125
_SAMPLE_SEED = "s1"


def q_corpus_sample(spark, sf_dir):
    out = sampling.stratified_sample(
        _t(spark, sf_dir, "documents"),
        rates=_SAMPLE_RATES,
        strata_col="lang",
        id_col="doc_id",
        seed=_SAMPLE_SEED,
        default_rate=_SAMPLE_DEFAULT,
    )
    return out.select("doc_id", "lang", "source", "sample_key")


def _corpus_sample_sql() -> str:
    cases = " ".join(
        f"WHEN '{k}' THEN '{sampling.rate_threshold(v)}'"
        for k, v in sorted(_SAMPLE_RATES.items())
    )
    default = sampling.rate_threshold(_SAMPLE_DEFAULT)
    return f"""
WITH k AS (SELECT doc_id, lang, source,
             substr(md5('{_SAMPLE_SEED}#' || CAST(doc_id AS VARCHAR)), 1, 6)
               AS sample_key
           FROM documents)
SELECT doc_id, lang, source, sample_key FROM k
WHERE sample_key < CASE lang {cases} ELSE '{default}' END
"""


_HH_K, _HH_CAP = 10, 500


def q_heavy_hitters(spark, sf_dir):
    """Bounded-memory exact top-k (operators/sketch.heavy_hitters):
    per-partition Misra-Gries summaries -> broadcast candidate recount
    -> deterministic cut, with a per-row provability flag (cnt >
    N/(capacity+1)). Two scans; only candidate keys ever shuffle. The
    oracle is the plain exact SQL top-k — they must agree whenever the
    candidates cover the vocabulary, which capacity=500 guarantees on
    this corpus."""
    from opentopodata_spark.operators import sketch
    from opentopodata_spark.operators.exprutil import tokens

    d = _t(spark, sf_dir, "documents")
    toks = d.select(F.explode(tokens("text")).alias("tok"))
    return sketch.heavy_hitters(toks, "tok", k=_HH_K, capacity=_HH_CAP)


_Q_HEAVY_HITTERS_SQL = f"""
WITH toks AS (
  SELECT t.tok
  FROM documents,
       unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS t(tok)),
tot AS (SELECT COUNT(*) AS n FROM toks),
cnts AS (SELECT tok AS key, COUNT(*) AS cnt FROM toks GROUP BY tok)
SELECT key, cnt,
       cnt > (SELECT CAST(n AS DOUBLE) FROM tot) / {_HH_CAP + 1}.0
         AS guaranteed
FROM cnts ORDER BY cnt DESC, key ASC LIMIT {_HH_K}
"""


_HLL_PS = (8, 12)


def q_hll_distinct(spark, sf_dir):
    """Mergeable HyperLogLog distinct-order estimate per return flag
    (operators/sketch.hll_distinct over lineitem.l_orderkey — ~14.7k
    distinct orders at sf0.01) at p=8 and p=12. The register math is
    md5 -> 60-bit integer -> shift/bitlength — pure codegen column
    expressions both engines replay bit-for-bit — and the harmonic sums
    are INTEGER-exact (s_num = sum 2^(61-p-rho) as BIGINT), so every
    output column including the rounded estimate is deterministic. The
    two p values exercise both estimator branches on this corpus: p=8
    (m=256, thousands of distincts per flag) takes the raw-HLL path,
    p=12 (m=4096) the linear-counting path.
    """
    from opentopodata_spark.operators import sketch

    li = _t(spark, sf_dir, "lineitem")
    src = li.select(
        F.col("l_returnflag").alias("bucket"),
        F.col("l_orderkey").alias("val"),
    )
    out = None
    for p in _HLL_PS:
        est = sketch.hll_distinct(src, "val", p=p, group_cols=("bucket",))
        out = est if out is None else out.unionByName(est)
    return out


_Q_HLL_SQL = f"""
WITH h AS (
  SELECT l_returnflag AS bucket,
         ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 15))::BIGINT
           AS h
  FROM lineitem),
pr AS (
  SELECT p.p, bucket,
         h >> (60 - p.p) AS register,
         h & ((1::BIGINT << (60 - p.p)) - 1) AS w
  FROM h, (SELECT unnest([{", ".join(str(p) for p in _HLL_PS)}]) AS p) p),
regs AS (
  SELECT p, bucket, register,
         max(CASE WHEN w = 0 THEN 60 - p + 1
                  ELSE 60 - p + 1 - length(bin(w)) END) AS rho
  FROM pr GROUP BY p, bucket, register),
agg AS (
  SELECT p, bucket,
         CAST(count(*) AS BIGINT) AS n_registers,
         CAST(max(rho) AS INTEGER) AS r_max,
         CAST(sum(1::BIGINT << (61 - p - rho)) AS BIGINT) AS s_num
  FROM regs GROUP BY p, bucket),
est AS (
  SELECT bucket, CAST(p AS INTEGER) AS hll_p,
         (1::BIGINT << p) AS m, n_registers,
         (1::BIGINT << p) - n_registers AS v_zero, r_max, s_num,
         (0.7213 / (1.0 + 1.079 / CAST(1::BIGINT << p AS DOUBLE)))
           * CAST(1::BIGINT << p AS DOUBLE)
           * CAST(1::BIGINT << p AS DOUBLE)
           * CAST(1::BIGINT << (61 - p) AS DOUBLE)
           / CAST(s_num + ((1::BIGINT << p) - n_registers)
                          * (1::BIGINT << (61 - p)) AS DOUBLE) AS est_raw
  FROM agg)
SELECT bucket, hll_p, m, n_registers, v_zero, r_max, s_num,
       CAST(round(CASE WHEN est_raw <= 2.5 * CAST(m AS DOUBLE)
                        AND v_zero > 0
                       THEN CAST(m AS DOUBLE)
                            * ln(CAST(m AS DOUBLE) / CAST(v_zero AS DOUBLE))
                       ELSE est_raw END) AS BIGINT) AS est_distinct
FROM est
"""


def q_streaming_hll(spark, sf_dir):
    """Streaming twin (streaming.run_hll_stream): the same lineitem rows
    arrive in three l_linenumber%3 waves; each micro-batch's registers
    max-merge into the latest state partition only. HLL merge is
    LOSSLESS, so the streamed state is register-identical to the
    one-shot batch sketch — the oracle is the identical SQL replay as
    `hll_distinct` restricted to p=12 (the streamed p)."""
    import shutil
    import tempfile

    from opentopodata_spark import streaming as stx

    work = tempfile.mkdtemp(prefix="otds_hll_stream_q_")
    try:
        li = _t(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_linenumber", "l_returnflag"
        )
        for wave in range(3):
            li.where(F.pmod(F.col("l_linenumber"), F.lit(3)) == wave).coalesce(
                1
            ).write.mode("overwrite").parquet(f"{work}/in/wave{wave}")
            stream = (
                spark.readStream.schema(
                    "l_orderkey long, l_linenumber long, l_returnflag string"
                )
                .parquet(f"{work}/in/*")
                .select(
                    F.col("l_returnflag").alias("bucket"),
                    F.col("l_orderkey").alias("value"),
                )
            )
            q = stx.run_hll_stream(
                stream, f"{work}/state", f"{work}/ckpt",
                p=12, group_cols=("bucket",),
            )
            q.awaitTermination()
        out = stx.hll_state_estimate(
            spark, f"{work}/state", group_cols=("bucket",)
        )
        # materialize before the temp state dir disappears
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


_Q_STREAMING_HLL_SQL = _Q_HLL_SQL.replace(
    "(SELECT unnest([{}]) AS p) p".format(
        ", ".join(str(p) for p in _HLL_PS)
    ),
    "(SELECT unnest([12]) AS p) p",
)


def q_streaming_heavy_hitters(spark, sf_dir):
    """Streaming heavy hitters (streaming.run_heavy_hitters_stream):
    document tokens arrive in three waves; each micro-batch is counted
    exactly, strictly MG-trimmed, and merged into a bounded summary
    (capacity keys + exact error bookkeeping), with per-batch
    retry-idempotent state partitions. Capacity 100 exceeds this
    corpus's vocabulary, so no trim fires and the estimates are EXACT —
    the oracle is the plain SQL top-k with est_hi = est; the trim path
    is pinned by tests/test_streaming.py against a sequential replay."""
    import shutil
    import tempfile

    from opentopodata_spark import streaming as stx
    from opentopodata_spark.operators.exprutil import tokens

    work = tempfile.mkdtemp(prefix="otds_hh_stream_q_")
    try:
        docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
        for wave in range(3):
            docs.where(F.pmod(F.col("doc_id"), F.lit(3)) == wave).coalesce(
                1
            ).write.mode("overwrite").parquet(f"{work}/in/wave{wave}")
            stream = (
                spark.readStream.schema("doc_id long, text string")
                .parquet(f"{work}/in/*")
                .select(F.explode(tokens("text")).alias("key"))
            )
            q = stx.run_heavy_hitters_stream(
                stream, f"{work}/state", f"{work}/ckpt", capacity=100,
            )
            q.awaitTermination()
        out = stx.heavy_hitters_state_topk(spark, f"{work}/state", k=_HH_K)
        out = out.cache()
        out.count()
        return out
    finally:
        shutil.rmtree(work, ignore_errors=True)


_Q_STREAMING_HH_SQL = f"""
WITH toks AS (
  SELECT t.tok
  FROM documents,
       unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS t(tok)),
tot AS (SELECT COUNT(*) AS n FROM toks),
cnts AS (SELECT tok AS key, COUNT(*) AS est FROM toks GROUP BY tok)
SELECT key, est, est AS est_hi, (SELECT n FROM tot) AS n_total
FROM cnts ORDER BY est DESC, key ASC LIMIT {_HH_K}
"""


def q_mixture_sample(spark, sf_dir):
    """Temperature-based data mixing (sampling.temperature_mixture,
    alpha=0 = equal expected characters per language): one tiny
    per-stratum aggregate decides the rates, then the same deterministic
    md5-threshold predicate as corpus_sample. The alpha=0 rate is the
    single double division n_min/n_i, so the DuckDB oracle reproduces
    every threshold bit-exactly — floor(rate * 2^24) scales by a power
    of two (exact) and no libm pow is involved."""
    docs = _t(spark, sf_dir, "documents")
    out, _rates = sampling.temperature_mixture(
        docs, strata_col="lang", alpha=0.0, weight_col="n_chars",
        id_col="doc_id", seed="mix1",
    )
    return out.select("doc_id", "lang", "n_chars", "sample_key")


_Q_MIXTURE_SQL = """
WITH totals AS (
  SELECT lang, CAST(SUM(n_chars) AS DOUBLE) AS n FROM documents GROUP BY lang),
mn AS (SELECT MIN(n) AS nmin FROM totals),
thr AS (
  SELECT lang,
         CASE WHEN n = (SELECT nmin FROM mn) THEN 'g'
              ELSE printf('%06x', CAST(floor(((SELECT nmin FROM mn) / n)
                                             * 16777216.0) AS BIGINT))
         END AS t
  FROM totals),
k AS (SELECT doc_id, lang, n_chars,
             substr(md5('mix1#' || CAST(doc_id AS VARCHAR)), 1, 6)
               AS sample_key
      FROM documents)
SELECT k.doc_id, k.lang, k.n_chars, k.sample_key
FROM k JOIN thr ON thr.lang = k.lang
WHERE k.sample_key < thr.t
"""


def q_stratified_take(spark, sf_dir):
    """Exactly-k-per-language deterministic sample
    (sampling.stratified_take): rank by md5 sample key within stratum,
    keep the k smallest — layout-independent, auditable, exact output
    size. One stratum-partitioned window; the prefilter_rate seam is the
    documented scale path for huge strata."""
    d = _t(spark, sf_dir, "documents")
    return sampling.stratified_take(
        d.select("doc_id", "lang"), k=12, strata_col="lang",
        id_col="doc_id", seed="take1",
    )


_Q_STRATIFIED_TAKE_SQL = """
WITH keyed AS (
  SELECT doc_id, lang,
         substr(md5('take1#' || CAST(doc_id AS VARCHAR)), 1, 6)
           AS sample_key
  FROM documents),
r AS (
  SELECT *, row_number() OVER (PARTITION BY lang
                               ORDER BY sample_key, doc_id) AS rk
  FROM keyed)
SELECT doc_id, lang, sample_key FROM r WHERE rk <= 12
"""


_TEXT_EMBED_DIM, _TEXT_EMBED_NGRAM = 64, 3


def q_quality_classifier(spark, sf_dir):
    """operators/classifier: distributed full-batch logreg over hashed
    char-3-gram features (text_embed), labels = (lang == 'en'); inference
    is a pure Catalyst dot product. Oracle: the repo's single-process
    numpy twin (identical embedding integers, identical GD schedule);
    probabilities rounded to 3 decimals absorb distributed-sum ulps."""
    from opentopodata_spark.operators import classifier

    docs = _t(spark, sf_dir, "documents")
    labeled = docs.select(
        "doc_id", "text", (F.col("lang") == "en").cast("long").alias("label")
    )
    feats = emb.text_embed(
        labeled, dim=32, partitions=spark.sparkContext.defaultParallelism
    ).join(
        labeled.select("doc_id", "label"), "doc_id"
    )
    model = classifier.train_logreg(feats, n_iter=20, lr=1.0)
    scored = classifier.predict_proba(feats, model)
    return scored.select(
        "doc_id",
        "label",
        F.round(F.col("prob"), 3).alias("prob"),
        (F.col("prob") > 0.5).cast("long").alias("pred"),
    )


def q_text_embed(spark, sf_dir):
    """Hashing-trick char-n-gram text embedding (embeddings.text_embed)
    in its exact integer form: the dense vector is computed by the fully
    narrow Catalyst plan (zero shuffle, zero Python), then exploded to
    the sparse (doc_id, bucket, weight) rows the SQL oracle reproduces
    from md5 arithmetic — signed counts, so the compare is exact."""
    dense = emb.text_embed(
        _t(spark, sf_dir, "documents"),
        dim=_TEXT_EMBED_DIM,
        ngram=_TEXT_EMBED_NGRAM,
        normalize=False,
        partitions=spark.sparkContext.defaultParallelism,
    )
    return (
        dense.select(
            "doc_id", F.posexplode("embedding").alias("bucket", "w")
        )
        .where(F.col("w") != 0)
        .select(
            "doc_id",
            F.col("bucket").cast("int").alias("bucket"),
            F.col("w").cast("long").alias("weight"),
        )
    )


_Q_TEXT_EMBED_SQL = f"""
WITH g AS (
  SELECT doc_id, substr(text, i, {_TEXT_EMBED_NGRAM}) AS gram
  FROM documents,
       LATERAL unnest(generate_series(
         1, greatest(len(text) - {_TEXT_EMBED_NGRAM - 1}, 0))) AS t(i)
),
h AS (SELECT doc_id, ('0x' || substr(md5(gram), 1, 15))::BIGINT AS h FROM g)
SELECT doc_id,
       CAST(h % {_TEXT_EMBED_DIM} AS INTEGER) AS bucket,
       CAST(sum(CASE WHEN ((h >> 55) & 1) = 1 THEN 1 ELSE -1 END) AS BIGINT)
         AS weight
FROM h
GROUP BY doc_id, h % {_TEXT_EMBED_DIM}
HAVING sum(CASE WHEN ((h >> 55) & 1) = 1 THEN 1 ELSE -1 END) != 0
"""


def q_embedding_topk(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    return emb.cosine_topk(e, e.where(F.col("vec_id") % 100 == 0), k=5)


def _dot_sql(a: str, b: str) -> str:
    return (
        f"list_sum([{a}[i]::DOUBLE * {b}[i]::DOUBLE "
        f"for i in generate_series(1, {EMB_DIM})])"
    )


_Q_EMB_TOPK_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
           WHERE vec_id % 100 = 0),
scored AS (
  SELECT q.query_id, v.vec_id AS neighbor_id,
    round({_dot_sql('qvec', 'embedding')}
          / (sqrt({_dot_sql('qvec', 'qvec')})
             * sqrt({_dot_sql('embedding', 'embedding')})), 6) AS cos_sim
  FROM embeddings v CROSS JOIN q WHERE v.vec_id <> q.query_id),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS "rank"
  FROM scored)
SELECT query_id, neighbor_id, "rank", cos_sim FROM ranked WHERE "rank" <= 5
"""


def q_emb_lsh_buckets(spark, sf_dir):
    b = emb.hyperplane_lsh_buckets(_t(spark, sf_dir, "embeddings"), n_planes=8)
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_vecs"), F.min("vec_id").alias("min_vec_id")
    )


def _emb_lsh_sql(n_planes: int = 8) -> str:
    bits = " + ".join(
        f"CASE WHEN embedding[{b + 1}]::DOUBLE > 0 THEN {1 << b} ELSE 0 END"
        for b in range(n_planes)
    )
    return f"""
WITH b AS (SELECT vec_id, CAST({bits} AS BIGINT) AS bucket FROM embeddings)
SELECT bucket, count(*) AS n_vecs, min(vec_id) AS min_vec_id FROM b GROUP BY bucket
"""


def q_emb_near_dups(spark, sf_dir):
    return emb.near_duplicate_pairs(
        _t(spark, sf_dir, "embeddings"), threshold=0.25, n_planes=8
    )


def _emb_near_dups_sql(n_planes: int = 8) -> str:
    bits = " + ".join(
        f"CASE WHEN embedding[{b + 1}]::DOUBLE > 0 THEN {1 << b} ELSE 0 END"
        for b in range(n_planes)
    )
    return f"""
WITH b AS (SELECT vec_id, embedding, CAST({bits} AS BIGINT) AS bucket FROM embeddings),
pairs AS (
  SELECT a.vec_id AS vec_a, b2.vec_id AS vec_b,
    round({_dot_sql('a.embedding', 'b2.embedding')}
          / (sqrt({_dot_sql('a.embedding', 'a.embedding')})
             * sqrt({_dot_sql('b2.embedding', 'b2.embedding')})), 6) AS cos_sim
  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id)
SELECT vec_a, vec_b, cos_sim FROM pairs WHERE cos_sim >= 0.25
"""


def q_events_rollup(spark, sf_dir):
    r = ev.tumbling_rollup(_t(spark, sf_dir, "events"))
    return r.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n_events",
        F.round("sum_value", 6).alias("sum_value"),
        "n_users",
    )


_Q_EVENTS_SQL = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       count(*) AS n_events,
       round(CAST(sum(value::DECIMAL(28,6)) AS DOUBLE), 6) AS sum_value,
       count(DISTINCT user_id) AS n_users
FROM events GROUP BY 1, 2
"""


def q_funnel(spark, sf_dir):
    """operators/events.funnel: view -> click -> purchase ordered
    conversion counts (greedy earliest chain, k-1 join+min rounds over
    per-user step minima — no per-user event arrays)."""
    return ev.funnel(
        _t(spark, sf_dir, "events"), ["view", "click", "purchase"]
    )


_Q_FUNNEL_SQL = """
WITH s0 AS (SELECT user_id, min(ts) AS t0 FROM events
            WHERE event_type = 'view' GROUP BY user_id),
s1 AS (SELECT e.user_id, min(e.ts) AS t1
       FROM events e JOIN s0 ON e.user_id = s0.user_id AND e.ts >= s0.t0
       WHERE e.event_type = 'click' GROUP BY e.user_id),
s2 AS (SELECT e.user_id, min(e.ts) AS t2
       FROM events e JOIN s1 ON e.user_id = s1.user_id AND e.ts >= s1.t1
       WHERE e.event_type = 'purchase' GROUP BY e.user_id)
SELECT 'view' AS step, CAST(0 AS BIGINT) AS step_index,
       count(*) AS n_users FROM s0
UNION ALL SELECT 'click', CAST(1 AS BIGINT), count(*) FROM s1
UNION ALL SELECT 'purchase', CAST(2 AS BIGINT), count(*) FROM s2
"""


def q_retention(spark, sf_dir):
    """operators/events.retention: signup cohorts by first-anchor date,
    day-offset activity counts on a DENSE (cohort x period) grid with
    explicit zeros (activity collapsed to (user, day) before the final
    shuffle)."""
    out = ev.retention(_t(spark, sf_dir, "events"), max_periods=5)
    return out.select(
        F.date_format("cohort_date", "yyyy-MM-dd").alias("cohort_date"),
        "period",
        "n_cohort",
        "n_active",
    )


_Q_RETENTION_SQL = """
WITH cohorts AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS cohort_date
  FROM events WHERE event_type = 'signup' GROUP BY user_id),
days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
hits AS (
  SELECT c.cohort_date, datediff('day', c.cohort_date, a.d) AS period,
         count(DISTINCT c.user_id) AS n_active
  FROM cohorts c JOIN days a ON c.user_id = a.user_id
  WHERE datediff('day', c.cohort_date, a.d) BETWEEN 0 AND 5
  GROUP BY 1, 2),
sizes AS (SELECT cohort_date, count(*) AS n_cohort
          FROM cohorts GROUP BY cohort_date),
grid AS (
  SELECT s.cohort_date, s.n_cohort, g.period
  FROM sizes s, UNNEST(generate_series(0, 5)) AS g(period))
SELECT strftime(g.cohort_date, '%Y-%m-%d') AS cohort_date,
       CAST(g.period AS BIGINT) AS period,
       CAST(g.n_cohort AS BIGINT) AS n_cohort,
       CAST(coalesce(h.n_active, 0) AS BIGINT) AS n_active
FROM grid g LEFT JOIN hits h
  ON g.cohort_date = h.cohort_date AND g.period = h.period
"""


def q_interval_join(spark, sf_dir):
    """operators/intervals.interval_join: half-open [start, end)
    overlap pairs via the bin-bucketing rewrite — explode to 1 h time
    bins, co-partitioned equi-join on (user_id, bin), canonical-bin
    dedupe (no distinct), overlap verified at exact microseconds. The
    naive plan Spark gives the same predicate is a nested-loop join;
    this one is a hash join (plan pinned in tests). Oracle: DuckDB's
    plain inequality join."""
    from opentopodata_spark.operators import intervals

    e = _t(spark, sf_dir, "events")
    l = e.where(F.col("event_id") % 3 == 0).selectExpr(
        "event_id AS l_id",
        "user_id",
        "ts AS l_start",
        "ts + make_interval(0, 0, 0, 0, CAST(event_id % 7 + 1 AS INT), 0, 0)"
        " AS l_end",
    )
    r = e.where(F.col("event_id") % 10 == 0).selectExpr(
        "event_id AS r_id",
        "user_id",
        "ts + make_interval(0, 0, 0, 0, CAST(event_id % 5 AS INT), 0, 0)"
        " AS r_start",
        "ts + make_interval(0, 0, 0, 0,"
        " CAST(event_id % 5 + event_id % 13 + 2 AS INT), 0, 0) AS r_end",
    )
    out = intervals.interval_join(
        l, r, "l_start", "l_end", "r_start", "r_end",
        on=["user_id"], bin_width_s=3600,
    )
    return out.select(
        "user_id", "l_id", "r_id",
        (
            F.unix_micros(F.least("l_end", "r_end").cast("timestamp"))
            - F.unix_micros(F.greatest("l_start", "r_start").cast("timestamp"))
        ).alias("overlap_us"),
    )


_Q_INTERVAL_SQL = """
WITH l AS (SELECT event_id AS l_id, user_id,
                  ts AS l_start,
                  ts + to_hours(CAST(event_id % 7 + 1 AS BIGINT)) AS l_end
           FROM events WHERE event_id % 3 = 0),
r AS (SELECT event_id AS r_id, user_id,
             ts + to_hours(CAST(event_id % 5 AS BIGINT)) AS r_start,
             ts + to_hours(CAST(event_id % 5 + event_id % 13 + 2 AS BIGINT))
               AS r_end
      FROM events WHERE event_id % 10 = 0)
SELECT l.user_id, l_id, r_id,
       date_diff('microsecond', greatest(l_start, r_start),
                 least(l_end, r_end)) AS overlap_us
FROM l JOIN r ON l.user_id = r.user_id
             AND l_start < r_end AND r_start < l_end
"""


def q_asof_join(spark, sf_dir):
    """operators/asof.asof_join: every event annotated with the most
    recent at-or-before 'error' event per user — the union + running-
    last window shape (ONE exchange, no join node; plan pinned in
    tests). Oracle: DuckDB's NATIVE ASOF LEFT JOIN."""
    from opentopodata_spark.operators import asof

    e = _t(spark, sf_dir, "events")
    left = e.select("event_id", "user_id", "ts")
    right = (
        e.where(F.col("event_type") == "error")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("err_value"))
    )
    out = asof.asof_join(left, right, on="user_id")
    return out.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        F.date_format("right_ts", "yyyy-MM-dd HH:mm:ss").alias("err_ts"),
        F.round("right_err_value", 6).alias("err_value"),
    )


_Q_ASOF_SQL = """
WITH r AS (
  SELECT user_id, ts, max(value) AS err_value
  FROM events WHERE event_type = 'error' GROUP BY user_id, ts)
SELECT e.event_id, e.user_id,
       strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS ts,
       strftime(r.ts, '%Y-%m-%d %H:%M:%S') AS err_ts,
       round(r.err_value, 6) AS err_value
FROM events e ASOF LEFT JOIN r
  ON e.user_id = r.user_id AND e.ts >= r.ts
"""


def q_geofence_counts(spark, sf_dir):
    """Geofencing aggregate (operators/events.geofence_rollup): events
    with deterministic coordinates PIP-joined against the polygon set
    (broadcast S2 cover + interior fast path), rolled up per (hour,
    polygon). Full SQL oracle: ray-cast crossings + group-by."""
    _ship_package(spark)
    e = _t(spark, sf_dir, "events").select(
        "event_id",
        "ts",
        "user_id",
        ((F.col("event_id") % 1700) / 10.0 - 85.0 + 0.05).alias("lat"),
        ((F.col("event_id") * 7 % 3500) / 10.0 - 175.0 + 0.05).alias("lon"),
    )
    # level 6 (~1.2 deg cells): these fences are continent-sized, so a
    # fine cover costs ~10^6 driver-built cells per polygon while the
    # exactness is level-independent (boundary cells ray-cast anyway);
    # the level trades cover size against refine volume, nothing else
    out = ev.geofence_rollup(e, _PIP_POLYGONS, level=6)
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "polygon_id",
        "n_events",
        "n_users",
    )


def _geofence_sql() -> str:
    pts_sql = (
        "SELECT event_id AS pid, ts, user_id,"
        " (event_id % 1700) / 10.0 - 85.0 + 0.05 AS lat,"
        " (event_id * 7 % 3500) / 10.0 - 175.0 + 0.05 AS lon"
        " FROM events"
    )
    return f"""
WITH pts AS ({pts_sql}),
edges(polygon_id, y1, x1, y2, x2) AS (VALUES
    {_pip_edge_values()}),
crossings AS (
  SELECT p.pid AS point_id, e.polygon_id,
         CASE WHEN ((e.y1 > p.lat) <> (e.y2 > p.lat))
               AND (p.lon < (e.x2 - e.x1) * (p.lat - e.y1) / (e.y2 - e.y1) + e.x1)
              THEN 1 ELSE 0 END AS c
  FROM pts p CROSS JOIN edges e),
inside AS (
  SELECT point_id, polygon_id FROM crossings
  GROUP BY point_id, polygon_id HAVING SUM(c) % 2 = 1)
SELECT strftime(date_trunc('hour', p.ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       i.polygon_id,
       count(*) AS n_events,
       count(DISTINCT p.user_id) AS n_users
FROM inside i JOIN pts p ON i.point_id = p.pid
GROUP BY 1, 2
"""


_QUANT_QS = [0.0, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0]


def q_exact_quantiles(spark, sf_dir):
    """Exact distributed quantiles (operators/quantiles.exact_quantiles)
    of l_extendedprice per return flag — distributed selection via
    iterative observed-bound histograms instead of a global sort or
    Spark's state-buffering `percentile`. local_threshold=2000 forces
    at least one histogram round on this data (~20k rows/flag) before
    the bounded final collect, so the driver row checks the narrowing
    logic, not just the numpy fast path. Oracle: the literal ANSI
    definition — ORDER BY value OFFSET floor(q*(n-1)) via row_number."""
    from opentopodata_spark.operators.quantiles import exact_quantiles

    _ship_package(spark)
    li = _t(spark, sf_dir, "lineitem")
    return exact_quantiles(
        li, "l_extendedprice", _QUANT_QS, group_cols=("l_returnflag",),
        buckets=64, local_threshold=2000,
    )


def _quantiles_sql() -> str:
    qvals = ", ".join(f"({q!r})" for q in _QUANT_QS)
    return f"""
WITH qs(q) AS (VALUES {qvals}),
s AS (
  SELECT l_returnflag AS g, l_extendedprice AS v,
         row_number() OVER (PARTITION BY l_returnflag
                            ORDER BY l_extendedprice) AS rn,
         count(*) OVER (PARTITION BY l_returnflag) AS n
  FROM lineitem)
SELECT s.g AS l_returnflag, q.q, CAST(s.n AS BIGINT) AS n,
       CAST(s.v AS DOUBLE) AS value
FROM s JOIN qs q
  ON s.rn = CAST(floor(q.q * (s.n - 1)) AS BIGINT) + 1
"""


# dissolve fixture: a vertex-matched unit-cell tiling with five region
# keys — block, ring-with-hole + island, disconnected blobs, and
# corner-touching cells (two shells, no hole)
_DISSOLVE_CELLS = (
    [("A", x, y) for x in range(3) for y in range(4)]
    + [("B", x, y) for x in range(10, 13) for y in range(3)
       if (x, y) != (11, 1)]
    + [("C", 11, 1)]
    + [("D", 20, 0), ("D", 21, 0), ("D", 21, 1), ("D", 24, 3), ("D", 25, 3)]
    + [("E", 30, 0), ("E", 31, 1), ("E", 32, 2)]
)


def q_dissolve_regions(spark, sf_dir):
    """Polygon dissolve (operators/dissolve.dissolve_polygons): a
    vertex-matched unit-cell tiling merges to one (multi)polygon per
    region key — interior edges cancel in one map-side-combined
    integer aggregation, only the dissolved boundary reaches the
    per-key stitcher. Contract columns are the full integer algebra:
    n_parts, surviving perim_edges, exact area2_q (union identity is
    enforced inside the job), and a DIRECTION-SENSITIVE edge checksum
    recomputed from the OUTPUT rings — so the oracle (its own SQL
    cancellation replay over the same cell list) pins both which edges
    survive and the direction the stitcher walked them. Shell/hole
    counts are not SQL-expressible; they are pinned by the sequential
    twin in tests/test_dissolve.py."""
    from opentopodata_spark.operators import dissolve

    _ship_package(spark)
    rows = [
        (k, [[[float(x), float(y)], [float(x + 1), float(y)],
              [float(x + 1), float(y + 1)], [float(x), float(y + 1)]]])
        for k, x, y in _DISSOLVE_CELLS
    ]
    df = spark.createDataFrame(
        rows, "key string, rings array<array<array<double>>>"
    )
    out = dissolve.dissolve_polygons(df, "key")
    checksum = F.expr("""
      aggregate(
        flatten(transform(rings, r ->
          transform(sequence(0, size(r) - 1), i ->
            CAST(round(r[i][0] * 1048576.0) AS BIGINT)
            + 3 * CAST(round(r[i][1] * 1048576.0) AS BIGINT)
            + 5 * CAST(round(r[(i + 1) % size(r)][0] * 1048576.0) AS BIGINT)
            + 7 * CAST(round(r[(i + 1) % size(r)][1] * 1048576.0) AS BIGINT)
          ))),
        0L, (a, x) -> a + x)
    """)
    return out.select(
        "key", "n_parts", "perim_edges", "area2_q",
        checksum.alias("edge_checksum"),
    )


def _dissolve_sql() -> str:
    cells = ",\n    ".join(
        f"('{k}', {x}, {y})" for k, x, y in _DISSOLVE_CELLS
    )
    return f"""
WITH cells(key, cx, cy) AS (VALUES
    {cells}),
e(key, ax, ay, bx, by) AS (
  SELECT key, cx, cy, cx + 1, cy FROM cells UNION ALL
  SELECT key, cx + 1, cy, cx + 1, cy + 1 FROM cells UNION ALL
  SELECT key, cx + 1, cy + 1, cx, cy + 1 FROM cells UNION ALL
  SELECT key, cx, cy + 1, cx, cy FROM cells),
eq AS (
  SELECT key,
         ax * 1048576::BIGINT AS ax, ay * 1048576::BIGINT AS ay,
         bx * 1048576::BIGINT AS bx, by * 1048576::BIGINT AS by,
         ((ax < bx) OR (ax = bx AND ay < by)) AS fwd
  FROM e),
und AS (
  SELECT key,
         CASE WHEN fwd THEN ax ELSE bx END AS uax,
         CASE WHEN fwd THEN ay ELSE by END AS uay,
         CASE WHEN fwd THEN bx ELSE ax END AS ubx,
         CASE WHEN fwd THEN by ELSE ay END AS uby,
         SUM(CASE WHEN fwd THEN 1 ELSE -1 END) AS net
  FROM eq GROUP BY 1, 2, 3, 4, 5),
surv AS (
  SELECT key,
         CASE WHEN net > 0 THEN uax ELSE ubx END AS sax,
         CASE WHEN net > 0 THEN uay ELSE uby END AS say,
         CASE WHEN net > 0 THEN ubx ELSE uax END AS sbx,
         CASE WHEN net > 0 THEN uby ELSE uay END AS sby
  FROM und WHERE net <> 0),
agg AS (
  SELECT key, CAST(count(*) AS BIGINT) AS perim_edges,
         CAST(sum(sax + 3 * say + 5 * sbx + 7 * sby) AS BIGINT)
           AS edge_checksum
  FROM surv GROUP BY key),
parts AS (
  SELECT key, CAST(count(*) AS BIGINT) AS n_parts,
         CAST(count(*) AS BIGINT) * 2 * (1::BIGINT << 40) AS area2_q
  FROM cells GROUP BY key)
SELECT p.key, p.n_parts, a.perim_edges, p.area2_q, a.edge_checksum
FROM parts p JOIN agg a USING (key)
"""


_BUFFER_ANCHORS = [
    ("den", 40.05, -100.05),
    ("syd", -33.95, 151.05),
    ("lonx", 51.55, -0.05),
    ("tok", 35.05, 139.05),
    ("nbo", -1.05, 36.95),
]
_BUFFER_R_M = 500_000.0
_BUFFER_K = 16


def q_buffer_pip(spark, sf_dir):
    """Geodesic buffer geofences (operators/buffer.buffer_points): five
    anchor sites become 16-gon rings of exact Karney direct solutions
    at 500 km (vertices quantized to 2^-20 deg, CCW), then the event
    stream (deterministic event_id-derived coordinates — the geofence
    fixture) PIP-joins against them through the broadcast S2-cover
    front door. Returns per-fence event/user counts PLUS the exact ring
    coordinate sums — the oracle rebuilds the rings with the SEQUENTIAL
    twin (buffer_rings_sequential) and runs its OWN ray cast in SQL, so
    a green row pins both the distributed ring construction (quantized
    vertices sum exactly, left-fold order on both sides) and the
    within-distance join semantics."""
    from opentopodata_spark.operators import buffer as buf
    from opentopodata_spark.operators import spatial

    _ship_package(spark)
    anchors = spark.createDataFrame(
        _BUFFER_ANCHORS, "point_id string, lat double, lon double"
    )
    rings = buf.buffer_points(anchors, _BUFFER_R_M, n_vertices=_BUFFER_K)
    polys = spatial.polygons_from_df(rings)
    e = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        ((F.col("event_id") % 1700) / 10.0 - 85.0 + 0.05).alias("lat"),
        ((F.col("event_id") * 7 % 3500) / 10.0 - 175.0 + 0.05).alias("lon"),
    )
    joined = spatial.point_in_polygon_join(e, polys, level=7)
    counts = joined.groupBy("polygon_id").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )
    sums = spark.createDataFrame(
        [
            (r.polygon_id, list(r.lats), list(r.lons))
            for r in rings.collect()
        ],
        "polygon_id string, lats array<double>, lons array<double>",
    ).select(
        "polygon_id",
        F.aggregate("lats", F.lit(0.0), lambda a, x: a + x).alias("lat_sum"),
        F.aggregate("lons", F.lit(0.0), lambda a, x: a + x).alias("lon_sum"),
    )
    return sums.join(counts, "polygon_id", "left").select(
        "polygon_id",
        F.coalesce("n_events", F.lit(0).cast("long")).alias("n_events"),
        F.coalesce("n_users", F.lit(0).cast("long")).alias("n_users"),
        "lat_sum",
        "lon_sum",
    )


def _buffer_pip_sql() -> str:
    from opentopodata_spark.operators import buffer as buf

    seq = buf.buffer_rings_sequential(
        _BUFFER_ANCHORS, _BUFFER_R_M, n_vertices=_BUFFER_K
    )
    edge_rows, sums_rows = [], []
    for pid, la, lo in seq:
        n = len(la)
        for k in range(n):
            y1, x1 = la[k], lo[k]
            y2, x2 = la[(k + 1) % n], lo[(k + 1) % n]
            if y1 == y2:
                continue
            edge_rows.append(f"('{pid}', {y1!r}, {x1!r}, {y2!r}, {x2!r})")
        lat_sum = 0.0
        for v in la:
            lat_sum += v
        lon_sum = 0.0
        for v in lo:
            lon_sum += v
        sums_rows.append(f"('{pid}', {lat_sum!r}, {lon_sum!r})")
    edges = ",\n    ".join(edge_rows)
    sums = ",\n    ".join(sums_rows)
    return f"""
WITH pts AS (
  SELECT event_id AS pid, user_id,
         (event_id % 1700) / 10.0 - 85.0 + 0.05 AS lat,
         (event_id * 7 % 3500) / 10.0 - 175.0 + 0.05 AS lon
  FROM events),
edges(polygon_id, y1, x1, y2, x2) AS (VALUES
    {edges}),
sums(polygon_id, lat_sum, lon_sum) AS (VALUES
    {sums}),
crossings AS (
  SELECT p.pid AS point_id, e.polygon_id,
         CASE WHEN ((e.y1 > p.lat) <> (e.y2 > p.lat))
               AND (p.lon < (e.x2 - e.x1) * (p.lat - e.y1) / (e.y2 - e.y1) + e.x1)
              THEN 1 ELSE 0 END AS c
  FROM pts p CROSS JOIN edges e),
inside AS (
  SELECT point_id, polygon_id FROM crossings
  GROUP BY point_id, polygon_id HAVING SUM(c) % 2 = 1),
counts AS (
  SELECT i.polygon_id, count(*) AS n_events,
         count(DISTINCT p.user_id) AS n_users
  FROM inside i JOIN pts p ON i.point_id = p.pid GROUP BY 1)
SELECT s.polygon_id, coalesce(c.n_events, 0) AS n_events,
       coalesce(c.n_users, 0) AS n_users, s.lat_sum, s.lon_sum
FROM sums s LEFT JOIN counts c USING (polygon_id)
"""


def q_geofence_transitions(spark, sf_dir):
    """operators/events.geofence_transitions: per-user fence enter/exit
    changes (PIP membership sets diffed against the previous event via
    one per-user window). Full SQL oracle (ray-cast + lag of lists)."""
    _ship_package(spark)
    e = _t(spark, sf_dir, "events").select(
        "event_id",
        "ts",
        "user_id",
        ((F.col("event_id") % 1700) / 10.0 - 85.0 + 0.05).alias("lat"),
        ((F.col("event_id") * 7 % 3500) / 10.0 - 175.0 + 0.05).alias("lon"),
    )
    out = ev.geofence_transitions(e, _PIP_POLYGONS, level=6)
    return out.select(
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        "polygon_id",
        "transition",
    )


def _geofence_transitions_sql() -> str:
    pts_sql = (
        "SELECT event_id AS pid, ts, user_id,"
        " (event_id % 1700) / 10.0 - 85.0 + 0.05 AS lat,"
        " (event_id * 7 % 3500) / 10.0 - 175.0 + 0.05 AS lon"
        " FROM events"
    )
    return f"""
WITH pts AS ({pts_sql}),
edges(polygon_id, y1, x1, y2, x2) AS (VALUES
    {_pip_edge_values()}),
crossings AS (
  SELECT p.pid AS point_id, e.polygon_id,
         CASE WHEN ((e.y1 > p.lat) <> (e.y2 > p.lat))
               AND (p.lon < (e.x2 - e.x1) * (p.lat - e.y1) / (e.y2 - e.y1) + e.x1)
              THEN 1 ELSE 0 END AS c
  FROM pts p CROSS JOIN edges e),
inside AS (
  SELECT point_id, polygon_id FROM crossings
  GROUP BY point_id, polygon_id HAVING SUM(c) % 2 = 1),
memb AS (
  SELECT p.pid, p.user_id, p.ts,
         coalesce(list_sort(list(i.polygon_id)
                  FILTER (WHERE i.polygon_id IS NOT NULL)),
                  CAST([] AS VARCHAR[])) AS ins
  FROM pts p LEFT JOIN inside i ON p.pid = i.point_id
  GROUP BY p.pid, p.user_id, p.ts),
lagd AS (
  SELECT user_id, ts, ins,
         coalesce(lag(ins) OVER (PARTITION BY user_id ORDER BY ts, pid),
                  CAST([] AS VARCHAR[])) AS prev
  FROM memb)
SELECT user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
       unnest(list_filter(ins, x -> NOT list_contains(prev, x))) AS polygon_id,
       'enter' AS transition
FROM lagd
UNION ALL
SELECT user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
       unnest(list_filter(prev, x -> NOT list_contains(ins, x))) AS polygon_id,
       'exit' AS transition
FROM lagd
"""


def q_streaming_rollup(spark, sf_dir):
    """Structured Streaming twin of events_rollup: the events table is
    consumed via readStream with a 10-minute watermark and hourly windows
    in APPEND mode (windows emit once the watermark passes their end) —
    the availableNow drain flushes state, so the emitted set is exactly
    the windows with window_end <= max(ts) - 10 min. Deterministic, and
    the oracle below reproduces it in plain SQL."""
    import shutil
    import tempfile

    from opentopodata_spark import streaming as stx

    work = tempfile.mkdtemp(prefix="otds_stream_q_")
    try:
        ev = _t(spark, sf_dir, "events")
        ev.coalesce(1).write.mode("overwrite").parquet(f"{work}/in")
        rollup = stx.events_rollup_stream(
            spark, f"{work}/in", watermark="10 minutes", window="1 hour"
        )
        q = (
            rollup.writeStream.outputMode("append")
            .option("checkpointLocation", f"{work}/ckpt")
            .trigger(availableNow=True)
            .start(path=f"{work}/out", format="parquet")
        )
        q.awaitTermination()
        res = spark.read.parquet(f"{work}/out")
        out = res.select(
            F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n_events",
            F.round(F.col("sum_value").cast("double"), 6).alias("sum_value"),
        )
        out = out.cache()
        out.count()  # materialize before the temp dir goes away
        return out
    finally:
        shutil.rmtree(work, ignore_errors=True)


_Q_STREAMING_ROLLUP_SQL = """
WITH mx AS (SELECT max(ts) AS m FROM events)
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       count(*) AS n_events,
       round(CAST(sum(value::DECIMAL(28,6)) AS DOUBLE), 6) AS sum_value
FROM events
GROUP BY date_trunc('hour', ts), event_type
HAVING date_trunc('hour', ts) + INTERVAL 1 HOUR
       <= (SELECT m - INTERVAL 10 MINUTE FROM mx)
"""


def q_streaming_dedup(spark, sf_dir):
    """Streaming incremental exact dedup: the documents corpus arrives in
    three waves (wave = doc_id % 3, drained strictly in order), and each
    wave is folded against the accumulated hash index — a doc is admitted
    iff its text hash was never admitted before; within a wave the min
    doc_id wins. Deterministic, so the oracle is plain SQL: keep the row
    with the smallest (wave, doc_id) per md5(text)."""
    from opentopodata_spark import streaming as stx

    return _drain_corpus_waves(
        spark, sf_dir,
        lambda s, work: stx.run_dedup_stream(
            s, f"{work}/corpus", f"{work}/ckpt", f"{work}/index"
        ),
        ("doc_id", "lang", "source", "text_hash"),
    )


_Q_STREAMING_DEDUP_SQL = """
WITH h AS (
  SELECT doc_id, lang, source, md5(text) AS text_hash, doc_id % 3 AS wave
  FROM documents),
r AS (
  SELECT *, row_number() OVER (PARTITION BY text_hash
                               ORDER BY wave, doc_id) AS rn
  FROM h)
SELECT doc_id, lang, source, text_hash FROM r WHERE rn = 1
"""


_NEAR_DUP_STREAM_T = 0.5


def _drain_corpus_waves(spark, sf_dir, start_stream, out_cols):
    """Shared scaffold for the incremental-dedup streaming queries: split
    the documents corpus into three waves (doc_id % 3), drain them
    strictly in order through ``start_stream(stream_df, work)``, and
    return the accumulated output corpus projected to ``out_cols``
    (cached + materialized before the temp dir goes away)."""
    import shutil
    import tempfile

    from opentopodata_spark import streaming as stx

    work = tempfile.mkdtemp(prefix="otds_waves_q_")
    try:
        docs = _t(spark, sf_dir, "documents").select(
            "doc_id", "text", "lang", "source"
        )
        for wave in range(3):
            docs.where(F.pmod(F.col("doc_id"), F.lit(3)) == wave).coalesce(
                1
            ).write.mode("overwrite").parquet(f"{work}/in/wave{wave}")
            q = start_stream(stx.stream_corpus(spark, f"{work}/in/*"), work)
            q.awaitTermination()
        out = spark.read.parquet(f"{work}/corpus").select(*out_cols)
        out = out.cache()
        out.count()  # materialize before the temp dir goes away
        return out
    finally:
        shutil.rmtree(work, ignore_errors=True)


def q_streaming_near_dup(spark, sf_dir):
    """Streaming incremental NEAR-dup dedup (streaming.run_near_dup_stream):
    three waves (doc_id % 3, drained in order); each wave deduplicates
    within itself (verified pairs -> components -> keep min) and is then
    LSH-probed + Jaccard-verified against the accumulated ADMITTED corpus.
    Deterministic (md5 minhash banding + exact shingle Jaccard), so the
    oracle is a single-process sequential replay."""
    from opentopodata_spark import streaming as stx

    return _drain_corpus_waves(
        spark, sf_dir,
        lambda s, work: stx.run_near_dup_stream(
            s, f"{work}/corpus", f"{work}/ckpt", f"{work}/index",
            threshold=_NEAR_DUP_STREAM_T,
        ),
        ("doc_id", "lang", "source"),
    )


def _build_near_dup_stream_oracle(sf_dir: str):
    """Sequential replay of q_streaming_near_dup: same md5 minhash family,
    same banding, same distinct-shingle Jaccard with half-up rounding,
    same keep-min-per-component within a wave, same admitted-only index."""
    import hashlib
    import pyarrow as pa

    def h(s: str) -> str:
        return hashlib.md5(s.encode()).hexdigest()

    def shingles(text: str) -> frozenset:
        toks = [t for t in (text or "").split(" ") if t]
        if not toks:
            return frozenset()
        n = 2
        if len(toks) < n:
            grams = [" ".join(toks)]
        else:
            grams = [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]
        return frozenset(g for g in grams if g)

    def buckets(sh: frozenset) -> frozenset:
        if not sh:
            return frozenset()
        sig = [min(h(f"{s}#{i}") for s in sh) for i in range(8)]
        return frozenset(
            (b, f"{sig[2 * b]}|{sig[2 * b + 1]}") for b in range(4)
        )

    def jacc_ok(a: frozenset, b: frozenset) -> bool:
        inter = len(a & b)
        if not inter:
            return False
        j = _round_half_up(inter / (len(a) + len(b) - inter), 6)
        return j >= _NEAR_DUP_STREAM_T

    t = _read_pq(sf_dir, "documents")
    recs = list(
        zip(
            t.column("doc_id").to_pylist(),
            t.column("text").to_pylist(),
            t.column("lang").to_pylist(),
            t.column("source").to_pylist(),
        )
    )
    admitted: list[tuple] = []  # (doc_id, shingles, buckets, lang, source)
    adm_by_bucket: dict = {}  # bucket -> [admitted indices]
    for wave in range(3):
        wd = sorted(
            (r for r in recs if r[0] % 3 == wave), key=lambda r: r[0]
        )
        info = {r[0]: (shingles(r[1]), r[2], r[3]) for r in wd}
        bks = {d: buckets(s) for d, (s, _, _) in info.items()}
        ids = sorted(info)
        # within-wave: candidate pairs indexed by bucket (the banding the
        # LSH replays — near-linear, not all-pairs) -> verified edges ->
        # components
        by_bucket: dict = {}
        for d in ids:
            for bk in bks[d]:
                by_bucket.setdefault(bk, []).append(d)
        cands = set()
        for members in by_bucket.values():
            for i, a in enumerate(members):
                for b in members[i + 1:]:
                    cands.add((min(a, b), max(a, b)))
        parent = {d: d for d in ids}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in sorted(cands):
            if jacc_ok(info[a][0], info[b][0]):
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
        canon = [d for d in ids if find(d) == d]
        # cross-wave: reject on a bucket collision + verified Jaccard
        # against docs admitted in PREVIOUS waves (the operator's index
        # read excludes the current batch; same-wave canon docs are in
        # distinct components so they can never verify anyway)
        new_admits = []
        for d in canon:
            sh_d, lang, source = info[d]
            old_idxs = {
                i for bk in bks[d] for i in adm_by_bucket.get(bk, ())
            }
            hit = any(jacc_ok(sh_d, admitted[i][1]) for i in sorted(old_idxs))
            if not hit:
                new_admits.append((d, sh_d, bks[d], lang, source))
        for rec in new_admits:
            admitted.append(rec)
            i = len(admitted) - 1
            for bk in rec[2]:
                adm_by_bucket.setdefault(bk, []).append(i)
    admitted.sort(key=lambda r: r[0])
    return pa.table(
        {
            "doc_id": pa.array([r[0] for r in admitted], type=pa.int64()),
            "lang": pa.array([r[3] for r in admitted], type=pa.string()),
            "source": pa.array([r[4] for r in admitted], type=pa.string()),
        }
    )


def q_streaming_sessionize(spark, sf_dir):
    """Custom stateful streaming operator (applyInPandasWithState):
    gap-based sessionization over the events stream. Deterministic for a
    full drain + timeout drains: emitted rows are every session closed by
    a later in-order event PLUS open sessions whose end + gap fell behind
    the final watermark (max ts - 10 min). The SQL oracle reproduces that
    exact set."""
    import shutil
    import tempfile

    from opentopodata_spark import streaming as stx

    work = tempfile.mkdtemp(prefix="otds_sess_q_")
    try:
        ev = _t(spark, sf_dir, "events")
        ev.coalesce(1).write.mode("overwrite").parquet(f"{work}/in")
        # extra drains: event-time timeouts fire on the micro-batch AFTER
        # the one that advanced the watermark
        for _ in range(3):
            q = (
                stx.sessionize_stream(
                    spark, f"{work}/in", gap_minutes=30, watermark="10 minutes"
                )
                .writeStream.outputMode("append")
                .option("checkpointLocation", f"{work}/ckpt")
                .trigger(availableNow=True)
                .start(path=f"{work}/out", format="parquet")
            )
            q.awaitTermination()
        res = spark.read.parquet(f"{work}/out")
        out = res.select(
            "user_id",
            F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias(
                "session_end"
            ),
            "n_events",
        )
        out = out.cache()
        out.count()  # materialize before the temp dir goes away
        return out
    finally:
        shutil.rmtree(work, ignore_errors=True)


_Q_STREAMING_SESSIONIZE_SQL = """
WITH e AS (
  SELECT user_id, ts, epoch_us(ts) AS us,
    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
         THEN 1 ELSE 0 END AS brk
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
sess AS (
  SELECT user_id, ts, us,
    sum(brk) OVER (PARTITION BY user_id ORDER BY us
                   ROWS UNBOUNDED PRECEDING) AS sid
  FROM e),
per_session AS (
  SELECT user_id, sid, min(ts) AS session_start, max(ts) AS session_end,
         max(us) AS end_us, count(*) AS n_events
  FROM sess GROUP BY user_id, sid),
mx AS (SELECT max(epoch_us(ts)) AS m FROM events)
SELECT user_id,
       strftime(session_start, '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(session_end, '%Y-%m-%d %H:%M:%S') AS session_end,
       n_events
FROM per_session ps
WHERE sid < (SELECT max(sid) FROM per_session p2 WHERE p2.user_id = ps.user_id)
   OR end_us + 1800000000 < (SELECT m - 600000000 FROM mx)
"""
# ^ strict < on the timeout boundary: Spark fires event-time timeouts only
# when timeoutTimestamp is strictly below the eviction watermark, so a
# session ending exactly gap+delay before max(ts) stays open on both sides.


def q_sessionize(spark, sf_dir):
    s = ev.sessionize(_t(spark, sf_dir, "events"), gap_minutes=30)
    return s.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n_events").alias("total_events"),
        F.max("n_events").alias("max_session_events"),
    )


_Q_SESSIONIZE_SQL = """
WITH e AS (
  SELECT user_id, epoch_us(ts) AS us,
    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
         THEN 1 ELSE 0 END AS brk
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
sess AS (
  SELECT user_id,
    sum(brk) OVER (PARTITION BY user_id ORDER BY us
                   ROWS UNBOUNDED PRECEDING) AS session_id
  FROM e),
per_session AS (
  SELECT user_id, session_id, count(*) AS n_events
  FROM sess GROUP BY user_id, session_id)
SELECT user_id, count(*) AS n_sessions,
       CAST(sum(n_events) AS BIGINT) AS total_events,
       max(n_events) AS max_session_events
FROM per_session GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# rows-only queries (not SQL-expressible: rasters / geodesics / media)
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


def q_multimodal_features(spark, sf_dir):
    """Media spans -> fetch -> REAL decode/featurize over a MIXED
    PNG+JPEG+WAV+Y4M corpus: all four codecs decode through the
    pure-numpy codecs (png.py / jpeg.py / wav.py / y4m.py); payloads
    with no in-container decoder degrade to 'unsupported'. Checked
    against a single-process oracle that decodes the same payloads
    without Spark."""
    from opentopodata_spark.operators import multimodal

    _ship_package(spark)
    _, docs_path = _prepare_elevation_inputs(n_docs=1000)
    documents = spark.read.parquet(docs_path)
    spans = multimodal.media_spans(documents)
    feats = multimodal.decode_and_featurize(
        multimodal.fetch_media(spans, fetcher=multimodal.synthetic_media_payload),
        decoder="real",
    )
    return feats.select(
        "doc_id", "span_pos", "media_ref", "media_kind", "n_bytes", "width", "height"
    )


def q_ivf_topk(spark, sf_dir):
    """IVF approximate nearest neighbors (scale path). Rows-only."""
    e = _t(spark, sf_dir, "embeddings")
    centroids = e.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("cell_id"), F.col("embedding").alias("centroid")
    )
    return emb.ivf_topk(
        e, e.where(F.col("vec_id") % 100 == 0), centroids,
        k=_ANN_K, n_probe=_ANN_NPROBE,
    )


_PQ_M, _PQ_DSUB, _PQ_KSUB = 4, 16, 16
# shared by the ivf/ivfpq Spark queries AND their numpy oracle replays —
# a tuning change must hit both sides or the driver compare mismatches
_ANN_K, _ANN_NPROBE = 5, 2


def _pq_codebooks(e):
    """Deterministic data-sampled PQ codebooks (vec_id % 37, first 16 by
    id): the driver query avoids distributed k-means so the single-process
    oracle replays the exact floats; production trains with
    emb.train_pq_codebooks."""
    w = Window.orderBy("vec_id")
    ranked = (
        e.where(F.col("vec_id") % 37 == 0)
        .orderBy("vec_id")
        .limit(_PQ_KSUB)
        .withColumn("code_id", (F.row_number().over(w) - 1).cast("int"))
    )
    parts = [
        ranked.select(
            F.lit(s).alias("sub_id"),
            "code_id",
            F.slice("embedding", s * _PQ_DSUB + 1, _PQ_DSUB).alias("codeword"),
        )
        for s in range(_PQ_M)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def q_ivfpq_topk(spark, sf_dir):
    """IVF-PQ approximate nearest neighbors (the 100 TB ANN path: coarse
    cells + m-int product-quantization codes, ADC scoring — raw vectors
    never shuffle). Oracle: single-process numpy replay."""
    e = _t(spark, sf_dir, "embeddings")
    centroids = e.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("cell_id"), F.col("embedding").alias("centroid")
    )
    return emb.ivfpq_topk(
        e,
        e.where(F.col("vec_id") % 100 == 0),
        centroids,
        _pq_codebooks(e),
        k=_ANN_K,
        n_probe=_ANN_NPROBE,
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


def _pip_edge_values() -> str:
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
    return ",\n    ".join(edge_rows)


def _pip_sql() -> str:
    edges = _pip_edge_values()
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


def q_interval_coverage(spark, sf_dir):
    """Gaps-and-islands union length (operators/intervals.
    interval_coverage): deterministic event-derived intervals
    [ts, ts + (1 + event_id%7) minutes) per user_id%16 group — one
    partition+sort serves both window passes, then a map-side-combined
    two-level aggregation; all arithmetic int64 microseconds, exact.
    Full SQL oracle: the identical window construction in DuckDB."""
    from opentopodata_spark.operators.intervals import interval_coverage

    _ship_package(spark)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    e = _t(spark, sf_dir, "events").select(
        (F.col("user_id") % 16).cast("int").alias("g"),
        us.alias("start"),
        (us + (F.lit(1) + F.col("event_id") % 7) * 60_000_000).alias("end"),
    )
    return interval_coverage(e, group_cols=("g",))


_Q_INTERVAL_COVERAGE_SQL = """
WITH iv AS (
  SELECT CAST(user_id % 16 AS INTEGER) AS g,
         epoch_us(ts) AS s,
         epoch_us(ts) + (1 + event_id % 7) * 60000000 AS e
  FROM events),
o AS (
  SELECT g, s, e,
         CASE WHEN max(e) OVER w IS NULL OR s > max(e) OVER w
              THEN 1 ELSE 0 END AS new
  FROM iv WHERE e > s
  WINDOW w AS (PARTITION BY g ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
isl AS (
  SELECT g, s, e,
         SUM(new) OVER (PARTITION BY g ORDER BY s, e
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS island
  FROM o),
agg AS (
  SELECT g, island, min(s) AS i_s, max(e) AS i_e, count(*) AS n
  FROM isl GROUP BY 1, 2)
SELECT g, CAST(sum(n) AS BIGINT) AS n_intervals,
       CAST(count(*) AS BIGINT) AS n_islands,
       CAST(sum(i_e - i_s) AS BIGINT) AS covered_us
FROM agg GROUP BY g
"""


_TOPK_K = 3


def q_topk_per_group(spark, sf_dir):
    """Bounded top-k per group (operators/topk.topk_per_group): the
    candidate/finalize rewrite of the window-rank idiom — per-batch
    vectorized prune keeps <= k rows per group before the shuffle, so
    the exact window rank runs on a candidate set instead of the whole
    table. Deterministic total order via required tie columns. Oracle:
    the plain row_number() window over everything."""
    from opentopodata_spark.operators.topk import topk_per_group

    _ship_package(spark)
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    return topk_per_group(
        li, ("l_returnflag",), "l_extendedprice", _TOPK_K,
        ("l_orderkey", "l_linenumber"),
    )


_Q_TOPK_SQL = f"""
SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
       CAST(rank AS INTEGER) AS rank
FROM (
  SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
         row_number() OVER (PARTITION BY l_returnflag
                            ORDER BY l_extendedprice DESC,
                                     l_orderkey, l_linenumber) AS rank
  FROM lineitem)
WHERE rank <= {_TOPK_K}
"""


_RSTATS_NB = 16


def q_raster_stats(spark, sf_dir):
    """Whole-catalog raster statistics + histogram (operators/rstats —
    the gdalinfo -stats/-hist twin): exact fsum partials per tile
    combined in pinned path order, then a second tile map bins cells
    into left-closed equal-width buckets. Output: one row per bucket
    carrying the (identical) summary columns — every column is either
    an exact integer/extremum, an exact sum (int16 source values, so
    double sums are exact at any order), or a round(6) of an
    identically-structured expression, so the DuckDB oracle (its own
    SQL aggregation over the SAME precomputed pixel table the
    zonal_stats oracle uses) matches bit-for-bit."""
    from opentopodata_spark.operators import rstats

    _ship_package(spark)
    paths = _zonal_raster_paths()
    s = rstats.raster_stats(spark, paths)
    hist = rstats.raster_histogram(
        spark, paths, n_buckets=_RSTATS_NB, vmin=s["vmin"], vmax=s["vmax"]
    )
    n = s["n_valid"]
    mean_raw = s["vsum"] / n
    std_raw = __import__("math").sqrt(
        s["vsumsq"] / n - (s["vsum"] / n) * (s["vsum"] / n)
    )
    return hist.select(
        "bucket", "count",
        F.lit(int(n)).cast("long").alias("n_valid"),
        F.lit(int(s["n_nodata"])).cast("long").alias("n_nodata"),
        F.lit(float(s["vmin"])).alias("vmin"),
        F.lit(float(s["vmax"])).alias("vmax"),
        F.lit(float(s["vsum"])).alias("vsum"),
        F.lit(float(s["vsumsq"])).alias("vsumsq"),
        F.round(F.lit(float(mean_raw)), 6).alias("mean_r"),
        F.round(F.lit(float(std_raw)), 6).alias("stddev_r"),
    )


def _raster_stats_sql() -> str:
    path = _oracle_parquet("zonal_pixels", _build_zonal_pixels)
    nb = _RSTATS_NB
    return f"""
WITH px AS (SELECT value, is_nodata FROM read_parquet('{path}')),
v AS (SELECT value FROM px WHERE NOT is_nodata),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_valid,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM px WHERE is_nodata)
           AS n_nodata,
         MIN(value) AS vmin, MAX(value) AS vmax,
         SUM(value) AS vsum, SUM(value * value) AS vsumsq
  FROM v),
b AS (
  SELECT CAST(LEAST(FLOOR((value - s.vmin) * {nb} / (s.vmax - s.vmin)),
                    {nb - 1}) AS BIGINT) AS bucket
  FROM v, s),
h AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS cnt FROM b GROUP BY bucket),
buckets AS (SELECT unnest(generate_series(0, {nb - 1})) AS bucket)
SELECT CAST(bk.bucket AS BIGINT) AS bucket,
       COALESCE(h.cnt, 0) AS count,
       s.n_valid, s.n_nodata, s.vmin, s.vmax, s.vsum, s.vsumsq,
       ROUND(s.vsum / s.n_valid, 6) AS mean_r,
       ROUND(SQRT(s.vsumsq / s.n_valid
                  - (s.vsum / s.n_valid) * (s.vsum / s.n_valid)), 6)
         AS stddev_r
FROM buckets bk LEFT JOIN h ON bk.bucket = h.bucket CROSS JOIN s
"""


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


def _zonal_majority_oracle_entry() -> dict[str, str]:
    try:
        return {"zonal_majority": _zonal_majority_sql()}
    except Exception:
        return {}


def _raster_stats_oracle_entry() -> dict[str, str]:
    try:
        return {"raster_stats": _raster_stats_sql()}
    except Exception:
        return {}


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


def _srtm_tile_rows() -> list[tuple[int, int, str]]:
    import glob as _glob

    from opentopodata_spark import fixtures

    raster_dir = os.path.join(_fixture_root(), "rasters")
    fixtures.make_all_rasters(raster_dir)
    paths = sorted(
        _glob.glob(os.path.join(raster_dir, "test-srtm90m-subset", "*.tif"))
    )
    return [(0, 10 + i, p) for i, p in enumerate(paths)]


def _hydro_surface():
    """Deterministic DEM for the hydrology queries: smooth hills + an
    eastward tilt (long cross-tile flow lines) + noise + a NODATA lake."""
    import numpy as np

    rng = np.random.default_rng(4242)
    H, W = 120, 120
    yy, xx = np.mgrid[0:H, 0:W]
    z = (
        50.0 * np.sin(xx / 11.0) * np.cos(yy / 9.0)
        + 0.25 * xx - 0.15 * yy + rng.normal(0, 0.6, (H, W))
    )
    z[30:34, 70:78] = np.nan
    return z


def _hydro_tile_rows() -> list[tuple[int, int, str]]:
    """2x2 non-overlapping 60x60 tile grid over _hydro_surface()."""
    import numpy as np

    from opentopodata_spark import geotiff

    d = os.path.join(_fixture_root(), "hydro_tiles")
    os.makedirs(d, exist_ok=True)
    res, side = 0.02, 60
    z = None
    tiles = []
    for ty in range(2):
        for tx in range(2):
            path = os.path.join(d, f"h_{ty}_{tx}.tif")
            if not os.path.exists(path):
                if z is None:
                    z = _hydro_surface()
                arr = z[ty * side:(ty + 1) * side, tx * side:(tx + 1) * side]
                tmp = path + f".tmp{os.getpid()}"
                geotiff.write_geotiff(
                    tmp, arr.astype(np.float64), x0=8.0 + tx * side * res,
                    y0=2.0 - ty * side * res, sx=res, sy=res, epsg=4326,
                    nodata=-9999,
                )
                os.replace(tmp, path)
            tiles.append((2 - 1 - ty, tx, path))
    return tiles


def q_flow_accumulation(spark, sf_dir):
    """D8 flow accumulation (operators/hydrology.flow_accumulation):
    two-level decomposition — per-tile numpy topological peel, a border-
    cell-only global routing solve, then an inflow-injected re-peel and
    GeoTIFF sink. Pixels never shuffle; only O(border cells) rows are
    exchanged. Oracle: single-process whole-mosaic accumulation (no
    tiling, no halo, no border graph), precomputed to parquet."""
    from opentopodata_spark.operators import hydrology

    _ship_package(spark)
    out_dir = os.path.join(_fixture_root(), "flow_acc_out")
    m = hydrology.flow_accumulation(spark, _hydro_tile_rows(), out_dir)
    return m.select("tile_iy", "tile_ix", "n_valid", "checksum")


def _build_flow_acc_oracle(sf_dir: str):
    import numpy as np
    import pyarrow as pa

    from opentopodata_spark.operators import hydrology

    z = _hydro_surface()
    acc = hydrology.mosaic_flow_accumulation(z, 0.02, 0.02)
    side = 60
    rows = []
    for ty in range(2):
        for tx in range(2):
            blk = acc[ty * side:(ty + 1) * side, tx * side:(tx + 1) * side]
            fin = np.isfinite(blk)
            arr = blk[fin].astype(np.float32)
            rows.append((
                2 - 1 - ty, tx, int(fin.sum()),
                round(float(arr.astype(np.float64).sum()), 3),
            ))
    return pa.table(
        {
            "tile_iy": pa.array([r[0] for r in rows], type=pa.int64()),
            "tile_ix": pa.array([r[1] for r in rows], type=pa.int64()),
            "n_valid": pa.array([r[2] for r in rows], type=pa.int64()),
            "checksum": pa.array([r[3] for r in rows], type=pa.float64()),
        }
    )


def q_terrain_slope(spark, sf_dir):
    """Distributed Horn-slope stencil over the SRTM tile pair: per-tile
    computation with a 1-pixel cross-tile halo read directly from the
    neighboring tiles (zero shuffles), GeoTIFF outputs + manifest with
    per-tile lineage checksums. Oracle: a single-process MOSAIC-stitching
    evaluation (different plumbing: stitch then slice, vs halo reads) of
    the same kernel, precomputed to parquet."""
    from opentopodata_spark.operators import terrain

    _ship_package(spark)
    out_dir = os.path.join(_fixture_root(), "terrain_slope_out")
    m = terrain.terrain_tiles(
        spark, _srtm_tile_rows(), out_dir, kind="slope", scale=111120.0
    )
    return m.select("tile_iy", "tile_ix", "n_valid", "checksum")


def _build_terrain_oracle(sf_dir: str):
    """Independent stitching path: assemble the full mosaic (overlap
    column shared), run the kernel once, slice per tile, reproduce the
    stored-dtype checksum."""
    import numpy as np
    import pyarrow as pa

    from opentopodata_spark import geotiff
    from opentopodata_spark.operators import terrain

    tiles = _srtm_tile_rows()
    rasters = [geotiff.open_raster(p) for _, _, p in tiles]
    side = rasters[0].height
    # SRTM 1-px overlap: n tiles of `side` cols share edges -> total cols
    W = (rasters[0].width - 1) * len(rasters) + 1
    mosaic = np.full((side, W), np.nan)
    for i, r in enumerate(rasters):
        c0 = i * (r.width - 1)
        mosaic[:, c0:c0 + r.width] = r.read_block(0, r.height, 0, r.width)
    padded = np.full((side + 2, W + 2), np.nan)
    padded[1:-1, 1:-1] = mosaic
    res_all = terrain.terrain_kernel(
        padded, rasters[0].sx, rasters[0].sy, "slope", scale=111120.0
    )
    rows = []
    for i, (iy, ix, _p) in enumerate(tiles):
        c0 = i * (rasters[i].width - 1)
        res = res_all[:, c0:c0 + rasters[i].width]
        finite = np.isfinite(res)
        arr = np.where(finite, res, -9999.0).astype(np.float32)
        rows.append((
            iy, ix, int(finite.sum()),
            round(float(arr[finite].astype(np.float64).sum()), 3),
        ))
    return pa.table(
        {
            "tile_iy": pa.array([r[0] for r in rows], type=pa.int64()),
            "tile_ix": pa.array([r[1] for r in rows], type=pa.int64()),
            "n_valid": pa.array([r[2] for r in rows], type=pa.int64()),
            "checksum": pa.array([r[3] for r in rows], type=pa.float64()),
        }
    )


def q_overview_tiles(spark, sf_dir):
    """Distributed overview builder (gdaladdo equivalent): factor-8
    NaN-aware average pooling per tile, zero shuffles, GeoTIFF outputs
    with lineage checksums. Oracle: single-process block reduction of
    the same tiles, precomputed to parquet."""
    from opentopodata_spark.operators import resample

    _ship_package(spark)
    out_dir = os.path.join(_fixture_root(), "overview_out")
    m = resample.resample_tiles(
        spark, _srtm_tile_rows(), out_dir, factor=8
    )
    return m.select(
        "tile_iy", "tile_ix", "width", "height", "n_valid", "checksum"
    )


def q_streaming_overview(spark, sf_dir):
    """File-arrival-driven raster processing: a tile-manifest STREAM
    (metadata rows only) drives idempotent overview builds through
    foreachBatch + the atomic-rename/skip-existing sink. Produces the
    same per-tile manifest stats as the batch overview_tiles query, so
    it shares that oracle (single-process pooling)."""
    import json as _json
    import shutil
    import uuid

    from opentopodata_spark import streaming as st

    _ship_package(spark)
    work = os.path.join(_fixture_root(), f"stream_ovr_{uuid.uuid4().hex[:8]}")
    man_dir = os.path.join(work, "manifests")
    os.makedirs(man_dir)
    with open(os.path.join(man_dir, "wave.json"), "w") as f:
        for iy, ix, p in _srtm_tile_rows():
            f.write(_json.dumps(
                {"tile_iy": iy, "tile_ix": ix, "path": p}) + "\n")
    out_dir = os.path.join(work, "out")
    q = st.run_overview_stream(
        spark, st.stream_tile_manifests(spark, man_dir),
        out_dir, os.path.join(work, "ckpt"), factor=8,
    )
    q.awaitTermination()
    result = spark.read.parquet(os.path.join(out_dir, "_manifest")).select(
        "tile_iy", "tile_ix", "width", "height", "n_valid", "checksum"
    )
    rows = result.collect()  # materialize before the workdir vanishes
    shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "tile_iy long, tile_ix long, width int, height int, "
        "n_valid long, checksum double",
    )


def _build_overview_oracle(sf_dir: str):
    import numpy as np
    import pyarrow as pa

    from opentopodata_spark import geotiff
    from opentopodata_spark.operators import resample

    rows = []
    for iy, ix, p in _srtm_tile_rows():
        r = geotiff.open_raster(p)
        res = resample.block_reduce(
            r.read_block(0, r.height, 0, r.width), 8, "average"
        )
        finite = np.isfinite(res)
        arr = np.where(finite, res, -9999.0).astype(np.float32)
        rows.append((
            iy, ix, res.shape[1], res.shape[0], int(finite.sum()),
            round(float(arr[finite].astype(np.float64).sum()), 3),
        ))
    return pa.table(
        {
            "tile_iy": pa.array([r[0] for r in rows], type=pa.int64()),
            "tile_ix": pa.array([r[1] for r in rows], type=pa.int64()),
            "width": pa.array([r[2] for r in rows], type=pa.int32()),
            "height": pa.array([r[3] for r in rows], type=pa.int32()),
            "n_valid": pa.array([r[4] for r in rows], type=pa.int64()),
            "checksum": pa.array([r[5] for r in rows], type=pa.float64()),
        }
    )


def _cog_tile_rows() -> list[tuple[int, int, str]]:
    """COG twins of the SRTM fixture tiles: float32 copies carrying an
    embedded factor-8 'average' overview IFD (tiled, deflate), written
    once under the fixture root with a .complete marker."""
    import numpy as np

    from opentopodata_spark import geotiff

    d = os.path.join(_fixture_root(), "cog_tiles_r4")
    marker = os.path.join(d, ".complete")
    srcs = _srtm_tile_rows()
    if not os.path.exists(marker):
        os.makedirs(d, exist_ok=True)
        for _iy, _ix, p in srcs:
            r = geotiff.open_raster(p)
            band = r.read_block(0, r.height, 0, r.width)  # NaN holes
            arr = np.where(
                np.isfinite(band), band, -9999.0
            ).astype(np.float32)
            geotiff.write_geotiff(
                os.path.join(d, os.path.basename(p)), arr,
                x0=r.x0, y0=r.y0, sx=r.sx, sy=r.sy, epsg=4326,
                nodata=-9999.0, compression="deflate", predictor=3,
                tile_size=(256, 256), overviews=(8,),
            )
        with open(marker, "w") as f:
            f.write("ok")
    return [
        (iy, ix, os.path.join(d, os.path.basename(p)))
        for iy, ix, p in srcs
    ]


def q_cog_overviews(spark, sf_dir):
    """Cloud-optimized GeoTIFF as a CONTRACT query: resample_tiles(
    use_overviews=True) serves the factor-8 level straight from each
    tile's embedded overview IFD — 1/64 of the pixel bytes read, and
    the manifest's from_overview flag pins that NO tile silently fell
    back to the full-resolution path — while the values must equal the
    single-process full-resolution block reduce bit-for-bit (the
    embedded level is the same NODATA-aware float64 average kernel).
    Reference note: the reference's own performance docs tell users to
    pre-build overviews with gdaladdo before serving
    (/root/reference/docs/notes/performance-optimisation.md); this is
    that tool distributed, plus the COG read path it implies."""
    from opentopodata_spark.operators import resample

    _ship_package(spark)
    out_dir = os.path.join(_fixture_root(), "cog_overview_out")
    m = resample.resample_tiles(
        spark, _cog_tile_rows(), out_dir, factor=8, use_overviews=True
    )
    return m.select(
        "tile_iy", "tile_ix", "width", "height", "n_valid", "checksum",
        "from_overview",
    )


def _build_cog_overview_oracle(sf_dir: str):
    """Independent path: full-resolution single-process block reduce of
    the SAME COG tiles (never touches the embedded levels)."""
    import numpy as np
    import pyarrow as pa

    from opentopodata_spark import geotiff
    from opentopodata_spark.operators import resample

    rows = []
    for iy, ix, p in _cog_tile_rows():
        r = geotiff.open_raster(p)
        res = resample.block_reduce(
            r.read_block(0, r.height, 0, r.width), 8, "average"
        )
        finite = np.isfinite(res)
        arr = np.where(finite, res, -9999.0).astype(np.float32)
        rows.append((
            iy, ix, res.shape[1], res.shape[0], int(finite.sum()),
            round(float(arr[finite].astype(np.float64).sum()), 3),
        ))
    return pa.table({
        "tile_iy": pa.array([r[0] for r in rows], type=pa.int64()),
        "tile_ix": pa.array([r[1] for r in rows], type=pa.int64()),
        "width": pa.array([r[2] for r in rows], type=pa.int32()),
        "height": pa.array([r[3] for r in rows], type=pa.int32()),
        "n_valid": pa.array([r[4] for r in rows], type=pa.int64()),
        "checksum": pa.array([r[5] for r in rows], type=pa.float64()),
        "from_overview": pa.array([True] * len(rows), type=pa.bool_()),
    })


_WARP_KW = dict(dst_epsg=32632, dst_res=(400.0, 400.0), tile_px=192)


def q_raster_warp(spark, sf_dir):
    """Distributed gdalwarp as a CONTRACT query: the SRTM fixture tiles
    (EPSG:4326) re-gridded onto a 400 m EPSG:32632 grid, one Spark task
    per output tile (zero shuffles; each task inverse-projects its
    pixel centers and samples only the source windows its kernels
    touch). Oracle: the single-process sequential twin. Reference note:
    the reference prepares served datasets with exactly this step
    (gdalwarp in /root/reference/docs/datasets/gebco2020.md:104,
    nzdem.md:69) and ships a gdalwarp-derived UTM fixture its tests
    sample (tests/data/datasets/test-srtm90m-subset-utm)."""
    from opentopodata_spark.operators import warp

    _ship_package(spark)
    out_dir = os.path.join(_fixture_root(), "warp_out")
    paths = [p for _iy, _ix, p in _srtm_tile_rows()]
    m = warp.warp_tiles(spark, paths, out_dir, **_WARP_KW)
    return m.select(
        "tile_ty", "tile_tx", "width", "height", "n_valid", "checksum"
    )


def _build_raster_warp_oracle(sf_dir: str):
    import pyarrow as pa

    from opentopodata_spark.operators import warp

    paths = [p for _iy, _ix, p in _srtm_tile_rows()]
    rows = warp.warp_tiles_sequential(paths, **_WARP_KW)
    return pa.table({
        "tile_ty": pa.array([r[0] for r in rows], type=pa.int64()),
        "tile_tx": pa.array([r[1] for r in rows], type=pa.int64()),
        "width": pa.array([r[2] for r in rows], type=pa.int32()),
        "height": pa.array([r[3] for r in rows], type=pa.int32()),
        "n_valid": pa.array([r[4] for r in rows], type=pa.int64()),
        "checksum": pa.array([r[5] for r in rows], type=pa.float64()),
    })


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


def _fillnodata_tile_rows() -> list[tuple[int, int, str]]:
    """Deterministic 2x3 mosaic with voids for the fillnodata contract:
    smooth terrain + speckle holes + an irregular lake straddling two
    tile seams + one void wider than max_distance (exercises the
    unfilled path)."""
    import numpy as np

    from opentopodata_spark import geotiff

    out_dir = os.path.join(_fixture_root(), "fillnodata_mosaic")
    os.makedirs(out_dir, exist_ok=True)
    th, tw, n_ty, n_tx = 200, 200, 2, 3
    H, W = n_ty * th, n_tx * tw
    rng = np.random.default_rng(61)
    z = (
        300 * np.sin(np.linspace(0, 8, W))[None, :]
        + 200 * np.cos(np.linspace(0, 6, H))[:, None]
        + rng.normal(0, 10, (H, W))
    )
    z[rng.random((H, W)) < 0.01] = np.nan          # speckle voids
    z[180:215, 150:450] = np.nan                   # seam-straddling lake
    z[60:140, 480:560] = np.nan                    # > max_distance void
    rows = []
    for iy in range(n_ty):
        for ix in range(n_tx):
            p = os.path.join(out_dir, f"fill_{iy}_{ix}.tif")
            if not os.path.exists(p):
                sub = z[iy * th:(iy + 1) * th, ix * tw:(ix + 1) * tw]
                geotiff.write_geotiff(
                    p, np.where(np.isfinite(sub), sub, -9999.0)
                    .astype(np.float32),
                    x0=ix * tw * 0.001, y0=40.0 - iy * th * 0.001,
                    sx=0.001, sy=0.001, epsg=4326, nodata=-9999,
                )
            rows.append((iy, ix, p))
    return rows


_FILLNODATA_KW = dict(max_distance=12.0, smoothing_iterations=1)


def q_raster_fillnodata(spark, sf_dir):
    """Distributed gdal_fillnodata: 8-ray IDW void filling with one
    smoothing pass over a seeded 2x3 mosaic (speckle voids, a
    seam-straddling lake, one void wider than max_distance). Zero
    shuffles — each task reads a (max_distance + smoothing) halo from
    its grid neighbours. Oracle: the naive per-cell sequential twin
    (walks rays cell-by-cell; no accumulate scans or skewed arrays)."""
    from opentopodata_spark.operators import fillnodata

    _ship_package(spark)
    out_dir = os.path.join(_fixture_root(), "fillnodata_out")
    m = fillnodata.fillnodata_tiles(
        spark, _fillnodata_tile_rows(), out_dir, **_FILLNODATA_KW
    )
    return m.select(
        "tile_iy", "tile_ix", "n_filled", "n_unfilled", "checksum"
    )


def _build_raster_fillnodata_oracle(sf_dir: str):
    import pyarrow as pa

    from opentopodata_spark.operators import fillnodata

    rows = fillnodata.fillnodata_sequential(
        _fillnodata_tile_rows(), **_FILLNODATA_KW
    )
    return pa.table({
        "tile_iy": pa.array([r[0] for r in rows], type=pa.int64()),
        "tile_ix": pa.array([r[1] for r in rows], type=pa.int64()),
        "n_filled": pa.array([r[2] for r in rows], type=pa.int64()),
        "n_unfilled": pa.array([r[3] for r in rows], type=pa.int64()),
        "checksum": pa.array([r[4] for r in rows], type=pa.float64()),
    })


_PROXIMITY_KW = dict(
    target_values=[7.0], max_distance=25.0, dist_units="pixel"
)


def _proximity_tile_rows() -> list[tuple[int, int, str]]:
    """Deterministic 2x3 mosaic for the proximity contract: sparse
    target cells (value 7) scattered over a zero field with NODATA
    speckle, several targets hugging tile seams so cross-tile windows
    matter."""
    import numpy as np

    from opentopodata_spark import geotiff

    out_dir = os.path.join(_fixture_root(), "proximity_mosaic")
    os.makedirs(out_dir, exist_ok=True)
    th, tw, n_ty, n_tx = 200, 200, 2, 3
    H, W = n_ty * th, n_tx * tw
    rng = np.random.default_rng(83)
    k = np.zeros((H, W))
    tgt = rng.random((H, W)) < 0.002
    k[tgt] = 7.0
    k[198:202, 100:110] = 7.0   # seam-hugging block
    k[rng.random((H, W)) < 0.01] = np.nan
    rows = []
    for iy in range(n_ty):
        for ix in range(n_tx):
            p = os.path.join(out_dir, f"prox_{iy}_{ix}.tif")
            if not os.path.exists(p):
                sub = k[iy * th:(iy + 1) * th, ix * tw:(ix + 1) * tw]
                geotiff.write_geotiff(
                    p, np.where(np.isfinite(sub), sub, -9999.0)
                    .astype(np.float32),
                    x0=ix * tw * 0.001, y0=30.0 - iy * th * 0.001,
                    sx=0.001, sy=0.001, epsg=4326, nodata=-9999,
                )
            rows.append((iy, ix, p))
    return rows


def q_raster_proximity(spark, sf_dir):
    """Distributed gdal_proximity: exact euclidean distance-to-target
    within 25 px over a seeded 2x3 mosaic with seam-hugging targets.
    Zero shuffles — per-tile map with a max_distance halo; the kernel
    is the row-decomposition identity (nearest target in row r' is the
    horizontally nearest), a (2R+1)-step whole-array min. Oracle: the
    brute window-scan sequential twin."""
    from opentopodata_spark.operators import proximity

    _ship_package(spark)
    out_dir = os.path.join(_fixture_root(), "proximity_out")
    m = proximity.proximity_tiles(
        spark, _proximity_tile_rows(), out_dir, **_PROXIMITY_KW
    )
    return m.select("tile_iy", "tile_ix", "n_within", "checksum")


def _build_raster_proximity_oracle(sf_dir: str):
    import pyarrow as pa

    from opentopodata_spark.operators import proximity

    rows = proximity.proximity_sequential(
        _proximity_tile_rows(), _PROXIMITY_KW["target_values"],
        _PROXIMITY_KW["max_distance"],
        dist_units=_PROXIMITY_KW["dist_units"],
    )
    return pa.table({
        "tile_iy": pa.array([r[0] for r in rows], type=pa.int64()),
        "tile_ix": pa.array([r[1] for r in rows], type=pa.int64()),
        "n_within": pa.array([r[2] for r in rows], type=pa.int64()),
        "checksum": pa.array([r[3] for r in rows], type=pa.float64()),
    })


_COLORRELIEF_RAMP = """\
-400 40 60 120 255
-50 60 110 180
0 70 140 60
150 150 170 80
350 170 140 90
600 200 200 200 230
nv 0 0 0 0
"""


def q_raster_colorrelief(spark, sf_dir):
    """Distributed gdaldem color-relief: elevations through a 6-entry
    ramp (incl. an nv transparency entry over real NODATA voids) to
    RGBA PNG tiles over the fillnodata mosaic. Pointwise map, zero
    shuffles. Oracle: the sequential twin evaluates the ramp PER PIXEL
    in pure Python and must reproduce every tile md5."""
    from opentopodata_spark.operators import colorrelief

    _ship_package(spark)
    out_dir = os.path.join(_fixture_root(), "colorrelief_out")
    m = colorrelief.colorrelief_tiles(
        spark, _fillnodata_tile_rows(), out_dir, _COLORRELIEF_RAMP
    )
    return m.select("tile_iy", "tile_ix", "n_valid", "md5")


def _build_raster_colorrelief_oracle(sf_dir: str):
    import pyarrow as pa

    from opentopodata_spark.operators import colorrelief

    rows = colorrelief.colorrelief_sequential(
        _fillnodata_tile_rows(), _COLORRELIEF_RAMP
    )
    return pa.table({
        "tile_iy": pa.array([r[0] for r in rows], type=pa.int64()),
        "tile_ix": pa.array([r[1] for r in rows], type=pa.int64()),
        "n_valid": pa.array([r[2] for r in rows], type=pa.int64()),
        "md5": pa.array([r[3] for r in rows], type=pa.string()),
    })


_GRIDDING_KW = dict(
    algorithm="invdist", power=2.0, smoothing=0.002,
    radius1=0.05, radius2=0.05, min_points=1, tile_px=128,
)


def _gridding_fixture():
    """Deterministic scattered points + target grid for the gdal_grid
    contract: 2,500 points over a 384x256-node 0.01-degree grid
    (2x3 tiles of 128px), cluster + uniform mix so some nodes see
    dozens of candidates and swaths of the grid see none."""
    import numpy as np

    from opentopodata_spark.operators.rasterize import GridSpec

    rng = np.random.default_rng(29)
    grid = GridSpec(x0=5.0, y0=47.0, sx=0.01, sy=0.01,
                    width=384, height=256)
    n_u, n_c = 1500, 1000
    la = np.concatenate([
        rng.uniform(44.3, 47.1, n_u),
        rng.normal(45.8, 0.15, n_c),
    ])
    lo = np.concatenate([
        rng.uniform(4.9, 8.9, n_u),
        rng.normal(6.9, 0.2, n_c),
    ])
    v = np.round(rng.uniform(-100.0, 2500.0, n_u + n_c), 3)
    pts = list(zip(la.tolist(), lo.tolist(), v.tolist()))
    return pts, grid


def q_raster_grid(spark, sf_dir):
    """Distributed gdal_grid: 2,500 scattered points IDW-interpolated
    (power 2, smoothing, 5-cell search radius) onto a 384x256 grid of
    2x3 GeoTIFF tiles. Points are exploded to the tiles they can
    influence (narrow exprs), the single shuffle groups them per tile,
    and every node evaluates its pid-ordered compact candidate set —
    the order contract that makes the brute-force per-node sequential
    twin reproduce every float32 cell bit-exactly."""
    from opentopodata_spark.operators import gridding

    _ship_package(spark)
    pts, grid = _gridding_fixture()
    df = spark.createDataFrame(
        [(float(a), float(b), float(c)) for a, b, c in pts],
        "lat double, lon double, value double",
    )
    out_dir = os.path.join(_fixture_root(), "gridding_out")
    m = gridding.grid_points(spark, df, grid, out_dir, **_GRIDDING_KW)
    return m.select("tile_iy", "tile_ix", "n_valid", "checksum")


def _build_raster_grid_oracle(sf_dir: str):
    import pyarrow as pa

    from opentopodata_spark.operators import gridding

    pts, grid = _gridding_fixture()
    rows = gridding.grid_sequential(pts, grid, **_GRIDDING_KW)
    return pa.table({
        "tile_iy": pa.array([r[0] for r in rows], type=pa.int64()),
        "tile_ix": pa.array([r[1] for r in rows], type=pa.int64()),
        "n_valid": pa.array([r[2] for r in rows], type=pa.int64()),
        "checksum": pa.array([r[3] for r in rows], type=pa.float64()),
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


_SEMDEDUP_EPS = 0.10
# exact-rational perturbation — identical doubles in Spark SQL and numpy
_SEMDEDUP_FACTOR_SQL = (
    "1.0D + 0.001D * (CAST((vec_id + i) % 7 AS DOUBLE) - 3.0D) / 3.0D"
)


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup (arXiv:2303.09540) over the embeddings table plus
    synthesized near-duplicates (every 4th vector perturbed by an
    exact-rational factor and re-id'd +100000): max-cosine assignment
    to 20 fixed centroids (vec_id %% 25 == 0), then a farthest-from-
    centroid-first greedy sweep per cluster dropping items within
    cos > 1-eps of a kept member. One narrow assignment pass + ONE
    groupBy(cell_id) shuffle; every cosine rounded to 6dp before any
    comparison, so the independent per-pair numpy twin reproduces all
    625 rows exactly."""
    from opentopodata_spark.operators import embeddings as emb

    _ship_package(spark)
    base = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    pert = base.where(F.col("vec_id") % 4 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.expr(
            "transform(embedding, (x, i) -> CAST(CAST(x AS DOUBLE) * "
            f"({_SEMDEDUP_FACTOR_SQL}) AS FLOAT))"
        ).alias("embedding"),
    )
    cents = base.where(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") / 25).cast("long").alias("cell_id"),
        F.col("embedding").cast("array<double>").alias("centroid"),
    )
    return emb.semantic_dedup(
        base.unionByName(pert), cents, eps=_SEMDEDUP_EPS
    )


def _build_semantic_dedup_oracle(sf_dir: str):
    import numpy as np
    import pyarrow as pa

    t = _read_pq(sf_dir, "embeddings")
    vid = t.column("vec_id").to_numpy()
    V32 = np.asarray(t.column("embedding").to_pylist(),
                     dtype=np.float32)
    order = np.argsort(vid, kind="stable")
    vid, V32 = vid[order], V32[order]
    ids = [int(v) for v in vid]
    vecs = [V32[i] for i in range(len(ids))]
    for i, v in enumerate(vid):
        if v % 4 == 0:
            idx = np.arange(V32.shape[1], dtype=np.float64)
            fac = 1.0 + 0.001 * ((float(v) + idx) % 7 - 3.0) / 3.0
            ids.append(int(v) + 100000)
            vecs.append(
                (V32[i].astype(np.float64) * fac).astype(np.float32)
            )
    cmask = vid % 25 == 0
    C = V32[cmask].astype(np.float64)
    U = C / np.linalg.norm(C, axis=1, keepdims=True)
    cent_ids = (vid[cmask] // 25).astype(np.int64)

    items = []
    for i, v_id in enumerate(ids):
        v = vecs[i].astype(np.float64)
        nv = float(np.sqrt(np.dot(v, v)))
        cos = np.round(
            np.array([float(np.dot(v, U[j])) for j in range(len(U))])
            / max(nv, 1e-300), 6,
        )
        best = int(np.argmax(cos))
        items.append((v_id, int(cent_ids[best]), float(cos[best]),
                      v, nv))
    thr = 1.0 - _SEMDEDUP_EPS
    out = []
    for cell in sorted({it[1] for it in items}):
        mem = sorted((it for it in items if it[1] == cell),
                     key=lambda it: (it[2], it[0]))
        kept = []
        for v_id, c, ccos, v, nv in mem:
            dup = any(
                float(np.round(np.dot(v, kv)
                               / max(nv * knv, 1e-300), 6)) > thr
                for kv, knv in kept
            )
            if not dup:
                kept.append((v, nv))
            out.append((v_id, c, ccos, not dup))
    out.sort()
    return pa.table({
        "vec_id": pa.array([r[0] for r in out], type=pa.int64()),
        "cell_id": pa.array([r[1] for r in out], type=pa.int64()),
        "centroid_cos": pa.array([r[2] for r in out],
                                 type=pa.float64()),
        "keep": pa.array([r[3] for r in out], type=pa.bool_()),
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


_SIEVE_THRESHOLD = 30


def q_raster_sieve(spark, sf_dir):
    """Distributed gdal_sieve: regions below 30 cells merge into their
    largest neighbour (deterministic simultaneous-round semantics, see
    operators/sieve.py) over the same seeded banded mosaic as
    raster_polygonize. The merge loop runs on the REGION GRAPH (orders
    smaller than the cell grid); cells never shuffle. Oracle: the
    sequential twin — different labeling algorithm (run-batched
    min-propagation vs run-length union-find) AND different merge
    executor (rebuild-from-originals vs incremental contraction)."""
    from opentopodata_spark.operators import sieve

    _ship_package(spark)
    return sieve.sieve_regions(
        spark, _polygonize_tile_rows(), _SIEVE_THRESHOLD,
        bands=_POLYGONIZE_BANDS,
    )


def _build_raster_sieve_oracle(sf_dir: str):
    import pyarrow as pa

    from opentopodata_spark.operators import sieve

    rows = sieve.sieve_sequential(
        _polygonize_tile_rows(), _SIEVE_THRESHOLD,
        bands=_POLYGONIZE_BANDS,
    )
    return pa.table({
        "region_id": pa.array([r[0] for r in rows], type=pa.int64()),
        "value": pa.array([r[1] for r in rows], type=pa.int64()),
        "n_cells": pa.array([r[2] for r in rows], type=pa.int64()),
        "n_tiles": pa.array([r[3] for r in rows], type=pa.int64()),
    })


def _delta_grid(side: int = 1201):
    import numpy as np

    r, c = np.indices((side, side))
    return ((r + c) % 5 - 2).astype(np.int16)


def _srtm_delta_tile_rows() -> list[tuple[int, int, str]]:
    """B-side for the diff query: each SRTM tile plus a deterministic
    checkerboard delta, written once under the fixture root."""
    import numpy as np

    from opentopodata_spark import geotiff

    out_dir = os.path.join(_fixture_root(), "srtm_plus_delta")
    os.makedirs(out_dir, exist_ok=True)
    rows = []
    for iy, ix, p in _srtm_tile_rows():
        out = os.path.join(out_dir, os.path.basename(p))
        if not os.path.exists(out):
            r = geotiff.open_raster(p)
            arr = np.asarray(r.band, dtype=np.int16) + _delta_grid(r.height)
            geotiff.write_geotiff(
                out, arr, x0=r.x0, y0=r.y0, sx=r.sx, sy=r.sy, epsg=4326,
                nodata=-32768,
            )
        rows.append((iy, ix, out))
    return rows


def q_raster_diff(spark, sf_dir):
    """Map algebra (change detection): cell-wise A - B over tile pairs
    matched by grid key — pure per-tile map, zero shuffles. B is A plus
    a known checkerboard delta, so the oracle computes every manifest
    statistic in CLOSED FORM from the construction (no raster reads, no
    shared code path with the operator)."""
    from opentopodata_spark.operators import algebra

    _ship_package(spark)
    out_dir = os.path.join(_fixture_root(), "raster_diff_out")
    m = algebra.raster_calc_tiles(
        spark, _srtm_tile_rows(), _srtm_delta_tile_rows(), out_dir,
        expression="a - b",
    )
    return m.select(
        "tile_iy", "tile_ix", "n_valid", "sum_value", "max_abs", "checksum"
    )


def _build_raster_diff_oracle(sf_dir: str):
    import numpy as np
    import pyarrow as pa

    d = _delta_grid()
    s = round(float(-d.sum()), 3)
    l1 = round(float(np.abs(d).sum()), 3)  # the manifest's L1 checksum
    rows = [(iy, ix, d.size, s, 2.0, l1) for iy, ix, _p in _srtm_tile_rows()]
    return pa.table(
        {
            "tile_iy": pa.array([r[0] for r in rows], type=pa.int64()),
            "tile_ix": pa.array([r[1] for r in rows], type=pa.int64()),
            "n_valid": pa.array([r[2] for r in rows], type=pa.int64()),
            "sum_value": pa.array([r[3] for r in rows], type=pa.float64()),
            "max_abs": pa.array([r[4] for r in rows], type=pa.float64()),
            "checksum": pa.array([r[5] for r in rows], type=pa.float64()),
        }
    )


_CONTOUR_LEVELS = [1605.5, 1614.5, 1622.5]


def q_contour_lines(spark, sf_dir):
    """Raster->vector LINES: distributed marching squares over the SRTM
    pair with cross-tile halo reads; shared-edge duplicate segments
    collapse in one small distinct over the segment stream. Oracle: a
    single-process per-tile evaluation with python-set dedup (the
    kernel itself is pinned by analytic tests in tests/test_contours.py;
    this checks the distributed halo/partition/dedup plumbing)."""
    from opentopodata_spark.operators import contours

    _ship_package(spark)
    return contours.contour_tiles(spark, _srtm_tile_rows(), _CONTOUR_LEVELS)


def _build_contour_oracle(sf_dir: str):
    import numpy as np
    import pyarrow as pa

    from opentopodata_spark import geotiff
    from opentopodata_spark.operators import contours
    from opentopodata_spark.operators.terrain import _fill_halo

    tiles = _srtm_tile_rows()
    paths = [p for _iy, _ix, p in tiles]
    seen = set()
    for i, p in enumerate(paths):
        own = geotiff.open_raster(p)
        padded = np.full((own.height + 2, own.width + 2), np.nan)
        padded[1:-1, 1:-1] = own.read_block(0, own.height, 0, own.width)
        _fill_halo(padded, own, [q for q in paths if q != p])
        segs = contours.grid_contour_segments(
            padded, _CONTOUR_LEVELS, own.x0, own.y0, own.sx, own.sy
        )
        for row in np.round(segs, 9):
            seen.add(tuple(row))
    rows = sorted(seen)
    cols = list(zip(*rows)) if rows else [[], [], [], [], []]
    return pa.table(
        {
            name: pa.array(list(vals), type=pa.float64())
            for name, vals in zip(("level", "x1", "y1", "x2", "y2"), cols)
        }
    )


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


def _zonal_oracle_entry() -> dict[str, str]:
    try:
        return {"zonal_stats": _zonal_sql()}
    except Exception:
        import traceback

        traceback.print_exc()  # loud: a builder bug must not silently
        return {}  # downgrade the check to rows-only


# ---------------------------------------------------------------------------
# precomputed single-process oracles for the non-SQL-expressible queries
#
# DuckDB cannot compute rasters / Karney geodesics / S2 Hilbert ids / IVF,
# so for these the oracle is the repo's own SINGLE-PROCESS reference
# implementation (numpy, no Spark): expected outputs are recomputed fresh
# into a parquet at oracle_sql() time and the SQL just reads that file.
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


def _build_multimodal_oracle(sf_dir: str):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from opentopodata_spark import jpeg, png, wav, y4m
    from opentopodata_spark.operators.multimodal import synthetic_media_payload

    _, docs_path = _prepare_elevation_inputs(n_docs=1000)
    docs = pq.read_table(docs_path)
    out = {k: [] for k in (
        "doc_id", "span_pos", "media_ref", "media_kind", "n_bytes", "width",
        "height",
    )}
    for doc_id, spans in zip(
        docs.column("doc_id").to_pylist(), docs.column("spans").to_pylist()
    ):
        if not spans:
            continue
        for span_pos, span in enumerate(spans):
            if span["kind"] != "media":
                continue
            ref = span["media_ref"]
            b = synthetic_media_payload(ref)
            # independent re-derivation of the decode result (no
            # mapInPandas, no _decode_real): sniff + decode + shape
            if png.is_png(b):
                arr = png.decode_png(b)
                kind, w, h = "image", arr.shape[1], arr.shape[0]
            elif jpeg.is_jpeg(b):
                arr = jpeg.decode_jpeg(b)
                kind, w, h = "image", arr.shape[1], arr.shape[0]
            elif wav.is_wav(b):
                wav.decode_wav(b)  # must parse — audio decodes for real
                kind, w, h = "audio", None, None
            elif y4m.is_y4m(b):
                _y, _u, _v, meta = y4m.decode_y4m(b)  # video decodes for real
                kind, w, h = "video", meta.width, meta.height
            else:
                kind, w, h = "unsupported", None, None
            out["doc_id"].append(doc_id)
            out["span_pos"].append(span_pos)
            out["media_ref"].append(ref)
            out["media_kind"].append(kind)
            out["n_bytes"].append(len(b))
            out["width"].append(w)
            out["height"].append(h)
    return pa.table(
        {
            "doc_id": pa.array(out["doc_id"], type=pa.string()),
            "span_pos": pa.array(out["span_pos"], type=pa.int32()),
            "media_ref": pa.array(out["media_ref"], type=pa.string()),
            "media_kind": pa.array(out["media_kind"], type=pa.string()),
            "n_bytes": pa.array(out["n_bytes"], type=pa.int64()),
            "width": pa.array(out["width"], type=pa.int32()),
            "height": pa.array(out["height"], type=pa.int32()),
        }
    )


def _fold_dot(a, b) -> float:
    """Left-to-right double fold — the exact summation order of the Spark
    aggregate(zip_with(...)) expression in operators/embeddings.dot."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += float(x) * float(y)
    return acc


def _round_half_up(x: float, digits: int) -> float:
    import math

    scale = 10.0**digits
    return math.copysign(math.floor(abs(x) * scale + 0.5), x) / scale


def _build_ivf_oracle(sf_dir: str):
    import math

    import numpy as np
    import pyarrow as pa

    t = _read_pq(sf_dir, "embeddings")
    vec_id = t.column("vec_id").to_numpy()
    embs = t.column("embedding").to_pylist()
    V = np.asarray(embs, dtype=np.float64)
    cent_mask = vec_id % 50 == 0
    cent_ids = vec_id[cent_mask]
    order = np.argsort(cent_ids, kind="stable")
    cent_ids = cent_ids[order]
    C = V[cent_mask][order]
    unit = C / np.linalg.norm(C, axis=1, keepdims=True)

    assign = cent_ids[np.argmax(V @ unit.T, axis=1)]
    probe = np.argsort(-(V @ unit.T), axis=1, kind="stable")[:, :_ANN_NPROBE]

    by_cell: dict[int, list[int]] = {}
    for i, c in enumerate(assign):
        by_cell.setdefault(int(c), []).append(i)

    norms = [math.sqrt(_fold_dot(e, e)) for e in embs]
    rows = []
    for qi in np.nonzero(vec_id % 100 == 0)[0]:
        qid = int(vec_id[qi])
        cands = []
        for cell in cent_ids[probe[qi]]:
            for ci in by_cell.get(int(cell), []):
                nid = int(vec_id[ci])
                if nid == qid:
                    continue
                cos = _fold_dot(embs[qi], embs[ci]) / (norms[qi] * norms[ci])
                cands.append((nid, _round_half_up(cos, 6)))
        cands.sort(key=lambda t: (-t[1], t[0]))
        for rank, (nid, cos) in enumerate(cands[:_ANN_K], start=1):
            rows.append((qid, nid, rank, cos))
    return pa.table(
        {
            "query_id": pa.array([r[0] for r in rows], type=pa.int64()),
            "neighbor_id": pa.array([r[1] for r in rows], type=pa.int64()),
            "rank": pa.array([r[2] for r in rows], type=pa.int32()),
            "cos_sim": pa.array([r[3] for r in rows], type=pa.float64()),
        }
    )


def _build_ivfpq_oracle(sf_dir: str):
    """Single-process replay of q_ivfpq_topk with the IDENTICAL numpy
    expressions (einsum over the contiguous dsub axis, argmin/argmax
    first-wins ties) so doubles match bitwise before the final round."""
    import numpy as np
    import pyarrow as pa

    m, dsub, ksub = _PQ_M, _PQ_DSUB, _PQ_KSUB
    t = _read_pq(sf_dir, "embeddings")
    vec_id = t.column("vec_id").to_numpy()
    V = np.ascontiguousarray(
        np.asarray(t.column("embedding").to_pylist(), dtype=np.float64)
    )

    cent_mask = vec_id % 50 == 0
    cent_ids = vec_id[cent_mask]
    order = np.argsort(cent_ids, kind="stable")
    cent_ids = cent_ids[order]
    C = V[cent_mask][order]
    unit = C / np.linalg.norm(C, axis=1, keepdims=True)

    cb_rows = np.sort(vec_id[vec_id % 37 == 0])[:ksub]
    ksub_eff = len(cb_rows)
    idx_of = {int(v): i for i, v in enumerate(vec_id)}
    cb = np.ascontiguousarray(
        np.stack(
            [
                np.stack([V[idx_of[int(r)]][s * dsub:(s + 1) * dsub]
                          for r in cb_rows])
                for s in range(m)
            ]
        )
    )  # (m, ksub_eff, dsub)
    cw_sq = (cb**2).sum(axis=2)

    assign = cent_ids[np.argmax(V @ unit.T, axis=1)]
    Vs = V.reshape(len(V), m, dsub)
    d2 = cw_sq[None, :, :] - 2.0 * np.einsum("bmd,mkd->bmk", Vs, cb)
    codes = np.argmin(d2, axis=2).astype(np.int64)  # (n, m)

    probe = np.argsort(-(V @ unit.T), axis=1, kind="stable")[:, :_ANN_NPROBE]
    by_cell: dict[int, list[int]] = {}
    for i, c in enumerate(assign):
        by_cell.setdefault(int(c), []).append(i)

    rows = []
    for qi in np.nonzero(vec_id % 100 == 0)[0]:
        qid = int(vec_id[qi])
        qv = Vs[qi:qi + 1]  # (1, m, dsub)
        lut = np.einsum("bmd,mkd->bmk", qv, cb)[0]  # (m, ksub_eff)
        cands = []
        for cell in cent_ids[probe[qi]]:
            for ci in by_cell.get(int(cell), []):
                nid = int(vec_id[ci])
                if nid == qid:
                    continue
                sim = float(
                    np.take_along_axis(
                        lut[None], codes[ci][None, :, None], axis=2
                    )[0, :, 0].sum()
                )
                cands.append((nid, _round_half_up(sim, 6)))
        cands.sort(key=lambda t: (-t[1], t[0]))
        for rank, (nid, sim) in enumerate(cands[:_ANN_K], start=1):
            rows.append((qid, nid, rank, sim))
    return pa.table(
        {
            "query_id": pa.array([r[0] for r in rows], type=pa.int64()),
            "neighbor_id": pa.array([r[1] for r in rows], type=pa.int64()),
            "rank": pa.array([r[2] for r in rows], type=pa.int32()),
            "approx_sim": pa.array([r[3] for r in rows], type=pa.float64()),
        }
    )


def _build_quality_classifier_oracle(sf_dir: str):
    """Single-process twin of q_quality_classifier: identical text_embed
    integers (md5 15-hex prefix, sign bit 55, mod-dim bucket, exact-int
    L2 norm, float32 cast), identical GD schedule (zeros init, 20 full-
    batch iters, lr 1.0). Distributed-vs-single sum order differs only
    in ulps, absorbed by the 3-decimal rounding both sides apply."""
    import hashlib
    import math
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np
    import pyarrow as pa

    tbl = _read_pq(sf_dir, "documents")
    ids = tbl.column("doc_id").to_pylist()
    texts = tbl.column("text").to_pylist()
    langs = tbl.column("lang").to_pylist()
    dim = 32
    X = np.zeros((len(ids), dim), dtype=np.float64)
    for row, t in enumerate(texts):
        t = t or ""
        w = np.zeros(dim, dtype=np.int64)
        for i in range(max(len(t) - 2, 0)):
            h = int(hashlib.md5(t[i : i + 3].encode("utf-8")).hexdigest()[:15], 16)
            w[h % dim] += 1 if (h >> 55) & 1 else -1
        ss = math.sqrt(float((w.astype(np.float64) ** 2).sum()))  # exact ints
        if ss > 0:
            X[row] = (w / ss).astype(np.float32).astype(np.float64)
    y = np.array([1.0 if l == "en" else 0.0 for l in langs])
    wgt = np.zeros(dim, dtype=np.float64)
    b = 0.0
    for _ in range(20):
        p = 1.0 / (1.0 + np.exp(-(X @ wgt + b)))
        r = p - y
        wgt = wgt - (r @ X) / len(y)
        b = b - r.sum() / len(y)
    p = 1.0 / (1.0 + np.exp(-(X @ wgt + b)))
    # Spark round() = shortest-repr BigDecimal HALF_UP (scala BigDecimal
    # valueOf): python repr() is the same shortest round-trip string
    prob = [
        float(Decimal(repr(v)).quantize(Decimal("0.001"), ROUND_HALF_UP))
        for v in p
    ]
    return pa.table(
        {
            "doc_id": pa.array([int(i) for i in ids], type=pa.int64()),
            "label": pa.array([int(v) for v in y], type=pa.int64()),
            "prob": pa.array(prob, type=pa.float64()),
            "pred": pa.array([int(v > 0.5) for v in p], type=pa.int64()),
        }
    )


_FORMAT_FMTS = ("tif", "asc", "bil", "nc", "nc4", "gpkg", "vrt", "jpa",
                "jp2", "dt0", "mbtiles")


def _formats_fixture_dir() -> str:
    """Deterministic two-tile terrain written in EVERY supported raster
    format (one subdir per format, same values), for the cross-format
    and remote-IO contract queries. Idempotent via a .complete marker."""
    import numpy as np

    from opentopodata_spark import fixtures, geotiff, gpkg, hdf5
    from opentopodata_spark import gridformats as gf
    from opentopodata_spark import jp2 as jp2mod

    root = os.path.join(_fixture_root(), "formats_r4e")
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
            ext = "tif" if fmt == "jpa" else fmt
            p = os.path.join(d, f"{stem}.{ext}")
            if fmt == "tif":
                geotiff.write_geotiff(p, grid, x0=lon0, y0=1.0, sx=res,
                                      sy=res, epsg=4326, nodata=-32768)
            elif fmt == "jpa":
                # arithmetic-coded JPEG-in-TIFF (T.81 QM coder): lossy
                # uint8, so the terrain rides at a -1500 m offset; its
                # oracle is its own single-process twin over the SAME
                # bytes, not the int16 family
                geotiff.write_geotiff(
                    p, (grid - 1500).astype(np.uint8), x0=lon0, y0=1.0,
                    sx=res, sy=res, epsg=4326,
                    compression="jpeg-arith", tile_size=(32, 32),
                )
            elif fmt == "jp2":
                # GeoJP2 (T.800 reversible 5/3 + MQ EBCOT): LOSSLESS,
                # so the oracle build asserts it equals the GeoTIFF
                # int16 family bit-for-bit
                jp2mod.write_jp2(p, grid, x0=lon0, y0=1.0, sx=res,
                                 sy=res, epsg=4326, levels=3)
            elif fmt == "asc":
                gf.write_ascii_grid(p, grid, x0=lon0, y0=1.0, sx=res,
                                    nodata=-32768, wkt=wgs84_wkt)
            elif fmt == "bil":
                gf.write_bil(p, grid, x0=lon0, y0=1.0, sx=res,
                             nodata=-32768, wkt=wgs84_wkt)
            elif fmt == "nc":
                gf.write_netcdf(
                    p, grid,
                    lats=1.0 - (np.arange(side) + 0.5) * res,
                    lons=lon0 + (np.arange(side) + 0.5) * res,
                    nodata=-32768,
                )
            elif fmt == "nc4":
                hdf5.write_netcdf4(p, grid, x0=lon0, y0=1.0, sx=res,
                                   sy=res, nodata=-32768,
                                   compression="deflate", shuffle=True,
                                   chunk=(32, 32))
            elif fmt == "gpkg":
                gpkg.write_gpkg(p, grid.astype(np.float64), x0=lon0,
                                y0=1.0, sx=res, sy=res, epsg=4326,
                                tile_size=32, scale=1.0, offset=0.0)
            elif fmt == "mbtiles":
                # Terrain-RGB-family MBTiles live in Web Mercator XYZ
                # tiles (terrarium encoding: integer metres exact), so
                # like dt0/gpkg/vrt it verifies against its own
                # sequential twin; one db covers both degrees, written
                # only on the first stem iteration
                if stem != "N00E010":
                    continue
                from opentopodata_spark import mbtiles as mbt

                zz = 9
                nn = 1 << zz
                orig = 20037508.342789244
                span = 2.0 * orig / nn
                mc0 = int((10.0 + 180.0) / 360.0 * nn)       # 270
                mc1 = int((12.0 + 180.0) / 360.0 * nn) + 1   # cover 12E
                mr0 = 254  # covers lat (0, ~1.2]
                tp = 256
                xs = -orig + (mc0 * span) + (np.arange(
                    (mc1 - mc0 + 1) * tp) + 0.5) * span / tp
                ys_m = orig - mr0 * span - (np.arange(2 * tp) + 0.5) \
                    * span / tp
                mlats = np.degrees(
                    2 * np.arctan(np.exp(ys_m / 6378137.0)) - np.pi / 2)
                mlons = xs / orig * 180.0
                mgrid = np.round(fixtures.terrain_wgs84(
                    mlats[:, None], mlons[None, :]))
                mbt.write_mbtiles(
                    os.path.join(d, "terrain.mbtiles"), mgrid, zoom=zz,
                    min_col=mc0, min_row=mr0, encoding="terrarium",
                    tile_px=tp)
            elif fmt == "dt0":
                # DTED is POINT-registered on a 121-lattice (30 arcsec,
                # level 0), so it carries its own grid sampled at the
                # lattice points and verifies against its own
                # sequential twin, like gpkg/vrt/jpa
                from opentopodata_spark import dted

                n = 121
                dres = 1.0 / (n - 1)
                dlats = (np.arange(n) * dres)[::-1]
                dlons = lon0 + np.arange(n) * dres
                dgrid = np.round(fixtures.terrain_wgs84(
                    dlats[:, None], dlons[None, :])).astype(np.int16)
                dted.write_dted(p, dgrid, lat0=0.0, lon0=lon0)
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
    terrain written as GeoTIFF / Esri ASCII / BIL / netCDF3 / netCDF4
    (HDF5, deflate+shuffle) / GeoPackage (PNG16 gridded coverage) / VRT
    mosaic / arithmetic-coded JPEG-in-TIFF (T.81 QM coder, uint8 at a
    -1500 m offset) / GeoJP2 (T.800 reversible 5/3 + MQ EBCOT,
    lossless int16) / DTED level 0 (MIL-PRF-89020B signed-magnitude
    records, point-registered lattice — its own sequential twin, like
    gpkg/vrt) / Terrarium-encoded MBTiles (the AWS/Mapbox web-terrain
    distribution: SQLite XYZ pyramid of elevation-in-PNG-RGB tiles in
    Web Mercator — its own sequential twin, integer metres exact),
    resolved through the distributed pipeline — every
    format
    must produce the same elevations as its single-process sequential
    twin; the same-geometry integer formats (tif/asc/bil/nc/nc4) must
    also agree with each other bit-for-bit (asserted inside the oracle
    build). The VRT is ONE mosaic (seam points see true cross-tile
    neighbors, not tile-edge clamps) and the GeoPackage gridded profile
    is float32 (unrounded bilinear — the reference's dtype-driven
    integer rounding, S9), so those two verify against their own
    sequential twins."""
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
        elif fmt in ("asc", "bil", "nc", "nc4", "jp2"):
            # same-geometry integer formats must agree with the GeoTIFF
            # exactly — a failed assert fails the oracle build loudly.
            # (vrt is ONE mosaic, so seam points interpolate true
            # cross-tile neighbors instead of tile-edge clamps; gpkg is
            # float32, unrounded)
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


def q_terrain_tiles_export(spark, sf_dir):
    """Web-terrain tile export as a CONTRACT query: the two-degree
    GeoTIFF fixture rendered into z9 Web Mercator Terrarium tiles
    through the distributed pipeline (pixel grids from pure column
    expressions -> the ONE-exchange resolver with carried tile keys ->
    one grouped applyInPandas PNG encode per output tile). Oracle: the
    single-process sequential twin over ``oracle.get_elevation`` —
    per-tile md5 of the PNG bytes plus value stats must match exactly;
    all-NODATA tiles are dropped on both sides."""
    from opentopodata_spark.operators import tileexport

    _ship_package(spark)
    ds = _format_dataset("tif")
    df = tileexport.render_terrain_tiles(
        spark, [ds], 9, encoding="terrarium", tile_px=64)
    return df.select("z", "x", "y", "n_valid", "min_el", "max_el", "md5")


def _build_terrain_tiles_oracle(sf_dir: str):
    import pyarrow as pa

    from opentopodata_spark.operators import tileexport

    rows = tileexport.render_terrain_tiles_sequential(
        [_format_dataset("tif")], 9, encoding="terrarium", tile_px=64)
    return pa.table({
        "z": pa.array([r[0] for r in rows], type=pa.int32()),
        "x": pa.array([r[1] for r in rows], type=pa.int32()),
        "y": pa.array([r[2] for r in rows], type=pa.int32()),
        "n_valid": pa.array([r[3] for r in rows], type=pa.int64()),
        "min_el": pa.array([r[4] for r in rows], type=pa.float64()),
        "max_el": pa.array([r[5] for r in rows], type=pa.float64()),
        "md5": pa.array([r[6] for r in rows], type=pa.string()),
    })


def q_terrain_pyramid_export(spark, sf_dir):
    """Pyramid rollup as a CONTRACT query: the z9 base level rolled up
    to z7 with the distributed 2x2 NaN-aware-average encoder (only
    encoded PNG bytes shuffle) must match the single-process twin
    md5-for-md5 at every level."""
    from opentopodata_spark.operators import tileexport

    _ship_package(spark)
    ds = _format_dataset("tif")
    base = tileexport.render_terrain_tiles(
        spark, [ds], 9, encoding="terrarium", tile_px=64)
    pyr = tileexport.build_tile_pyramid(
        base, base_zoom=9, min_zoom=7, tile_px=64, encoding="terrarium")
    return pyr.select("z", "x", "y", "n_valid", "min_el", "max_el", "md5")


def _build_terrain_pyramid_oracle(sf_dir: str):
    import pyarrow as pa

    from opentopodata_spark.operators import tileexport

    base = tileexport.render_terrain_tiles_sequential(
        [_format_dataset("tif")], 9, encoding="terrarium", tile_px=64)
    rows = tileexport.build_tile_pyramid_sequential(
        base, base_zoom=9, min_zoom=7, tile_px=64, encoding="terrarium")
    return pa.table({
        "z": pa.array([r[0] for r in rows], type=pa.int32()),
        "x": pa.array([r[1] for r in rows], type=pa.int32()),
        "y": pa.array([r[2] for r in rows], type=pa.int32()),
        "n_valid": pa.array([r[3] for r in rows], type=pa.int64()),
        "min_el": pa.array([r[4] for r in rows], type=pa.float64()),
        "max_el": pa.array([r[5] for r in rows], type=pa.float64()),
        "md5": pa.array([r[6] for r in rows], type=pa.string()),
    })


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


def _imagehash_fixture() -> str:
    """Planted perceptual near-dup corpus: 18 base images, each with a
    lightly-perturbed twin (re-encode/edit simulation), plus 24
    unrelated images — PNG payloads plus SEQUENTIAL-twin pHash values
    (operators/imagehash.{p,d}hash_sequential: per-coefficient cosine
    loops, per-cell resize loops — different bookkeeping from the
    distributed vectorized path on purpose)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from opentopodata_spark import png as _png
    from opentopodata_spark.operators import imagehash as _ih

    root = os.path.join(_fixture_root(), "imagehash_r5")
    out = os.path.join(root, "images.parquet")
    if os.path.exists(out):
        return out
    os.makedirs(root, exist_ok=True)
    rng = np.random.RandomState(29)
    refs, payloads, pseq, dseq = [], [], [], []

    def add(ref, img):
        refs.append(ref)
        payloads.append(_png.encode_png(img))
        pseq.append(_ih._to_signed(_ih.phash_sequential(img)))
        dseq.append(_ih._to_signed(_ih.dhash_sequential(img)))

    yy, xx = np.mgrid[0:36, 0:48]
    for i in range(18):
        base = (
            120.0 + 60.0 * np.sin(xx / (3.0 + i) + i)
            + 40.0 * np.cos(yy / (2.0 + 0.5 * i))
            + rng.uniform(-6, 6, (36, 48))
        )
        img = np.clip(base, 0, 255).astype(np.uint8)
        add(f"img{i:03d}", img)
        # re-encode-style twin: +-1 noise on a quarter of the pixels
        mask = rng.rand(36, 48) < 0.25
        twin = np.clip(
            img.astype(np.int32)
            + mask * rng.choice([-1, 1], (36, 48)), 0, 255
        ).astype(np.uint8)
        add(f"img{i:03d}t", twin)
    for i in range(24):
        img = np.clip(
            rng.uniform(0, 255, (36, 48))
            + 80 * np.sin(xx * (0.1 + 0.05 * i)), 0, 255
        ).astype(np.uint8)
        add(f"rnd{i:03d}", img)
    tmp = out + ".tmp"
    pq.write_table(pa.table({
        "media_ref": pa.array(refs),
        "payload": pa.array(payloads, type=pa.binary()),
        "phash_seq": pa.array(pseq, type=pa.int64()),
        "dhash_seq": pa.array(dseq, type=pa.int64()),
    }), tmp)
    os.replace(tmp, out)
    return out


def q_image_near_dups(spark, sf_dir):
    """Perceptual image near-dup as a CONTRACT query: decode the
    planted PNG corpus with the pure-numpy codecs, compute pHash in
    the vectorized Arrow path, find all pairs within Hamming 6 via the
    EXACT pigeonhole band join. The oracle brute-forces the same pairs
    in SQL from the fixture's sequential-twin hashes — a hash match
    proves (a) vectorized pHash == loop-built pHash bit-for-bit and
    (b) the banded join is exact, not approximate."""
    from opentopodata_spark.operators import imagehash as _ih

    _ship_package(spark)
    imgs = spark.read.parquet(_imagehash_fixture())
    hashed = _ih.hash_images(imgs, id_col="media_ref")
    return _ih.near_dup_pairs(
        hashed, id_col="media_ref", hash_col="phash",
        max_distance=7, n_bands=8,
    )


def _image_near_dups_sql() -> str:
    path = _imagehash_fixture()
    return f"""
SELECT a.media_ref AS id_a, b.media_ref AS id_b,
       CAST(bit_count(xor(a.phash_seq, b.phash_seq)) AS BIGINT)
         AS distance
FROM read_parquet('{path}') a
JOIN read_parquet('{path}') b ON a.media_ref < b.media_ref
WHERE bit_count(xor(a.phash_seq, b.phash_seq)) <= 7
"""


def _audiohash_fixture() -> str:
    """Planted perceptual audio near-dup corpus: 14 base clips, each
    with a lightly-noised twin (re-encode simulation), plus 12
    unrelated clips — 16-bit PCM WAV payloads plus SEQUENTIAL-twin
    fingerprints (audiohash_sequential: DFT-matrix spectra, per-bit
    loops — different bookkeeping from the distributed rFFT path)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from opentopodata_spark import wav as _wav
    from opentopodata_spark.operators import audiohash as _ah
    from opentopodata_spark.operators.imagehash import _to_signed

    root = os.path.join(_fixture_root(), "audiohash_r5")
    out = os.path.join(root, "clips.parquet")
    if os.path.exists(out):
        return out
    os.makedirs(root, exist_ok=True)
    rng = np.random.RandomState(41)
    t = np.arange(8000) / 8000.0
    refs, payloads, seqs = [], [], []

    def add(ref, clip):
        payload = _wav.encode_wav(clip, 8000)
        # fingerprint what the READER will see (16-bit quantization)
        decoded, _rate = _wav.decode_wav(payload)
        refs.append(ref)
        payloads.append(payload)
        seqs.append(_to_signed(_ah.audiohash_sequential(decoded)))

    for i in range(14):
        clip = (0.5 * np.sin(2 * np.pi * (180 + 73 * i) * t)
                + 0.3 * np.sin(2 * np.pi * (850 + 141 * i) * t + i)
                + 0.05 * rng.randn(8000))
        add(f"clip{i:02d}", clip)
        add(f"clip{i:02d}t",
            (clip + 0.005 * rng.randn(8000)) * 0.7)  # noise + gain
    for i in range(12):
        add(f"noise{i:02d}",
            0.4 * np.sin(2 * np.pi * (150 + 97 * i) * t)
            + 0.2 * np.sin(2 * np.pi * (1100 + 211 * i) * t)
            + 0.08 * rng.randn(8000))
    tmp = out + ".tmp"
    pq.write_table(pa.table({
        "media_ref": pa.array(refs),
        "payload": pa.array(payloads, type=pa.binary()),
        "ahash_seq": pa.array(seqs, type=pa.int64()),
    }), tmp)
    os.replace(tmp, out)
    return out


def q_audio_near_dups(spark, sf_dir):
    """Perceptual AUDIO near-dup as a CONTRACT query: decode the
    planted WAV corpus with the pure-numpy PCM reader, compute the
    spectral-band fingerprint in the vectorized rFFT path, find all
    pairs within Hamming 7 via the exact pigeonhole band join. The
    oracle brute-forces the same pairs in SQL from the fixture's
    DFT-matrix sequential-twin fingerprints — a hash match proves
    rFFT bits == DFT-matrix bits AND join exactness."""
    from opentopodata_spark.operators import audiohash as _ah

    _ship_package(spark)
    clips = spark.read.parquet(_audiohash_fixture())
    hashed = _ah.hash_audio(clips, id_col="media_ref")
    return _ah.audio_near_dup_pairs(hashed, max_distance=7, n_bands=8)


def _audio_near_dups_sql() -> str:
    path = _audiohash_fixture()
    return f"""
SELECT a.media_ref AS id_a, b.media_ref AS id_b,
       CAST(bit_count(xor(a.ahash_seq, b.ahash_seq)) AS BIGINT)
         AS distance
FROM read_parquet('{path}') a
JOIN read_parquet('{path}') b ON a.media_ref < b.media_ref
WHERE bit_count(xor(a.ahash_seq, b.ahash_seq)) <= 7
"""


def _videohash_fixture() -> str:
    """Planted perceptual video near-dup corpus: 10 base clips with
    lightly-noised twins + 10 unrelated clips — Y4M payloads plus
    SEQUENTIAL-twin fingerprints (videohash_sequential: frame-loop
    accumulation + loop-built pHash)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from opentopodata_spark import y4m as _y4m
    from opentopodata_spark.operators import videohash as _vh
    from opentopodata_spark.operators.imagehash import _to_signed

    root = os.path.join(_fixture_root(), "videohash_r5")
    out = os.path.join(root, "clips.parquet")
    if os.path.exists(out):
        return out
    os.makedirs(root, exist_ok=True)
    yy, xx = np.mgrid[0:36, 0:48]
    refs, payloads, seqs = [], [], []

    def add(ref, frames):
        refs.append(ref)
        payloads.append(_y4m.encode_y4m(frames))
        seqs.append(_to_signed(_vh.videohash_sequential(frames)))

    def clip(i, seed):
        r = np.random.RandomState(500 + seed)
        frames = []
        for f in range(8):
            img = (120 + 60 * np.sin(xx / (3.0 + i) + i + 0.3 * f)
                   + 40 * np.cos(yy / (2.0 + 0.5 * i) - 0.2 * f)
                   + 5.0 * r.randn(36, 48))
            frames.append(np.clip(img, 0, 255))
        return np.array(frames).astype(np.uint8)

    rng = np.random.RandomState(77)
    for i in range(10):
        c = clip(i, seed=i)
        add(f"vid{i:02d}", c)
        tw = np.clip(
            c.astype(np.int32) + rng.choice([-1, 0, 1], c.shape),
            0, 255).astype(np.uint8)
        add(f"vid{i:02d}t", tw)
    for i in range(10):
        add(f"other{i:02d}", clip(i + 20, seed=i + 40))
    tmp = out + ".tmp"
    pq.write_table(pa.table({
        "media_ref": pa.array(refs),
        "payload": pa.array(payloads, type=pa.binary()),
        "vhash_seq": pa.array(seqs, type=pa.int64()),
    }), tmp)
    os.replace(tmp, out)
    return out


def q_video_near_dups(spark, sf_dir):
    """Perceptual VIDEO near-dup as a CONTRACT query: decode the
    planted Y4M corpus with the pure-numpy reader, fingerprint the
    temporal-mean luma frame in the vectorized path, find all pairs
    within Hamming 7 via the exact pigeonhole band join; the oracle
    brute-forces the sequential-twin fingerprints in SQL."""
    from opentopodata_spark.operators import videohash as _vh

    _ship_package(spark)
    clips = spark.read.parquet(_videohash_fixture())
    hashed = _vh.hash_video(clips, id_col="media_ref")
    return _vh.video_near_dup_pairs(hashed, max_distance=7, n_bands=8)


def _video_near_dups_sql() -> str:
    path = _videohash_fixture()
    return f"""
SELECT a.media_ref AS id_a, b.media_ref AS id_b,
       CAST(bit_count(xor(a.vhash_seq, b.vhash_seq)) AS BIGINT)
         AS distance
FROM read_parquet('{path}') a
JOIN read_parquet('{path}') b ON a.media_ref < b.media_ref
WHERE bit_count(xor(a.vhash_seq, b.vhash_seq)) <= 7
"""


_IMG_WAVE_SQL = (
    "CASE WHEN substr(md5(media_ref),1,1) < '6' THEN 0 "
    "WHEN substr(md5(media_ref),1,1) < 'b' THEN 1 ELSE 2 END"
)


def q_streaming_image_near_dup(spark, sf_dir):
    """Streaming incremental PERCEPTUAL image dedup
    (streaming.run_image_near_dup_stream): the planted PNG corpus
    arrives in three md5-split waves, each decoded + pHashed,
    deduplicated within itself (band pairs -> components -> keep min),
    then Hamming-probed against the accumulated admitted band index —
    verification is pure integer metadata (the index carries the
    hashes), no payload re-read. The fixture's twin geometry makes
    every near-dup cluster a PAIR (inter-base distance > 2x the
    threshold), so the oracle replays the whole admission recursion in
    layered SQL over the sequential-twin hashes."""
    import shutil
    import tempfile

    from opentopodata_spark import streaming as stx

    _ship_package(spark)
    imgs = spark.read.parquet(_imagehash_fixture()).select(
        "media_ref", "payload",
        F.expr(_IMG_WAVE_SQL).cast("int").alias("_w"),
    )
    work = tempfile.mkdtemp(prefix="otds_imgstream_q_")
    try:
        for wave in range(3):
            imgs.where(F.col("_w") == wave).drop("_w").coalesce(
                1
            ).write.mode("overwrite").parquet(f"{work}/in/wave{wave}")
            q = stx.run_image_near_dup_stream(
                stx.stream_media(spark, f"{work}/in/*"),
                f"{work}/out", f"{work}/ckpt", f"{work}/index",
                max_distance=7, n_bands=8,
            )
            q.awaitTermination()
        out = spark.read.parquet(f"{work}/out").select(
            "media_ref", "phash")
        out = out.cache()
        out.count()  # materialize before the temp dir goes away
        return out
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _streaming_image_near_dup_sql() -> str:
    path = _imagehash_fixture()
    d = 7
    return f"""
WITH imgs AS (
  SELECT media_ref, phash_seq AS h, {_IMG_WAVE_SQL} AS w
  FROM read_parquet('{path}')),
c0 AS (SELECT * FROM imgs a WHERE a.w = 0 AND NOT EXISTS (
         SELECT 1 FROM imgs b WHERE b.w = 0
           AND b.media_ref < a.media_ref
           AND bit_count(xor(a.h, b.h)) <= {d})),
a0 AS (SELECT * FROM c0),
c1 AS (SELECT * FROM imgs a WHERE a.w = 1 AND NOT EXISTS (
         SELECT 1 FROM imgs b WHERE b.w = 1
           AND b.media_ref < a.media_ref
           AND bit_count(xor(a.h, b.h)) <= {d})),
a1 AS (SELECT * FROM c1 x WHERE NOT EXISTS (
         SELECT 1 FROM a0 o WHERE bit_count(xor(x.h, o.h)) <= {d})),
c2 AS (SELECT * FROM imgs a WHERE a.w = 2 AND NOT EXISTS (
         SELECT 1 FROM imgs b WHERE b.w = 2
           AND b.media_ref < a.media_ref
           AND bit_count(xor(a.h, b.h)) <= {d})),
a2 AS (SELECT * FROM c2 x WHERE NOT EXISTS (
         SELECT 1 FROM (SELECT h FROM a0 UNION ALL SELECT h FROM a1) o
         WHERE bit_count(xor(x.h, o.h)) <= {d}))
SELECT media_ref, h AS phash FROM a0
UNION ALL SELECT media_ref, h FROM a1
UNION ALL SELECT media_ref, h FROM a2
"""


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
    "terrain_tiles_export": _build_terrain_tiles_oracle,
    "terrain_pyramid_export": _build_terrain_pyramid_oracle,
    "raster_formats": _build_raster_formats_oracle,
    "remote_elevation": _build_remote_elevation_oracle,
    "proj4_elevation": _build_proj4_elevation_oracle,
    "wkt2_elevation": _build_wkt2_elevation_oracle,
    "quality_classifier": _build_quality_classifier_oracle,
    "s2_cells": _build_s2_oracle,
    "geodesic_paths": _build_geodesic_oracle,
    "elevation_e2e": _build_elevation_oracle,
    "elevation_profile": _build_profile_oracle,
    "line_of_sight": _build_los_oracle,
    "viewshed": _build_viewshed_oracle,
    "multimodal_features": _build_multimodal_oracle,
    "ivf_topk": _build_ivf_oracle,
    "ivfpq_topk": _build_ivfpq_oracle,
    "terrain_slope": _build_terrain_oracle,
    "flow_accumulation": _build_flow_acc_oracle,
    "overview_tiles": _build_overview_oracle,
    "streaming_overview": _build_overview_oracle,
    "cog_overviews": _build_cog_overview_oracle,
    "raster_warp": _build_raster_warp_oracle,
    "raster_polygonize": _build_raster_polygonize_oracle,
    "raster_sieve": _build_raster_sieve_oracle,
    "raster_fillnodata": _build_raster_fillnodata_oracle,
    "raster_proximity": _build_raster_proximity_oracle,
    "raster_colorrelief": _build_raster_colorrelief_oracle,
    "raster_grid": _build_raster_grid_oracle,
    "polygon_burn": _build_polygon_burn_oracle,
    "semantic_dedup": _build_semantic_dedup_oracle,
    "region_polygons": _build_region_polygons_oracle,
    "contour_lines": _build_contour_oracle,
    "raster_diff": _build_raster_diff_oracle,
    "streaming_near_dup": _build_near_dup_stream_oracle,
    "chunk_documents_bpe": _build_bpe_chunk_oracle,
}


def _precomputed_oracles() -> dict[str, str]:
    out = {}
    for name, builder in _PRECOMPUTED_BUILDERS.items():
        try:
            path = _oracle_parquet(name, builder)
        except Exception:
            continue  # fall back to the rows-only check for this query
        out[name] = f"SELECT * FROM read_parquet('{path}')"
    return out


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
    order-independent and the compare is exact, not tolerance-based."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from opentopodata_spark import vector

    root = os.path.join(_fixture_root(), "vector_r4h")
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


# ---------------------------------------------------------------------------
# vector overlay analytics (operators/overlay.py)
# ---------------------------------------------------------------------------


def _overlay_left(spark, sf_dir):
    """Concave L-hexagons on an integer grid, derived from part keys —
    the identical modular arithmetic the SQL oracle replays."""
    p = _t(spark, sf_dir, "part").where(F.col("p_partkey") % 7 == 0)
    p = p.selectExpr(
        "p_partkey AS l_id",
        "CAST(p_partkey*131 % 2001 AS DOUBLE) AS cx",
        "CAST(p_partkey*197 % 2001 AS DOUBLE) AS cy",
        "CAST(p_partkey%13+6 AS DOUBLE) AS a",
        "CAST(p_partkey%19+6 AS DOUBLE) AS b",
    )
    return p.selectExpr(
        "l_id",
        "array(array("
        " array(cx, cy), array(cx+2*a, cy), array(cx+2*a, cy+b),"
        " array(cx+a, cy+b), array(cx+a, cy+2*b), array(cx, cy+2*b)"
        ")) AS rings",
    )


def _overlay_right(spark, sf_dir):
    """Squares from customer keys; every third carries a centered
    square hole (even-odd interior)."""
    c = _t(spark, sf_dir, "customer").where(F.col("c_custkey") % 5 == 0)
    c = c.selectExpr(
        "c_custkey AS r_id",
        "CAST(c_custkey*241 % 2001 AS DOUBLE) AS dx",
        "CAST(c_custkey*311 % 2001 AS DOUBLE) AS dy",
        "CAST(c_custkey%29+10 AS DOUBLE) AS r",
        "CAST((c_custkey%29+10) DIV 3 AS DOUBLE) AS h",
        "c_custkey % 3 = 0 AS holed",
    )
    outer = ("array(array(dx-r,dy-r), array(dx+r,dy-r),"
             " array(dx+r,dy+r), array(dx-r,dy+r))")
    hole = ("array(array(dx-h,dy-h), array(dx+h,dy-h),"
            " array(dx+h,dy+h), array(dx-h,dy+h))")
    return c.selectExpr(
        "r_id",
        f"CASE WHEN holed THEN array({outer}, {hole})"
        f" ELSE array({outer}) END AS rings",
    )


def q_overlay_join(spark, sf_dir):
    """operators/overlay.polygon_join: polygon×polygon closed-set
    'intersects' spatial join via the 2-D grid-bucketing rewrite — cell
    explode (pure exprs) → equi-join on the cell key → canonical-cell
    dedupe (no distinct) → exact sign-of-cross CLRS predicate on the
    surviving candidates only (Arrow-batched; never a nested-loop or
    cartesian plan — pinned in tests/test_overlay.py). The reference
    has only the point→tile equi-join
    (/root/reference/opentopodata/config.py:432-451); this is the
    polygon side of the overlay algebra at corpus scale. Full ANSI-SQL
    oracle: same closed segment test + even-odd ray casts over
    UNNESTed edges, all integer arithmetic."""
    _ship_package(spark)
    from opentopodata_spark.operators import overlay

    return overlay.polygon_join(
        _overlay_left(spark, sf_dir), _overlay_right(spark, sf_dir),
        cell_size=64.0, max_cells=64,
    )


_Q_OVERLAY_SQL = """
WITH lp AS (
  SELECT p_partkey AS l_id,
         (p_partkey*131) % 2001 AS cx, (p_partkey*197) % 2001 AS cy,
         p_partkey % 13 + 6 AS a, p_partkey % 19 + 6 AS b
  FROM part WHERE p_partkey % 7 = 0),
rp AS (
  SELECT c_custkey AS r_id,
         (c_custkey*241) % 2001 AS dx, (c_custkey*311) % 2001 AS dy,
         c_custkey % 29 + 10 AS r, (c_custkey % 29 + 10) // 3 AS h,
         c_custkey % 3 = 0 AS holed
  FROM customer WHERE c_custkey % 5 = 0),
lv AS (
  SELECT l_id, u.vi,
    CASE u.vi WHEN 0 THEN cx WHEN 1 THEN cx+2*a WHEN 2 THEN cx+2*a
              WHEN 3 THEN cx+a WHEN 4 THEN cx+a ELSE cx END AS x,
    CASE u.vi WHEN 0 THEN cy WHEN 1 THEN cy WHEN 2 THEN cy+b
              WHEN 3 THEN cy+b WHEN 4 THEN cy+2*b ELSE cy+2*b END AS y
  FROM lp, UNNEST([0,1,2,3,4,5]) AS u(vi)),
le AS (
  SELECT v1.l_id, v1.x AS x1, v1.y AS y1, v2.x AS x2, v2.y AS y2
  FROM lv v1 JOIN lv v2 ON v1.l_id = v2.l_id AND v2.vi = (v1.vi+1) % 6),
rv AS (
  SELECT r_id, 0 AS ring, u.vi,
    CASE u.vi WHEN 0 THEN dx-r WHEN 1 THEN dx+r WHEN 2 THEN dx+r
              ELSE dx-r END AS x,
    CASE u.vi WHEN 0 THEN dy-r WHEN 1 THEN dy-r WHEN 2 THEN dy+r
              ELSE dy+r END AS y
  FROM rp, UNNEST([0,1,2,3]) AS u(vi)
  UNION ALL
  SELECT r_id, 1, u.vi,
    CASE u.vi WHEN 0 THEN dx-h WHEN 1 THEN dx+h WHEN 2 THEN dx+h
              ELSE dx-h END,
    CASE u.vi WHEN 0 THEN dy-h WHEN 1 THEN dy-h WHEN 2 THEN dy+h
              ELSE dy+h END
  FROM rp, UNNEST([0,1,2,3]) AS u(vi) WHERE holed),
re AS (
  SELECT v1.r_id, v1.x AS x1, v1.y AS y1, v2.x AS x2, v2.y AS y2
  FROM rv v1 JOIN rv v2 ON v1.r_id = v2.r_id AND v1.ring = v2.ring
                       AND v2.vi = (v1.vi+1) % 4),
lb AS (SELECT l_id, min(x) xmin, max(x) xmax, min(y) ymin, max(y) ymax
       FROM lv GROUP BY l_id),
rb AS (SELECT r_id, min(x) xmin, max(x) xmax, min(y) ymin, max(y) ymax
       FROM rv GROUP BY r_id),
cand AS (
  SELECT l.l_id, r.r_id FROM lb l, rb r
  WHERE l.xmin <= r.xmax AND r.xmin <= l.xmax
    AND l.ymin <= r.ymax AND r.ymin <= l.ymax),
seghit AS (
  SELECT DISTINCT l_id, r_id FROM (
    SELECT c.l_id, c.r_id,
      sign((re.x2-re.x1)*(le.y1-re.y1)-(re.y2-re.y1)*(le.x1-re.x1)) d1,
      sign((re.x2-re.x1)*(le.y2-re.y1)-(re.y2-re.y1)*(le.x2-re.x1)) d2,
      sign((le.x2-le.x1)*(re.y1-le.y1)-(le.y2-le.y1)*(re.x1-le.x1)) d3,
      sign((le.x2-le.x1)*(re.y2-le.y1)-(le.y2-le.y1)*(re.x2-le.x1)) d4,
      le.x1 px1, le.y1 py1, le.x2 px2, le.y2 py2,
      re.x1 qx1, re.y1 qy1, re.x2 qx2, re.y2 qy2
    FROM cand c JOIN le ON le.l_id = c.l_id JOIN re ON re.r_id = c.r_id)
  WHERE (d1 <> d2 AND d1 <> 0 AND d2 <> 0
         AND d3 <> d4 AND d3 <> 0 AND d4 <> 0)
     OR (d1 = 0 AND px1 BETWEEN least(qx1,qx2) AND greatest(qx1,qx2)
                AND py1 BETWEEN least(qy1,qy2) AND greatest(qy1,qy2))
     OR (d2 = 0 AND px2 BETWEEN least(qx1,qx2) AND greatest(qx1,qx2)
                AND py2 BETWEEN least(qy1,qy2) AND greatest(qy1,qy2))
     OR (d3 = 0 AND qx1 BETWEEN least(px1,px2) AND greatest(px1,px2)
                AND qy1 BETWEEN least(py1,py2) AND greatest(py1,py2))
     OR (d4 = 0 AND qx2 BETWEEN least(px1,px2) AND greatest(px1,px2)
                AND qy2 BETWEEN least(py1,py2) AND greatest(py1,py2))),
la AS (SELECT l_id, x AS px, y AS py FROM lv WHERE vi = 0),
ra AS (SELECT r_id, x AS px, y AS py FROM rv WHERE ring = 0 AND vi = 0),
lin AS (
  SELECT c.l_id, c.r_id
  FROM cand c JOIN la ON la.l_id = c.l_id JOIN re ON re.r_id = c.r_id
  GROUP BY c.l_id, c.r_id, la.px, la.py
  HAVING SUM(CASE WHEN (re.y1 > la.py) <> (re.y2 > la.py)
    AND la.px < (re.x2-re.x1)*CAST(la.py-re.y1 AS DOUBLE)/(re.y2-re.y1)+re.x1
    THEN 1 ELSE 0 END) % 2 = 1),
rin AS (
  SELECT c.l_id, c.r_id
  FROM cand c JOIN ra ON ra.r_id = c.r_id JOIN le ON le.l_id = c.l_id
  GROUP BY c.l_id, c.r_id, ra.px, ra.py
  HAVING SUM(CASE WHEN (le.y1 > ra.py) <> (le.y2 > ra.py)
    AND ra.px < (le.x2-le.x1)*CAST(ra.py-le.y1 AS DOUBLE)/(le.y2-le.y1)+le.x1
    THEN 1 ELSE 0 END) % 2 = 1)
SELECT l_id, r_id FROM seghit
UNION SELECT l_id, r_id FROM lin
UNION SELECT l_id, r_id FROM rin
"""


def q_overlay_join_broadcast(spark, sf_dir):
    """operators/overlay.polygon_join_broadcast: the shuffle-FREE twin
    of overlay_join for a dimension-sized right side — right polygons
    collect to a driver grid index that ships in the mapInPandas
    closure, every left partition resolves locally, ZERO exchanges
    (plan pinned in tests). Same fixture and the same full SQL oracle
    as overlay_join: the two physical strategies must agree row-for-
    row, which is itself the strongest cross-check of both."""
    _ship_package(spark)
    from opentopodata_spark.operators import overlay

    return overlay.polygon_join_broadcast(
        _overlay_left(spark, sf_dir), _overlay_right(spark, sf_dir),
        cell_size=64.0,
    )


def q_polygon_metrics(spark, sf_dir):
    """operators/overlay.polygon_metrics: per-polygon area / perimeter
    / centroid over rings-with-holes as PURE column expressions
    (aggregate/transform HOFs — zero UDF, zero exchange, whole-stage
    codegen; the 10^12-row path is a scan). Fixture: concave
    L-hexagons (part) ∪ squares-with-holes (customer). Oracle:
    closed-form metrics from the same integer derivations — area
    3ab / 4r²−4h², perimeter 4a+4b / 8r+8h, centroid (cx+5a/6,
    cy+5b/6) / (dx, dy) — never touching the ring arrays, so any
    construction or HOF defect shows as a mismatch."""
    _ship_package(spark)
    from opentopodata_spark.operators import overlay

    lhex = _overlay_left(spark, sf_dir).selectExpr(
        "concat('P', l_id) AS poly_id", "rings")
    holed = _overlay_right(spark, sf_dir).selectExpr(
        "concat('C', r_id) AS poly_id", "rings")
    return overlay.polygon_metrics(lhex.unionByName(holed))


_Q_POLYGON_METRICS_SQL = """
WITH lp AS (
  SELECT p_partkey AS id,
         (p_partkey*131) % 2001 AS cx, (p_partkey*197) % 2001 AS cy,
         p_partkey % 13 + 6 AS a, p_partkey % 19 + 6 AS b
  FROM part WHERE p_partkey % 7 = 0),
rp AS (
  SELECT c_custkey AS id,
         (c_custkey*241) % 2001 AS dx, (c_custkey*311) % 2001 AS dy,
         c_custkey % 29 + 10 AS r, (c_custkey % 29 + 10) // 3 AS h,
         c_custkey % 3 = 0 AS holed
  FROM customer WHERE c_custkey % 5 = 0)
SELECT concat('P', id) AS poly_id,
       CAST(3*a*b AS DOUBLE) AS area,
       CAST(4*a + 4*b AS DOUBLE) AS perimeter,
       round(cx + 5*a/6.0, 6) AS cx,
       round(cy + 5*b/6.0, 6) AS cy
FROM lp
UNION ALL
SELECT concat('C', id) AS poly_id,
       CAST(4*r*r - CASE WHEN holed THEN 4*h*h ELSE 0 END AS DOUBLE) AS area,
       CAST(8*r + CASE WHEN holed THEN 8*h ELSE 0 END AS DOUBLE) AS perimeter,
       CAST(dx AS DOUBLE) AS cx, CAST(dy AS DOUBLE) AS cy
FROM rp
"""


def q_polygon_clip(spark, sf_dir):
    """operators/overlay.clip_polygons: Sutherland–Hodgman clip of the
    concave L-hexagons against a fixed convex window (per-ring S-H in
    a mapInPandas batch, holes subtract; zero joins). Oracle: the
    L-hexagon is the disjoint union of two axis-aligned rectangles, so
    the clipped area is two exact interval-overlap products — computed
    in SQL straight from the integer derivation, independent of the
    S-H sweep. Only clip_area is contracted (the clipped ring's bbox
    is sensitive to S-H's zero-area bridge slivers by design)."""
    _ship_package(spark)
    from opentopodata_spark.operators import overlay

    window = [[200.0, 150.0], [1800.0, 150.0], [1800.0, 1850.0],
              [200.0, 1850.0]]
    out = overlay.clip_polygons(
        _overlay_left(spark, sf_dir), window, poly_id="l_id")
    return out.select("l_id", "clip_area")


_Q_POLYGON_CLIP_SQL = """
WITH lp AS (
  SELECT p_partkey AS l_id,
         (p_partkey*131) % 2001 AS cx, (p_partkey*197) % 2001 AS cy,
         p_partkey % 13 + 6 AS a, p_partkey % 19 + 6 AS b
  FROM part WHERE p_partkey % 7 = 0),
ov AS (
  SELECT l_id,
    greatest(0, least(cx + 2*a, 1800) - greatest(cx, 200))
      * greatest(0, least(cy + b, 1850) - greatest(cy, 150))
    + greatest(0, least(cx + a, 1800) - greatest(cx, 200))
      * greatest(0, least(cy + 2*b, 1850) - greatest(cy + b, 150))
    AS clip_area
  FROM lp)
SELECT l_id, CAST(clip_area AS DOUBLE) AS clip_area
FROM ov WHERE clip_area > 0
"""


def q_sphere_metrics(spark, sf_dir):
    """operators/overlay.sphere_polygon_metrics: spherical polygon
    area + great-circle perimeter for lat/lon rings-with-holes — the
    geodesy twin of polygon_metrics, pure trig column expressions
    (van Oosterom–Strackee pole-fan excess per edge; zero UDF, zero
    exchange; plan pinned). Fixture: degree-scale quads from customer
    keys, every third with a half-size hole, all inside |lat|<62 and
    |lon|<152 (the documented no-pole/no-antimeridian contract).
    Oracle: DuckDB replays the identical unit-vector trig; round(3)
    absorbs JVM-vs-C libm ULP spread."""
    _ship_package(spark)
    from opentopodata_spark.operators import overlay

    c = _t(spark, sf_dir, "customer").where(F.col("c_custkey") % 2 == 0)
    c = c.selectExpr(
        "c_custkey AS poly_id",
        "CAST(c_custkey*37 % 120 - 60 + 0.5 AS DOUBLE) AS clat",
        "CAST(c_custkey*53 % 300 - 150 + 0.5 AS DOUBLE) AS clon",
        "CAST((c_custkey % 17 + 4) * 0.1 AS DOUBLE) AS p",
        "CAST((c_custkey % 23 + 4) * 0.1 AS DOUBLE) AS q",
        "c_custkey % 3 = 0 AS holed",
    )
    outer = ("array(array(clon-p, clat-q), array(clon+p, clat-q),"
             " array(clon+p, clat+q), array(clon-p, clat+q))")
    hole = ("array(array(clon-p*0.5, clat-q*0.5),"
            " array(clon+p*0.5, clat-q*0.5),"
            " array(clon+p*0.5, clat+q*0.5),"
            " array(clon-p*0.5, clat+q*0.5))")
    rings = c.selectExpr(
        "poly_id",
        f"CASE WHEN holed THEN array({outer}, {hole})"
        f" ELSE array({outer}) END AS rings",
    )
    return overlay.sphere_polygon_metrics(rings)


_Q_SPHERE_METRICS_SQL = """
WITH cp AS (
  SELECT c_custkey AS id,
         c_custkey*37 % 120 - 60 + 0.5 AS clat,
         c_custkey*53 % 300 - 150 + 0.5 AS clon,
         (c_custkey % 17 + 4) * 0.1 AS p,
         (c_custkey % 23 + 4) * 0.1 AS q,
         c_custkey % 3 = 0 AS holed
  FROM customer WHERE c_custkey % 2 = 0),
verts AS (
  SELECT id, 0 AS ring, u.vi,
    clon + CASE WHEN u.vi IN (1,2) THEN p ELSE -p END AS lon,
    clat + CASE WHEN u.vi IN (2,3) THEN q ELSE -q END AS lat
  FROM cp, UNNEST([0,1,2,3]) AS u(vi)
  UNION ALL
  SELECT id, 1, u.vi,
    clon + CASE WHEN u.vi IN (1,2) THEN p*0.5 ELSE -p*0.5 END,
    clat + CASE WHEN u.vi IN (2,3) THEN q*0.5 ELSE -q*0.5 END
  FROM cp, UNNEST([0,1,2,3]) AS u(vi) WHERE holed),
uv AS (
  SELECT id, ring, vi,
    cos(radians(lat))*cos(radians(lon)) AS x,
    cos(radians(lat))*sin(radians(lon)) AS y,
    sin(radians(lat)) AS z
  FROM verts),
terms AS (
  SELECT a.id, a.ring,
    2*atan2(a.x*b.y - a.y*b.x,
            1 + a.x*b.x + a.y*b.y + a.z*b.z + a.z + b.z) AS exc,
    atan2(sqrt(pow(a.y*b.z - a.z*b.y, 2) + pow(a.z*b.x - a.x*b.z, 2)
               + pow(a.x*b.y - a.y*b.x, 2)),
          a.x*b.x + a.y*b.y + a.z*b.z) AS arc
  FROM uv a JOIN uv b
    ON a.id = b.id AND a.ring = b.ring AND b.vi = (a.vi+1) % 4),
rs AS (SELECT id, ring, SUM(exc) AS exc, SUM(arc) AS arc
       FROM terms GROUP BY id, ring)
SELECT id AS poly_id,
  round(SUM(CASE WHEN ring = 0 THEN abs(exc) ELSE -abs(exc) END)
        * 40589753.12967744, 3) AS area_km2,
  round(SUM(arc) * 6371.0088, 3) AS perimeter_km
FROM rs GROUP BY id
"""


def q_line_overlay_join(spark, sf_dir):
    """operators/overlay.polygon_join with left_kind='line': polyline ×
    polygon 'intersects' spatial join (the roads-per-region shape) —
    open paths contribute non-wrapping segments, containment is tested
    only against the polygon side. Fixture: 5-vertex event squiggles
    (local 40×40 walks anchored per line — a line feature with a
    space-spanning bbox would defeat cell bucketing, the same reason
    road networks ship pre-segmented) × the concave L-hexagons. Full
    ANSI-SQL oracle: LEAD-windowed line edges + the same CLRS closed
    segment test + one even-odd ray cast."""
    _ship_package(spark)
    from opentopodata_spark.operators import overlay

    e = _t(spark, sf_dir, "events")
    pts = e.selectExpr(
        "event_id DIV 5 AS line_id",
        "event_id AS seq",
        "CAST((event_id DIV 5)*131 % 2001 + (event_id*7) % 40 AS DOUBLE)"
        " AS x",
        "CAST((event_id DIV 5)*197 % 2001 + (event_id*11) % 40 AS DOUBLE)"
        " AS y",
    )
    lines = (
        pts.groupBy("line_id")
        .agg(F.array_sort(F.collect_list(F.struct("seq", "x", "y")))
             .alias("_pts"))
        .where(F.size("_pts") >= 2)
        .select(
            "line_id",
            F.array(F.transform(
                F.col("_pts"), lambda s: F.array(s["x"], s["y"]))
            ).alias("rings"),
        )
    )
    out = overlay.polygon_join(
        lines, _overlay_left(spark, sf_dir), "line_id", "l_id",
        cell_size=64.0, left_kind="line",
    )
    return out


_Q_LINE_OVERLAY_SQL = """
WITH pts AS (
  SELECT event_id // 5 AS line_id, event_id AS seq,
         (event_id // 5)*131 % 2001 + (event_id*7) % 40 AS x,
         (event_id // 5)*197 % 2001 + (event_id*11) % 40 AS y
  FROM events),
nlines AS (SELECT line_id FROM pts GROUP BY line_id HAVING count(*) >= 2),
ledge AS (
  SELECT line_id, x AS x1, y AS y1,
         lead(x) OVER (PARTITION BY line_id ORDER BY seq) AS x2,
         lead(y) OVER (PARTITION BY line_id ORDER BY seq) AS y2
  FROM pts QUALIFY x2 IS NOT NULL),
lbox AS (SELECT line_id, min(x) xmin, max(x) xmax, min(y) ymin, max(y) ymax
         FROM pts GROUP BY line_id),
lanchor AS (
  SELECT p.line_id, p.x AS px, p.y AS py
  FROM pts p JOIN (SELECT line_id, min(seq) AS s0 FROM pts
                   GROUP BY line_id) m
    ON p.line_id = m.line_id AND p.seq = m.s0),
lp AS (
  SELECT p_partkey AS l_id,
         (p_partkey*131) % 2001 AS cx, (p_partkey*197) % 2001 AS cy,
         p_partkey % 13 + 6 AS a, p_partkey % 19 + 6 AS b
  FROM part WHERE p_partkey % 7 = 0),
pv AS (
  SELECT l_id, u.vi,
    CASE u.vi WHEN 0 THEN cx WHEN 1 THEN cx+2*a WHEN 2 THEN cx+2*a
              WHEN 3 THEN cx+a WHEN 4 THEN cx+a ELSE cx END AS x,
    CASE u.vi WHEN 0 THEN cy WHEN 1 THEN cy WHEN 2 THEN cy+b
              WHEN 3 THEN cy+b WHEN 4 THEN cy+2*b ELSE cy+2*b END AS y
  FROM lp, UNNEST([0,1,2,3,4,5]) AS u(vi)),
pe AS (
  SELECT v1.l_id, v1.x AS x1, v1.y AS y1, v2.x AS x2, v2.y AS y2
  FROM pv v1 JOIN pv v2 ON v1.l_id = v2.l_id AND v2.vi = (v1.vi+1) % 6),
pbox AS (SELECT l_id, min(x) xmin, max(x) xmax, min(y) ymin, max(y) ymax
         FROM pv GROUP BY l_id),
cand AS (
  SELECT lb.line_id, pb.l_id
  FROM lbox lb JOIN nlines USING (line_id), pbox pb
  WHERE lb.xmin <= pb.xmax AND pb.xmin <= lb.xmax
    AND lb.ymin <= pb.ymax AND pb.ymin <= lb.ymax),
seghit AS (
  SELECT DISTINCT line_id, l_id FROM (
    SELECT c.line_id, c.l_id,
      sign((pe.x2-pe.x1)*(le.y1-pe.y1)-(pe.y2-pe.y1)*(le.x1-pe.x1)) d1,
      sign((pe.x2-pe.x1)*(le.y2-pe.y1)-(pe.y2-pe.y1)*(le.x2-pe.x1)) d2,
      sign((le.x2-le.x1)*(pe.y1-le.y1)-(le.y2-le.y1)*(pe.x1-le.x1)) d3,
      sign((le.x2-le.x1)*(pe.y2-le.y1)-(le.y2-le.y1)*(pe.x2-le.x1)) d4,
      le.x1 px1, le.y1 py1, le.x2 px2, le.y2 py2,
      pe.x1 qx1, pe.y1 qy1, pe.x2 qx2, pe.y2 qy2
    FROM cand c
    JOIN ledge le ON le.line_id = c.line_id
    JOIN pe ON pe.l_id = c.l_id)
  WHERE (d1 <> d2 AND d1 <> 0 AND d2 <> 0
         AND d3 <> d4 AND d3 <> 0 AND d4 <> 0)
     OR (d1 = 0 AND px1 BETWEEN least(qx1,qx2) AND greatest(qx1,qx2)
                AND py1 BETWEEN least(qy1,qy2) AND greatest(qy1,qy2))
     OR (d2 = 0 AND px2 BETWEEN least(qx1,qx2) AND greatest(qx1,qx2)
                AND py2 BETWEEN least(qy1,qy2) AND greatest(qy1,qy2))
     OR (d3 = 0 AND qx1 BETWEEN least(px1,px2) AND greatest(px1,px2)
                AND qy1 BETWEEN least(py1,py2) AND greatest(py1,py2))
     OR (d4 = 0 AND qx2 BETWEEN least(px1,px2) AND greatest(px1,px2)
                AND qy2 BETWEEN least(py1,py2) AND greatest(py1,py2))),
lin AS (
  SELECT c.line_id, c.l_id
  FROM cand c JOIN lanchor a ON a.line_id = c.line_id
  JOIN pe ON pe.l_id = c.l_id
  GROUP BY c.line_id, c.l_id, a.px, a.py
  HAVING SUM(CASE WHEN (pe.y1 > a.py) <> (pe.y2 > a.py)
    AND a.px < (pe.x2-pe.x1)*CAST(a.py-pe.y1 AS DOUBLE)/(pe.y2-pe.y1)+pe.x1
    THEN 1 ELSE 0 END) % 2 = 1)
SELECT line_id, l_id FROM seghit
UNION SELECT line_id, l_id FROM lin
"""


def q_convex_hull(spark, sf_dir):
    """operators/overlay.convex_hull: distributed per-group hull —
    per-partition keep-collinear monotone chains (mapInPandas, no
    shuffle) shrink the input to local-hull candidates, ONE groupBy
    gathers them for the final chain; layout-independent because a
    global-boundary point is on every containing subset's hull
    boundary. Emits vertex rows + hull_n + doubled-shoelace area
    (exact on the integer grid). Full ANSI-SQL oracle: directed hull
    edges by the O(n³) all-points-left predicate, area from the
    order-independent edge-cross sum."""
    _ship_package(spark)
    from opentopodata_spark.operators import overlay

    o = _t(spark, sf_dir, "orders").where(F.col("o_orderkey") % 20 == 0)
    pts = o.selectExpr(
        "o_orderkey % 23 AS grp",
        "CAST(o_orderkey*7919 % 20011 AS DOUBLE) AS x",
        "CAST(o_orderkey*104729 % 20011 AS DOUBLE) AS y",
    )
    return overlay.convex_hull(pts, by=["grp"])


_Q_HULL_SQL = """
WITH pts AS (
  SELECT DISTINCT o_orderkey % 23 AS grp,
         (o_orderkey*7919) % 20011 AS x,
         (o_orderkey*104729) % 20011 AS y
  FROM orders WHERE o_orderkey % 20 = 0),
ed AS (
  SELECT a.grp, a.x AS ax, a.y AS ay, b.x AS bx, b.y AS byy
  FROM pts a JOIN pts b
    ON a.grp = b.grp AND (a.x <> b.x OR a.y <> b.y)
  WHERE NOT EXISTS (
    SELECT 1 FROM pts p
    WHERE p.grp = a.grp
      AND (p.x <> a.x OR p.y <> a.y) AND (p.x <> b.x OR p.y <> b.y)
      AND NOT (
        (b.x-a.x)*(p.y-a.y)-(b.y-a.y)*(p.x-a.x) > 0
        OR ((b.x-a.x)*(p.y-a.y)-(b.y-a.y)*(p.x-a.x) = 0
            AND NOT (p.x BETWEEN least(a.x,b.x) AND greatest(a.x,b.x)
                 AND p.y BETWEEN least(a.y,b.y) AND greatest(a.y,b.y)))))),
agg AS (SELECT grp, count(*) AS hull_n, SUM(ax*byy - bx*ay) AS area2
        FROM ed GROUP BY grp)
SELECT e.grp, CAST(e.ax AS DOUBLE) AS x, CAST(e.ay AS DOUBLE) AS y,
       CAST(g.hull_n AS INT) AS hull_n, CAST(g.area2 AS DOUBLE) AS hull_area2
FROM (SELECT DISTINCT grp, ax, ay FROM ed) e JOIN agg g USING (grp)
"""


def q_line_simplify(spark, sf_dir):
    """operators/overlay.simplify_lines: Douglas–Peucker per line (one
    shuffle on line id, vectorized int64 stack loop; retain decision
    cross² > eps²·len² is exact on the grid, farthest-wins with
    smallest-index tiebreak). Oracle: a DuckDB RECURSIVE CTE replays
    the identical split recursion independently."""
    _ship_package(spark)
    from opentopodata_spark.operators import overlay

    e = _t(spark, sf_dir, "events").where(F.col("event_id") % 2 == 0)
    lines = e.selectExpr(
        "event_id % 37 AS line_id",
        "event_id AS seq",
        "CAST(event_id*7919 % 20011 - 10000 AS DOUBLE) AS x",
        "CAST(event_id*104729 % 20011 - 10000 AS DOUBLE) AS y",
    )
    return overlay.simplify_lines(lines, eps=500.0)


_Q_SIMPLIFY_SQL = """
WITH RECURSIVE
pts AS (
  SELECT event_id % 37 AS line_id, event_id AS seq,
         (event_id*7919) % 20011 - 10000 AS x,
         (event_id*104729) % 20011 - 10000 AS y
  FROM events WHERE event_id % 2 = 0),
bounds AS (SELECT line_id, min(seq) AS lo, max(seq) AS hi
           FROM pts GROUP BY line_id),
seg(line_id, lo, hi) AS (
  SELECT line_id, lo, hi FROM bounds
  UNION ALL
  SELECT s.line_id,
         CASE u.side WHEN 0 THEN s.lo ELSE s.k END,
         CASE u.side WHEN 0 THEN s.k ELSE s.hi END
  FROM (
    SELECT sg.line_id, sg.lo, sg.hi,
      (SELECT p.seq FROM pts p
        JOIN pts a ON a.line_id = sg.line_id AND a.seq = sg.lo
        JOIN pts b ON b.line_id = sg.line_id AND b.seq = sg.hi
       WHERE p.line_id = sg.line_id AND p.seq > sg.lo AND p.seq < sg.hi
         AND ((b.x-a.x)*(p.y-a.y)-(b.y-a.y)*(p.x-a.x))
           * ((b.x-a.x)*(p.y-a.y)-(b.y-a.y)*(p.x-a.x))
           > 250000 * ((b.x-a.x)*(b.x-a.x)+(b.y-a.y)*(b.y-a.y))
       ORDER BY ((b.x-a.x)*(p.y-a.y)-(b.y-a.y)*(p.x-a.x))
              * ((b.x-a.x)*(p.y-a.y)-(b.y-a.y)*(p.x-a.x)) DESC,
                p.seq ASC
       LIMIT 1) AS k
    FROM seg sg) s, UNNEST([0,1]) AS u(side)
  WHERE s.k IS NOT NULL)
SELECT p.line_id, p.seq, CAST(p.x AS DOUBLE) AS x, CAST(p.y AS DOUBLE) AS y
FROM (SELECT line_id, lo AS seq FROM seg
      UNION SELECT line_id, hi FROM seg) k
JOIN pts p ON p.line_id = k.line_id AND p.seq = k.seq
"""


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
    # Registration order matters: the round driver verifies roughly the
    # FIRST 50 entries against their oracles each round. Discipline:
    #   1. queries never driver-checked (or changed this round) go first,
    #   2. then queries whose last green row is a round old (stale),
    #   3. then the most recently re-verified ones, which rotate out.
    return {
        # -- new in r5 (inserted here as they land) --
        "iceberg_documents": q_iceberg_documents,
        "image_near_dups": q_image_near_dups,
        "audio_near_dups": q_audio_near_dups,
        "video_near_dups": q_video_near_dups,
        "streaming_image_near_dup": q_streaming_image_near_dup,
        "exact_substr": q_exact_substr,
        "wkt2_elevation": q_wkt2_elevation,
        # -- modules CHANGED in r5 (ADVICE fixes: topk null groups/ties,
        #    quantiles null-safe probe, dissolve cancelled-key row, knn
        #    broadcast cap) — re-verify even though green in r4 --
        "topk_per_group": q_topk_per_group,
        "exact_quantiles": q_exact_quantiles,
        "dissolve_regions": q_dissolve_regions,
        "knn_topk": q_knn_topk,
        "range_join": q_range_join,
        # -- last green in r2 (VERDICT r4 Next #1): the 14 stale rows,
        #    streaming_* first (streaming.py changed in r4 after their
        #    last driver check) --
        "streaming_rollup": q_streaming_rollup,
        "streaming_sessionize": q_streaming_sessionize,
        "streaming_dedup": q_streaming_dedup,
        "streaming_near_dup": q_streaming_near_dup,
        "streaming_overview": q_streaming_overview,
        "terrain_slope": q_terrain_slope,
        "zonal_stats": q_zonal_stats,
        "rasterize_grid": q_rasterize_grid,
        "contour_lines": q_contour_lines,
        "overview_tiles": q_overview_tiles,
        "raster_diff": q_raster_diff,
        "sessionize": q_sessionize,
        "pip_coverage": q_pip_coverage,
        "s2_cells": q_s2_cells,
        # -- last green in r3; oldest cohort next, headline ones first --
        "coord_extract": q_coord_extract,
        "tile_floor_keys": q_tile_floor_keys,
        "bbox_coverage": q_bbox_coverage,
        "priority_coalesce": q_priority_coalesce,
        "exact_dedup": q_exact_dedup,
        "minhash_signatures": q_minhash,
        "lsh_candidate_pairs": q_lsh_pairs,
        "ngram_jaccard": q_jaccard,
        "near_dup_verified": q_near_dup_verified,
        "dedup_clusters": q_dedup_clusters,
        "dedup_corpus": q_dedup_corpus,
        "bm25_search": q_bm25_search,
        "contamination_check": q_contamination_check,
        "pii_scrub": q_pii_scrub,
        "html_extract": q_html_extract,
        "crawl_pipeline": q_crawl_pipeline,
        "text_normalize": q_text_normalize,
        "corpus_stats": q_corpus_stats,
        "corpus_stats_approx": q_corpus_stats_approx,
        "chunk_documents": q_chunk_documents,
        "chunk_documents_bpe": q_chunk_documents_bpe,
        "pack_sequences": q_pack_sequences,
        "simhash": q_simhash,
        "token_stats": q_token_stats,
        "ngram_lm_ppl": q_ngram_lm_ppl,
        "collocations": q_collocations,
        "url_normalize": q_url_normalize,
        "domain_stats": q_domain_stats,
        "quality_score": q_quality,
        "lang_id": q_lang_id,
        "fingerprint": q_fingerprint,
        "repetition_stats": q_repetition_stats,
        "repeated_ngrams": q_repeated_ngrams,
        "span_dedup": q_span_dedup,
        # -- ~here the ~50-query driver window runs out; r3 cohort
        #    continues (these rotate to the head next round) --
        "corpus_sample": q_corpus_sample,
        "mixture_sample": q_mixture_sample,
        "stratified_take": q_stratified_take,
        "slippy_tiles": q_slippy_tiles,
        "tile_pyramid": q_tile_pyramid,
        "heavy_hitters": q_heavy_hitters,
        "streaming_heavy_hitters": q_streaming_heavy_hitters,
        "text_embed": q_text_embed,
        "quality_classifier": q_quality_classifier,
        "embedding_topk": q_embedding_topk,
        "embedding_lsh_buckets": q_emb_lsh_buckets,
        "embedding_near_dups": q_emb_near_dups,
        "events_rollup": q_events_rollup,
        "asof_join": q_asof_join,
        # -- green in CORRECTNESS_r04; rotated out of the window --
        "hll_distinct": q_hll_distinct,
        "streaming_hll": q_streaming_hll,
        "buffer_pip": q_buffer_pip,
        "raster_stats": q_raster_stats,
        "interval_coverage": q_interval_coverage,
        "zonal_majority": q_zonal_majority,
        "overlay_join": q_overlay_join,
        "line_overlay_join": q_line_overlay_join,
        "sphere_metrics": q_sphere_metrics,
        "overlay_join_broadcast": q_overlay_join_broadcast,
        "polygon_metrics": q_polygon_metrics,
        "polygon_clip": q_polygon_clip,
        "convex_hull": q_convex_hull,
        "line_simplify": q_line_simplify,
        "vector_ingest": q_vector_ingest,
        "interval_join": q_interval_join,
        "host_pagerank": q_host_pagerank,
        "raster_grid": q_raster_grid,
        "polygon_burn": q_polygon_burn,
        "semantic_dedup": q_semantic_dedup,
        "dsir_select": q_dsir_select,
        "raster_polygonize": q_raster_polygonize,
        "raster_sieve": q_raster_sieve,
        "raster_fillnodata": q_raster_fillnodata,
        "raster_proximity": q_raster_proximity,
        "raster_colorrelief": q_raster_colorrelief,
        "region_polygons": q_region_polygons,
        "raster_warp": q_raster_warp,
        "cog_overviews": q_cog_overviews,
        "terrain_tiles_export": q_terrain_tiles_export,
        "terrain_pyramid_export": q_terrain_pyramid_export,
        "raster_formats": q_raster_formats,
        "remote_elevation": q_remote_elevation,
        "proj4_elevation": q_proj4_elevation,
        "funnel": q_funnel,
        "retention": q_retention,
        "geofence_counts": q_geofence_counts,
        "geofence_transitions": q_geofence_transitions,
        "elevation_profile": q_elevation_profile,
        "line_of_sight": q_line_of_sight,
        "viewshed": q_viewshed,
        "flow_accumulation": q_flow_accumulation,
        "elevation_e2e": q_elevation_e2e,
        "multimodal_features": q_multimodal_features,
        "geodesic_paths": q_geodesic_paths,
        "ivf_topk": q_ivf_topk,
        "ivfpq_topk": q_ivfpq_topk,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "iceberg_documents": _Q_ICEBERG_DOCS_SQL,
        "image_near_dups": _image_near_dups_sql(),
        "audio_near_dups": _audio_near_dups_sql(),
        "video_near_dups": _video_near_dups_sql(),
        "streaming_image_near_dup": _streaming_image_near_dup_sql(),
        "exact_substr": _Q_EXACT_SUBSTR_SQL,
        "tile_floor_keys": _Q_TILE_FLOOR_SQL,
        "bbox_coverage": _Q_BBOX_SQL,
        "priority_coalesce": _Q_PRIORITY_SQL,
        "knn_topk": _Q_KNN_SQL,
        "range_join": _Q_RANGE_SQL,
        "coord_extract": _Q_COORD_SQL,
        "exact_dedup": _Q_EXACT_DEDUP_SQL,
        "minhash_signatures": _minhash_sql(),
        "lsh_candidate_pairs": _lsh_pairs_sql(),
        "ngram_jaccard": _Q_JACCARD_SQL,
        "pip_coverage": _pip_sql(),
        "near_dup_verified": _Q_NEAR_DUP_SQL,
        "dedup_clusters": _Q_DEDUP_CLUSTERS_SQL,
        "dedup_corpus": _Q_DEDUP_CORPUS_SQL,
        "bm25_search": _bm25_sql(),
        "contamination_check": _contamination_sql(),
        "pii_scrub": _pii_scrub_sql(),
        "html_extract": _html_extract_sql(),
        "crawl_pipeline": _crawl_pipeline_sql(),
        "text_normalize": _Q_TEXT_NORMALIZE_SQL,
        "corpus_stats": _Q_CORPUS_STATS_SQL,
        "corpus_stats_approx": _Q_CORPUS_STATS_APPROX_SQL,
        "chunk_documents": _Q_CHUNK_SQL,
        "pack_sequences": _Q_PACK_SQL,
        "simhash": _simhash_sql(),
        "token_stats": _Q_TOKEN_SQL,
        "dsir_select": _dsir_sql(),
        "overlay_join": _Q_OVERLAY_SQL,
        "line_overlay_join": _Q_LINE_OVERLAY_SQL,
        "sphere_metrics": _Q_SPHERE_METRICS_SQL,
        "overlay_join_broadcast": _Q_OVERLAY_SQL,
        "polygon_metrics": _Q_POLYGON_METRICS_SQL,
        "polygon_clip": _Q_POLYGON_CLIP_SQL,
        "convex_hull": _Q_HULL_SQL,
        "line_simplify": _Q_SIMPLIFY_SQL,
        "vector_ingest": _vector_ingest_sql(),
        "host_pagerank": _pagerank_sql(),
        "interval_join": _Q_INTERVAL_SQL,
        "ngram_lm_ppl": _Q_LM_SQL,
        "collocations": _Q_COLLOC_SQL,
        "url_normalize": _Q_URL_NORM_SQL,
        "domain_stats": _Q_DOMAIN_STATS_SQL,
        "quality_score": _quality_sql(),
        "lang_id": _lang_id_sql(),
        "fingerprint": _Q_FINGERPRINT_SQL,
        "repetition_stats": _Q_REPETITION_SQL,
        "repeated_ngrams": _Q_REPEATED_SQL,
        "span_dedup": _Q_SPAN_DEDUP_SQL,
        "corpus_sample": _corpus_sample_sql(),
        "mixture_sample": _Q_MIXTURE_SQL,
        "stratified_take": _Q_STRATIFIED_TAKE_SQL,
        "slippy_tiles": _slippy_sql(),
        "tile_pyramid": _tile_pyramid_sql(),
        "heavy_hitters": _Q_HEAVY_HITTERS_SQL,
        "streaming_heavy_hitters": _Q_STREAMING_HH_SQL,
        "hll_distinct": _Q_HLL_SQL,
        "streaming_hll": _Q_STREAMING_HLL_SQL,
        "buffer_pip": _buffer_pip_sql(),
        "dissolve_regions": _dissolve_sql(),
        "exact_quantiles": _quantiles_sql(),
        # raster_stats shares the zonal pixel-table build; degrade to the
        # rows-only check rather than failing the whole registry
        **_raster_stats_oracle_entry(),
        "interval_coverage": _Q_INTERVAL_COVERAGE_SQL,
        "topk_per_group": _Q_TOPK_SQL,
        **_zonal_majority_oracle_entry(),
        "text_embed": _Q_TEXT_EMBED_SQL,
        "embedding_topk": _Q_EMB_TOPK_SQL,
        "embedding_lsh_buckets": _emb_lsh_sql(),
        "embedding_near_dups": _emb_near_dups_sql(),
        "events_rollup": _Q_EVENTS_SQL,
        "asof_join": _Q_ASOF_SQL,
        "funnel": _Q_FUNNEL_SQL,
        "retention": _Q_RETENTION_SQL,
        "geofence_counts": _geofence_sql(),
        "geofence_transitions": _geofence_transitions_sql(),
        "streaming_rollup": _Q_STREAMING_ROLLUP_SQL,
        "streaming_sessionize": _Q_STREAMING_SESSIONIZE_SQL,
        "streaming_dedup": _Q_STREAMING_DEDUP_SQL,
        "sessionize": _Q_SESSIONIZE_SQL,
        "rasterize_grid": _Q_RASTERIZE_SQL,
        # elevation_e2e / geodesic_paths / multimodal_features / ivf_topk /
        # s2_cells are genuinely non-SQL (rasters, Karney geodesics, binary
        # media, IVF, S2 Hilbert ids): their oracles are the repo's own
        # single-process reference implementations, recomputed fresh into a
        # parquet that the SQL reads (see _precomputed_oracles above).
        **_precomputed_oracles(),
        # zonal_stats: precomputed PIXEL table; DuckDB runs its own
        # ray-cast mask + aggregation (independent of the Spark path).
        **_zonal_oracle_entry(),
    }
