"""Coordinate extraction from interleaved text+media documents (P1/P2).

Input: documents(doc_id, spans array<struct<kind,text,media_ref,offset>>)
— the BASELINE.json input_hint schema. Output: one row per extracted
coordinate (doc_id, span_pos, point_pos, lat, lon, loc_error).

The reference parses a request's ``locations`` argument as either
"lat,lon|lat,lon" pipe lists or a Google polyline, dispatching on the
presence of ',' (/root/reference/opentopodata/api.py:272-299). Here the
same grammar is applied per text span in ONE ``mapInArrow`` pass:

* the scan reads only ``doc_id``, ``spans.kind`` and ``spans.text``
  (nested-column pruning; no Generate sits between the scan and the
  projection, so ``media_ref`` and ``offset`` are never decoded);
* each Arrow batch explodes its span lists with list offsets, keeps the
  non-null text spans, and splits them on ',';
* spans containing ',' are parsed with one RE2 rewrite
  (``pyarrow.compute``): leftmost-first and ASCII ``\\d``, the same
  matches Spark's Java ``regexp_extract_all`` finds, with ``(?s)`` so a
  newline is just another non-matching character;
* the other spans, when they look like polylines (optional ``enc:``
  prefix, polyline alphabet only), are decoded together by
  ``polyline_codec.decode_flat`` — one numpy pass over the batch.

No per-row Python runs: every step is a vectorized pass over the batch.

Out-of-range lat/lon become ``loc_error`` rows — at 10^12-document scale
errors are data, not exceptions (the reference raises 400s instead:
api.py:389-397). Undecodable polylines, and polylines with any
out-of-range point, yield no rows (the reference rejects the whole
request; silently-empty is the scale analog).

The span-sequence invariant is trivially preserved: this operator only
*derives* rows; the documents table is never rewritten. Results re-attach
by (doc_id, span_pos, point_pos).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from .. import polyline_codec
from ..session import worker_bootstrap

LAT_MIN, LAT_MAX = -90.0, 90.0
LON_MIN, LON_MAX = -180.0, 180.0

_PAIR_REGEX = r"(-?\d+(?:\.\d+)?),(-?\d+(?:\.\d+)?)"
# Rewrites a span so that splitting it on '|' yields exactly the pair
# matches, in order, among empty tokens: a pair becomes "<pair>|"; a run
# of characters that cannot start a pair, or one character where no pair
# starts, becomes "|". A pair never contains '|'.
_PAIR_SCAN = rf"(?s)({_PAIR_REGEX})|[^-0-9]+|."
# polyline alphabet: ASCII 63..126, no spaces/commas (after enc:)
_POLYLINE_BODY = r"^[\?-~]+$"


def _positions(parents: np.ndarray) -> np.ndarray:
    """Index of each element within its run, for ascending ``parents``."""
    return np.arange(len(parents)) - np.searchsorted(parents, parents, "left")


def _in_range(lat: np.ndarray, lon: np.ndarray) -> np.ndarray:
    return (lat >= LAT_MIN) & (lat <= LAT_MAX) & (lon >= LON_MIN) & (lon <= LON_MAX)


def _string_bytes(strings: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """A null-free string array as (uint8 bytes back to back, end offset
    of each string)."""
    strings = strings.cast(pa.large_string())
    _validity, offsets, data = strings.buffers()
    off = np.frombuffer(offsets, dtype=np.int64)[
        strings.offset:strings.offset + len(strings) + 1]
    raw = np.frombuffer(data, dtype=np.uint8)[off[0]:off[-1]]
    return raw, off[1:] - off[0]


def _pair_points(texts: pa.Array):
    """P1: 'lat,lon|lat,lon' spans -> (span index, point_pos, lat, lon,
    error token). Range-invalid pairs become error rows."""
    tokens = pc.split_pattern(
        pc.replace_substring_regex(texts, _PAIR_SCAN, r"\1|"), "|")
    span = pc.list_parent_indices(tokens).to_numpy()
    tokens = tokens.flatten()
    keep = pc.greater(pc.binary_length(tokens), 0)
    tokens = tokens.filter(keep)
    span = span[keep.to_numpy(zero_copy_only=False)]
    latlon = (pc.split_pattern(tokens, ",").flatten()
              .cast(pa.float64()).to_numpy().reshape(-1, 2))
    lat, lon = latlon[:, 0], latlon[:, 1]
    bad = ~_in_range(lat, lon)
    err = pc.if_else(pa.array(bad), tokens, pa.scalar(None, pa.string()))
    return span, _positions(span), lat, lon, bad, err


def _polyline_points(texts: pa.Array):
    """P2: Google polylines -> (span index, point_pos, lat, lon). A span
    that fails to decode or has any out-of-range point yields nothing."""
    body = pc.if_else(pc.starts_with(texts, "enc:"),
                      pc.utf8_slice_codeunits(texts, 4), texts)
    is_poly = pc.match_substring_regex(body, _POLYLINE_BODY)
    cand = np.flatnonzero(is_poly.to_numpy(zero_copy_only=False))
    if len(cand) == 0:
        empty = np.empty(0, dtype=np.int64)
        return empty, empty, np.empty(0), np.empty(0)
    raw, ends = _string_bytes(body.filter(is_poly))
    lat, lon, counts = polyline_codec.decode_flat(raw, ends)
    n_pts = np.maximum(counts, 0)
    owner = np.repeat(np.arange(len(cand)), n_pts)
    out = ~_in_range(lat, lon)
    drop = np.bincount(owner[out], minlength=len(cand)) > 0
    keep = ~drop[owner]
    owner = owner[keep]
    return cand[owner], _positions(owner), lat[keep], lon[keep]


def _extract_batches(batches):
    """mapInArrow fn over (doc_id, kind list, text list) batches."""
    worker_bootstrap()
    for batch in batches:
        yield from _extract_batch(batch)


def _extract_batch(batch: pa.RecordBatch):
    """One Arrow batch of (doc_id, kind list, text list) -> point batches."""
    kinds, texts = batch.column(1), batch.column(2)
    doc_row = pc.list_parent_indices(texts).to_numpy()
    span_pos = _positions(doc_row)
    texts, kinds = texts.flatten(), kinds.flatten()
    is_text = pc.and_(pc.equal(kinds, "text"), pc.is_valid(texts))
    is_text = is_text.fill_null(False)
    texts = texts.filter(is_text)
    sel = is_text.to_numpy(zero_copy_only=False)
    doc_row, span_pos = doc_row[sel], span_pos[sel]
    if len(texts) == 0:
        return

    schema = pa.schema([
        batch.schema.field(0),
        pa.field("span_pos", pa.int32(), False),
        pa.field("point_pos", pa.int32(), False),
        pa.field("lat", pa.float64()),
        pa.field("lon", pa.float64()),
        pa.field("loc_error", pa.string()),
    ])

    def emit(span, point_pos, lat, lon, bad, err):
        return pa.RecordBatch.from_arrays(
            [
                batch.column(0).take(doc_row[span]),
                pa.array(span_pos[span], pa.int32()),
                pa.array(point_pos, pa.int32()),
                pa.array(lat, pa.float64(), mask=bad),
                pa.array(lon, pa.float64(), mask=bad),
                err,
            ],
            schema=schema,
        )

    comma = pc.match_substring(texts, ",").to_numpy(zero_copy_only=False)
    pairs, rest = np.flatnonzero(comma), np.flatnonzero(~comma)
    if len(pairs):
        span, pos, lat, lon, bad, err = _pair_points(texts.take(pairs))
        yield emit(pairs[span], pos, lat, lon, bad, err)
    if len(rest):
        span, pos, lat, lon = _polyline_points(texts.take(rest))
        if len(span):
            yield emit(rest[span], pos, lat, lon, None,
                       pa.nulls(len(span), pa.string()))


def extract_points(documents: DataFrame) -> DataFrame:
    """Full extraction: returns (doc_id, span_pos, point_pos, lat, lon,
    loc_error). loc_error is null for valid points; rows with a non-null
    loc_error carry the offending token instead of coordinates."""
    out = StructType(
        [
            documents.schema["doc_id"],
            StructField("span_pos", IntegerType(), False),
            StructField("point_pos", IntegerType(), False),
            StructField("lat", DoubleType()),
            StructField("lon", DoubleType()),
            StructField("loc_error", StringType()),
        ]
    )
    return documents.select(
        "doc_id",
        F.col("spans.kind").alias("kind"),
        F.col("spans.text").alias("text"),
    ).mapInArrow(_extract_batches, out)


def with_point_id(points: DataFrame) -> DataFrame:
    """Attach point_id = xxhash64(doc_id, span_pos, point_pos): one
    order-free long for downstream windows/joins. It is a hash, not a
    key; identity is the triple (at 10^12 documents of ~5.4 points,
    ~8e5 id pairs collide). The resolver does not depend on unique ids
    (one output row per input row); ``knn`` does (it groups by id)."""
    return points.withColumn(
        "point_id",
        F.xxhash64("doc_id", "span_pos", "point_pos"),
    )
