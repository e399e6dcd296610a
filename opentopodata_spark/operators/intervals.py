"""Interval overlap join — the time-range join Spark only offers as an
inequality (nested-loop / broadcast-cartesian) join.

``interval_join(left, right)`` returns every (left row, right row) pair
whose HALF-OPEN time ranges ``[start, end)`` overlap (and whose key
columns match, when ``on`` is given): ``l.start < r.end AND r.start <
l.end``. Touching intervals (``l.end == r.start``) do NOT match —
half-open is the convention that makes adjacent sessions disjoint.

Why not the obvious ``left.join(right, overlap_predicate)``: Spark
plans a pure inequality join as BroadcastNestedLoopJoin or a cartesian
product — O(|L| x |R|) comparisons, a non-starter at 10^10 events.
This is the standard bin-bucketing rewrite (the same strategy as
Flink's interval join and DuckDB/Postgres range-join papers):

1. each interval explodes to the fixed-width time bins it covers
   (``sequence(floor(start / W), floor((end - 1us) / W))`` — column
   expressions, no Python);
2. the two sides equi-join on ``(key..., bin)`` — a hash join Catalyst
   can shuffle-partition or broadcast, never a nested loop;
3. the overlap predicate filters, and the CANONICAL-BIN rule dedupes
   without a ``distinct()``: a pair is emitted only in the bin
   containing ``greatest(l.start, r.start)``. For an overlapping pair
   that instant lies inside both intervals, so exactly one joined row
   survives — no shuffle-sized dedup stage.

Scale shape: one explode+shuffle per side, one co-partitioned hash
join, pure-expression filters. Replicated rows per interval =
``ceil(span / W) + 1`` at most, so pick ``bin_width_s`` near the median
interval span. ``max_bins`` (executor-side ``assert_true``, zero extra
passes) refuses an interval that would explode into pathological bin
counts; ``max_bucket`` (one extra aggregate, opt-in) refuses a hot
``(key, bin)`` bucket before it goes quadratic — the same loud-refusal
discipline as overlay's ``max_bucket`` cap. Skewed
hot keys respond to the usual salting: replicate one side across S
salts on the bin key; not built in because the cap makes the need
visible first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

_LS, _LE, _RS, _RE = "__l_start_us", "__l_end_us", "__r_start_us", "__r_end_us"
_BIN = "__bin"


def _floordiv(col, width: int):
    """Exact floor division of a BIGINT column by a positive int —
    Column has no ``//`` and ``floor(x / w)`` round-trips through double.
    ``x - pmod(x, w)`` is exactly divisible, so the double quotient is an
    exact integer (< 2^53) and truncation == floor even for negatives."""
    adj = col - F.pmod(col, F.lit(width))
    return (adj / F.lit(width)).cast("long")


def _explode_bins(df: DataFrame, s_col: str, e_col: str, width_us: int,
                  max_bins: int) -> DataFrame:
    lo = _floordiv(F.col(s_col), width_us)
    hi = _floordiv(F.col(e_col) - 1, width_us)
    n = hi - lo + 1
    guarded = F.when(
        F.assert_true(
            n <= max_bins,
            F.concat(
                F.lit("interval_join: an interval spans "), n.cast("string"),
                F.lit(f" bins (> max_bins={max_bins}); raise bin_width_s "
                      "or max_bins"),
            ),
        ).isNull(),
        F.sequence(lo, hi),
    )
    return df.withColumn(_BIN, F.explode(guarded))


def interval_join(
    left: DataFrame,
    right: DataFrame,
    left_start: str = "start",
    left_end: str = "end",
    right_start: str = "start",
    right_end: str = "end",
    on: list[str] | None = None,
    bin_width_s: int = 3600,
    max_bins: int = 10_000,
    max_bucket: int | None = None,
) -> DataFrame:
    """All overlapping ``[start, end)`` pairs; columns of both inputs
    pass through (they must be disjoint apart from the ``on`` keys).
    Start/end columns may be TIMESTAMP (compared at exact microsecond
    resolution) or numeric (treated as microseconds)."""
    if bin_width_s <= 0:
        raise ValueError(f"bin_width_s must be positive, got {bin_width_s}")
    on = list(on or [])
    overlap = set(left.columns) & set(right.columns) - set(on)
    if overlap:
        raise ValueError(
            f"left/right share non-key columns {sorted(overlap)}; "
            "rename before joining"
        )
    width_us = bin_width_s * 1_000_000

    def us(df, col):  # exact integer microseconds for bins AND predicate
        c = df.schema[col].dataType.typeName()
        if c.startswith("timestamp"):
            return F.unix_micros(F.col(col).cast("timestamp"))
        return F.col(col).cast("long")

    l = left.withColumn(_LS, us(left, left_start)).withColumn(
        _LE, us(left, left_end)
    )
    r = right.withColumn(_RS, us(right, right_start)).withColumn(
        _RE, us(right, right_end)
    )
    l = _explode_bins(l, _LS, _LE, width_us, max_bins)
    r = _explode_bins(r, _RS, _RE, width_us, max_bins)

    if max_bucket is not None:
        for side, name in ((l, "left"), (r, "right")):
            hot = (
                side.groupBy(*on, _BIN)
                .agg(F.count(F.lit(1)).alias("c"))
                .where(F.col("c") > max_bucket)
                .limit(1)
                .collect()
            )
            if hot:
                row = hot[0]
                raise ValueError(
                    f"interval_join: {name} bucket {tuple(row)[:-1]} holds "
                    f"{row['c']} intervals (> max_bucket={max_bucket}); "
                    "raise the cap, shrink bin_width_s, or salt the hot key"
                )

    keys = on + [_BIN]
    joined = l.join(r, keys)
    canonical = _floordiv(
        F.greatest(F.col(_LS), F.col(_RS)), width_us
    ) == F.col(_BIN)
    pairs = joined.where(
        (F.col(_LS) < F.col(_RE)) & (F.col(_RS) < F.col(_LE)) & canonical
    )
    drop = [_BIN, _LS, _LE, _RS, _RE]
    return pairs.drop(*drop)


def interval_coverage(
    df: DataFrame,
    start_col: str = "start",
    end_col: str = "end",
    group_cols: tuple = (),
) -> DataFrame:
    """Per-group UNION length of half-open ``[start, end)`` intervals —
    the gaps-and-islands primitive ("how much wall time was each user
    actually connected", "total covered acquisition window per tile").

    Output: (group..., n_intervals, n_islands, covered_us) where
    covered_us is the exact length of the union in integer microseconds
    (timestamps compared at exact microsecond resolution; numeric
    columns treated as microseconds) and n_islands the number of
    maximal contiguous runs — TOUCHING intervals (next.start ==
    running max end) merge, per half-open adjacency.

    Shape: one hash partition + ONE sort per group key serves both
    window passes (running max of prior ends -> island flag -> running
    island id; Catalyst reuses the exchange and the sort), then a
    map-side-combined two-level aggregation. All arithmetic is int64
    microseconds — results are exact and layout-independent, so a SQL
    engine replays them verbatim. Negative-length intervals raise
    executor-side (through the start column — not prunable); empty
    intervals (end == start) are dropped, documented.
    """
    from pyspark.sql import Window

    groups = list(group_cols)

    def us(col):
        t = df.schema[col].dataType.typeName()
        if t.startswith("timestamp"):
            return F.unix_micros(F.col(col).cast("timestamp"))
        return F.col(col).cast("long")

    s0, e0 = us(start_col), us(end_col)
    data = df.select(
        *groups,
        F.when(
            e0 < s0,
            F.raise_error(
                "interval_coverage: end < start (negative interval)"
            ).cast("long"),
        ).otherwise(s0).alias("_s"),
        e0.alias("_e"),
    ).where(F.col("_e") > F.col("_s"))
    w_prev = (
        Window.partitionBy(*groups).orderBy("_s", "_e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy(*groups).orderBy("_s", "_e")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    flagged = data.withColumn(
        "_new",
        F.when(
            F.max("_e").over(w_prev).isNull()
            | (F.col("_s") > F.max("_e").over(w_prev)),
            F.lit(1),
        ).otherwise(F.lit(0)),
    ).withColumn("_island", F.sum("_new").over(w_run))
    islands = flagged.groupBy(*groups, "_island").agg(
        F.min("_s").alias("_is"),
        F.max("_e").alias("_ie"),
        F.count(F.lit(1)).alias("_n"),
    )
    return islands.groupBy(*groups).agg(
        F.sum("_n").alias("n_intervals"),
        F.count(F.lit(1)).alias("n_islands"),
        F.sum(F.col("_ie") - F.col("_is")).alias("covered_us"),
    )
