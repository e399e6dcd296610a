"""Bounded top-k per group: the candidate/finalize rewrite of the
window-rank idiom.

The textbook Spark top-k-per-group —
``row_number() OVER (PARTITION BY g ORDER BY v DESC) <= k`` — shuffles
and SORTS every row of the table; at 10^12 rows with millions of
groups, the sort dominates the job even though all but k rows per
group are discarded. This operator does the heavy-hitters-style
decomposition instead (same shape as convex_hull):

  phase 1  per Arrow batch, a vectorized pandas prune keeps at most k
           rows per (group present in the batch): any row in the GLOBAL
           top-k of its group is also in its batch's top-k, so the
           survivor set is a superset of the answer. The shuffle that
           follows carries <= k x groups x batches rows — a vanishing
           fraction of the input when k is small.
  phase 2  the exact window rank runs on the candidates only, with a
           deterministic total order: (order_col, tie_cols...) — ties
           must be resolvable or the cut would be layout-dependent, so
           ``tie_cols`` is REQUIRED.

Output: input columns + ``rank`` (1-based). Nulls in order_col are
dropped (a null can never rank). k >= 1.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

__all__ = ["topk_per_group"]


def topk_per_group(
    df: DataFrame,
    group_cols: tuple,
    order_col: str,
    k: int,
    tie_cols: tuple,
    ascending: bool = False,
) -> DataFrame:
    if k < 1:
        raise ValueError("k must be >= 1")
    if not group_cols:
        raise ValueError("group_cols must be non-empty")
    if not tie_cols:
        raise ValueError(
            "tie_cols is required — without a total order the top-k "
            "cut would be layout-dependent"
        )
    groups = list(group_cols)
    ties = list(tie_cols)
    src = df.where(F.col(order_col).isNotNull())
    cols = src.columns
    sort_cols = [order_col] + ties
    asc_flags = [ascending] + [True] * len(ties)

    def prune(batches):
        # dropna=False: a null group key is a group like any other in the
        # finalize window (Spark partitionBy groups nulls together), so the
        # prune must keep its candidates too.  na_position='first' matches
        # the finalize order exactly: order_col carries no nulls (filtered
        # above) and the tie columns sort asc NULLS FIRST in Spark.
        for b in batches:
            if not len(b):
                continue
            yield (
                b.sort_values(
                    sort_cols,
                    ascending=asc_flags,
                    kind="mergesort",
                    na_position="first",
                )
                .groupby(groups, sort=False, dropna=False)
                .head(k)
            )

    cand = src.mapInPandas(prune, src.schema)
    order = [
        F.col(order_col).asc() if ascending else F.col(order_col).desc()
    ] + [F.col(t).asc() for t in ties]
    w = Window.partitionBy(*groups).orderBy(*order)
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(*cols, "rank")
    )
