"""As-of join: for each left row, the single most recent right row at or
before (backward) / the earliest at or after (forward) the left's time,
optionally within a tolerance and per equality ("by") key.

The reference has no as-of join, but it is THE canonical time-series
join (pandas ``merge_asof``; DuckDB ``ASOF JOIN``) and a close cousin
of the reference's ``ineq_join`` — an inequality join reduced to the
single extremal match per left row — so it belongs in the same operator
family (SURVEY.md §2.4 extension).

Spark-first plan — the **union + running last_value trick**, no UDFs:

1. tag left rows 1, right rows 0; union on (by, ts, tag, payload);
2. one sort per ``by`` group ordered by (ts, tag): at equal ts the right
   row sorts first, making it eligible for a ``>=`` match;
3. ``last(right_payload, ignorenulls)`` over
   ``rowsBetween(unboundedPreceding, currentRow)`` — each left row sees
   exactly the latest right row at-or-before it;
4. keep tagged-left rows, apply the tolerance filter, inner/left.

Cost: ONE shuffle (hash by ``by``, sort within) — identical shape to a
sort-merge join, no replication.  Without ``by`` keys a single window
partition would serialize, so the rows are range-bucketed by time
quantiles (the bucket id is one SQL expression,
:func:`pandance_spark._kernel.band_id`) and a tiny per-bucket "carry"
table (the last right row of every earlier bucket) is broadcast back —
still one data shuffle.
"""

from __future__ import annotations

from typing import Optional, Sequence, Tuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pandance_spark._kernel import QUANTILE_UNSUPPORTED as _QUANTILE_UNSUPPORTED
from pandance_spark._kernel import (
    band_id,
    is_timestamp_type,
    numeric_view,
    resolve_join_columns,
    tolerance_to_micros,
)

__all__ = ["asof_join"]


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Optional[str] = None,
    left_on: Optional[str] = None,
    right_on: Optional[str] = None,
    by: Optional[Sequence[str]] = None,
    direction: str = "backward",
    tolerance=None,
    how: str = "left",
    suffixes: Tuple[str, str] = ("_x", "_y"),
    num_buckets: int = 64,
) -> DataFrame:
    """pandas-``merge_asof``-style join as a single-shuffle Spark plan.

    ``direction``: ``"backward"`` (right.ts <= left.ts, latest wins),
    ``"forward"`` (right.ts >= left.ts, earliest wins), or
    ``"nearest"`` (smallest |right.ts - left.ts|; equidistant
    candidates resolve to the backward one, i.e. the smaller right ts).
    ``how``: ``"left"`` (unmatched left rows kept with nulls) or
    ``"inner"``.  Ties among right rows at the same timestamp are
    broken arbitrarily (as in pandas).

    ``nearest`` costs the same single shuffle as the directional modes:
    the union sorts once, then two window frames over the same sort
    (running last-below + first-above) feed a per-row distance pick.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError("direction must be 'backward', 'forward' or 'nearest'")
    if how not in ("left", "inner"):
        raise ValueError("how must be 'left' or 'inner'")
    by = list(by) if by else []
    left_on, right_on = resolve_join_columns(left, right, on, left_on, right_on)
    for k in by:
        if k not in left.columns or k not in right.columns:
            raise ValueError(f"by-column {k!r} missing from an input")

    # suffix only non-by collisions; by-keys merge into one output column
    lcols = [c for c in left.columns]
    rcols_payload = [c for c in right.columns if c not in by]
    lsuf, rsuf = suffixes
    collisions = (set(lcols) & set(rcols_payload)) - set(by)
    lmap = {c: c + lsuf for c in collisions}
    rmap = {c: c + rsuf for c in collisions}
    left2 = left.withColumnsRenamed(lmap)
    right2 = right.withColumnsRenamed(rmap)
    lts = lmap.get(left_on, left_on)
    rts = rmap.get(right_on, right_on)

    ltype = left2.schema[lts].dataType
    rtype = right2.schema[rts].dataType

    def _ord(col: Column, dt: T.DataType) -> Column:
        v = numeric_view(col, dt)
        return -v if direction == "forward" else v

    rpayload_cols = [c for c in right2.columns if c not in by]
    out_left_cols = list(left2.columns)
    out_right_cols = rpayload_cols

    lpart = left2.select(
        *[F.col(c) for c in by],
        _ord(F.col(lts), ltype).alias("__ord"),
        F.lit(1).alias("__tag"),
        F.struct(*[F.col(c) for c in out_left_cols]).alias("__l"),
        F.lit(None).cast(
            T.StructType(
                [right2.schema[c] for c in rpayload_cols]
            )
        ).alias("__r"),
    )
    rpart = right2.select(
        *[F.col(c) for c in by],
        _ord(F.col(rts), rtype).alias("__ord"),
        F.lit(0).alias("__tag"),
        F.lit(None).cast(
            T.StructType([left2.schema[c] for c in out_left_cols])
        ).alias("__l"),
        F.struct(*[F.col(c) for c in rpayload_cols]).alias("__r"),
    )
    union = lpart.unionByName(rpart)

    want_fwd = direction == "nearest"
    if by:
        w = Window.partitionBy(*by).orderBy("__ord", "__tag")
        matched = union.withColumn(
            "__match",
            F.last("__r", ignorenulls=True).over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        if want_fwd:
            # right rows at the same ts sort BEFORE the left row (__tag
            # 0 < 1), so [current, following) is strictly-after — the
            # equal-ts candidate is already the backward match (dist 0)
            matched = matched.withColumn(
                "__match_f",
                F.first("__r", ignorenulls=True).over(
                    w.rowsBetween(0, Window.unboundedFollowing)
                ),
            )
    else:
        matched = _bucketed_running_last(union, num_buckets, want_fwd)

    out = matched.filter(F.col("__tag") == 1)
    if want_fwd:
        lnum = numeric_view(F.col(f"__l.{lts}"), ltype)

        def _rnum(match_col: str) -> Column:
            return numeric_view(F.col(f"{match_col}.{rts}"), rtype)

        bdist = F.abs(lnum - _rnum("__match"))
        fdist = F.abs(lnum - _rnum("__match_f"))
        out = out.withColumn(
            "__match",
            F.when(F.col("__match_f").isNull(), F.col("__match"))
            .when(F.col("__match").isNull(), F.col("__match_f"))
            .when(bdist <= fdist, F.col("__match"))
            .otherwise(F.col("__match_f")),
        ).drop("__match_f")
    if tolerance is not None:
        tol = (
            tolerance_to_micros(tolerance)
            if is_timestamp_type(ltype)
            else float(tolerance)
        )
        lval = numeric_view(F.col(f"__l.{lts}"), ltype)
        rval = numeric_view(F.col(f"__match.{rts}"), rtype)
        out = out.withColumn(
            "__match",
            F.when(F.abs(lval - rval) <= F.lit(tol), F.col("__match")),
        )
    if how == "inner":
        out = out.filter(F.col("__match").isNotNull())
    return out.select(
        *[F.col(f"__l.{c}").alias(c) for c in out_left_cols],
        *[F.col(f"__match.{c}").alias(c) for c in out_right_cols],
    )


def _bucketed_running_last(
    union: DataFrame, num_buckets: int, want_fwd: bool = False
) -> DataFrame:
    """Running last-right-row without `by` keys: range-bucket by time
    quantiles (``band_id`` over the cuts) so the window parallelizes,
    then carry each bucket's final right row forward via a tiny
    broadcast table.

    ``want_fwd`` additionally computes ``__match_f`` — the FIRST right
    row at-or-after each row — with the mirrored construction (first
    right row per bucket, carried backward), for ``direction="nearest"``.
    """
    stats = union.select("__ord").dropna()
    try:
        cuts = sorted(
            set(stats.approxQuantile("__ord", [i / num_buckets for i in range(1, num_buckets)], 0.001))
        )
    except _QUANTILE_UNSUPPORTED:
        # un-quantilable order column -> single-window fallback is the
        # plan; execution errors propagate (see _kernel note)
        cuts = []
    if not cuts:
        w = Window.orderBy("__ord", "__tag")
        out = union.withColumn(
            "__match",
            F.last("__r", ignorenulls=True).over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        if want_fwd:
            out = out.withColumn(
                "__match_f",
                F.first("__r", ignorenulls=True).over(
                    w.rowsBetween(0, Window.unboundedFollowing)
                ),
            )
        return out
    b = band_id(union, F.col("__ord"), cuts, "__bucket")
    w = Window.partitionBy("__bucket").orderBy("__ord", "__tag")
    in_bucket = b.withColumn(
        "__match_in",
        F.last("__r", ignorenulls=True).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    # last right row of every bucket (tiny: <= num_buckets rows)
    per_bucket = (
        b.filter(F.col("__tag") == 0)
        .groupBy("__bucket")
        .agg(F.max_by("__r", F.struct(F.col("__ord"), F.col("__tag"))).alias("__last_r"))
    )
    carry = per_bucket.withColumn(
        "__carry_tmp",
        F.last("__last_r", ignorenulls=True).over(
            Window.orderBy("__bucket").rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    # carry for bucket k = last right row in any bucket < k: build a
    # complete bucket index so buckets with no right rows still carry
    spark = union.sparkSession
    all_buckets = spark.range(0, len(cuts) + 1).selectExpr("id AS __bucket")
    carry_full = (
        all_buckets.join(carry.select("__bucket", "__carry_tmp"), "__bucket", "left")
        .withColumn(
            "__carry",
            F.lag(
                F.last("__carry_tmp", ignorenulls=True).over(
                    Window.orderBy("__bucket").rowsBetween(
                        Window.unboundedPreceding, 0
                    )
                ),
                1,
            ).over(Window.orderBy("__bucket")),
        )
        .select("__bucket", "__carry")
    )
    out = (
        in_bucket.join(F.broadcast(carry_full), "__bucket", "left")
        .withColumn("__match", F.coalesce("__match_in", "__carry"))
        .drop("__match_in", "__carry")
    )
    if not want_fwd:
        return out.drop("__bucket")

    # mirrored forward pass: first right row at-or-after, within bucket
    out = out.withColumn(
        "__match_f_in",
        F.first("__r", ignorenulls=True).over(
            w.rowsBetween(0, Window.unboundedFollowing)
        ),
    )
    # first right row of every bucket, carried BACKWARD: the forward
    # carry for bucket k is the first right row in any bucket > k
    per_bucket_first = (
        b.filter(F.col("__tag") == 0)
        .groupBy("__bucket")
        .agg(F.min_by("__r", F.struct(F.col("__ord"), F.col("__tag"))).alias("__first_r"))
    )
    spark = union.sparkSession
    all_buckets_f = spark.range(0, len(cuts) + 1).selectExpr("id AS __bucket")
    wdesc = Window.orderBy(F.col("__bucket").desc())
    carry_fwd = (
        all_buckets_f.join(
            per_bucket_first.select("__bucket", "__first_r"), "__bucket", "left"
        )
        .withColumn(
            "__carry_f",
            F.lag(
                F.last("__first_r", ignorenulls=True).over(
                    wdesc.rowsBetween(Window.unboundedPreceding, 0)
                ),
                1,
            ).over(wdesc),
        )
        .select("__bucket", "__carry_f")
    )
    return (
        out.join(F.broadcast(carry_fwd), "__bucket", "left")
        .withColumn("__match_f", F.coalesce("__match_f_in", "__carry_f"))
        .drop("__match_f_in", "__carry_f", "__bucket")
    )
