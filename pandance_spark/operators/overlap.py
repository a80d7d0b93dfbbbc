"""Interval-overlap join: match rows whose [start, end] intervals
intersect — ``l.start <= r.end AND r.start <= l.end`` (closed bounds).

Sibling of ``ineq_join``/``fuzzy_join`` in the same operator family
(SURVEY.md §2.4 extension): the reference covers single-value tolerance
matching; real time-series/genomics/session workloads need the interval
form, and Catalyst plans a raw conjunction of inequalities as a nested
loop.

Spark-first plan — **span banding**:

1. quantile cut points over the right starts define value bands;
2. every interval explodes to the bands its span covers
   (``sequence(band(start), band(end))``), each band id one SQL
   expression (:func:`pandance_spark._kernel.band_id`), so the plan
   costs a fixed number of driver calls whatever ``num_bands`` is;
3. equi-join on band id — overlapping intervals necessarily co-occur in
   the band containing the later of the two starts;
4. exact overlap predicate, plus a **first-shared-band guard**
   (``band == greatest(band(l.start), band(r.start))``) so each pair is
   emitted exactly once even when the overlap spans several bands.

Work is proportional to (rows x bands-spanned) + true pairs — an
equi-join shuffle, never O(n*m) comparisons.
"""

from __future__ import annotations

from typing import Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pandance_spark._kernel import QUANTILE_UNSUPPORTED as _QUANTILE_UNSUPPORTED
from pandance_spark._kernel import band_id, numeric_view

__all__ = ["overlap_join", "range_lookup", "merge_intervals"]


def overlap_join(
    left: DataFrame,
    right: DataFrame,
    left_start: str,
    left_end: str,
    right_start: str,
    right_end: str,
    suffixes: Tuple[str, str] = ("_x", "_y"),
    strategy: str = "auto",
    num_bands: int = 64,
) -> DataFrame:
    """Inner join on interval intersection (closed intervals).

    ``strategy``: ``"band"`` (scalable default via span banding),
    ``"bnl"`` (plain conditional join, for dimension-sized sides), or
    ``"auto"``.
    """
    for col, df, side in (
        (left_start, left, "left"),
        (left_end, left, "left"),
        (right_start, right, "right"),
        (right_end, right, "right"),
    ):
        if col not in df.columns:
            raise ValueError(f"column {col!r} not found in {side} DataFrame")

    lsuf, rsuf = suffixes
    common = set(left.columns) & set(right.columns)
    if common and lsuf == rsuf:
        raise ValueError("colliding columns need distinct suffixes")
    lmap = {c: c + lsuf for c in left.columns if c in common}
    rmap = {c: c + rsuf for c in right.columns if c in common}
    left2 = left.withColumnsRenamed(lmap)
    right2 = right.withColumnsRenamed(rmap)
    ls, le = lmap.get(left_start, left_start), lmap.get(left_end, left_end)
    rs, re = rmap.get(right_start, right_start), rmap.get(right_end, right_end)
    out_cols = [*left2.columns, *right2.columns]

    overlap = (left2[ls] <= right2[re]) & (right2[rs] <= left2[le])

    if strategy == "auto":
        from pandance_spark.operators.ineq import _pick_strategy

        strategy = _pick_strategy(left2, right2, ls, rs)
    if strategy == "bnl":
        return left2.join(right2, overlap, "inner").select(*out_cols)
    if strategy != "band":
        raise ValueError(f"unknown strategy {strategy!r}")

    def view(df: DataFrame, col: str):
        return numeric_view(F.col(col), df.schema[col].dataType)

    probs = [i / num_bands for i in range(1, num_bands)]
    rnum = right2.select(view(right2, rs).alias("__v")).dropna()
    try:
        cuts = sorted(set(rnum.approxQuantile("__v", probs, 0.001)))
    except _QUANTILE_UNSUPPORTED:
        # un-quantilable column -> conditional-join fallback is the
        # plan; execution errors propagate (see _kernel note)
        cuts = []
    if not cuts:
        return left2.join(right2, overlap, "inner").select(*out_cols)

    lb = band_id(left2, view(left2, ls), cuts, "__bs")
    lb = band_id(lb, view(left2, le), cuts, "__be")
    rb = band_id(right2, view(right2, rs), cuts, "__bs_r")
    rb = band_id(rb, view(right2, re), cuts, "__be_r")
    lb = lb.filter(F.col("__bs") <= F.col("__be")).withColumn(
        "__band", F.explode(F.sequence("__bs", "__be"))
    )
    rb = rb.filter(F.col("__bs_r") <= F.col("__be_r")).withColumn(
        "__band_r", F.explode(F.sequence("__bs_r", "__be_r"))
    )
    # emit each pair exactly once: in the band holding the later start
    once = F.col("__band") == F.greatest(F.col("__bs"), F.col("__bs_r"))
    joined = (
        lb.join(rb, F.col("__band") == F.col("__band_r"), "inner")
        .filter(once & overlap)
    )
    return joined.select(*out_cols)


def merge_intervals(
    df: DataFrame,
    start_col: str,
    end_col: str,
    by=None,
) -> DataFrame:
    """Union overlapping-or-touching [start, end] intervals per key —
    the gaps-and-islands coalesce (session spans from raw event
    intervals, covered time-range computation, genomic region
    flattening).  Two intervals merge when the later one starts at or
    before the earlier ones' running maximum end (closed bounds, the
    same convention as :func:`overlap_join`).

    Pure comparison logic — works for numeric, timestamp, or any
    orderable type; no arithmetic on the bounds.

    Plan: ONE shuffle on the ``by`` keys; a running ``max(end)`` window
    over start-ordered rows marks island breaks (``start >`` the
    predecessor max), a running sum of breaks numbers the islands, and
    a final groupBy on (keys, island) — which reuses the same hash
    partitioning, so AQE keeps it on the shuffled data — emits one row
    per merged interval with its member count.  Per-key data need not
    fit in memory: windows and aggs both stream.

    Without ``by``, islands are computed over a single global ordering
    — correct, but the window is one partition; prefer keyed use at
    scale (the keyless case is for small/driver-side summaries).

    Returns ``by... , start_col, end_col, n_merged``.
    """
    from pyspark.sql.window import Window

    by = [by] if isinstance(by, str) else list(by or [])
    # NULL bounds are unorderable — excluded, same as the NaN/Inf drop
    # convention of fuzzy_join (reference pandance.py:296-297)
    base = df.filter(
        F.col(start_col).isNotNull() & F.col(end_col).isNotNull()
    )
    w = (
        Window.partitionBy(*by)
        .orderBy(F.col(start_col).asc(), F.col(end_col).asc())
    )
    prev_max_end = F.max(end_col).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    is_break = F.when(
        prev_max_end.isNull() | (F.col(start_col) > prev_max_end),
        F.lit(1),
    ).otherwise(F.lit(0))
    with_island = base.select(
        *by,
        F.col(start_col),
        F.col(end_col),
        F.sum(is_break).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("__island"),
    )
    return (
        with_island.groupBy(*by, "__island")
        .agg(
            F.min(start_col).alias(start_col),
            F.max(end_col).alias(end_col),
            F.count(F.lit(1)).alias("n_merged"),
        )
        .drop("__island")
    )


def range_lookup(
    facts: DataFrame,
    ranges: DataFrame,
    value_col: str,
    start_col: str,
    end_col: str,
    suffixes: Tuple[str, str] = ("_x", "_y"),
    strategy: str = "auto",
    num_bands: int = 64,
) -> DataFrame:
    """Point-in-range enrichment — the GeoIP/CIDR/tariff-table shape:
    each fact row's ``value_col`` looked up against a dimension of
    closed ``[start_col, end_col]`` ranges.  A point is a degenerate
    interval, so this is :func:`overlap_join` with the fact side's
    start == end — the span banding gives the scalable plan (facts
    hash to their value's band, ranges explode only to the bands they
    cover), and AQE broadcasts a dimension-sized range table.

    At 100 TB of facts against a ~1M-row range dim, the fact side
    shuffles once on band id (or not at all when the exploded dim
    broadcasts); nothing is ever facts × ranges.  Matches every
    covering range (overlapping dims return multiple rows — dedupe
    the dim first if ranges must be disjoint).
    """
    if value_col not in facts.columns:
        raise ValueError(f"column {value_col!r} not found in facts")
    probe = "__rl_point"
    if probe in facts.columns:
        raise ValueError(f"column {probe!r} already exists in facts")
    out = overlap_join(
        facts.withColumn(probe, F.col(value_col)),
        ranges,
        value_col,
        probe,
        start_col,
        end_col,
        suffixes=suffixes,
        strategy=strategy,
        num_bands=num_bands,
    )
    drop = probe if probe in out.columns else probe + suffixes[0]
    return out.drop(drop)
