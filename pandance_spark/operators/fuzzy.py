"""Fuzzy join: inner join on ``abs(left[left_on] - right[right_on]) <= tol``.

Spark-first re-expression of the reference's ``fuzzy_join``
(``pandance/pandance.py:22-208``).  The reference builds an in-memory
interval tree of ``[x - tol, x + tol)`` intervals over the longer column
and probes it with the shorter one (``pandance/pandance.py:211-240``).
An interval tree is a single-machine index; the distributed substitute
is a **band-bucketed equi-join**:

    bucket(v) = floor(v / tol)

A pair with ``|l - r| <= tol`` must land in the same or an adjacent
bucket, so exploding one side to its neighboring buckets and hash-joining
on bucket id followed by the exact ``|l - r| <= tol`` filter finds
every match with shuffle-parallel, output-proportional work — no
interval tree, no O(n*m) scan.  The explode, the equi-join, the hot-
bucket salt cells and the filter are the shared band equi-join of the
band planners (:func:`pandance_spark._kernel.band_equijoin`); this
module supplies the bucket ids, the ±2 span, the sampled hot buckets
and the exact predicate.

Semantics mirrored from the reference (SURVEY.md §1):
- inclusive tolerance: ``<= tol`` exactly (the reference's epsilon
  widening at ``pandance/pandance.py:185-191,216-221`` is an artifact of
  its interval library's half-open intervals and is intentionally NOT
  replicated; the documented contract ``pandance/pandance.py:28-29``
  is ``<= tol``);
- NaN / +-Inf / NULL join values silently dropped from both sides
  (``pandance/pandance.py:296-312``);
- numeric columns need a numeric tolerance; timestamp columns need a
  timedelta tolerance; mixed sides raise TypeError
  (``pandance/pandance.py:265-298``);
- both join columns kept, colliding names suffixed, left-then-right
  column order (``pandance/pandance.py:204-207``);
- empty inputs return an empty result with the FULL suffixed schema
  (deliberate deviation from the reference's join-columns-only frame —
  and from its empty-input IndexError crash; SURVEY.md §4 quirks 1-2).

Strategies
----------
- ``"band"`` (the scalable default): bucket equi-join described above,
  over the rows inside its ``|v|/tol <= 2^51`` operating bound.  Rows
  past the bound take an exact broadcast branch, routed per row with
  no statistics job, so no magnitude loses matches.  Unlike the
  reference's ``ineq_join`` there is no min/max fast path.
- ``"range"``: plain conditional join on the exact predicate
  ``try_subtract(l, r) BETWEEN -tol AND tol`` — BroadcastNestedLoopJoin
  under Catalyst; optimal when one side is broadcast-sized and used as
  the in-repo oracle for the band form.
- ``"auto"``: plan-statistics pick between the two.
"""

from __future__ import annotations

from typing import Optional, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pandance_spark._kernel import (
    as_instant,
    apply_suffixes,
    band_equijoin,
    finite_filter,
    likely_shuffle_join,
    nested_loop_sized,
    resolve_join_columns,
    sampled_hot_keys,
    tolerance_to_micros,
    validate_fuzzy_types,
    validate_tol_value,
)

__all__ = ["fuzzy_join"]

# bucket neighborhood half-width: mathematically +-1 suffices (real
# arithmetic), +-2 absorbs any floating-point rounding of v/tol at
# bucket boundaries (double division + floor can be off by one ulp).
_BUCKET_MARGIN = 2

# operating bound of the band strategy: floor(v/tol) in double has
# absolute error ~|v/tol| * 2^-53, so once |v|/tol approaches 2^53 the
# bucket id can be off by MORE than the +-2 margin (mirrors the
# reference's large-value/small-tolerance caveat).  2^51 leaves a 4x
# safety factor.  There is no fuzzy fast path and no min/max job:
# every row past the bound is routed to the exact branch of _route,
# so matches are never lost and no bucket id is computed for it.
_MAX_BUCKET_QUOTIENT = float(1 << 51)


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    on: Optional[str] = None,
    left_on: Optional[str] = None,
    right_on: Optional[str] = None,
    tol=1e-3,
    suffixes: Tuple[str, str] = ("_x", "_y"),
    strategy: str = "auto",
    skew_salting: str = "auto",
) -> DataFrame:
    """Inner join rows whose join values differ by at most ``tol``.

    API parity with reference ``fuzzy_join``
    (``pandance/pandance.py:22-208``): same parameter names and
    defaults (``tol=1e-3``, ``suffixes=('_x', '_y')``); ``strategy``
    and ``skew_salting`` are Spark-side extensions.

    Like the reference, there is no min/max short-circuit: building
    the plan runs no Spark job.  The band strategy is correct at every
    magnitude — rows with ``|v|/tol`` past its 2^51 operating bound
    take an exact broadcast branch instead (:func:`_route`), and a
    difference that overflows the value type counts as beyond ``tol``.

    ``skew_salting``: a value carrying a large share of one side's
    rows puts that whole share into ONE bucket key, which one reducer
    must process alone — AQE splits oversized partitions, never a
    single key.  ``'auto'`` pays one bounded sampled pass per side
    (:func:`pandance_spark._kernel.sampled_hot_keys`) to find such
    buckets and salt-splits them, but only when neither side can
    broadcast (a broadcast join has no per-bucket reducer, and the
    detection pass + salt machinery would be pure overhead — so small
    joins are untouched).  ``'always'`` forces detection+salting,
    ``'never'`` disables it.  The result set is identical in every
    mode.
    """
    if strategy not in ("auto", "band", "range"):
        raise ValueError(f"unknown strategy {strategy!r}")
    if skew_salting not in ("auto", "always", "never"):
        raise ValueError(f"unknown skew_salting {skew_salting!r}")
    left2, right2, out_cols, lval, rval, exact, bucket_width = _prepare(
        left, right, on, left_on, right_on, tol, suffixes
    )

    if strategy == "auto":
        # the range form is a nested-loop join — only sane when the
        # smaller side is dimension-table sized; the band form is a
        # hash join and safe at any scale
        strategy = "range" if nested_loop_sized(left2, right2) else "band"
    if bucket_width == 0.0:
        # tol == 0 degenerates to an exact equi-join on the value
        return left2.join(right2, lval == rval, "inner").select(*out_cols)
    if strategy == "range":
        return left2.join(right2, exact, "inner").select(*out_cols)

    # band-bucketed equi-join over the in-range rows -------------------------
    left_safe, right_safe, out_of_range = _route(
        left2, right2, lval, rval, bucket_width, exact, out_cols
    )
    lb, rb = _bucket(lval, bucket_width), _bucket(rval, bucket_width)
    hot_l = hot_r = {}
    if skew_salting == "always" or (
        skew_salting == "auto" and likely_shuffle_join(left2, right2)
    ):
        hot_l = sampled_hot_keys(left_safe, lb)
        hot_r = sampled_hot_keys(right_safe, rb)
    if hot_r:
        # a hot right VALUE explodes into its ±margin neighbor buckets,
        # so every one of those bucket keys receives the full hot mass;
        # overlapping expansions keep the LARGEST salt count (two hot
        # values within 2*margin of each other must not clobber the
        # fatter one's split down to the thinner one's)
        expanded: dict = {}
        for b, s in hot_r.items():
            for i in range(-_BUCKET_MARGIN, _BUCKET_MARGIN + 1):
                k = b + i
                expanded[k] = max(expanded.get(k, 0), s)
        hot_r = expanded
    # each left row sits in its own bucket; each right row spans the
    # buckets within ±margin of its own, so a pair within tol shares one
    band = band_equijoin(
        left_safe,
        right_safe,
        (lb, lb),
        (rb - _BUCKET_MARGIN, rb + _BUCKET_MARGIN),
        lambda _band: exact,
        hot_l,
        hot_r,
    )
    return band.select(*out_cols).unionAll(out_of_range)


def _prepare(left, right, on, left_on, right_on, tol, suffixes):
    """The validated, NaN/Inf/NULL-filtered and suffixed inputs of a
    fuzzy join with the views its predicate runs on: ``(left2, right2,
    out_cols, lval, rval, exact, width)``.  Timestamps compare as epoch
    microseconds against a microsecond ``width``; numbers compare as
    themselves (decimals stay exact; only the bucket id and the routing
    use a double view), integers narrower than long widened so their
    difference cannot overflow.  Batch and streaming fuzzy joins both
    start here."""
    left_on, right_on = resolve_join_columns(left, right, on, left_on, right_on)
    ltype = left.schema[left_on].dataType
    rtype = right.schema[right_on].dataType
    mode = validate_fuzzy_types(ltype, rtype, tol)
    validate_tol_value(tol)
    left2, right2, lmap, rmap = apply_suffixes(
        finite_filter(left, left_on), finite_filter(right, right_on), suffixes
    )
    lval, rval = left2[lmap[left_on]], right2[rmap[right_on]]
    if mode == "timestamp":
        lval, rval = F.unix_micros(as_instant(lval)), F.unix_micros(as_instant(rval))
        tol = tolerance_to_micros(tol)
    narrow = (T.ByteType, T.ShortType, T.IntegerType)
    if isinstance(ltype, narrow):
        lval = lval.cast("long")
    if isinstance(rtype, narrow):
        rval = rval.cast("long")
    out_cols = [*left2.columns, *right2.columns]
    return left2, right2, out_cols, lval, rval, _exact(lval, rval, tol), float(tol)


def _exact(lval: Column, rval: Column, tol) -> Column:
    """The exact predicate ``|l - r| <= tol``, written so it cannot
    raise: a difference that overflows its type is NULL, and such a
    difference is necessarily larger than ``tol``.  Every fuzzy plan,
    batch and streaming, filters with it."""
    return F.try_subtract(lval, rval).between(F.lit(-tol), F.lit(tol))


def _route(
    left: DataFrame,
    right: DataFrame,
    lval: Column,
    rval: Column,
    width: float,
    exact: Column,
    out_cols,
) -> Tuple[DataFrame, DataFrame, DataFrame]:
    """Route each row by its own magnitude, with no statistics job.

    With the bound ``B = _MAX_BUCKET_QUOTIENT * width`` (compared on
    the double view of the value), rows with ``|v| <= B`` are returned
    as ``(left_safe, right_safe)`` for the band join.  The third frame
    is the exact branch: the rows near or past ``B`` on each side,
    right side broadcast, joined on ``exact`` for pairs with at least
    one row past ``B``.  A matching row is within ``width`` of its
    partner, so ``B - 2 * width`` keeps every partner of a row past
    ``B`` (one ``width`` of slack absorbs the double rounding).  A pair
    of in-range rows only matches in the band join, so the union of
    the two holds each pair once.  Batch and streaming fuzzy joins
    both route here; in streaming the broadcast side is the static
    one.
    """
    bound = _MAX_BUCKET_QUOTIENT * width

    def mag(v: Column) -> Column:
        return F.abs(v.cast("double"))

    near = bound - 2 * width
    exact_branch = (
        left.filter(mag(lval) > near)
        .join(
            F.broadcast(right.filter(mag(rval) > near)),
            exact & ((mag(lval) > bound) | (mag(rval) > bound)),
            "inner",
        )
        .select(*out_cols)
    )
    return (
        left.filter(mag(lval) <= bound),
        right.filter(mag(rval) <= bound),
        exact_branch,
    )


def _bucket(v: Column, width: float) -> Column:
    """Bucket id ``floor(v / width)`` over the double view of ``v``."""
    return F.floor(v.cast("double") / F.lit(width))
