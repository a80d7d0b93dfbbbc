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
on bucket id followed by the exact ``abs(l - r) <= tol`` filter finds
every match with shuffle-parallel, output-proportional work — no
interval tree, no O(n*m) scan.

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
- ``"band"`` (the scalable default): bucket equi-join described above.
- ``"range"``: plain conditional join
  ``right BETWEEN left - tol AND left + tol`` — BroadcastNestedLoopJoin
  under Catalyst; optimal when one side is broadcast-sized and used as
  the in-repo oracle for the band form.
- ``"auto"``: plan-statistics pick between the two.
"""

from __future__ import annotations

from typing import Optional, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pandance_spark._kernel import (
    as_instant,
    apply_suffixes,
    finite_filter,
    likely_shuffle_join,
    nested_loop_sized,
    resolve_join_columns,
    sampled_hot_keys,
    tolerance_to_micros,
    two_sided_minmax,
    validate_fuzzy_types,
    validate_tol_value,
)

__all__ = ["fuzzy_join"]

# bucket neighborhood half-width: mathematically +-1 suffices (real
# arithmetic), +-2 absorbs any floating-point rounding of v/tol at
# bucket boundaries (double division + floor can be off by one ulp).
_BUCKET_MARGIN = 2

# operating range of the band strategy: floor(v/tol) in double has
# absolute error ~|v/tol| * 2^-53, so once |v|/tol approaches 2^53 the
# bucket id can be off by MORE than the +-2 margin and matches would be
# silently dropped (mirrors the reference's large-value/small-tolerance
# caveat).  2^51 leaves a 4x safety factor; beyond it fuzzy_join falls
# back to the exact range strategy when the quotient is detectable
# (disjoint_fast_path on, the default) — with the fast path disabled the
# caller owns the contract.
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
    disjoint_fast_path: bool = True,
    skew_salting: str = "auto",
) -> DataFrame:
    """Inner join rows whose join values differ by at most ``tol``.

    API parity with reference ``fuzzy_join``
    (``pandance/pandance.py:22-208``): same parameter names and
    defaults (``tol=1e-3``, ``suffixes=('_x', '_y')``); ``strategy``
    and ``skew_salting`` are Spark-side extensions.

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
        # validate BEFORE any fast path so a typo raises regardless of
        # whether the data happens to short-circuit
        raise ValueError(f"unknown strategy {strategy!r}")
    if skew_salting not in ("auto", "always", "never"):
        raise ValueError(f"unknown skew_salting {skew_salting!r}")
    left_on, right_on = resolve_join_columns(left, right, on, left_on, right_on)
    ltype = left.schema[left_on].dataType
    rtype = right.schema[right_on].dataType
    mode = validate_fuzzy_types(ltype, rtype, tol)
    validate_tol_value(tol)

    left = finite_filter(left, left_on)
    right = finite_filter(right, right_on)
    left2, right2, lcol, rcol = apply_suffixes(
        left, right, left_on, right_on, suffixes
    )
    out_cols = [*left2.columns, *right2.columns]

    if mode == "timestamp":
        tol_us = tolerance_to_micros(tol)
        lval = F.unix_micros(as_instant(left2[lcol]))
        rval = F.unix_micros(as_instant(right2[rcol]))
        tol_lit = F.lit(tol_us)
        bucket_width = float(tol_us)
    else:
        # decimal columns: the exact predicate runs in decimal
        # arithmetic; only the bucket id uses a double approximation
        # (the +-2 explode margin absorbs that rounding)
        tol_lit = F.lit(tol)
        bucket_width = float(tol)
        lval, rval = left2[lcol], right2[rcol]

    exact = F.abs(lval - rval) <= tol_lit

    if disjoint_fast_path:
        tol_cmp = tol_us if mode == "timestamp" else tol
        fast, max_abs = _try_fuzzy_fast_path(
            left2, right2, lval, rval, tol_cmp, out_cols
        )
        if fast is not None:
            return fast
        # extreme |v|/tol overflows the +-2 bucket margin: band would
        # silently DROP matches.  auto falls back to the exact range
        # join (correct, possibly slow); an explicitly requested band
        # is a contract violation -> raise rather than silently run an
        # unbounded nested-loop plan in its place.
        if (
            max_abs is not None
            and bucket_width > 0.0
            and float(max_abs) / bucket_width > _MAX_BUCKET_QUOTIENT
        ):
            if strategy == "band":
                raise ValueError(
                    "band strategy out of operating range: |value|/tol "
                    f"~ {float(max_abs) / bucket_width:.2e} exceeds 2^51, "
                    "floor(v/tol) in double would drop matches; use "
                    "strategy='range' (exact) or rescale the values"
                )
            strategy = "range"

    if strategy == "auto":
        # the range form is a nested-loop join — only sane when the
        # smaller side is dimension-table sized; the band form is a
        # hash join and safe at any scale
        strategy = "range" if nested_loop_sized(left2, right2) else "band"
    if strategy == "range" or bucket_width == 0.0:
        # tol == 0 degenerates to an exact equi-join on the value
        if bucket_width == 0.0:
            return (
                left2.join(right2, lval == rval, "inner").select(*out_cols)
            )
        return left2.join(right2, exact, "inner").select(*out_cols)

    # band-bucketed equi-join ------------------------------------------------
    lbucket = F.floor(lval.cast("double") / F.lit(bucket_width))
    rbucket = F.floor(rval.cast("double") / F.lit(bucket_width))
    lb = left2.withColumn("__bucket", lbucket)
    rb = right2.withColumn(
        "__bucket",
        F.explode(
            F.array(
                *[
                    rbucket + F.lit(i)
                    for i in range(-_BUCKET_MARGIN, _BUCKET_MARGIN + 1)
                ]
            )
        ),
    )

    hot_l = hot_r = {}
    if skew_salting == "always" or (
        skew_salting == "auto" and likely_shuffle_join(left2, right2)
    ):
        hot_l = sampled_hot_keys(left2, lbucket)
        hot_r = sampled_hot_keys(right2, rbucket)
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
    if hot_l or hot_r:
        return _salted_bucket_join(
            lb, rb, hot_l, hot_r, exact, out_cols
        )
    joined = lb.join(rb, "__bucket", "inner").filter(exact)
    return joined.select(*out_cols)


def _salt_count(hot: dict) -> Column:
    """CASE expression mapping __bucket to its salt count (1 if cold)."""
    expr = F.lit(1)
    for b, s in hot.items():
        expr = F.when(F.col("__bucket") == F.lit(b), F.lit(s)).otherwise(expr)
    return expr


def _salted_bucket_join(
    lb: DataFrame,
    rb: DataFrame,
    hot_l: dict,
    hot_r: dict,
    exact: Column,
    out_cols,
) -> DataFrame:
    """Two-sided salt-cell join for hot buckets (identical result set).

    For bucket ``b`` with ``S_l`` left salts and ``S_r`` right salts,
    the (left x right) work splits into ``S_l * S_r`` cells: each side
    scatters its own rows by a whole-row hash over its own salt space
    and replicates across the OTHER side's salt space, so each (l, r)
    pair meets in exactly one cell.  Replication cost is bounded and
    targeted — left rows replicate ``S_r(b)``-fold only inside
    hot-RIGHT buckets (and vice versa); cold buckets have
    ``S_l = S_r = 1`` and behave exactly as the unsalted join.  When
    only one side is hot this degenerates to classic one-sided
    salting.  AQE cannot do this: a fat bucket is one join KEY, and
    partition-splitting never subdivides a key.
    """
    sl_n, sr_n = _salt_count(hot_l), _salt_count(hot_r)
    lbs = lb.withColumn(
        "__salt_l",
        F.pmod(F.xxhash64(F.struct(*[lb[c] for c in lb.columns])), sl_n),
    ).withColumn("__salt_r_t", F.explode(F.sequence(F.lit(0), sr_n - 1)))
    rbs = rb.withColumn(
        "__salt_r",
        F.pmod(F.xxhash64(F.struct(*[rb[c] for c in rb.columns])), sr_n),
    ).withColumn("__salt_l_t", F.explode(F.sequence(F.lit(0), sl_n - 1)))
    joined = lbs.join(
        rbs,
        (lbs["__bucket"] == rbs["__bucket"])
        & (lbs["__salt_l"] == rbs["__salt_l_t"])
        & (lbs["__salt_r_t"] == rbs["__salt_r"]),
        "inner",
    ).filter(exact)
    return joined.select(*out_cols)


def _try_fuzzy_fast_path(
    left: DataFrame,
    right: DataFrame,
    lval: Column,
    rval: Column,
    tol_cmp,
    out_cols,
) -> Tuple[Optional[DataFrame], object]:
    """Range pre-check mirroring the reference's always-on ineq
    short-circuit (``pandance/pandance.py:792-807``) adapted to
    tolerance matching: if the value ranges are further than ``tol``
    apart the result is empty; if the combined span fits within ``tol``
    every pair matches (full cross product).  One min/max aggregate
    over both sides — metadata-scale work.  NaN/Inf/NULL are already
    filtered.  Returns ``(result_or_None, max_abs_value_or_None)``; the
    second element feeds the band-strategy operating-range check."""
    lstat, rstat = two_sided_minmax(left, lval, right, rval)
    if lstat["lo"] is None or rstat["lo"] is None:
        return left.join(right, F.lit(False), "inner").select(*out_cols), None
    try:
        max_abs = max(
            abs(lstat["lo"]), abs(lstat["hi"]), abs(rstat["lo"]), abs(rstat["hi"])
        )
    except TypeError:
        max_abs = None
    try:
        gap = max(rstat["lo"] - lstat["hi"], lstat["lo"] - rstat["hi"])
        span = max(lstat["hi"], rstat["hi"]) - min(lstat["lo"], rstat["lo"])
        if gap > tol_cmp:
            return (
                left.join(right, F.lit(False), "inner").select(*out_cols),
                max_abs,
            )
        if span <= tol_cmp:
            return left.crossJoin(right).select(*out_cols), max_abs
    except TypeError:
        return None, max_abs
    return None, max_abs
