"""Theta join: inner join on an arbitrary boolean condition over one
column pair — the generalization of an equi-join.

Spark-first re-expression of the reference's ``theta_join``
(``pandance/pandance.py:331-566``).  The reference runs an O(n*m)
nested loop — one task per probe row, each mapping the condition over
the whole other column — parallelized with ``multiprocessing.Pool``
above a row threshold (``pandance/pandance.py:528-547``).

In Spark the same semantics is a ``crossJoin`` + ``filter`` plan and
the parallelism question disappears (Catalyst plans a
BroadcastNestedLoopJoin or a partitioned CartesianProduct; AQE sizes
it at runtime).  What matters here is *how the condition executes*:

- **Column fast path** (preferred): if the user's ``condition`` applied
  to two ``pyspark.sql.Column`` objects yields a ``Column`` (e.g.
  ``lambda x, y: x % 32 == y % 32``), the predicate stays JVM-side
  inside whole-stage codegen — Catalyst can even turn it back into an
  equi-join when the condition is an equality of derived keys.
- **Pandas-UDF slow path**: a genuinely scalar Python callable (e.g.
  one using ``math.isclose``) is wrapped in an Arrow-batched
  ``pandas_udf`` — the per-pair Python call survives, but data transfer
  is vectorized.  This is the analog of the reference's per-row
  ``map`` (``pandance/pandance.py:569-584``), and like the reference's
  ``_safe_condition`` (``pandance/pandance.py:519-526``) it converts
  ``decimal.InvalidOperation`` into a non-match instead of failing.

Parameter parity notes: ``n_processes`` and ``par_threshold``
(reference ``pandance/pandance.py:352-360``) are accepted and ignored —
they configure a process pool that has no analog on a distributed
planner.  ``relation`` is the reference's deprecated alias for
``condition`` (``pandance/pandance.py:495-503``) and is kept with the
same DeprecationWarning.
"""

from __future__ import annotations

import decimal
import warnings
from typing import Callable, Optional, Tuple, Union

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pandance_spark._kernel import (
    apply_suffixes,
    resolve_join_columns,
    spread_partitions,
)

__all__ = ["theta_join"]

ConditionType = Union[Column, Callable]


def theta_join(
    left: DataFrame,
    right: DataFrame,
    condition: Optional[ConditionType] = None,
    on: Optional[str] = None,
    left_on: Optional[str] = None,
    right_on: Optional[str] = None,
    suffixes: Tuple[str, str] = ("_x", "_y"),
    n_processes: Optional[int] = None,
    par_threshold: int = 10000,
    relation: Optional[Callable] = None,
) -> DataFrame:
    """Inner join rows where ``condition(left[left_on], right[right_on])``.

    ``condition`` may be:

    - a callable over two ``pyspark.sql.Column``s returning a ``Column``
      (fast path — pure Catalyst, codegen'd, optimizable);
    - a callable over two scalars returning ``bool`` (slow path — Arrow
      pandas_udf over the cross join);
    - a ready-made ``Column`` (advanced: build it yourself from the two
      frames' columns *after* suffixing — prefer the callable forms).

    Plan-time probe caveat: to pick between the two callable paths,
    ``theta_join`` CALLS ``condition`` once with Column arguments while
    BUILDING the plan (not per row).  A condition with side effects
    (logging, counters, appending to state) runs them at that moment —
    and, if it raises one of the probe-swallowed error types mid-way,
    may have run them partially before being demoted to the pandas
    path.  Keep conditions pure; side effects belong outside the join.

    API parity with reference ``theta_join``
    (``pandance/pandance.py:331-566``).
    """
    if relation is not None:
        warnings.warn(
            "`relation` is deprecated, use `condition`", DeprecationWarning
        )
        if condition is None:
            condition = relation
    if condition is None:
        raise ValueError("a `condition` is required")
    if n_processes is not None:
        warnings.warn(
            "`n_processes`/`par_threshold` have no effect: Spark plans the "
            "parallelism (spark.sql.shuffle.partitions, AQE)",
            UserWarning,
        )
    left_on, right_on = resolve_join_columns(left, right, on, left_on, right_on)
    left2, right2, lmap, rmap = apply_suffixes(left, right, suffixes)
    lcol, rcol = lmap[left_on], rmap[right_on]
    out_cols = [*left2.columns, *right2.columns]

    pred, is_udf = _build_predicate(condition, left2[lcol], right2[rcol])
    if is_udf:
        # python-predicate path: cross-join parallelism equals the
        # stream side's partition count — fan a narrow input out first
        left2 = spread_partitions(left2)
    joined = left2.crossJoin(right2)
    pred_type = joined.select(pred.alias("__pred")).schema[0].dataType
    if not isinstance(pred_type, T.BooleanType):
        raise TypeError(
            "theta_join condition must be boolean; got a "
            f"{pred_type.simpleString()} expression — comparisons like "
            "`lambda x, y: abs(x - y) <= t` return booleans, bare "
            "arithmetic does not"
        )
    return joined.filter(pred).select(*out_cols)


def _build_predicate(condition: ConditionType, lcol: Column, rcol: Column):
    """Returns (predicate Column, is_python_udf)."""
    if isinstance(condition, Column):
        return condition, False
    # try the Column fast path: many scalar lambdas (arithmetic,
    # comparisons, abs, %) are polymorphic and work on Columns directly.
    # Only the errors that mean "this callable is not Column-polymorphic"
    # (unsupported operation / bad duck-typing on the Column object)
    # demote to the pandas_udf path — anything else is a real bug in the
    # user's condition and must surface, not silently degrade.
    try:
        candidate = condition(lcol, rcol)
        if isinstance(candidate, Column):
            return candidate, False
    except (TypeError, ValueError, AttributeError):
        pass
    return _python_predicate(condition)(lcol, rcol), True


def _python_predicate(condition: Callable):
    """Wrap a scalar Python condition as an Arrow-batched pandas_udf.

    Guard semantics mirror reference ``_safe_condition``
    (``pandance/pandance.py:519-526``): ``decimal.InvalidOperation``
    (e.g. NaN comparisons under a decimal context) means "no match",
    not an error.
    """

    @F.pandas_udf(T.BooleanType())
    def _cond(xs: pd.Series, ys: pd.Series) -> pd.Series:
        # try the whole Arrow batch at once first: numpy-style conditions
        # (ufunc arithmetic, comparisons) vectorize ~100x over the loop
        try:
            res = condition(xs, ys)
            if isinstance(res, pd.Series) and res.dtype == bool and len(res) == len(xs):
                return res
            import numpy as np

            if isinstance(res, np.ndarray) and res.dtype == bool and len(res) == len(xs):
                return pd.Series(res, index=xs.index)
        except Exception:
            pass

        def safe(x, y):
            try:
                return bool(condition(x, y))
            except decimal.InvalidOperation:
                return False

        return pd.Series(
            [safe(x, y) for x, y in zip(xs, ys)], index=xs.index, dtype=bool
        )

    return _cond
