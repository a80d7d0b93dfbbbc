"""Shared kernel for all pandance_spark join operators.

Re-expresses the reference's shared plumbing (column-name resolution,
suffix semantics, non-finite filtering, dtype validation) as Spark-side
helpers.  Reference behavior being mirrored:

- ``_validate_input_col_names`` (reference ``pandance/pandance.py:920-928``):
  resolve ``on`` vs ``left_on``/``right_on``; single-column keys only.
- pandas ``join(lsuffix, rsuffix)`` semantics (reference
  ``pandance/pandance.py:207,563-565,832-843``): ONLY colliding column
  names get suffixed; both join columns are kept in the output; column
  order is left-columns-then-right-columns.
- NaN/Inf/null drop for fuzzy joins (reference
  ``pandance/pandance.py:296-312``).
- fuzzy dtype validation matrix (reference ``pandance/pandance.py:265-298``):
  numeric columns need a numeric tolerance, timestamp columns need a
  timedelta tolerance, mixed numeric/timestamp sides are a ``TypeError``.

Deliberate deviations (documented in SURVEY.md §4 "quirks"):
- empty inputs / fast paths return the FULL suffixed schema, not the
  reference's join-columns-only frame;
- no epsilon widening: the match predicate is exactly ``<= tol``.
"""

from __future__ import annotations

import datetime as _dt
import math
import numbers
import re as _re
from typing import Callable, Optional, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

try:  # PySpark >= 3.4 typed error classes
    from pyspark.errors import (
        AnalysisException,
        IllegalArgumentException,
        PySparkTypeError,
        PySparkValueError,
    )

    # The errors the quantile aggregate (quantile_cuts) raises when a
    # column CANNOT be quantiled (unsupported type, bad column,
    # client-side validation).  Band/bucket planners catch exactly
    # these to fall back to a non-banded plan; execution errors
    # (SparkException, Py4J) must propagate — a silent fallback would
    # swap a transient failure for an O(n*m) plan at 100 TB.
    QUANTILE_UNSUPPORTED = (
        AnalysisException,
        IllegalArgumentException,
        PySparkTypeError,
        PySparkValueError,
        TypeError,
        ValueError,
    )
except ImportError:  # pragma: no cover - very old pyspark
    QUANTILE_UNSUPPORTED = (TypeError, ValueError)

__all__ = [
    "resolve_join_columns",
    "apply_suffixes",
    "finite_filter",
    "validate_fuzzy_types",
    "tolerance_to_micros",
    "is_numeric_type",
    "is_timestamp_type",
    "as_instant",
    "numeric_view",
    "sql_literal",
    "band_id",
    "spread_partitions",
    "likely_shuffle_join",
    "sampled_hot_keys",
    "stage_expr",
]

_NUMERIC_TYPES = (
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
    T.DecimalType,
)

_TIMESTAMP_TYPES: tuple = (T.TimestampType, T.DateType)
if hasattr(T, "TimestampNTZType"):  # Spark >= 3.4
    _TIMESTAMP_TYPES = (T.TimestampType, T.TimestampNTZType, T.DateType)


def is_numeric_type(dtype: T.DataType) -> bool:
    return isinstance(dtype, _NUMERIC_TYPES)


def is_timestamp_type(dtype: T.DataType) -> bool:
    return isinstance(dtype, _TIMESTAMP_TYPES)


def as_instant(col: Column) -> Column:
    """Cast a timestamp-ish column to the LTZ ``TimestampType`` so
    ``unix_micros`` accepts it.  The Python type object is used instead of
    the ``"timestamp"`` DDL string because under
    ``spark.sql.timestampType=TIMESTAMP_NTZ`` the string resolves to NTZ
    (which ``unix_micros`` rejects), while ``T.TimestampType()`` is always
    the instant type.  NTZ->LTZ interprets the naive value in the session
    timezone; every caller only compares/differences instants from the same
    source family, so the interpretation cancels.
    """
    return col.cast(T.TimestampType())


def numeric_view(col: Column, dtype: T.DataType) -> Column:
    """Orderable numeric view of a numeric or timestamp column: epoch
    microseconds for timestamps and dates, else the value as double —
    what the band planners quantile and band on."""
    if is_timestamp_type(dtype):
        return F.unix_micros(as_instant(col))
    return col.cast("double")


def sql_literal(v) -> str:
    """Exact Spark SQL text for a cut or key value.  A double is its
    shortest round-trip ``repr`` cast from a string (which also spells
    ``inf``/``-inf``/``nan``); an integer is a BIGINT; a string is its
    UTF-8 bytes as a hex literal cast to STRING, so no quoting or
    escape rule applies."""
    if isinstance(v, float):  # float(): numpy's repr is not the value
        return f"CAST('{float(v)!r}' AS DOUBLE)"
    if isinstance(v, numbers.Integral) and not isinstance(v, bool):
        return f"CAST({int(v)} AS BIGINT)"
    if isinstance(v, str):
        return f"CAST(X'{str(v).encode('utf-8').hex()}' AS STRING)"
    raise TypeError(f"unsupported cut value type: {type(v).__name__}")


def salt_count(col_name: str, hot: dict) -> Column:
    """Salt count of each value of column ``col_name``: ``hot[key]`` for
    a hot key, 1 for every other value and for NULL.  ONE ``F.expr``
    CASE with the keys rendered by :func:`sql_literal`, so the plan
    costs a fixed number of driver calls however many keys are hot
    (the pattern of :func:`band_id`)."""
    if not hot:
        return F.lit(1)
    ref = "`" + col_name.replace("`", "``") + "`"
    whens = "".join(
        f" WHEN {ref} = {sql_literal(k)} THEN {int(s)}" for k, s in hot.items()
    )
    return F.expr(f"CASE{whens} ELSE 1 END")


def quantile_cuts(value: Column, num_bands: int) -> Column:
    """Aggregate: the ``num_bands - 1`` interior quantiles of a double
    column — bit for bit the DataFrame statistics quantiles at relative
    error 0.001: NaN (and NULL) left out, accuracy ``1 / 0.001``; NULL
    when no value is left.  The
    probabilities are one SQL array so the plan's driver calls do not
    grow with ``num_bands``.  The one quantile source of the band
    planners (ineq, overlap, asof)."""
    probs = ", ".join(sql_literal(i / num_bands) for i in range(1, num_bands))
    return F.percentile_approx(
        F.when(~F.isnan(value), value), F.expr(f"array({probs})"), 1000
    )


def band_id(df: DataFrame, value: Column, cuts, name: str) -> DataFrame:
    """Add column ``name`` = the number of ``cuts`` that are <= ``value``
    — ``bisect.bisect_right(cuts, value)`` for sorted cuts, under
    Spark's ordering (NaN sorts above every double, so it lands in band
    ``len(cuts)``).  ``cuts`` are Python floats or strs.

    A flat sum of CASE WHENs stays inside whole-stage codegen; it is
    deliberately NOT a higher-order function (outer-column references
    inside lambda bodies break Catalyst's constraint inference across
    the join).  It is ONE ``F.expr``, so a plan costs a fixed number of
    driver calls however many cuts there are, where the Column API pays
    several py4j round trips per cut.  Only the cuts become SQL text:
    ``value`` stays a Column, placed in ``name`` and read back from
    there, because a timestamp view spelt as SQL would re-resolve
    ``timestamp`` under ``spark.sql.timestampType`` (see
    :func:`as_instant`).
    """
    ref = "`" + name.replace("`", "``") + "`"
    terms = "".join(
        f" + CASE WHEN {ref} >= {sql_literal(c)} THEN 1 ELSE 0 END" for c in cuts
    )
    return df.withColumn(name, value).withColumn(name, F.expr("0" + terms))


def band_equijoin(
    left: DataFrame,
    right: DataFrame,
    lspan: Tuple[Column, Column],
    rspan: Tuple[Column, Column],
    keep: Callable[[Column], Column],
    hot_l: Optional[dict] = None,
    hot_r: Optional[dict] = None,
) -> DataFrame:
    """The banded equi-join of the band planners (fuzzy, ineq, overlap):
    partition both sides into band ids, equi-join on the band id, then
    verify each pair with ``keep``.

    Each span ``(lo, hi)`` is the inclusive range of integer band ids a
    row of that side occupies.  A one-band span (``lo is hi``) is used
    as it is; any other span is exploded to one row per band (none when
    ``lo > hi`` or a bound is NULL).  The sides join on ``__band`` (left)
    = ``__band_r`` (right), so a pair meets once in every band its two
    spans share, and ``keep(band)`` — handed the meeting band — is both
    the exact predicate and the rule for which meetings to keep.

    ``hot_l`` / ``hot_r`` map a meeting band to the number of salts the
    left / right rows in it are split over.  A band with ``S_l`` left and
    ``S_r`` right salts splits into ``S_l * S_r`` cells: each side
    scatters its rows over its own salts by a whole-row hash and
    replicates them across the other side's, so each pair meets in
    exactly one cell.  Cold bands have one salt per side and behave as
    the unsalted join; with one map empty this is one-sided salting.
    AQE cannot do this: a fat band is one join KEY, and partition
    splitting never subdivides a key.

    Returns the joined, filtered frame with every column of both sides
    plus the band and salt columns; callers select their output.
    """

    def banded(df: DataFrame, span, name: str) -> DataFrame:
        lo, hi = span
        if lo is hi:
            return df.withColumn(name, lo)
        return df.withColumn(name, F.explode(F.when(lo <= hi, F.sequence(lo, hi))))

    def scatter(df: DataFrame, salts: Column, name: str) -> DataFrame:
        row = F.struct(*[df[c] for c in df.columns])
        return df.withColumn(name, F.pmod(F.xxhash64(row), salts))

    def replicate(df: DataFrame, salts: Column, name: str) -> DataFrame:
        return df.withColumn(name, F.explode(F.sequence(F.lit(0), salts - 1)))

    lb, rb = banded(left, lspan, "__band"), banded(right, rspan, "__band_r")
    on = F.col("__band") == F.col("__band_r")
    # each side hashes its own rows before either side replicates
    if hot_l:
        lb = scatter(lb, salt_count("__band", hot_l), "__salt_l")
    if hot_r:
        rb = scatter(rb, salt_count("__band_r", hot_r), "__salt_r")
    if hot_l:
        rb = replicate(rb, salt_count("__band_r", hot_l), "__salt_l_t")
        on = on & (F.col("__salt_l") == F.col("__salt_l_t"))
    if hot_r:
        lb = replicate(lb, salt_count("__band", hot_r), "__salt_r_t")
        on = on & (F.col("__salt_r_t") == F.col("__salt_r"))
    return lb.join(rb, on, "inner").filter(keep(F.col("__band")))


def spread_partitions(df: DataFrame, cap: int = None) -> DataFrame:
    """Repartition up to the cluster's parallelism when the input scan
    would yield too few partitions (e.g. one small parquet file -> 1
    partition -> per-row pipelines and nested-loop streams run
    single-threaded).  A no-op for healthy inputs; at real scale file
    splitting already yields enough partitions and this never fires.

    Metadata-only inspection (``inputFiles`` + Catalyst plan stats) —
    deliberately NOT ``df.rdd.getNumPartitions()``, which forces a
    plan->RDD conversion per call (r1 verdict).  Non-file-backed plans
    are left untouched: their partitioning follows the parent stages.

    ``cap`` bounds the repartition target below the cluster
    parallelism.  Use it for Python-stage pipelines over many tiny
    rows (pack/decode fixtures): per-task Arrow+worker overhead is
    ~15-30 ms, so tasks need a few hundred rows each to amortize it —
    measured 1.09 s -> 0.50 s on the sf0.1 PNG fixture going from 32
    to 8 partitions.  At real scale file splitting yields big
    per-task row counts anyway and the cap is inert.

    Idempotent by plan inspection: once any shuffle-introducing node
    (repartition, join, aggregate, sort, window) sits above the scan,
    partitioning is no longer scan-bound — operators that nest
    ``spread_partitions`` calls (e.g. ``dedup_minhash`` ->
    ``minhash_candidates``) must not stack repartitions.
    """
    try:
        target = df.sparkSession.sparkContext.defaultParallelism
        if cap is not None:
            target = max(2, min(target, cap))
        files = df.inputFiles()
        if not files:
            return df
        plan_str = str(df._jdf.queryExecution().optimizedPlan().toString())
        # word-boundary match on NODE names: a bare substring test would
        # false-positive on column/alias names like `lastSortTs` or
        # `joinDate` appearing in the rendered plan
        if _re.search(
            r"\b(?:Repartition|RepartitionByExpression|Join|Aggregate|Sort|Window)\b",
            plan_str,
        ):
            return df
        sz = plan_size_bytes(df) or 0
        max_pb = parse_bytes_conf(
            df.sparkSession, "spark.sql.files.maxPartitionBytes", 128 << 20
        )
        # Spark splits big files itself; only a genuinely small scan
        # with few files benefits from a spread (and only then is the
        # extra shuffle trivially cheap)
        est_parts = max(len(files), sz // max_pb)
        if est_parts < max(target // 2, 2) and sz <= 8 * max_pb:
            return df.repartition(target)
    except Exception:
        pass
    return df


def plan_stats(df: DataFrame):
    """``(size_in_bytes, row_count)``: Catalyst's estimates for the
    optimized plan (no job runs), each ``None`` when unknown.  The ONE
    home of the private ``queryExecution().optimizedPlan().stats()``
    py4j chain — strategy pickers, the broadcast gate of the skew
    machinery, the scan spreader, the GEMM gate (dedup), output-
    partition planning (layout) and the cross-join memory estimate
    (``plans.mem``) all go through it, so a Spark upgrade that moves
    the API breaks exactly one site."""
    try:
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        rows = stats.rowCount()
        return (
            int(stats.sizeInBytes()),
            int(rows.get()) if rows.isDefined() else None,
        )
    except Exception:
        return None, None


def plan_size_bytes(df: DataFrame):
    """Catalyst size estimate of the optimized plan, in bytes; ``None``
    when statistics are unavailable (see :func:`plan_stats`)."""
    return plan_stats(df)[0]


def parse_bytes_conf(spark, key: str, default: int) -> int:
    """Spark byte-size conf value ('10m', '256kb', plain bytes) as int."""
    try:
        raw = str(spark.conf.get(key)).strip().lower()
        units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
        if raw.endswith("b") and raw[:-1] and raw[-2] in units:
            return int(raw[:-2]) * units[raw[-2]]
        if raw and raw[-1] in units:
            return int(raw[:-1]) * units[raw[-1]]
        return int(raw.rstrip("b"))
    except Exception:
        return default


# Max bytes of the SMALLER side for which a nested-loop join is still
# sane.  Deliberately much stricter than autoBroadcastJoinThreshold:
# broadcast feasibility (ship 10 MB) is not nested-loop feasibility
# (compare EVERY pair against it) — a 10 MB side is ~100k rows, and
# 100k x 1M comparisons is already a 1e11 disaster.  ~256 KB keeps the
# nested-loop path for genuine dimension tables (a few thousand rows).
BNL_MAX_BYTES = 256 * 1024


def nested_loop_sized(left: DataFrame, right: DataFrame) -> bool:
    """True when the smaller side's Catalyst size estimate (no job) is
    within ``min(autoBroadcastJoinThreshold, BNL_MAX_BYTES)`` — the
    test the strategy pickers of the band joins (ineq, fuzzy, overlap)
    use to prefer a plain conditional (nested-loop) join over their
    band plan.  Missing statistics count as big."""
    thr = parse_bytes_conf(
        left.sparkSession, "spark.sql.autoBroadcastJoinThreshold", 10 << 20
    )
    lsz, rsz = plan_size_bytes(left), plan_size_bytes(right)
    if lsz is None or rsz is None:
        return False
    return min(lsz, rsz) <= max(min(thr, BNL_MAX_BYTES), 0)


def likely_shuffle_join(left: DataFrame, right: DataFrame) -> bool:
    """True when a join of these frames is expected to SHUFFLE — i.e.
    neither side's Catalyst size estimate fits under
    ``spark.sql.autoBroadcastJoinThreshold``.  Unknown threshold or
    missing statistics count as 'will shuffle': at 100 TB the safe
    default is to assume no broadcast rescue.  Used to gate skew
    machinery that only pays off when a per-key reducer exists."""
    thr = parse_bytes_conf(
        left.sparkSession, "spark.sql.autoBroadcastJoinThreshold", -1
    )
    if thr <= 0:
        return True
    lsz, rsz = plan_size_bytes(left), plan_size_bytes(right)
    if lsz is None or rsz is None:
        return True
    return min(lsz, rsz) > thr


def sampled_hot_keys(
    df: DataFrame,
    key: Column,
    sample_cap: int = 100_000,
    min_share: float = 0.03,
    max_salts: int = 64,
    max_keys: int = 32,
    seed: int = 42,
):
    """Heavy-hitter join keys from ONE bounded sampled pass: order by a
    pseudo-random per-row hash and take the first ``sample_cap`` rows
    (TakeOrderedAndProject — per-partition top-K heaps, a hard driver
    bound), then count key multiplicities on the driver.  Returns
    ``{key_value: salt_count}`` for keys whose sampled share is at
    least ``min_share`` — the pre-flight :func:`skew_report` would
    run, shrunk to one bounded job so join operators can afford it at
    plan time.  ``salt_count`` scales with the observed share
    (``share * 64``, floor 2, cap ``max_salts``); at most ``max_keys``
    hottest keys are returned so the CASE expressions built from the
    dict stay small."""
    rows = (
        df.select(key.alias("__k"))
        .filter(F.col("__k").isNotNull())
        .orderBy(
            F.xxhash64(
                F.col("__k"), F.monotonically_increasing_id(), F.lit(seed)
            )
        )
        .limit(sample_cap)
        .collect()
    )
    n = len(rows)
    if n == 0:
        return {}
    from collections import Counter

    counts = Counter(r["__k"] for r in rows)
    hot = {}
    for k, c in counts.most_common(max_keys):
        share = c / n
        if share >= min_share:
            hot[k] = min(max_salts, max(2, int(share * 64)))
    return hot


def two_sided_minmax(left: DataFrame, lval, right: DataFrame, rval, rextra=None):
    """(min, max) of a join column on each side in ONE Spark job.

    Tag + union + grouped agg: still two scans, but a single job
    submission instead of two sequential ``.agg().first()`` round trips
    — ``ineq_join``'s disjoint fast path, its only caller, runs this
    before every join call, so the scheduling latency is on the
    operator's critical path (``fuzzy_join`` has no fast path).  The union
    analyzer widens mixed-but-comparable numeric/decimal types; if the
    types don't unify we fall back to two separate aggregations.

    ``rextra`` adds one more aggregate over the RIGHT side to the same
    job: a ``(value, agg)`` pair of a right-side Column and a function
    from a Column to an aggregate Column (ineq's quantile cuts).

    Returns ``(lstat, rstat)`` where each is a dict with ``lo``/``hi``
    (``None`` values when that side has no non-null rows); with
    ``rextra``, ``rstat["extra"]`` holds its result.
    """
    lcols = [lval.alias("__v"), F.lit(0).alias("__s")]
    rcols = [rval.alias("__v"), F.lit(1).alias("__s")]
    aggs = [F.min("__v").alias("lo"), F.max("__v").alias("hi")]
    if rextra is not None:
        xval, xagg = rextra
        lcols.append(F.lit(None).alias("__x"))
        rcols.append(xval.alias("__x"))
        aggs.append(xagg(F.col("__x")).alias("extra"))
    empty = {"lo": None, "hi": None, "extra": None}
    try:
        u = left.select(*lcols).unionByName(right.select(*rcols))
        rows = u.groupBy("__s").agg(*aggs).collect()
        stats = {r["__s"]: {**empty, **r.asDict()} for r in rows}
        return stats.get(0, empty), stats.get(1, empty)
    except Exception:
        # the types don't unify: at analysis, or under ANSI at run time
        # (int vs string widens to a cast that fails on the first row)
        lrow = left.select(lcols[0]).agg(*aggs[:2]).first()
        rrow = right.select(rcols[0], *rcols[2:]).agg(*aggs).first()
        return {**empty, **lrow.asDict()}, {**empty, **rrow.asDict()}


def resolve_join_columns(
    left: DataFrame,
    right: DataFrame,
    on: Optional[str],
    left_on: Optional[str],
    right_on: Optional[str],
) -> Tuple[str, str]:
    """Resolve ``on`` vs ``left_on``/``right_on`` into a concrete column pair.

    Mirrors reference ``_validate_input_col_names``
    (``pandance/pandance.py:920-928``): exactly one column per side,
    multi-column keys rejected, missing columns rejected.
    """
    if on is not None:
        left_on, right_on = on, on
    if left_on is None or right_on is None:
        raise ValueError(
            "join column not specified: pass `on` or both `left_on` and `right_on`"
        )
    for name, df, side in ((left_on, left, "left"), (right_on, right, "right")):
        if not isinstance(name, str):
            raise ValueError(
                f"{side} join key must be a single column name (str); "
                "multi-column keys are not supported"
            )
        if name not in df.columns:
            raise ValueError(f"column {name!r} not found in {side} DataFrame")
    return left_on, right_on


def apply_suffixes(
    left: DataFrame,
    right: DataFrame,
    suffixes: Tuple[str, str] = ("_x", "_y"),
) -> Tuple[DataFrame, DataFrame, dict, dict]:
    """Rename colliding column names with suffixes, pandas-join style.

    Only names present in BOTH inputs are suffixed (reference relies on
    pandas ``DataFrame.join(lsuffix=..., rsuffix=...)``, e.g.
    ``pandance/pandance.py:207``); a suffixed name that collides with an
    existing column raises.  Returns the two renamed frames plus, per
    side, the map from every input column name to its output name.
    """
    if not isinstance(suffixes, (tuple, list)) or len(suffixes) != 2:
        raise ValueError("suffixes must be a 2-tuple of strings")
    lsuf, rsuf = suffixes
    common = set(left.columns) & set(right.columns)
    if common and lsuf == rsuf:
        raise ValueError(
            f"columns {sorted(common)} collide and the two suffixes are equal; "
            "pass distinct suffixes"
        )

    lmap = {c: c + lsuf if c in common else c for c in left.columns}
    rmap = {c: c + rsuf if c in common else c for c in right.columns}
    out = [*lmap.values(), *rmap.values()]
    clash = sorted({n for n in out if out.count(n) > 1})
    if clash:
        raise ValueError(
            f"suffixed column name {clash[0]!r} collides with an existing column"
        )
    if common:
        left = left.withColumnsRenamed({c: lmap[c] for c in common})
        right = right.withColumnsRenamed({c: rmap[c] for c in common})
    return left, right, lmap, rmap


def finite_filter(df: DataFrame, col: str) -> DataFrame:
    """Drop rows whose join-column value is NULL, NaN or +/-Inf.

    Mirrors the reference's silent non-finite drop for fuzzy joins
    (``pandance/pandance.py:296-312``, ``_is_valid_value``).  This must be
    an explicit pre-filter in Spark because Spark's NaN semantics
    (NaN = NaN in joins) would otherwise *produce* matches the
    reference excludes (SURVEY.md §1).
    """
    dtype = df.schema[col].dataType
    c = F.col(col)
    cond = c.isNotNull()
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        cond = (
            cond
            & ~F.isnan(c)
            & (c != F.lit(float("inf")))
            & (c != F.lit(float("-inf")))
        )
    return df.filter(cond)


def validate_fuzzy_types(
    left_dtype: T.DataType, right_dtype: T.DataType, tol
) -> str:
    """Validate the fuzzy-join dtype/tolerance matrix; return the mode.

    Returns ``"numeric"`` or ``"timestamp"``.  Mirrors reference
    ``_def_validate_and_clean_inputs_to_fuzzy``
    (``pandance/pandance.py:265-298``): numeric join columns require a
    numeric tolerance, timestamp columns require a timedelta tolerance,
    mixed numeric/timestamp sides raise ``TypeError``.
    """
    l_num, r_num = is_numeric_type(left_dtype), is_numeric_type(right_dtype)
    l_ts, r_ts = is_timestamp_type(left_dtype), is_timestamp_type(right_dtype)
    if not ((l_num or l_ts) and (r_num or r_ts)):
        raise TypeError(
            f"fuzzy_join supports numeric and timestamp join columns; "
            f"got {left_dtype.simpleString()} / {right_dtype.simpleString()}"
        )
    if (l_num and r_ts) or (l_ts and r_num):
        raise TypeError(
            "cannot fuzzy-join a numeric column with a timestamp column "
            f"({left_dtype.simpleString()} vs {right_dtype.simpleString()})"
        )
    is_td_tol = _is_timedelta(tol)
    if l_ts and r_ts:
        if not is_td_tol:
            raise TypeError(
                "timestamp join columns require a timedelta tolerance "
                "(datetime.timedelta or pandas.Timedelta)"
            )
        return "timestamp"
    if is_td_tol:
        raise TypeError("numeric join columns require a numeric tolerance")
    if not isinstance(tol, (int, float)) and not _is_decimal(tol):
        try:
            float(tol)
        except (TypeError, ValueError):
            raise TypeError(f"unsupported tolerance type: {type(tol).__name__}")
    return "numeric"


def _is_timedelta(tol) -> bool:
    if isinstance(tol, _dt.timedelta):
        return True
    try:  # pandas.Timedelta subclasses datetime.timedelta, but be safe
        import pandas as pd

        if isinstance(tol, pd.Timedelta):
            return True
    except ImportError:  # pragma: no cover
        pass
    try:  # reference accepts np.timedelta64 (ToleranceType, pandance.py:261)
        import numpy as np

        return isinstance(tol, np.timedelta64)
    except ImportError:  # pragma: no cover
        return False


def _is_decimal(tol) -> bool:
    import decimal

    return isinstance(tol, decimal.Decimal)


def tolerance_to_micros(tol) -> int:
    """Convert a timedelta tolerance to integer microseconds."""
    try:
        import numpy as np

        if isinstance(tol, np.timedelta64):
            return int(tol / np.timedelta64(1, "us"))
    except ImportError:  # pragma: no cover
        pass
    if hasattr(tol, "value"):  # pandas.Timedelta: nanoseconds
        return int(tol.value) // 1000
    return int(tol / _dt.timedelta(microseconds=1))


def validate_tol_value(tol) -> None:
    """Reject negative / non-finite tolerances (reference leaves this
    undefined; a negative tolerance can never match ``abs(diff) <= tol``,
    so we fail fast instead of silently returning nothing)."""
    if _is_timedelta(tol):
        if tolerance_to_micros(tol) < 0:
            raise ValueError("tolerance must be non-negative")
        return
    import decimal

    if isinstance(tol, decimal.Decimal):
        if not tol.is_finite() or tol < 0:
            raise ValueError("tolerance must be finite and non-negative")
        return
    f = float(tol)
    if math.isnan(f) or math.isinf(f) or f < 0:
        raise ValueError("tolerance must be finite and non-negative")


def stage_expr(df: DataFrame, expr: Column, name: str) -> DataFrame:
    """Materialize an expensive Column ONCE per row behind a Generate
    barrier: ``explode(array(expr))`` turns the value into a physical
    attribute of the plan, so downstream filters and projections
    reference the attribute instead of re-inlining the expression
    tree.  A plain aliased projection is NOT enough for two reasons:
    predicate pushdown substitutes aliases into filter conditions
    unconditionally (CollapseProject's expensive-expression guard does
    not apply to it), and common-subexpression elimination skips any
    expression containing lambda variables — so a higher-order-
    function pipeline referenced by both a filter and the output
    evaluates per reference, not per row.  The single-element explode
    is row-preserving (a NULL expr yields one NULL-valued row) and its
    Generate node is a pushdown fence.

    Use for interpreted HOF pipelines (PAN scan, per-script counts)
    whose result feeds BOTH a row filter and the output; keep cheap
    codegen'd pre-filters BELOW the stage so the barrier never blocks
    scan-level pruning of the corpus itself.
    """
    return df.withColumn(name, F.explode(F.array(expr)))


def run_concurrently(*builds: Callable) -> list:
    """Call each zero-argument ``build`` on its own driver thread and
    return their results in order — overlaps the independent eager-
    checkpoint jobs of a plan being built.  Each thread runs with the
    caller's Spark local properties (job group, description, scheduler
    pool) and job tags: PySpark keeps them per thread, so a plain pool
    thread would submit its jobs outside the caller's job group."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target
    from pyspark.sql import SparkSession

    inherit = inheritable_thread_target(SparkSession.active())
    with ThreadPoolExecutor(max_workers=len(builds)) as pool:
        futures = [pool.submit(inherit(b)) for b in builds]
        return [f.result() for f in futures]
