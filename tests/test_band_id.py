"""``_kernel.band_id`` boundaries: the band of a value is
``bisect_right(cuts, value)``, and the one-expression SQL form agrees
row for row with the Column-API chain of CASE WHENs it replaced.  The
shared band equi-join (``_kernel.band_equijoin``) and its salt cells
agree with a brute force over the band spans."""

import datetime as dt
import math
from bisect import bisect_right

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pandance_spark._kernel import band_id, numeric_view

MAX = 1.7976931348623157e308
TINY = 5e-324

VALUE = "v `x y"  # a join column name with a space and a backtick
BAND = "band `id"


def column_chain(value, cuts):
    """The band id as the join operators built it before ``band_id``:
    one Column-API CASE WHEN per cut."""
    expr = F.lit(0)
    for c in cuts:
        expr = expr + F.when(value >= F.lit(c), 1).otherwise(0)
    return expr


def bands(spark, dtype, values, cuts, view=lambda c, t: c):
    """(value, band_id band, Column-chain band) for every input row."""
    schema = T.StructType(
        [T.StructField("i", T.IntegerType()), T.StructField(VALUE, dtype)]
    )
    df = spark.createDataFrame(list(enumerate(values)), schema)
    v = view(F.col("`" + VALUE.replace("`", "``") + "`"), dtype)
    out = band_id(df, v, cuts, BAND).withColumn("chain", column_chain(v, cuts))
    assert out.columns == ["i", VALUE, BAND, "chain"]
    rows = sorted(out.collect(), key=lambda r: r["i"])
    return [(values[r["i"]], r[BAND], r["chain"]) for r in rows]


def expected(cuts, v):
    # Spark orders NaN above every double; Python's bisect_right agrees
    # because every NaN comparison is False.  NULL never passes a CASE.
    return 0 if v is None else bisect_right(cuts, v)


def test_band_id_double_boundaries(spark):
    cuts = sorted(
        {-MAX, -2.5, -TINY, 0.0, TINY, 0.1, 1 / 3, 2.0 ** 60, MAX, math.inf}
    )
    values = [0.0, -0.0, TINY, -TINY, MAX, -MAX, math.inf, -math.inf]
    values += [None, math.nan]
    for c in cuts:  # every cut exactly, and its two neighbours
        values += [c, math.nextafter(c, -math.inf), math.nextafter(c, math.inf)]
    got = bands(spark, T.DoubleType(), values, cuts)
    for v, band, chain in got:
        assert band == chain == expected(cuts, v), (v, band, chain)
    nan_band = [b for v, b, _ in got if v is not None and math.isnan(v)]
    assert nan_band == [len(cuts)]


def test_band_id_timestamp_micros(spark):
    utc = dt.timezone.utc
    base = dt.datetime(2024, 2, 29, 23, 59, 59, 999999, tzinfo=utc)
    epoch = dt.datetime(1970, 1, 1, tzinfo=utc)
    stamps = [base + dt.timedelta(microseconds=d) for d in (-1, 0, 1, 10**6)]
    stamps.append(dt.datetime(1900, 1, 1, tzinfo=utc))
    micros = [(t - epoch) // dt.timedelta(microseconds=1) for t in stamps]
    cuts = [float(micros[1]), float(micros[3])]
    conf = "spark.sql.timestampType"
    spark.conf.set(conf, "TIMESTAMP_NTZ")  # the view must not re-resolve
    try:
        got = bands(spark, T.TimestampType(), [*stamps, None], cuts, numeric_view)
    finally:
        spark.conf.unset(conf)
    want = [bisect_right(cuts, m) for m in micros] + [0]
    assert want == [0, 1, 1, 2, 0, 0]
    assert [(b, c) for _, b, c in got] == [(w, w) for w in want]


def test_band_id_string_boundaries(spark):
    cuts = sorted({"", "'", "\\", "`", "a'b", "a\\'b", "c`d", "é", "中文", "😀"})
    values = [*cuts, None, " ", "'' OR 1=1", "a", "a'", "ab", "c`", "e"]
    values += ["e\u0301", "中", "中文字", "\uffff", "😀😀", "😁"]
    got = bands(spark, T.StringType(), values, cuts)
    for v, band, chain in got:
        assert band == chain == expected(cuts, v), (v, band, chain)


def test_band_id_no_cuts_is_band_zero(spark):
    got = bands(spark, T.DoubleType(), [-1.0, 0.0, math.nan], [])
    assert [b for _, b, _ in got] == [0, 0, 0]


def test_salt_count_matches_dict_lookup(spark):
    # the salt-count CASE of the salted fuzzy and ineq joins equals a
    # dict lookup with default 1: negative bucket ids, keys near ±2^62,
    # NULL, and an empty hot map (every value cold)
    from pandance_spark._kernel import salt_count

    big = 1 << 62
    values = [-7, -1, 0, 1, 3, big - 1, big, big + 1, -big, -big - 1, None]
    hot = {-7: 4, 0: 2, big: 64, -big - 1: 3, 3: 9}
    col = "b `k"  # a column name with a space and a backtick
    df = spark.createDataFrame(
        list(enumerate(values)), f"i int, `{col.replace('`', '``')}` long"
    )
    for h in (hot, {}):
        got = {
            r["i"]: r["s"]
            for r in df.select("i", salt_count(col, h).alias("s")).collect()
        }
        assert got == {i: h.get(v, 1) for i, v in enumerate(values)}


# band_equijoin inputs: duplicate rows on both sides, NULL band ids,
# empty spans (lo > hi) and spans of one and of several bands
JOIN_LEFT = [
    (1, 0, 0, 5), (2, 0, 3, 1), (3, 2, 2, 7), (3, 2, 2, 7),
    (4, None, 2, 3), (5, 3, 1, 4), (6, 1, 4, 2), (7, 2, None, 0),
]
JOIN_RIGHT = [
    (10, 0, 2, 3), (11, 2, 2, 6), (11, 2, 2, 6), (12, 1, 1, 0),
    (13, None, None, 1), (14, 3, 5, 9), (15, 4, 2, 2), (16, 2, 4, 8),
]
JOIN_KEEPS = {
    "all": (lambda band: F.lit(True), lambda b, l, r: True),
    # overlap's rule: each pair once, in the band of the later start
    "once": (
        lambda band: band == F.greatest(F.col("llo"), F.col("rlo")),
        lambda b, l, r: b == max(l[1], r[1]),
    ),
    # ineq's rule: off the left row's own band every pair matches
    "diag": (
        lambda band: (band != F.col("llo")) | (F.col("lv") < F.col("rv")),
        lambda b, l, r: b != l[1] or l[3] < r[3],
    ),
}


@pytest.mark.parametrize("single_left", [True, False])
@pytest.mark.parametrize(
    "hot_l, hot_r",
    [({}, {}), ({2: 5, 0: 2}, {}), ({}, {2: 3, 1: 4}), ({2: 5, 0: 2}, {2: 3, 3: 4})],
)
def test_band_equijoin_matches_brute_force(spark, single_left, hot_l, hot_r):
    # every (left row, right row, shared band) that keep() accepts, with
    # its multiplicity, against a Python brute force over the spans
    from collections import Counter

    from pandance_spark._kernel import band_equijoin

    left = spark.createDataFrame(JOIN_LEFT, "lid int, llo long, lhi long, lv int")
    right = spark.createDataFrame(JOIN_RIGHT, "rid int, rlo long, rhi long, rv int")
    llo = F.col("llo")
    lspan = (llo, llo) if single_left else (llo, F.col("lhi"))

    def bands(lo, hi):
        return [] if lo is None or hi is None else range(lo, hi + 1)

    for name, (keep, keep_py) in JOIN_KEEPS.items():
        out = band_equijoin(
            left, right, lspan, (F.col("rlo"), F.col("rhi")), keep, hot_l, hot_r
        )
        got = Counter(
            (r["lid"], r["rid"], r["__band"])
            for r in out.select("lid", "rid", "__band").collect()
        )
        want = Counter(
            (l[0], r[0], b)
            for l in JOIN_LEFT
            for r in JOIN_RIGHT
            for b in set(bands(l[1], l[1] if single_left else l[2]))
            & set(bands(r[1], r[2]))
            if keep_py(b, l, r)
        )
        assert got == want, name
        if name == "once":
            # each pair of rows meets once, however many bands it shares
            dups_l, dups_r = Counter(l[0] for l in JOIN_LEFT), Counter(
                r[0] for r in JOIN_RIGHT
            )
            pairs = Counter((lid, rid) for lid, rid, _ in got.elements())
            assert all(n == dups_l[a] * dups_r[b] for (a, b), n in pairs.items())
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert ("__salt_l" in plan) == bool(hot_l), name
        assert ("__salt_r" in plan) == bool(hot_r), name
