"""fuzzy_join correctness (FIXTURES.md F1-F4; reference test/test_ops.py:14-179)."""

import datetime as dt
import decimal
import math

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pandance_spark import fuzzy_join, theta_join


def rows_set(df, cols=None):
    cols = cols or df.columns
    return {tuple(r[c] for c in cols) for r in df.select(*cols).collect()}


@pytest.fixture(scope="module")
def scores(spark):
    # FIXTURES F1 (reference docstring pandance.py:82-104)
    left = spark.createDataFrame(
        [("event1", 0.2), ("event2", 0.5), ("event3", 0.7), ("event4", 0.9)],
        "event string, time_obs double",
    )
    right = spark.createDataFrame(
        [("event5", 0.1), ("event6", 0.54), ("event7", 0.8), ("event8", 0.89)],
        "event string, time_obs double",
    )
    return left, right


@pytest.mark.parametrize("strategy", ["range", "band"])
def test_fuzzy_simple(scores, strategy):
    left, right = scores
    out = fuzzy_join(left, right, on="time_obs", tol=0.05, strategy=strategy)
    assert set(out.columns) == {"event_x", "time_obs_x", "event_y", "time_obs_y"}
    got = rows_set(out, ["event_x", "event_y"])
    assert got == {("event2", "event6"), ("event4", "event8")}
    # tighter tolerance -> no matches
    none = fuzzy_join(left, right, on="time_obs", tol=0.001, strategy=strategy)
    assert none.count() == 0


def test_fuzzy_inclusive_tolerance(spark):
    # the contract is abs(l - r) <= tol, inclusive (pandance.py:28-29);
    # integer columns make the boundary exact
    left = spark.createDataFrame([(10,)], "v long")
    right = spark.createDataFrame([(8,), (12,), (13,)], "v long")
    out = fuzzy_join(left, right, on="v", tol=2, strategy="band")
    assert rows_set(out, ["v_y"]) == {(8,), (12,)}


@pytest.mark.parametrize("strategy", ["range", "band"])
def test_fuzzy_datetime(spark, strategy):
    # FIXTURES F2 (reference test_ops.py:51-85)
    t0 = dt.datetime(2021, 1, 1, 12, 0, 0)
    left = spark.createDataFrame(
        [("a", t0), ("b", t0 + dt.timedelta(hours=5)), ("c", t0 + dt.timedelta(days=2))],
        "event string, obs_time timestamp",
    )
    right = spark.createDataFrame(
        [
            ("p", t0 + dt.timedelta(minutes=1)),
            ("q", t0 + dt.timedelta(hours=5, minutes=-1)),
            ("r", t0 + dt.timedelta(hours=8)),
            ("s", t0 + dt.timedelta(days=2, minutes=1)),
        ],
        "event string, obs_time timestamp",
    )
    out = fuzzy_join(
        left, right, on="obs_time", tol=dt.timedelta(minutes=1), strategy=strategy
    )
    got = rows_set(out, ["event_x", "event_y"])
    assert got == {("a", "p"), ("b", "q"), ("c", "s")}


def test_fuzzy_nan_inf_dropped(spark):
    # reference drops NaN/Inf silently (pandance.py:43-47, :296-312);
    # Spark's NaN = NaN join semantics would otherwise match them
    nan, inf = float("nan"), float("inf")
    left = spark.createDataFrame(
        [(1, 1.0), (2, nan), (3, inf), (4, -inf), (5, None)], "id long, v double"
    )
    right = spark.createDataFrame(
        [(10, 1.0005), (20, nan), (30, inf), (40, None)], "id long, v double"
    )
    for strategy in ("range", "band"):
        out = fuzzy_join(left, right, on="v", tol=0.001, strategy=strategy)
        assert rows_set(out, ["id_x", "id_y"]) == {(1, 10)}


@pytest.mark.parametrize("strategy", ["range", "band"])
def test_fuzzy_decimal(spark, strategy):
    # FIXTURES F3: Decimal columns, exact arithmetic
    D = decimal.Decimal
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("v", T.DecimalType(12, 4)),
        ]
    )
    left = spark.createDataFrame([(1, D("1.0001")), (2, D("5.5"))], schema)
    right = spark.createDataFrame(
        [(10, D("1.0002")), (20, D("5.6")), (30, D("5.6001"))], schema
    )
    out = fuzzy_join(left, right, on="v", tol=D("0.1"), strategy=strategy)
    got = rows_set(out, ["id_x", "id_y"])
    assert got == {(1, 10), (2, 20)}  # 5.6001-5.5 > 0.1 exactly, excluded


def test_fuzzy_tol_zero_exact(spark):
    left = spark.createDataFrame([(1, 2.5), (2, 3.5)], "id long, v double")
    right = spark.createDataFrame([(10, 2.5), (20, 3.0)], "id long, v double")
    out = fuzzy_join(left, right, on="v", tol=0)
    assert rows_set(out, ["id_x", "id_y"]) == {(1, 10)}


def test_fuzzy_empty_input_full_schema(spark):
    # deliberate deviation: reference raises IndexError on empty input
    # (SURVEY §4 quirk 1); we return an empty frame with the full schema
    left = spark.createDataFrame([], "id long, v double")
    right = spark.createDataFrame([(10, 2.5)], "id long, v double")
    out = fuzzy_join(left, right, on="v", tol=0.1)
    assert out.count() == 0
    assert set(out.columns) == {"id_x", "v_x", "id_y", "v_y"}


def test_fuzzy_type_validation(spark):
    # FIXTURES F4 (reference test_ops.py:167-179)
    num = spark.createDataFrame([(1.0,)], "v double")
    ts = spark.createDataFrame([(dt.datetime(2021, 1, 1),)], "v timestamp")
    s = spark.createDataFrame([("a",)], "v string")
    with pytest.raises(TypeError):
        fuzzy_join(num, ts, on="v", tol=0.1)  # mixed numeric/timestamp
    with pytest.raises(TypeError):
        fuzzy_join(ts, ts, on="v", tol=0.1)  # ts needs timedelta tol
    with pytest.raises(TypeError):
        fuzzy_join(num, num, on="v", tol=dt.timedelta(seconds=1))
    with pytest.raises(TypeError):
        fuzzy_join(s, s, on="v", tol=0.1)  # strings unsupported
    with pytest.raises(ValueError):
        fuzzy_join(num, num, on="v", tol=-1.0)


def test_fuzzy_band_equals_range_equals_theta_on_testdata(spark, sf_dir):
    # cross-operator oracle, the reference's own test pattern
    # (test_ops.py:45-48): slow theta_join validates fast fuzzy_join
    from pandance_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events").select("event_id", "value")
    a = ev.filter(F.col("event_id") % 4 == 0)
    b = ev.filter(F.col("event_id") % 4 == 1)
    kw = dict(on="value", tol=0.05)
    band = fuzzy_join(a, b, strategy="band", **kw)
    rng = fuzzy_join(a, b, strategy="range", **kw)
    theta = theta_join(
        a, b, condition=lambda x, y: F.abs(x - y) <= 0.05, on="value"
    )
    key = ["event_id_x", "event_id_y"]
    got_band, got_range = rows_set(band, key), rows_set(rng, key)
    assert got_band == got_range == rows_set(theta, key)
    assert len(got_band) > 0
    for r in band.collect():
        assert abs(r["value_x"] - r["value_y"]) <= 0.05


def test_fuzzy_timestamp_band_on_testdata(spark, sf_dir):
    from pandance_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts")
    a = ev.filter(F.col("event_id") % 10 == 0)
    b = ev.filter(F.col("event_id") % 10 == 5)
    kw = dict(on="ts", tol=dt.timedelta(hours=4))
    band = fuzzy_join(a, b, strategy="band", **kw)
    rng = fuzzy_join(a, b, strategy="range", **kw)
    key = ["event_id_x", "event_id_y"]
    assert rows_set(band, key) == rows_set(rng, key)
    assert band.count() > 0


def test_fuzzy_numpy_timedelta_tolerance(spark):
    # reference ToleranceType includes np.timedelta64 (pandance.py:261-262)
    import numpy as np

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    left = spark.createDataFrame([(1, t0)], "id long, ts timestamp")
    right = spark.createDataFrame(
        [(10, t0 + dt.timedelta(seconds=30)), (20, t0 + dt.timedelta(minutes=5))],
        "id long, ts timestamp",
    )
    out = fuzzy_join(left, right, on="ts", tol=np.timedelta64(1, "m"))
    assert rows_set(out, ["id_x", "id_y"]) == {(1, 10)}


def test_fuzzy_band_heavy_duplicates(spark):
    # a join column with very few distinct values (hot buckets): the
    # band join must neither lose nor duplicate pairs
    import itertools

    vals = [0.1, 0.2, 0.3, 0.4, 0.5]
    left = spark.createDataFrame(
        [(i, vals[i % 5]) for i in range(500)], "id long, v double"
    )
    counts = {v: 100 for v in vals}
    expected_pairs = sum(
        counts[a] * counts[b]
        for a, b in itertools.product(vals, vals)
        if abs(a - b) <= 0.1000001
    )
    out = fuzzy_join(left, left, on="v", tol=0.1000001, strategy="band")
    assert out.count() == expected_pairs
    rng = fuzzy_join(left, left, on="v", tol=0.1000001, strategy="range")
    assert rng.count() == expected_pairs


def test_fuzzy_disjoint_fast_path_empty_and_cross(spark):
    # the inputs a min/max short-circuit would catch (the reference
    # has one for ineq only, pandance.py:792-807): disjoint ranges and
    # a combined span within tol go through the ordinary plan
    left = spark.createDataFrame(
        [("a", 1.0), ("b", 2.0)], "item string, v double"
    )
    right = spark.createDataFrame(
        [("x", 100.0), ("y", 101.0)], "item string, v double"
    )
    empty = fuzzy_join(left, right, on="v", tol=0.5)
    assert empty.count() == 0
    assert set(empty.columns) == {"item_x", "v_x", "item_y", "v_y"}

    # combined span within tol -> full cross product
    tight_l = spark.createDataFrame([("a", 1.00), ("b", 1.01)], "item string, v double")
    tight_r = spark.createDataFrame([("x", 1.02), ("y", 1.03)], "item string, v double")
    full = fuzzy_join(tight_l, tight_r, on="v", tol=0.1)
    assert full.count() == 4

    # overlapping-but-not-degenerate ranges
    mid_r = spark.createDataFrame([("x", 1.4), ("y", 9.9)], "item string, v double")
    out = fuzzy_join(left, right.union(mid_r), on="v", tol=1.0)
    got = {(r["v_x"], r["v_y"]) for r in out.collect()}
    assert got == {(1.0, 1.4), (2.0, 1.4)}


def test_fuzzy_fast_path_decimal_boundary(spark):
    import decimal

    left = spark.createDataFrame(
        [(1, decimal.Decimal("1.00"))], "id long, v decimal(10,2)"
    )
    right = spark.createDataFrame(
        [(2, decimal.Decimal("1.05"))], "id long, v decimal(10,2)"
    )
    # span exactly tol -> inclusive cross product
    assert fuzzy_join(left, right, on="v", tol=decimal.Decimal("0.05")).count() == 1
    # gap exceeds tol by one cent -> empty
    assert fuzzy_join(left, right, on="v", tol=decimal.Decimal("0.04")).count() == 0


def test_fuzzy_extreme_quotient_guard(spark):
    # |v|/tol ~ 1e22 >> 2^51: floor(v/tol) in double is off by far more
    # than the +-2 bucket margin, so these rows must take the exact
    # branch; band returns exactly the range result.
    big = 1.0e18
    vals = [(1, big), (2, big + 256.0), (3, big + 512.0)]
    left = spark.createDataFrame(vals, "id long, v double")
    right = spark.createDataFrame(vals, "id long, v double")
    out = fuzzy_join(left, right, on="v", tol=1e-4, strategy="auto")
    got = {(r["id_x"], r["id_y"]) for r in out.collect()}
    assert got == {(1, 1), (2, 2), (3, 3)}
    band = fuzzy_join(left, right, on="v", tol=1e-4, strategy="band")
    rng = fuzzy_join(left, right, on="v", tol=1e-4, strategy="range")
    key = ["id_x", "id_y"]
    assert sorted(map(tuple, band.select(*key).collect())) == sorted(
        map(tuple, rng.select(*key).collect())
    )


@pytest.mark.parametrize("skew_salting", ["never", "always"])
@pytest.mark.parametrize("strategy", ["auto", "band", "range"])
def test_fuzzy_out_of_range_rows_keep_their_matches(spark, strategy, skew_salting):
    # a long past 2^51 * tol loses precision in floor(v/tol), and a
    # decimal(38,0) near 1e30 overflows the bucket id: rows past the
    # band's operating bound must still find their exact matches
    kw = dict(on="v", tol=2, strategy=strategy, skew_salting=skew_salting)
    big = 2**60
    left = spark.createDataFrame([(big + 127,), (0,)], "v long")
    right = spark.createDataFrame([(big + 129,), (5,)], "v long")
    got = rows_set(fuzzy_join(left, right, **kw))
    assert got == {(big + 127, big + 129)}

    d = decimal.Decimal
    e30 = 10**30
    left = spark.createDataFrame(
        [(d(e30),), (d(-e30 - 2),), (d(7),)], "v decimal(38,0)"
    )
    right = spark.createDataFrame(
        [(d(e30 + 2),), (d(e30 + 3),), (d(-e30),), (d(9),)], "v decimal(38,0)"
    )
    got = rows_set(fuzzy_join(left, right, **kw))
    assert got == {
        (d(e30), d(e30 + 2)), (d(-e30 - 2), d(-e30)), (d(7), d(9))
    }


@pytest.mark.parametrize("strategy", ["auto", "band", "range"])
def test_fuzzy_exact_predicate_cannot_overflow(spark, strategy):
    # opposite-sign longs near +-2^62: l - r overflows a long, and an
    # overflowing difference is never within tol
    left = spark.createDataFrame([(2**62 + 1,), (-(2**62),)], "v long")
    right = spark.createDataFrame([(2**62 + 2,), (-(2**62) - 1,)], "v long")
    got = rows_set(fuzzy_join(left, right, on="v", tol=2, strategy=strategy))
    assert got == {(2**62 + 1, 2**62 + 2), (-(2**62), -(2**62) - 1)}
    # an int difference past 2^31 is still a difference within this tol
    left = spark.createDataFrame([(2**31 - 1,), (0,)], "v int")
    right = spark.createDataFrame([(-2,), (-(2**31),)], "v int")
    got = rows_set(fuzzy_join(left, right, on="v", tol=2**31 + 1, strategy=strategy))
    assert got == {(2**31 - 1, -2), (0, -2), (0, -(2**31))}


def test_fuzzy_out_of_range_branch_is_broadcast_nested_loop(spark):
    # with broadcasts disabled by size, the exact branch still
    # broadcasts its filtered near-bound rows: never a cartesian product
    left = spark.createDataFrame(
        [(i, float(i)) for i in range(50)] + [(99, 1e18)], "id long, v double"
    )
    right = spark.createDataFrame(
        [(i, float(i) + 0.5) for i in range(50)] + [(99, 1e18)],
        "id long, v double",
    )
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        out = fuzzy_join(left, right, on="v", tol=1.0, strategy="band")
        assert len(rows_set(out, ["id_x", "id_y"])) == 100
        plan = out._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(key, old)
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    # both inputs of the nested loop keep only the rows past
    # B - 2*tol = 2^51 - 2, as Spark prints that double
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("> 2.251799813685246E15)") == 2


def test_fuzzy_skew_salting_equality(spark):
    # hot atom on each side in turn; salted band result must equal the
    # exact range join pair-for-pair, and the salted exchange must be
    # in the plan under 'always'
    import pandas as pd

    left = spark.createDataFrame(
        pd.DataFrame({
            "v": [250.0] * 300 + [float(i) for i in range(300)],
            "lid": list(range(600)),
        })
    )
    right = spark.createDataFrame(
        pd.DataFrame({
            "v": [250.0004] * 200 + [float(i) + 0.0005 for i in range(400)],
            "rid": list(range(600)),
        })
    )
    key = ["lid", "rid"]
    ref = rows_set(
        fuzzy_join(left, right, on="v", tol=1e-3, strategy="range"), key
    )
    salted = fuzzy_join(
        left, right, on="v", tol=1e-3, strategy="band", skew_salting="always"
    )
    assert "__salt" in salted._jdf.queryExecution().executedPlan().toString()
    assert rows_set(salted, key) == ref
    never = fuzzy_join(
        left, right, on="v", tol=1e-3, strategy="band", skew_salting="never"
    )
    assert "__salt" not in never._jdf.queryExecution().executedPlan().toString()
    assert rows_set(never, key) == ref


def test_fuzzy_skew_salting_auto_skips_broadcast_sized(spark, sf_dir):
    # parquet-backed inputs under the broadcast threshold (real size
    # stats): auto must neither salt nor pay the detection passes
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    auto = fuzzy_join(
        part, cust, left_on="p_retailprice", right_on="c_acctbal",
        tol=0.5, strategy="band",
    )
    assert "__salt" not in auto._jdf.queryExecution().executedPlan().toString()


def test_fuzzy_skew_salting_validation(spark):
    left = spark.createDataFrame([(1.0,)], "v double")
    with pytest.raises(ValueError):
        fuzzy_join(left, left, on="v", skew_salting="sometimes")
