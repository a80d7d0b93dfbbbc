"""ineq_join correctness (FIXTURES.md I1-I5; reference test/test_ops.py:251-408)."""

import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from pandance_spark import ineq_join


def rows_set(df, cols=None):
    cols = cols or df.columns
    return {tuple(r[c] for c in cols) for r in df.select(*cols).collect()}


@pytest.fixture(scope="module")
def prices(spark):
    left = spark.createDataFrame(
        [("apple", 10), ("pear", 20), ("plum", 30)], "item string, price long"
    )
    right = spark.createDataFrame(
        [("w", 10), ("x", 20), ("y", 30), ("z", 40)], "item string, price long"
    )
    return left, right


def expected_pairs(lvals, rvals, op):
    ops = {
        "<": lambda a, b: a < b,
        "<=": lambda a, b: a <= b,
        ">": lambda a, b: a > b,
        ">=": lambda a, b: a >= b,
    }
    return {(a, b) for a in lvals for b in rvals if ops[op](a, b)}


@pytest.mark.parametrize("how", ["<", "<=", ">", ">="])
@pytest.mark.parametrize("strategy", ["bnl", "band"])
def test_ineq_small_golden(prices, how, strategy):
    left, right = prices
    out = ineq_join(left, right, how=how, on="price", strategy=strategy)
    assert set(out.columns) == {"item_x", "price_x", "item_y", "price_y"}
    got = rows_set(out, ["price_x", "price_y"])
    assert got == expected_pairs([10, 20, 30], [10, 20, 30, 40], how)


def test_ineq_suffix_only_collisions(spark):
    left = spark.createDataFrame([("a", 1)], "item string, price long")
    right = spark.createDataFrame([(2, "b")], "cost long, vendor string")
    out = ineq_join(left, right, how="<", left_on="price", right_on="cost")
    # no colliding names -> no suffixes (pandas lsuffix/rsuffix semantics)
    assert out.columns == ["item", "price", "cost", "vendor"]
    assert out.count() == 1


def test_ineq_column_order_left_then_right(prices):
    left, right = prices
    out = ineq_join(left, right, how="<", on="price")
    assert out.columns == ["item_x", "price_x", "item_y", "price_y"]


def test_ineq_strings(spark):
    # FIXTURES I5 (reference docstring pandance.py:731-754)
    left = spark.createDataFrame([("bbb",), ("ccc",)], "s string")
    right = spark.createDataFrame(
        [("aaa",), ("abc",), ("bbc",), ("zzz",)], "s string"
    )
    out = ineq_join(left, right, how=">", on="s")
    got = rows_set(out, ["s_x", "s_y"])
    assert got == expected_pairs(["bbb", "ccc"], ["aaa", "abc", "bbc", "zzz"], ">")


@pytest.mark.parametrize("fast", [True, False])
def test_ineq_disjoint_full_cartesian_and_empty(spark, fast):
    # FIXTURES I3 (reference test_ops.py:345-383): disjoint ranges
    left = spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", 3)], "item string, price long"
    )
    right = spark.createDataFrame(
        [("x", 10), ("y", 20), ("z", 30)], "item string, price long"
    )
    full = ineq_join(left, right, how="<", on="price", disjoint_fast_path=fast)
    assert full.count() == 9
    # full schema on the fast path too (deliberate deviation, SURVEY §4)
    assert set(full.columns) == {"item_x", "price_x", "item_y", "price_y"}
    empty = ineq_join(left, right, how=">", on="price", disjoint_fast_path=fast)
    assert empty.count() == 0
    assert set(empty.columns) == {"item_x", "price_x", "item_y", "price_y"}


def test_ineq_empty_input_full_schema(spark):
    left = spark.createDataFrame([], "item string, price long")
    right = spark.createDataFrame([("x", 10)], "item string, price long")
    out = ineq_join(left, right, how="<", on="price", disjoint_fast_path=True)
    assert out.count() == 0
    assert set(out.columns) == {"item_x", "price_x", "item_y", "price_y"}


@pytest.mark.parametrize("a,b,overlap", [(10, 10, 5), (8, 6, 3), (7, 7, 0), (5, 9, 5)])
def test_ineq_closed_form_overlap(spark, a, b, overlap):
    # FIXTURES I4 (reference test_ops.py:386-408): |result| for how='<'
    # of range(0,A) vs range(A-L, A-L+B) is A*B + C(L,2) - L^2
    left = spark.createDataFrame([(i,) for i in range(a)], "val long")
    right = spark.createDataFrame(
        [(i,) for i in range(a - overlap, a - overlap + b)], "val long"
    )
    expected = a * b + math.comb(overlap, 2) - overlap * overlap
    for strategy in ("bnl", "band"):
        out = ineq_join(left, right, how="<", on="val", strategy=strategy)
        assert out.count() == expected, strategy


def test_ineq_band_matches_bnl_on_testdata(spark, sf_dir):
    # FIXTURES I1 mapping: customer.c_acctbal < supplier.s_acctbal
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    supplier = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    kwargs = dict(how="<", left_on="c_acctbal", right_on="s_acctbal")
    bnl = ineq_join(customer, supplier, strategy="bnl", **kwargs)
    band = ineq_join(customer, supplier, strategy="band", num_bands=16, **kwargs)
    assert bnl.count() == band.count()
    key = ["c_custkey", "s_suppkey"]
    assert rows_set(bnl, key) == rows_set(band, key)


def test_ineq_timestamps_band(spark, sf_dir):
    # FIXTURES I2 mapping: events split into two halves by event_id parity
    from pandance_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts")
    a = ev.filter(F.col("event_id") % 50 == 0)
    b = ev.filter(F.col("event_id") % 50 == 1)
    bnl = ineq_join(a, b, how=">", on="ts", strategy="bnl")
    band = ineq_join(a, b, how=">", on="ts", strategy="band", num_bands=8)
    assert bnl.count() == band.count() > 0
    for r in band.select("ts_x", "ts_y").limit(50).collect():
        assert r["ts_x"] > r["ts_y"]


@pytest.mark.parametrize("how", ["<", "<=", ">", ">="])
def test_ineq_strings_band_matches_bnl(spark, how):
    # r1 verdict gap #1: band path for string keys (reference supports
    # any comparable type, pandance.py:625).  TPC-H-style shared-prefix
    # values are the pathological case for naive first-chars surrogates.
    left = spark.createDataFrame(
        [(f"Customer#{i:09d}",) for i in range(0, 300, 7)], "s string"
    )
    right = spark.createDataFrame(
        [(f"Customer#{i:09d}",) for i in range(0, 300, 11)], "s string"
    )
    bnl = ineq_join(left, right, how=how, on="s", strategy="bnl")
    band = ineq_join(left, right, how=how, on="s", strategy="band", num_bands=8)
    assert rows_set(band, ["s_x", "s_y"]) == rows_set(bnl, ["s_x", "s_y"])
    assert band.count() > 0


def test_ineq_strings_band_left_outside_right_range(spark):
    # left values below/above the right side's common-prefix range must
    # clamp into the extreme bands, not scatter
    left = spark.createDataFrame(
        [("AAA",), ("Customer#000000050",), ("zzz",)], "s string"
    )
    right = spark.createDataFrame(
        [(f"Customer#{i:09d}",) for i in (10, 40, 60, 90)], "s string"
    )
    for how in ("<", ">="):
        bnl = ineq_join(left, right, how=how, on="s", strategy="bnl")
        band = ineq_join(left, right, how=how, on="s", strategy="band", num_bands=4)
        assert rows_set(band, ["s_x", "s_y"]) == rows_set(bnl, ["s_x", "s_y"])


def test_ineq_strings_band_unicode(spark):
    left = spark.createDataFrame([("aé",), ("ab",), ("aéz",)], "s string")
    right = spark.createDataFrame([("aa",), ("ac",), ("aÿ",)], "s string")
    for how in ("<", ">"):
        bnl = ineq_join(left, right, how=how, on="s", strategy="bnl")
        band = ineq_join(left, right, how=how, on="s", strategy="band", num_bands=4)
        assert rows_set(band, ["s_x", "s_y"]) == rows_set(bnl, ["s_x", "s_y"])


@pytest.mark.parametrize("how", ["<", "<=", ">", ">="])
def test_ineq_nulls_never_match(spark, how):
    # ADVICE r1 (high): band_of(NULL) = 0 let NULL keys ride the
    # off-diagonal guaranteed-match shortcut.  NULL <op> x is never a
    # match — band and bnl must agree on null-containing inputs.
    left = spark.createDataFrame(
        [("a", 2), ("b", None), ("c", 5)], "item string, price long"
    )
    right = spark.createDataFrame(
        [("w", 1), ("x", None), ("y", 4), ("z", 9)], "item string, price long"
    )
    bnl = ineq_join(left, right, how=how, on="price", strategy="bnl")
    band = ineq_join(left, right, how=how, on="price", strategy="band", num_bands=4)
    got_bnl = rows_set(bnl, ["price_x", "price_y"])
    got_band = rows_set(band, ["price_x", "price_y"])
    assert got_band == got_bnl
    assert got_bnl == expected_pairs([2, 5], [1, 4, 9], how)
    assert all(a is not None and b is not None for a, b in got_band)


def test_ineq_nulls_excluded_from_fast_path_cross_product(spark):
    # disjoint fast path returns a cross product — NULL-keyed rows must
    # not be in it (min/max ignore NULLs, the join predicate does not).
    left = spark.createDataFrame(
        [("a", 1), ("b", None)], "item string, price long"
    )
    right = spark.createDataFrame(
        [("x", 10), ("y", None)], "item string, price long"
    )
    out = ineq_join(left, right, how="<", on="price", disjoint_fast_path=True)
    got = rows_set(out, ["price_x", "price_y"])
    assert got == {(1, 10)}


def test_ineq_validation_errors(prices):
    left, right = prices
    with pytest.raises(ValueError):
        ineq_join(left, right, how="!=", on="price")
    with pytest.raises(ValueError):
        ineq_join(left, right, how="<")  # no join column
    with pytest.raises(ValueError):
        ineq_join(left, right, how="<", on=["price", "item"])  # multi-col
    with pytest.raises(ValueError):
        ineq_join(left, right, how="<", on="nope")


def test_nan_values_consistent_across_fast_path(spark):
    import math
    # Spark orders NaN ABOVE everything: x < NaN matches for finite x.
    # The driver-side disjoint fast path must not flip that (Python
    # comparisons with nan are all False).
    left = spark.createDataFrame([(1, 5.0), (2, 6.0)], "id long, v double")
    right = spark.createDataFrame(
        [(10, 1.0), (11, float("nan"))], "id long, v double"
    )
    with_fp = ineq_join(left, right, how="<", on="v", disjoint_fast_path=True)
    without_fp = ineq_join(left, right, how="<", on="v", disjoint_fast_path=False)
    got_fp = {(r["id_x"], r["id_y"]) for r in with_fp.collect()}
    got_plain = {(r["id_x"], r["id_y"]) for r in without_fp.collect()}
    assert got_fp == got_plain == {(1, 11), (2, 11)}


def test_unknown_strategy_raises_even_on_disjoint_inputs(spark):
    import pytest as _pytest
    left = spark.createDataFrame([(1, 1.0)], "id long, v double")
    right = spark.createDataFrame([(2, 100.0)], "id long, v double")
    with _pytest.raises(ValueError, match="strategy"):
        ineq_join(left, right, how="<", on="v", strategy="bandd")


def test_ineq_strings_band_adversarial_cut_collapse(spark):
    # r4 verdict watch-item: keys with a divergent first char, a long
    # constant middle, and a rare suffix collapsed the old 3-codepoint
    # surrogate to ~2 distinct cuts (fat diagonal).  Sampled string
    # cuts must keep the band count healthy AND stay exact.
    from pandance_spark.operators.ineq import _string_cuts

    mid = "X" * 40
    rows = [(f"{pre}_{mid}{i:06d}",) for pre in ("a", "b") for i in range(300)]
    left = spark.createDataFrame(rows[::3], "s string")
    right = spark.createDataFrame(rows[::2], "s string")

    cuts = _string_cuts(right, "s", 16)
    assert cuts is not None and len(cuts) >= 8, cuts  # no collapse

    bnl = ineq_join(left, right, how="<", on="s", strategy="bnl")
    band = ineq_join(left, right, how="<", on="s", strategy="band", num_bands=16)
    assert rows_set(band, ["s_x", "s_y"]) == rows_set(bnl, ["s_x", "s_y"])


def test_ineq_strings_band_constant_key_falls_back(spark):
    # all-identical right keys: no cut can prune; _string_cuts signals
    # fallback and the operator must still answer exactly
    left = spark.createDataFrame([("a",), ("k",), ("z",)], "s string")
    right = spark.createDataFrame([("k",)] * 50, "s string")
    from pandance_spark.operators.ineq import _string_cuts

    assert _string_cuts(right, "s", 8) is None
    for how in ("<", "<=", ">", ">="):
        bnl = ineq_join(left, right, how=how, on="s", strategy="bnl")
        band = ineq_join(left, right, how=how, on="s", strategy="band")
        assert rows_set(band, ["s_x", "s_y"]) == rows_set(bnl, ["s_x", "s_y"])


def test_ineq_band_autoskew_hot_right_key(spark):
    # a right-side value with ~half the mass collapses quantile cuts;
    # _band_join must detect it (raw-cut multiplicity), salt the fat
    # band, and return exactly the bnl result
    import pandas as pd

    from pandance_spark.operators.ineq import _hot_bands

    rows = [(float(i), i) for i in range(400)]
    hot = [(250.0, 1000 + i) for i in range(400)]  # 50% mass at 250.0
    right = spark.createDataFrame(
        pd.DataFrame(rows + hot, columns=["v", "rid"])
    )
    left = spark.createDataFrame(
        pd.DataFrame([(float(i * 7 % 400), i) for i in range(60)],
                     columns=["v", "lid"])
    )
    band = ineq_join(left, right, how="<=", on="v", strategy="band",
                     num_bands=16, disjoint_fast_path=False,
                     skew_salting="always")
    plan = band._jdf.queryExecution().executedPlan().toString()
    assert "__salt" in plan  # the salted exchange is actually in play
    bnl = ineq_join(left, right, how="<=", on="v", strategy="bnl",
                    disjoint_fast_path=False)
    key = ["lid", "rid"]
    assert rows_set(band, key) == rows_set(bnl, key)
    # default 'auto' on broadcast-sized inputs skips the salt — no
    # per-band reducer exists when a side broadcasts, so salting
    # there is pure overhead
    auto = ineq_join(left, right, how="<=", on="v", strategy="band",
                     num_bands=16, disjoint_fast_path=False)
    assert "__salt" not in (
        auto._jdf.queryExecution().executedPlan().toString()
    )
    # and 'auto' DOES salt once the broadcast rescue is off (the
    # both-sides-big regime)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        forced = ineq_join(left, right, how="<=", on="v", strategy="band",
                           num_bands=16, disjoint_fast_path=False)
        assert "__salt" in (
            forced._jdf.queryExecution().executedPlan().toString()
        )
        assert rows_set(forced, key) == rows_set(bnl, key)
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_ineq_band_no_salt_without_skew(spark):
    # uniform right side: no cut multiplicity, no salting machinery
    import pandas as pd

    right = spark.createDataFrame(
        pd.DataFrame([(float(i), i) for i in range(500)], columns=["v", "rid"])
    )
    left = spark.createDataFrame(
        pd.DataFrame([(float(i * 11 % 500), i) for i in range(40)],
                     columns=["v", "lid"])
    )
    band = ineq_join(left, right, how="<", on="v", strategy="band",
                     num_bands=16, disjoint_fast_path=False)
    plan = band._jdf.queryExecution().executedPlan().toString()
    assert "__salt" not in plan


def test_hot_bands_mapping():
    from pandance_spark.operators.ineq import _hot_bands

    # value 5.0 occupies 3 quantile slots -> band of 5.0 gets 3 salts
    raw = [1.0, 2.0, 5.0, 5.0, 5.0, 7.0]
    cuts = sorted(set(raw))
    hot = _hot_bands(raw, cuts)
    band_of_5 = sum(1 for c in cuts if c <= 5.0)
    assert hot == {band_of_5: 3}
    # no duplicates -> nothing hot
    assert _hot_bands([1.0, 2.0, 3.0], [1.0, 2.0, 3.0]) == {}


def test_ineq_band_autoskew_hot_string_key(spark):
    # string path: a hot right-side STRING collapses sampled value
    # cuts the same way a numeric atom collapses quantiles — detection
    # reads the raw cut multiplicity in both paths
    import pandas as pd

    base = [f"key_{i:05d}" for i in range(300)]
    hot = ["key_00150x"] * 300  # 50% mass on one string
    right = spark.createDataFrame(
        pd.DataFrame({"s": base + hot, "rid": list(range(600))})
    )
    left = spark.createDataFrame(
        pd.DataFrame({"s": [f"key_{i*7%300:05d}" for i in range(50)],
                      "lid": list(range(50))})
    )
    band = ineq_join(left, right, how="<", on="s", strategy="band",
                     num_bands=16, disjoint_fast_path=False,
                     skew_salting="always")
    assert "__salt" in band._jdf.queryExecution().executedPlan().toString()
    bnl = ineq_join(left, right, how="<", on="s", strategy="bnl",
                    disjoint_fast_path=False)
    key = ["lid", "rid"]
    assert rows_set(band, key) == rows_set(bnl, key)


@pytest.mark.parametrize("fast_path", [True, False])
def test_ineq_band_build_jobs_and_plan(spark, fast_path):
    # numeric band cuts come out of ONE statistics aggregate (with the
    # fast path: the same one as both sides' min/max) — 2 jobs under
    # AQE, a shuffle-map stage and its result — and the band id is a
    # flat CASE sum, never a higher-order function, joined on as an
    # equi-key
    import re

    left = spark.range(0, 300).selectExpr("id AS v", "id AS lid")
    right = spark.range(150, 450).selectExpr("id AS v", "id AS rid")
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    before = scheduler.numTotalJobs()
    out = ineq_join(left, right, how="<", on="v", strategy="band",
                    num_bands=64, disjoint_fast_path=fast_path)
    assert scheduler.numTotalJobs() - before == 2
    qe = out._jdf.queryExecution()
    assert "lambdafunction" not in qe.analyzed().toString().lower()
    assert re.search(
        r"(BroadcastHash|SortMerge|ShuffledHash)Join \[__jband#\d+\], "
        r"\[__band_r#\d+\]",
        qe.executedPlan().toString(),
    ), qe.executedPlan().toString()
    assert out.count() == sum(450 - max(150, v + 1) for v in range(300))


def test_quantile_cuts_match_approx_quantile(spark):
    # the statistics aggregate's cuts are approxQuantile's, bit for bit:
    # NaN and NULL left out, same accuracy
    import random

    from pandance_spark.operators.ineq import _quantile_cuts

    rnd = random.Random(5)
    normal = [rnd.gauss(0, 1) for _ in range(3000)]
    atoms = [float(rnd.randrange(20)) for _ in range(3000)]
    for vals in (normal, atoms, normal[:7] + [math.nan, None, math.inf]):
        df = spark.createDataFrame([(v,) for v in vals], "v double")
        got = df.select(*[_quantile_cuts(F.col("v"), nb) for nb in (2, 64)])
        for nb, cuts in zip((2, 64), got.collect()[0]):
            probs = [i / nb for i in range(1, nb)]
            assert cuts == df.dropna().approxQuantile("v", probs, 0.001)
