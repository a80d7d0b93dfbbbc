"""asof_join tests — oracle: pandas.merge_asof (the semantics donor)."""

import datetime as dt

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pandance_spark.operators.asof import asof_join
from pandance_spark.sources import load_table


def test_asof_golden_backward(spark):
    trades = spark.createDataFrame(
        [("A", 3, "t1"), ("A", 7, "t2"), ("B", 5, "t3")],
        "sym string, t long, trade string",
    )
    quotes = spark.createDataFrame(
        [("A", 1, 10.0), ("A", 5, 11.0), ("B", 9, 20.0)],
        "sym string, t long, px double",
    )
    out = asof_join(
        trades, quotes, on="t", by=["sym"], direction="backward", how="left"
    )
    rows = {(r["sym"], r["t_x"]): (r["t_y"], r["px"]) for r in out.collect()}
    assert rows == {
        ("A", 3): (1, 10.0),
        ("A", 7): (5, 11.0),
        ("B", 5): (None, None),  # no quote at or before 5 for B
    }
    inner = asof_join(
        trades, quotes, on="t", by=["sym"], direction="backward", how="inner"
    )
    assert inner.count() == 2


def test_asof_golden_forward_and_tolerance(spark):
    left = spark.createDataFrame([(1, 10), (2, 50)], "id long, t long")
    right = spark.createDataFrame([(7, 12), (8, 100)], "rid long, t long")
    fwd = asof_join(left, right, on="t", direction="forward", how="left")
    got = {r["t_x"]: r["rid"] for r in fwd.collect()}
    assert got == {10: 7, 50: 8}
    tol = asof_join(
        left, right, on="t", direction="forward", how="inner", tolerance=10
    )
    assert {r["t_x"] for r in tol.collect()} == {10}  # 100-50 > 10 dropped


def _merge_asof_oracle(ldf, rdf, on_l, on_r, by, direction, tolerance=None):
    lpd = ldf.toPandas().sort_values(on_l).reset_index(drop=True)
    rpd = rdf.toPandas().sort_values(on_r).reset_index(drop=True)
    return pd.merge_asof(
        lpd,
        rpd,
        left_on=on_l,
        right_on=on_r,
        by=by,
        direction=direction,
        tolerance=tolerance,
        suffixes=("_x", "_y"),
    )


@pytest.mark.parametrize("direction", ["backward", "forward"])
def test_asof_by_user_matches_pandas(spark, sf_dir, direction):
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("c_ts"), F.col("event_id").alias("c_id")
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("v_ts"), F.col("event_id").alias("v_id")
    )
    out = asof_join(
        clicks,
        views,
        left_on="c_ts",
        right_on="v_ts",
        by=["user_id"],
        direction=direction,
        how="left",
    )
    got = {
        (r["user_id"], r["c_id"]): r["v_id"] for r in out.collect()
    }
    oracle = _merge_asof_oracle(clicks, views, "c_ts", "v_ts", "user_id", direction)
    expected = {
        (r.user_id, r.c_id): (None if pd.isna(r.v_id) else int(r.v_id))
        for r in oracle.itertuples()
    }
    assert got == expected
    assert len(got) == clicks.count()  # left join keeps every click


def test_asof_global_bucketed_matches_pandas(spark, sf_dir):
    # no `by` key -> the quantile-bucket + carry path
    ev = load_table(spark, sf_dir, "events")
    a = ev.filter(F.col("event_id") % 7 == 0).select(
        F.col("ts").alias("a_ts"), F.col("event_id").alias("a_id")
    )
    b = ev.filter(F.col("event_id") % 7 == 3).select(
        F.col("ts").alias("b_ts"), F.col("event_id").alias("b_id")
    )
    out = asof_join(
        a, b, left_on="a_ts", right_on="b_ts", direction="backward", how="left",
        num_buckets=8,
    )
    got = {r["a_id"]: r["b_id"] for r in out.collect()}
    oracle = _merge_asof_oracle(a, b, "a_ts", "b_ts", None, "backward")
    expected = {
        r.a_id: (None if pd.isna(r.b_id) else int(r.b_id))
        for r in oracle.itertuples()
    }
    assert got == expected


def test_asof_tolerance_matches_pandas(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    a = ev.filter(F.col("event_id") % 5 == 0).select(
        "user_id", F.col("ts").alias("a_ts"), F.col("event_id").alias("a_id")
    )
    b = ev.filter(F.col("event_id") % 5 == 2).select(
        "user_id", F.col("ts").alias("b_ts"), F.col("event_id").alias("b_id")
    )
    tol = dt.timedelta(hours=2)
    out = asof_join(
        a, b, left_on="a_ts", right_on="b_ts", by=["user_id"],
        direction="backward", how="left", tolerance=tol,
    )
    got = {(r["user_id"], r["a_id"]): r["b_id"] for r in out.collect()}
    oracle = _merge_asof_oracle(
        a, b, "a_ts", "b_ts", "user_id", "backward", tolerance=pd.Timedelta(tol)
    )
    expected = {
        (r.user_id, r.a_id): (None if pd.isna(r.b_id) else int(r.b_id))
        for r in oracle.itertuples()
    }
    assert got == expected


def test_asof_validation(spark):
    df = spark.createDataFrame([(1,)], "t long")
    with pytest.raises(ValueError):
        asof_join(df, df, on="t", direction="sideways")
    with pytest.raises(ValueError):
        asof_join(df, df, on="t", how="outer")
    with pytest.raises(ValueError):
        asof_join(df, df, on="t", by=["missing"])


def test_asof_suffix_collision_raises(spark, tmp_path):
    # a suffixed name that collides with an existing column is a clear
    # ValueError (as in the other joins), batch and streaming alike;
    # by-keys are never suffixed and merge into one output column
    from pandance_spark.streaming import streaming_asof_join

    left = spark.createDataFrame([(1, 0, 0)], "t long, a long, a_x long")
    right = spark.createDataFrame([(1, 0)], "t2 long, a long")
    stream = spark.readStream.schema(left.schema).parquet(str(tmp_path))
    with pytest.raises(ValueError, match="'a_x' collides"):
        asof_join(left, right, left_on="t", right_on="t2")
    with pytest.raises(ValueError, match="'a_x' collides"):
        streaming_asof_join(stream, right, left_on="t", right_on="t2")

    keyed = spark.createDataFrame([(1, 0, 0)], "t long, k long, a long")
    dim = spark.createDataFrame([(1, 0, 0)], "t long, k long, a long")
    want = ["t_x", "k", "a_x", "t_y", "a_y"]
    assert asof_join(keyed, dim, on="t", by=["k"]).columns == want
    keyed_stream = spark.readStream.schema(keyed.schema).parquet(str(tmp_path))
    assert streaming_asof_join(keyed_stream, dim, on="t", by=["k"]).columns == want


def _brute_nearest(left_rows, right_rows):
    # (ts, id) rows; returns {left_id: right_id or None}; ties -> backward
    out = {}
    for lt, lid in left_rows:
        best = None
        for rt, rid in right_rows:
            d = abs(lt - rt)
            if best is None or d < best[0] or (d == best[0] and rt < best[1]):
                best = (d, rt, rid)
        out[lid] = best[2] if best else None
    return out


def test_asof_nearest_by_keys(spark):
    import random
    rng = random.Random(11)
    lrows = [(rng.randint(0, 1000), i, i % 3) for i in range(60)]
    rrows = [(rng.randint(0, 1000), 1000 + i, i % 3) for i in range(40)]
    left = spark.createDataFrame([(t, i, g) for t, i, g in lrows], "t long, lid long, g long")
    right = spark.createDataFrame([(t, i, g) for t, i, g in rrows], "t long, rid long, g long")
    out = asof_join(left, right, on="t", by=["g"], direction="nearest", how="left")
    got = {r["lid"]: r["rid"] for r in out.collect()}
    for g in range(3):
        want = _brute_nearest(
            [(t, i) for t, i, gg in lrows if gg == g],
            [(t, i) for t, i, gg in rrows if gg == g],
        )
        for lid, rid in want.items():
            assert got[lid] == rid, (g, lid, rid, got[lid])


def test_asof_nearest_no_by(spark):
    import random
    rng = random.Random(13)
    lrows = [(rng.randint(0, 5000), i) for i in range(300)]
    rrows = [(rng.randint(0, 5000), 1000 + i) for i in range(200)]
    left = spark.createDataFrame(lrows, "t long, lid long")
    right = spark.createDataFrame(rrows, "t long, rid long")
    out = asof_join(left, right, on="t", direction="nearest", how="left", num_buckets=8)
    # ties among right rows at the SAME ts are arbitrary (as documented)
    # -> compare the chosen timestamp, not the row id
    got_ts = {r["lid"]: r["t_y"] for r in out.collect()}
    want = _brute_nearest(lrows, rrows)
    rts = {rid: t for t, rid in rrows}
    assert got_ts == {lid: rts.get(rid) for lid, rid in want.items()}


def test_asof_nearest_tie_prefers_backward(spark):
    left = spark.createDataFrame([(10, 1)], "t long, lid long")
    right = spark.createDataFrame([(8, 100), (12, 200)], "t long, rid long")
    out = asof_join(left, right, on="t", direction="nearest").collect()
    assert out[0]["rid"] == 100  # equidistant -> smaller right ts


def test_asof_nearest_with_tolerance(spark):
    left = spark.createDataFrame([(10, 1), (50, 2)], "t long, lid long")
    right = spark.createDataFrame([(13, 100)], "t long, rid long")
    out = asof_join(left, right, on="t", direction="nearest", tolerance=5, how="left")
    got = {r["lid"]: r["rid"] for r in out.collect()}
    assert got == {1: 100, 2: None}
