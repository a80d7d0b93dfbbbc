"""overlap_join tests — band form vs conditional form vs brute force."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from pandance_spark.operators.overlap import overlap_join
from pandance_spark.sources import load_table


def test_overlap_golden(spark):
    left = spark.createDataFrame(
        [(1, 0, 10), (2, 20, 30), (3, 5, 25)], "id long, s long, e long"
    )
    right = spark.createDataFrame(
        [(10, 8, 12), (20, 28, 40), (30, 50, 60)], "id long, s long, e long"
    )
    expected = {(1, 10), (3, 10), (2, 20)}  # [5,25] vs [28,40] do NOT meet
    for strategy in ("bnl", "band"):
        out = overlap_join(
            left, right, "s", "e", "s", "e", strategy=strategy, num_bands=4
        )
        got = {(r["id_x"], r["id_y"]) for r in out.collect()}
        assert got == expected, strategy


def test_overlap_closed_bounds_touching(spark):
    # closed intervals: touching endpoints DO overlap
    left = spark.createDataFrame([(1, 0, 10)], "id long, s long, e long")
    right = spark.createDataFrame([(2, 10, 20)], "id long, s long, e long")
    for strategy in ("bnl", "band"):
        assert (
            overlap_join(left, right, "s", "e", "s", "e", strategy=strategy).count()
            == 1
        )


def test_overlap_band_equals_bnl_on_events(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "value")
    # intervals [ts, ts + value minutes]
    iv = ev.select(
        "event_id",
        F.col("ts").alias("start"),
        (F.col("ts") + F.make_dt_interval(mins=F.col("value"))).alias("end"),
    )
    a = iv.filter(F.col("event_id") % 13 == 0)
    b = iv.filter(F.col("event_id") % 13 == 1)
    bnl = overlap_join(a, b, "start", "end", "start", "end", strategy="bnl")
    band = overlap_join(
        a, b, "start", "end", "start", "end", strategy="band", num_bands=16
    )
    key = ["event_id_x", "event_id_y"]
    got_bnl = {tuple(r[c] for c in key) for r in bnl.collect()}
    got_band = {tuple(r[c] for c in key) for r in band.collect()}
    assert got_bnl == got_band
    assert len(got_band) > 0
    for r in band.collect():
        assert r["start_x"] <= r["end_y"] and r["start_y"] <= r["end_x"]


def test_overlap_no_duplicate_pairs_across_bands(spark):
    # one long interval spanning every band must still match each right
    # interval exactly once
    left = spark.createDataFrame([(1, 0, 1000)], "id long, s long, e long")
    right = spark.createDataFrame(
        [(i, i * 10, i * 10 + 5) for i in range(100)], "id long, s long, e long"
    )
    out = overlap_join(left, right, "s", "e", "s", "e", strategy="band", num_bands=8)
    rows = out.collect()
    assert len(rows) == 100  # each exactly once
    assert len({r["id_y"] for r in rows}) == 100


def test_overlap_validation(spark):
    df = spark.createDataFrame([(1, 2)], "s long, e long")
    with pytest.raises(ValueError):
        overlap_join(df, df, "s", "nope", "s", "e")


def test_merge_intervals_numeric(spark):
    from pandance_spark.operators.overlap import merge_intervals

    rows = [
        # key a: [1,3] [2,5] touch-merge [5,6]; [8,9] separate
        ("a", 1, 3), ("a", 2, 5), ("a", 5, 6), ("a", 8, 9),
        # key b: nested + null bound dropped
        ("b", 10, 20), ("b", 12, 13), ("b", None, 4),
    ]
    df = spark.createDataFrame(rows, "k string, s int, e int")
    got = sorted(
        (r["k"], r["s"], r["e"], r["n_merged"])
        for r in merge_intervals(df, "s", "e", by="k").collect()
    )
    assert got == [("a", 1, 6, 3), ("a", 8, 9, 1), ("b", 10, 20, 2)]


def test_merge_intervals_chain_through_max_end(spark):
    from pandance_spark.operators.overlap import merge_intervals

    # [1,10] swallows [2,3]; [4,5] overlaps the RUNNING MAX (10), not
    # just the previous row's end (3) — the classic gaps-and-islands bug
    df = spark.createDataFrame(
        [(1, 10), (2, 3), (4, 5), (11, 12)], "s int, e int"
    )
    got = sorted(
        (r["s"], r["e"], r["n_merged"])
        for r in merge_intervals(df, "s", "e").collect()
    )
    assert got == [(1, 10, 3), (11, 12, 1)]


def test_merge_intervals_timestamps(spark, sf_dir):
    from pandance_spark.operators.overlap import merge_intervals
    from pandance_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        F.col("ts").alias("span_start"),
        (F.col("ts") + F.expr("INTERVAL 2 MINUTES")).alias("span_end"),
    )
    out = merge_intervals(iv, "span_start", "span_end", by="user_id")
    rows = out.collect()
    assert len(rows) > 0
    # invariants: spans don't overlap per user, counts sum to input
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(
            (r["span_start"], r["span_end"], r["n_merged"])
        )
    for spans in by_user.values():
        spans.sort()
        for (s1, e1, _), (s2, e2, _) in zip(spans, spans[1:]):
            assert s2 > e1  # strictly separated islands
    assert sum(r["n_merged"] for r in rows) == iv.count()


def test_sessionize_operator(spark):
    import datetime as dt

    from pandance_spark.operators.sessions import sessionize

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        # user 1: two sessions (35-min gap between events 2 and 3)
        (1, 1, t0),
        (1, 2, t0 + dt.timedelta(minutes=10)),
        (1, 3, t0 + dt.timedelta(minutes=45)),
        # user 2: one session
        (2, 4, t0),
        (2, 5, t0 + dt.timedelta(minutes=29)),
    ]
    df = spark.createDataFrame(rows, "user_id int, event_id int, ts timestamp")
    out = {
        r["event_id"]: r["session_seq"]
        for r in sessionize(
            df, "user_id", "ts", dt.timedelta(minutes=30),
            order_cols=["event_id"],
        ).collect()
    }
    assert out == {1: 1, 2: 1, 3: 2, 4: 1, 5: 1}

    # numeric event times + gap
    nd = spark.createDataFrame(
        [(1, 0.0), (1, 5.0), (1, 100.0)], "k int, t double"
    )
    got = sorted(
        (r["t"], r["session_seq"])
        for r in sessionize(nd, "k", "t", 10.0).collect()
    )
    assert got == [(0.0, 1), (5.0, 1), (100.0, 2)]

    import pytest as _pt

    with _pt.raises(TypeError):
        sessionize(df, "user_id", "ts", 30)  # timestamp needs timedelta
    with _pt.raises(ValueError):
        sessionize(
            df.withColumn("session_seq", F.lit(1)),
            "user_id", "ts", dt.timedelta(minutes=1),
        )


def test_sessionize_single_exchange_plan(spark):
    import datetime as dt

    from pandance_spark.operators.sessions import sessionize

    df = spark.createDataFrame(
        [(1, 1, dt.datetime(2024, 1, 1))], "u int, e int, ts timestamp"
    )
    plan = sessionize(df, "u", "ts", dt.timedelta(minutes=30))._jdf.queryExecution().executedPlan().toString()
    # lag + running sum share one shuffle
    assert plan.count("Exchange") == 1


def test_range_lookup_point_in_range(spark):
    from pandance_spark.operators.overlap import range_lookup

    facts = spark.createDataFrame(
        [(1, 5), (2, 10), (3, 25), (4, 99)], "id int, v int"
    )
    dims = spark.createDataFrame(
        [(0, 9, "low"), (10, 19, "mid"), (20, 50, "high")],
        "lo int, hi int, label string",
    )
    got = {
        (r["id"], r["label"])
        for r in range_lookup(facts, dims, "v", "lo", "hi").collect()
    }
    # boundaries inclusive; 99 matches nothing (inner join)
    assert got == {(1, "low"), (2, "mid"), (3, "high")}

    # overlapping dims -> multiple matches
    dims2 = spark.createDataFrame(
        [(0, 10, "a"), (5, 15, "b")], "lo int, hi int, label string"
    )
    got2 = {
        (r["id"], r["label"])
        for r in range_lookup(facts, dims2, "v", "lo", "hi").collect()
    }
    assert got2 == {(1, "a"), (1, "b"), (2, "a"), (2, "b")}


def test_overlap_suffix_collision_raises(spark):
    # a suffixed name that collides with an existing column is a clear
    # ValueError (as in ineq_join), not an ambiguous reference
    from pandance_spark.operators.overlap import range_lookup

    left = spark.createDataFrame([(1, 3, 0, 0)], "s long, e long, a long, a_x long")
    right = spark.createDataFrame([(2, 4, 0)], "s2 long, e2 long, a long")
    for strategy in ("bnl", "band"):
        with pytest.raises(ValueError, match="'a_x' collides"):
            overlap_join(left, right, "s", "e", "s2", "e2", strategy=strategy)
    facts = spark.createDataFrame([(2, 0, 0)], "v long, a long, a_x long")
    with pytest.raises(ValueError, match="'a_x' collides"):
        range_lookup(facts, right, "v", "s2", "e2")
    # a suffixed name may not collide with the other side's column either
    right2 = spark.createDataFrame([(2, 4, 0, 0)], "s2 long, e2 long, a long, a_x long")
    left2 = spark.createDataFrame([(1, 3, 0)], "s long, e long, a long")
    with pytest.raises(ValueError, match="'a_x' collides"):
        overlap_join(left2, right2, "s", "e", "s2", "e2", strategy="bnl")
