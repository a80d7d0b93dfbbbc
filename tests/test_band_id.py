"""``_kernel.band_id`` boundaries: the band of a value is
``bisect_right(cuts, value)``, and the one-expression SQL form agrees
row for row with the Column-API chain of CASE WHENs it replaced."""

import datetime as dt
import math
from bisect import bisect_right

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
