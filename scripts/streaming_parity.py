"""Streaming parity gate.

Structured Streaming operators can't appear in ``queries()`` (the
driver collects batch DataFrames), so this script closes the loop the
same way the batch operators are closed: each entry of ``CASES``
replays one streaming operator over a finite fixture, materializes its
final result, and compares it row-for-row, through the order-insensitive
``harness.value_hash``, against (a) the equivalent batch operator and
(b) a DuckDB oracle.

Usage::

    python scripts/streaming_parity.py [--json STREAMING_PARITY_rNN.json]

Exit code 1 if any comparison fails.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import sys
import tempfile
from typing import Callable, NamedTuple

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from harness import duck_views, session, value_hash  # noqa: E402
from pyspark.sql import Window, functions as F  # noqa: E402

from pandance_spark import asof_join, fuzzy_join, ineq_join, theta_join  # noqa: E402
from pandance_spark.functions.analytics import funnel_steps  # noqa: E402
from pandance_spark.functions.dsir import (  # noqa: E402
    dsir_scores,
    dsir_weights,
    hashed_feature_counts,
)
from pandance_spark.functions.text import c4_clean  # noqa: E402
from pandance_spark.functions.url import (  # noqa: E402
    normalize_url,
    parse_robots,
    robots_filter,
)
from pandance_spark.operators.dedup import _banded_keys, _hash_params  # noqa: E402
from pandance_spark.operators.rollup import (  # noqa: E402
    build_cms,
    build_rollup,
    build_rollup_bottomk,
    build_rollup_hist,
    build_rollup_qsketch,
    finalize_rollup,
    merge_rollup_hist,
)
from pandance_spark.operators.scd import scd2_history  # noqa: E402
from pandance_spark.sources import load_table  # noqa: E402
from pandance_spark.streaming import (  # noqa: E402
    _rollup_batch_handler,
    read_cms,
    read_events_stream,
    running_user_stats,
    sessionize_stream,
    stream_cms_sink,
    stream_rollup_bottomk_sink,
    stream_rollup_hist_sink,
    stream_rollup_qsketch_sink,
    stream_rollup_sink,
    stream_scd2_sink,
    stream_upsert_sink,
    streaming_asof_join,
    streaming_bloom_dedup,
    streaming_c4_gate,
    streaming_contamination_router,
    streaming_dedup,
    streaming_dsir_router,
    streaming_funnel,
    streaming_fuzzy_join,
    streaming_ineq_join,
    streaming_near_dup_filter,
    streaming_robots_router,
    streaming_similarity_join,
    streaming_theta_join,
    streaming_token_budget_router,
    streaming_url_dedup,
    windowed_event_counts,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
BASE_TS = dt.datetime(2024, 1, 1)


class Case(NamedTuple):
    """One operator: its output columns, the stream side, its batch
    twin (each ``Ctx -> DataFrame or list of dicts``) and DuckDB SQL
    over the fixture views."""

    op: str
    cols: list
    stream: Callable
    batch: Callable
    sql: str
    note: str


class Ctx:
    """What every case builds on: the session, the DuckDB views, the
    batch fixture tables and a scratch directory for sources and sinks."""

    def __init__(self, spark, con, tmp):
        self.spark, self.con, self.tmp, self.op = spark, con, tmp, None
        self.events = load_table(spark, SF_DIR, "events")
        self.documents = load_table(spark, SF_DIR, "documents")

    def path(self, name):
        return os.path.join(self.tmp, name)

    def source(self, name, *parts):
        """Append each part as one parquet file under ``name`` (also a
        DuckDB view) and stream the directory one file per micro-batch."""
        path = self.path(name)
        for part in parts:
            part.coalesce(1).write.mode("append").parquet(path)
        self.con.execute(
            f"CREATE OR REPLACE VIEW {name} AS "
            f"SELECT * FROM read_parquet('{path}/*.parquet')"
        )
        return (
            self.spark.readStream.schema(parts[0].schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(path)
        )

    def table(self, name):
        """A source written by ``source`` read back as one batch table."""
        return self.spark.read.parquet(self.path(name))

    def run(self, writer):
        """Start a stream writer, drain every available file, stop."""
        q = writer.start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    def memory(self, df, mode="append"):
        """Run a stream into a memory sink named after the case."""
        name = f"parity_{self.op}"
        self.run(df.writeStream.format("memory").queryName(name).outputMode(mode))
        return self.spark.table(name)


def halves(df, first):
    return df.filter(first), df.filter(~first)


def rows(con, cols, x):
    """A DataFrame, DuckDB SQL or list of dicts as tuples in ``cols`` order."""
    if isinstance(x, str):
        rel = con.sql(x)
        idx = [rel.columns.index(c) for c in cols]
        return [tuple(t[i] for i in idx) for t in rel.fetchall()]
    if isinstance(x, list):
        return [tuple(r[c] for c in cols) for r in x]
    return [tuple(r) for r in x.select(*cols).collect()]


def df_hash(df):
    return value_hash(df.columns, [tuple(r) for r in df.collect()])


def sink_target(c, name, parts, sink, restart=False):
    """Stream ``parts`` (one file each) through ``sink(stream, target)``
    and return the target path.  ``restart`` runs one query per part,
    each on a source holding one more file (the sink's checkpoint
    resumes it), so batch order is file order."""
    tgt = c.path(name + "_tgt")
    for batch in [[p] for p in parts] if restart else [parts]:
        c.run(sink(c.source(name + "_src", *batch), tgt))
    return tgt


# ----------------------------------------------------------------------
# shared fixtures and SQL fragments
# ----------------------------------------------------------------------


def banded_cte(prefix: str, src_sql: str) -> str:
    """DuckDB CTE chain computing the EXACT portable LSH band keys
    pandance_spark emits for (doc_id, text) rows of ``src_sql``:
    tokenize -> 3-shingles -> md5-folded 31-bit shingle hash
    (((hi % p) * (2^32 % p) + lo) % p, 2^32 % p == 2) -> 64-slot
    affine-min signature (empty set -> all-p sentinel) -> per-band
    md5 hash of the comma-joined slot values."""
    params = _hash_params(64, 42)
    vals = ", ".join(f"({k}, {a}, {b})" for k, (a, b) in enumerate(params))
    P = prefix
    return f"""
{P}src AS ({src_sql}),
{P}toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                             t -> t <> '') AS ts
  FROM {P}src
),
{P}sh AS (
  SELECT doc_id,
         CASE WHEN len(ts) < 3 THEN []
              ELSE [array_to_string(list_slice(ts, i, i+2), ' ')
                    for i in range(1, len(ts)-1)] END AS ss
  FROM {P}toks
),
{P}hsh AS (
  SELECT doc_id,
         ((CAST('0x' || substr(md5(u.s), 1, 8) AS BIGINT) % 2147483647) * 2
           + CAST('0x' || substr(md5(u.s), 9, 8) AS BIGINT)) % 2147483647 AS h
  FROM {P}sh, unnest({P}sh.ss) AS u(s)
),
{P}params(k, a, b) AS (VALUES {vals}),
{P}slot AS (
  SELECT s.doc_id, p.k,
         coalesce(min((p.a * h.h + p.b) % 2147483647), 2147483647) AS m
  FROM {P}sh s CROSS JOIN {P}params p
  LEFT JOIN {P}hsh h ON h.doc_id = s.doc_id
  GROUP BY 1, 2
),
{P}sig AS (SELECT doc_id, list(m ORDER BY k) AS sig FROM {P}slot GROUP BY 1),
{P}band AS (
  SELECT doc_id, bi.band,
         CAST('0x' || substr(md5(array_to_string(
           list_slice(sig, bi.band * 4 + 1, bi.band * 4 + 4), ',')), 1, 8)
           AS BIGINT) AS bhash
  FROM {P}sig, (SELECT unnest(range(16)) AS band) bi
)"""


def banded(df):
    return _banded_keys(df, "doc_id", "text", 64, 16, 3, 42, portable=True)


def by_doc_id_median(df):
    mid = df.agg(F.expr("percentile(doc_id, 0.5)")).collect()[0][0]
    return halves(df, F.col("doc_id") <= mid)


def even_odd(df, col):
    return halves(df, F.col(col) % 2 == 0)


# ----------------------------------------------------------------------
# 1-2. stateful dedup and windowed counts over the events stream
# ----------------------------------------------------------------------

DEDUP = Case(
    "streaming_dedup",
    ["user_id", "event_type"],
    lambda c: c.memory(
        streaming_dedup(
            read_events_stream(c.spark, SF_DIR), ["user_id", "event_type"],
            watermark="3650 days",
        ).select("user_id", "event_type")
    ),
    lambda c: c.events.dropDuplicates(["user_id", "event_type"]),
    "SELECT DISTINCT user_id, event_type FROM events",
    "",
)


def windows_batch(c):
    return c.events.groupBy(
        F.window("ts", "5 minutes").alias("win"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 6).alias("total_value"),
    ).select(
        F.col("win.start").alias("window_start"),
        F.col("win.end").alias("window_end"),
        "event_type", "n", "total_value",
    )


WINDOWS = Case(
    "windowed_event_counts",
    ["window_start", "window_end", "event_type", "n", "total_value"],
    lambda c: c.memory(
        windowed_event_counts(
            read_events_stream(c.spark, SF_DIR), window="5 minutes",
            watermark="10 minutes",
        ).withColumn("total_value", F.round("total_value", 6)),
        mode="complete",
    ),
    windows_batch,
    """
    SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start,
           time_bucket(INTERVAL '5 minutes', ts) + INTERVAL '5 minutes' AS window_end,
           event_type, count(*) AS n,
           round(sum(value), 6) AS total_value
    FROM events GROUP BY 1, 2, 3
    """,
    "",
)

# ----------------------------------------------------------------------
# 3-4. merge sinks restarted per micro-batch, so batch order is file order
# ----------------------------------------------------------------------


def cdc_log(c):
    return c.events.select("user_id", "event_type", "ts", "event_id")


def scd2_stream(c):
    # time-ordered micro-batches: cross-batch no-change collapse is
    # exercised, and apply == full-log recompute holds exactly.  (The
    # LATE-batch splice semantics are driver-oracle-checked by the
    # scd2_apply_late queries() entry — an SCD2 apply cannot recover
    # observations the base history already collapsed, so a full-log
    # oracle would be the wrong comparison for an out-of-order split.)
    log = cdc_log(c)
    cutoff = log.agg(F.percentile_approx("ts", 0.5).alias("c")).first()["c"]
    return c.spark.read.parquet(sink_target(
        c, "scd", halves(log, F.col("ts") <= F.lit(cutoff)),
        lambda s, tgt: stream_scd2_sink(
            s, tgt, ["user_id"], ["event_type"], "ts", num_buckets=4
        ),
        restart=True,
    ))


SCD2 = Case(
    "stream_scd2_sink",
    ["user_id", "event_type", "valid_from", "valid_to", "is_current"],
    scd2_stream,
    lambda c: scd2_history(cdc_log(c), ["user_id"], ["event_type"], "ts"),
    """
    WITH h AS (
      SELECT user_id, event_type, ts,
             lag(event_type) OVER w AS prev, row_number() OVER w AS rn
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    c AS (
      SELECT user_id, event_type, ts FROM h
      WHERE rn = 1 OR prev IS DISTINCT FROM event_type
    )
    SELECT user_id, event_type, ts AS valid_from,
           lead(ts) OVER w2 AS valid_to,
           (lead(ts) OVER w2 IS NULL) AS is_current
    FROM c WINDOW w2 AS (PARTITION BY user_id ORDER BY ts)
    """,
    "2 time-ordered micro-batches; late-splice semantics are "
    "driver-checked via the scd2_apply_late oracle query",
)

UPSERT = Case(
    "stream_upsert_sink",
    ["user_id", "event_type", "ts"],
    lambda c: c.spark.read.parquet(sink_target(
        c, "ups", even_odd(cdc_log(c), "event_id"),
        lambda s, tgt: stream_upsert_sink(s, tgt, ["user_id"], "ts", num_buckets=4),
        restart=True,
    )),
    lambda c: cdc_log(c).withColumn(
        "__rn",
        F.row_number().over(Window.partitionBy("user_id").orderBy(F.col("ts").desc())),
    ).filter(F.col("__rn") == 1),
    "SELECT user_id, arg_max(event_type, ts) AS event_type, "
    "max(ts) AS ts FROM events GROUP BY user_id",
    "OUT-OF-ORDER split (odd event_ids replayed second): the "
    "version-aware merge must still land on the global latest",
)

# ----------------------------------------------------------------------
# 5-6. portable MinHash-LSH: md5-derived shingle and band hashes let
# DuckDB recompute the identical 64-slot signatures from the raw text
# ----------------------------------------------------------------------


def similarity_stream(c):
    rows_ = []
    for i, r in enumerate(c.documents.limit(80).collect()):
        ts0 = BASE_TS + dt.timedelta(minutes=3 * i)
        rows_.append((2 * i, r["text"], ts0))
        if i % 4 == 0:  # near-dup copy arriving 5 minutes later
            rows_.append((2 * i + 1, r["text"], ts0 + dt.timedelta(minutes=5)))
    docs = c.spark.createDataFrame(rows_, "doc_id long, text string, ts timestamp")
    return c.memory(
        streaming_similarity_join(
            c.source("sim_src", docs), "doc_id", "text", ts_col="ts",
            window="10 minutes", watermark="2 hours", portable=True,
        )
    )


def similarity_batch(c):
    keys = _banded_keys(
        c.table("sim_src"), "doc_id", "text", 64, 16, 3, 42,
        carry=["ts"], portable=True,
    )
    a = keys.select(
        F.col("doc_id").alias("id_a"), F.col("ts").alias("ts_a"), "band", "bhash"
    )
    b = keys.select(
        F.col("doc_id").alias("id_b"), F.col("ts").alias("ts_b"),
        F.col("band").alias("band_b"), F.col("bhash").alias("bhash_b"),
    )
    return a.join(
        b,
        (F.col("band") == F.col("band_b"))
        & (F.col("bhash") == F.col("bhash_b"))
        & (F.col("id_a") < F.col("id_b"))
        & (F.abs(F.col("ts_b").cast("long") - F.col("ts_a").cast("long")) <= 600),
    )


SIMILARITY = Case(
    "streaming_similarity_join",
    ["id_a", "id_b", "band"],
    similarity_stream,
    similarity_batch,
    "WITH " + banded_cte("s_", "SELECT doc_id, text FROM sim_src") + """,
s_ts AS (SELECT doc_id, CAST(ts AS TIMESTAMP) AS ts FROM sim_src)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.band
FROM s_band a
JOIN s_band b ON a.band = b.band AND a.bhash = b.bhash
             AND a.doc_id < b.doc_id
JOIN s_ts ta ON ta.doc_id = a.doc_id
JOIN s_ts tb ON tb.doc_id = b.doc_id
WHERE abs(epoch(ta.ts) - epoch(tb.ts)) <= 600
""",
    "portable=True: md5-derived shingle/band hashes let "
    "DuckDB recompute the identical MinHash-LSH pipeline",
)


def ndf_reference(c):
    return c.documents.filter(F.col("doc_id") % 3 == 0)


def ndf_batch(c):
    sb = banded(c.table("ndf_src"))
    rb = banded(ndf_reference(c)).select("band", "bhash").distinct()
    hit = sb.join(rb, ["band", "bhash"], "left_semi").select("doc_id").distinct()
    return (
        sb.join(rb, ["band", "bhash"], "left_anti")
        .select("doc_id").distinct()
        .join(hit, "doc_id", "left_anti")
    )


NEAR_DUP = Case(
    "streaming_near_dup_filter",
    ["doc_id"],
    lambda c: c.memory(
        streaming_near_dup_filter(
            c.source(
                "ndf_src",
                c.documents.filter(F.col("doc_id") % 3 != 0).select(
                    "doc_id", "text", F.lit(BASE_TS).alias("ts")
                ),
            ),
            ndf_reference(c), "doc_id", "text", portable=True,
        ).select("doc_id")
    ),
    ndf_batch,
    "WITH "
    + banded_cte("n_", "SELECT doc_id, text FROM ndf_src")
    + ", "
    + banded_cte(
        "r_", "SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0"
    ).lstrip()
    + """
SELECT DISTINCT s.doc_id
FROM n_src s
WHERE NOT EXISTS (
  SELECT 1 FROM n_band bs JOIN r_band br
    ON bs.band = br.band AND bs.bhash = br.bhash
  WHERE bs.doc_id = s.doc_id
)
""",
    "portable=True: survivor = no md5-LSH band collides "
    "with the static reference; DuckDB replays both sides",
)

# ----------------------------------------------------------------------
# 7-8. session windows and applyInPandasWithState per-user stats
# ----------------------------------------------------------------------


def sessions_log(c):
    return c.events.select("user_id", "ts", "value")


def sessions_stream(c):
    # a far-future sentinel event advances the watermark so every real
    # session flushes; sentinel sessions are excluded from the result
    log = sessions_log(c)
    sentinel = c.spark.createDataFrame(
        [(-1, log.agg(F.max("ts")).first()[0] + dt.timedelta(days=30), 0.0)],
        "user_id bigint, ts timestamp, value double",
    )
    return c.memory(
        sessionize_stream(
            c.source("sess_src", log, sentinel), gap="30 minutes",
            watermark="10 minutes",
        )
    ).filter("user_id >= 0")


SESSIONS = Case(
    "sessionize_stream",
    ["session_start", "session_end", "user_id", "n_events"],
    sessions_stream,
    lambda c: sessions_log(c).groupBy(
        F.session_window("ts", "30 minutes").alias("sess"), "user_id"
    ).agg(F.count(F.lit(1)).alias("n_events")).select(
        F.col("sess.start").alias("session_start"),
        F.col("sess.end").alias("session_end"),
        "user_id", "n_events",
    ),
    # gaps-and-islands: session end = last event + gap
    """
    WITH o AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                    OR lag(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS brk
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    g AS (
      SELECT user_id, ts,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts) AS sid
      FROM o
    )
    SELECT min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           user_id, count(*) AS n_events
    FROM g GROUP BY user_id, sid
    """,
    "sentinel event advances the watermark to flush sessions",
)

USER_STATS = Case(
    "running_user_stats",
    ["user_id", "n_events", "total_value", "last_ts"],
    # the final update per user is the one with the most events
    lambda c: c.memory(
        running_user_stats(read_events_stream(c.spark, SF_DIR)), mode="update"
    ).withColumn(
        "__rn",
        F.row_number().over(
            Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
        ),
    ).filter("__rn = 1").withColumn("total_value", F.round("total_value", 6)),
    lambda c: c.events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 6).alias("total_value"),
        F.max("ts").alias("last_ts"),
    ),
    "SELECT user_id, count(*) AS n_events, "
    "round(sum(value), 6) AS total_value, max(ts) AS last_ts "
    "FROM events GROUP BY user_id",
    "final applyInPandasWithState update per user == batch agg",
)

# ----------------------------------------------------------------------
# 9-11. stateless routers over the events stream
# ----------------------------------------------------------------------


def noisy_url(col):
    return F.concat(
        F.when(col % 2 == 0, F.lit("HTTP://SITE")).otherwise(F.lit("http://site")),
        (col % 5).cast("string"),
        F.lit(".example.com"),
        F.when(col % 2 == 0, F.lit(":80")).otherwise(F.lit("")),
        F.lit("/e/"),
        (col % 40).cast("string"),
        F.when(col % 3 == 0, F.lit("?utm_source=x#f")).otherwise(F.lit("")),
    )


# the canonical-URL key set is the operator's contract (survivor ROWS
# differ by arrival order, as in streaming_dedup)
URL_DEDUP = Case(
    "streaming_url_dedup",
    ["url_norm"],
    lambda c: c.memory(
        streaming_url_dedup(
            read_events_stream(c.spark, SF_DIR).withColumn(
                "url", noisy_url(F.col("event_id"))
            ),
            "url", watermark="3650 days",
        ).select("url_norm")
    ),
    lambda c: c.events.select(
        normalize_url(noisy_url(F.col("event_id"))).alias("url_norm")
    ).dropDuplicates(["url_norm"]),
    "SELECT DISTINCT 'http://site' || CAST(event_id % 5 AS VARCHAR)"
    " || '.example.com/e/' || CAST(event_id % 40 AS VARCHAR)"
    " AS url_norm FROM events",
    "canonical-URL key set == batch normalize+distinct == closed form",
)


def bloom_keys(df):
    return df.withColumn(
        "key", F.concat(F.lit("e"), (F.col("event_id") % 800).cast("string"))
    ).select("event_id", "key")


def bloom_index(c):
    return c.spark.range(400).selectExpr("concat('e', id) AS key")


# exact anti-join semantics per micro-batch: duplicate stream keys both
# pass when novel; the bitmap only prunes, never decides
BLOOM = Case(
    "streaming_bloom_dedup",
    ["event_id", "key"],
    lambda c: c.memory(
        streaming_bloom_dedup(
            bloom_keys(read_events_stream(c.spark, SF_DIR)), bloom_index(c), "key"
        )
    ),
    lambda c: bloom_keys(c.events).join(bloom_index(c), "key", "left_anti"),
    "SELECT event_id, 'e' || CAST(event_id % 800 AS VARCHAR) AS key "
    "FROM events WHERE event_id % 800 >= 400",
    "stream replay == batch anti-join == closed-form anti join",
)

DSIR_BUCKETS = 512


def dsir_weight_table(c):
    tgt = c.spark.range(20).selectExpr("'tok1 tok2 common' AS text")
    raw = c.spark.range(60).selectExpr("concat('tok', id % 7, ' common') AS text")
    return dsir_weights(
        hashed_feature_counts(tgt, "text", DSIR_BUCKETS),
        hashed_feature_counts(raw, "text", DSIR_BUCKETS),
        DSIR_BUCKETS,
    ).localCheckpoint()


def dsir_text(df):
    return df.withColumn(
        "text",
        F.concat(
            F.lit("tok"), (F.col("event_id") % 7).cast("string"),
            F.lit(" tok"), (F.col("event_id") % 3).cast("string"),
            F.lit(" common"),
        ),
    ).select("event_id", "text")


DSIR_FEATURES = (
    "SELECT {src}.*, unnest(ts || CASE WHEN len(ts) < 2 THEN [] ELSE "
    "[array_to_string(list_slice(ts, i, i+1), ' ') "
    "for i in range(1, len(ts))] END) AS f FROM "
    "(SELECT *, list_filter(string_split_regex(lower(text), "
    "'[^a-z0-9]+'), x -> x <> '') AS ts FROM {src}) AS {src}"
)

# pure projection per micro-batch against a FIXED weight table, so the
# replay equals the batch scorer equals a DuckDB replay of features,
# buckets, weights and score sums (integer micro-units)
DSIR = Case(
    "streaming_dsir_router",
    ["event_id", "score_micro", "n_features", "keep"],
    lambda c: c.memory(
        streaming_dsir_router(
            dsir_text(read_events_stream(c.spark, SF_DIR)), dsir_weight_table(c),
            "text", threshold_micro=0, buckets=DSIR_BUCKETS,
        )
    ),
    lambda c: dsir_scores(
        dsir_text(c.events), id_col="event_id", buckets=DSIR_BUCKETS,
        weights=dsir_weight_table(c),
    ).withColumn("keep", F.col("score_micro") >= 0),
    f"""
    WITH tgt AS (SELECT 'tok1 tok2 common' AS text
                 FROM generate_series(1, 20)),
    rawref AS (SELECT 'tok' || (i % 7) || ' common' AS text
               FROM generate_series(0, 59) AS t(i)),
    ev AS (SELECT event_id,
                  'tok' || (event_id % 7) || ' tok' ||
                  (event_id % 3) || ' common' AS text
           FROM events),
    ft AS ({DSIR_FEATURES.format(src='tgt')}),
    fr AS ({DSIR_FEATURES.format(src='rawref')}),
    fe AS ({DSIR_FEATURES.format(src='ev')}),
    tc AS (SELECT CAST('0x' || substr(md5(f), 1, 8) AS BIGINT)
                    % {DSIR_BUCKETS} AS bucket, count(*) AS t_cnt
           FROM ft GROUP BY 1),
    rc AS (SELECT CAST('0x' || substr(md5(f), 1, 8) AS BIGINT)
                    % {DSIR_BUCKETS} AS bucket, count(*) AS r_cnt
           FROM fr GROUP BY 1),
    w AS (SELECT coalesce(tc.bucket, rc.bucket) AS bucket,
                 CAST(round(1e6 * ln(
                   ((coalesce(t_cnt, 0) + 1)::DOUBLE
                     * ((SELECT coalesce(sum(r_cnt), 0) FROM rc)
                        + {DSIR_BUCKETS})::DOUBLE)
                   / ((coalesce(r_cnt, 0) + 1)::DOUBLE
                     * ((SELECT coalesce(sum(t_cnt), 0) FROM tc)
                        + {DSIR_BUCKETS})::DOUBLE))) AS BIGINT) AS w_micro
          FROM tc FULL OUTER JOIN rc ON tc.bucket = rc.bucket),
    s AS (SELECT fe.event_id,
                 sum(coalesce(w.w_micro, 0)) AS score_micro,
                 count(*) AS n_features
          FROM fe LEFT JOIN w
            ON CAST('0x' || substr(md5(fe.f), 1, 8) AS BIGINT)
                 % {DSIR_BUCKETS} = w.bucket
          GROUP BY 1)
    SELECT e.event_id, coalesce(s.score_micro, 0) AS score_micro,
           coalesce(s.n_features, 0) AS n_features,
           coalesce(s.score_micro, 0) >= 0 AS keep
    FROM ev e LEFT JOIN s USING (event_id)
    """,
    "stateless map-literal scorer: stream replay == batch "
    "join-path scorer == DuckDB feature/weight/score replay",
)

# ----------------------------------------------------------------------
# 12-13. hypertable continuous aggregates: two micro-batches == the
# from-scratch build == DuckDB, and an after-commit redelivery no-ops
# ----------------------------------------------------------------------


def rollup_log(c):
    return c.events.select("event_id", "ts", "event_type", "value")


def redelivered_rollup(c, name, sink, handler, proj, read_cols):
    """Stream the even/odd event halves through ``sink``, and feed the
    same halves to ``handler`` as batches 0 and 1 plus a redelivered
    batch 1 (explicit batch ids: the file source's batch->file
    assignment is mtime-order and can tie).  The replay guard must
    no-op the redelivery, so both targets hold the same rows."""
    even, odd = even_odd(rollup_log(c), "event_id")
    tgt, manual = sink_target(c, name, (even, odd), sink), c.path(name + "_manual")
    h = handler(manual)
    for bid, part in ((0, even), (1, odd), (1, odd)):
        h(part, bid)
    streamed, replayed = (
        proj(c.spark.read.parquet(p).select(*read_cols)) for p in (tgt, manual)
    )
    assert df_hash(streamed) == df_hash(replayed), (
        f"{name}: the redelivered batch changed the target — the replay "
        "guard double-counted"
    )
    return streamed


def rollup_proj(df):
    return finalize_rollup(df, 6).select(
        F.unix_timestamp(F.col("bucket")).alias("bucket_s"),
        "event_type", "cnt",
        F.round(F.col("v_sum"), 6).alias("v_sum"),
        "v_min", "v_max", "v_avg",
    )


ROLLUP = Case(
    "stream_rollup_sink",
    ["bucket_s", "event_type", "cnt", "v_sum", "v_min", "v_max", "v_avg"],
    lambda c: redelivered_rollup(
        c, "roll",
        lambda s, tgt: stream_rollup_sink(
            s, tgt, "ts", 3600, ["event_type"], "value", num_buckets=4
        ),
        lambda p: _rollup_batch_handler(p, "ts", 3600, ["event_type"], "value", 4),
        rollup_proj,
        ["bucket", "event_type", "cnt", "v_sum", "v_min", "v_max"],
    ),
    lambda c: rollup_proj(
        build_rollup(rollup_log(c), "ts", 3600, ["event_type"], "value")
    ),
    """
    SELECT CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 3600)
             AS BIGINT) * 3600 AS bucket_s,
           event_type, count(value) AS cnt,
           round(sum(value), 6) AS v_sum,
           min(value) AS v_min, max(value) AS v_max,
           round(sum(value) / count(value), 6) AS v_avg
    FROM events GROUP BY 1, 2 HAVING count(value) > 0
    """,
    "2-batch incremental merge == from-scratch rollup == "
    "DuckDB GROUP BY; committed-batch redelivery no-ops "
    "(__last_bid guard)",
)

HIST_BOUNDS = [5.0, 10.0, 20.0, 40.0, 80.0, 160.0, 320.0]


def hist_proj(df):
    return df.select(
        F.unix_timestamp(F.col("bucket")).alias("bucket_s"),
        "event_type",
        F.array_join(
            F.transform(F.col("hist"), lambda c: c.cast("string")), ","
        ).alias("hist_csv"),
    )


# integer bin counts, so streamed == batch == DuckDB with no rounding
HIST = Case(
    "stream_rollup_hist_sink",
    ["bucket_s", "event_type", "hist_csv"],
    lambda c: redelivered_rollup(
        c, "hroll",
        lambda s, tgt: stream_rollup_hist_sink(
            s, tgt, "ts", 3600, ["event_type"], "value", HIST_BOUNDS,
            num_buckets=4,
        ),
        lambda p: _rollup_batch_handler(
            p, "ts", 3600, ["event_type"], "value", 4,
            build_fn=lambda b, tc, w, ks, vc: build_rollup_hist(
                b, tc, w, ks, vc, HIST_BOUNDS
            ),
            merge_fn=merge_rollup_hist,
            metric_cols=["hist"],
        ),
        hist_proj,
        ["bucket", "event_type", "hist"],
    ),
    lambda c: hist_proj(
        build_rollup_hist(
            rollup_log(c), "ts", 3600, ["event_type"], "value", HIST_BOUNDS
        )
    ),
    """
    WITH bl(u) AS (VALUES (5.0), (10.0), (20.0), (40.0),
                          (80.0), (160.0), (320.0)),
    ev AS (
      SELECT CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 3600)
               AS BIGINT) * 3600 AS bucket_s,
             event_type,
             (SELECT count(*) FROM bl WHERE value > u) AS bin
      FROM events
      WHERE value IS NOT NULL AND NOT isnan(value)
    ),
    h AS (
      SELECT bucket_s, event_type, bin, count(*) AS c
      FROM ev GROUP BY 1, 2, 3
    ),
    g AS (
      SELECT be.bucket_s, be.event_type, bins.i AS bin,
             coalesce(h.c, 0) AS c
      FROM (SELECT DISTINCT bucket_s, event_type FROM ev) be
      CROSS JOIN range(8) bins(i)
      LEFT JOIN h ON h.bucket_s = be.bucket_s
                 AND h.event_type = be.event_type
                 AND h.bin = bins.i
    )
    SELECT bucket_s, event_type,
           string_agg(CAST(c AS VARCHAR), ',' ORDER BY bin)
             AS hist_csv
    FROM g GROUP BY 1, 2
    """,
    "histogram partials: streamed == batch == DuckDB "
    "BIT-FOR-BIT (integer bin counts, no rounding); "
    "committed-batch redelivery no-ops",
)

# ----------------------------------------------------------------------
# 14. stateful funnel over two TIME-ORDERED micro-batches (the
# documented ordering contract); a 36h window so the funnel
# discriminates (over the full month everyone completes)
# ----------------------------------------------------------------------

FUNNEL_STEPS = ["view", "click", "purchase"]
FUNNEL_CUTOFF = "2024-01-02 12:00:00"


def funnel_window(c):
    return c.events.filter(F.col("ts") < F.lit(FUNNEL_CUTOFF).cast("timestamp"))


def funnel_stream(c):
    log = funnel_window(c).select("user_id", "ts", "event_type")
    split = F.lit("2024-01-01 18:00:00").cast("timestamp")
    return c.memory(
        streaming_funnel(
            c.source("funnel_src", *halves(log, F.col("ts") < split)),
            "user_id", "ts", "event_type", FUNNEL_STEPS,
        ),
        mode="update",
    ).groupBy("user_id").agg(
        F.max("steps_reached").alias("steps_reached"),
        F.max_by("last_step", "steps_reached").alias("last_step"),
    )


FUNNEL = Case(
    "streaming_funnel",
    ["user_id", "steps_reached", "last_step"],
    funnel_stream,
    lambda c: funnel_steps(
        funnel_window(c), "user_id", "ts", "event_type", FUNNEL_STEPS
    ),
    f"""
    WITH ew AS (
      SELECT user_id, event_type, ts FROM events
      WHERE ts < TIMESTAMP '{FUNNEL_CUTOFF}' AND user_id IS NOT NULL
        AND ts IS NOT NULL
        AND event_type IN ('view', 'click', 'purchase')
    ),
    t1 AS (SELECT user_id, min(ts) AS t FROM ew
           WHERE event_type = 'view' GROUP BY 1),
    t2 AS (SELECT e.user_id, min(e.ts) AS t FROM ew e
           JOIN t1 ON e.user_id = t1.user_id AND e.ts > t1.t
           WHERE e.event_type = 'click' GROUP BY 1),
    t3 AS (SELECT e.user_id, min(e.ts) AS t FROM ew e
           JOIN t2 ON e.user_id = t2.user_id AND e.ts > t2.t
           WHERE e.event_type = 'purchase' GROUP BY 1)
    SELECT u.user_id,
           CASE WHEN t3.t IS NOT NULL THEN 3
                WHEN t2.t IS NOT NULL THEN 2
                WHEN t1.t IS NOT NULL THEN 1 ELSE 0 END
             AS steps_reached,
           CASE WHEN t3.t IS NOT NULL THEN 'purchase'
                WHEN t2.t IS NOT NULL THEN 'click'
                WHEN t1.t IS NOT NULL THEN 'view' END AS last_step
    FROM (SELECT DISTINCT user_id FROM ew) u
    LEFT JOIN t1 ON u.user_id = t1.user_id
    LEFT JOIN t2 ON u.user_id = t2.user_id
    LEFT JOIN t3 ON u.user_id = t3.user_id
    """,
    "stateful per-user funnel over two time-ordered "
    "micro-batches == batch fold == chained-min SQL",
)

# ----------------------------------------------------------------------
# 15. stateless exact shared-shingle count vs a broadcast benchmark
# shingle set (3-shingles so the short fixture docs overlap)
# ----------------------------------------------------------------------


def contamination(c, docs):
    bench = c.documents.filter(F.col("doc_id") % 13 == 0).select(
        F.col("doc_id").alias("bid"),
        F.expr("substring(text, 1, cast(floor(n_chars / 2.0) as int))").alias("btext"),
    )
    return streaming_contamination_router(
        docs, bench, "text", bench_text_col="btext", shingle_n=3, min_overlap=2
    )


CONTAMINATION = Case(
    "streaming_contamination_router",
    ["doc_id", "n_shared", "contaminated"],
    lambda c: c.memory(
        contamination(c, c.source("contam_src", c.documents.select("doc_id", "text")))
        .select("doc_id", "n_shared", "contaminated")
    ),
    lambda c: contamination(c, c.documents.select("doc_id", "text")),
    """
    WITH d AS (SELECT doc_id, text FROM documents),
    bsrc AS (
      SELECT substr(text, 1, CAST(floor(n_chars / 2.0) AS INT)) AS t
      FROM documents WHERE doc_id % 13 = 0
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(ts) < 3 THEN [] ELSE
               [array_to_string(list_slice(ts, i, i+2), ' ')
                for i in range(1, len(ts)-1)] END) AS s
      FROM (SELECT doc_id,
                   list_filter(string_split_regex(lower(text),
                                                  '[^a-z0-9]+'),
                               x -> x <> '') AS ts FROM d)
    ),
    bset AS (
      SELECT DISTINCT u.sg FROM (
        SELECT CASE WHEN len(ts) < 3 THEN [] ELSE
                 [array_to_string(list_slice(ts, i, i+2), ' ')
                  for i in range(1, len(ts)-1)] END AS ss
        FROM (SELECT list_filter(string_split_regex(lower(t),
                                                    '[^a-z0-9]+'),
                                 x -> x <> '') AS ts FROM bsrc)
      ), unnest(ss) AS u(sg)
    ),
    blist AS (SELECT list(sg) AS bs FROM bset)
    SELECT d.doc_id,
           CAST(len(list_intersect(sh.s, blist.bs)) AS INT) AS n_shared,
           len(list_intersect(sh.s, blist.bs)) >= 2 AS contaminated
    FROM sh JOIN d USING (doc_id), blist
    """,
    "stateless broadcast-set router: stream == batch == "
    "DuckDB string-shingle intersect counts (portable md5)",
)

# ----------------------------------------------------------------------
# 16. maintained KMV bottom-k sketches: the exactly-mergeable (and
# idempotent) member of the sink family
# ----------------------------------------------------------------------

SKETCH_K = 16


def bottomk_log(c):
    return c.events.select("user_id", "ts", "event_type").filter(
        F.col("user_id").isNotNull()
    )


def bottomk_rows(df):
    return [
        {
            "bucket_s": int(r["bucket"].timestamp()),
            "event_type": r["event_type"],
            "sketch": ",".join(f"{e['h']}:{e['v']}" for e in r["bk"]),
        }
        for r in df.select("bucket", "event_type", "bk").collect()
    ]


BOTTOMK = Case(
    "stream_rollup_bottomk_sink",
    ["bucket_s", "event_type", "sketch"],
    lambda c: bottomk_rows(
        c.spark.read.parquet(sink_target(
            c, "bk", even_odd(bottomk_log(c), "user_id"),
            lambda s, tgt: stream_rollup_bottomk_sink(
                s, tgt, "ts", 86400, ["event_type"], "user_id",
                k=SKETCH_K, num_buckets=8,
            ),
        ))
    ),
    lambda c: bottomk_rows(
        build_rollup_bottomk(
            bottomk_log(c), "ts", 86400, ["event_type"], "user_id", k=SKETCH_K
        )
    ),
    f"""
    WITH base AS (
      SELECT DISTINCT
             CAST(floor(epoch(ts) / 86400) AS BIGINT) * 86400
               AS bucket_s,
             event_type, user_id AS v
      FROM events WHERE user_id IS NOT NULL
    ),
    h AS (
      SELECT bucket_s, event_type, v,
             CAST('0x' || substr(md5(CAST(v AS VARCHAR)), 1, 15)
               AS BIGINT) AS h
      FROM base
    ),
    r AS (
      SELECT *, row_number() OVER (
               PARTITION BY bucket_s, event_type ORDER BY h, v) AS rn
      FROM h
    )
    SELECT bucket_s, event_type,
           string_agg(h || ':' || v, ',' ORDER BY h, v) AS sketch
    FROM r WHERE rn <= {SKETCH_K}
    GROUP BY 1, 2
    """,
    "maintained KMV sketches == batch build == DuckDB "
    "md5-order replay (exactly-mergeable, idempotent)",
)

# ----------------------------------------------------------------------
# 17-19. routers over doc_id-ordered micro-batches of the documents
# ----------------------------------------------------------------------

TOKEN_BUDGETS = {"en": 150_000, "de": 40_000}


def token_docs(c):
    # n_chars stands in for the token count; two langs capped
    return c.documents.select(
        "doc_id", "lang", F.col("n_chars").cast("long").alias("tokens")
    )


def token_budget_batch(c):
    cum = F.sum(F.coalesce(F.col("tokens"), F.lit(0))).over(
        Window.partitionBy("lang").orderBy("doc_id")
    )
    cap = (
        F.when(F.col("lang") == "en", F.lit(TOKEN_BUDGETS["en"]))
        .when(F.col("lang") == "de", F.lit(TOKEN_BUDGETS["de"]))
        .otherwise(F.lit(None).cast("long"))
    )
    return token_docs(c).select(
        "doc_id", "lang",
        F.coalesce(F.col("tokens"), F.lit(0)).alias("tokens"),
        cum.alias("cum_tokens"),
        F.coalesce(cum <= cap, F.lit(True)).alias("admitted"),
    )


TOKEN_BUDGET = Case(
    "streaming_token_budget_router",
    ["doc_id", "lang", "tokens", "cum_tokens", "admitted"],
    lambda c: c.memory(
        streaming_token_budget_router(
            c.source("tb_src", *by_doc_id_median(token_docs(c))),
            "lang", "doc_id", "tokens", TOKEN_BUDGETS,
        ),
        mode="update",
    ),
    token_budget_batch,
    f"""
    WITH t AS (
      SELECT doc_id, lang,
             CAST(coalesce(n_chars, 0) AS BIGINT) AS tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, lang, tokens,
             sum(tokens) OVER (PARTITION BY lang ORDER BY doc_id
                               ROWS UNBOUNDED PRECEDING)
               AS cum_tokens
      FROM t
    )
    SELECT doc_id, lang, tokens, cum_tokens,
           CASE lang WHEN 'en' THEN cum_tokens <= {TOKEN_BUDGETS["en"]}
                     WHEN 'de' THEN cum_tokens <= {TOKEN_BUDGETS["de"]}
                     ELSE TRUE END AS admitted
    FROM c
    """,
    "arrival-order budget admission == batch cumsum == "
    "DuckDB windowed SUM (id-ordered micro-batches)",
)


def c4_pages(c):
    # line breaks plus planted hazards, materialized to parquet so all
    # three engines consume identical bytes
    page = F.concat(
        F.regexp_replace(F.col("text"), r"\btable\b", "table.\n"),
        F.when(
            F.col("doc_id") % 5 == 0, F.lit("\nlorem ipsum filler text.")
        ).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 7 == 0, F.lit("\ncode { x }")).otherwise(F.lit("")),
    )
    return c.documents.select("doc_id", page.alias("page"))


C4_DROP_REASON = r"""CASE
             WHEN contains(lower(page), 'lorem ipsum') THEN 'lorem_ipsum'
             WHEN contains(page, '{') THEN 'curly_brace'
             WHEN regexp_matches(lower(page), '\b(merge)\b') THEN 'bad_words'
             WHEN length(text_c4) -
                  length(regexp_replace(text_c4, '[.!?]', '', 'g')) < 3
               THEN 'too_few_sentences'
           END"""

C4 = Case(
    "streaming_c4_gate",
    [
        "doc_id", "text_c4", "n_lines_kept", "n_lines_dropped",
        "n_sentences", "c4_keep", "c4_drop_reason",
    ],
    lambda c: c.memory(
        streaming_c4_gate(
            c.source("c4_src", *by_doc_id_median(c4_pages(c))), "page",
            badwords=("merge",),
        )
    ),
    lambda c: c4_clean(c.table("c4_src"), "page", badwords=("merge",)),
    r"""
    WITH kept AS (
      SELECT doc_id, page,
             len(string_split(page, chr(10))) AS n_total,
             list_transform(
               list_filter(string_split(page, chr(10)), l ->
                 regexp_matches(trim(l), '[.!?"]$')
                 AND len(list_filter(
                       regexp_split_to_array(trim(l), '\s+'),
                       w -> w <> '')) >= 5
                 AND NOT contains(lower(l), 'javascript')),
               l -> trim(l)) AS kl
      FROM c4_src
    ),
    agg AS (
      SELECT doc_id, page, n_total,
             COALESCE(array_to_string(kl, chr(10)), '') AS text_c4,
             len(kl) AS n_kept
      FROM kept
    )
    SELECT doc_id, text_c4,
           CAST(n_kept AS BIGINT) AS n_lines_kept,
           CAST(n_total - n_kept AS BIGINT) AS n_lines_dropped,
           CAST(length(text_c4) -
                length(regexp_replace(text_c4, '[.!?]', '', 'g'))
                AS BIGINT) AS n_sentences,
           (""" + C4_DROP_REASON + """) IS NULL AS c4_keep,
           """ + C4_DROP_REASON + """ AS c4_drop_reason
    FROM agg
    """,
    "stateless C4 admission == batch c4_clean == DuckDB "
    "list-lambda replay (materialized page fixture)",
)

ROBOTS_TXT = (
    "User-agent: *\nDisallow: /private\nAllow: /private/ok\n\n"
    "User-agent: specialbot\nDisallow: /\n"
)


def robots_rules(c):
    hosts = c.spark.createDataFrame(
        [("a.example", ROBOTS_TXT), ("b.example", "User-agent: *\nDisallow: /x")],
        ["host", "robots"],
    )
    return parse_robots(hosts, "robots", "host")


def robots_urls(c):
    d = F.col("doc_id")
    return c.documents.select(
        "doc_id",
        F.concat(
            F.when(d % 2 == 0, F.lit("http://a.example"))
            .otherwise(F.lit("http://b.example")),
            F.when(d % 5 == 0, F.lit("/private/z"))
            .when(d % 5 == 1, F.lit("/private/ok/z"))
            .when(d % 5 == 2, F.lit("/x/page"))
            .when(d % 5 == 3, F.lit("/pub"))
            .otherwise(F.lit("")),
        ).alias("u"),
    )


# the routing is this op's contract; parsing itself is oracle-checked
# by the robots_gate driver query, so DuckDB gets the fixture rules
ROBOTS = Case(
    "streaming_robots_router",
    ["doc_id", "u", "allowed", "rule_path"],
    lambda c: c.memory(
        streaming_robots_router(
            c.source("robots_urls", *by_doc_id_median(robots_urls(c))), "u",
            robots_rules(c),
        )
    ),
    lambda c: robots_filter(
        robots_urls(c), "u", robots_rules(c), keep_cols=("doc_id",)
    ).withColumnRenamed("url", "u"),
    """
    WITH rules(host, rule, path) AS (VALUES
      ('a.example', 'disallow', '/private'),
      ('a.example', 'allow', '/private/ok'),
      ('b.example', 'disallow', '/x')
    ),
    u AS (
      SELECT doc_id,
             CASE WHEN doc_id % 2 = 0 THEN 'http://a.example'
                  ELSE 'http://b.example' END ||
             CASE doc_id % 5
               WHEN 0 THEN '/private/z'
               WHEN 1 THEN '/private/ok/z'
               WHEN 2 THEN '/x/page'
               WHEN 3 THEN '/pub'
               ELSE '' END AS u
      FROM documents
    ),
    parts AS (
      SELECT doc_id, u,
             regexp_extract(u, '^[a-z]+://([^/]*)', 1) AS host,
             CASE WHEN regexp_extract(u, '^[a-z]+://[^/]*(/.*)$', 1)
                       = '' THEN '/'
                  ELSE regexp_extract(u,
                         '^[a-z]+://[^/]*(/.*)$', 1) END AS up
      FROM u
    ),
    matched AS (
      SELECT p.doc_id, p.u,
             MAX(struct_pack(
               l := length(r.path),
               a := CASE WHEN r.rule = 'allow' THEN 1 ELSE 0 END,
               p := r.path)) AS w
      FROM parts p JOIN rules r
        ON p.host = r.host AND starts_with(p.up, r.path)
      GROUP BY p.doc_id, p.u
    )
    SELECT p.doc_id, p.u,
           COALESCE(m.w.a = 1, TRUE) AS allowed,
           m.w.p AS rule_path
    FROM parts p LEFT JOIN matched m
      ON p.doc_id = m.doc_id
    """,
    "stateless crawl-policy routing == batch robots_filter "
    "== DuckDB longest-match replay (fixture rules)",
)

# ----------------------------------------------------------------------
# 20. maintained Count-Min sketch (counter addition is exact)
# ----------------------------------------------------------------------


def cms_log(c):
    return c.events.select("user_id", "ts").filter(F.col("user_id").isNotNull())


CMS = Case(
    "stream_cms_sink",
    ["row", "col", "cnt"],
    lambda c: read_cms(c.spark, sink_target(
        c, "cms", even_odd(cms_log(c), "user_id"),
        lambda s, tgt: stream_cms_sink(
            s, tgt, "user_id", depth=4, width=64, num_buckets=4
        ),
    )),
    lambda c: build_cms(cms_log(c), "user_id", depth=4, width=64),
    """
    SELECT t.r AS "row",
           CAST('0x' || substr(md5(CAST(t.r AS VARCHAR) || ':'
             || CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) % 64
             AS col,
           CAST(count(*) AS BIGINT) AS cnt
    FROM events, range(4) t(r)
    WHERE user_id IS NOT NULL
    GROUP BY 1, 2
    """,
    "maintained Count-Min grid == batch build_cms == "
    "DuckDB md5 hash-grid replay (counter addition exact)",
)

# ----------------------------------------------------------------------
# 21-24. stream-static joins: arriving events join a static dimension
# over two micro-batches, so the join replans across real batches
# ----------------------------------------------------------------------


def ladder(c, n, step, name):
    return c.spark.range(n).select(
        F.col("id").alias("level_id"), (F.col("id").cast("double") * step).alias(name)
    )


def asof_dim(c):
    return c.spark.createDataFrame(
        [
            (et, f"2024-01-{d:02d} 00:00:00", f"{et}_v{i}")
            for et in ("click", "view", "purchase", "signup", "error")
            for i, d in enumerate((3, 11, 22))
        ],
        "event_type string, valid_from string, config string",
    ).withColumn("valid_from", F.col("valid_from").cast("timestamp"))


def join_case(stream_op, batch_op, cols, events, right, kwargs, sql, note):
    """A stream-static join: ``stream_op`` on a two-file stream of
    ``events(c)`` (even/odd event_id), ``batch_op`` on the table, both
    against ``right(c)`` with the same keyword arguments."""
    name = stream_op.__name__
    return Case(
        name, cols,
        lambda c: c.memory(
            stream_op(
                c.source(name + "_src", *even_odd(events(c), "event_id")),
                right(c), **kwargs,
            )
        ),
        lambda c: batch_op(events(c), right(c), **kwargs),
        sql, note,
    )


JOINS = [
    join_case(
        streaming_fuzzy_join, fuzzy_join,
        ["event_id", "value", "level_id", "level"],
        lambda c: c.events.select("event_id", "value"),
        lambda c: ladder(c, 100, 0.5, "level"),
        dict(left_on="value", right_on="level", tol=0.1),
        """
        -- CAST keeps the ladder in DOUBLE (bare i * 0.5 is DECIMAL in
        -- DuckDB, which drifts both repr and the boundary comparison)
        SELECT event_id, value, i AS level_id,
               CAST(i AS DOUBLE) * 0.5 AS level
        FROM events, range(100) t(i)
        WHERE abs(value - CAST(i AS DOUBLE) * 0.5) <= 0.1
        """,
        "stream-static band join over 2 micro-batches == batch "
        "fuzzy_join == DuckDB brute-force abs() predicate",
    ),
    join_case(
        streaming_ineq_join, ineq_join,
        ["event_id", "value", "level_id", "lvl"],
        lambda c: c.events.select("event_id", "value").filter(F.col("event_id") % 5 == 0),
        lambda c: ladder(c, 40, 1.5, "lvl"),
        dict(how="<", left_on="value", right_on="lvl"),
        """
        SELECT event_id, value, i AS level_id,
               CAST(i AS DOUBLE) * 1.5 AS lvl
        FROM events, range(40) t(i)
        WHERE event_id % 5 = 0 AND value < CAST(i AS DOUBLE) * 1.5
        """,
        "stream-static quantile band join over 2 micro-batches "
        "== batch ineq_join == DuckDB brute-force <",
    ),
    join_case(
        streaming_theta_join, theta_join, ["event_id", "k"],
        lambda c: c.events.select("event_id").filter(F.col("event_id") % 11 == 0),
        lambda c: c.spark.range(25).select(F.col("id").alias("k")),
        dict(condition=lambda x, y: (x + y) % 7 == 0, left_on="event_id", right_on="k"),
        """
        SELECT event_id, i AS k FROM events, range(25) t(i)
        WHERE event_id % 11 = 0 AND (event_id + i) % 7 = 0
        """,
        "stream-static theta (Column fast path) over 2 "
        "micro-batches == batch theta_join == DuckDB",
    ),
    join_case(
        streaming_asof_join, asof_join,
        ["event_id", "event_type", "ts", "valid_from", "config"],
        lambda c: c.events.select("event_id", "event_type", "ts").filter(
            F.col("event_id") % 17 == 0
        ),
        asof_dim,
        dict(left_on="ts", right_on="valid_from", by=["event_type"], direction="backward"),
        """
        WITH dim AS (
          SELECT et AS event_type,
                 CAST('2024-01-' || lpad(d, 2, '0') AS TIMESTAMP)
                   AS valid_from,
                 et || '_v' || i AS config
          FROM (VALUES ('click'), ('view'), ('purchase'), ('signup'),
                       ('error')) t(et),
               (VALUES (0, '3'), (1, '11'), (2, '22')) v(i, d)
        )
        SELECT e.event_id, e.event_type, e.ts, dim.valid_from, dim.config
        FROM (SELECT event_id, event_type, ts FROM events
              WHERE event_id % 17 = 0) e
        ASOF LEFT JOIN dim
          ON e.event_type = dim.event_type AND e.ts >= dim.valid_from
        """,
        "stream-static interval asof (backward, by-key) over 2 "
        "micro-batches == batch asof_join == DuckDB ASOF LEFT JOIN",
    ),
]

# ----------------------------------------------------------------------
# 25. maintained quantile sketches (mergeable uniform-sample summary):
# sketch contents and true counts equal the batch build bit-for-bit
# ----------------------------------------------------------------------


def qsketch_log(c):
    return c.events.select("event_id", "ts", "event_type", "value").filter(
        F.col("value").isNotNull()
    )


def qsketch_rows(df):
    return [
        {
            "bucket_s": int(r["bucket"].timestamp()),
            "event_type": r["event_type"],
            "n": int(r["n"]),
            "sketch": ",".join("%d:%.9f" % (e["h"], e["v"]) for e in r["qs"]),
        }
        for r in df.select("bucket", "event_type", "qs", "n").collect()
    ]


QSKETCH = Case(
    "stream_rollup_qsketch_sink",
    ["bucket_s", "event_type", "n", "sketch"],
    lambda c: qsketch_rows(
        c.spark.read.parquet(sink_target(
            c, "qs", even_odd(qsketch_log(c), "event_id"),
            lambda s, tgt: stream_rollup_qsketch_sink(
                s, tgt, "ts", 86400, ["event_type"], "value", "event_id",
                k=SKETCH_K, num_buckets=8,
            ),
        ))
    ),
    lambda c: qsketch_rows(
        build_rollup_qsketch(
            qsketch_log(c), "ts", 86400, ["event_type"], "value", "event_id",
            k=SKETCH_K,
        )
    ),
    f"""
    WITH base AS (
      SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) * 86400
               AS bucket_s,
             event_type,
             CAST(value AS DOUBLE) AS v,
             CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15)
               AS BIGINT) AS h
      FROM events WHERE value IS NOT NULL
    ),
    r AS (
      SELECT *, row_number() OVER (
               PARTITION BY bucket_s, event_type ORDER BY h, v) AS rn,
             count(*) OVER (
               PARTITION BY bucket_s, event_type) AS n
      FROM base
    )
    SELECT bucket_s, event_type, CAST(max(n) AS BIGINT) AS n,
           string_agg(printf('%d:%.9f', h, v), ',' ORDER BY h, v)
             AS sketch
    FROM r WHERE rn <= {SKETCH_K}
    GROUP BY 1, 2
    """,
    "maintained quantile sketches == batch build == DuckDB "
    "md5-order replay (exact merge; replay-guarded, merge "
    "itself not idempotent)",
)


CASES = [
    DEDUP, WINDOWS, SCD2, UPSERT, SIMILARITY, NEAR_DUP, SESSIONS, USER_STATS,
    URL_DEDUP, BLOOM, DSIR, ROLLUP, HIST, FUNNEL, CONTAMINATION, BOTTOMK,
    TOKEN_BUDGET, C4, ROBOTS, CMS, *JOINS, QSKETCH,
]


def check(c, case):
    c.op = case.op
    s = rows(c.con, case.cols, case.stream(c))
    hs = value_hash(case.cols, s)
    hb = value_hash(case.cols, rows(c.con, case.cols, case.batch(c)))
    hd = value_hash(case.cols, rows(c.con, case.cols, case.sql))
    return {
        "op": case.op,
        "oracle": "duckdb",
        "rows": len(s),
        "stream_hash": hs[:16],
        "match_batch": hs == hb,
        "match_duckdb": hs == hd,
        "note": case.note,
    }


def main():
    out_path = None
    if "--json" in sys.argv:
        out_path = sys.argv[sys.argv.index("--json") + 1]

    spark = session("pdx_streaming_parity")
    con = duck_views(SF_DIR)
    con.execute(
        "CREATE OR REPLACE VIEW events AS SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) "
        f"FROM read_parquet('{os.path.join(SF_DIR, 'events.parquet')}')"
    )
    tmp = tempfile.mkdtemp(prefix="pdx_parity_")
    c = Ctx(spark, con, tmp)
    results = []
    for case in CASES:
        try:
            row = check(c, case)
        except Exception as e:  # one broken case must not hide the rest
            row = {"op": case.op, "oracle": "duckdb", "rows": None,
                   "match_batch": False, "match_duckdb": False,
                   "note": case.note, "error": f"{type(e).__name__}: {str(e)[:300]}"}
        results.append(row)
        ok = row["match_batch"] and row["match_duckdb"]
        print(f"{'OK ' if ok else 'FAIL'}  {case.op}: {row['rows']} rows, "
              f"batch={row['match_batch']}, duckdb={row['match_duckdb']}"
              + (f" ({row['error']})" if "error" in row else ""), flush=True)
    shutil.rmtree(tmp, ignore_errors=True)

    ok = all(r["match_batch"] and r["match_duckdb"] for r in results)
    if out_path:
        with open(out_path, "w") as f:
            json.dump({"sf_dir": SF_DIR, "ops": results, "all_pass": ok}, f, indent=2)
            f.write("\n")
        print(f"wrote {out_path}")
    print("ALL STREAMING PARITY CHECKS PASSED" if ok else "FAILURES PRESENT")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
