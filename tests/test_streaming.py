"""Structured Streaming extension tests.

Each test drives a parquet batch through the real streaming engine
(file source -> memory sink, processAllAvailable) and cross-checks
against the equivalent batch computation.
"""

import pytest
from pyspark.sql import functions as F

from pandance_spark.sources import load_table
from pandance_spark.streaming import (
    read_events_stream,
    sessionize_stream,
    streaming_dedup,
    windowed_event_counts,
)


def _run_to_memory(df, name, output_mode):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def test_windowed_counts_match_batch(spark, sf_dir):
    stream = read_events_stream(spark, sf_dir)
    agg = windowed_event_counts(stream, window="6 hours", watermark="1 hour")
    _run_to_memory(agg, "win_counts", "append")
    got = spark.sql(
        "SELECT sum(n) FROM win_counts"
    ).first()[0]

    batch = load_table(spark, sf_dir, "events")
    # append mode emits only windows fully below the final watermark;
    # compare against batch rows in those same emitted windows
    emitted = spark.sql("SELECT max(window_end) AS hi FROM win_counts").first()
    expected = (
        batch.filter(F.col("ts") < emitted["hi"]).count()
        if emitted["hi"] is not None
        else 0
    )
    assert got is not None and got > 0
    assert got <= batch.count()
    # every emitted (window, type) count matches the batch recount
    win = spark.sql("SELECT * FROM win_counts")
    batch_win = (
        batch.groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_b"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_b",
        )
    )
    joined = win.join(batch_win, ["window_start", "event_type"], "inner")
    assert joined.filter(F.col("n") != F.col("n_b")).count() == 0
    assert joined.count() == win.count()


def test_streaming_dedup_bounded_state(spark, sf_dir):
    stream = read_events_stream(spark, sf_dir)
    dd = streaming_dedup(stream, ["user_id"], watermark="365 days")
    _run_to_memory(dd, "dedup_out", "append")
    got = spark.sql("SELECT count(*) FROM dedup_out").first()[0]
    distinct_users = load_table(spark, sf_dir, "events").select("user_id").distinct().count()
    assert got == distinct_users


def test_sessionize_stream_runs(spark, sf_dir):
    stream = read_events_stream(spark, sf_dir)
    sess = sessionize_stream(stream, gap="30 minutes", watermark="2 hours")
    _run_to_memory(sess, "sessions", "append")
    rows = spark.sql(
        "SELECT count(*) AS c, sum(n_events) AS total FROM sessions"
    ).first()
    assert rows["c"] > 0
    for r in spark.sql("SELECT * FROM sessions LIMIT 20").collect():
        assert r["session_end"] > r["session_start"]
        assert r["n_events"] >= 1


def test_running_user_stats_stateful(spark, sf_dir):
    from pandance_spark.streaming import running_user_stats

    stream = read_events_stream(spark, sf_dir)
    stats = running_user_stats(stream)
    q = (
        stats.writeStream.format("memory")
        .queryName("user_stats")
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r["user_id"]: (r["n_events"], r["total_value"], r["last_ts"])
        for r in spark.sql(
            # update mode can emit a row per batch; keep the final row
            """SELECT user_id, n_events, total_value, last_ts FROM (
                 SELECT *, row_number() OVER (PARTITION BY user_id
                                              ORDER BY n_events DESC) rn
                 FROM user_stats) WHERE rn = 1"""
        ).collect()
    }
    batch = load_table(spark, sf_dir, "events")
    expected = {
        r["user_id"]: (r["n"], r["total"], r["last"])
        for r in batch.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("total"),
            F.max("ts").alias("last"),
        )
        .collect()
    }
    assert set(got) == set(expected)
    for u in expected:
        assert got[u][0] == expected[u][0], u
        assert abs(got[u][1] - expected[u][1]) < 1e-6, u
        assert got[u][2] == expected[u][2], u


def test_streaming_near_dup_filter(spark, tmp_path):
    from pandance_spark.streaming import streaming_near_dup_filter
    from pandance_spark.operators.dedup import minhash_candidates

    ref_rows = [
        (100, "spark shuffles hash partitions across many executors for wide joins always"),
        (101, "catalyst rewrites logical plans before tungsten generates java bytecode fast"),
    ]
    stream_rows = [
        # 1, 2: near-identical to reference docs -> must be dropped
        (1, "spark shuffles hash partitions across many executors for wide joins always"),
        (2, "catalyst rewrites logical plans before tungsten generates java bytecode fast"),
        # 3, 4: novel -> must survive
        (3, "completely unrelated document about cooking pasta with tomato sauce tonight"),
        (4, "another novel text concerning mountain hiking trails and weather forecasts"),
    ]
    reference = spark.createDataFrame(ref_rows, "doc_id long, text string")
    in_dir = str(tmp_path / "docs_in")
    spark.createDataFrame(stream_rows, "doc_id long, text string").coalesce(1).write.parquet(in_dir)

    stream = spark.readStream.schema("doc_id long, text string").parquet(in_dir)
    kept = streaming_near_dup_filter(stream, reference, "doc_id", "text")
    q = (
        kept.writeStream.format("memory")
        .queryName("near_dup_kept")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(r["doc_id"] for r in spark.sql("SELECT doc_id FROM near_dup_kept").collect())
    assert got == [3, 4]

    # batch equivalence: survivors = docs with no LSH candidate pair
    # against the reference (union trick: candidates within ref+stream
    # restricted to cross pairs)
    batch = spark.createDataFrame(stream_rows, "doc_id long, text string")
    both = batch.unionByName(reference)
    pairs = minhash_candidates(both, "doc_id", "text")
    crossing = pairs.filter("(id_a < 100) != (id_b < 100)")
    flagged = {r["id"] for r in crossing.selectExpr("least(id_a, id_b) AS id").collect()}
    assert sorted(set(r[0] for r in stream_rows) - flagged) == got


def test_stream_upsert_sink_merges_batches(spark, tmp_path):
    from pandance_spark.streaming import stream_upsert_sink

    src, tgt = str(tmp_path / "src"), str(tmp_path / "tgt")
    ckpt = str(tmp_path / "ckpt")
    schema = "k long, ver long, val string"

    spark.createDataFrame(
        [(i, 1, f"v{i}a") for i in range(1, 6)], schema
    ).coalesce(1).write.mode("overwrite").json(src)
    q = stream_upsert_sink(
        spark.readStream.schema(schema).json(src), tgt, ["k"], "ver",
        num_buckets=4, checkpoint_dir=ckpt,
    ).start()
    q.processAllAvailable()
    q.stop()

    # second batch: two updates (higher ver), one insert, one stale row
    spark.createDataFrame(
        [(2, 2, "v2b"), (3, 2, "v3b"), (6, 1, "v6a"), (2, 0, "stale")],
        schema,
    ).coalesce(1).write.mode("append").json(src)
    q = stream_upsert_sink(
        spark.readStream.schema(schema).json(src), tgt, ["k"], "ver",
        num_buckets=4, checkpoint_dir=ckpt,
    ).start()
    q.processAllAvailable()
    q.stop()

    got = {r["k"]: (r["ver"], r["val"]) for r in spark.read.parquet(tgt).collect()}
    assert got == {
        1: (1, "v1a"), 2: (2, "v2b"), 3: (2, "v3b"),
        4: (1, "v4a"), 5: (1, "v5a"), 6: (1, "v6a"),
    }


def test_stream_upsert_sink_default_checkpoint_is_stable(spark, tmp_path):
    """Without checkpoint_dir the sink checkpoints under <path>/_checkpoint,
    so a restarted stream resumes offsets instead of replaying, and the
    colocated checkpoint dir neither breaks the parquet read nor is wiped
    by the dynamic partition overwrite."""
    import os

    from pandance_spark.streaming import stream_upsert_sink

    src, tgt = str(tmp_path / "src"), str(tmp_path / "tgt")
    schema = "k long, ver long, val string"

    spark.createDataFrame([(1, 1, "a"), (2, 1, "b")], schema).coalesce(
        1
    ).write.mode("overwrite").json(src)
    q = stream_upsert_sink(
        spark.readStream.schema(schema).json(src), tgt, ["k"], "ver",
        num_buckets=4,
    ).start()
    q.processAllAvailable()
    q.stop()
    assert os.path.isdir(os.path.join(tgt, "_checkpoint"))

    # restart: the stable checkpoint means only NEW source files replay;
    # an update for k=1 merges over the surviving first-write rows
    spark.createDataFrame([(1, 2, "a2")], schema).coalesce(1).write.mode(
        "append"
    ).json(src)
    q = stream_upsert_sink(
        spark.readStream.schema(schema).json(src), tgt, ["k"], "ver",
        num_buckets=4,
    ).start()
    q.processAllAvailable()
    q.stop()

    got = {r["k"]: (r["ver"], r["val"]) for r in spark.read.parquet(tgt).collect()}
    assert got == {1: (2, "a2"), 2: (1, "b")}


def test_stream_scd2_sink_matches_batch_history(spark, tmp_path):
    """Streaming SCD2 maintenance over two micro-batches equals
    scd2_history over the whole log, including a late arrival and a
    no-change update."""
    import datetime as dt

    from pandance_spark.operators.scd import scd2_history
    from pandance_spark.streaming import stream_scd2_sink

    def ts(d):
        return dt.datetime(2024, 1, d)

    src, tgt = str(tmp_path / "src"), str(tmp_path / "tgt")
    schema = "uid long, state string, ts timestamp"

    batch1 = [(1, "a", ts(1)), (1, "b", ts(5)), (2, "x", ts(1))]
    batch2 = [
        (1, "mid", ts(3)),   # late arrival, splices between a and b
        (2, "x", ts(6)),     # no-change update, must collapse
        (3, "z", ts(2)),     # new key
    ]
    spark.createDataFrame(batch1, schema).coalesce(1).write.mode("overwrite").json(src)
    q = stream_scd2_sink(
        spark.readStream.schema(schema).json(src), tgt, ["uid"], ["state"], "ts",
        num_buckets=4,
    ).start()
    q.processAllAvailable()
    q.stop()

    spark.createDataFrame(batch2, schema).coalesce(1).write.mode("append").json(src)
    q = stream_scd2_sink(
        spark.readStream.schema(schema).json(src), tgt, ["uid"], ["state"], "ts",
        num_buckets=4,
    ).start()
    q.processAllAvailable()
    q.stop()

    got = {
        (r["uid"], r["state"], r["valid_from"], r["valid_to"], r["is_current"])
        for r in spark.read.parquet(tgt).drop("__bucket").collect()
    }
    full = spark.createDataFrame(batch1 + batch2, schema)
    want = {
        tuple(r)
        for r in scd2_history(full, ["uid"], ["state"], "ts").collect()
    }
    assert got == want


def test_streaming_similarity_join_windowed_pairs(spark, tmp_path):
    """Stream-stream LSH candidate join: near-identical docs arriving
    within the window pair up; the same text far apart in time or
    disjoint text does not."""
    import datetime as dt

    from pandance_spark.streaming import streaming_similarity_join

    def ts(minute):
        return dt.datetime(2024, 1, 1, 0, minute)

    same = "spark structured streaming joins two unbounded sides with watermark state"
    other = "completely different content about gardening tomatoes in warm weather"
    rows = [
        (1, same, ts(0)),
        (2, same, ts(5)),      # within 10 min of doc 1 -> pair
        (3, same, ts(40)),     # same text but outside the window -> alone
        (4, other, ts(6)),     # different text -> no pair
    ]
    src = str(tmp_path / "docs_src")
    spark.createDataFrame(
        rows, "doc_id long, text string, ts timestamp"
    ).coalesce(1).write.parquet(src)

    stream = spark.readStream.schema(
        "doc_id long, text string, ts timestamp"
    ).parquet(src)
    pairs = streaming_similarity_join(
        stream, "doc_id", "text", ts_col="ts",
        window="10 minutes", watermark="1 hour",
    )
    q = (
        pairs.writeStream.format("memory")
        .queryName("sim_pairs")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["id_a"], r["id_b"])
        for r in spark.sql("SELECT DISTINCT id_a, id_b FROM sim_pairs").collect()
    }
    assert got == {(1, 2)}


def test_stream_upsert_sink_out_of_order_batch_cannot_regress(spark, tmp_path):
    """r5: version-aware merge — a later batch carrying an OLDER
    version of a key (redelivery, unordered source) must not regress
    the target; a genuinely newer version still wins."""
    from pandance_spark.streaming import stream_upsert_sink

    src, tgt = str(tmp_path / "src"), str(tmp_path / "tgt")
    ckpt = str(tmp_path / "ckpt")
    schema = "k long, ver long, val string"

    spark.createDataFrame(
        [(1, 5, "v1_new"), (2, 5, "v2_new")], schema
    ).coalesce(1).write.mode("overwrite").json(src)
    q = stream_upsert_sink(
        spark.readStream.schema(schema).json(src), tgt, ["k"], "ver",
        num_buckets=4, checkpoint_dir=ckpt,
    ).start()
    q.processAllAvailable()
    q.stop()

    # batch 2: stale update for k=1 (ver 3 < 5), real update for k=2,
    # and an exact redelivery of k=1 ver 5 (tie -> batch, same value)
    spark.createDataFrame(
        [(1, 3, "v1_stale"), (2, 7, "v2_newer"), (1, 5, "v1_new")], schema
    ).coalesce(1).write.mode("append").json(src)
    q = stream_upsert_sink(
        spark.readStream.schema(schema).json(src), tgt, ["k"], "ver",
        num_buckets=4, checkpoint_dir=ckpt,
    ).start()
    q.processAllAvailable()
    q.stop()

    got = {r["k"]: (r["ver"], r["val"]) for r in spark.read.parquet(tgt).collect()}
    assert got == {1: (5, "v1_new"), 2: (7, "v2_newer")}


def test_stream_upsert_sink_replay_after_lost_commit_is_idempotent(
    spark, tmp_path
):
    """r6 exactly-once audit: simulate a crash BETWEEN the parquet
    write and the streaming-checkpoint commit — the parquet target
    holds the batch's effects, but the offset log does not, so on
    restart Spark re-delivers the same batch.  The bucketed dynamic
    overwrite + version-aware merge must make the replay a no-op:
    same rows, same values, no duplicates."""
    from pandance_spark.streaming import stream_upsert_sink

    src, tgt = str(tmp_path / "src"), str(tmp_path / "tgt")
    schema = "k long, ver long, val string"

    # batch 1 through checkpoint A — establishes pre-existing state
    spark.createDataFrame(
        [(1, 1, "a1"), (2, 1, "b1"), (3, 1, "c1")], schema
    ).coalesce(1).write.mode("overwrite").json(src)
    q = stream_upsert_sink(
        spark.readStream.schema(schema).json(src), tgt, ["k"], "ver",
        num_buckets=4, checkpoint_dir=str(tmp_path / "ckptA"),
    ).start()
    q.processAllAvailable()
    q.stop()

    # batch 2 (updates + insert) also through checkpoint A: its parquet
    # write lands AND its commit lands
    spark.createDataFrame(
        [(2, 2, "b2"), (4, 1, "d1")], schema
    ).coalesce(1).write.mode("append").json(src)
    q = stream_upsert_sink(
        spark.readStream.schema(schema).json(src), tgt, ["k"], "ver",
        num_buckets=4, checkpoint_dir=str(tmp_path / "ckptA"),
    ).start()
    q.processAllAvailable()
    q.stop()
    after_commit = sorted(
        tuple(r) for r in
        spark.read.parquet(tgt).select("k", "ver", "val").collect()
    )

    # crash simulation: the commit is LOST (fresh checkpoint B) while
    # the target keeps batch 2's writes -> the whole source replays,
    # including a batch whose effects are already in the target
    q = stream_upsert_sink(
        spark.readStream.schema(schema).json(src), tgt, ["k"], "ver",
        num_buckets=4, checkpoint_dir=str(tmp_path / "ckptB"),
    ).start()
    q.processAllAvailable()
    q.stop()

    replayed = sorted(
        tuple(r) for r in
        spark.read.parquet(tgt).select("k", "ver", "val").collect()
    )
    assert replayed == after_commit == [
        (1, 1, "a1"), (2, 2, "b2"), (3, 1, "c1"), (4, 1, "d1")
    ]


def test_stream_upsert_sink_map_typed_column(spark, tmp_path):
    """r6 review fix: the whole-row-hash tie-breaker must skip
    map-typed columns (xxhash64 rejects MapType) instead of failing
    every micro-batch."""
    from pandance_spark.streaming import stream_upsert_sink

    src, tgt = str(tmp_path / "src"), str(tmp_path / "tgt")
    schema = "k long, ver long, attrs map<string,string>"
    spark.createDataFrame(
        [(1, 1, {"a": "x"}), (2, 1, {"b": "y"})], schema
    ).coalesce(1).write.mode("overwrite").json(src)
    q = stream_upsert_sink(
        spark.readStream.schema(schema).json(src), tgt, ["k"], "ver",
        num_buckets=2, checkpoint_dir=str(tmp_path / "ckpt"),
    ).start()
    q.processAllAvailable()
    q.stop()
    got = {r["k"]: r["attrs"] for r in spark.read.parquet(tgt).collect()}
    assert got == {1: {"a": "x"}, 2: {"b": "y"}}


def test_streaming_url_dedup_key_set(spark, sf_dir):
    from pandance_spark.functions.url import normalize_url
    from pandance_spark.streaming import streaming_url_dedup

    noisy = F.concat(
        F.when(F.col("event_id") % 2 == 0, F.lit("HTTP://A")).otherwise(
            F.lit("http://a")
        ),
        F.lit(".example.com"),
        F.when(F.col("event_id") % 2 == 0, F.lit(":80")).otherwise(F.lit("")),
        F.lit("/p/"),
        (F.col("event_id") % 7).cast("string"),
        F.when(F.col("event_id") % 3 == 0, F.lit("#frag")).otherwise(
            F.lit("")
        ),
    )
    stream = read_events_stream(spark, sf_dir).withColumn("url", noisy)
    out = streaming_url_dedup(stream, "url", watermark="3650 days")
    _run_to_memory(out.select("url_norm"), "url_dedup_out", "append")
    got = sorted(
        r["url_norm"]
        for r in spark.sql("SELECT url_norm FROM url_dedup_out").collect()
    )
    batch = load_table(spark, sf_dir, "events").withColumn("url", noisy)
    exp = sorted(
        r["url_norm"]
        for r in batch.select(normalize_url(F.col("url")).alias("url_norm"))
        .distinct()
        .collect()
    )
    assert got == exp and len(got) == 7  # variants collapse to 7 pages


def test_streaming_bloom_dedup_exact(spark, tmp_path):
    from pandance_spark.streaming import streaming_bloom_dedup

    # static seen-index: keys k0..k199; stream re-sees k0..k49 plus
    # 50 novel keys, split across two files (two micro-batches)
    index = spark.range(200).selectExpr("concat('k', id) AS key")
    rows1 = [(i, f"k{i}") for i in range(30)] + [
        (100 + i, f"new{i}") for i in range(20)
    ]
    rows2 = [(i, f"k{i}") for i in range(30, 50)] + [
        (200 + i, f"new{20 + i}") for i in range(30)
    ]
    in_dir = str(tmp_path / "stream_in")
    spark.createDataFrame(rows1, "rid long, key string").coalesce(1).write.parquet(in_dir)
    spark.createDataFrame(rows2, "rid long, key string").coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)

    stream = spark.readStream.schema("rid long, key string").option(
        "maxFilesPerTrigger", 1
    ).parquet(in_dir)
    kept = streaming_bloom_dedup(stream, index, "key")
    q = (
        kept.writeStream.format("memory")
        .queryName("bloom_kept")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(
        r["key"] for r in spark.sql("SELECT key FROM bloom_kept").collect()
    )
    assert got == sorted(f"new{i}" for i in range(50))


def test_streaming_dsir_router_matches_batch(spark, tmp_path):
    from pyspark.sql import functions as F

    from pandance_spark.functions.dsir import (
        dsir_scores,
        dsir_weights,
        hashed_feature_counts,
    )
    from pandance_spark.streaming import streaming_dsir_router

    B = 256
    target = spark.createDataFrame(
        [(i, "alpha beta gamma") for i in range(5)], "doc_id long, text string"
    )
    ref = spark.createDataFrame(
        [(i, "alpha beta gamma delta") for i in range(5)]
        + [(10 + i, "xx yy zz qq") for i in range(5)],
        "doc_id long, text string",
    )
    weights = dsir_weights(
        hashed_feature_counts(target, "text", B),
        hashed_feature_counts(ref, "text", B),
        B,
    ).localCheckpoint()

    # two micro-batches of new docs, incl. empty text
    rows1 = [(100, "alpha beta"), (101, "xx yy")]
    rows2 = [(102, "alpha beta gamma"), (103, "")]
    in_dir = str(tmp_path / "dsir_in")
    spark.createDataFrame(rows1, "doc_id long, text string").coalesce(1).write.parquet(in_dir)
    spark.createDataFrame(rows2, "doc_id long, text string").coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)

    stream = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", 1
    ).parquet(in_dir)
    routed = streaming_dsir_router(stream, weights, "text", threshold_micro=1, buckets=B)
    q = (
        routed.writeStream.format("memory")
        .queryName("dsir_routed")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r["doc_id"]: (r["score_micro"], r["n_features"], r["keep"])
        for r in spark.sql("SELECT * FROM dsir_routed").collect()
    }

    batch_in = spark.createDataFrame(rows1 + rows2, "doc_id long, text string")
    exp = {
        r["doc_id"]: (r["score_micro"], r["n_features"])
        for r in dsir_scores(batch_in, buckets=B, weights=weights).collect()
    }
    assert len(got) == 4
    for did, (s, n, keep) in got.items():
        assert (s, n) == exp[did], did
        assert keep == (s >= 1)
    # empty doc: zero features, score 0, routed (not crashed)
    assert got[103] == (0, 0, False)
    # target-like doc scores above the junk doc
    assert got[102][0] > got[101][0]


def test_stream_rollup_sink_incremental_and_replay_safe(spark, tmp_path):
    import datetime as dt
    import shutil

    from pandance_spark.operators.rollup import build_rollup, finalize_rollup
    from pandance_spark.streaming import (
        _rollup_batch_handler,
        stream_rollup_sink,
    )

    rows1 = [
        (dt.datetime(2024, 1, 1, 0, m), "a", float(m)) for m in range(0, 50, 10)
    ] + [(dt.datetime(2024, 1, 1, 1, 5), "b", 7.0)]
    rows2 = [
        (dt.datetime(2024, 1, 1, 0, 55), "a", 100.0),
        (dt.datetime(2024, 1, 1, 2, 0), "b", 1.0),
    ]
    schema = "ts timestamp, k string, v double"
    target = str(tmp_path / "roll_out")

    def state(path=target):
        return sorted(
            map(
                tuple,
                finalize_rollup(
                    spark.read.parquet(path).select(
                        "bucket", "k", "cnt", "v_sum", "v_min", "v_max"
                    ),
                    6,
                ).collect(),
            )
        )

    exp = sorted(
        map(
            tuple,
            finalize_rollup(
                build_rollup(
                    spark.createDataFrame(rows1 + rows2, schema),
                    "ts", 3600, ["k"], "v",
                ),
                6,
            ).collect(),
        )
    )

    # --- streamed path: two micro-batches == from-scratch rollup ---
    in_dir = str(tmp_path / "roll_in")
    spark.createDataFrame(rows1, schema).coalesce(1).write.parquet(in_dir)
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode("append").parquet(in_dir)
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(in_dir)
    q = stream_rollup_sink(
        stream, target, "ts", 3600, ["k"], "v", num_buckets=8
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = state()
    assert got == exp and len(got) == 3  # hours 0,1 for a + hours 1,2 for b

    # --- replay semantics on a dedicated target with EXPLICIT batch
    # ids (no dependence on file-source ordering) ---
    t2 = str(tmp_path / "roll_manual")
    h = _rollup_batch_handler(t2, "ts", 3600, ["k"], "v", 8)
    b1 = spark.createDataFrame(rows1, schema)
    b2 = spark.createDataFrame(rows2, schema)
    h(b1, 0)
    snapshot = str(tmp_path / "roll_snap")
    shutil.copytree(t2, snapshot)  # state BEFORE batch 1
    h(b2, 1)
    assert state(t2) == exp
    # full redelivery of a committed batch: no double count
    h(b2, 1)
    assert state(t2) == exp
    # HALF-COMMIT heal: roll ONE of batch 1's touched partitions back
    # to its pre-batch state (as if the committer crashed after
    # swapping the other partitions), then redeliver — the guard must
    # merge ONLY the rolled-back partition
    from pyspark.sql import functions as F

    touched = sorted(
        r["__bucket"]
        for r in spark.read.parquet(t2)
        .filter(F.col("__last_bid") == 1)
        .select("__bucket")
        .distinct()
        .collect()
    )
    assert len(touched) >= 2, "fixture must touch >= 2 partitions"
    victim = touched[0]
    import os

    vdir = os.path.join(t2, f"__bucket={victim}")
    shutil.rmtree(vdir)
    pre = os.path.join(snapshot, f"__bucket={victim}")
    if os.path.exists(pre):
        shutil.copytree(pre, vdir)
    h(b2, 1)  # redelivery heals the victim partition only
    assert state(t2) == exp


def test_stream_rollup_hist_sink_bit_exact_and_replay_safe(spark, tmp_path):
    import datetime as dt

    from pandance_spark.operators.rollup import build_rollup_hist
    from pandance_spark.streaming import (
        _rollup_batch_handler,
        stream_rollup_hist_sink,
    )

    bounds = [10.0, 20.0]
    rows1 = [
        (dt.datetime(2024, 1, 1, 0, m), "a", float(m)) for m in range(0, 50, 5)
    ] + [(dt.datetime(2024, 1, 1, 1, 5), "b", 7.0)]
    rows2 = [
        (dt.datetime(2024, 1, 1, 0, 55), "a", 100.0),
        (dt.datetime(2024, 1, 1, 2, 0), "b", 1.0),
    ]
    schema = "ts timestamp, k string, v double"
    target = str(tmp_path / "hroll_out")

    def state(path=target):
        return sorted(
            (r["bucket"], r["k"], list(r["hist"]))
            for r in spark.read.parquet(path)
            .select("bucket", "k", "hist")
            .collect()
        )

    exp = sorted(
        (r["bucket"], r["k"], list(r["hist"]))
        for r in build_rollup_hist(
            spark.createDataFrame(rows1 + rows2, schema),
            "ts", 3600, ["k"], "v", bounds,
        ).collect()
    )

    in_dir = str(tmp_path / "hroll_in")
    spark.createDataFrame(rows1, schema).coalesce(1).write.parquet(in_dir)
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode("append").parquet(in_dir)
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(in_dir)
    q = stream_rollup_hist_sink(
        stream, target, "ts", 3600, ["k"], "v", bounds, num_buckets=8
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # streamed == from-scratch BIT-FOR-BIT (integer bin counts)
    assert state() == exp

    # replay: redelivering a committed batch must not double-count
    from pandance_spark.operators.rollup import merge_rollup_hist

    t2 = str(tmp_path / "hroll_manual")
    h = _rollup_batch_handler(
        t2, "ts", 3600, ["k"], "v", 8,
        build_fn=lambda b, tc, w, ks, vc: build_rollup_hist(b, tc, w, ks, vc, bounds),
        merge_fn=merge_rollup_hist,
        metric_cols=["hist"],
    )
    b1 = spark.createDataFrame(rows1, schema)
    b2 = spark.createDataFrame(rows2, schema)
    h(b1, 0)
    h(b2, 1)
    assert state(t2) == exp
    h(b2, 1)  # full redelivery -> no-op
    assert state(t2) == exp


def test_streaming_funnel_matches_batch(spark, tmp_path):
    import datetime as dt

    from pandance_spark.functions.analytics import funnel_steps
    from pandance_spark.streaming import streaming_funnel

    T = dt.datetime
    steps = ["view", "click", "purchase"]
    rows = [
        # u1 completes across the batch split
        (1, T(2024, 1, 1, 0, 0), "view"),
        (1, T(2024, 1, 1, 0, 5), "click"),
        (1, T(2024, 1, 1, 1, 10), "purchase"),
        # u2: click before view never counts; the later click does
        (2, T(2024, 1, 1, 0, 0), "click"),
        (2, T(2024, 1, 1, 0, 2), "view"),
        (2, T(2024, 1, 1, 1, 4), "click"),
        # u3: stuck at view; irrelevant step ignored
        (3, T(2024, 1, 1, 0, 1), "view"),
        (3, T(2024, 1, 1, 1, 0), "signup"),
    ]
    schema = "user_id long, ts timestamp, step string"
    batch = spark.createDataFrame(rows, schema)
    want = {
        r["user_id"]: (r["steps_reached"], r["last_step"])
        for r in funnel_steps(batch, "user_id", "ts", "step", steps).collect()
    }

    # two TIME-ORDERED files -> two micro-batches (the documented
    # ordering contract)
    in_dir = str(tmp_path / "fun_in")
    early = [r for r in rows if r[1].hour == 0]
    late = [r for r in rows if r[1].hour == 1]
    spark.createDataFrame(early, schema).coalesce(1).write.parquet(in_dir)
    spark.createDataFrame(late, schema).coalesce(1).write.mode("append").parquet(in_dir)
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(in_dir)
    out = streaming_funnel(stream, "user_id", "ts", "step", steps)
    q = (
        out.writeStream.format("memory")
        .queryName("funnel_stream")
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # last update per user is the final state
    # steps_reached is monotone per user, so the final state is the
    # max — independent of the memory sink's row order
    got_rows = spark.sql(
        "SELECT user_id, max_by(last_step, steps_reached) AS last_step, "
        "max(steps_reached) AS steps_reached "
        "FROM funnel_stream GROUP BY user_id"
    ).collect()
    got = {r["user_id"]: (r["steps_reached"], r["last_step"]) for r in got_rows}
    assert got == want
    import pytest as _pt
    with _pt.raises(ValueError, match="distinct"):
        streaming_funnel(stream, "user_id", "ts", "step", ["a", "a"])


def test_streaming_funnel_string_keys_and_chunked_batches(spark, tmp_path):
    import datetime as dt

    from pandance_spark.streaming import streaming_funnel

    T = dt.datetime
    steps = ["view", "click", "purchase"]
    # REVERSE time order in the file + 2-row Arrow chunks: per-chunk
    # sorting would fold later events first and undercount (review
    # finding); string user ids exercise the derived key schema
    rows = [
        ("u-1", T(2024, 1, 1, 0, 8), "purchase"),
        ("u-1", T(2024, 1, 1, 0, 6), "click"),
        ("u-1", T(2024, 1, 1, 0, 4), "view"),
        ("u-1", T(2024, 1, 1, 0, 2), "click"),   # pre-view click: noise
        ("u-1", T(2024, 1, 1, 0, 0), "view"),
    ]
    schema = "uid string, ts timestamp, step string"
    in_dir = str(tmp_path / "fun_chunks")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(in_dir)
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        stream = spark.readStream.schema(schema).parquet(in_dir)
        out = streaming_funnel(stream, "uid", "ts", "step", steps)
        q = (
            out.writeStream.format("memory")
            .queryName("funnel_chunks")
            .outputMode("update")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = {
            r["uid"]: (r["steps_reached"], r["last_step"])
            for r in spark.sql(
                "SELECT uid, max(steps_reached) AS steps_reached, "
                "max_by(last_step, steps_reached) AS last_step "
                "FROM funnel_chunks GROUP BY uid"
            ).collect()
        }
        assert got == {"u-1": (3, "purchase")}
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)


def test_streaming_contamination_router_gate_and_empty(spark, tmp_path):
    """Driver gate rejects an oversized benchmark shingle set; empty
    benchmark and shingle-less docs annotate as clean."""
    import pytest as _pytest

    from pandance_spark.streaming import streaming_contamination_router

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "x")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(1, "alpha beta gamma")], "bid long, btext string"
    )
    with _pytest.raises(ValueError, match="driver gate"):
        streaming_contamination_router(
            docs, bench, "text", bench_text_col="btext",
            shingle_n=2, max_bench_mb=0,
        )
    out = {
        r["doc_id"]: (r["n_shared"], r["contaminated"])
        for r in streaming_contamination_router(
            docs, bench, "text", bench_text_col="btext",
            shingle_n=2, min_overlap=1,
        ).collect()
    }
    # doc 1 shares both bench 2-shingles; doc 2 has no shingles
    assert out[1] == (2, True) and out[2] == (0, False)
    # empty benchmark -> everything clean
    empty = bench.filter("bid < 0")
    out2 = {
        r["doc_id"]: r["contaminated"]
        for r in streaming_contamination_router(
            docs, empty, "text", bench_text_col="btext", shingle_n=2
        ).collect()
    }
    assert out2 == {1: False, 2: False}


def test_stream_rollup_bottomk_sink_bit_exact_and_replay_safe(spark, tmp_path):
    import datetime as dt

    from pandance_spark.operators.rollup import build_rollup_bottomk
    from pandance_spark.streaming import (
        _rollup_batch_handler,
        stream_rollup_bottomk_sink,
    )

    K = 8
    rows1 = [
        (dt.datetime(2024, 1, 1, 0, m % 60), "a", m) for m in range(30)
    ] + [(dt.datetime(2024, 1, 1, 1, 5), "b", 7)]
    rows2 = [
        (dt.datetime(2024, 1, 1, 0, 55), "a", 500),
        (dt.datetime(2024, 1, 1, 0, 56), "a", 3),   # dup id across batches
        (dt.datetime(2024, 1, 1, 2, 0), "b", 1),
    ]
    schema = "ts timestamp, typ string, uid long"
    target = str(tmp_path / "bkroll_out")

    def state(path=target):
        return sorted(
            (r["bucket"], r["typ"], [(e["h"], e["v"]) for e in r["bk"]])
            for r in spark.read.parquet(path)
            .select("bucket", "typ", "bk")
            .collect()
        )

    exp = sorted(
        (r["bucket"], r["typ"], [(e["h"], e["v"]) for e in r["bk"]])
        for r in build_rollup_bottomk(
            spark.createDataFrame(rows1 + rows2, schema),
            "ts", 3600, ["typ"], "uid", k=K,
        ).collect()
    )

    in_dir = str(tmp_path / "bkroll_in")
    spark.createDataFrame(rows1, schema).coalesce(1).write.parquet(in_dir)
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode("append").parquet(in_dir)
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(in_dir)
    q = stream_rollup_bottomk_sink(
        stream, target, "ts", 3600, ["typ"], "uid", k=K, num_buckets=8
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # streamed == from-scratch BIT-FOR-BIT (exactly mergeable sketch)
    assert state() == exp

    # replay: redelivering a committed batch must no-op (and the
    # bottom-k merge is idempotent even WITHOUT the guard, so this is
    # doubly safe)
    from pandance_spark.operators.rollup import merge_rollup_bottomk

    t2 = str(tmp_path / "bkroll_manual")
    h = _rollup_batch_handler(
        t2, "ts", 3600, ["typ"], "uid", 8,
        build_fn=lambda b, tc, w, ks, vc: build_rollup_bottomk(
            b, tc, w, ks, vc, k=K
        ),
        merge_fn=lambda e, d: merge_rollup_bottomk(e, d, k=K),
        metric_cols=["bk", "k"],
    )
    b1 = spark.createDataFrame(rows1, schema)
    b2 = spark.createDataFrame(rows2, schema)
    h(b1, 0)
    h(b2, 1)
    base_state = state(t2)
    assert base_state == exp
    h(b2, 1)  # redelivery
    assert state(t2) == exp


def test_streaming_token_budget_router_matches_batch_cumsum(spark, tmp_path):
    """Ingest-time budget admission: two id-ordered micro-batches ==
    the batch windowed-cumsum fold; dict budgets cap 'en' and 'de'
    differently, a group absent from the dict is uncapped; NULL
    token counts spend 0."""
    from pyspark.sql import Window, functions as F

    from pandance_spark.streaming import streaming_token_budget_router

    rows = [
        # (doc_id, lang, tokens) — en budget 100, de budget 50, fr uncapped
        (1, "en", 40), (2, "en", 40), (3, "en", 20),   # cum 100 — all in
        (4, "en", 1),                                  # 101 — rejected
        (5, "de", 30), (6, "de", None), (7, "de", 20), # null spends 0
        (8, "de", 1),                                  # 51 — rejected
        (9, "fr", 999), (10, "fr", 999),               # uncapped
        (11, "en", 0),                                 # 0 tokens but cum=101
    ]
    schema = "doc_id long, lang string, tokens long"
    budgets = {"en": 100, "de": 50}
    batch = spark.createDataFrame(rows, schema)
    w = Window.partitionBy("lang").orderBy("doc_id")
    cum = F.sum(F.coalesce(F.col("tokens"), F.lit(0))).over(w)
    cap = (
        F.when(F.col("lang") == "en", F.lit(100))
        .when(F.col("lang") == "de", F.lit(50))
        .otherwise(F.lit(None).cast("long"))
    )
    want = {
        r["doc_id"]: (r["cum_tokens"], r["admitted"])
        for r in batch.select(
            "doc_id",
            cum.alias("cum_tokens"),
            F.coalesce(cum <= cap, F.lit(True)).alias("admitted"),
        ).collect()
    }

    in_dir = str(tmp_path / "tb_in")
    early = [r for r in rows if r[0] <= 6]
    late = [r for r in rows if r[0] > 6]
    spark.createDataFrame(early, schema).coalesce(1).write.parquet(in_dir)
    spark.createDataFrame(late, schema).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(in_dir)
    out = streaming_token_budget_router(
        stream, "lang", "doc_id", "tokens", budgets
    )
    q = (
        out.writeStream.format("memory")
        .queryName("tb_stream")
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r["doc_id"]: (r["cum_tokens"], r["admitted"])
        for r in spark.table("tb_stream").collect()
    }
    assert got == want
    # every input row is annotated, none dropped
    assert set(got) == {r[0] for r in rows}

    # int budget form + validation
    import pytest

    with pytest.raises(ValueError):
        streaming_token_budget_router(stream, "lang", "doc_id", "tokens", True)
    with pytest.raises(ValueError):
        streaming_token_budget_router(stream, "lang", "doc_id", "tokens", -1)
    with pytest.raises(ValueError):
        streaming_token_budget_router(
            stream, "lang", "doc_id", "tokens", {"en": -5}
        )


def test_streaming_c4_gate_matches_batch(spark, tmp_path):
    from pandance_spark.functions.text import c4_clean
    from pandance_spark.streaming import streaming_c4_gate

    rows = [
        (1, "alpha beta gamma delta one.\nalpha beta two!\n"
            "alpha beta gamma delta epsilon three?"),
        (2, "enable javascript to read this page.\n"
            "lorem ipsum dolor sit amet."),
        (3, "a b { c }"),
        (4, "alpha beta gamma delta one.\nalpha beta gamma delta two!\n"
            "alpha beta gamma delta three?"),
    ]
    src = str(tmp_path / "pages")
    df = spark.createDataFrame(rows, ["doc_id", "page"])
    df.filter("doc_id <= 2").coalesce(1).write.parquet(src)
    df.filter("doc_id > 2").coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("doc_id long, page string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    _run_to_memory(streaming_c4_gate(stream, "page"), "c4_gate", "append")
    got = {
        r["doc_id"]: r for r in spark.table("c4_gate").collect()
    }
    want = {
        r["doc_id"]: r
        for r in c4_clean(spark.read.parquet(src), "page").collect()
    }
    assert set(got) == {1, 2, 3, 4}
    for k in got:
        assert got[k].asDict() == want[k].asDict()
    assert got[4]["c4_keep"] and got[2]["c4_drop_reason"] == "lorem_ipsum"
    assert got[3]["c4_drop_reason"] == "curly_brace"


def test_streaming_robots_router_matches_batch(spark, tmp_path):
    from pandance_spark.functions.url import parse_robots, robots_filter
    from pandance_spark.streaming import streaming_robots_router

    robots = (
        "User-agent: *\nDisallow: /private\nAllow: /private/ok\n\n"
        "User-agent: specialbot\nDisallow: /\n"
    )
    hosts = spark.createDataFrame(
        [("a.example", robots), ("b.example", "User-agent: *\nDisallow: /x")],
        ["host", "robots"],
    )
    rules = parse_robots(hosts, "robots", "host")
    urls = [
        (1, "http://a.example/private/x"),
        (2, "http://a.example/private/ok/y"),
        (3, "http://a.example/pub"),
        (4, "http://b.example/x/sub"),
        (5, "http://b.example/y"),
        (6, "http://nowhere.example/z"),
        (7, "http://a.example"),
    ]
    df = spark.createDataFrame(urls, ["doc_id", "u"])
    src = str(tmp_path / "urls")
    df.filter("doc_id <= 4").coalesce(1).write.parquet(src)
    df.filter("doc_id > 4").coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("doc_id long, u string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    _run_to_memory(
        streaming_robots_router(stream, "u", rules), "robots_stream",
        "append",
    )
    got = {
        r["doc_id"]: (r["allowed"], r["rule_path"])
        for r in spark.table("robots_stream").collect()
    }
    want = {
        r["doc_id"]: (r["allowed"], r["rule_path"])
        for r in robots_filter(
            df, "u", rules, agent="*", keep_cols=("doc_id",)
        ).collect()
    }
    assert got == want
    assert got[1] == (False, "/private") and got[2] == (True, "/private/ok")
    assert got[3] == (True, None) and got[6] == (True, None)
    assert got[4] == (False, "/x")
    # exclusive agent group routes everything away for specialbot
    _run_to_memory(
        streaming_robots_router(
            spark.readStream.schema("doc_id long, u string")
            .option("maxFilesPerTrigger", 1).parquet(src),
            "u", rules, agent="specialbot",
        ),
        "robots_stream_sb", "append",
    )
    sb = {
        r["doc_id"]: r["allowed"]
        for r in spark.table("robots_stream_sb").collect()
    }
    assert not sb[1] and not sb[2] and not sb[3] and not sb[7]
    # hosts without a specialbot group fall back to their * rules
    assert sb[5] and not sb[4] and sb[6]


def test_streaming_fuzzy_join_matches_batch(spark, tmp_path):
    """Stream-static band join == batch fuzzy_join on the same inputs,
    across two real micro-batches; suffixes apply to overlapping
    names; tol=0 degenerates to an exact equi-join."""
    from pandance_spark import fuzzy_join
    from pandance_spark.streaming import streaming_fuzzy_join

    rows = [(i, round(i * 0.37 % 7, 3)) for i in range(60)]
    # NaN/Inf on the stream side must be dropped, as in batch
    rows += [(100, float("nan")), (101, float("inf"))]
    src = spark.createDataFrame(rows, "event_id long, val double")
    static = spark.range(15).select(
        F.col("id").alias("level_id"), (F.col("id") * 0.5).alias("val")
    )
    path = str(tmp_path / "src")
    src.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(path)
    src.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(path)
    stream = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    _run_to_memory(
        streaming_fuzzy_join(stream, static, on="val", tol=0.25),
        "sfj_out",
        "append",
    )
    got = sorted(
        map(tuple, spark.table("sfj_out").collect())
    )
    want = sorted(
        map(tuple, fuzzy_join(src, static, on="val", tol=0.25).collect())
    )
    assert got == want and len(got) > 0
    # suffixes landed on the overlapping join column
    assert {"val_x", "val_y"} <= set(spark.table("sfj_out").columns)

    # tol=0 -> exact equi-join
    _run_to_memory(
        streaming_fuzzy_join(stream, static, on="val", tol=0),
        "sfj_exact",
        "append",
    )
    got0 = {r["val_x"] for r in spark.table("sfj_exact").collect()}
    want0 = {
        r["val_x"]
        for r in fuzzy_join(src, static, on="val", tol=0).collect()
    }
    assert got0 == want0


def test_streaming_fuzzy_join_operating_range_raises(spark, tmp_path):
    """A static side past |v|/tol ~ 2^51 neither raises nor drops
    matches: the streaming result equals the exact batch range join."""
    from pandance_spark import fuzzy_join
    from pandance_spark.streaming import streaming_fuzzy_join

    src = spark.createDataFrame(
        [(1, 1.0), (2, 1e13)], "event_id long, val double"
    )
    path = str(tmp_path / "src2")
    src.write.parquet(path)
    stream = spark.readStream.schema(src.schema).parquet(path)
    static = spark.createDataFrame(
        [(1, 1e13)], "level_id long, val double"
    )
    _run_to_memory(
        streaming_fuzzy_join(stream, static, on="val", tol=1e-3),
        "sfj_range",
        "append",
    )
    got = sorted(map(tuple, spark.table("sfj_range").collect()))
    want = sorted(map(tuple, fuzzy_join(
        src, static, on="val", tol=1e-3, strategy="range").collect()))
    assert got == want and len(got) == 1


def test_streaming_ineq_and_theta_match_batch(spark, tmp_path):
    """Stream-static ineq_join (band) and theta_join (Column fast
    path) == their batch twins across two micro-batches; both reject
    a batch frame in the stream seat."""
    from pandance_spark import ineq_join, theta_join
    from pandance_spark.streaming import (
        streaming_ineq_join,
        streaming_theta_join,
    )

    src = spark.createDataFrame(
        [(i, float(i % 13)) for i in range(40)], "event_id long, val double"
    )
    static = spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") * 2.0).alias("lvl")
    )
    path = str(tmp_path / "s")
    src.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(path)
    src.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(path)

    def stream():
        return (
            spark.readStream.schema(src.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(path)
        )

    _run_to_memory(
        streaming_ineq_join(stream(), static, how="<",
                            left_on="val", right_on="lvl"),
        "sineq", "append",
    )
    got = sorted(map(tuple, spark.table("sineq").collect()))
    want = sorted(map(tuple, ineq_join(
        src, static, how="<", left_on="val", right_on="lvl").collect()))
    assert got == want and len(got) > 0

    _run_to_memory(
        streaming_theta_join(stream(), static,
                             condition=lambda x, y: (x + y) % 3 == 0,
                             left_on="event_id", right_on="k"),
        "stheta", "append",
    )
    got_t = sorted(map(tuple, spark.table("stheta").collect()))
    want_t = sorted(map(tuple, theta_join(
        src, static, condition=lambda x, y: (x + y) % 3 == 0,
        left_on="event_id", right_on="k").collect()))
    assert got_t == want_t and len(got_t) > 0

    with pytest.raises(ValueError, match="STREAM as the left"):
        streaming_ineq_join(src, static, on="val")
    with pytest.raises(ValueError, match="STREAM as the left"):
        streaming_theta_join(src, static, condition=lambda x, y: x < y,
                             left_on="event_id", right_on="k")


def test_streaming_asof_join_matches_batch_all_directions(spark, tmp_path):
    """Stream-static interval asof == batch asof_join across two real
    micro-batches, for backward/forward/nearest, with by-keys and a
    left-join null row for keys the dimension lacks."""
    from pandance_spark import asof_join
    from pandance_spark.streaming import streaming_asof_join

    # events: two sensors + one sensor absent from the dimension
    rows = [
        (i, ["a", "b", "zz"][i % 3], float(i) * 0.75 % 13.0)
        for i in range(48)
    ]
    src = spark.createDataFrame(rows, "event_id long, sensor string, ts double")
    static = spark.createDataFrame(
        [(s, float(t), f"{s}{t}") for s in ("a", "b") for t in range(0, 13, 3)],
        "sensor string, ts double, label string",
    )
    path = str(tmp_path / "asof_src")
    src.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(path)
    src.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(path)
    stream = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    for direction in ("backward", "forward", "nearest"):
        _run_to_memory(
            streaming_asof_join(
                stream, static, on="ts", by=["sensor"], direction=direction
            ),
            f"saj_{direction}",
            "append",
        )
        got = sorted(map(tuple, spark.table(f"saj_{direction}").collect()),
                     key=str)
        want = sorted(
            map(tuple, asof_join(src, static, on="ts", by=["sensor"],
                                 direction=direction).collect()),
            key=str,
        )
        assert got == want and len(got) == 48, direction
        # the zz sensor rows survive with NULL payload (how='left')
        assert any(t[1] == "zz" and t[4] is None for t in got), direction


def test_streaming_asof_join_tolerance_inner_and_suffixes(spark, tmp_path):
    """tolerance nullifies (not substitutes) an out-of-range match;
    how='inner' drops unmatched rows; collision suffixes as in batch;
    non-stream left raises."""
    import pytest

    from pandance_spark import asof_join
    from pandance_spark.streaming import streaming_asof_join

    src = spark.createDataFrame(
        [(1, 0.9), (2, 5.0), (3, 30.0)], "event_id long, ts double"
    )
    static = spark.createDataFrame(
        [(10, 1.0), (20, 6.0)], "dim_id long, ts double"
    )
    path = str(tmp_path / "asof_tol_src")
    src.coalesce(1).write.parquet(path)
    stream = spark.readStream.schema(src.schema).parquet(path)

    _run_to_memory(
        streaming_asof_join(stream, static, on="ts", direction="nearest",
                            tolerance=2.0),
        "saj_tol",
        "append",
    )
    got = sorted(map(tuple, spark.table("saj_tol").collect()))
    want = sorted(
        map(tuple, asof_join(src, static, on="ts", direction="nearest",
                             tolerance=2.0).collect())
    )
    assert got == want
    # event 3's nearest (20, 6.0) is 24 away -> nulled, row kept
    by_id = {t[0]: t for t in got}
    assert by_id[3][2] is None and by_id[3][3] is None
    assert {"ts_x", "ts_y"} <= set(spark.table("saj_tol").columns)

    _run_to_memory(
        streaming_asof_join(stream, static, on="ts", direction="nearest",
                            tolerance=2.0, how="inner"),
        "saj_inner",
        "append",
    )
    inner = sorted(map(tuple, spark.table("saj_inner").collect()))
    want_inner = sorted(
        map(tuple, asof_join(src, static, on="ts", direction="nearest",
                             tolerance=2.0, how="inner").collect())
    )
    assert inner == want_inner and len(inner) == 2

    with pytest.raises(ValueError, match="STREAM as the left"):
        streaming_asof_join(src, static, on="ts")


def test_streaming_asof_join_timestamps(spark, tmp_path):
    """Timestamp keys go through the same micros conversion as batch:
    backward enrichment on real TIMESTAMP columns matches batch."""
    import datetime as dt

    from pandance_spark import asof_join
    from pandance_spark.streaming import streaming_asof_join

    base = dt.datetime(2024, 1, 1)
    src = spark.createDataFrame(
        [(i, base + dt.timedelta(minutes=7 * i)) for i in range(20)],
        "event_id long, ts timestamp",
    )
    static = spark.createDataFrame(
        [(h, base + dt.timedelta(hours=h)) for h in range(3)],
        "version long, ts timestamp",
    )
    path = str(tmp_path / "asof_ts_src")
    src.coalesce(1).write.parquet(path)
    stream = spark.readStream.schema(src.schema).parquet(path)
    _run_to_memory(
        streaming_asof_join(stream, static, on="ts", direction="backward"),
        "saj_ts",
        "append",
    )
    got = sorted(map(tuple, spark.table("saj_ts").collect()), key=str)
    want = sorted(
        map(tuple, asof_join(src, static, on="ts",
                             direction="backward").collect()),
        key=str,
    )
    assert got == want and len(got) == 20


def test_stream_rollup_qsketch_sink_bit_exact_and_replay_safe(
    spark, tmp_path
):
    """Maintained quantile sketches == the from-scratch batch build
    bit for bit (exact merge algebra over disjoint row sets), n sums
    correctly across batches, and a redelivered batch no-ops under
    the replay guard — which is load-bearing here, since the qsketch
    merge (unlike bottom-k) is NOT idempotent."""
    import datetime as dt

    from pandance_spark.operators.rollup import build_rollup_qsketch
    from pandance_spark.streaming import (
        _rollup_batch_handler,
        stream_rollup_qsketch_sink,
    )

    K = 8
    rows1 = [
        (dt.datetime(2024, 1, 1, 0, m % 60), "a", m, float(m % 13))
        for m in range(30)
    ] + [(dt.datetime(2024, 1, 1, 1, 5), "b", 1000, 7.0)]
    rows2 = [
        (dt.datetime(2024, 1, 1, 0, 55), "a", 500, 99.0),
        (dt.datetime(2024, 1, 1, 2, 0), "b", 1001, 1.0),
    ]
    schema = "ts timestamp, typ string, rid long, val double"
    target = str(tmp_path / "qsroll_out")

    def canon(df):
        return sorted(
            (r["bucket"], r["typ"], r["n"],
             [(e["h"], e["v"]) for e in r["qs"]])
            for r in df.select("bucket", "typ", "qs", "n").collect()
        )

    exp = canon(
        build_rollup_qsketch(
            spark.createDataFrame(rows1 + rows2, schema),
            "ts", 3600, ["typ"], "val", "rid", k=K,
        )
    )
    in_dir = str(tmp_path / "qsroll_in")
    spark.createDataFrame(rows1, schema).coalesce(1).write.parquet(in_dir)
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(in_dir)
    q = stream_rollup_qsketch_sink(
        stream, target, "ts", 3600, ["typ"], "val", "rid",
        k=K, num_buckets=8,
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert canon(spark.read.parquet(target)) == exp

    # replay guard: re-apply batch 0 to a manually driven handler —
    # without the guard, n would double and sample rows duplicate
    from pandance_spark.operators.rollup import merge_rollup_qsketch

    t2 = str(tmp_path / "qsroll_manual")
    h = _rollup_batch_handler(
        t2, "ts", 3600, ["typ"], "rid", 8,
        build_fn=lambda b, tc, w, ks, vc: build_rollup_qsketch(
            b, tc, w, ks, "val", vc, k=K
        ),
        merge_fn=lambda e, d: merge_rollup_qsketch(e, d, k=K),
        metric_cols=["qs", "n", "k"],
    )
    b1 = spark.createDataFrame(rows1, schema)
    h(b1, 0)
    once = canon(spark.read.parquet(t2))
    h(b1, 0)  # redelivery must no-op
    assert canon(spark.read.parquet(t2)) == once
