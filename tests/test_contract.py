"""Driver-contract meta-tests: every query has an oracle, entry() runs.

The driver compares queries() vs oracle_sql() per key and smoke-checks
entry(); these tests catch contract drift (a new query missing its
oracle, a renamed column, a broken import) before the driver does.
"""

import importlib

import pytest


@pytest.fixture(scope="module")
def entrymod():
    return importlib.import_module("__spark_entry__")


# queries ALLOWED to ship without a DuckDB oracle (driver records a
# weaker rows-only check) — each needs a reason here, and the set must
# stay exact so a forgotten oracle can't hide behind the allowance:
#   bpe_tokens: iterative Sennrich merge learning is not expressible
#   in one SQL statement; parity is pinned instead vs a pure-Python
#   in-order replay + Hypothesis properties (tests/test_bpe.py)
#   rollup_distinct_users: DataSketches HLL estimates are
#     engine-specific — DuckDB cannot replay sketch bytes; the
#     merge≈from-scratch property is pinned by tests/test_rollup.py
# bpe_tokens left this set in r8 (full training-replay oracle); only
# the HLL rollup remains engine-specific by contract
ROWS_ONLY = {"rollup_distinct_users"}


def test_every_query_has_an_oracle(entrymod):
    qs = set(entrymod.queries())
    oracles = set(entrymod.oracle_sql())
    assert oracles - qs == set(), "oracle without a query"
    assert qs - oracles == ROWS_ONLY, (
        "query without an oracle beyond the documented rows-only set"
    )


# the driver's correctness gate reads the first 50 queries() keys; a
# change to them is a change to what the driver checks, so it is
# spelled out here rather than read back from DRIVER_WINDOW
PINNED_WINDOW = """
    fuzzy_autoskew ineq_band_autoskew multimodal_png rollup_qsketch
    winnow_long_grams lm_perplexity_kn ppl_buckets_kn sketch_overlap
    mmr_rerank npmi_phrases pii_ibans simhash_eval rollup_distinct_users
    minhash_eval_sampled winnow_fingerprints fair_share trimmed_stats
    benford_audit record_linkage bitext_mine xml_roundtrip minhash_eval
    dedup_minhash ppl_buckets lm_perplexity_bigram readability zipf_fit
    tokenizer_fertility canary_scan cms_heavy rrf_fusion sft_render
    lang_mix kmeans_assign semdedup_prune csv_roundtrip jsonl_roundtrip
    triangle_count graph_summary interleave_shards grouping_sets_events
    outliers_mad ab_cuped fuzzy_numeric fuzzy_timestamps fuzzy_decimal
    ineq_lt_balances ineq_gt_strings theta_keywords dedup_ngram_jaccard
""".split()


def test_driver_window_is_pinned(entrymod):
    assert len(PINNED_WINDOW) == 50
    assert list(entrymod.queries())[:50] == PINNED_WINDOW


def test_entry_runs_and_returns_rows(spark, entrymod):
    df = entrymod.entry(spark)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_all_queries_run_at_smallest_sf(spark, entrymod):
    # every driver query must at least EXECUTE at sf0.001 (values are
    # checked by scripts/check_correctness.py / the driver gate)
    for name, fn in entrymod.queries().items():
        df = fn(spark, "/root/testdata/sf0.001")
        assert df.count() >= 0, name


def test_all_queries_run_under_ntz_mode(spark, entrymod):
    """The driver's session reads naive parquet timestamps as
    TIMESTAMP_NTZ (spark.sql.timestampType=TIMESTAMP_NTZ); every
    timestamp-touching query must still resolve (regression: round-2
    sessionize crashed on unix_micros(TIMESTAMP_NTZ))."""
    prev = spark.conf.get("spark.sql.timestampType", None)
    spark.conf.set("spark.sql.timestampType", "TIMESTAMP_NTZ")
    try:
        qs = entrymod.queries()
        for name in (
            "sessionize",
            "asof_click_view",
            "asof_nearest",
            "fuzzy_timestamps",
            "ineq_band_timestamps",
            "overlap_sessions",
            "window_topk",
        ):
            assert qs[name](spark, "/root/testdata/sf0.001").count() >= 0, name
    finally:
        if prev:
            spark.conf.set("spark.sql.timestampType", prev)
        else:
            spark.conf.unset("spark.sql.timestampType")


def test_no_unsortable_columns_in_any_query_result(spark, entrymod):
    """Driver-sortability contract (VERDICT r8 item 3): the driver's
    pandas canonicalizer runs ``sort_values`` over every result and
    dies on unhashable cells (``TypeError: unhashable type: 'list'``)
    — this burned window slots THREE times (r5 table_diff, r8
    embed_project + emit_packs) because the local harness stringifies
    list cells before sorting and the driver does not.  Pin the
    contract for EVERY queries() entry (not just the first-50 window
    — rotation must not be able to reintroduce the class): no
    ArrayType or MapType anywhere in a result schema, top-level or
    nested inside a struct.  Operators may return arrays; the QUERY
    layer must project them to scalars (array_join CSV, md5, size...).

    Schema-only: building the plan needs no job, so scanning all ~180
    queries stays cheap."""
    from pyspark.sql import types as T

    def unsortable(dt):
        if isinstance(dt, (T.ArrayType, T.MapType)):
            return True
        if isinstance(dt, T.StructType):
            return any(unsortable(f.dataType) for f in dt.fields)
        return False

    offenders = {}
    for name, fn in entrymod.queries().items():
        df = fn(spark, "/root/testdata/sf0.001")
        bad = [f.name for f in df.schema.fields if unsortable(f.dataType)]
        if bad:
            offenders[name] = bad
    assert offenders == {}, f"driver-unsortable columns: {offenders}"


def test_bench_full_line_ends_with_queries():
    """r11 adjudication guard: the driver keeps only the TAIL of
    bench.py's full JSON line, so 'queries' (the medians) must be the
    LAST key — r10's artifact tailed into the spread dict and its
    spreads were read as medians, manufacturing a phantom 2x
    regression."""
    import re

    src = open("bench.py").read()
    m = re.search(r"full = \{(.*?)\}", src, re.S)
    assert m, "full dict not found"
    keys = re.findall(r'"(\w+)":', m.group(1))
    assert keys[-1] == "queries", keys


def test_bench_short_line_order_and_size():
    """r12 (VERDICT r11 item 3): the stdout line gained 'top_ms' (the
    ~40 slowest rows as integer ms) so the driver's per-query diff can
    cover more than the 5 workloads.  The graded 'queries' dict must
    STAY the last key (tail-truncation safety, same rule as the full
    line) and the whole line must stay under the driver's ~2 KB tail
    even with 40 worst-case-length names."""
    import re

    import __spark_entry__ as entrymod

    src = open("bench.py").read()
    m = re.search(r"short = \{(.*?)\n    \}", src, re.S)
    assert m, "short dict not found"
    keys = re.findall(r'"(\w+)":', m.group(1))
    assert "top_ms" in keys, keys
    assert keys[-1] == "queries", keys
    longest = max(len(k) for k in entrymod.queries())
    # per entry: "name":123456, -> name + ~10 chars of syntax/digits
    est = 300 + 40 * (longest + 11)
    assert est < 2000, est


def test_one_session_factory():
    """Every Spark entry point outside the library sizes its session
    through ``scripts/harness.py``: no other file of ``bench.py`` and
    ``scripts/*.py`` names a Spark master or a driver heap, so no script
    can oversubscribe the host or ask for more heap than it has.

    Deliberately outside the check: ``perfbench/`` is the benchmark and
    keeps its own fixed steadiness settings, and ``tests/conftest.py``
    keeps its test fixture session, whose 8g heap the tests have always
    run with (the factory's quarter-of-RAM default could starve them on
    a small host)."""
    import glob
    import re

    pattern = re.compile(r"\.master\(|spark\.master|spark\.driver\.memory")
    offenders = [
        f"{path}:{n}"
        for path in ["bench.py", *sorted(glob.glob("scripts/*.py"))]
        if path != "scripts/harness.py"
        for n, line in enumerate(open(path), 1)
        if pattern.search(line)
    ]
    assert offenders == []
