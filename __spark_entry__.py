"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)``   — flagship fuzzy join on sf0.001.
``queries()``      — one callable per implemented operator (SURVEY.md §2
                     parity ops + §2.4 extensions + inherited-from-Spark
                     relational coverage).
``oracle_sql()``   — DuckDB-equivalent SQL per query (omitted only for
                     ops whose hashes are engine-specific: xxhash64-based
                     SimHash; the MinHash pipeline IS oracle-checked via
                     its exact-Jaccard verification semantics).

Column names are aliased identically on both sides; computed floats are
rounded on both sides (engine summation order differs in the last bits).
"""

from __future__ import annotations

import os
import sys

# the driver may import this file from outside the repo; make the
# package resolvable regardless
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import datetime as dt
import decimal
import math
from collections.abc import Callable

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pandance_spark import fuzzy_join, ineq_join, theta_join
from pandance_spark._kernel import run_concurrently, spread_partitions
from pandance_spark.functions.text import (
    fingerprint_md5,
    lang_id,
    with_lang_id,
    quality_score,
    token_count,
)
from pandance_spark.operators.dedup import (
    add_to_minhash_index,
    build_minhash_index,
    dedup_against_index,
    dedup_exact,
    dedup_minhash,
    embedding_cosine_pairs,
    ngram_jaccard_join,
    simhash_candidates,
)
from pandance_spark.operators.scd import scd2_history
from pandance_spark.operators.cluster import dedup_clusters
from pandance_spark.operators.contamination import contamination_check
from pandance_spark.operators.multimodal import attach_binary_payload
from pandance_spark.operators.similarity import (
    ann_ivf_topk,
    ann_lsh_topk,
    cosine_topk,
)
from pandance_spark.sources import load_table


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: fuzzy (tolerance) join —
    pair up events observed within 5 minutes of each other across two
    detectors (reference fuzzy_join, pandance/pandance.py:22-208)."""
    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "ts", "event_type"
    )
    a = ev.filter(F.col("event_id") % 2 == 0)
    b = ev.filter(F.col("event_id") % 2 == 1)
    return fuzzy_join(a, b, on="ts", tol=dt.timedelta(minutes=5), strategy="band")


# --------------------------------------------------------------------------
# parity operators (SURVEY.md §2.1)
# --------------------------------------------------------------------------



def _codec_fixture_docs(spark: SparkSession, sf_dir: str):
    """documents table partitioned for the pack->decode codec fixtures:
    two Python stages over tiny payloads need a few hundred rows per
    task to amortize the ~15-30 ms/task Arrow + worker overhead
    (measured 1.09 s -> 0.50 s at sf0.1 going 32 -> 8 partitions) —
    ONE home for the cap heuristic so retuning it is a single edit."""
    return spread_partitions(
        load_table(spark, sf_dir, "documents"),
        cap=max(4, spark.sparkContext.defaultParallelism // 4),
    )


def _q_ineq_lt_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    return ineq_join(
        customer, supplier, how="<", left_on="c_acctbal", right_on="s_acctbal"
    )


def _q_ineq_gt_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return ineq_join(nation, region, how=">", left_on="n_name", right_on="r_name")


def _q_ineq_band_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    # string keys on the BAND strategy (r2): shared-prefix part names
    # through the common-prefix surrogate banding
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    a = part.filter(F.col("p_partkey") % 20 == 0)
    b = part.filter(F.col("p_partkey") % 20 == 1)
    return ineq_join(a, b, how="<", on="p_name", strategy="band", num_bands=16)


def _q_ineq_band_skewed(spark: SparkSession, sf_dir: str) -> DataFrame:
    # deliberately skewed band key: half the left rows pinned to one
    # value (one hot band) — AQE skew handling evidence for the bench
    ev = load_table(spark, sf_dir, "events").select("event_id", "value")
    a = ev.filter(F.col("event_id") % 31 == 0).withColumn(
        "value",
        F.when(F.col("event_id") % 2 == 0, F.lit(34.75)).otherwise(
            F.col("value")
        ),
    )
    b = ev.filter(F.col("event_id") % 31 == 1)
    return ineq_join(a, b, how="<", on="value", strategy="band", num_bands=32)


def _q_ineq_band_autoskew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Auto-skew band join (r6): the RIGHT side has half its rows
    pinned to one value, which collapses ~half the quantile cuts into
    one fat band no cut refinement can split.  ineq's _hot_bands detects
    the collapse from the raw cut multiplicity (free — no extra scan) and
    the shared band equi-join (_kernel.band_equijoin) salts that band
    across k reducers; the result set is identical to the unsalted
    plan, which the oracle verifies pair-for-pair.
    skew_salting='always' pins the salted plan at this test scale (at
    sf0.01 both sides broadcast, so the default 'auto' would —
    correctly — skip the salt as overhead; at 100 TB 'auto' engages on
    its own because neither side fits the broadcast threshold)."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "value")
    a = ev.filter(F.col("event_id") % 97 == 2)
    b = ev.filter(F.col("event_id") % 7 == 0).withColumn(
        "value",
        F.when(F.col("event_id") % 2 == 0, F.lit(55.25)).otherwise(
            F.col("value")
        ),
    )
    return ineq_join(
        a, b, how="<", on="value", strategy="band", num_bands=32,
        skew_salting="always",
    )


def _q_ineq_band_timestamps(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts")
    a = ev.filter(F.col("event_id") % 97 == 0)
    b = ev.filter(F.col("event_id") % 97 == 1)
    return ineq_join(a, b, how=">", on="ts", strategy="band", num_bands=16)


def _q_fuzzy_numeric(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    customer = load_table(spark, sf_dir, "customer")
    return fuzzy_join(
        part,
        customer,
        left_on="p_retailprice",
        right_on="c_acctbal",
        tol=0.5,
        strategy="band",
    )


def _q_fuzzy_autoskew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy join with a hot right-side atom (r6): half the right rows
    share ONE value, so one bucket key carries their whole mass — a
    single reducer AQE cannot split (a fat bucket is one join KEY).
    skew_salting='always' pins the salted two-sided-cell plan at test
    scale (the salt cells of _kernel.band_equijoin; at sf0.01 both
    sides broadcast so 'auto' would — correctly — skip); the oracle
    verifies the result set is exactly the unsalted |l-r| <= tol
    semantics."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "value")
    a = ev.filter(F.col("event_id") % 31 == 3)
    b = ev.filter(F.col("event_id") % 7 == 1).withColumn(
        "value",
        F.when(F.col("event_id") % 2 == 0, F.lit(55.25)).otherwise(
            F.col("value")
        ),
    )
    return fuzzy_join(
        a, b, on="value", tol=0.5, strategy="band", skew_salting="always"
    )


def _q_fuzzy_timestamps(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts")
    a = ev.filter(F.col("event_id") % 2 == 0)
    b = ev.filter(F.col("event_id") % 2 == 1)
    return fuzzy_join(a, b, on="ts", tol=dt.timedelta(seconds=120), strategy="band")


def _q_fuzzy_decimal(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", F.col("p_retailprice").cast("decimal(12,2)").alias("price_d")
    )
    out = fuzzy_join(
        part, part, on="price_d", tol=decimal.Decimal("0.05"), strategy="band"
    )
    # the join runs in exact decimal arithmetic; emit the price columns
    # as rounded doubles so the result hashes identically across engines
    # regardless of each engine's decimal rendering (r1: rows matched,
    # hash didn't — driver-side decimal canonicalization differs)
    return out.select(
        "p_partkey_x",
        F.round(F.col("price_d_x").cast("double"), 2).alias("price_d_x"),
        "p_partkey_y",
        F.round(F.col("price_d_y").cast("double"), 2).alias("price_d_y"),
    )


def _q_theta_expr_mod(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    return theta_join(
        part,
        supplier,
        condition=lambda x, y: (x % 5) == (y % 5),
        left_on="p_size",
        right_on="s_suppkey",
    )


def _q_theta_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    keywords = spark.createDataFrame(
        [("data",), ("query",), ("window",), ("xyzzy",)], "keyword string"
    )
    docs = load_table(spark, sf_dir, "documents")
    return theta_join(
        keywords,
        docs,
        condition=lambda kw, text: text.contains(kw),
        left_on="keyword",
        right_on="text",
    )


def _q_theta_udf_gcd(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").select("p_partkey")
    supplier = load_table(spark, sf_dir, "supplier").select("s_suppkey")
    out = theta_join(
        part,
        supplier,
        condition=lambda x, y: math.gcd(int(x), int(y)) == 5,  # scalar-only -> UDF path
        left_on="p_partkey",
        right_on="s_suppkey",
    )
    return out.select("p_partkey", "s_suppkey")


# --------------------------------------------------------------------------
# dedup extensions (SURVEY.md §2.4)
# --------------------------------------------------------------------------


def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup_exact(docs, ["lang", "source"], tie_breaker="doc_id")


def _q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_join(docs, "doc_id", "text", shingle_n=3, threshold=0.8)


def _q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup_minhash(
        docs, "doc_id", "text", threshold=0.8, num_hashes=64, bands=16, shingle_n=3
    )


def _q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pair -> CLUSTER assignment: MinHash-LSH verified pairs (same
    # params as dedup_minhash, whose pair set provably equals the exact
    # Jaccard pairs) grouped into connected components; the oracle
    # recomputes the closure with a recursive CTE over the exact pairs
    docs = load_table(spark, sf_dir, "documents")
    return dedup_clusters(
        docs, "doc_id", "text", threshold=0.8, num_hashes=64, bands=16, shingle_n=3
    ).orderBy("doc_id")


def _q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # portable=True -> md5-derived token hashes, so the DuckDB oracle
    # recomputes the exact same 64-bit signatures (r1 had no oracle:
    # xxhash64 is engine-specific)
    docs = load_table(spark, sf_dir, "documents")
    return simhash_candidates(docs, "doc_id", "text", max_hamming=3, portable=True)


def _q_embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread_partitions(load_table(spark, sf_dir, "embeddings"))
    return embedding_cosine_pairs(emb, "vec_id", "embedding", threshold=0.45)


def _q_pii_ibans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checksum-validated IBAN detection (functions/text.py find_ibans
    — ISO 13616 MOD-97-10, the international twin of the Luhn card
    panel): every 3rd document gets a deterministic VALID planted IBAN
    (check digits computed in-query by the same mod-97 fold, spaced
    groups-of-4 on half of them), every 3rd+1 gets a corrupted twin
    (last BBAN digit bumped — provably mod-97-invalid since 10^k is
    coprime to 97).  The oracle replays candidate-run extraction, the
    15-34 prefix scan, the per-char fold (list_reduce) and the
    planted-IBAN construction — detection AND rejection both pinned.
    Pure projection over the corpus: scan-bound at 100 TB."""
    from pandance_spark.functions.text import find_ibans, iban_mod97

    docs = load_table(spark, sf_dir, "documents")
    bban = F.concat(
        F.lit("WEST"),
        F.lpad(((F.col("doc_id") * 7919) % 10000000000).cast("string"),
               10, "0"),
    )
    chk = F.lpad(
        (98 - iban_mod97(F.concat(F.lit("GB00"), bban))).cast("string"),
        2, "0",
    )
    iban = F.concat(F.lit("GB"), chk, bban)
    bad = F.concat(
        F.substring(iban, 1, 17),
        ((F.substring(iban, 18, 1).cast("int") + 1) % 10).cast("string"),
    )
    spaced = F.trim(F.regexp_replace(iban, "(....)", "$1 "))
    m3 = F.col("doc_id") % 3
    text2 = F.concat(
        F.col("text"),
        F.when(
            m3 == 0,
            F.concat(
                F.lit(" pay to "),
                F.when(F.col("doc_id") % 6 == 0, spaced).otherwise(iban),
            ),
        )
        .when(m3 == 1, F.concat(F.lit(" ref "), bad))
        .otherwise(F.lit("")),
    )
    found = find_ibans(text2)
    return docs.select(
        "doc_id",
        F.size(found).cast("long").alias("n_ibans"),
        F.array_join(F.array_sort(found), ",").alias("ibans"),
    )


def _q_npmi_phrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining by normalized PMI (functions/text.py
    npmi_phrases, Bouma 2009): top-50 adjacent-pair phrases with >= 5
    occurrences over the documents corpus — the word2vec-style
    "New_York" detector a tokenizer/vocab pipeline runs first.  The
    oracle recomputes both count tables, both totals and the
    ln-ratio score (6-dp rounded, (npmi desc, w1, w2) rank order) in
    SQL.  Two map-side-combined aggregations + broadcast joins; the
    100 TB cost is the corpus scan."""
    from pandance_spark.functions.text import npmi_phrases

    docs = spread_partitions(load_table(spark, sf_dir, "documents"))
    return npmi_phrases(docs, "text", min_count=5, top=50)


def _q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversified retrieval (operators/similarity.py mmr_rerank,
    Carbonell & Goldstein 1998): for 10 query vectors, greedily pick 5
    of the 20 nearest candidates maximizing lamb*relevance -
    (1-lamb)*max-sim-to-selected — the RAG-side dedup that keeps three
    copies of one passage from filling a context window.  Every
    similarity and marginal score rounds to 6 dp before comparison
    with smallest-id ties (the cosine_topk convention), and
    ``1 - lamb`` is embedded as the SAME Python-double literal on both
    sides, so the oracle replays the ENTIRE greedy loop as k unrolled
    SQL layers (argmax via QUALIFY, redundancy via
    greatest(ms, cand-x-selected cosine)) and matches bit-for-bit."""
    from pandance_spark.operators.similarity import mmr_rerank

    emb = spread_partitions(load_table(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 10)
    return mmr_rerank(
        queries, emb, "vec_id", "vec_id", k=5, pool=20, lamb=0.7
    )


def _simhash_eval_oracle(threshold: float = 0.6) -> str:
    """Full SQL replay of simhash_eval: the minhash_eval mutated-copy
    fixture and brute-force Jaccard truth, with the dedup_simhash
    signature chain (md5 token hashes, 64 bit votes, hamming<=3
    pairs) as the candidate side, feeding the dedup_eval report."""
    return f"""
        WITH aug AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 100000 AS doc_id,
                 array_to_string(list_filter(string_split(text, ' '),
                   (x, i) -> (i - 1) % 9 <> 0), ' ') AS text
          FROM documents
        ),
        toks AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(text),
                                                '[^a-z0-9]+'),
                             s -> s <> '') AS ts
          FROM aug
        ),
        shn AS (
          SELECT doc_id,
                 CASE WHEN len(ts) < 3 THEN []
                      ELSE [array_to_string(list_slice(ts, i, i+2), ' ')
                            for i in range(1, len(ts)-1)] END AS ss
          FROM toks
        ),
        sets AS (SELECT doc_id, list_distinct(ss) AS s FROM shn),
        truth AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM sets a, sets b
          WHERE a.doc_id < b.doc_id
            AND len(list_distinct(list_concat(a.s, b.s))) > 0
            AND round(len(list_intersect(a.s, b.s)) * 1.0 /
                      len(list_distinct(list_concat(a.s, b.s))), 6)
                >= {threshold}
        ),
        tok AS (SELECT doc_id, unnest(ts) AS t FROM toks),
        h AS (
          SELECT doc_id,
                 CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) AS hi,
                 CAST('0x' || substr(md5(t), 9, 8) AS BIGINT) AS lo
          FROM tok
        ),
        v AS (
          SELECT doc_id, bits.b AS b,
                 count(*) AS n,
                 sum(((CASE WHEN bits.b < 32 THEN lo ELSE hi END)
                      >> (bits.b % 32)) & 1) AS c
          FROM h, range(64) bits(b)
          GROUP BY doc_id, bits.b
        ),
        sig AS (
          SELECT d.doc_id,
                 coalesce(sum(CASE WHEN v.b < 32 AND v.c * 2 > v.n
                                   THEN (1::BIGINT << v.b)
                                   ELSE 0 END), 0) AS sh_lo,
                 coalesce(sum(CASE WHEN v.b >= 32 AND v.c * 2 > v.n
                                   THEN (1::BIGINT << (v.b - 32))
                                   ELSE 0 END), 0) AS sh_hi
          FROM aug d LEFT JOIN v ON d.doc_id = v.doc_id
          GROUP BY d.doc_id
        ),
        cands AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM sig a JOIN sig b ON a.doc_id < b.doc_id
          WHERE bit_count(xor(a.sh_lo, b.sh_lo))
                  + bit_count(xor(a.sh_hi, b.sh_hi)) <= 3
        ),
        ver AS (
          SELECT count(*) AS n_verified
          FROM cands JOIN truth USING (id_a, id_b)
        ),
        nums AS (
          SELECT (SELECT count(*) FROM aug) AS n_docs,
                 (SELECT count(*) FROM truth) AS n_true,
                 (SELECT count(*) FROM cands) AS n_candidates,
                 (SELECT n_verified FROM ver) AS n_verified
        )
        SELECT n_docs::BIGINT AS n_docs, n_true::BIGINT AS n_true,
               n_candidates::BIGINT AS n_candidates,
               n_verified::BIGINT AS n_verified,
               round(CASE WHEN n_true > 0
                          THEN n_verified * 1.0 / n_true
                          ELSE 1.0 END, 9) AS recall,
               round(CASE WHEN n_candidates > 0
                          THEN n_verified * 1.0 / n_candidates
                          ELSE 0.0 END, 9) AS precision
        FROM nums
    """


def _iban_fold_sql(expr: str) -> str:
    """DuckDB replay of functions/text.py iban_mod97's per-char fold
    over an ALREADY-REARRANGED string expression: digits fold as
    acc*10+d, letters as acc*100+(code-55), every step mod 97."""
    return (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"[CAST(ascii(c) AS BIGINT) for c in string_split({expr}, '')]), "
        "(acc, code) -> CASE WHEN code BETWEEN 48 AND 57 "
        "THEN (acc*10 + code-48) % 97 "
        "ELSE (acc*100 + code-55) % 97 END)"
    )


def _pii_ibans_oracle() -> str:
    fold_chk = _iban_fold_sql("bban || 'GB00'")
    fold_p = _iban_fold_sql("substr(p, 5) || substr(p, 1, 4)")
    return f"""
        WITH planted AS (
          SELECT doc_id, text,
                 'WEST' || lpad(CAST((doc_id * 7919) % 10000000000
                                     AS VARCHAR), 10, '0') AS bban
          FROM documents
        ),
        built AS (
          SELECT doc_id, text, bban,
                 'GB' || lpad(CAST(98 - {fold_chk} AS VARCHAR), 2, '0')
                   || bban AS iban
          FROM planted
        ),
        t2 AS (
          SELECT doc_id,
                 text || CASE
                   WHEN doc_id % 3 = 0 THEN ' pay to ' ||
                     CASE WHEN doc_id % 6 = 0
                          THEN trim(regexp_replace(iban, '(....)',
                                                   '\\1 ', 'g'))
                          ELSE iban END
                   WHEN doc_id % 3 = 1 THEN ' ref ' ||
                     substr(iban, 1, 17) ||
                     CAST((CAST(substr(iban, 18, 1) AS INT) + 1) % 10
                          AS VARCHAR)
                   ELSE '' END AS text2
          FROM built
        ),
        runs AS (
          SELECT doc_id,
                 [regexp_replace(r, '[ -]', '', 'g')
                  for r in regexp_extract_all(upper(text2),
                    '\\b([A-Z]{{2}}[0-9]{{2}}[A-Z0-9 -]{{10,48}})', 1)]
                   AS rs
          FROM t2
        ),
        pref AS (
          SELECT doc_id,
                 flatten([[substr(r, 1, w) for w in range(15, 35)]
                          for r in rs]) AS ps
          FROM runs
        ),
        val AS (
          SELECT doc_id,
                 list_sort(list_distinct([p for p in ps
                   if regexp_matches(p,
                        '^[A-Z]{{2}}[0-9]{{2}}[A-Z0-9]{{11,30}}$')
                      and {fold_p} = 1])) AS ib
          FROM pref
        )
        SELECT doc_id,
               CAST(coalesce(len(ib), 0) AS BIGINT) AS n_ibans,
               coalesce(array_to_string(ib, ','), '') AS ibans
        FROM val
    """


def _mmr_oracle(k: int = 5, pool: int = 20, lamb: float = 0.7) -> str:
    """Unrolled-greedy SQL replay of _q_mmr_rerank: layer i picks the
    argmax of round(lamb*rel - mu*ms, 6) per query (ties by smallest
    candidate id), then folds the selected vector into every remaining
    candidate's running max-similarity.  ``mu`` is repr(1.0 - lamb) —
    the exact Python double the Spark side embeds."""
    mu = repr(1.0 - lamb)
    lam = repr(float(lamb))
    cos_ab = (
        "round(list_cosine_similarity("
        "a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6)"
    )
    parts = [f"""
        WITH base AS (
          SELECT a.vec_id AS qid, b.vec_id AS cid,
                 {cos_ab} AS rel,
                 b.embedding::DOUBLE[] AS cv,
                 row_number() OVER (PARTITION BY a.vec_id
                                    ORDER BY {cos_ab} DESC, b.vec_id)
                   AS rnk
          FROM embeddings a, embeddings b
          WHERE a.vec_id < 10
        ),
        rem0 AS (
          SELECT qid, cid, rel, cv, 0.0::DOUBLE AS ms
          FROM base WHERE rnk <= {pool}
        )"""]
    for i in range(1, k + 1):
        parts.append(f""",
        sel{i} AS (
          SELECT qid, cid, rel, cv,
                 round({lam} * rel - {mu} * ms, 6) AS s
          FROM rem{i - 1}
          QUALIFY row_number() OVER (
            PARTITION BY qid
            ORDER BY round({lam} * rel - {mu} * ms, 6) DESC, cid ASC
          ) = 1
        )""")
        if i < k:
            parts.append(f""",
        rem{i} AS (
          SELECT p.qid, p.cid, p.rel, p.cv,
                 greatest(p.ms, round(list_cosine_similarity(
                   p.cv, s.cv), 6)) AS ms
          FROM rem{i - 1} p JOIN sel{i} s USING (qid)
          WHERE p.cid <> s.cid
        )""")
    union = "\n          UNION ALL ".join(
        f"SELECT qid AS vec_id_x, cid AS vec_id_y, "
        f"{i} AS mmr_rank, rel AS relevance, s AS mmr_score FROM sel{i}"
        for i in range(1, k + 1)
    )
    parts.append("\n        " + union)
    return "".join(parts)


def _q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # single-file scans yield ONE partition; fan out so the per-pair
    # scoring map stage uses every core (see text_fingerprints note)
    emb = spread_partitions(load_table(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 10)
    return cosine_topk(queries, emb, "vec_id", "vec_id", k=5)


def _q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread_partitions(load_table(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 10)
    return ann_lsh_topk(
        queries, emb, "vec_id", "vec_id", k=5, dim=64, num_planes=4
    )


def _q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # deterministic coarse quantizer: the first 8 corpus vectors serve
    # as centroids (the kmeans++-init shape) instead of a KMeans fit,
    # so the DuckDB oracle can recompute assignment + probing exactly.
    # Still a true partial-probe IVF run (4 of 8 cells per query).
    emb = spread_partitions(load_table(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 10)
    centroids = [
        r["embedding"]
        for r in emb.filter(F.col("vec_id") < 8)
        .select(F.col("embedding").cast("array<double>").alias("embedding"))
        .orderBy("vec_id")
        .collect()
    ]
    return ann_ivf_topk(
        queries, emb, "vec_id", "vec_id", k=5, n_clusters=8, n_probe=4,
        centroids=centroids,
    )


def _q_q3_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q3 shape: selective dim filter -> two fact joins -> grouped
    # revenue -> top-10 (TakeOrderedAndProject, no global sort shuffle).
    # Inherited relational surface (SURVEY.md 2.3) at multi-join width.
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1997-06-30")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-06-30")
    )
    return (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


def _q_q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q5 shape: 6-table join, dims broadcast, facts shuffle on
    # their join keys once; the c_nationkey = s_nationkey "local" edge
    # is an extra equi-condition, not an extra shuffle.
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "ASIA"
    )
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(
            supp,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


def _q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # canonical normalization fingerprint: formatting variants collapse
    # to one dedup key (lower + whitespace collapse + trim)
    from pandance_spark.functions.text import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.md5(normalize_text(F.col("text"))).alias("norm_fp"),
        F.length(normalize_text(F.col("text"))).cast("long").alias("norm_len"),
    )


def _q_text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    # rolling-hash fingerprinting (mod-p k-gram selection): per-doc
    # selected fingerprints, exploded to rows for the oracle compare
    from pandance_spark.functions.text import char_ngram_fingerprints
    from pandance_spark._kernel import spread_partitions

    # one small parquet file scans as ONE partition; the ~1k hashes/doc
    # map stage must fan out or it runs single-threaded (measured 20s
    # -> ~1s at sf0.1 on local[32])
    docs = spread_partitions(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        F.explode(char_ngram_fingerprints(F.col("text"), 8, 16)).alias("fp"),
    )


def _q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Gopher rule panel (Rae et al. 2021 A1.1) — pure-projection quality
    # gate; extension surface, no reference analog (SURVEY.md 2.4)
    from pandance_spark.functions.text import gopher_signals

    docs = spread_partitions(load_table(spark, sf_dir, "documents"))
    return gopher_signals(docs, "doc_id", "text")


def _q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # BM25 retrieval scoring: query-based corpus selection
    from pandance_spark.functions.ranking import bm25_topk

    docs = spread_partitions(load_table(spark, sf_dir, "documents"))
    return bm25_topk(
        docs, "doc_id", "text", ["table", "scan", "merge", "hash"], k=20
    )


def _q_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    # whole-corpus kNN graph: the large-x-large similarity case — both
    # sides shuffle on IVF cell id, nothing is broadcast-sized.
    # Deterministic centroids (first 8 corpus vectors) so the DuckDB
    # oracle replays assignment + probing exactly.
    from pandance_spark.operators.similarity import knn_graph

    emb = spread_partitions(load_table(spark, sf_dir, "embeddings"))
    centroids = [
        r["embedding"]
        for r in emb.filter(F.col("vec_id") < 8)
        .select(F.col("embedding").cast("array<double>").alias("embedding"))
        .orderBy("vec_id")
        .collect()
    ]
    return knn_graph(
        emb, "vec_id", "embedding", k=3, n_clusters=8, n_probe=4,
        centroids=centroids,
    )


# --------------------------------------------------------------------------
# text analysis extensions (SURVEY.md §2.4)
# --------------------------------------------------------------------------


def _q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pandance_spark.functions.text import bpe_token_count

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        token_count(F.col("text")).cast("long").alias("n_tokens"),
        bpe_token_count(F.col("text")).cast("long").alias("n_bpe_tokens"),
        fingerprint_md5(F.col("text")).alias("fp"),
    )


def _q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Gopher-style repetition signals — staged-projection form so the
    # tokenize/shingle chains evaluate once per document
    from pandance_spark.functions.text import repetition_profile

    docs = load_table(spark, sf_dir, "documents")
    prof = repetition_profile(docs, "doc_id", "text", 2)
    return prof.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round("distinct_ratio", 6).alias("distinct_ratio"),
        F.round("top_bigram_ratio", 6).alias("top_bigram_ratio"),
    )


def _q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the synthetic corpus is PII-free, so inject deterministic
    # email/phone strings first (the oracle injects the identical ones),
    # then count + redact — exercising detection AND replacement
    from pandance_spark.functions.text import (
        PII_EMAIL,
        PII_PHONE,
        pii_count,
        redact_pii,
    )

    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    injected = F.when(
        F.col("doc_id") % 10 == 3,
        F.concat(F.col("text"), F.lit(" contact user"), did, F.lit("@example.com now")),
    ).when(
        F.col("doc_id") % 10 == 4,
        F.concat(F.col("text"), F.lit(" call +1 555-01"), did, F.lit(" today")),
    ).otherwise(F.col("text"))
    staged = docs.select("doc_id", injected.alias("t"))
    return staged.select(
        "doc_id",
        pii_count(F.col("t"), PII_EMAIL).cast("long").alias("n_emails"),
        pii_count(F.col("t"), PII_PHONE).cast("long").alias("n_phones"),
        F.md5(redact_pii(F.col("t"))).alias("red_fp"),
    )


def _q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    # benchmark = every doc_id = 7 (mod 100) — a stand-in eval set; the
    # corpus is everything else.  shingle_n=2 suits the synthetic
    # small-vocabulary text (real pipelines use 8+); threshold 3 shared
    # distinct bigrams flags a pair as contaminated.
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 100 == 7)
    corpus = docs.filter(F.col("doc_id") % 100 != 7)
    return contamination_check(
        corpus, bench, "doc_id", "text", shingle_n=2, min_overlap=3
    )


def _q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", quality_score(F.col("text")).alias("quality"))


def _q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # single-file scan -> one partition; fan out before the regex work
    base = spread_partitions(docs).select(
        "doc_id", F.col("lang").alias("lang_actual"), F.col("text")
    )
    # staged form: 20 regex scans once per row, not per CASE branch
    return with_lang_id(base, "text", "lang_pred").select(
        "doc_id", "lang_actual", "lang_pred"
    )


def _q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    media = attach_binary_payload(docs, "doc_id", "text")
    return media.select(
        "media_id", "media_type", F.col("meta.n_bytes").cast("long").alias("n_bytes")
    )


def _q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode round-trip (operators/multimodal.py): pack a
    deterministic binary-PPM payload per document (dims + seed derived
    from doc_id, pixel byte i = (seed + 7i) % 256), decode it with the
    pure-Python P6 codec in a mapInPandas stage, and emit exact
    per-channel pixel sums.  The oracle recomputes width/height/sums
    from the same closed form — if the codec mis-parsed the header or
    raster, every row would mismatch."""
    from pandance_spark.operators.multimodal import decode_image, pack_ppm_image

    docs = load_table(spark, sf_dir, "documents")

    @F.pandas_udf("binary")
    def _pack(ids: pd.Series) -> pd.Series:
        return ids.map(
            lambda d: pack_ppm_image(4 + d % 13, 3 + d % 11, int(d) % 251)
        )

    media = docs.select("doc_id", _pack(F.col("doc_id")).alias("payload"))
    return decode_image(media).select(
        "doc_id",
        "decoded_width",
        "decoded_height",
        "decoded_format",
        "sum_r",
        "sum_g",
        "sum_b",
        "ok",
    )


def _q_multimodal_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG round-trip (operators/multimodal.py): pack a
    spec-conformant PNG per document (8-bit RGB, zlib IDAT, CRC'd
    chunks; scanline y uses filter type y % 5, and every payload is
    >= 5 rows tall so all five PNG filters — None/Sub/Up/Average/
    Paeth — are exercised on decode), decode it with the pure
    Python+numpy codec, and emit exact per-channel pixel sums.  The
    oracle recomputes width/height/sums from the packer's closed form
    (pixel byte i = (seed + 7i) % 256) — any unfiltering or inflate
    error would mismatch every row."""
    from pandance_spark.operators.multimodal import decode_image, pack_png_image

    docs = _codec_fixture_docs(spark, sf_dir)

    @F.pandas_udf("binary")
    def _pack(ids: pd.Series) -> pd.Series:
        return ids.map(
            lambda d: pack_png_image(4 + d % 9, 5 + d % 7, int(d) % 241)
        )

    media = docs.select("doc_id", _pack(F.col("doc_id")).alias("payload"))
    return decode_image(media).select(
        "doc_id",
        "decoded_width",
        "decoded_height",
        "decoded_format",
        "sum_r",
        "sum_g",
        "sum_b",
        "ok",
    )


def _q_multimodal_gif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL GIF round-trip (operators/multimodal.py): pack a GIF89a
    per document (256-entry closed-form palette, real LZW with
    variable code width), decode it with the pure-Python LZW +
    container walk, and emit exact per-channel pixel sums.  GIF is
    lossless, so the oracle recomputes everything from the packer's
    closed form (pixel index i = (seed + 7i) % 256, palette[j] =
    (j, 2j % 256, 3j % 256)); any LZW or palette slip mismatches
    every row.  The decoder itself is pinned to a FOREIGN-encoded
    GIF in tests (not merely self-consistent)."""
    from pandance_spark.operators.multimodal import decode_image, pack_gif_image

    docs = _codec_fixture_docs(spark, sf_dir)

    @F.pandas_udf("binary")
    def _pack(ids: pd.Series) -> pd.Series:
        return ids.map(
            lambda d: pack_gif_image(4 + d % 9, 5 + d % 7, int(d) % 241)
        )

    media = docs.select("doc_id", _pack(F.col("doc_id")).alias("payload"))
    return decode_image(media).select(
        "doc_id",
        "decoded_width",
        "decoded_height",
        "decoded_format",
        "sum_r",
        "sum_g",
        "sum_b",
        "ok",
    )


def _q_multimodal_gif_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Animated-GIF frame sampling (operators/multimodal.py
    pack_gif_animation -> sample_frames_gif -> decode_image): every
    2nd frame of a 2-5 frame animation re-emitted as P6 and decoded;
    per-frame channel sums are closed-form (frame f pixel index =
    (seed + 31f + 7i) % 256), so the oracle recomputes every sampled
    frame without a codec.

    The scan is spread_partitions-wrapped: the fixture parquet is ONE
    small file -> one partition, which serializes the pack->sample->
    decode Python chain on a single core (measured 3.8 s -> 1.0 s at
    sf0.1 with the spread; same hazard class as the dedup_substrings
    one-partition explode).  Only the HEAVY codec queries (gif/
    gif_frames/jpeg/png/media_meta/warc) carry the spread — for the
    cheap per-row stages (decode/audio/video/wet) the extra exchange
    plus 32-task overhead measurably exceeds the parallelism gain at
    fixture size, so they stay scan-partitioned."""
    from pandance_spark.operators.multimodal import (
        decode_image,
        pack_gif_animation,
        sample_frames_gif,
    )

    docs = _codec_fixture_docs(spark, sf_dir)

    @F.pandas_udf("binary")
    def _pack(ids: pd.Series) -> pd.Series:
        return ids.map(
            lambda d: pack_gif_animation(
                2 + int(d) % 4, 4 + int(d) % 5, 3 + int(d) % 4,
                int(d) % 241,
            )
        )

    media = docs.select(
        F.col("doc_id").alias("media_id"),
        _pack(F.col("doc_id")).alias("payload"),
    )
    frames = sample_frames_gif(media, every_k=2)
    return decode_image(frames, payload_col="frame").select(
        F.col("media_id").alias("doc_id"),
        F.col("frame_index").cast("long").alias("frame_index"),
        "decoded_width",
        "decoded_height",
        "sum_r",
        "sum_g",
        "sum_b",
        "ok",
    )


def _q_multimodal_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline-JPEG round-trip (operators/multimodal.py): pack a
    spec-conformant JFIF grayscale payload per document whose image is
    a grid of CONSTANT 8x8 blocks with a flat quant table — a constant
    block's DCT is a single integer DC coefficient, which survives the
    lossy pipeline (quantize -> Huffman -> dequantize -> IDCT)
    EXACTLY.  The decoder is a full baseline entropy decoder (canonical
    Huffman, EOB/ZRL, restart support); the oracle recomputes the
    decoded pixel sums from the packer's closed form (block b value =
    (seed + 17b) % 256, edge blocks partial)."""
    from pandance_spark.operators.multimodal import decode_image, pack_jpeg_image

    docs = _codec_fixture_docs(spark, sf_dir)

    @F.pandas_udf("binary")
    def _pack(ids: pd.Series) -> pd.Series:
        return ids.map(
            lambda d: pack_jpeg_image(9 + d % 10, 8 + d % 9, int(d) % 211)
        )

    media = docs.select("doc_id", _pack(F.col("doc_id")).alias("payload"))
    return decode_image(media).select(
        "doc_id",
        "decoded_width",
        "decoded_height",
        "decoded_format",
        "sum_r",
        "sum_g",
        "sum_b",
        "ok",
    )


def _q_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (functions/url.py): synthesize noisy
    absolute URLs per document (uppercase scheme/host, default ports,
    tracking params, unsorted query, fragments — closed form over
    doc_id), then emit normalize_url / url_host / registered_domain.
    Pure Column expressions fused into the scan — zero shuffles.  The
    oracle rebuilds every output string in closed form; any slip in
    port stripping, param filtering/sorting or the public-suffix
    heuristic mismatches whole row groups."""
    from pandance_spark.functions.url import (
        normalize_url,
        registered_domain,
        url_host,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    url = F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("HTTP://WWW.Site"))
        .otherwise(F.lit("https://sub.site")),
        (F.col("doc_id") % 7).cast("string"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(".Example.CO.UK"))
        .otherwise(F.lit(".Example.COM")),
        F.when(F.col("doc_id") % 2 == 0, F.lit(":80")).otherwise(
            F.lit(":443")
        ),
        F.lit("/p/"),
        F.col("doc_id").cast("string"),
        F.when(
            F.col("doc_id") % 4 == 0,
            F.lit("?utm_source=x&b=2&a=1#frag"),
        ).otherwise(F.lit("")),
    )
    out = docs.withColumn("url", url)
    return out.select(
        "doc_id",
        "url",
        normalize_url(F.col("url")).alias("url_norm"),
        url_host(F.col("url")).alias("host"),
        registered_domain(url_host(F.col("url"))).alias("domain"),
    )


def _q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-keyed dedup — the first pass of every crawl pipeline:
    canonicalize (functions/url.py normalize_url), then keep ONE page
    per canonical URL with a deterministic keeper (operators/dedup.py
    dedup_exact, min doc_id).  The fixture synthesizes ~5 noisy
    variants per canonical URL (case noise, default ports, tracking-
    only query strings, fragments — closed form over doc_id), so the
    oracle's closed-form group/min replay fails if any normalization
    rule or the keeper tie-break drifts.  One shuffle total (the dedup
    groupBy); the normalization itself fuses into the scan."""
    from pandance_spark.functions.url import normalize_url
    from pandance_spark.operators.dedup import dedup_exact

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    k = F.col("doc_id") % 100
    url = F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("HTTP://SITE")).otherwise(
            F.lit("http://site")
        ),
        (k % 7).cast("string"),
        F.when(F.col("doc_id") % 2 == 0, F.lit(".EXAMPLE")).otherwise(
            F.lit(".example")
        ),
        F.when(k % 3 == 0, F.lit(".co.uk")).otherwise(F.lit(".com")),
        F.when(F.col("doc_id") % 2 == 0, F.lit(":80")).otherwise(F.lit("")),
        F.lit("/p/"),
        k.cast("string"),
        F.when(
            F.col("doc_id") % 4 == 0,
            F.lit("?utm_source=x&utm_medium=y#frag"),
        )
        .when(F.col("doc_id") % 3 == 0, F.lit("#frag2"))
        .otherwise(F.lit("")),
    )
    noisy = docs.select("doc_id", url.alias("url"))
    keyed = noisy.withColumn("url_norm", normalize_url(F.col("url")))
    return dedup_exact(keyed, ["url_norm"], tie_breaker="doc_id")


def _q_cap_per_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed per-domain cap a crawl pipeline actually runs:
    synthesize noisy URLs (same closed form as url_normalize), derive
    registered_domain(url_host(url)) — pure Column expressions fused
    into the scan — and keep at most 25 docs per domain via
    cap_per_group's deterministic md5-order window.  One shuffle on
    the domain key, total.  The oracle replays the domain derivation
    AND the cap's hash order in closed form."""
    from pandance_spark.functions.split import cap_per_group
    from pandance_spark.functions.url import registered_domain, url_host

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    url = F.concat(
        F.lit("https://www.site"),
        (F.col("doc_id") % 17).cast("string"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(".co.uk")).otherwise(
            F.lit(".com")
        ),
        F.lit("/d/"),
        F.col("doc_id").cast("string"),
    )
    with_domain = docs.withColumn(
        "domain", registered_domain(url_host(url))
    )
    return cap_per_group(with_domain, "domain", n=10, key_col="doc_id")


def _q_wet_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WET ingest (sources/warc.py pack_wet + warc_records): Common
    Crawl's extracted-text layout — CONVERSION records with a plain
    text/plain body, no HTTP wrapper — flows through the SAME stage as
    full WARC; http_status/content_type come back NULL and the body
    whole.  Each doc becomes one WET record whose body is its own
    text, so the oracle replays every field in closed form."""
    from pyspark.sql.functions import pandas_udf

    from pandance_spark.sources.warc import pack_wet, warc_records

    docs = load_table(spark, sf_dir, "documents")

    @pandas_udf("binary")
    def _pack(ids: pd.Series, texts: pd.Series) -> pd.Series:
        return pd.Series(
            [
                pack_wet([{"uri": f"http://wet.test/{int(d)}", "body": t}])
                for d, t in zip(ids, texts)
            ]
        )

    media = docs.select(
        "doc_id", _pack(F.col("doc_id"), F.col("text")).alias("payload")
    )
    return warc_records(media, "doc_id").select(
        "doc_id",
        F.col("record_index").cast("long").alias("record_index"),
        "record_type",
        "target_uri",
        "http_status",
        "http_content_type",
        "body_text",
        F.col("n_body_bytes").alias("n_body_bytes"),
        "ok",
    )


def _q_warc_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC ingest round-trip (sources/warc.py): pack a deterministic
    WARC/1.0 payload per document — 1 + doc_id % 3 HTTP response
    records, EVEN doc_ids in Common Crawl's member-per-record gzip
    layout, odd ones plain — then explode with warc_records and emit
    every parsed field.  The oracle rebuilds uri/status/body/length
    from the packer's closed form (body of record j = 'd{id} r{j} '
    repeated 1 + (id + j) % 4 times); a mis-parsed header, body
    offset, or gzip member boundary would mismatch those rows."""
    from pandance_spark.sources.warc import pack_warc, pack_warc_gz, warc_records

    docs = spread_partitions(load_table(spark, sf_dir, "documents"))

    @F.pandas_udf("binary")
    def _pack(ids: pd.Series) -> pd.Series:
        def one(d):
            d = int(d)
            recs = [
                {
                    "uri": f"http://ex.test/{d}/{j}",
                    "body": f"d{d} r{j} " * (1 + (d + j) % 4),
                }
                for j in range(1 + d % 3)
            ]
            return (pack_warc_gz if d % 2 == 0 else pack_warc)(recs)

        return ids.map(one)

    media = docs.select("doc_id", _pack(F.col("doc_id")).alias("payload"))
    return warc_records(media, "doc_id").select(
        "doc_id",
        "record_index",
        "record_type",
        "target_uri",
        "http_status",
        "http_content_type",
        "body_text",
        "n_body_bytes",
        "ok",
    )


def _q_mojibake_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mojibake repair (functions/text.py fix_mojibake): the classic
    UTF-8-read-as-cp1252 double encoding, repaired by a COMPUTED
    replacement table that also generates the DuckDB oracle's replace
    chain — the two engines cannot drift.  Fixture plants 'cafÃ©' /
    'naÃ¯ve' / 'â€”' runs per doc_id (every 7th doc is pure ASCII,
    exercising the identity path); the oracle applies the same chain
    unconditionally — repairing clean text is the identity, so the
    Spark-side RLIKE pregate needs no SQL twin.  Pure projection."""
    from pandance_spark.functions.text import fix_mojibake

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    planted = F.concat(
        F.repeat(F.lit("caf\u00c3\u00a9 "), (F.col("doc_id") % 3 + 1).cast("int")),
        F.repeat(F.lit("na\u00c3\u00afve "), (F.col("doc_id") % 4).cast("int")),
        F.repeat(F.lit("\u00e2\u20ac\u201ddash "), (F.col("doc_id") % 2).cast("int")),
        F.lit("clean tail"),
    )
    raw = F.when(F.col("doc_id") % 7 == 0, F.lit("pure ascii only")).otherwise(
        planted
    )
    fixed = fix_mojibake(raw)
    return docs.select(
        "doc_id",
        F.length(raw).cast("long").alias("n_raw"),
        F.length(fixed).cast("long").alias("n_fixed"),
        F.md5(fixed).alias("fixed_md5"),
    ).orderBy("doc_id")


def _q_script_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode-script routing (functions/text.py script_counts /
    dominant_script): the multilingual pipeline's FIRST pass — split a
    crawl by script before any per-language heuristic or model runs.
    The testdata documents are ASCII regardless of their lang label,
    so the fixture synthesizes deterministic mixed-script text per
    doc_id (Latin/Han/Cyrillic/Hangul/Arabic blocks repeated by
    id-derived counts — same closed-form-payload pattern as the codec
    fixtures); the oracle rebuilds the text and recounts every script
    with the same regex ranges.  Both engines count codepoints, so
    counts and the alphabetical-tie dominant pick replay exactly.
    Pure Column projection: zero shuffle, zero UDF."""
    from pandance_spark.functions.text import with_dominant_script

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    text = F.concat(
        F.repeat(F.lit("the quick "), (F.col("doc_id") % 3 + 1).cast("int")),
        F.repeat(F.lit("漢字"), (F.col("doc_id") % 4).cast("int")),
        F.repeat(F.lit("слово "), (F.col("doc_id") % 5).cast("int")),
        F.repeat(F.lit("한글"), (F.col("doc_id") % 3).cast("int")),
        F.repeat(F.lit("عرب"), (F.col("doc_id") % 2).cast("int")),
    )
    return with_dominant_script(
        docs.select("doc_id", text.alias("__t")), "__t"
    ).drop("__t").orderBy("doc_id")


def _q_c4_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 corpus cleaning (functions/text.py c4_clean — Raffel et al.
    2020 §2.2): the canonical web-corpus heuristic filter the repo's
    quality panel lacked as a NAMED pass.  The punctuation-free corpus
    is structured in the query: 'table'/'value' become line breaks
    with terminal marks (the sentence_chunks pattern), then page-level
    hazards are planted on deterministic doc_id residues — a
    javascript notice (line rule), 'lorem ipsum' (page rule), a curly
    brace (page rule), and the badword 'verboten' on a line that
    PASSES every line rule, proving page rules see the original text.
    The oracle replays the same two regex passes + concat and
    re-applies every rule with DuckDB list lambdas.  Map-only: zero
    shuffle, zero UDF."""
    from pandance_spark.functions.text import c4_clean

    docs = load_table(spark, sf_dir, "documents")
    page = F.regexp_replace(F.col("text"), "\\btable\\b", "table.\n")
    page = F.regexp_replace(page, "\\bvalue\\b", "value?\n")
    did = F.col("doc_id")
    page = F.concat(
        page,
        F.when(
            did % 7 == 0,
            F.lit("\nplease enable javascript to view this page."),
        ).otherwise(F.lit("")),
        F.when(
            did % 11 == 0, F.lit("\nlorem ipsum dolor sit amet sample.")
        ).otherwise(F.lit("")),
        F.when(
            did % 13 == 0, F.lit("\nconfig { enabled } block here.")
        ).otherwise(F.lit("")),
        F.when(
            did % 17 == 0,
            F.lit("\nthis page contains verboten content here."),
        ).otherwise(F.lit("")),
    )
    out = c4_clean(
        docs.select("doc_id", page.alias("page")),
        "page",
        badwords=("verboten",),
    )
    return out.select(
        "doc_id",
        "text_c4",
        "n_lines_kept",
        "n_lines_dropped",
        "n_sentences",
        "c4_keep",
        "c4_drop_reason",
    )


def _q_html_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlink extraction (functions/url.py extract_links): anchor
    targets pulled from raw HTML, resolved against the page URL
    (absolute / protocol-relative / absolute-path / relative forms),
    keyed by registrable domain — the edge list that feeds per-domain
    caps and link-graph analytics.  The fixture wraps each document in
    a page carrying one link of every resolution form (plus a
    javascript: and a fragment-only target that must be filtered, and
    one uppercase single-quoted tag exercising the (?is) attribute
    regex); the oracle replays extraction, filtering, resolution and
    the registered-domain pick in SQL over the same generated pages.
    Map-only until the caller aggregates."""
    from pandance_spark.functions.url import extract_links

    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    base = F.concat(
        F.lit("http://www.site"),
        (did % 50).cast("string"),
        F.lit(".example/dir/page"),
        did.cast("string"),
        F.lit(".html"),
    )
    html = F.concat(
        F.lit("<html><body><p>"),
        F.col("text"),
        F.lit('</p><a href="http://shop.brand'),
        (did % 6).cast("string"),
        F.lit('.co.uk/p.html">x</a>'),
        F.lit("<A HREF='/a"),
        (did % 3).cast("string"),
        F.lit(".html'>y</A>"),
        F.lit('<a class="z" href="rel'),
        (did % 4).cast("string"),
        F.lit('.html">z</a>'),
        F.lit('<a href="//cdn'),
        (did % 5).cast("string"),
        F.lit('.example/c.js">c</a>'),
        F.when(
            did % 2 == 0, F.lit('<a href="javascript:void(0)">j</a>')
        ).otherwise(F.lit("")),
        F.lit('<a href="#top">t</a></body></html>'),
    )
    pages = docs.select(
        "doc_id", base.alias("page_url"), html.alias("html")
    )
    return extract_links(pages, "html", "page_url")


def _q_corpus_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot drift gate (functions/profile.py psi_drift): the
    Population Stability Index per feature over fixed histogram grids
    — 'did this crawl's length/token distribution move vs the last
    accepted snapshot?'.  ref = even doc_ids, cur = odd (a split with
    real but small drift); features: n_chars and the whitespace token
    count, each on its own grid.  The oracle replays hist_bin as a
    list_filter count, the eps-floored fractions, and the ln term.
    One scan per side for all features; the only shuffle carries
    (feature, bin) — cardinality independent of corpus size."""
    from pandance_spark.functions.profile import psi_drift
    from pandance_spark.functions.text import token_count

    docs = load_table(spark, sf_dir, "documents")
    ref = docs.filter(F.col("doc_id") % 2 == 0)
    cur = docs.filter(F.col("doc_id") % 2 == 1)
    feats = {
        "n_chars": (F.col("n_chars"), [100.0, 200.0, 300.0, 400.0]),
        "n_tokens": (
            token_count(F.col("text")),
            [20.0, 40.0, 60.0, 80.0],
        ),
    }
    return psi_drift(ref, cur, feats)


def _q_vocab_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage (functions/lm.py oov_stats): the
    per-document OOV report that sizes a tokenizer against a corpus.
    Vocabulary = distinct tokens of the first 30 documents (the
    'tokenizer training set'); every document gains one planted
    pseudo-token tok<doc_id%37>, so documents whose residue falls
    outside the training set's 0-29 range carry exactly one OOV token
    — nonzero rates with a closed form.  The oracle replays tokenize,
    the vocab CTE, the left join and the per-doc counts.  Plan:
    broadcast membership join (vocab is bounded), map-side-combined
    per-doc aggregate — one shuffle carrying one row per document."""
    from pandance_spark.functions.lm import oov_stats
    from pandance_spark.functions.text import tokenize

    docs = load_table(spark, sf_dir, "documents")
    t2 = F.concat(
        F.col("text"),
        F.lit(" tok"),
        (F.col("doc_id") % 37).cast("string"),
    )
    aug = docs.select("doc_id", t2.alias("t2"))
    vocab = (
        aug.filter(F.col("doc_id") < 30)
        .select(F.explode(tokenize(F.col("t2"))).alias("token"))
        .distinct()
    )
    return oov_stats(aug, "t2", vocab)


def _q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-columnar-format ingestion: write a deterministic orders
    projection as ORC (snappy, Spark's native writer), read the
    DIRECTORY back with ``read_any(..., fmt="orc")``, and aggregate —
    proving the sources layer round-trips a non-parquet columnar lake
    format end-to-end (schema, nulls, decimals-as-doubles, predicate
    pushdown into the ORC scan).  The temp directory is idempotent
    per-sf (atomic rename, the warc_files pattern).  The oracle
    computes the same aggregate from the parquet the ORC was written
    from — any writer/reader corruption surfaces as a value drift."""
    import os
    import tempfile

    from pandance_spark.sources import read_any

    tag = os.path.basename(sf_dir.rstrip("/"))
    root = os.path.join(
        tempfile.gettempdir(), f"pandance_orc_roundtrip_{tag}_v1"
    )
    orders = load_table(spark, sf_dir, "orders")
    proj = orders.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        # a NULL-heavy column exercises ORC null encoding
        F.when(
            F.col("o_orderkey") % 30 == 0, F.col("o_orderpriority")
        ).alias("prio_sparse"),
    )
    if not os.path.isdir(root):
        # per-process stage + loser cleanup — the _publish_dir pattern
        # (ADVICE r10); a shared ".stage" path lets two concurrent
        # publishers interleave part files
        import shutil

        stage = root + f".stage-{os.getpid()}"
        proj.coalesce(4).write.mode("overwrite").orc(stage)
        try:
            os.rename(stage, root)
        except OSError:
            # concurrent publisher won; reuse theirs
            shutil.rmtree(stage, ignore_errors=True)
    back = read_any(spark, root, fmt="orc")
    return (
        back.filter(F.col("o_custkey") > 0)  # pushed into the ORC scan
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.sum("cents").alias("sum_cents"),
            F.count("prio_sparse").alias("n_prio"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
    )


def _q_embed_pc1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-but-the-top scalar path (functions/vectors.py
    pc1_projection — Mu & Viswanath 2018): each embedding's projection
    onto the corpus' dominant principal component, the quantity the
    post-processing subtracts.  Engineered engine-exact end to end:
    2^20 micro-unit snap, EXACT integer first/second moments (so the
    covariance is independent of partitioning), driver power iteration
    with per-step 9-dp rounding (a binary double is never an exact
    multiple of 1e-10 — tie-free), and an integer dot against
    round(pc1*1e9).  The oracle replays ALL of it in SQL: pair-moment
    aggregation, the covariance formula, 30 unrolled matvec+normalize
    CTE steps, the deterministic sign pick, and the integer
    projection.  Plan: two moment aggregates over (i, j) keys —
    map-side-combined to <= dim(dim+1)/2 rows per partition — then a
    map-only projection with the component as a literal."""
    from pandance_spark.functions.vectors import pc1_projection

    emb = load_table(spark, sf_dir, "embeddings")
    return pc1_projection(
        emb, "embedding", 64, keep_cols=("vec_id", "label"), iters=30
    )


def _q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-sizing coverage curve (functions/lm.py
    vocab_coverage_curve): rank tokens by frequency (count desc,
    token asc — Zipf-tail ties are real and the order is pinned) with
    cumulative occurrence coverage per rank.  Planted per-doc pseudo
    tokens tok<doc_id%37> give the curve a genuine tail under the
    31-word corpus head.  One map-side-combined token aggregate; the
    window sorts only the vocabulary-sized result."""
    from pandance_spark.functions.lm import vocab_coverage_curve

    docs = load_table(spark, sf_dir, "documents")
    t2 = F.concat(
        F.col("text"),
        F.lit(" tok"),
        (F.col("doc_id") % 37).cast("string"),
    )
    return vocab_coverage_curve(docs.select(t2.alias("t2")), "t2")


def _q_robots_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-policy gate (functions/url.py parse_robots +
    robots_filter): 50 synthetic hosts each publish a robots.txt
    (wildcard group with a disallow/allow-override pair and a
    host-varying /tmp<k%3> rule, plus r11's RFC 9309 wildcard pair
    /*.zip$ and /files/ok*.zip$; even hosts add an exclusive
    specialbot group), and every document contributes one URL across
    eight path classes — longest-match, allow-beats-disallow-on-tie,
    no-rule-allowed, empty-root, '$'-anchor miss and
    wildcard-vs-wildcard precedence all exercised under agent='*'.
    The oracle replays the ENTIRE pipeline in SQL: line explode with
    ordinality, the lag/running-sum group recovery, the
    agent-precedence pick, the rule-pattern -> RE2 rewrite and the
    max(struct) longest-match.  Shape:
    line parse is one explode + one host window; the URL decision is
    a host-keyed join + one map-side-combinable max per URL."""
    from pandance_spark.functions.url import parse_robots, robots_filter

    docs = load_table(spark, sf_dir, "documents")
    k = F.col("doc_id") % 50
    host = F.concat(F.lit("site"), k.cast("string"), F.lit(".example"))
    robots = F.concat(
        F.lit(
            "# policy\nUser-agent: *\nDisallow: /private\n"
            "Allow: /private/ok\nDisallow: /*.zip$\n"
            "Allow: /files/ok*.zip$\nDisallow: /tmp"
        ),
        (k % 3).cast("string"),
        F.when(
            k % 2 == 0,
            F.lit("\n\nUser-agent: specialbot\nDisallow: /"),
        ).otherwise(F.lit("")),
    )
    hosts_df = docs.select(
        host.alias("host"), robots.alias("robots")
    ).distinct()
    rules = parse_robots(hosts_df, "robots", "host")
    m8 = F.col("doc_id") % 8
    path = (
        F.when(m8 == 0, F.lit("/private/x"))
        .when(m8 == 1, F.lit("/private/ok/page"))
        .when(m8 == 2, F.lit("/public/y"))
        .when(
            m8 == 3,
            F.concat(
                F.lit("/tmp"), (F.col("doc_id") % 3).cast("string"),
                F.lit("/z"),
            ),
        )
        .when(m8 == 5, F.lit("/files/d.zip"))    # /*.zip$ blocks
        .when(m8 == 6, F.lit("/files/d.zipx"))   # $ anchor: NOT blocked
        .when(m8 == 7, F.lit("/files/okay.zip"))  # longer allow wins
        .otherwise(F.lit(""))
    )
    urls = docs.select(
        "doc_id", F.concat(F.lit("http://"), host, path).alias("u")
    )
    return robots_filter(urls, "u", rules, agent="*")


def _q_emit_packs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-pack emission (functions/split.py emit_packs): packs
    from pack_documents (budget 2000, 8 md5 buckets) materialized as
    one row per pack with key-ordered doc_ids, sizes, EXCLUSIVE
    offsets (attention-mask reset points), totals and fill.  The
    oracle replays the md5 bucket, the exclusive-cumsum pack id, the
    ordered list aggregation and the per-index offset sums.  One
    window shuffle (pack assignment) + one pack-key aggregate; lists
    are pack-bounded, never corpus-bounded.

    DRIVER CONTRACT (r8 red, same class as r5 table_diff): the pack
    rows must not expose ArrayType columns — the driver's pandas
    canonicalizer dies on unhashable lists.  The operator keeps
    returning pack-ordered arrays; the QUERY joins each into one CSV
    string (lists are key-ordered inside emit_packs, so the CSV is
    deterministic)."""
    from pandance_spark.functions.split import emit_packs
    from pandance_spark.functions.text import token_count

    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id", token_count(F.col("text")).cast("long").alias("n_tokens")
    )
    packs = emit_packs(sized, "doc_id", "n_tokens", budget=2000, n_buckets=8)

    def _csv(col: str) -> Column:
        return F.array_join(
            F.transform(F.col(col), lambda x: x.cast("string")), ","
        ).alias(col + "_csv")

    return packs.select(
        "pack_bucket",
        "pack_id",
        "n_docs",
        _csv("doc_ids"),
        _csv("sizes"),
        _csv("offsets"),
        "total_tokens",
        "fill",
    )


def _q_page_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-side page metadata + sitemap extraction (functions/url.py
    html_meta / sitemap_urls): every document becomes an HTML page
    with a title (first 4 corpus words), a residue-dependent canonical
    link, a robots meta tag cycling through
    noindex/nofollow/none/absent, and a sibling sitemap payload with
    1-3 <loc> entries (one carrying &amp;).  The oracle replays every
    regex and the entity decode.  Map-only; first-match-wins pinned by
    planting a SECOND title that must be ignored."""
    from pandance_spark.functions.url import html_meta, sitemap_urls

    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    title = F.concat_ws(" ", F.slice(F.split(F.col("text"), " "), 1, 4))
    robots_meta = (
        F.when(did % 6 == 0, F.lit('<meta name="robots" content="noindex">'))
        .when(did % 6 == 1, F.lit("<meta name='robots' content='nofollow'>"))
        .when(
            did % 6 == 2,
            F.lit('<meta name="robots" content="noindex, nofollow">'),
        )
        .when(did % 6 == 3, F.lit('<meta name="robots" content="all">'))
        .otherwise(F.lit(""))
    )
    canonical = F.when(
        did % 4 == 0,
        F.concat(
            F.lit('<link rel="canonical" href="http://c.example/p'),
            (did % 7).cast("string"),
            F.lit('">'),
        ),
    ).otherwise(F.lit(""))
    html = F.concat(
        F.lit("<html><head><title> "),
        title,
        F.lit(" </title>"),
        robots_meta,
        canonical,
        F.lit("<title>ignored second title</title></head><body>"),
        F.col("text"),
        F.lit("</body></html>"),
    )
    sitemap = F.concat(
        F.lit('<urlset><url><loc> http://s.example/a'),
        (did % 5).cast("string"),
        F.lit("?x=1&amp;y=2 </loc></url>"),
        F.when(
            did % 3 > 0,
            F.concat(
                F.lit("<url><loc>http://s.example/b"),
                (did % 11).cast("string"),
                F.lit("</loc></url>"),
            ),
        ).otherwise(F.lit("")),
        F.lit("</urlset>"),
    )
    meta = html_meta(html)
    locs = sitemap_urls(sitemap)
    return docs.select(
        "doc_id",
        meta["title"].alias("title"),
        meta["canonical"].alias("canonical"),
        meta["noindex"].alias("noindex"),
        meta["nofollow"].alias("nofollow"),
        F.size(locs).cast("long").alias("n_sitemap_urls"),
        F.element_at(locs, 1).alias("first_loc"),
    )


def _q_interleave_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-interleaved training order (functions/split.py
    interleave_sources): documents ranked within their source by
    doc_id, globally ordered by (rank, source) — the round-robin
    mixing order that keeps every source present at its natural
    proportion from the first training batch.  The oracle replays
    both row_number windows.  Sources are size-skewed in the corpus,
    so exhausted sources dropping out of the rotation is exercised."""
    from pandance_spark.functions.split import interleave_sources

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source"
    )
    return interleave_sources(docs, "source", "doc_id")


def _q_length_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed inference batching (functions/split.py
    length_buckets): documents bucketed by power-of-two token count,
    batched 32 per bucket in doc_id order, then the padding report per
    (bucket, batch) — n_docs, max/sum tokens and the padding fraction
    a pad-to-batch-max runner would waste.  The oracle replays the
    log2 bucket (exact at powers of two), the row_number batch
    assignment and the aggregate."""
    from pandance_spark.functions.split import length_buckets
    from pandance_spark.functions.text import token_count

    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id",
        token_count(F.col("text")).cast("long").alias("n_tokens"),
    )
    b = length_buckets(sized, "doc_id", "n_tokens", batch_size=32)
    return b.groupBy("len_bucket", "batch_id").agg(
        F.count("*").alias("n_docs"),
        F.max("n_tokens").alias("max_tokens"),
        F.sum("n_tokens").alias("sum_tokens"),
        F.round(
            1.0
            - F.sum("n_tokens")
            / (F.count("*") * F.max("n_tokens")),
            9,
        ).alias("padding_frac"),
    )


def _q_minhash_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-quality evaluation (operators/dedup.py minhash_eval):
    recall/precision of the 64/16 MinHash-LSH candidate generator vs
    EXACT n-gram Jaccard truth, on the corpus plus one mutated copy
    per document (every 9th token dropped — similarities straddle the
    0.6 threshold, so truth is a non-trivial subset of the copy
    pairs).  portable=True makes every hash in the candidate path
    md5-derived, so the oracle replays the ENTIRE evaluation: string-
    shingle brute-force truth AND the affine-min signature + band-md5
    LSH, pair for pair.  The one-row report is the go/no-go a
    pipeline owner reads before trusting approximate dedup at 100 TB."""
    from pandance_spark.operators.dedup import minhash_eval

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dropped = F.array_join(
        F.filter(
            F.split(F.col("text"), " "), lambda x, i: i % 9 != 0
        ),
        " ",
    )
    variants = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        dropped.alias("text"),
    )
    aug = docs.unionAll(variants)
    return minhash_eval(
        aug, "doc_id", "text", threshold=0.6, portable=True
    )


def _q_simhash_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-quality evaluation of the SIMHASH candidate generator
    (operators/dedup.py dedup_eval — the generic harness factored out
    of minhash_eval in r11): recall/precision of hamming<=3 simhash
    candidates against the SAME exact-Jaccard truth and mutated-copy
    fixture as minhash_eval, so the two approximate families' audit
    rows are directly comparable.  portable=True makes the md5 token
    hashes, the 64-bit vote-fold signatures AND the brute-force truth
    all SQL-replayable — the oracle recomputes the entire evaluation
    pair-for-pair."""
    from pandance_spark.functions.text import tokenize
    from pandance_spark.operators.dedup import (
        _ngram_jaccard,
        _set_elements,
        _shingle_base,
        _simhash_signatures_from_tokens,
        dedup_eval,
        hamming_candidates,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dropped = F.array_join(
        F.filter(
            F.split(F.col("text"), " "), lambda x, i: i % 9 != 0
        ),
        " ",
    )
    variants = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        dropped.alias("text"),
    )
    # the shared checkpoint carries the token arrays, so the scan +
    # variant projection + tokenize run once for the whole harness (the
    # simhash votes hash the tokens, the jaccard truth shingles them)
    toks = (
        docs.unionAll(variants)
        .repartition(spark.sparkContext.defaultParallelism)
        .select("doc_id", tokenize(F.col("text")).alias("__toks"))
        .localCheckpoint(eager=True)
    )

    # guide §2.6 (r11): the chains stay independent given the shared
    # barrier; two driver threads overlap their build-time checkpoint
    # jobs (signature fold / shingle stream + prefix sets).
    def _cands():
        sig = _simhash_signatures_from_tokens(
            toks.select(F.col("doc_id").alias("id"), "__toks"),
            portable=True,
        ).localCheckpoint(eager=True)
        return hamming_candidates(sig, "id", "__sh", max_hamming=3)

    def _truth():
        raw = _set_elements(
            _shingle_base(toks, "doc_id", F.col("__toks"), 3)
        ).localCheckpoint(eager=True)
        return _ngram_jaccard(raw, 0.6)

    cands, truth = run_concurrently(_cands, _truth)
    return dedup_eval(cands, truth, n_docs=toks.select("doc_id"))


def _q_minhash_eval_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """minhash_eval with truth_sample_frac=0.5 (VERDICT r9 item 6):
    the affordable-audit mode — the WHOLE evaluation (exact truth,
    LSH candidates, verification) runs on a seeded length-stratified
    half-sample, so recall/precision estimate the full-corpus report
    where exact all-pairs truth is unaffordable.  Same mutated-copy
    fixture as minhash_eval; portable=True makes the SAMPLE md5-keyed
    too, so the oracle replays sample selection, truth, and the
    banded LSH pair-for-pair."""
    from pandance_spark.operators.dedup import minhash_eval

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dropped = F.array_join(
        F.filter(
            F.split(F.col("text"), " "), lambda x, i: i % 9 != 0
        ),
        " ",
    )
    variants = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        dropped.alias("text"),
    )
    aug = docs.unionAll(variants)
    return minhash_eval(
        aug, "doc_id", "text", threshold=0.6, portable=True,
        truth_sample_frac=0.5,
    )


def _q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty vs a reference corpus
    (operators/contamination.py novelty_stats — the inverse of
    contamination): reference = even doc_ids, measured over ALL
    documents, so every even document must report novelty 0.0 (it IS
    reference material) and odd documents report the fraction of
    their distinct 3-gram shingles the reference never saw.  The
    oracle replays shingling with list comprehensions and the
    membership join.  Plan: shuffle equi-join on the shingle string
    with map-side-distinct reference and per-doc map-side-combined
    counters — the corpus-vs-corpus shape contamination_check's
    broadcast path cannot serve."""
    from pandance_spark.operators.contamination import novelty_stats

    docs = load_table(spark, sf_dir, "documents")
    reference = docs.filter(F.col("doc_id") % 2 == 0)
    return novelty_stats(docs, "text", reference, shingle_n=3)


def _q_warc_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end crawl-DIRECTORY ingestion (VERDICT r7 item 4): write
    real ``.warc.gz`` files — 8 shards x 15 records in Common Crawl's
    member-per-record gzip layout, plus one corrupt shard — to a
    deterministic temp directory (idempotent publish via atomic
    rename, so concurrent runs share one copy), read the directory
    back with ``spark.read.format("binaryFile")`` (the documented
    100 TB ingest path, sources/warc.py), and explode into parsed
    records with ``warc_records``.  This closes the gap between
    "parses payload columns" and "ingests a crawl directory": path
    listing, whole-file binary read, multi-member gunzip, HTTP
    extraction and the corrupt-file quarantine row all exercise in
    one query.  The oracle rebuilds every record from the writer's
    closed form (record i: uri ``http://files.test/<i zero-padded>``,
    body ``'f<i> '`` repeated ``1 + i % 5`` times) plus the single
    ok=false quarantine row."""
    import os
    import tempfile

    from pandance_spark.sources.warc import pack_warc_gz, warc_records

    n_files, per = 8, 15
    root = os.path.join(tempfile.gettempdir(), "pandance_warc_files_v1")
    if not os.path.isdir(root):
        stage = tempfile.mkdtemp(prefix="pandance_warc_stage_")
        for k in range(n_files):
            recs = [
                {
                    "uri": f"http://files.test/{k * per + j:04d}",
                    "body": f"f{k * per + j} " * (1 + (k * per + j) % 5),
                }
                for j in range(per)
            ]
            with open(
                os.path.join(stage, f"crawl-{k:02d}.warc.gz"), "wb"
            ) as fh:
                fh.write(pack_warc_gz(recs))
        with open(os.path.join(stage, "broken.warc.gz"), "wb") as fh:
            fh.write(b"\x1f\x8b\x08\x00not actually a gzip member")
        try:
            os.rename(stage, root)
        except OSError:
            pass  # concurrent publisher won the rename; reuse theirs
    files = (
        spark.read.format("binaryFile")
        .load(os.path.join(root, "*.warc.gz"))
        .select(
            F.col("path").alias("file_path"),
            F.col("content").alias("payload"),
        )
    )
    # quarantine-row NULLs in INT columns would go float64 through the
    # driver's pandas canonicalization (the r6 hash-mismatch class the
    # dtype audit exists for) — sentinel them to -1 on both engines
    return warc_records(files, "file_path").select(
        F.coalesce("record_index", F.lit(-1)).alias("record_index"),
        "record_type",
        "target_uri",
        F.coalesce("http_status", F.lit(-1)).alias("http_status"),
        "http_content_type",
        "body_text",
        F.coalesce("n_body_bytes", F.lit(-1).cast("long")).alias(
            "n_body_bytes"
        ),
        "ok",
    )


# --------------------------------------------------------------------------
# inherited relational coverage (SURVEY.md §2.3 — pandas-delegated in the
# reference, Spark-native here; included to demonstrate the full surface)
# --------------------------------------------------------------------------


def _q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # rebalance by language: halve en, quarter de, keep 10% of the rest
    from pandance_spark.functions.split import stratified_sample

    docs = load_table(spark, sf_dir, "documents")
    return stratified_sample(
        docs,
        "lang",
        {"en": 0.5, "de": 0.25},
        key_col="doc_id",
        default_rate=0.1,
    ).select("doc_id", "lang", "source")


def _q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pandance_spark.functions.vectors import embedding_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    cents = embedding_centroids(emb, "label", "embedding")
    return cents.select(
        "label",
        "pos",
        F.round("centroid", 6).alias("centroid"),
        "n",
    )


def _q_pack_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    # token-budget packing: 8 buckets, 2000-token packs
    from pandance_spark.functions.split import pack_documents
    from pandance_spark.functions.text import token_count

    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id", token_count(F.col("text")).cast("long").alias("n_tokens")
    )
    return pack_documents(sized, "doc_id", "n_tokens", budget=2000, n_buckets=8)


def _q_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pandance_spark.functions.text import top_tokens

    docs = load_table(spark, sf_dir, "documents")
    return top_tokens(docs, "text", k=50)


def _q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budgeted overlapping windows over documents
    (functions/split.py chunk_documents — pure projection + explode,
    fused into the scan)."""
    from pandance_spark.functions.split import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, "doc_id", "text", max_tokens=16, overlap=4)


def _q_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pandance_spark.functions.split import hash_split_bucket

    docs = load_table(spark, sf_dir, "documents")
    bucket = hash_split_bucket(F.col("doc_id"), 1000)
    return docs.select(
        "doc_id",
        bucket.alias("bucket"),
        (bucket < 800).alias("is_train"),
    )


def _q_cap_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pandance_spark.functions.split import cap_per_group

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return cap_per_group(docs, "lang", n=40, key_col="doc_id")


def _q_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-build diff (operators/merge.py table_diff): one
    full-outer join on the key, output proportional to churn.  'old'
    drops every 97th order; 'new' bumps every 89th price — diff must
    report exactly those as added/changed."""
    from pandance_spark.operators.merge import table_diff

    orders = load_table(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderkey") % 97 != 0)
    new = orders.withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 89 == 0,
            F.round(F.col("o_totalprice") * 1.1, 2),
        ).otherwise(F.col("o_totalprice")),
    )
    diff = table_diff(
        old, new, "o_orderkey",
        compare_cols=["o_orderstatus", "o_totalprice", "o_orderpriority"],
    )
    # The operator's public API returns changed_cols as array<string>;
    # project it to a sorted CSV here (driver-query layer only) because
    # the driver harness canonicalizes via pandas sort_values, which
    # cannot hash list cells (r5 driver err).
    return diff.select(
        "o_orderkey",
        "change",
        F.array_join(F.array_sort("changed_cols"), ",").alias("changed_cols"),
    )


def _q_exact_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic exact-size global sample (functions/split.py
    exact_sample — hash-order TakeOrderedAndProject, no global sort)."""
    from pandance_spark.functions.split import exact_sample

    docs = load_table(spark, sf_dir, "documents")
    return exact_sample(docs.select("doc_id", "lang", "source"), "doc_id", 100)


def _q_q13_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q13 shape: LEFT OUTER join + two-level aggregation (order
    # count per customer, then customer count per order count) —
    # customers with zero orders must survive with c_count = 0
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        cust.join(
            orders, cust["c_custkey"] == orders["o_custkey"], "left"
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


def _q_q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q16 shape (partsupp absent in the fixture -> derive the
    # part-supplier relation from lineitem): DISTINCT-aggregate over a
    # join — count distinct shipping suppliers per (brand, size)
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    return (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


def _q_q18_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q18 shape: HAVING-style aggregate subquery (orders whose
    # lineitems total > 200 units) joined back to orders + customer
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .filter(F.col("sum_qty") > 200)
    )
    return (
        orders.join(big, orders["o_orderkey"] == big["l_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .select("c_custkey", "c_name", "o_orderkey", "o_totalprice", "sum_qty")
    )


def _q_pagerank_supply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the supplier -> part shipping graph
    (operators/cluster.py pagerank — fixed-iteration power method, 5
    iterations, dangling mass redistributed).  The same operator
    scores document centrality over knn_graph edges for graph-based
    corpus selection; this fixture graph keeps the DuckDB oracle (5
    unrolled iterations, _pagerank_oracle) cheap.  Part ids are offset
    so the two key spaces cannot collide."""
    from pandance_spark.operators.cluster import pagerank

    li = load_table(spark, sf_dir, "lineitem")
    edges = li.select(
        F.col("l_suppkey").alias("src"),
        (F.col("l_partkey") + 1000000).alias("dst"),
    ).distinct()
    return pagerank(edges, n_iter=5)


def _q_merge_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands interval union (operators/overlap.py
    merge_intervals): per-user 2-minute activity intervals coalesced
    into disjoint spans — one shuffle on user_id, window + agg share
    the Exchange."""
    from pandance_spark.operators.overlap import merge_intervals

    ev = load_table(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        F.col("ts").alias("span_start"),
        (F.col("ts") + F.expr("INTERVAL 2 MINUTES")).alias("span_end"),
    )
    return merge_intervals(iv, "span_start", "span_end", by="user_id")


def _q_zorder_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering key (functions/layout.py zorder_key — the
    Delta/Iceberg OPTIMIZE ZORDER layout as plain Column arithmetic):
    8-bit Morton interleave of (o_custkey, o_orderkey) ranks.  Integer
    scaling keeps the key engine-exact; the oracle replays the
    min/max scaling + bit interleave with DuckDB bit ops.  The layout
    payoff (row-group range fractions after write_zordered) is
    measured in SCALING.md."""
    from pandance_spark.functions.layout import zorder_by

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    out = zorder_by(orders, ["o_custkey", "o_orderkey"], bits=8)
    return out.select(
        "o_orderkey", "o_custkey", F.col("__zorder").alias("zkey")
    )


def _q_multimodal_media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native-format metadata WITHOUT decode (operators/multimodal.py
    media_metadata): even docs carry a packed MPEG-1 Layer III stream
    (ID3v2 skip + frame-header walk), odd docs a minimal ISO BMFF MP4
    (box walk: mvhd duration, tkhd 16.16 dims, mdat size).  Every
    emitted statistic is an integer the oracle recomputes from the
    packers' closed forms — the route-and-describe pass a media corpus
    build runs before any codec is invoked."""
    from pandance_spark.operators.multimodal import (
        media_metadata,
        pack_mp3_audio,
        pack_mp4_video,
    )

    docs = _codec_fixture_docs(spark, sf_dir)

    @F.pandas_udf("binary")
    def _pack(ids: pd.Series) -> pd.Series:
        def mk(d):
            d = int(d)
            if d % 2 == 0:
                return pack_mp3_audio(5 + d % 20, 1 + d % 14, seed=d % 97)
            return pack_mp4_video(
                320 + d % 300, 240 + d % 200, 1000 + d % 5000,
                n_bytes=32 + d % 64, seed=d % 97,
            )

        return ids.map(mk)

    media = docs.select("doc_id", _pack(F.col("doc_id")).alias("payload"))
    return media_metadata(media).select(
        "doc_id", "media_format", "duration_ms", "sample_rate",
        "bitrate_kbps", "frame_count", "width", "height",
        "payload_bytes", "ok",
    )


def _q_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column health profile of the orders table
    (functions/profile.py profile_table): exact null/distinct counts,
    every column in ONE Expand-based pass over the scan."""
    from pandance_spark.functions.profile import profile_table

    orders = load_table(spark, sf_dir, "orders")
    return profile_table(
        orders,
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
         "o_orderpriority"],
    )


def _q_ann_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k over int8-quantized embeddings
    (functions/vectors.py quantize_embedding/dequantize_embedding —
    the 4x storage/shuffle-cut representation): quantize, dequantize,
    search.  The oracle recomputes scale + codes in SQL, so the
    round-trip — including the half-up code rounding — is verified
    bit-for-bit, and ranks show the representation preserves
    neighborhoods."""
    from pandance_spark.functions.vectors import (
        dequantize_embedding,
        quantize_embedding,
    )
    from pandance_spark.operators.similarity import cosine_topk

    emb = load_table(spark, sf_dir, "embeddings")
    qz = emb.select(
        "vec_id",
        dequantize_embedding(
            quantize_embedding(F.col("embedding"), 8)
        ).alias("embedding"),
    )
    return cosine_topk(
        qz.filter(F.col("vec_id") < 10), qz, "vec_id", "vec_id", k=5
    )


def _q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-entropy under a self-trained add-1 unigram LM
    (functions/lm.py — the CCNet/KenLM-style perplexity quality filter
    as exact relational algebra; extension surface, SURVEY.md §2.4)."""
    from pandance_spark.functions.lm import lm_cross_entropy

    docs = spread_partitions(load_table(spark, sf_dir, "documents"))
    return lm_cross_entropy(docs, "doc_id", "text")


def _q_lm_perplexity_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram variant of the LM quality filter (functions/lm.py
    lm_cross_entropy_bigram): context-sensitive scoring, contexts
    derived inside the token array (no per-doc window)."""
    from pandance_spark.functions.lm import lm_cross_entropy_bigram

    docs = spread_partitions(load_table(spark, sf_dir, "documents"))
    return lm_cross_entropy_bigram(docs, "doc_id", "text")


def _q_lm_perplexity_kn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram scoring (functions/lm.py
    lm_cross_entropy_kn — VERDICT r10 next-round #5): the smoothing
    KenLM/CCNet actually uses, redistributing backoff mass by context
    DIVERSITY (continuation counts) instead of raw frequency.  Every
    model quantity is an aggregate of the self-trained bigram table
    (counts, type counts, T, V), so the oracle retrains AND rescores
    the entire model in SQL — discount arithmetic, continuation
    floor, unseen-context backoff — and must match to 6 dp."""
    from pandance_spark.functions.lm import lm_cross_entropy_kn

    docs = spread_partitions(load_table(spark, sf_dir, "documents"))
    return lm_cross_entropy_kn(docs, "doc_id", "text")


def _q_ppl_buckets_kn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet tiers under BOTH scorers (functions/lm.py ppl_buckets
    scorer='kn' vs 'unigram', global ntile(3)): the KN bucket is the
    output a KN-filtered recipe samples by, and the ``moved`` flag
    materializes VERDICT r10's acceptance criterion — the tier
    boundary demonstrably moves where context diversity and frequency
    disagree (the oracle replays both models and both cuts)."""
    from pandance_spark.functions.lm import ppl_buckets

    docs = spread_partitions(load_table(spark, sf_dir, "documents"))
    # guide §2.6: both scorers must replay (they ARE the query), but
    # each trains its model behind an eager checkpoint at build time —
    # two driver threads overlap those jobs (same plans, same results).
    kn, uni = run_concurrently(
        lambda: ppl_buckets(docs, "doc_id", "text", scorer="kn"),
        lambda: ppl_buckets(docs, "doc_id", "text"),
    )
    kn = kn.select(
        "doc_id", "n_tokens", "cross_entropy", "perplexity",
        F.col("bucket").alias("bucket_kn"),
    )
    uni = uni.select("doc_id", F.col("bucket").alias("bucket_uni"))
    return kn.join(uni, "doc_id").withColumn(
        "moved", F.col("bucket_kn") != F.col("bucket_uni")
    )


def _q_epoch_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fractional-epoch mixture (functions/split.py epoch_mixture —
    the LLaMA-style data-recipe knob): src0 x 2.5 epochs, src1 x 0.25,
    src2 dropped, everything else x 1.  Driver-side integer
    micro-units + portable md5 fractional membership make the exact
    replica multiset reproducible in the oracle."""
    from pandance_spark.functions.split import epoch_mixture

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    out = epoch_mixture(
        docs,
        "source",
        "doc_id",
        {"src0": 2.5, "src1": 0.25, "src2": 0.0},
        default=1.0,
    )
    return out.select(
        "doc_id", "source", F.col("epoch").cast("long").alias("epoch")
    )


def _q_contamination_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level decontamination (operators/dedup.py
    contamination_spans): a synthetic benchmark is cut from the corpus
    itself — every 25th doc contributes its tokens 11..40 as an eval
    item — and the operator must report exactly that 30-token span in
    the source doc (GPT-3-style 13-gram granularity).  The oracle
    replays the cross join on raw shingle strings + islands merge."""
    from pandance_spark.operators.dedup import contamination_spans

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != "")
    bench = docs.filter(F.col("doc_id") % 25 == 0).select(
        F.col("doc_id").alias("bench_id"),
        F.array_join(F.slice(toks, 11, 30), " ").alias("btext"),
    )
    return contamination_spans(
        docs, "doc_id", "text", bench, "bench_id", "btext", min_tokens=13
    )


def _q_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-PASS per-source corpus dashboard: doc/token counts, English
    share, exact distinct-text count, and an integer-exact quality
    index (group mean hashed-classifier weight, the only float op on
    exact int sums) — every signal from a single scan + one groupBy
    (all sums map-side combine).  The daily health check of a corpus
    build at 100 TB: one pass, not one pass per metric."""
    from pandance_spark.functions.text import (
        _HQ_MOD,
        hashed_token_weights,
        tokenize,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize(F.col("text"))
    s = F.aggregate(
        hashed_token_weights(toks),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        docs.select(
            "source",
            "lang",
            F.md5(F.col("text")).alias("__th"),
            F.size(toks).alias("__n"),
            s.alias("__s"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__n").cast("long").alias("total_tokens"),
            F.sum((F.col("lang") == "en").cast("long")).alias("n_en"),
            F.countDistinct("__th").alias("n_distinct_texts"),
            F.round(
                F.sum("__s") / (float(_HQ_MOD) * F.sum("__n")) - F.lit(0.5),
                6,
            ).alias("quality_index"),
        )
    )


def _q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based domain rebalancing (functions/split.py
    temperature_sample): per-source quotas ~ n^0.5, deterministic md5
    membership so the oracle reproduces the exact row set."""
    from pandance_spark.functions.split import temperature_sample

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source"
    )
    return temperature_sample(
        docs, "source", "doc_id", target_rows=200, alpha=0.5
    )


def _q_fingerprint_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-detection pair join on winnowed char-8-gram fingerprints
    (operators/dedup.py fingerprint_overlap_join — MOSS-style shared-
    fingerprint counting over the same mod-16 selection that
    text_fingerprints exposes per document)."""
    from pandance_spark.operators.dedup import fingerprint_overlap_join

    docs = spread_partitions(load_table(spark, sf_dir, "documents"))
    # max_df drops template boilerplate fingerprints (the synthetic
    # corpus shares sentence templates corpus-wide; without the cap the
    # pair count is ~45% of all-pairs — noise, and quadratic fan-out)
    return fingerprint_overlap_join(
        docs, "doc_id", "text", k=8, mod=16, min_shared=2, max_df=25
    )


def _q_q6_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q6 shape: selective scan-aggregate with every predicate
    # pushed to the parquet scan (shipdate year + discount band +
    # quantity cap) — the canonical pushdown showcase; one partial agg,
    # no shuffle beyond the final 1-row combine.
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def _q_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.95)"), 4).alias("p95"),
    )


def _q_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus cleaning: quality filter -> exact
    dedup by content fingerprint -> language filter -> token budget."""
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "lang",
        fingerprint_md5(F.col("text")).alias("fp"),
        quality_score(F.col("text")).alias("quality"),
        token_count(F.col("text")).cast("long").alias("n_tokens"),
    ).filter((F.col("quality") >= 0.8) & (F.col("lang") == "en"))
    deduped = dedup_exact(scored, ["fp"], tie_breaker="doc_id")
    return deduped.filter(F.col("n_tokens") >= 20).select(
        "doc_id", "fp", "quality", "n_tokens"
    )


def _q_overlap_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pandance_spark.operators.overlap import overlap_join

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "value")
    iv = ev.select(
        "event_id",
        F.col("ts").alias("start"),
        (
            F.col("ts")
            + F.make_dt_interval(mins=F.floor(F.col("value")).cast("int"))
        ).alias("end"),
    )
    a = iv.filter(F.col("event_id") % 13 == 0)
    b = iv.filter(F.col("event_id") % 13 == 1)
    return overlap_join(
        a, b, "start", "end", "start", "end", strategy="band", num_bands=16
    )


def _q_asof_click_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pandance_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("c_ts"), F.col("event_id").alias("c_id")
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("v_ts"), F.col("event_id").alias("v_id")
    )
    return asof_join(
        clicks, views, left_on="c_ts", right_on="v_ts", by=["user_id"],
        direction="backward", how="left",
    )


def _q_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    # nearest-view match per click (either direction, ties -> backward).
    # v_id is deliberately NOT emitted: among right rows at the SAME
    # timestamp the winner is arbitrary (as in pandas merge_asof), so
    # only the deterministic columns are compared.
    from pandance_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("c_ts"), F.col("event_id").alias("c_id")
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("v_ts"), F.col("event_id").alias("v_id")
    )
    return asof_join(
        clicks, views, left_on="c_ts", right_on="v_ts", by=["user_id"],
        direction="nearest", how="left",
    ).select("user_id", "c_ts", "c_id", "v_ts")


def _q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fold a "fresh drop" (even keys, +10% price, status UPD) into the
    # canonical orders table: update matches, insert new keys
    from pandance_spark.operators.merge import merge_upsert

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    # price bump is a SINGLE IEEE multiply — bit-identical in any
    # engine, so the doubles pass through unrounded (round() itself is
    # the portability hazard: HALF_UP vs C-library ties disagree)
    target = orders.filter(F.col("o_orderkey") % 5 != 4)
    source = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        F.lit("UPD").alias("o_orderstatus"),
        (F.col("o_totalprice") * 1.1).alias("o_totalprice"),
    )
    return merge_upsert(target, source, ["o_orderkey"])


def _q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    building = customer.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    auto = customer.filter(F.col("c_mktsegment") == "AUTOMOBILE").select("c_custkey")
    negative = customer.filter(F.col("c_acctbal") < 0).select("c_custkey")
    return building.union(auto).distinct().exceptAll(negative.distinct())


def _q_rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


def _q_cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CUBE over (status, priority) with the grouping id —
    completes the multi-dimensional aggregate surface next to
    rollup_orders and pivot_status; both engines compute the identical
    2^2 grouping-set lattice and GROUPING() bit vector."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping_id().alias("gid"),
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


def _q_moving_avg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day moving aggregate via a RANGE window frame (time-
    interval frames, not row counts): per order, the count and mean
    price of all same-priority orders in the preceding week.  The
    frame runs on epoch-day longs so the two engines share exact
    integer frame bounds, and the mean is emitted in INTEGER 1e-4
    units (floor of an exact int64 cent sum) — float rounding modes
    on .5 boundaries differ between engines, integer division does
    not.  ONE window shuffle on the priority key."""
    orders = load_table(spark, sf_dir, "orders")
    day = F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date"))
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy(day)
        .rangeBetween(-6, 0)
    )
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    n = F.count(F.lit(1)).over(w)
    return orders.select(
        F.col("o_orderkey"),
        F.col("o_orderpriority"),
        n.alias("n_7d"),
        F.floor(F.sum(cents).over(w) * 100 / n).cast("long").alias("avg_7d_e4"),
    )


def _q_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    pivoted = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
        .withColumnsRenamed({"O": "n_open", "F": "n_filled", "P": "n_partial"})
    )
    # pivot yields NULL for absent combinations; count semantics say 0
    return pivoted.select(
        "o_orderpriority",
        *[
            F.coalesce(F.col(c), F.lit(0)).cast("long").alias(c)
            for c in ("n_open", "n_filled", "n_partial")
        ],
    )


def _q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
    )


def _q_unpivot_charges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide->long unpivot (melt) of the lineitem charge columns."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_extendedprice", "l_discount", "l_tax"],
        variableColumnName="charge_kind",
        valueColumnName="amount",
    )


def _q_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
        .select("o_orderkey", "o_totalprice")
    )


def _q_q1_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def _q_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    return (
        customer.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("c_nationkey", "c_custkey", "c_acctbal", "rn")
    )


def _q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-minute-gap sessions per user (operators/sessions.py
    sessionize — lag + running-sum windows sharing ONE Exchange;
    NTZ-safe gap arithmetic lives in the operator)."""
    from pandance_spark.operators.sessions import sessionize

    ev = load_table(spark, sf_dir, "events")
    tagged = sessionize(
        ev, "user_id", "ts", dt.timedelta(minutes=30),
        order_cols=["event_id"],
    )
    return tagged.groupBy("user_id").agg(
        F.max("session_seq").cast("long").alias("n_sessions")
    )


def _q_scd2_user_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 history of each user's event_type over the events change
    log: consecutive same-type events collapse into one validity
    interval (operators/scd.py — one shuffle, two windows sharing
    the Exchange)."""
    ev = load_table(spark, sf_dir, "events")
    return scd2_history(
        ev, ["user_id"], ["event_type"], "ts", order_cols=["event_id"]
    )


def _q_skew_report_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostics (functions/profile.py skew_report):
    top-5 heavy hitters with row shares for the two natural event join
    keys.  Oracle = per-column UNION ALL + rank window."""
    from pandance_spark.functions.profile import skew_report

    ev = load_table(spark, sf_dir, "events")
    return skew_report(ev, ["event_type", "user_id"], top_k=5)


def _q_html_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML boilerplate stripping (functions/text.py strip_html): each
    document is wrapped in a deterministic HTML shell (style + comment
    + headings + entities + a script with a raw '<'), stripped back to
    text, and measured.  The oracle replays the identical RE2-portable
    regex/entity pipeline in DuckDB — outputs must match byte-for-byte."""
    from pandance_spark.functions.text import strip_html, token_count

    docs = load_table(spark, sf_dir, "documents")
    html = F.concat(
        F.lit("<html><head><style>p {color: red}</style></head><body><!-- doc "),
        F.col("doc_id").cast("string"),
        F.lit(" --><h1>"),
        F.col("lang"),
        F.lit("</h1><p>"),
        F.col("text"),
        F.lit(" &amp; more</p><script>var n = 1 < 2;</script></body></html>"),
    )
    clean = strip_html(html)
    return docs.select(
        "doc_id",
        clean.alias("clean_text"),
        F.length(clean).alias("n_chars_clean"),
        token_count(clean).alias("n_tokens_clean"),
    )


def _q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embeddings table (operators/dedup.py
    semantic_dedup): label groups act as the clusters; members are
    ranked farthest-from-centroid first and dropped when a
    better-ranked member is within cosine 0.3 (low threshold because
    the synthetic vectors are near-orthogonal — 111 qualifying pairs
    at sf0.01, so the drop path genuinely executes).  Cosines round to
    9 decimals on both engines before every comparison."""
    from pandance_spark.operators.dedup import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup(
        emb, "vec_id", "embedding", "label", threshold=0.3, keep="farthest"
    )


def _q_multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode round-trip (operators/multimodal.py
    decode_audio): pack deterministic 16-bit PCM WAV per document
    (sample i = ((seed + 11i) % 65536) - 32768), decode through the
    pure-Python RIFF parser, emit exact integer amplitude stats; the
    oracle recomputes them from the closed form."""
    from pandance_spark.operators.multimodal import decode_audio, pack_wav_audio

    docs = load_table(spark, sf_dir, "documents")

    @F.pandas_udf("binary")
    def _pack(ids: pd.Series) -> pd.Series:
        return ids.map(
            lambda d: pack_wav_audio(
                40 + d % 60, 8000 + (int(d) % 4) * 4000, int(d) % 997
            )
        )

    media = docs.select("doc_id", _pack(F.col("doc_id")).alias("payload"))
    return decode_audio(media).select(
        "doc_id", "sample_rate", "n_channels", "n_samples",
        "sum_abs", "peak", "ok",
    )


def _q_multimodal_video(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video demux + decode round-trip (operators/multimodal.py
    pack_avi_video / sample_frames_video / decode_image): pack a
    deterministic uncompressed AVI per document, demux every 2nd
    ``00db`` DIB frame through the RIFF walker, decode each frame with
    the BMP codec, and emit exact per-channel sums.  The oracle
    enumerates the same sampled frame indices and recomputes the sums
    from the per-frame closed form (frame f seed = seed + 131 f)."""
    from pandance_spark.operators.multimodal import (
        decode_image,
        pack_avi_video,
        sample_frames_video,
    )

    docs = load_table(spark, sf_dir, "documents")

    @F.pandas_udf("binary")
    def _pack(ids: pd.Series) -> pd.Series:
        return ids.map(
            lambda d: pack_avi_video(
                2 + d % 4, 4 + d % 5, 3 + d % 3, int(d) % 200
            )
        )

    media = docs.select(
        F.col("doc_id").alias("media_id"), _pack(F.col("doc_id")).alias("payload")
    )
    frames = sample_frames_video(media, every_k=2)
    return decode_image(frames, "frame").select(
        F.col("media_id").alias("doc_id"),
        "frame_index",
        "decoded_width",
        "decoded_height",
        "sum_r",
        "sum_g",
        "sum_b",
        "ok",
    )


def _q_scd2_apply_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """scd2_apply with a LATE batch (operators/scd.py:120): the
    dimension is built from 80% of the event log, then the held-out
    20% — whose timestamps interleave throughout history — is spliced
    in.  The oracle replays the same two-stage semantics in SQL
    (change points of the base log, union the late batch, re-derive
    intervals; existing versions carry NULL order ids that sort FIRST
    at timestamp ties, matching Spark's asc-nulls-first)."""
    from pandance_spark.operators.scd import scd2_apply

    ev = load_table(spark, sf_dir, "events")
    early = ev.filter(F.col("event_id") % 5 != 0)
    late = ev.filter(F.col("event_id") % 5 == 0)
    dim = scd2_history(
        early, ["user_id"], ["event_type"], "ts", order_cols=["event_id"]
    )
    return scd2_apply(
        dim, late, ["user_id"], ["event_type"], "ts", order_cols=["event_id"]
    )


def _q_overlap_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlap set-similarity self-join: document pairs sharing >= 20
    distinct tokens (operators/dedup.py overlap_set_join — prefix
    filter for an absolute-count threshold)."""
    from pandance_spark.operators.dedup import overlap_set_join

    docs = load_table(spark, sf_dir, "documents")
    return overlap_set_join(docs, "doc_id", "text", min_overlap=20, shingle_n=1)


def _q_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance self-join on customer names (EDJoin q-gram prefix
    filter + built-in levenshtein verify, operators/dedup.py)."""
    from pandance_spark.operators.dedup import edit_distance_join

    cust = load_table(spark, sf_dir, "customer")
    return edit_distance_join(cust, "c_custkey", "c_name", max_dist=1)


def _q_jaccard_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k closest pairs (exact, PPJoin at the min_sim floor + global
    TakeOrdered — the top-k set-similarity-join shape)."""
    from pandance_spark.operators.dedup import jaccard_topk

    docs = load_table(spark, sf_dir, "documents")
    return jaccard_topk(docs, "doc_id", "text", k=20, min_sim=0.25)


def _q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup exercising the full ingestion cycle
    (operators/dedup.py build_minhash_index / add_to_minhash_index /
    dedup_against_index): index 80% of the corpus (doc_id % 10 not in
    {0, 5}), APPEND the % 10 == 5 slice without a rebuild, then flag
    the % 10 == 0 "new batch" against the appended index — bucketed
    band/set tables mean only the batch side ever shuffles, and the
    oracle (exact Jaccard of batch vs ALL % 10 != 0 docs) only passes
    if the appended rows are genuinely searchable."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(~F.col("doc_id").__mod__(10).isin(0, 5))
    appended = docs.filter(F.col("doc_id") % 10 == 5)
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    build_minhash_index(
        corpus, "doc_id", "text", "pdx_drv_mh_idx5",
        num_hashes=64, bands=16, shingle_n=3,
    )
    add_to_minhash_index(appended, "doc_id", "text", "pdx_drv_mh_idx5")
    return dedup_against_index(
        batch, "doc_id", "text", "pdx_drv_mh_idx5", threshold=0.8
    )


def _q_dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide exact paragraph dedup (operators/dedup.py
    dedup_paragraphs — the C4/RefinedWeb sub-document pass).  The
    corpus has no paragraph structure, so the fixture builds synthetic
    3-paragraph docs from consecutive source texts (each text appears
    in 3 synthetic docs -> genuine cross-document duplicates); the
    oracle rebuilds the same docs in SQL and replays first-occurrence
    semantics with a window."""
    from pandance_spark.operators.dedup import dedup_paragraphs

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n = docs.count()  # table cardinality: one scalar, metadata-scale
    a = docs.select(F.col("doc_id").alias("sid"), F.col("text").alias("t0"))
    b = docs.select(F.col("doc_id").alias("b_id"), F.col("text").alias("t1"))
    c = docs.select(F.col("doc_id").alias("c_id"), F.col("text").alias("t2"))
    synth = (
        a.join(b, (F.col("sid") + 1) % n == F.col("b_id"))
        .join(c, (F.col("sid") + 2) % n == F.col("c_id"))
        .select("sid", F.concat_ws("\n\n", "t0", "t1", "t2").alias("text"))
    )
    return dedup_paragraphs(synth, "sid", "text")


def _q_dedup_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate-substring spans (operators/dedup.py
    dedup_substrings — the Lee et al. arXiv:2107.06499 suffix-array
    pass re-expressed as a shingle-hash equi-join + gaps-and-islands
    span merge).  The corpus has no natural repeated spans, so the
    fixture concatenates each doc with its successor (mod n) — every
    source text then occurs verbatim in two synthetic docs, planting
    maximal shared spans the oracle recovers with the same
    shingle-join + islands logic on raw shingle strings."""
    from pandance_spark.operators.dedup import dedup_substrings

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # cardinality computed IN-plan (cross join with the 1-row count,
    # same as the oracle's WITH n) — a builder-side count() would run
    # an extra eager full-table job per bench rep / gate run
    n1 = docs.agg(F.count(F.lit(1)).alias("__n"))
    a = (
        docs.select(F.col("doc_id").alias("sid"), F.col("text").alias("t0"))
        .crossJoin(F.broadcast(n1))
    )
    b = docs.select(F.col("doc_id").alias("b_id"), F.col("text").alias("t1"))
    synth = (
        a.join(b, (F.col("sid") + 1) % F.col("__n") == F.col("b_id"))
        .select("sid", F.concat_ws(" ", "t0", "t1").alias("text"))
        # the successor join broadcasts and emits FEW partitions for
        # this small table; the shingle posexplode then amplifies
        # ~180x on those cores.  Spread the tiny pre-explode table so
        # the amplified stage parallelizes (sf0.1: 9.6 s -> sub-second)
        .repartition(spark.sparkContext.defaultParallelism)
        # r12: the re-guarded operator evaluates its input twice (hot-
        # key count pre-pass + collect pass, dedup.py) and documents
        # the standard determinism barrier for multi-consumer inputs;
        # the synth frame is doc-count-sized (pre-explode), so the
        # checkpoint is cheap and the successor join + repartition run
        # once instead of per consumer
        .localCheckpoint(eager=True)
    )
    return dedup_substrings(synth, "sid", "text", min_tokens=20)


def _q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (functions/dsir.py — Xie et al.
    arXiv:2302.03169): top-100 raw documents whose hashed uni+bigram
    distribution is closest to the English-target distribution, by
    integer-micro-unit importance log-ratio.  Two bucket-count aggs,
    one broadcast weight table, one map-side-combined score groupBy —
    the corpus never rides through the explode.  Scores are exact
    integer sums, so the DuckDB replay matches bit-for-bit."""
    from pandance_spark.functions.dsir import dsir_select

    docs = spread_partitions(load_table(spark, sf_dir, "documents"))
    target = docs.filter(F.col("lang") == "en")
    picked = dsir_select(docs, target, "text", "doc_id", k=100, buckets=1024)
    return picked.select("doc_id", "lang", "source", "score_micro").orderBy(
        F.desc("score_micro"), "doc_id"
    )


def _q_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation-pipeline attribution funnel (functions/profile.py
    filter_funnel): per-rule first-failure drop counts in ONE corpus
    scan — the Gopher/RefinedWeb-style removal table.  All integer
    counts; the DuckDB oracle replays the CASE labeling and the
    cumulative arithmetic exactly."""
    from pandance_spark.functions.profile import filter_funnel
    from pandance_spark.functions.text import token_count

    docs = load_table(spark, sf_dir, "documents")
    rules = [
        ("too_short", F.col("n_chars") >= 150),
        ("too_long", F.col("n_chars") <= 2000),
        ("non_english", F.col("lang") == "en"),
        ("too_few_tokens", token_count(F.col("text")) >= 30),
    ]
    return filter_funnel(docs, rules).orderBy("stage")


def _q_tag_topics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary taxonomy tagging (functions/text.py tag_topics):
    map-only keyword-hit classification, the dictionary compiled into
    the plan as array literals — zero shuffle.  The struct array is
    projected to sorted 'topic:count' CSV so the harness can hash it."""
    from pandance_spark.functions.text import tag_topics

    docs = load_table(spark, sf_dir, "documents")
    topics = {
        "joins": ["join", "merge", "hash"],
        "scan_io": ["scan", "filter", "batch"],
        "layout": ["column", "row", "table", "part"],
        "speed": ["slow", "fast"],
    }
    tags = tag_topics(F.col("text"), topics)
    return docs.select(
        "doc_id",
        F.array_join(
            F.transform(
                tags, lambda e: F.concat_ws(":", e["topic"], e["n_hits"])
            ),
            ",",
        ).alias("topics"),
        F.size(tags).cast("long").alias("n_topics"),
    )


def _q_keywords_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 tf-idf keywords (functions/ranking.py
    keywords_tfidf) — integer micro-unit scores, ties by term, so the
    DuckDB replay matches bit-for-bit."""
    from pandance_spark.functions.ranking import keywords_tfidf

    docs = spread_partitions(load_table(spark, sf_dir, "documents"))
    return keywords_tfidf(docs, "doc_id", "text", k=3)


def _q_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language token-budget sampling (functions/split.py
    token_budget_cap): admit documents in deterministic md5 order
    until the language's token budget is spent — the unit data
    recipes are written in.  'en' and 'de' capped, other languages
    uncapped."""
    from pandance_spark.functions.split import token_budget_cap
    from pandance_spark.functions.text import token_count

    docs = load_table(spark, sf_dir, "documents")
    kept = token_budget_cap(
        docs,
        "lang",
        {"en": 3000, "de": 1500},
        "doc_id",
        token_count(F.col("text")),
    )
    return kept.select("doc_id", "lang", "source")


def _q_embed_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss ±1 random projection 64 -> 8
    (functions/vectors.py project_embedding): map-only integer
    micro-unit sums, so every projected coordinate is bit-identical
    to the DuckDB replay with zero float-rounding tolerance.

    DRIVER CONTRACT (r8 red, same class as r5 table_diff): the result
    must not expose ArrayType columns — the driver's pandas
    canonicalizer sort_values dies on unhashable lists.  The operator
    keeps returning arrays; the QUERY projects each coordinate back
    to its exact integer micro-unit sum (proj_j * 2^20 * sqrt(8) is an
    integer by construction; one IEEE multiply + round recovers it
    identically in both engines) and joins them into one CSV string."""
    import math as _math

    from pandance_spark.functions.vectors import project_embedding

    emb = load_table(spark, sf_dir, "embeddings")
    proj = project_embedding(F.col("embedding"), in_dim=64, out_dim=8)
    inv_scale = 1048576.0 * _math.sqrt(8)
    return emb.select(
        "vec_id",
        "label",
        F.array_join(
            F.transform(
                proj,
                lambda x: F.round(x * F.lit(inv_scale)).cast("long").cast("string"),
            ),
            ",",
        ).alias("proj_csv"),
    )


def _q_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail perplexity tiers per language
    (functions/lm.py ppl_buckets): self-trained add-1 unigram LM,
    6-dp-rounded cross-entropy ntile(3) per lang with doc_id
    tie-break — deterministic cut, exact SQL replay."""
    from pandance_spark.functions.lm import ppl_buckets

    docs = spread_partitions(load_table(spark, sf_dir, "documents"))
    return ppl_buckets(docs, "doc_id", "text", group_col="lang")


def _q_rollup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate maintained INCREMENTALLY
    (operators/rollup.py): hourly per-event-type partials built from
    80% of events, merged with the 20% batch — the oracle recomputes
    the rollup from scratch, so equality proves rollup(a) ⊕ rollup(b)
    == rollup(a ∪ b).  Bucket emitted as epoch seconds (timezone-free
    across engines); float sums rounded 6 dp."""
    from pandance_spark.operators.rollup import (
        build_rollup,
        finalize_rollup,
        merge_rollup,
    )

    ev = spread_partitions(load_table(spark, sf_dir, "events"))
    existing = build_rollup(
        ev.filter(F.col("event_id") % 5 != 0), "ts", 3600, ["event_type"], "value"
    )
    delta = build_rollup(
        ev.filter(F.col("event_id") % 5 == 0), "ts", 3600, ["event_type"], "value"
    )
    merged = finalize_rollup(merge_rollup(existing, delta), round_avg=6)
    return merged.select(
        F.unix_timestamp(F.col("bucket")).alias("bucket_s"),
        "event_type",
        "cnt",
        F.round(F.col("v_sum"), 6).alias("v_sum"),
        "v_min",
        "v_max",
        "v_avg",
    )


def _q_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-recipe solver + apply (functions/split.py mixture_rates →
    stratified_sample): per-source token counts from ONE aggregate,
    rates solved driver-side over the sources-sized dict, membership
    a pure md5 function — the corpus never shuffles for the apply."""
    from pandance_spark.functions.split import mixture_rates, stratified_sample
    from pandance_spark.functions.text import token_count

    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.groupBy("source")
        .agg(F.sum(token_count(F.col("text"))).alias("n"))
        .collect()
    )
    available = {r["source"]: r["n"] for r in counts}
    targets = {"src0": 0.4, "src1": 0.4, "src5": 0.2}
    rates = mixture_rates(
        {s: available.get(s, 0) for s in targets}, targets, budget=3000
    )
    kept = stratified_sample(docs, "source", rates, "doc_id", default_rate=0.0)
    return kept.select("doc_id", "source")


def _q_outliers_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-event-type outlier flags (functions/profile.py
    outliers_mad): exact medians/MAD, |x - med| > 3.5 * 1.4826 * MAD.
    Exact percentiles interpolate identically in DuckDB
    (quantile_cont), so the flags replay bit-for-bit."""
    from pandance_spark.functions.profile import outliers_mad

    ev = spread_partitions(load_table(spark, sf_dir, "events"))
    out = outliers_mad(ev.select("event_id", "event_type", "value"),
                       "event_type", "value", k=3.5)
    return out.select(
        "event_id",
        "event_type",
        "value",
        F.round(F.col("grp_median"), 6).alias("grp_median"),
        F.round(F.col("grp_mad"), 6).alias("grp_mad"),
        "is_outlier",
    )


def _q_weighted_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language A-ES weighted picks (functions/split.py
    weighted_sample_per_group): 15 docs per language, odds ∝ length —
    one window shuffle on lang, same Gumbel micro-unit keys."""
    from pandance_spark.functions.split import weighted_sample_per_group

    docs = load_table(spark, sf_dir, "documents")
    return weighted_sample_per_group(
        docs, "lang", "doc_id", F.col("n_chars"), k=15
    ).select("doc_id", "lang", "n_chars")


def _q_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mT5-style temperature recipe (functions/split.py
    temperature_rates): per-source token counts from ONE aggregate,
    shares ∝ n^0.5 solved driver-side (alpha=0.5 → sqrt, IEEE
    correctly-rounded so DuckDB reproduces shares bit-for-bit; the
    share normalizer folds in sorted-source order on both sides),
    rates = min(1, share·budget/n), membership the same zero-shuffle
    md5 gate as stratified_sample."""
    from pandance_spark.functions.split import stratified_sample, temperature_rates
    from pandance_spark.functions.text import token_count

    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.groupBy("source")
        .agg(F.sum(token_count(F.col("text"))).alias("n"))
        .collect()
    )
    available = {r["source"]: r["n"] for r in sorted(counts, key=lambda r: r["source"])}
    rates = temperature_rates(available, alpha=0.5, budget=5000)
    kept = stratified_sample(docs, "source", rates, "doc_id", default_rate=0.0)
    return kept.select("doc_id", "source")


def _q_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware keeper per near-dup cluster (operators/cluster.py
    keep_best): the dedup_clusters assignment re-keyed to keep the
    LONGEST document (n_chars desc, doc_id tiebreak) instead of the
    min id — the 'keep the best copy' pass corpus builds run.  One
    broadcast join + ONE window shuffle on cluster_id; oracle replays
    the exact-Jaccard transitive closure + the same argmax window."""
    from pandance_spark.operators.cluster import dedup_clusters, keep_best

    docs = load_table(spark, sf_dir, "documents")
    clusters = dedup_clusters(
        docs, "doc_id", "text", threshold=0.8, num_hashes=64, bands=16, shingle_n=3
    )
    return keep_best(
        docs.select("doc_id", "n_chars"), clusters, "doc_id", F.col("n_chars")
    ).select("doc_id", "cluster_id", "n_chars", "is_best")


def _q_rollup_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approx-quantile continuous aggregate (operators/rollup.py
    build_rollup_hist / merge_rollup_hist / quantile_from_hist):
    daily per-event-type HISTOGRAM partials built from two disjoint
    batches and merged — integer bin counts make merge == from-scratch
    bit-for-bit, which is exactly what the oracle asserts by
    recomputing the histogram and the p95 bin from all events in SQL.
    hist projected as CSV (driver harness canonicalization cannot
    hash arrays — the table_diff lesson)."""
    from pandance_spark.operators.rollup import (
        build_rollup_hist,
        merge_rollup_hist,
        quantile_from_hist,
    )

    bounds = [5.0, 10.0, 20.0, 40.0, 80.0, 160.0, 320.0]
    ev = spread_partitions(load_table(spark, sf_dir, "events"))
    h_old = build_rollup_hist(
        ev.filter(F.col("event_id") % 4 != 0), "ts", 86400, ["event_type"], "value", bounds
    )
    h_new = build_rollup_hist(
        ev.filter(F.col("event_id") % 4 == 0), "ts", 86400, ["event_type"], "value", bounds
    )
    merged = merge_rollup_hist(h_old, h_new)
    q = quantile_from_hist(merged, 0.95, bounds)
    return q.select(
        F.unix_timestamp(F.col("bucket")).alias("bucket_s"),
        "event_type",
        F.array_join(F.transform(F.col("hist"), lambda c: c.cast("string")), ",").alias("hist_csv"),
        "q_bin",
        "q_upper",
    )


def _q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-event funnel (functions/analytics.py funnel_steps +
    funnel_summary): view → click → purchase with the chained
    strictly-after rule, matched by a JVM-side left fold over each
    user's time-sorted events (no UDF, one user-key shuffle); the
    oracle replays it as chained first-occurrence mins."""
    from pandance_spark.functions.analytics import funnel_steps, funnel_summary

    steps = ["view", "click", "purchase"]
    ev = spread_partitions(load_table(spark, sf_dir, "events"))
    # first ~36h only: over the full month every user completes the
    # funnel (degenerate); the short window makes the summary
    # discriminate between steps
    ev = ev.filter(F.col("ts") < F.lit("2024-01-02 12:00:00").cast("timestamp"))
    per_user = funnel_steps(ev, "user_id", "ts", "event_type", steps)
    return funnel_summary(per_user, steps)


def _q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention (functions/analytics.py
    cohort_retention): cohort = first-event week, one user-key shuffle,
    per-user distinct weeks from the same groupBy (no count-distinct
    over raw events); integer period arithmetic replays exactly."""
    from pandance_spark.functions.analytics import cohort_retention

    ev = spread_partitions(load_table(spark, sf_dir, "events"))
    return cohort_retention(ev, "user_id", "ts", 604800)


def _q_rollup_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-users-per-day continuous aggregate (operators/rollup.py
    build_rollup_distinct): DataSketches HLL partials built from two
    disjoint batches, merged, estimated at read.  Sketch ESTIMATES are
    engine-specific (no DuckDB value replay), so the row stays
    rows-only — but since r11 (VERDICT r10 item 7) the query carries
    its own external check: an exact countDistinct per group rides
    along and ``F.assert_true`` FAILS THE JOB unless every group's
    relative error is within 3x the lg_k=12 RSE (3 * 1.04/sqrt(2^12)
    = 4.875%).  HLL is deterministic on fixed data, so a green run
    pins the bound at that SF forever; the merge≈from-scratch property
    is pinned by tests/test_rollup.py."""
    from pandance_spark.operators.rollup import (
        build_rollup_distinct,
        finalize_rollup_distinct,
        merge_rollup_distinct,
    )

    ev = spread_partitions(load_table(spark, sf_dir, "events"))
    a = build_rollup_distinct(
        ev.filter(F.col("event_id") % 2 == 0), "ts", 86400, ["event_type"], "user_id"
    )
    b = build_rollup_distinct(
        ev.filter(F.col("event_id") % 2 == 1), "ts", 86400, ["event_type"], "user_id"
    )
    m = finalize_rollup_distinct(merge_rollup_distinct(a, b))
    from pandance_spark.operators.rollup import time_bucket

    exact = (
        ev.filter(F.col("user_id").isNotNull())
        .groupBy(
            time_bucket(F.col("ts"), 86400).alias("bucket"), "event_type"
        )
        .agg(F.countDistinct("user_id").alias("exact_distinct"))
    )
    bound = 3 * 1.04 / (2 ** 12) ** 0.5
    rel_err = (
        F.abs(F.col("approx_distinct") - F.col("exact_distinct"))
        / F.col("exact_distinct")
    )
    chk = F.assert_true(
        rel_err <= F.lit(bound),
        F.concat(
            F.lit("HLL estimate outside 3-sigma bound: "),
            rel_err.cast("string"),
        ),
    )
    return (
        m.join(exact, ["bucket", "event_type"])
        .filter(chk.isNull())
        .select(
            F.unix_timestamp(F.col("bucket")).alias("bucket_s"),
            "event_type",
            "approx_distinct",
            "exact_distinct",
            F.round(rel_err, 6).alias("rel_err"),
        )
    )


def _q_sketch_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-set algebra from bottom-k sketches (operators/rollup.py
    bottomk_set_stats — Beyer et al. 2007 KMV estimators): per
    event_type, how much do the first and second half-month's USER
    populations overlap — union, Jaccard and intersection estimated
    from two k=32 sketches alone, never joining the raw halves.  The
    sketches are md5-ordered, so the oracle recomputes both sketches,
    the merged union sketch, the k-th hash and every estimate from raw
    rows; the merged-sketch union estimate provably equals the
    from-scratch union sketch's (the bottom-k algebra).  At 100 TB the
    raw-corpus work is the two sketch builds (distinct + one capped
    window each); the overlap math touches 2k rows per group."""
    from pandance_spark.operators.rollup import (
        bottomk_set_stats,
        build_rollup_bottomk,
    )

    k = 32
    ev = spread_partitions(load_table(spark, sf_dir, "events")).filter(
        F.col("user_id").isNotNull()
    )
    cut = F.col("ts") < F.lit("2024-01-16 00:00:00").cast("timestamp")
    width = 40 * 86400  # one bucket spanning the whole month
    a = build_rollup_bottomk(
        ev.filter(cut), "ts", width, ["event_type"], "user_id", k=k
    )
    b = build_rollup_bottomk(
        ev.filter(~cut), "ts", width, ["event_type"], "user_id", k=k
    )
    return bottomk_set_stats(a, b, k=k).select(
        "bucket",
        "event_type",
        "union_est",
        "jaccard_est",
        "intersect_est",
    ).withColumn(
        "bucket", F.unix_timestamp("bucket")
    ).orderBy("event_type")


def _q_main_text_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Readability-style main-content extraction (functions/text.py
    extract_main_text): each document is wrapped in a deterministic
    page shell — nav bar, heading, the real text as a paragraph, a
    related-links box, a link-only footer — and the block heuristic
    (min 40 cleaned chars, link density <= 0.3) must recover the
    article and drop the chrome.  Pure projection, zero shuffle; the
    oracle replays the identical RE2-portable per-block pipeline."""
    from pandance_spark.functions.text import extract_main_text

    docs = load_table(spark, sf_dir, "documents")
    page = F.concat(
        F.lit(
            '<html><body><div class="nav"><a href="/">Home page</a> | '
            '<a href="/t">Topics index</a> | '
            '<a href="/c">Contact form</a></div><h1>'
        ),
        F.col("lang"),
        F.lit("</h1><p>"),
        F.col("text"),
        F.lit(
            '</p><div class="related"><a href="/m">Read more stories '
            'like this</a> <a href="/s">Subscribe for weekly updates'
            "</a></div><footer><a href=\"/p\">Privacy</a> "
            '<a href="/i">Imprint</a></footer></body></html>'
        ),
    )
    main = extract_main_text(page, min_chars=40, max_link_density=0.3)
    return docs.select(
        "doc_id",
        main.alias("main_text"),
        F.length(main).alias("n_chars_main"),
    )


def _q_ab_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment readout (functions/analytics.py ab_summary): users
    assigned to arms by a portable md5 coin, conversion = any purchase
    event; exact integer counts + rounded rate/z (sqrt is IEEE-exact
    so both engines agree)."""
    from pandance_spark.functions.analytics import ab_summary
    from pandance_spark.functions.split import hash_split_bucket

    ev = spread_partitions(load_table(spark, sf_dir, "events"))
    ev = ev.withColumn(
        "arm",
        F.when(hash_split_bucket(F.col("user_id"), 2) == 0, "control")
        .otherwise("treatment"),
    )
    return ab_summary(
        ev, "user_id", "arm", F.col("event_type") == "purchase"
    )


def _q_step_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-step transition matrix (functions/analytics.py
    step_transitions): one user-key window shuffle, lead() pairs,
    steps²-sized output; (time, step) ordering makes same-timestamp
    adjacency deterministic in both engines."""
    from pandance_spark.functions.analytics import step_transitions

    ev = spread_partitions(load_table(spark, sf_dir, "events"))
    return step_transitions(ev, "user_id", "ts", "event_type")


def _q_cumulative_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly users-to-date curve (functions/analytics.py
    cumulative_users): one user-key shuffle for first-seen periods,
    then window work on the period-sized grid; empty periods carried
    at 0 so the curve is hole-free.  Hourly, because every synthetic
    user appears within the first days — daily would be a 2-row
    fixture."""
    from pandance_spark.functions.analytics import cumulative_users

    ev = spread_partitions(load_table(spark, sf_dir, "events"))
    return cumulative_users(ev, "user_id", "ts", 3600)


def _q_q21_blame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21's shape (the hardest relational pattern in the suite:
    EXISTS + NOT EXISTS correlated subqueries on the same table)
    adapted to the synthetic schema — suppliers who were the ONLY one
    with a returned line ('R') on a finished multi-supplier order.
    Spark side decorrelates by hand: one semi join (another supplier
    exists on the order) + one anti join (no OTHER supplier returned),
    both compound equi+inequality conditions; the oracle keeps the
    correlated-subquery form and DuckDB's decorrelation must agree."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")

    l1 = (
        li.filter(F.col("l_returnflag") == "R")
        .join(
            orders.filter(F.col("o_orderstatus") == "F").select(
                F.col("o_orderkey")
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select("l_orderkey", "l_suppkey")
    )
    l2 = li.select(
        F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("s2")
    )
    l3 = (
        li.filter(F.col("l_returnflag") == "R")
        .select(F.col("l_orderkey").alias("k3"), F.col("l_suppkey").alias("s3"))
    )
    blamed = (
        l1.join(
            l2,
            (F.col("l_orderkey") == F.col("k2"))
            & (F.col("l_suppkey") != F.col("s2")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l_orderkey") == F.col("k3"))
            & (F.col("l_suppkey") != F.col("s3")),
            "left_anti",
        )
    )
    return (
        blamed.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.countDistinct("l_orderkey").alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(20)
    )


def _q_ip_range_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-range enrichment (operators/overlap.py range_lookup —
    the GeoIP/CIDR shape): every event's portable md5-derived 32-bit
    pseudo-IP looked up against 64 contiguous /6-style blocks; span
    banding keeps it an equi-join (never facts x ranges), AQE
    broadcasts the dim.  Each IP matches exactly one block, so the
    output is events-sized."""
    from pandance_spark.operators.overlap import range_lookup

    ev = spread_partitions(load_table(spark, sf_dir, "events"))
    ip = F.conv(
        F.substring(F.md5(F.col("event_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    facts = ev.select("event_id", ip.alias("ip"))
    stride = 1 << 26
    dims = spark.range(64).select(
        (F.col("id") * stride).alias("lo"),
        ((F.col("id") + 1) * stride - 1).alias("hi"),
        F.concat(F.lit("blk"), F.col("id").cast("string")).alias("blk"),
    )
    return range_lookup(facts, dims, "ip", "lo", "hi").select(
        "event_id", "ip", "blk"
    )


def _q_pii_cards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checksum-validated card-number PII (functions/text.py
    luhn_valid/find_card_numbers/redact_card_numbers): each order's
    text embeds a LUHN-VALID 16-digit PAN (check digit in closed form
    from the same luhn_sum primitive: (10 - sum(base||'0')) % 10) and
    an invalid sibling (+1 mod 10); detection must return exactly the
    valid one, redaction must touch only it.  Pure integer/regex
    Column expressions, zero shuffle.  Every-100th order: the fixture
    plants TWO card candidates in EVERY row, so the interpreted
    higher-order folds (Spark does not codegen HOFs) run ~5x per row
    here — real corpora have rare candidates, where the folds almost
    never run; the subset keeps a pathological fixture from dominating
    the bench."""
    from pandance_spark.functions.text import luhn_sum, scan_card_numbers

    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 100 == 0
    )
    base = F.concat(
        F.lit("4"),
        F.lpad((F.col("o_orderkey") % 100000000).cast("string"), 14, "0"),
    )
    check = (10 - luhn_sum(F.concat(base, F.lit("0"))) % 10) % 10
    good = F.concat(base, check.cast("string"))
    bad = F.concat(base, ((check + 1) % 10).cast("string"))
    spaced = F.concat_ws(
        " ",
        F.substring(good, 1, 4),
        F.substring(good, 5, 4),
        F.substring(good, 9, 4),
        F.substring(good, 13, 4),
    )
    text = F.concat(
        F.lit("order ref "), bad, F.lit(" card "), spaced, F.lit(" end")
    )
    from pandance_spark._kernel import stage_expr

    # staged: found + redacted share ONE machinery evaluation (field
    # extraction would otherwise split the struct into two copies)
    staged = stage_expr(
        orders.select(F.col("o_orderkey").alias("k"), text.alias("t")),
        scan_card_numbers(F.col("t")),
        "s",
    )
    return staged.select(
        "k",
        F.array_join("s.found", ",").alias("found"),
        F.col("s.redacted").alias("redacted"),
    )


def _q_pii_cards_sparse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-sparse companion to pii_cards (VERDICT r7 item 5):
    the FULL orders table flows through detection, but only ~1% of
    rows (o_orderkey % 97 == 0) carry the planted valid+invalid PAN
    pair — the other 99% carry realistic short digit runs (order key,
    integer cents) that the 13-digit length gate rejects BEFORE the
    interpreted Luhn fold ever runs.  Spark does not codegen
    higher-order functions, so per-candidate cost must be measured at
    realistic candidate density, not the dense fixture's two-
    candidates-per-row pathology (r6 lesson).  Output keeps only rows
    where detection fired OR redaction changed the text: a false
    positive on any clean row surfaces as an extra row and fails the
    oracle compare."""
    from pandance_spark.functions.text import luhn_sum, scan_card_numbers

    orders = load_table(spark, sf_dir, "orders")
    base = F.concat(
        F.lit("4"),
        F.lpad((F.col("o_orderkey") % 100000000).cast("string"), 14, "0"),
    )
    check = (10 - luhn_sum(F.concat(base, F.lit("0"))) % 10) % 10
    good = F.concat(base, check.cast("string"))
    bad = F.concat(base, ((check + 1) % 10).cast("string"))
    spaced = F.concat_ws(
        " ",
        F.substring(good, 1, 4),
        F.substring(good, 5, 4),
        F.substring(good, 9, 4),
        F.substring(good, 13, 4),
    )
    planted = F.concat(
        F.lit("order ref "), bad, F.lit(" card "), spaced, F.lit(" end")
    )
    clean = F.concat(
        F.lit("order note "),
        F.col("o_orderkey").cast("string"),
        F.lit(" total "),
        F.round(F.col("o_totalprice") * 100).cast("long").cast("string"),
        F.lit(" cents"),
    )
    text = F.when(F.col("o_orderkey") % 97 == 0, planted).otherwise(clean)
    from pandance_spark._kernel import stage_expr
    from pandance_spark.functions.text import _PAN_PREGATE_RE

    # cheap codegen'd pregate BELOW the stage barrier (99% of rows
    # never reach the interpreted machinery), then the scan staged so
    # the row filter and the output share ONE evaluation
    pre = orders.select(
        F.col("o_orderkey").alias("k"), text.alias("t")
    ).filter(F.col("t").rlike(_PAN_PREGATE_RE))
    staged = stage_expr(pre, scan_card_numbers(F.col("t")), "s")
    return staged.filter(
        (F.size("s.found") > 0) | (F.col("s.redacted") != F.col("t"))
    ).select(
        "k",
        F.array_join("s.found", ",").alias("found"),
        F.col("s.redacted").alias("redacted"),
    )


def _q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC change application (operators/merge.py apply_changes):
    snapshot = orders with key % 7 != 0; the feed carries an early
    losing upsert (ver 1, keys % 10 == 0, price * 0.25), the winning
    upsert (ver 2, keys % 5 == 0, price * 0.5) and a late delete
    (ver 3, keys % 11 == 0) — ordering, insert-of-unseen-keys and
    delete-wins are all exercised; the oracle states the closed-form
    net effect (power-of-two multipliers keep it bit-exact)."""
    from pandance_spark.operators.merge import apply_changes

    orders = load_table(spark, sf_dir, "orders")
    # power-of-two multipliers only: round(x*1.1, 2) sits on decimal
    # half-boundaries where Spark and DuckDB round binary doubles
    # differently — *0.5/*0.25 are EXACT, so no rounding is needed
    # anywhere and the comparison is bit-for-bit
    base = orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("st"),
        F.col("o_totalprice").alias("tp"),
    )
    snap = base.filter(F.col("k") % 7 != 0)
    up1 = base.filter(F.col("k") % 10 == 0).select(
        "k", "st", (F.col("tp") * 0.25).alias("tp"),
        F.lit("U").alias("op"), F.lit(1).alias("ver"),
    )
    up2 = base.filter(F.col("k") % 5 == 0).select(
        "k", "st", (F.col("tp") * 0.5).alias("tp"),
        F.lit("U").alias("op"), F.lit(2).alias("ver"),
    )
    dels = base.filter(F.col("k") % 11 == 0).select(
        "k", "st", "tp", F.lit("D").alias("op"), F.lit(3).alias("ver"),
    )
    changes = up1.unionByName(up2).unionByName(dels)
    return apply_changes(snap, changes, ["k"], "ver")


def _q_gap_fill_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling (operators/rollup.py fill_gaps):
    15-minute buckets per event type, last observation per bucket
    (latest ts, value tie-break), LOCF across the gaps — TimescaleDB's
    time_bucket_gapfill + locf as one groupBy + generated grid +
    grid-sized window."""
    from pandance_spark.operators.rollup import fill_gaps

    ev = spread_partitions(load_table(spark, sf_dir, "events"))
    out = fill_gaps(ev, "ts", 900, ["event_type"], "value")
    return out.select(
        F.unix_timestamp(F.col("bucket")).alias("bucket_s"),
        "event_type",
        "value",
        "is_filled",
    )


def _q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis-Spirakis weighted sampling without replacement
    (functions/split.py weighted_sample): 120 documents with odds
    proportional to length, deterministic md5 uniforms, micro-unit
    rank keys — TakeOrderedAndProject, no global sort."""
    from pandance_spark.functions.split import weighted_sample

    docs = load_table(spark, sf_dir, "documents")
    return weighted_sample(docs, "doc_id", F.col("n_chars"), k=120).select(
        "doc_id", "lang", "source", "n_chars"
    )


def _q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed linear quality classifier (functions/text.py
    hashed_quality_score — the fastText/CCNet-shaped filter as a pure
    map-only Column expression).  Integer weight sums keep the score
    bit-reproducible in DuckDB; only the final mean/sigmoid is float,
    rounded to 6 dp on both sides."""
    from pandance_spark.functions.text import hashed_quality_score, token_count

    docs = load_table(spark, sf_dir, "documents")
    q = F.round(hashed_quality_score(F.col("text")), 6)
    return docs.select(
        "doc_id",
        token_count(F.col("text")).cast("long").alias("n_tokens"),
        q.alias("quality"),
        (q >= 0.5).alias("keep"),
    )


def _q_unicode_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC + control-strip + whitespace-collapse cleaning
    (functions/text.py clean_text).  The ASCII corpus is first made
    deliberately dirty IN the query — every 'a' gains a combining
    acute (U+0301), a BEL control byte is prepended and trailing
    spaces appended — then cleaned; the oracle replays the same
    dirtying and cleans with DuckDB's own nfc_normalize, so the match
    proves the pandas-UDF NFC agrees with an independent UCD
    implementation."""
    from pandance_spark.functions.text import clean_text

    docs = load_table(spark, sf_dir, "documents")
    noisy = F.concat(
        F.lit("\u0007"),
        F.regexp_replace(F.col("text"), "a", "a\u0301"),
        F.lit("  "),
    )
    cleaned = clean_text(noisy)
    return docs.select(
        "doc_id",
        cleaned.alias("text_clean"),
        F.length(cleaned).cast("long").alias("n_chars_clean"),
    )


def _q_sentence_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation (functions/text.py split_sentences) as
    the chunking pass: the corpus has no punctuation, so the fixture
    plants terminators deterministically (every 'table' ends a
    sentence, every 'value' an exclamation), then explodes the split
    with positions.  The piece regex has no lookarounds, so the
    oracle re-tokenizes byte-identically."""
    from pandance_spark.functions.text import split_sentences

    docs = load_table(spark, sf_dir, "documents")
    punct = F.regexp_replace(
        F.regexp_replace(F.col("text"), "\\btable\\b", "table."),
        "\\bvalue\\b",
        "value!",
    )
    return docs.select(
        "doc_id",
        F.posexplode(split_sentences(punct)).alias("sent_idx", "sentence"),
    ).select("doc_id", F.col("sent_idx").cast("long"), "sentence")


def _q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITHIN-document repeated-line removal (functions/text.py
    dedup_lines — the C4-style nav/footer strip; cross-corpus variant
    is dedup_paragraphs).  The fixture builds multi-line pages with
    planted repeats: a nav line three times, two body slices, a
    footer twice; the oracle replays the first-occurrence filter with
    DuckDB list lambdas."""
    from pandance_spark.functions.text import dedup_lines

    docs = load_table(spark, sf_dir, "documents")
    page = F.concat_ws(
        "\n",
        F.lit("nav bar home about"),
        F.substring(F.col("text"), 1, 60),
        F.lit("nav bar home about"),
        F.substring(F.col("text"), 61, 60),
        F.lit("nav bar home about"),
        F.lit("copyright footer"),
        F.lit("copyright footer"),
    )
    arr = F.filter(F.split(page, "\\n+"), lambda x: x != "")
    deduped = dedup_lines(page)
    return docs.select(
        "doc_id",
        deduped.alias("text_deduped"),
        F.size(arr).cast("long").alias("n_lines"),
        F.size(F.filter(F.split(deduped, "\\n+"), lambda x: x != ""))
        .cast("long")
        .alias("n_kept"),
    )


def _q_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus per-SOURCE boilerplate removal
    (operators/dedup.py remove_boilerplate — the RefinedWeb/CCNet
    per-domain pass; distinct from line_dedup's WITHIN-document
    first-occurrence keep).  The fixture plants, per document: a
    per-source promo banner (df = 25 docs/source -> removed), a
    mostly-unique body slice (kept), a parity line on even doc_ids
    (df ~ 12/source -> removed), a 'pair tag' shared by at most two
    docs (df <= 2 < min_docs -> kept, proving low-df lines survive
    even when duplicated across scopes), and a per-(source,lang)
    locale line whose df straddles the threshold (1..~10) so some
    scopes remove it and others keep it.  The oracle replays document
    frequencies and the per-scope list filter with DuckDB lambdas."""
    from pandance_spark.operators.dedup import remove_boilerplate

    docs = load_table(spark, sf_dir, "documents")
    page = F.concat_ws(
        "\n",
        F.concat(F.lit("promo banner "), F.col("source")),
        F.substring(F.col("text"), 1, 80),
        F.when(F.col("doc_id") % 2 == 0, F.lit("even docs note")),
        F.concat(
            F.lit("pair tag "),
            F.floor(F.col("doc_id") / 2).cast("long").cast("string"),
        ),
        F.concat(F.lit("locale "), F.col("lang")),
    )
    pages = docs.select("doc_id", "source", page.alias("text"))
    return remove_boilerplate(
        pages, "doc_id", "text", scope_col="source", min_docs=3
    )


def _q_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer learned from the corpus word-frequency table
    (functions/bpe.py: one distributed word-count pass + bounded
    driver merge loop, the SentencePiece/subword-nmt training shape),
    then applied corpus-wide through the Arrow-batched rank-greedy
    encoder.  FULL DuckDB oracle since r8: the deterministic merge
    loop unrolls into 120 materialized CTE steps (see
    ``_bpe_oracle``), so training AND application are replayed
    end-to-end by an independent engine — the md5 of every doc's
    token stream must agree bit-for-bit.  The algorithm is further
    pinned by tests/test_bpe.py (pure-Python Sennrich replay parity,
    reconstruction, determinism)."""
    from pandance_spark.functions.bpe import bpe_segment, learn_bpe
    from pandance_spark.functions.text import tokenize

    docs = load_table(spark, sf_dir, "documents")
    merges = learn_bpe(docs, "text", num_merges=120, vocab_cap=20_000)
    words = tokenize(F.col("text"))
    toks = bpe_segment(words, merges)
    return docs.select(
        "doc_id",
        F.size(words).cast("long").alias("n_words"),
        F.size(toks).cast("long").alias("n_tokens"),
        F.md5(F.array_join(toks, " ")).alias("tokens_md5"),
    )


def _q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 49)
    return orders.join(li, orders["o_orderkey"] == li["l_orderkey"], "left_semi")


def _q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    urgent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return customer.join(
        urgent, customer["c_custkey"] == urgent["o_custkey"], "left_anti"
    )


def _q_bloom_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-accelerated incremental dedup (operators/bloom.py
    bloom_dedup): batch-vs-index EXACT anti-join where a broadcast
    word-table Bloom filter prunes the batch to its positives before
    the authoritative check.  The fixture synthesizes a closed-form
    URL keyspace where doc_id and doc_id+250 share a URL, indexes the
    urls of doc_id%5<3 and replays docs with doc_id%5>=2 as the new
    batch — so the batch is part overlap (dropped), part fresh (kept),
    and both the fresh path (bloom-negative, never joined) and the
    verified path (bloom-positive, exact anti-join) carry rows.  The
    oracle is the plain ANTI JOIN the operator must equal."""
    from pandance_spark.operators.bloom import bloom_dedup

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    url = F.concat(
        F.lit("http://s"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".ex/p/"),
        (F.col("doc_id") % 250).cast("string"),
    )
    urls = docs.select("doc_id", url.alias("url"))
    index = urls.filter(F.col("doc_id") % 5 < 3).select("url")
    batch = urls.filter(F.col("doc_id") % 5 >= 2)
    return bloom_dedup(batch, index, "url", fpp=0.01)


def _q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-then-exact heavy hitters (functions/profile.py
    heavy_hitters): Misra-Gries candidate pass (df.stat.freqItems,
    bounded 1/support state, superset guarantee) followed by an exact
    count of ONLY the candidates with an in-plan non-null total — the
    shape that finds dominant tokens at 100 TB without shuffling the
    Zipf tail.  Result is exact, so the oracle is the plain
    GROUP BY / HAVING / top-k the sketch path must reproduce
    bit-for-bit (share rounded to 6 dp on both sides)."""
    from pandance_spark.functions.profile import heavy_hitters
    from pandance_spark.functions.text import tokenize

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokenize(F.col("text"))).alias("tok"))
    return heavy_hitters(toks, "tok", support=0.005, k=30)


def _q_domain_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opt-out / blocklist filtering with registrar-suffix semantics
    (functions/url.py blocklist_filter): entry 'site0.com' blocks the
    domain and every subdomain, never 'notsite0.com'.  Hosts are
    decided once per DISTINCT host (suffix explode is bounded by label
    count), the blocklist is broadcast, full rows never explode.  The
    oracle replays the closed-form hosts and the suffix rule with
    EXISTS + LIKE."""
    from pandance_spark.functions.url import blocklist_filter

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    url = F.concat(
        F.lit("http://h"),
        (F.col("doc_id") % 20).cast("string"),
        F.lit(".site"),
        (F.col("doc_id") % 5).cast("string"),
        F.lit(".com/p/"),
        F.col("doc_id").cast("string"),
    )
    urls = docs.select("doc_id", url.alias("url"))
    bl = spark.createDataFrame(
        [("site0.com",), ("site3.com",), ("h7.site1.com",)], "domain string"
    )
    return blocklist_filter(urls, "url", bl)


def _q_image_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image dedup (operators/multimodal.py
    image_near_dup): decode REAL PPM/BMP/PNG payloads, compute the
    integer-exact 64-bit dHash, find pairs within Hamming radius 2 via
    the pigeonhole band join (dedup.py hamming_candidates) — the same
    picture stored under three different codecs collides at distance
    0, which byte-level hashing can never see.  Fixture: doc_id < 90,
    raster group (doc_id//3)%15 with seeds spaced 17 apart (measured
    min cross-group dHash distance 6 > radius 2, deterministic), codec
    = doc_id%3.  Same-group pairs are therefore EXACTLY the expected
    output, and the oracle enumerates them from doc_id arithmetic —
    an image-dedup query with a full SQL oracle."""
    from pandance_spark.operators.multimodal import (
        image_near_dup,
        pack_bmp_image,
        pack_png_image,
        pack_ppm_image,
    )

    docs = spread_partitions(
        load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 90)
    )
    packs = [pack_ppm_image, pack_bmp_image, pack_png_image]

    @F.pandas_udf("binary")
    def _pack(ids: pd.Series) -> pd.Series:
        return ids.map(
            lambda d: packs[int(d) % 3](24, 16, ((int(d) // 3) % 15) * 17)
        )

    media = docs.select(
        F.col("doc_id").alias("media_id"),
        _pack(F.col("doc_id")).alias("payload"),
    )
    return image_near_dup(media, max_hamming=2)


def _q_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle (functions/split.py
    shuffle_shards): every doc gets a (shard, pos) address from the
    portable md5 permutation — reproducible across engines and
    partitionings, unlike orderBy(rand()).  One shuffle (per-shard
    rank window, reducers bounded by N/n_shards).  The oracle replays
    the exact permutation: same md5, same bucket arithmetic, same
    within-shard rank."""
    from pandance_spark.functions.split import shuffle_shards

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return shuffle_shards(docs, "doc_id", n_shards=8)


def _q_audio_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Energy-based audio activity segmentation (operators/
    multimodal.py audio_segments): frame the PCM stream, integer
    cross-multiplied activity threshold, gaps-and-islands run merge —
    ALL inside the decode mapInPandas stage, so a 100 TB audio corpus
    segments with zero shuffles and only segment rows leaving the
    stage.  The fixture packs gated WAVs (pack_wav_gated: alternating
    silence/sawtooth blocks in closed form), so the oracle recomputes
    per-frame energies, the threshold and the islands from doc_id
    arithmetic alone — segmentation verified end-to-end through a
    real RIFF decode."""
    from pandance_spark.operators.multimodal import (
        audio_segments,
        pack_wav_gated,
    )

    docs = spread_partitions(
        load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    )

    @F.pandas_udf("binary")
    def _pack(ids: pd.Series) -> pd.Series:
        return ids.map(
            lambda d: pack_wav_gated(
                800 + (int(d) % 5) * 160, 16000, int(d) * 7, 400
            )
        )

    media = docs.select(
        F.col("doc_id").alias("media_id"),
        _pack(F.col("doc_id")).alias("payload"),
    )
    return audio_segments(
        media, frame_samples=200, threshold=5000, min_frames=1
    )




# --------------------------------------------------------------------------
# r7: scalar-subquery decorrelation suite (TPC-H Q17/Q15/Q20/Q22/Q2
# shapes adapted to the synthetic schema).  Each Spark side is the
# hand-decorrelated plan (aggregate join / semi chain / broadcast
# scalar); each oracle keeps the ORIGINAL correlated-subquery SQL so
# DuckDB's decorrelator must independently agree — the same evidence
# pattern as q21_blame.  Money sums follow the repo convention:
# per-row cents snap (round(x*100) as BIGINT) wherever a sum feeds a
# comparison/argmax (integer-exact across engines), round(sum, 2)
# where the sum is display-only.
# --------------------------------------------------------------------------


def _q_image_meta_triage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-only image triage (operators/multimodal.py
    image_metadata): one payload per document cycling through all six
    recognized formats (PNG/JPEG/GIF/BMP/PPM/WebP) plus a corrupt
    case; format and dimensions come from FILE HEADERS only — no
    inflate, no entropy decode — the routing pass a 100 TB crawl runs
    before ever decoding a pixel.  Dims are closed-form in doc_id, so
    the oracle recomputes the whole table without touching bytes;
    corrupt payloads must degrade to ok=false rows."""
    from pandance_spark.operators.multimodal import (
        image_metadata,
        pack_bmp_image,
        pack_gif_image,
        pack_jpeg_image,
        pack_png_image,
        pack_ppm_image,
        pack_webp_meta,
    )

    docs = _codec_fixture_docs(spark, sf_dir)

    @F.pandas_udf("binary")
    def _pack(ids: pd.Series) -> pd.Series:
        def mk(d):
            d = int(d)
            w, h, seed = 4 + d % 9, 5 + d % 7, d % 241
            m = d % 7
            if m == 0:
                return pack_png_image(w, h, seed)
            if m == 1:
                return pack_jpeg_image(w, h, seed)
            if m == 2:
                return pack_gif_image(w, h, seed)
            if m == 3:
                return pack_bmp_image(w, h, seed)
            if m == 4:
                return pack_ppm_image(w, h, seed)
            if m == 5:
                return pack_webp_meta(
                    100 + d % 500, 50 + d % 300, lossless=bool(d % 2)
                )
            return b"\x00corrupt payload"

        return ids.map(mk)

    media = docs.select("doc_id", _pack(F.col("doc_id")).alias("payload"))
    return (
        image_metadata(media)
        .select("doc_id", "img_format", "width", "height", "ok")
        .orderBy("doc_id")
    )


def _q_rollup_bottomk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV bottom-k sketch partials (operators/rollup.py): daily
    per-event-type bottom-32 sketches over distinct user_ids, built on
    a 75/25 split and MERGED — unlike HLL, the bottom-k merge is
    EXACT, so the DuckDB oracle recomputes the sketch, the KMV
    distinct estimate ((k-1)/u_k, one double division) and the
    5-smallest-hash user sample from scratch and must match
    bit-for-bit.  Groups below k prove the exact-count path; bigger
    groups the estimator path."""
    from pandance_spark.operators.rollup import (
        build_rollup_bottomk,
        finalize_rollup_bottomk,
        merge_rollup_bottomk,
    )

    k = 32
    ev = spread_partitions(load_table(spark, sf_dir, "events")).filter(
        F.col("user_id").isNotNull()
    )
    a = build_rollup_bottomk(
        ev.filter(F.col("event_id") % 4 != 0), "ts", 86400,
        ["event_type"], "user_id", k=k,
    )
    b = build_rollup_bottomk(
        ev.filter(F.col("event_id") % 4 == 0), "ts", 86400,
        ["event_type"], "user_id", k=k,
    )
    fin = finalize_rollup_bottomk(
        merge_rollup_bottomk(a, b, k=k), k=k, sample_size=5
    )
    return fin.select(
        F.unix_timestamp("bucket").alias("bucket_s"),
        "event_type",
        F.size("bk").cast("long").alias("k_held"),
        "distinct_est",
        F.array_join(
            F.transform("sample", lambda v: v.cast("string")), ","
        ).alias("sample_ids"),
    ).orderBy("bucket_s", "event_type")


def _q_rollup_qsketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch (operators/rollup.py
    build/merge/finalize_rollup_qsketch — the Agarwal et al. 2012
    mergeable uniform-sample summary): daily per-event-type quantile
    sketches over event values, keyed by the unique event_id, built
    on a 75/25 split and MERGED.  The merge algebra is EXACT (bottom-k
    rows by md5 hash of the id — the KMV order over rows with
    multiplicity), so the DuckDB oracle recomputes sketch contents,
    sample sizes and the p50/p90/p99 estimates from scratch and must
    match bit-for-bit — a fully hash-green quantile sketch, where
    KLL/GK (whose merges only preserve error bounds, not contents)
    could never be externally replayed.  Groups below k prove the
    exact path; above k the estimates carry the DKW rank-error bound
    (pinned in tests/test_rollup.py)."""
    from pandance_spark.operators.rollup import (
        build_rollup_qsketch,
        finalize_rollup_qsketch,
        merge_rollup_qsketch,
    )

    k = 32
    ev = spread_partitions(load_table(spark, sf_dir, "events"))
    a = build_rollup_qsketch(
        ev.filter(F.col("event_id") % 4 != 0), "ts", 86400,
        ["event_type"], "value", "event_id", k=k,
    )
    b = build_rollup_qsketch(
        ev.filter(F.col("event_id") % 4 == 0), "ts", 86400,
        ["event_type"], "value", "event_id", k=k,
    )
    fin = finalize_rollup_qsketch(
        merge_rollup_qsketch(a, b, k=k), probs=(0.5, 0.9, 0.99), k=k
    )
    return fin.select(
        F.unix_timestamp("bucket").alias("bucket_s"),
        "event_type",
        F.col("n"),
        F.col("m").cast("long").alias("m"),
        "exact",
        F.element_at("quantiles", 1).alias("p50"),
        F.element_at("quantiles", 2).alias("p90"),
        F.element_at("quantiles", 3).alias("p99"),
    ).orderBy("bucket_s", "event_type")


def _q_containment_quotes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment search (operators/dedup.py
    containment_join): every 11th document's first HALF is treated as
    a quote/benchmark prompt and searched against the full corpus for
    documents holding >= 80% of its 3-gram shingles — the inclusion
    measure Jaccard misses when a short text sits inside a long one.
    Spark: corpus shingles explode once (freq + index + sets share a
    checkpoint), only query PREFIXES probe the index (pigeonhole
    bound), exact set verification.  The oracle replays exact
    containment over string shingle sets all-pairs (cheap at oracle
    scale)."""
    from pandance_spark.operators.dedup import containment_join

    docs = load_table(spark, sf_dir, "documents")
    quotes = docs.filter(F.col("doc_id") % 11 == 0).select(
        F.col("doc_id").alias("quote_id"),
        F.expr("substring(text, 1, cast(floor(n_chars / 2.0) as int))").alias(
            "qtext"
        ),
    )
    return containment_join(
        quotes, docs, "quote_id", "qtext", "doc_id", "text",
        shingle_n=3, threshold=0.8,
    ).orderBy("query_id", "corpus_id")


def _q_decontam_composed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed decontamination (VERDICT r7 item 6): containment_join
    is the document-level inclusion detector, contamination_spans the
    span-level locator — this query runs BOTH against the same
    planted benchmark (every 25th doc's whitespace tokens 11..40, the
    contamination_spans fixture) and joins their outputs, proving the
    two operators agree on where the planted spans live.  Containment
    uses 13-gram shingles at threshold 0.9 (GPT-3-style granularity);
    every containment hit is annotated with its span evidence
    (n_spans, longest span) — a pair the span pass missed surfaces as
    the 0-sentinel and would mismatch the oracle, which replays both
    measures independently in SQL and joins them the same way."""
    from pandance_spark.operators.dedup import (
        containment_join,
        contamination_spans,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != "")
    bench = docs.filter(F.col("doc_id") % 25 == 0).select(
        F.col("doc_id").alias("bench_id"),
        F.array_join(F.slice(toks, 11, 30), " ").alias("btext"),
    )
    # guide §2.6: the two detectors are independent (their features
    # genuinely differ — the r11 audit kept them separate on those
    # grounds), but each materializes eager checkpoints at build time,
    # so building them from two driver threads overlaps those jobs
    # (same plans, same results; sharing subtrees would need API
    # changes, overlap does not).
    hits, spans = run_concurrently(
        lambda: containment_join(
            bench, docs, "bench_id", "btext", "doc_id", "text",
            shingle_n=13, threshold=0.9,
        ),
        lambda: contamination_spans(
            docs, "doc_id", "text", bench, "bench_id", "btext",
            min_tokens=13,
        ),
    )
    hits = hits.select(
        F.col("query_id").alias("bench_id"),
        F.col("corpus_id").alias("doc_id"),
        "containment",
    )
    ev = spans.groupBy(
        F.col("doc_b").alias("s_bench"), F.col("doc_a").alias("s_doc")
    ).agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.max("n_tokens").alias("max_span_tokens"),
    )
    return (
        hits.join(
            ev,
            (F.col("bench_id") == F.col("s_bench"))
            & (F.col("doc_id") == F.col("s_doc")),
            "left",
        )
        .select(
            "bench_id",
            "doc_id",
            "containment",
            F.coalesce(F.col("n_spans"), F.lit(0).cast("long")).alias(
                "n_spans"
            ),
            F.coalesce(
                F.col("max_span_tokens").cast("long"),
                F.lit(0).cast("long"),
            ).alias("max_span_tokens"),
        )
        .orderBy("bench_id", "doc_id")
    )


def _q_q17_avg_qty_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape — per-group-average correlated scalar subquery:
    lines with quantity below HALF their part's average quantity
    (small-order fraction per brand).  Spark decorrelates with a
    WINDOW average over the part key — ONE lineitem scan and ONE
    shuffle, strictly better than the aggregate-join-back form
    (which scans the big table twice); the oracle keeps the
    correlated `l_quantity < (SELECT 0.5*avg(...) WHERE same part)`
    form."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    w = Window.partitionBy("l_partkey")
    return (
        li.withColumn("__gate", F.avg("l_quantity").over(w) * 0.5)
        .filter(F.col("l_quantity") < F.col("__gate"))
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("p_brand")
    )


def _q_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape — revenue view + correlated global-max scalar:
    the supplier(s) whose 1996-H1 discounted revenue equals the
    maximum over all suppliers.  Revenue is snapped to integer CENTS
    per line BEFORE summation (round(x*100) as long), so the argmax
    comparison is exact integer arithmetic in any engine — a float
    `revenue = max(revenue)` would hinge on summation order.  Spark
    decorrelates via one revenue aggregate + a broadcast 1-row max
    cross join; the oracle keeps the correlated `WHERE total_revenue
    = (SELECT max(...) FROM revenue)` form over the same CTE."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    rev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1996-07-01"))
        )
        .groupBy("l_suppkey")
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                ).cast("long")
            ).alias("revenue_cents")
        )
        # supplier-sized after the aggregate; checkpoint so the revenue
        # view and its global max share ONE lineitem scan (Exchange
        # reuse across the two branches is not guaranteed)
        .localCheckpoint(eager=True)
    )
    top = rev.agg(F.max("revenue_cents").alias("max_cents"))
    return (
        rev.crossJoin(F.broadcast(top))
        .filter(F.col("revenue_cents") == F.col("max_cents"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "revenue_cents")
        .orderBy("s_suppkey")
    )


def _q_q20_semi_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape — nested IN subqueries as a semi-join chain:
    suppliers who shipped more than 80 units of some green-ish part
    (name filter pushes to the part scan).  Spark: part filter ->
    per-(supp, part) shipped-quantity aggregate -> HAVING -> LEFT SEMI
    into supplier; the heavy lineitem aggregate shuffles once on its
    natural (suppkey, partkey) key.  The oracle keeps the nested
    `s_suppkey IN (SELECT ... WHERE l_partkey IN (SELECT ...) GROUP BY
    ... HAVING ...)` form."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    green = part.filter(F.col("p_name").like("%a%")).select("p_partkey")
    shippers = (
        li.join(F.broadcast(green), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 80.0)
        .select("l_suppkey")
        .distinct()
    )
    return (
        supp.join(
            shippers, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi"
        )
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "n_name")
        .orderBy("s_suppkey")
    )


def _q_q22_idle_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape — global-scalar subquery + NOT EXISTS: customers
    richer than the average POSITIVE account balance who never placed
    a whale order (> 400k), rolled up per nation.  Spark: the scalar
    average is a 1-row broadcast cross join (never a shuffle), the
    NOT EXISTS an anti join with the whale filter pushed to the
    orders scan; balances snap to cents per row so the per-nation
    sums are integer-exact.  The richer-than-average gate is an EXACT
    integer cross-multiplication (c_cents * n_pos > sum_cents) on
    both engines — a raw double avg() differs between Spark's
    distributed partial sums and DuckDB's serial fold, so a balance
    within an ulp of the average could flip the filter (r7 advice).
    The oracle keeps the correlated `NOT EXISTS (SELECT ... same
    customer AND o_totalprice > 400000)` form."""
    cust = load_table(spark, sf_dir, "customer").withColumn(
        "c_cents", F.round(F.col("c_acctbal") * 100).cast("long")
    )
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    avg_pos = cust.filter(F.col("c_acctbal") > 0.0).agg(
        F.sum("c_cents").alias("sum_cents"),
        F.count(F.lit(1)).alias("n_pos"),
    )
    idle = (
        cust.crossJoin(F.broadcast(avg_pos))
        .filter(F.col("c_cents") * F.col("n_pos") > F.col("sum_cents"))
        .join(
            orders.filter(F.col("o_totalprice") > 400000.0).select(
                "o_custkey"
            ),
            F.col("c_custkey") == F.col("o_custkey"),
            "left_anti",
        )
    )
    return (
        idle.join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("c_cents").alias("total_bal_cents"),
        )
        .orderBy("n_name")
    )


def _q_q4_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape — EXISTS semi join under a date window: orders
    from one quarter having at least one line shipped AFTER the order
    date (the late-commit check), counted per priority.  Spark: the
    correlated EXISTS becomes one LEFT SEMI join with a compound
    equi+inequality condition (the comparison happens inside the
    order's line group after the equi shuffle, never orders x lines);
    the oracle keeps the correlated EXISTS form."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    window = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-04-01"))
    )
    late = li.select(
        F.col("l_orderkey").alias("lk"), F.col("l_shipdate").alias("sd")
    )
    return (
        window.join(
            late,
            (F.col("o_orderkey") == F.col("lk"))
            & (F.col("sd") > F.col("o_orderdate")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


def _q_q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape — conditional-aggregate ratio: the PROMO parts'
    share of one month's discounted revenue.  Both numerator and
    denominator snap to integer cents per line BEFORE summation, so
    the only float op is the final single division (rounded 6 dp) —
    the ratio is reproducible under any summation order.  One
    broadcast part join, one aggregate; no subquery."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-03-01"))
            & (F.col("l_shipdate") < F.lit("1996-04-01"))
        )
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.sum(
                F.when(F.col("p_type") == "PROMO", cents).otherwise(F.lit(0))
            ).alias("promo_cents"),
            F.sum(cents).alias("total_cents"),
        )
        .select(
            "promo_cents",
            "total_cents",
            F.round(
                F.col("promo_cents").cast("double") * 100.0
                / F.col("total_cents").cast("double"),
                6,
            ).alias("promo_share_pct"),
        )
    )


def _q_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape — HAVING against a correlated GLOBAL-fraction
    scalar: parts whose total line value (for one nation's suppliers)
    exceeds 0.1% of the overall total (nation names in the
    synthetic schema are NATION_<k>).  Value snaps to integer cents
    per line, so both the per-part sums and the global gate are exact
    integer arithmetic.  Spark computes the per-part aggregate ONCE
    (checkpointed — it feeds both the output and the global total, so
    lineitem is scanned once), broadcasts the 1-row total and filters;
    the oracle keeps the `HAVING sum(...) > 0.001 * (SELECT sum(...))`
    correlated form."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    nsupp = (
        supp.join(
            nation.filter(F.col("n_name") == "NATION_7"),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    per_part = (
        li.join(F.broadcast(nsupp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("long")
            ).alias("value_cents")
        )
        .localCheckpoint(eager=True)
    )
    total = per_part.agg(
        F.sum("value_cents").alias("total_cents")
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(
            F.col("value_cents").cast("double")
            > F.col("total_cents").cast("double") * 0.001
        )
        .select("l_partkey", "value_cents")
        .orderBy(F.desc("value_cents"), "l_partkey")
    )


def _q_q2_min_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape — per-group-min correlated subquery with a join
    fence: for parts sold into one region, the supplier(s) achieving
    the MINIMUM line price for that part.  The min is an exact
    SELECTION over stored doubles (no arithmetic), so float equality
    against it matches the same rows in every engine.  Spark
    decorrelates with a WINDOW min over the part key — one offer-
    stream scan and one shuffle (an aggregate-join-back would rescan
    the lineitem-sized offer stream); the oracle keeps the correlated
    `price = (SELECT min(...) WHERE same part within the region)`
    form.  Ties: every minimal supplier row is returned, mirroring
    Q2."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    rsupp = (
        supp.join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(
            region.filter(F.col("r_name") == "EUROPE"),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name")
    )
    offers = li.join(
        F.broadcast(rsupp), F.col("l_suppkey") == F.col("s_suppkey")
    ).select("l_partkey", "s_suppkey", "s_name", "l_extendedprice")
    w = Window.partitionBy("l_partkey")
    return (
        offers.withColumn("__min_price", F.min("l_extendedprice").over(w))
        .filter(F.col("l_extendedprice") == F.col("__min_price"))
        .select(
            "l_partkey",
            "s_suppkey",
            "s_name",
            F.col("l_extendedprice").alias("best_price"),
        )
        .distinct()
        .orderBy("l_partkey", "s_suppkey")
        .limit(100)
    )


def _q_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape — bidirectional nation-pair trade volume: line
    revenue shipped between NATION_1 and NATION_2 (either direction)
    over two years, by (supp_nation, cust_nation, ship year).  Spark:
    supplier and customer are pre-filtered to the TWO nations BEFORE
    any fact join (2/25 selectivity pushed below the shuffle), nation
    broadcast into each; the asymmetric pair predicate is applied
    after the two dimension joins meet.  lineitem->orders stays an
    equi shuffle join (both fact-sized at 100 TB; AQE may still
    broadcast the nation-filtered order side).  Revenue snaps to
    integer cents per line.  The oracle keeps TPC-H Q7's original
    flat 6-table form with the OR pair predicate."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    pair = ["NATION_1", "NATION_2"]
    s = (
        supp.join(
            F.broadcast(
                nation.filter(F.col("n_name").isin(pair)).select(
                    F.col("n_nationkey").alias("s_nk"),
                    F.col("n_name").alias("supp_nation"),
                )
            ),
            F.col("s_nationkey") == F.col("s_nk"),
        )
        .select("s_suppkey", "supp_nation")
    )
    c = (
        cust.join(
            F.broadcast(
                nation.filter(F.col("n_name").isin(pair)).select(
                    F.col("n_nationkey").alias("c_nk"),
                    F.col("n_name").alias("cust_nation"),
                )
            ),
            F.col("c_nationkey") == F.col("c_nk"),
        )
        .select("c_custkey", "cust_nation")
    )
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1998-01-01"))
        )
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            orders.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .filter(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(F.sum(cents).alias("revenue_cents"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def _q_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape — national market share: of all ECONOMY parts
    sold to AMERICA-region customers over two order years, the
    revenue fraction supplied by NATION_3, by order year.  Spark:
    region and nation broadcast into customer/supplier; the ECONOMY
    part filter (1/6) prunes lineitem via its join; numerator and
    denominator are ONE conditional aggregate over the same joined
    rows (the original query's nested all_nations subquery folds into
    a CASE — no second scan).  Cents snap per line; the single float
    op is the final division (6 dp).  The oracle keeps the original
    nested-subquery + CASE form."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    amer_cust = (
        cust.join(
            F.broadcast(
                nation.join(
                    region.filter(F.col("r_name") == "AMERICA"),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                ).select(F.col("n_nationkey").alias("c_nk"))
            ),
            F.col("c_nationkey") == F.col("c_nk"),
        )
        .select("c_custkey")
    )
    s_nat = (
        supp.join(
            F.broadcast(
                nation.select(
                    F.col("n_nationkey").alias("s_nk"),
                    F.col("n_name").alias("nation"),
                )
            ),
            F.col("s_nationkey") == F.col("s_nk"),
        )
        .select("s_suppkey", "nation")
    )
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    econ = load_table(spark, sf_dir, "part").filter(
        F.col("p_type") == "ECONOMY"
    ).select("p_partkey")
    return (
        li.join(econ, F.col("l_partkey") == F.col("p_partkey"))
        .join(s_nat, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            orders.filter(
                (F.col("o_orderdate") >= F.lit("1996-01-01"))
                & (F.col("o_orderdate") < F.lit("1998-01-01"))
            ).select("o_orderkey", "o_custkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(amer_cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.sum(
                F.when(F.col("nation") == "NATION_3", cents).otherwise(
                    F.lit(0)
                )
            ).alias("nation_cents"),
            F.sum(cents).alias("total_cents"),
        )
        .select(
            "o_year",
            "nation_cents",
            "total_cents",
            F.round(
                F.col("nation_cents").cast("double")
                / F.col("total_cents").cast("double"),
                6,
            ).alias("mkt_share"),
        )
        .orderBy("o_year")
    )


def _q_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape — product-type profit by (supplier nation, order
    year) for parts whose name contains 'widget'.  The synthetic
    schema has no partsupp, so supply cost is proxied at 10% of
    p_retailprice per unit (documented adaptation; the SHAPE — a
    5-way fact/dim join with a profit expression mixing two tables'
    columns, grouped nation x year — is Q9's).  The per-line profit
    is computed with the IDENTICAL association order on both engines,
    then snapped to cents before summation.  Oracle keeps the
    original nested 'profit' subquery form."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    part = load_table(spark, sf_dir, "part")
    widget = part.filter(F.col("p_name").contains("widget")).select(
        "p_partkey", "p_retailprice"
    )
    s_nat = (
        supp.join(
            F.broadcast(
                nation.select(
                    F.col("n_nationkey").alias("s_nk"),
                    F.col("n_name").alias("nation"),
                )
            ),
            F.col("s_nationkey") == F.col("s_nk"),
        )
        .select("s_suppkey", "nation")
    )
    amount_cents = F.round(
        (
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
            - (0.1 * F.col("p_retailprice")) * F.col("l_quantity")
        )
        * 100
    ).cast("long")
    return (
        li.join(widget, F.col("l_partkey") == F.col("p_partkey"))
        .join(s_nat, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            orders.select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy(
            "nation", F.year("o_orderdate").cast("long").alias("o_year")
        )
        .agg(F.sum(amount_cents).alias("profit_cents"))
        .orderBy("nation", F.desc("o_year"))
    )


def _q_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape — returned-item reporting: the top 20 customers
    by revenue lost to returns ('R' lines) on one quarter's orders.
    Spark: the quarter filter prunes orders at the scan, the return
    flag prunes lineitem at the scan, customer joins AFTER the
    order-line aggregate would be wrong (revenue groups on customer
    attributes) so the group is on the joined rows with nation
    broadcast; deterministic top-20 via (revenue DESC, custkey ASC)
    on both engines.  Cents snap per line."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    return (
        orders.filter(
            (F.col("o_orderdate") >= F.lit("1996-04-01"))
            & (F.col("o_orderdate") < F.lit("1996-07-01"))
        )
        .select("o_orderkey", "o_custkey")
        .join(
            li.filter(F.col("l_returnflag") == "R"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(nation),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(cents).alias("revenue_cents"))
        .orderBy(F.desc("revenue_cents"), "c_custkey")
        .limit(20)
    )


def _q_q12_late_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape — two-way conditional counts over an order-line
    join: for 1997 lines in two return classes ('A'/'R' standing in
    for the synthetic schema's missing l_shipmode) shipped more than
    45 days after their order date, count critical- vs normal-
    priority orders per class.  One equi shuffle join, both CASE
    branches over the same rows (no second scan); the lateness
    comparison is exact timestamp arithmetic, no floats anywhere."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    crit = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.filter(
            F.col("l_returnflag").isin("A", "R")
            & (F.col("l_shipdate") >= F.lit("1997-01-01"))
            & (F.col("l_shipdate") < F.lit("1998-01-01"))
        )
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 45 DAYS")
        )
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(crit, 1).otherwise(0))
            .cast("long")
            .alias("high_line_count"),
            F.sum(F.when(crit, 0).otherwise(1))
            .cast("long")
            .alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


def _q_q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape — OR-of-ANDs across two tables: revenue from
    lines matching any of three (brand, size range, quantity range)
    branches.  Spark: the disjunction's per-table SUPERSETS are
    derived by hand and pushed below the join — part pre-filters to
    the 3 brands x size<=15 (tiny -> broadcast), lineitem to
    quantity<=30 at the scan — then the exact OR applies on the
    joined rows.  Catalyst can't always factor cross-table
    disjunctions itself; deriving the union bounds keeps the 100 TB
    scan pruned.  Oracle keeps the original pure OR-of-ANDs with no
    derived filters."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    part_f = part.filter(
        F.col("p_brand").isin("Brand#12", "Brand#23", "Brand#24")
        & F.col("p_size").between(1, 15)
    ).select("p_partkey", "p_brand", "p_size")
    branch = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#24")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    return (
        li.filter(F.col("l_quantity").between(1, 30))
        .join(F.broadcast(part_f), F.col("l_partkey") == F.col("p_partkey"))
        .filter(branch)
        .agg(
            F.sum(cents).alias("revenue_cents"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# --------------------------------------------------------------------------
# r9: corpus-statistics panel (functions/text.py additions)
# --------------------------------------------------------------------------


def _q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon entropy in bits/char (functions/text.py
    char_entropy): the cheap junk detector — base64/minified blobs
    score high, repeated-char padding scores low.  Spark computes it
    as ONE sorted-array fold per row (zero shuffle, zero explode); the
    oracle recomputes from per-char counts, proving run-lengths ==
    counts.  A doc_id%19 residue gets base64-ish noise appended and a
    %23 residue gets 'aaaa...' padding so both tails are exercised.
    Uses the STAGED form (with_char_entropy): the sort+fold
    materializes once per row behind the Generate barrier instead of
    once per referencing subtree."""
    from pandance_spark.functions.text import with_char_entropy

    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    t = F.concat(
        F.col("text"),
        F.when(
            did % 19 == 0,
            F.concat(F.lit(" "), F.md5(did.cast("string")), F.lit("==")),
        ).otherwise(F.lit("")),
        F.when(did % 23 == 0, F.lit(" aaaaaaaaaaaaaaaaaaaaaaaa")).otherwise(
            F.lit("")
        ),
    )
    return with_char_entropy(
        docs.select("doc_id", t.alias("__t")), "__t"
    ).select("doc_id", "entropy_bits")


def _q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading ease per document (functions/text.py
    flesch_reading_ease): the corpus gets sentence structure the
    c4_filters way ('table' -> 'table.', 'value' -> 'value?'), then
    one map-only pass computes words / sentence runs / vowel-group
    syllables and the 1948 formula.  The oracle replays all three
    RE2-portable regex counts and the same double arithmetic."""
    from pandance_spark.functions.text import flesch_reading_ease

    docs = load_table(spark, sf_dir, "documents")
    page = F.regexp_replace(F.col("text"), "\\btable\\b", "table.")
    page = F.regexp_replace(page, "\\bvalue\\b", "value?")
    low = F.lower(page)
    words = F.size(F.filter(F.split(low, "\\s+"), lambda w: w != F.lit("")))
    sents = F.size(F.regexp_extract_all(low, F.lit("[.!?]+"), F.lit(0)))
    sylls = F.size(F.regexp_extract_all(low, F.lit("[aeiouy]+"), F.lit(0)))
    return docs.select(
        "doc_id",
        words.cast("long").alias("n_words"),
        F.greatest(sents, F.lit(1)).cast("long").alias("n_sentences"),
        sylls.cast("long").alias("n_syllables"),
        F.round(flesch_reading_ease(page), 6).alias("flesch"),
    )


def _q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus Zipf fit (functions/text.py zipf_fit): ln(freq)-on-
    ln(rank) OLS over the top-200 token types — the one-number
    distribution drift check.  One token hash-aggregate (map-side
    combine), a deterministic TakeOrdered cut, then closed-form OLS
    over 200 points; the oracle replays the whole chain including the
    count-desc/token-asc tie order."""
    from pandance_spark.functions.text import zipf_fit

    docs = spread_partitions(load_table(spark, sf_dir, "documents"))
    return zipf_fit(docs, "text", top_r=200)


def _q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-efficiency audit per language (functions/text.py
    tokenizer_fertility): GPT-2 pre-tokenizer pieces per whitespace
    word and chars per piece — the metric multilingual tokenizer
    reports compare across languages.  One map-side-combinable
    aggregate; the oracle replays the RE2-portable pre-tokenizer
    regex.  Punctuation/digit texture is injected on residues so
    fertility actually varies by group."""
    from pandance_spark.functions.text import tokenizer_fertility

    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    t = F.concat(
        F.col("text"),
        F.when(
            did % 3 == 0,
            F.concat(F.lit(" v"), (did % 97).cast("string"), F.lit(".2!")),
        ).otherwise(F.lit("")),
        F.when(did % 5 == 0, F.lit(" it's 2024, e.g. $4,096...")).otherwise(
            F.lit("")
        ),
    )
    return tokenizer_fertility(
        docs.select("lang", t.alias("text")), "text", "lang"
    )


def _q_canary_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-canary sweep (functions/text.py canary_scan): canaries
    'CANARY-<md5[:8]>' are planted on doc_id%23 residues (the %46 half
    twice, so n_hits > n_docs rows exist; consecutive residues share
    one canary value via doc_id//2 so n_docs > 1 rows exist too), then
    the corpus-wide regex sweep aggregates per canary value.  Matches
    only are exploded — the shuffle carries hits, never documents."""
    from pandance_spark.functions.text import canary_scan

    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    guid = F.concat(
        F.lit(" CANARY-"),
        F.substring(F.md5(F.floor(did / 2).cast("string")), 1, 8),
    )
    t = F.concat(
        F.col("text"),
        F.when(did % 23 == 0, guid).otherwise(F.lit("")),
        F.when(did % 46 == 0, guid).otherwise(F.lit("")),
    )
    return canary_scan(
        docs.select("doc_id", t.alias("text")),
        "doc_id",
        "text",
        "CANARY-[0-9a-f]{8}",
    )


def _q_cms_heavy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch point queries (operators/rollup.py build_cms /
    cms_lookup — Cormode & Muthukrishnan 2005): a 4x64 sketch over
    events.user_id (width 64 forces real collisions at this scale),
    probed for the exact top-15 users.  The one-sided guarantee
    (est_n >= exact_n, overcount >= 0) is visible in the result; the
    oracle replays the md5 row hashing, the counter grid, and the
    min-of-4 probe.  Sketch-sized shuffle on build, broadcast hash
    probe on lookup."""
    from pandance_spark.operators.rollup import build_cms, cms_lookup

    ev = spread_partitions(load_table(spark, sf_dir, "events"))
    sk = build_cms(ev, "user_id", depth=4, width=64)
    exact = (
        ev.filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.count("*").alias("exact_n"))
        .orderBy(F.col("exact_n").desc(), F.col("user_id").asc())
        .limit(15)
    )
    est = cms_lookup(sk, exact, "user_id", depth=4, width=64)
    return est.select(
        "user_id",
        "exact_n",
        "est_n",
        (F.col("est_n") - F.col("exact_n")).alias("overcount"),
    )


def _semdedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings plus planted near-duplicates: every vec_id%25==0 row
    re-appears as (vec_id+100000, embedding*0.97) — same direction, so
    cosine ~ 1 and the pair must be found; random 64-d pairs sit near
    cos ~ N(0, 1/8) and must not."""
    emb = load_table(spark, sf_dir, "embeddings")
    dups = emb.filter(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(0.97)).alias(
            "embedding"
        ),
    )
    return emb.select("vec_id", "embedding").unionAll(dups)


def _q_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exact Lloyd step (operators/similarity.py
    hash_seed_centroids + kmeans_update_exact): md5-order centroid
    seeding (engine-replayable 'random' init), integer micro-unit
    argmin assignment (first-min tie rule — no float argmin ties),
    and the update aggregate — per cluster n, EXACT integer inertia,
    and the new centroid as rounded micro-unit CSV.  Map-only assign
    (centroids ride as one constant-folded literal), one combine-
    friendly aggregate; the corpus never shuffles to be assigned."""
    from pandance_spark.operators.similarity import (
        hash_seed_centroids,
        kmeans_update_exact,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    centers = hash_seed_centroids(emb, "vec_id", "embedding", 64, 8)
    return kmeans_update_exact(emb, "vec_id", "embedding", centers).select(
        "cluster",
        "n_vecs",
        # long for the driver contract (the operator keeps decimal;
        # exact at any tested SF — 5e13 at sf0.1 vs 9.2e18 capacity)
        F.col("inertia").cast("long").alias("inertia"),
        "mean_q_csv",
    )


def _q_semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (operators/similarity.py semdedup_pairs — Abbas et al.
    2023): cluster with the exact k-means step, then find near-
    duplicate pairs WITHIN clusters by integer-exact cosine test
    (den²·dot² > num²·|a|²·|b|², all int128-range decimals — no sqrt,
    no float ties).  The corpus carries planted scaled copies
    (cos ~ 1) that must all surface; pair work is per-cluster, never
    corpus-all-pairs.  The oracle replays seeding, assignment, and
    the decimal comparison in DuckDB HUGEINT."""
    from pandance_spark.operators.similarity import (
        hash_seed_centroids,
        semdedup_pairs,
    )

    corpus = _semdedup_corpus(spark, sf_dir)
    centers = hash_seed_centroids(corpus, "vec_id", "embedding", 64, 8)
    return semdedup_pairs(
        corpus, "vec_id", "embedding", centers, threshold_num=9,
        threshold_den=10,
    )


def _q_interleave_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB interleave (functions/split.py interleave_shards):
    same (source_rank, order_idx) contract as interleave_sources but
    the global row_number — the single-partition total-order cost
    called out as the honest residual in r8's VERDICT — is replaced
    by a closed-form index over the per-source size table (a
    sources-sized literal).  The ORACLE replays the two-window
    definition, so a green row PROVES closed form == total order."""
    from pandance_spark.functions.split import interleave_shards

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return interleave_shards(docs, "source", "doc_id")


def _q_grouping_sets_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-granularity aggregate in ONE pass (DataFrame
    groupingSets — the GROUPING SETS surface beyond the existing
    CUBE/ROLLUP rows): (event_type), (dow), (event_type, dow) and the
    grand total, disambiguated by grouping_id.  dow is pure epoch
    arithmetic ((epoch_day + 4) % 7 — engine-free, no locale).  One
    shuffle; Spark expands the sets map-side."""
    ev = spread_partitions(load_table(spark, sf_dir, "events"))
    base = ev.select(
        "event_type",
        F.pmod(
            F.floor(F.unix_timestamp(F.col("ts")) / 86400) + 4, F.lit(7)
        )
        .cast("int")
        .alias("dow"),
        "value",
    )
    return (
        base.groupingSets(
            [["event_type"], ["dow"], ["event_type", "dow"], []],
            "event_type",
            "dow",
        )
        .agg(
            F.grouping_id().alias("gid"),
            F.count("*").alias("n"),
            F.round(F.sum("value"), 6).alias("v_sum"),
        )
        .select("event_type", "dow", "gid", "n", "v_sum")
    )


def _q_outliers_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier sweep per event type: median + MAD (median
    absolute deviation) instead of mean/stddev — the detector heavy
    tails can't poison (one whale user shifts a mean by sigmas but
    moves a median one rank).  Rows with |v - median| > 5 * MAD are
    flagged with their robust z-score.  Two tiny aggregates (exact
    interpolated medians), each joined back broadcast — the event
    stream is scanned twice, shuffled never."""
    ev = spread_partitions(load_table(spark, sf_dir, "events")).filter(
        F.col("value").isNotNull() & ~F.isnan("value")
    )
    med = ev.groupBy("event_type").agg(F.median("value").alias("__m"))
    j = ev.join(F.broadcast(med), "event_type")
    mad = j.groupBy("event_type").agg(
        F.median(F.abs(F.col("value") - F.col("__m"))).alias("__mad")
    )
    out = j.join(F.broadcast(mad), "event_type").filter(
        (F.col("__mad") > 0)
        & (F.abs(F.col("value") - F.col("__m")) > 5 * F.col("__mad"))
    )
    return out.select(
        "event_id",
        "event_type",
        "value",
        F.round(
            F.abs(F.col("value") - F.col("__m")) / F.col("__mad"), 6
        ).alias("robust_z"),
    )


def _q_ab_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al. 2013) for the A/B panel:
    per user a pre-metric X (even event_ids) and outcome Y (odd
    event_ids), variant = user_id % 2; theta = cov(X,Y)/var(X) pooled
    over ALL users, and each variant reports its raw and adjusted
    means (mean_cuped = meanY - theta*(meanX - Xbar)).  One per-user
    aggregate, one variant aggregate, one global-sums row joined back
    — nothing user-level crosses the wire twice."""
    ev = spread_partitions(load_table(spark, sf_dir, "events")).filter(
        F.col("user_id").isNotNull()
        & F.col("value").isNotNull()
        & ~F.isnan("value")
    )
    per_user = ev.groupBy("user_id").agg(
        F.coalesce(
            F.sum(F.when(F.col("event_id") % 2 == 0, F.col("value"))),
            F.lit(0.0),
        ).alias("x"),
        F.coalesce(
            F.sum(F.when(F.col("event_id") % 2 == 1, F.col("value"))),
            F.lit(0.0),
        ).alias("y"),
    ).withColumn("variant", (F.col("user_id") % 2).cast("int"))
    g = per_user.agg(
        F.count("*").cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    ).select(
        ((F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n"))
         / (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
         ).alias("__theta"),
        (F.col("sx") / F.col("n")).alias("__xbar"),
    )
    per_variant = per_user.groupBy("variant").agg(
        F.count("*").alias("n_users"),
        (F.sum("x") / F.count("*")).alias("__mx"),
        (F.sum("y") / F.count("*")).alias("__my"),
    )
    return per_variant.crossJoin(F.broadcast(g)).select(
        "variant",
        "n_users",
        F.round(F.col("__my"), 6).alias("mean_y"),
        F.round(
            F.col("__my")
            - F.col("__theta") * (F.col("__mx") - F.col("__xbar")),
            6,
        ).alias("mean_cuped"),
        F.round(F.col("__theta"), 6).alias("theta"),
    )


def _roundtrip_root(sf_dir: str, kind: str) -> str:
    """Cache root keyed by sf tag PLUS a content fingerprint of the
    source documents parquet (mtime+size of every part file, hashed) —
    regenerated testdata gets a fresh cache dir instead of silently
    reusing stale CSV/JSONL while the oracle recomputes from the new
    parquet (ADVICE r9)."""
    import hashlib
    import tempfile

    tag = os.path.basename(sf_dir.rstrip("/"))
    h = hashlib.md5()
    src = os.path.join(sf_dir, "documents.parquet")
    paths = [src]
    if os.path.isdir(src):
        paths = sorted(
            os.path.join(src, p) for p in os.listdir(src)
        )
    for p in paths:
        try:
            st = os.stat(p)
            h.update(f"{p}|{st.st_mtime_ns}|{st.st_size};".encode())
        except OSError:
            h.update(f"{p}|missing;".encode())
    fp = h.hexdigest()[:12]
    return os.path.join(
        tempfile.gettempdir(), f"pandance_{kind}_roundtrip_{tag}_{fp}"
    )


def _publish_dir(root: str, write_fn) -> None:
    """Idempotent per-sf temp publication (the orc_roundtrip /
    warc_files pattern): write to a stage dir, atomic-rename into
    place; a concurrent publisher winning the rename is fine — the
    loser removes its orphaned stage dir (ADVICE r9).  The stage dir
    is per-process (pid suffix, ADVICE r10) so two concurrent
    publishers never interleave part files in a shared stage."""
    if os.path.isdir(root):
        return
    import shutil

    stage = root + f".stage-{os.getpid()}"
    write_fn(stage)
    try:
        os.rename(stage, root)
    except OSError:
        shutil.rmtree(stage, ignore_errors=True)


def _q_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV ingestion with corrupt-row quarantine (sources/__init__.py
    read_csv_quarantine): a documents projection is written as CSV,
    THREE malformed lines are planted in a sibling part file (bad
    long, truncated row, raw garbage), and the PERMISSIVE single-pass
    reader must route exactly the good rows to the aggregate and
    exactly 3 lines to quarantine.  The oracle recomputes the good-row
    aggregate from the parquet the CSV came from — any writer/reader/
    quoting corruption surfaces as value drift; n_bad is the planted
    constant."""
    from pandance_spark.sources import read_csv_quarantine
    from pyspark.sql import types as T

    root = _roundtrip_root(sf_dir, "csv")

    def write(stage: str) -> None:
        docs = load_table(spark, sf_dir, "documents")
        proj = docs.select("doc_id", "lang", "source", "n_chars")
        proj.coalesce(2).write.mode("overwrite").option(
            "header", "true"
        ).csv(stage)
        with open(os.path.join(stage, "part-corrupt.csv"), "w") as f:
            f.write("doc_id,lang,source,n_chars\n")
            f.write("notanumber,en,src0,12\n")
            f.write("12345,en\n")
            f.write("}} raw garbage line {{,,,\n")

    _publish_dir(root, write)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    good, bad, unpersist = read_csv_quarantine(
        spark, root, schema, header="true"
    )
    n_bad = bad.count()
    agg = (
        good.groupBy("lang")
        .agg(
            F.count("*").alias("n"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .withColumn("n_bad", F.lit(int(n_bad)).cast("long"))
    )
    rows = agg.localCheckpoint(eager=True)
    unpersist()
    return rows


def _q_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL ingestion with corrupt-line quarantine (sources/
    __init__.py read_jsonl): the same contract as csv_roundtrip for
    the interchange format crawled/exported corpora actually arrive
    in — Spark writes the good lines, three invalid JSON lines are
    planted, and the PERMISSIVE reader must split them exactly.
    Schema-enforced (no inference double-scan); oracle recomputes the
    good aggregate from parquet."""
    from pandance_spark.sources import read_jsonl
    from pyspark.sql import types as T

    root = _roundtrip_root(sf_dir, "jsonl")

    def write(stage: str) -> None:
        docs = load_table(spark, sf_dir, "documents")
        proj = docs.select("doc_id", "source", "text")
        proj.coalesce(2).write.mode("overwrite").json(stage)
        with open(os.path.join(stage, "part-corrupt.json"), "w") as f:
            f.write('{"doc_id": 1, "source": "src0", "text": unquoted}\n')
            f.write('{"doc_id": 2, "source":\n')
            f.write("not json at all\n")

    _publish_dir(root, write)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("source", T.StringType()),
            T.StructField("text", T.StringType()),
        ]
    )
    good, bad, unpersist = read_jsonl(spark, root, schema)
    n_bad = bad.count()
    agg = (
        good.groupBy("source")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.length("text")).alias("sum_len"),
            F.md5(
                F.concat_ws(
                    "|", F.sort_array(F.collect_list(F.md5("text")))
                )
            ).alias("content_md5"),
        )
        .withColumn("n_bad", F.lit(int(n_bad)).cast("long"))
    )
    rows = agg.localCheckpoint(eager=True)
    unpersist()
    return rows


def _event_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 60-vertex graph derived from events (u = user_id
    % 60, v = (7*user_id + event_id) % 60) — dense enough to carry
    real triangles, fully replayable in SQL."""
    ev = spread_partitions(load_table(spark, sf_dir, "events")).filter(
        F.col("user_id").isNotNull()
    )
    return ev.select(
        F.pmod(F.col("user_id"), F.lit(60)).alias("x"),
        F.pmod(F.col("user_id") * 7 + F.col("event_id"), F.lit(60)).alias(
            "y"
        ),
    )


def _q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex triangle counts (operators/cluster.py
    triangle_count) via the compact-forward orientation — each edge
    directed low-(degree,id) -> high, so a triangle is found exactly
    once and no vertex ever self-joins more than O(sqrt(m)) out-
    neighbors (the celebrity-vertex defense).  The oracle counts
    triangles the naive u<v<w way, so a green row proves the
    orientation loses/duplicates nothing."""
    from pandance_spark.operators.cluster import triangle_count

    return triangle_count(_event_graph(spark, sf_dir), "x", "y")


def _q_graph_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global transitivity report (operators/cluster.py
    graph_summary): vertices, edges, triangles, wedges and the global
    clustering coefficient 3T/W — the one-number health check for
    crawl/similarity graphs.  All counts exact integers; the
    coefficient is one division rounded 9 dp."""
    from pandance_spark.operators.cluster import graph_summary

    return graph_summary(_event_graph(spark, sf_dir), "x", "y")


def _q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with Reciprocal Rank Fusion (Cormack et al.
    2009): BM25 top-50 (lexical) and embedding-cosine top-50 (dense,
    query = vec 0's embedding; doc_id == vec_id in the corpus) fused
    by score = Σ 1/(60 + rank), top-10 by (score desc, doc_id).  Both
    rank lists have pinned tie rules (score-6dp desc, id asc), so the
    fusion is deterministic; the oracle replays both rankers and the
    fusion.  Shape: two independent top-k pipelines (each one
    aggregate + TakeOrdered), one tiny outer join."""
    from pandance_spark.functions.ranking import bm25_topk
    from pandance_spark.functions.vectors import cosine_similarity

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    bm = bm25_topk(
        docs, "doc_id", "text", ["hash", "merge", "scan", "table"], k=50
    ).select(F.col("doc_id"), F.col("rank").alias("r_bm25"))
    qvec = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("__qv")
    )
    cos = (
        emb.crossJoin(F.broadcast(qvec))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(
                cosine_similarity(F.col("embedding"), F.col("__qv")), 6
            ).alias("__c"),
        )
        .orderBy(F.col("__c").desc(), F.col("doc_id"))
        .limit(50)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.col("__c").desc(), F.col("doc_id")))
            .alias("r_cos"),
        )
    )
    fused = bm.join(cos, "doc_id", "outer").select(
        "doc_id",
        F.coalesce("r_bm25", F.lit(0)).cast("long").alias("r_bm25"),
        F.coalesce("r_cos", F.lit(0)).cast("long").alias("r_cos"),
        F.round(
            F.coalesce(1.0 / (60 + F.col("r_bm25")), F.lit(0.0))
            + F.coalesce(1.0 / (60 + F.col("r_cos")), F.lit(0.0)),
            9,
        ).alias("rrf_score"),
    )
    return fused.orderBy(F.col("rrf_score").desc(), "doc_id").limit(10)


def _q_sft_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT chat-transcript prep (functions/chat.py): documents become
    JSONL-style chat transcripts (system turn on doc_id%3==0, user =
    first 12 tokens, assistant = the rest), round-trip through
    to_json -> parse_chat -> render_chatml, and report the loss-mask
    geometry.  The ORACLE renders the final ChatML string directly
    from the tokens — a green row proves the whole JSON parse/render
    chain is lossless.  Map-only, one fold per row."""
    from pandance_spark.functions.chat import chat_sft_view

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    user = F.concat_ws(" ", F.slice(toks, 1, 12))
    asst = F.concat_ws(" ", F.slice(toks, 13, 1 << 20))
    sys_m = F.struct(
        F.lit("system").alias("role"),
        F.lit("you are a helpful assistant").alias("content"),
    )
    usr_m = F.struct(F.lit("user").alias("role"), user.alias("content"))
    ast_m = F.struct(F.lit("assistant").alias("role"), asst.alias("content"))
    msgs = F.when(
        F.col("doc_id") % 3 == 0, F.array(sys_m, usr_m, ast_m)
    ).otherwise(F.array(usr_m, ast_m))
    staged = docs.select("doc_id", F.to_json(msgs).alias("chat_json"))
    return chat_sft_view(staged, "doc_id", "chat_json")


def _q_lang_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-switching detection (functions/text.py script_mix): pages
    are synthesized with residue-controlled per-LINE scripts (Latin
    always; Han on %2, Cyrillic on %3, Hangul on %5, a script-free
    digits/punctuation line on %7), and the per-doc mixing report —
    majority script, mix_ratio, is_mixed — must replay exactly.  The
    oracle re-runs every per-line script regex and the (count desc,
    name asc) majority rule.  One explode + two combine-friendly
    aggregates; the shuffle carries (doc, script) partials only."""
    from pandance_spark.functions.text import script_mix

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    page = F.concat_ws(
        "\n",
        F.lit("the quick brown fox jumps"),
        F.when(
            did % 2 == 0, F.repeat(F.lit("漢字"), (did % 5 + 1).cast("int"))
        ),
        F.when(did % 3 == 0, F.lit("слово много слово")),
        F.when(did % 5 == 0, F.repeat(F.lit("한글"), F.lit(2))),
        F.when(did % 7 == 0, F.lit("1234 !!! 5678")),
    )
    return script_mix(docs.select("doc_id", page.alias("__t")), "doc_id", "__t")


def _q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint panel (functions/text.py
    winnow_fingerprints — Schleimer et al. 2003 / MOSS): per document,
    the count of char-8-gram hashes, the count of distinct window-min
    fingerprints selected at w=4, and an md5 digest of the ordered
    (hash, position) list.  The oracle replays normalization, the md5
    k-gram hashes, and the rightmost-tie window minima list-for-list,
    so a green row pins the full selection rule.  Map-only projection:
    at 100 TB this is scan-speed work; the HOF window scan is O(g*w)
    per row with no shuffle."""
    from pandance_spark._kernel import stage_expr
    from pandance_spark.functions.text import winnow_fingerprint_table

    docs = load_table(spark, sf_dir, "documents")
    t = winnow_fingerprint_table(docs, "doc_id", "text", 8, 4)
    # fps feeds two outputs (count + digest): stage it so the window
    # scan runs once per row, not per reference
    staged = stage_expr(t, F.col("fps"), "__fps").select(
        F.col("id").alias("doc_id"), "n_grams", "__fps"
    )
    return staged.select(
        "doc_id",
        "n_grams",
        F.size("__fps").cast("long").alias("n_fp"),
        F.md5(
            F.array_join(
                F.transform(
                    F.col("__fps"),
                    lambda x: F.concat_ws(
                        ":", x["h"].cast("string"), x["p"].cast("string")
                    ),
                ),
                ",",
            )
        ).alias("fp_digest"),
    )


def _q_winnow_long_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-gram winnowing (k=12, w=5 — r11, VERDICT r10 Missing #4):
    same MOSS selection as winnow_fingerprints, but k > 8 exercises
    the double-Horner polynomial gram hash (two independent 31-bit
    folds combined to ~62 bits, composed from lead() over per-char
    codes) — O(1) bytes per char row at any k, where the pre-r11
    md5-of-substring fallback shipped the whole document per char row.
    The oracle replays the Horner arithmetic, the rightmost-tie window
    minima and the digest list-for-list; collision odds of the 62-bit
    pair are ~g^2/2^62 — below any corpus this engine will see."""
    from pandance_spark._kernel import stage_expr
    from pandance_spark.functions.text import winnow_fingerprint_table

    docs = load_table(spark, sf_dir, "documents")
    t = winnow_fingerprint_table(docs, "doc_id", "text", 12, 5)
    staged = stage_expr(t, F.col("fps"), "__fps").select(
        F.col("id").alias("doc_id"), "n_grams", "__fps"
    )
    return staged.select(
        "doc_id",
        "n_grams",
        F.size("__fps").cast("long").alias("n_fp"),
        F.md5(
            F.array_join(
                F.transform(
                    F.col("__fps"),
                    lambda x: F.concat_ws(
                        ":", x["h"].cast("string"), x["p"].cast("string")
                    ),
                ),
                ",",
            )
        ).alias("fp_digest"),
    )


def _q_fair_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max-min fair crawl-budget allocation (functions/split.py
    fair_share_alloc): 50 synthetic domains (user_id % 50) demand
    their event counts; 60% of the total is the budget, so the fat
    domains saturate at one shared water level while small domains
    get their full demand.  The oracle replays the sorted saturation
    test in HUGEINT and the one double division in the same operation
    order — a green row pins the closed form exactly.  The global
    sort window runs over the 50-row demand table, not the corpus."""
    from pandance_spark.functions.split import fair_share_alloc

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    demands = ev.groupBy(
        F.pmod(F.col("user_id"), F.lit(50)).alias("domain")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    total = demands.agg(F.sum("n_events")).first()[0]
    budget = (int(total) * 6) // 10
    return fair_share_alloc(demands, "domain", "n_events", budget)


def _q_trimmed_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type event-value location (functions/analytics.py
    trimmed_stats): 10%-trimmed and winsorized means per event_type.
    Values snap to 2^20 micro-units, sums run in decimal/HUGEINT, and
    each mean is one double division in a pinned operation order — the
    oracle replays rank selection and both numerators exactly, so a
    green row is bit-level agreement, not approximate-float luck."""
    from pandance_spark.functions.analytics import trimmed_stats

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    return trimmed_stats(ev, "event_type", "value", trim_frac=0.1)


def _q_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit (functions/profile.py benford_profile)
    over lineitem extended prices — the fabricated-numbers smell test.
    The digit comes from the integer part's string form (exact in any
    engine) and the expected fractions are literals shared with the
    oracle, so the chi-square contributions replay bit-for-bit.  One
    9-key groupBy + broadcast total: scan-bound at 100 TB."""
    from pandance_spark.functions.profile import benford_profile

    li = load_table(spark, sf_dir, "lineitem")
    return benford_profile(li, "l_extendedprice")


def _q_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table entity resolution (operators/dedup.py
    record_linkage): customer names vs a mutated register (keyed on
    c_custkey % 9, independent of the % 3 == 0 register cap: bucket 0
    loses its 10th char, bucket 3 swaps '#' for '@', bucket 6 stays
    verbatim), linked at levenshtein <= 1.  Digit-neighbor names
    ("Customer#...001" vs "...002") make the truth non-trivial in both
    directions.  The oracle brute-forces the full cross levenshtein —
    a green row proves the tagged-union EDJoin candidate filter loses
    nothing across universes."""
    from pandance_spark.operators.dedup import record_linkage

    # every 3rd customer only: TPC-H names are the EDJoin worst case
    # (all share every alphabetic gram; only digit positions differ),
    # so candidates grow ~quadratically with input here — the capped
    # register keeps the row a linkage demo, not a stress test (the
    # stress lives in the scale probe)
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_custkey") % 3 == 0
    ).select(
        "c_custkey", "c_name"
    )
    # mutation buckets keyed on % 9 so all three branches fire under
    # the % 3 == 0 register cap (custkey % 9 in {0, 3, 6} here)
    mutated = F.when(
        F.col("c_custkey") % 9 == 0,
        F.concat(
            F.substring("c_name", 1, 9), F.expr("substring(c_name, 11)")
        ),
    ).when(
        F.col("c_custkey") % 9 == 3,
        F.regexp_replace(F.col("c_name"), "#", "@"),
    ).otherwise(F.col("c_name"))
    right = cust.select(
        F.col("c_custkey").alias("rid"), mutated.alias("rname")
    )
    return record_linkage(
        cust, right, "c_custkey", "c_name", "rid", "rname", max_dist=1
    )


def _q_bitext_mine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitext candidate mining (operators/bitext.py): an "English"
    side and a synthetic "translated" side carry the same injected
    numeral sequences (section number + year) — translation-invariant
    content — while every 5th right doc is truncated hard enough to
    fail the STRAND length-ratio filter.  The oracle recomputes the
    digit-run fingerprints from the TEXT with the same regex and
    replays join + ratio filter, so a green row pins the whole
    blocking pipeline, not just the join."""
    from pandance_spark.operators.bitext import bitext_candidates

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    did = F.col("doc_id")
    nums = F.concat(
        F.lit(" sec "), (did % 7).cast("string"),
        F.lit(" of "), (did % 120 + 1900).cast("string"),
    )
    left = docs.select(
        "doc_id", F.concat(F.col("text"), nums).alias("ltext")
    )
    rtext_full = F.concat(
        F.lit("tr: "), F.reverse(F.col("text")), nums
    )
    right = docs.select(
        (did + 500000).alias("rid"),
        F.when(
            did % 5 == 0, F.concat(F.substring(rtext_full, 1, 40), nums)
        ).otherwise(rtext_full).alias("rtext"),
    )
    return bitext_candidates(
        left, right, "doc_id", "ltext", "rid", "rtext",
        min_runs=2, max_len_ratio=2.0,
    )


def _q_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML ingestion with corrupt-element quarantine (sources/
    __init__.py read_xml_quarantine, Spark 4's NATIVE xml source —
    feeds/sitemaps/exports): a documents projection round-trips
    through the XML writer, a sibling part file plants THREE
    type-corrupt rows, one extra VALID row, and one field-less
    garbage row.  Contract pinned by the oracle: type errors
    quarantine (n_bad = 3), the valid planted row joins the good
    aggregate, and the field-less row parses as all-NULL good (XML
    has no row delimiter to flag it corrupt) and is dropped by the
    doc_id filter.  Oracle recomputes the good aggregate from the
    parquet the XML came from + the planted constant."""
    from pandance_spark.sources import read_xml_quarantine
    from pyspark.sql import types as T

    root = _roundtrip_root(sf_dir, "xml")

    def write(stage: str) -> None:
        docs = load_table(spark, sf_dir, "documents")
        proj = docs.select("doc_id", "source", "text")
        proj.coalesce(2).write.mode("overwrite").option(
            "rootTag", "rows"
        ).option("rowTag", "row").format("xml").save(stage)
        with open(os.path.join(stage, "part-corrupt.xml"), "w") as f:
            f.write(
                "<rows>\n"
                "<row><doc_id>notanumber</doc_id><source>s</source>"
                "<text>x</text></row>\n"
                "<row><doc_id>1.5</doc_id><source>s</source>"
                "<text>y</text></row>\n"
                "<row><doc_id>nan</doc_id><source>s</source>"
                "<text>z</text></row>\n"
                "<row><doc_id>900001</doc_id><source>plantedsrc</source>"
                "<text>planted text</text></row>\n"
                "<row>fieldless garbage</row>\n"
                "</rows>\n"
            )

    _publish_dir(root, write)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("source", T.StringType()),
            T.StructField("text", T.StringType()),
        ]
    )
    good, bad, unpersist = read_xml_quarantine(spark, root, schema, "row")
    n_bad = bad.count()
    agg = (
        good.filter(F.col("doc_id").isNotNull())
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.length("text")).alias("sum_len"),
            F.md5(
                F.concat_ws(
                    "|", F.sort_array(F.collect_list(F.md5("text")))
                )
            ).alias("content_md5"),
        )
        .withColumn("n_bad", F.lit(int(n_bad)).cast("long"))
    )
    rows = agg.localCheckpoint(eager=True)
    unpersist()
    return rows


# The driver's correctness gate reads only the first 50 queries() keys:
# these, in this order.  tests/test_contract.py pins them.
DRIVER_WINDOW = (
    "fuzzy_autoskew",
    "ineq_band_autoskew",
    "multimodal_png",
    "rollup_qsketch",
    "winnow_long_grams",
    "lm_perplexity_kn",
    "ppl_buckets_kn",
    "sketch_overlap",
    "mmr_rerank",
    "npmi_phrases",
    "pii_ibans",
    "simhash_eval",
    "rollup_distinct_users",
    "minhash_eval_sampled",
    "winnow_fingerprints",
    "fair_share",
    "trimmed_stats",
    "benford_audit",
    "record_linkage",
    "bitext_mine",
    "xml_roundtrip",
    "minhash_eval",
    "dedup_minhash",
    "ppl_buckets",
    "lm_perplexity_bigram",
    "readability",
    "zipf_fit",
    "tokenizer_fertility",
    "canary_scan",
    "cms_heavy",
    "rrf_fusion",
    "sft_render",
    "lang_mix",
    "kmeans_assign",
    "semdedup_prune",
    "csv_roundtrip",
    "jsonl_roundtrip",
    "triangle_count",
    "graph_summary",
    "interleave_shards",
    "grouping_sets_events",
    "outliers_mad",
    "ab_cuped",
    "fuzzy_numeric",
    "fuzzy_timestamps",
    "fuzzy_decimal",
    "ineq_lt_balances",
    "ineq_gt_strings",
    "theta_keywords",
    "dedup_ngram_jaccard",
)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every ``_q_<name>`` builder of this module keyed by ``<name>``:
    the DRIVER_WINDOW names first, then the rest in definition order."""
    builders = {n[3:]: f for n, f in globals().items() if n.startswith("_q_")}
    return {**{n: builders[n] for n in DRIVER_WINDOW}, **builders}


# --------------------------------------------------------------------------
# DuckDB oracles
# --------------------------------------------------------------------------

_TOKS_CTE = (
    "SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),"
    " t -> t <> '') AS ts FROM documents"
)

_SHINGLES_CTE = f"""
WITH toks AS ({_TOKS_CTE}),
sh AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(ts) < 3 THEN [] ELSE
           [array_to_string(list_slice(ts, i, i+2), ' ') for i in range(1, len(ts)-1)]
         END) AS s
  FROM toks
)
"""

_JACCARD_SQL = (
    _SHINGLES_CTE
    + """
, ex AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         len(list_intersect(a.s, b.s))::DOUBLE
           / len(list_distinct(list_concat(a.s, b.s))) AS j
  FROM sh a, sh b WHERE a.doc_id < b.doc_id
)
SELECT id_a, id_b, round(j, 6) AS jaccard FROM ex WHERE round(j, 6) >= 0.8
"""
)


def _langid_oracle() -> str:
    from pandance_spark.functions.text import _LANG_MARKERS

    score_exprs = []
    for lang, words in sorted(_LANG_MARKERS.items()):
        parts = [
            f"(length(lw) - length(regexp_replace(lw, '\\b{w}\\b', '', 'g'))) / {len(w)}"
            for w in words
        ]
        score_exprs.append((lang, " + ".join(parts)))
    greatest = "greatest(" + ", ".join(s for _, s in score_exprs) + ")"
    case = "CASE "
    for lang, s in score_exprs:
        case += f"WHEN {greatest} > 0 AND ({s}) = {greatest} THEN '{lang}' "
    case += "ELSE 'und' END"
    return f"""
WITH l AS (SELECT doc_id, lang, lower(text) AS lw FROM documents)
SELECT doc_id, lang AS lang_actual, {case} AS lang_pred FROM l
"""


def _quality_oracle() -> str:
    ntok = (
        "len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> ''))"
    )
    return f"""
WITH b AS (
  SELECT doc_id,
         length(text) AS nc,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS na,
         {ntok} AS nt,
         regexp_matches(lower(text), '\\b(the|a|of|and|to|in)\\b') AS hs
  FROM documents
)
SELECT doc_id,
       round(0.3 * (CASE WHEN nc BETWEEN 100 AND 20000 THEN 1.0 ELSE 0.0 END)
           + 0.3 * (CASE WHEN nc > 0 THEN na::DOUBLE / nc ELSE 0.0 END)
           + 0.2 * (CASE WHEN nt > 0 AND na::DOUBLE / nt BETWEEN 2.0 AND 12.0
                    THEN 1.0 ELSE 0.0 END)
           + 0.2 * (CASE WHEN hs THEN 1.0 ELSE 0.0 END), 4) AS quality
FROM b
"""


def _lsh_oracle() -> str:
    """ann_lsh recomputed from scratch: the random hyperplanes are
    deterministic literals (seeded numpy, repr round-trips exactly), so
    DuckDB derives the same bucket ids, probes the same Hamming-1
    neighbor buckets, and ranks by the same rounded cosine."""
    from pandance_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(64, 4, 42)
    arr = lambda p: "[" + ",".join(repr(float(x)) for x in p) + "]"
    bucket = "\n               + ".join(
        f"(CASE WHEN list_inner_product(v, {arr(p)}) > 0"
        f" THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    return f"""
        WITH cb AS (
          SELECT vec_id, embedding::DOUBLE[] AS v,
                 {bucket} AS b
          FROM embeddings
        ),
        probes AS (
          SELECT vec_id, v,
                 unnest([b, xor(b, 1), xor(b, 2), xor(b, 4), xor(b, 8)]) AS pb
          FROM cb WHERE vec_id < 10
        ),
        cand AS (
          SELECT DISTINCT p.vec_id AS vec_id_x, c.vec_id AS vec_id_y,
                 round(list_cosine_similarity(p.v, c.v), 6) AS cosine
          FROM probes p JOIN cb c ON p.pb = c.b
        )
        SELECT vec_id_x, vec_id_y, cosine,
               row_number() OVER (PARTITION BY vec_id_x
                                  ORDER BY cosine DESC, vec_id_y) AS rank
        FROM cand
        QUALIFY rank <= 5
    """


def _pagerank_oracle(n_iter: int = 5) -> str:
    """Fixed-iteration PageRank unrolled into chained CTEs — one CTE
    per power iteration, every constant forced to DOUBLE so the float
    ops match the engine's Python-side literals bit-for-bit."""
    its = []
    for i in range(1, n_iter + 1):
        its.append(f"""
            r{i} AS (
              SELECT v.node,
                     (1.0::DOUBLE - 0.85::DOUBLE) / nv.n
                     + 0.85::DOUBLE * (coalesce(c.inn, 0.0::DOUBLE)
                                       + dm.dm / nv.n) AS r
              FROM verts v
              CROSS JOIN nv
              LEFT JOIN (
                SELECT e.t AS node, sum(p.r * (1.0::DOUBLE / o.deg)) AS inn
                FROM r{i - 1} p JOIN e ON p.node = e.s JOIN o ON o.s = e.s
                GROUP BY e.t
              ) c ON v.node = c.node
              CROSS JOIN (
                SELECT coalesce(sum(p.r), 0.0::DOUBLE) AS dm
                FROM r{i - 1} p LEFT JOIN o ON p.node = o.s
                WHERE o.s IS NULL
              ) dm
            )""")
    return f"""
        WITH e AS (SELECT DISTINCT l_suppkey AS s, l_partkey + 1000000 AS t
                   FROM lineitem),
        verts AS (SELECT s AS node FROM e UNION SELECT t FROM e),
        nv AS (SELECT count(*) AS n FROM verts),
        o AS (SELECT s, count(*) AS deg FROM e GROUP BY s),
        r0 AS (SELECT node, 1.0::DOUBLE / nv.n AS r FROM verts CROSS JOIN nv),
        {",".join(its)}
        SELECT node, round(r, 9) AS rank FROM r{n_iter}
    """


def _embed_project_oracle() -> str:
    """DuckDB replay of the JL projection: the ±1 sign matrix is
    regenerated from the SAME documented closed form (md5 parity,
    functions/vectors.py projection_signs) and inlined as a literal;
    the integer micro-unit sums make the comparison exact with zero
    float tolerance."""
    import math as _math

    from pandance_spark.functions.vectors import projection_signs

    signs = projection_signs(64, 8)
    scale = repr(1.0 / (1048576.0 * _math.sqrt(8)))
    inv_scale = repr(1048576.0 * _math.sqrt(8))
    # sign rows inlined as literals (DuckDB lambdas reject subqueries).
    # Driver contract: no array columns in the result — replay the
    # double round-trip (sum * scale, then * inv_scale and round) so
    # the CSV is byte-identical to the Spark projection.
    outs = ",\n                   ".join(
        "CAST(CAST(round(CAST(list_sum(list_transform(range(1, 65),"
        " i -> q[i] * ["
        + ",".join(str(x) for x in signs[j])
        + f"][i])) AS DOUBLE) * {scale} * {inv_scale}) AS BIGINT) AS VARCHAR)"
        for j in range(8)
    )
    return f"""
        WITH q AS (
          SELECT vec_id, label,
                 [CAST(round(x::DOUBLE * 1048576.0) AS BIGINT)
                  for x in embedding] AS q
          FROM embeddings
        )
        SELECT vec_id, label,
               concat_ws(',', {outs}) AS proj_csv
        FROM q
    """


def _main_text_clean_sql(var: str) -> str:
    """The per-block clean pipeline (tag strip -> entity decode ->
    whitespace collapse -> trim) as DuckDB SQL over ``var`` — the
    exact chain functions/text.py:_clean_block runs in Spark."""
    return (
        "trim(regexp_replace("
        "replace(replace(replace(replace(replace(replace("
        f"regexp_replace({var}, '<[^>]*>', ' ', 'gs'),"
        " '&lt;', '<'), '&gt;', '>'), '&quot;', '\"'),"
        " '&#39;', chr(39)), '&nbsp;', ' '), '&amp;', '&'),"
        " '\\s+', ' ', 'g'))"
    )


_MAIN_TEXT_ORACLE = f"""
    WITH h AS (
      SELECT doc_id,
             '<html><body><div class="nav"><a href="/">Home page</a> | '
             || '<a href="/t">Topics index</a> | '
             || '<a href="/c">Contact form</a></div><h1>' || lang
             || '</h1><p>' || text
             || '</p><div class="related"><a href="/m">Read more stories '
             || 'like this</a> <a href="/s">Subscribe for weekly updates'
             || '</a></div><footer><a href="/p">Privacy</a> '
             || '<a href="/i">Imprint</a></footer></body></html>' AS html
      FROM documents
    ),
    b AS (
      SELECT doc_id,
             string_split(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(html,
                       '<script\\b[^>]*>.*?</script\\s*>', ' ', 'gis'),
                     '<style\\b[^>]*>.*?</style\\s*>', ' ', 'gis'),
                   '<!--.*?-->', ' ', 'gs'),
                 '</?(p|div|h[1-6]|li|ul|ol|table|tr|td|th|section|article|aside|header|footer|nav|blockquote|br)\\b[^>]*>',
                 chr(10), 'gis'),
               chr(10)) AS lines
      FROM h
    ),
    k AS (
      SELECT doc_id,
             array_to_string(
               list_transform(
                 list_filter(lines, l ->
                   length({_main_text_clean_sql('l')}) >= 40
                   AND coalesce(list_sum(list_transform(
                         regexp_extract_all(l,
                           '<a\\b[^>]*>([^<]*)</a\\s*>', 1, 'is'),
                         s -> length(s))), 0)
                       <= 0.3 * length({_main_text_clean_sql('l')})),
                 l -> {_main_text_clean_sql('l')}),
               chr(10)) AS main_text
      FROM b
    )
    SELECT doc_id, main_text, length(main_text) AS n_chars_main FROM k
"""


def _luhn_sum_sql(d: str) -> str:
    """Luhn digit sum of a digits-only SQL string expression ``d`` —
    the DuckDB twin of functions/text.py:luhn_valid's fold."""
    dig = f"CAST(substring({d}, i.i, 1) AS INT)"
    return (
        f"list_sum(list_transform(generate_series(1, length({d})), "
        f"i -> CASE WHEN (length({d}) - i) % 2 = 1 "
        f"THEN CASE WHEN 2 * {dig.replace('i.i', 'i')} > 9 "
        f"THEN 2 * {dig.replace('i.i', 'i')} - 9 "
        f"ELSE 2 * {dig.replace('i.i', 'i')} END "
        f"ELSE {dig.replace('i.i', 'i')} END))"
    )


_PII_CARDS_ORACLE = f"""
    WITH base AS (
      SELECT o_orderkey AS k,
             '4' || lpad(CAST(o_orderkey % 100000000 AS VARCHAR),
                         14, '0') AS b
      FROM orders
      WHERE o_orderkey % 100 = 0
    ),
    pan AS (
      SELECT k, b,
             (10 - {_luhn_sum_sql("(b || '0')")} % 10) % 10 AS chk
      FROM base
    ),
    txt AS (
      SELECT k,
             b || CAST(chk AS VARCHAR) AS good,
             b || CAST((chk + 1) % 10 AS VARCHAR) AS bad,
             substring(b || CAST(chk AS VARCHAR), 1, 4) || ' ' ||
             substring(b || CAST(chk AS VARCHAR), 5, 4) || ' ' ||
             substring(b || CAST(chk AS VARCHAR), 9, 4) || ' ' ||
             substring(b || CAST(chk AS VARCHAR), 13, 4) AS spaced
      FROM pan
    ),
    doc AS (
      SELECT k, 'order ref ' || bad || ' card ' || spaced || ' end' AS t
      FROM txt
    ),
    det AS (
      SELECT k, t,
             list_filter(
               regexp_extract_all(t, '\\d[\\d\\- ]*\\d'),
               s -> length(regexp_replace(s, '[^0-9]', '', 'g')) >= 13
                AND length(regexp_replace(s, '[^0-9]', '', 'g')) <= 19
                AND {_luhn_sum_sql("regexp_replace(s, '[^0-9]', '', 'g')")}
                    % 10 = 0) AS valid_cands
      FROM doc
    )
    SELECT k,
           array_to_string(
             list_transform(valid_cands,
                            s -> regexp_replace(s, '[^0-9]', '', 'g')),
             ',') AS found,
           list_reduce(
             list_prepend(t, valid_cands),
             (acc, s) -> replace(acc, s, '[CARD]')) AS redacted
    FROM det
"""

def _bpe_oracle(num_merges: int = 120, vocab_cap: int = 20_000) -> str:
    """Full-SQL replay of BPE TRAINING + application (upgrades
    bpe_tokens from rows-only to a real DuckDB oracle).  The learning
    loop is deterministic (highest weighted pair count, ties to the
    lexicographically smallest pair, stop below count 2 — see
    functions/bpe.py learn_bpe), so it unrolls into ``num_merges``
    chained CTE steps.  Each step counts adjacent symbol pairs over
    the capped vocab and applies the winning merge via a
    delimiter-guarded replace(): symbols are stored as
    ``'||' || join(syms, '||') || '||'`` and the pattern
    ``'|'+a+'||'+b+'|'`` consumes ONE guard bar from each flanking
    boundary, so abutting matches still fire while partial-symbol
    matches cannot — and replace() is left-to-right non-overlapping
    in BOTH engines, which is exactly Sennrich's merge-pass order.
    Words outside the vocab cap (usually none at these SFs) are
    encoded by an identical replay chain seeded from the anti-join,
    mirroring rank-greedy application (equivalent to in-order replay;
    pinned in tests/test_bpe.py).  '|' cannot collide: symbols are
    [a-z0-9]+ plus '</w>'."""
    rep = (
        "replace(s, '|' || (SELECT a FROM b{k}) || '||' || "
        "(SELECT b FROM b{k}) || '|', '|' || "
        "(SELECT a || b FROM b{k}) || '|')"
    )
    # AS MATERIALIZED is load-bearing: each s{k}/e{k} is referenced
    # by TWO later CTEs, and DuckDB's default CTE inlining would blow
    # the 120-step chain up exponentially (observed as 'too many open
    # files' on the base parquet before the planner even finished)
    step = (
        "p{k} AS MATERIALIZED (SELECT pr.a AS a, pr.b AS b, "
        "sum(cnt) AS tot FROM ("
        "SELECT cnt, unnest([{{'a': l[i], 'b': l[i+1]}} "
        "for i in range(1, len(l))]) AS pr FROM (SELECT cnt, "
        "list_filter(string_split(s, '|'), x -> x <> '') AS l "
        "FROM s{j})) GROUP BY 1, 2),\n"
        "b{k} AS MATERIALIZED (SELECT a, b FROM p{k} WHERE tot >= 2 "
        "ORDER BY tot DESC, a, b LIMIT 1),\n"
        "s{k} AS MATERIALIZED (SELECT word, cnt, CASE WHEN "
        "(SELECT count(*) FROM b{k}) = 0 THEN s ELSE " + rep +
        " END AS s FROM s{j}),\n"
        "e{k} AS MATERIALIZED (SELECT word, CASE WHEN "
        "(SELECT count(*) FROM b{k}) = 0 THEN s ELSE " + rep +
        " END AS s FROM e{j})"
    )
    chars = (
        "'||' || array_to_string([substr(word, i, 1) "
        "for i in range(1, len(word) + 1)] || ['</w>'], '||') || '||'"
    )
    steps = ",\n".join(
        step.format(k=k, j=k - 1) for k in range(1, num_merges + 1)
    )
    n = num_merges
    return f"""
        WITH toks AS MATERIALIZED (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                             x -> x <> '') AS ts
          FROM documents
        ),
        vocab AS MATERIALIZED (
          SELECT word, count(*) AS cnt
          FROM (SELECT unnest(ts) AS word FROM toks)
          GROUP BY word ORDER BY cnt DESC, word LIMIT {vocab_cap}
        ),
        s0 AS MATERIALIZED (SELECT word, cnt, {chars} AS s FROM vocab),
        e0 AS MATERIALIZED (
          SELECT word, {chars} AS s
          FROM (SELECT DISTINCT unnest(ts) AS word FROM toks)
          WHERE word NOT IN (SELECT word FROM vocab)
        ),
        {steps},
        enc AS (
          SELECT word, list_filter(string_split(s, '|'), x -> x <> '')
                   AS syms
          FROM s{n}
          UNION ALL
          SELECT word, list_filter(string_split(s, '|'), x -> x <> '')
          FROM e{n}
        ),
        docw AS (
          SELECT doc_id, i, ts[i] AS word
          FROM (SELECT doc_id, ts,
                       unnest(generate_series(1, len(ts))) AS i
                FROM toks)
        ),
        perdoc AS (
          SELECT d.doc_id,
                 sum(len(e.syms)) AS n_tokens,
                 string_agg(array_to_string(e.syms, ' '), ' '
                            ORDER BY d.i) AS stream
          FROM docw d JOIN enc e USING (word)
          GROUP BY d.doc_id
        )
        SELECT t.doc_id,
               CAST(len(t.ts) AS BIGINT) AS n_words,
               CAST(coalesce(p.n_tokens, 0) AS BIGINT) AS n_tokens,
               md5(coalesce(p.stream, '')) AS tokens_md5
        FROM toks t LEFT JOIN perdoc p USING (doc_id)
    """


_PII_SPARSE_ORACLE = f"""
    WITH base AS (
      SELECT o_orderkey AS k, o_totalprice,
             '4' || lpad(CAST(o_orderkey % 100000000 AS VARCHAR),
                         14, '0') AS b
      FROM orders
    ),
    pan AS (
      SELECT k, o_totalprice, b,
             (10 - {_luhn_sum_sql("(b || '0')")} % 10) % 10 AS chk
      FROM base
    ),
    txt AS (
      SELECT k, o_totalprice,
             b || CAST(chk AS VARCHAR) AS good,
             b || CAST((chk + 1) % 10 AS VARCHAR) AS bad,
             substring(b || CAST(chk AS VARCHAR), 1, 4) || ' ' ||
             substring(b || CAST(chk AS VARCHAR), 5, 4) || ' ' ||
             substring(b || CAST(chk AS VARCHAR), 9, 4) || ' ' ||
             substring(b || CAST(chk AS VARCHAR), 13, 4) AS spaced
      FROM pan
    ),
    doc AS (
      SELECT k,
             CASE WHEN k % 97 = 0
               THEN 'order ref ' || bad || ' card ' || spaced || ' end'
               ELSE 'order note ' || CAST(k AS VARCHAR) || ' total ' ||
                    CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                         AS VARCHAR) || ' cents'
             END AS t
      FROM txt
    ),
    det AS (
      SELECT k, t,
             list_filter(
               regexp_extract_all(t, '\\d[\\d\\- ]*\\d'),
               s -> length(regexp_replace(s, '[^0-9]', '', 'g')) >= 13
                AND length(regexp_replace(s, '[^0-9]', '', 'g')) <= 19
                AND {_luhn_sum_sql("regexp_replace(s, '[^0-9]', '', 'g')")}
                    % 10 = 0) AS valid_cands
      FROM doc
    ),
    res AS (
      SELECT k, t,
             array_to_string(
               list_transform(valid_cands,
                              s -> regexp_replace(s, '[^0-9]', '', 'g')),
               ',') AS found,
             list_reduce(
               list_prepend(t, valid_cands),
               (acc, s) -> replace(acc, s, '[CARD]')) AS redacted
      FROM det
    )
    SELECT k, found, redacted FROM res
    WHERE found <> '' OR redacted <> t
"""


# exact base-128 8-gram encoding shared by functions/text.py
# winnow_fingerprint_table and its oracle
_WINNOW_ENC = "CAST(ascii(substr(s, i + 0, 1)) AS BIGINT) * 562949953421312 + CAST(ascii(substr(s, i + 1, 1)) AS BIGINT) * 4398046511104 + CAST(ascii(substr(s, i + 2, 1)) AS BIGINT) * 34359738368 + CAST(ascii(substr(s, i + 3, 1)) AS BIGINT) * 268435456 + CAST(ascii(substr(s, i + 4, 1)) AS BIGINT) * 2097152 + CAST(ascii(substr(s, i + 5, 1)) AS BIGINT) * 16384 + CAST(ascii(substr(s, i + 6, 1)) AS BIGINT) * 128 + CAST(ascii(substr(s, i + 7, 1)) AS BIGINT) * 1"


def _winnow_horner_sql(k: int) -> str:
    """SQL replay of the k > 8 long-gram winnowing hash (r11): two
    independent Horner polynomial folds mod 31-bit primes, combined
    as h1 * p2 + h2 — the exact integer arithmetic of
    functions/text.py (_WINNOW_B1/B2/P1/P2); all intermediates are
    non-negative so ``%`` == Spark's ``pmod``."""
    from pandance_spark.functions.text import (
        _WINNOW_B1,
        _WINNOW_B2,
        _WINNOW_P1,
        _WINNOW_P2,
    )

    def horner(base, prime):
        e = "CAST(ascii(substr(s, i + 0, 1)) AS BIGINT)"
        for j in range(1, k):
            e = (
                f"(({e}) * {base} + CAST(ascii(substr(s, i + {j}, 1)) "
                f"AS BIGINT)) % {prime}"
            )
        return e

    return (
        f"({horner(_WINNOW_B1, _WINNOW_P1)}) * {_WINNOW_P2} "
        f"+ ({horner(_WINNOW_B2, _WINNOW_P2)})"
    )


def _minhash_eval_oracle(
    threshold: float = 0.6, sample_frac=None, seed: int = 42
) -> str:
    """Full SQL replay of the minhash_eval query: the mutated-copy
    fixture, string-shingle brute-force Jaccard truth, AND the
    portable md5 LSH candidate path (31-bit folded shingle hashes,
    64-slot affine-min signatures, per-band md5) — the same chain the
    streaming-parity harness replays, here driving the recall/
    precision report.  ``sample_frac`` replays the seeded
    length-stratified md5 document sample of
    ``dedup._stratified_doc_sample`` (stratum = length(bin(len+2))-1,
    exact integer arithmetic on both engines)."""
    from pandance_spark.operators.dedup import _hash_params

    params = _hash_params(64, 42)
    vals = ", ".join(f"({k}, {a}, {b})" for k, (a, b) in enumerate(params))
    t = threshold
    sample_where = ""
    if sample_frac is not None and sample_frac < 1.0:
        thresh = int(sample_frac * (1 << 32))
        key = (
            f"CAST(doc_id AS VARCHAR) || ':{seed}:' || "
            "coalesce(CAST(length(bin(CAST(length(text) AS BIGINT) + 2))"
            " - 1 AS VARCHAR), 'null')"
        )
        sample_where = (
            f", sampled AS (SELECT doc_id, text FROM aug0 WHERE "
            f"CAST('0x' || substr(md5({key}), 1, 8) AS BIGINT)"
            f" < {thresh})"
        )
    aug_tbl = "sampled" if sample_where else "aug0"
    return f"""
        WITH aug0 AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 100000 AS doc_id,
                 array_to_string(list_filter(string_split(text, ' '),
                   (x, i) -> (i - 1) % 9 <> 0), ' ') AS text
          FROM documents
        ){sample_where},
        aug AS (SELECT * FROM {aug_tbl}),
        toks AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(text),
                                                '[^a-z0-9]+'),
                             s -> s <> '') AS ts
          FROM aug
        ),
        sh AS (
          SELECT doc_id,
                 CASE WHEN len(ts) < 3 THEN []
                      ELSE [array_to_string(list_slice(ts, i, i+2), ' ')
                            for i in range(1, len(ts)-1)] END AS ss
          FROM toks
        ),
        sets AS (
          SELECT doc_id, list_distinct(ss) AS s FROM sh
        ),
        truth AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM sets a, sets b
          WHERE a.doc_id < b.doc_id
            AND len(list_distinct(list_concat(a.s, b.s))) > 0
            AND round(len(list_intersect(a.s, b.s)) * 1.0 /
                      len(list_distinct(list_concat(a.s, b.s))), 6)
                >= {t}
        ),
        hsh AS (
          SELECT doc_id,
                 ((CAST('0x' || substr(md5(u.s), 1, 8) AS BIGINT)
                     % 2147483647) * 2
                   + CAST('0x' || substr(md5(u.s), 9, 8) AS BIGINT))
                 % 2147483647 AS h
          FROM sh, unnest(sh.ss) AS u(s)
        ),
        params(k, a, b) AS (VALUES {vals}),
        slot AS (
          SELECT s.doc_id, p.k,
                 coalesce(min((p.a * h.h + p.b) % 2147483647),
                          2147483647) AS m
          FROM sh s CROSS JOIN params p
          LEFT JOIN hsh h ON h.doc_id = s.doc_id
          GROUP BY 1, 2
        ),
        sig AS (
          SELECT doc_id, list(m ORDER BY k) AS sig FROM slot GROUP BY 1
        ),
        band AS (
          SELECT doc_id, bi.band,
                 CAST('0x' || substr(md5(array_to_string(
                   list_slice(sig, bi.band * 4 + 1, bi.band * 4 + 4),
                   ',')), 1, 8) AS BIGINT) AS bhash
          FROM sig, (SELECT unnest(range(16)) AS band) bi
        ),
        cand AS (
          SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
          FROM band x JOIN band y
            ON x.band = y.band AND x.bhash = y.bhash
               AND x.doc_id < y.doc_id
        ),
        ver AS (
          SELECT id_a, id_b FROM cand
          INTERSECT
          SELECT id_a, id_b FROM truth
        )
        SELECT (SELECT COUNT(*) FROM aug)::BIGINT AS n_docs,
               (SELECT COUNT(*) FROM truth)::BIGINT AS n_true,
               (SELECT COUNT(*) FROM cand)::BIGINT AS n_candidates,
               (SELECT COUNT(*) FROM ver)::BIGINT AS n_verified,
               round(CASE WHEN (SELECT COUNT(*) FROM truth) > 0
                 THEN (SELECT COUNT(*) FROM ver) * 1.0 /
                      (SELECT COUNT(*) FROM truth)
                 ELSE 1.0 END, 9) AS recall,
               round(CASE WHEN (SELECT COUNT(*) FROM cand) > 0
                 THEN (SELECT COUNT(*) FROM ver) * 1.0 /
                      (SELECT COUNT(*) FROM cand)
                 ELSE 0.0 END, 9) AS precision
    """


def _pc1_oracle(dim: int = 64, iters: int = 30) -> str:
    """Full SQL replay of pc1_projection (functions/vectors.py): exact
    integer pair moments of the 2^20-snapped embeddings, the
    covariance assembled with the SAME float-division order the
    driver uses, ``iters`` unrolled power-iteration steps (matvec via
    list_dot_product, per-step round to 9 dp — tie-free, see the
    operator docstring), the first-max-abs sign pick, and the integer
    projection against round(pc1*1e9).  Single-row iteration CTEs are
    MATERIALIZED so the y-vector is computed once per step."""
    d1 = dim + 1
    steps = []
    prev = "it0"
    for k in range(1, iters + 1):
        steps.append(
            f"y{k} AS MATERIALIZED (SELECT m, list_transform(m, r -> "
            f"list_dot_product(r, x)) AS y FROM {prev}),\n"
            f"it{k} AS MATERIALIZED (SELECT m, list_transform(y, v -> "
            f"round(v / sqrt(list_dot_product(y, y)), 9)) AS x FROM y{k})"
        )
        prev = f"it{k}"
    chain = ",\n".join(steps)
    return f"""
        WITH q AS (
          SELECT vec_id, label,
                 [CAST(round(x::DOUBLE * 1048576.0) AS BIGINT)
                  for x in embedding] AS q
          FROM embeddings WHERE len(embedding) = {dim}
        ),
        nn AS (SELECT COUNT(*)::BIGINT AS n FROM q),
        pos AS (
          SELECT unnest(range(1, {d1})) AS i,
                 unnest(list_transform(range(1, {d1}), k -> q[k])) AS qi
          FROM q
        ),
        mom1 AS (SELECT i, SUM(qi) AS si FROM pos GROUP BY i),
        pe AS (
          SELECT unnest(flatten([[{{'i': i, 'j': j, 'p': q[i] * q[j]}}
                   for j in range(i, {d1})] for i in range(1, {d1})]))
            AS e
          FROM q
        ),
        mom2 AS (
          SELECT e.i AS i, e.j AS j, SUM(e.p) AS pp
          FROM pe GROUP BY 1, 2
        ),
        momf AS (
          SELECT i, j, pp FROM mom2
          UNION ALL
          SELECT j AS i, i AS j, pp FROM mom2 WHERE i < j
        ),
        cov AS (
          SELECT f.i, f.j,
                 (f.pp::DOUBLE / nn.n::DOUBLE -
                  (a.si::DOUBLE / nn.n::DOUBLE) *
                  (b.si::DOUBLE / nn.n::DOUBLE)) /
                 (1048576.0 * 1048576.0) AS c
          FROM momf f, nn, mom1 a, mom1 b
          WHERE a.i = f.i AND b.i = f.j
        ),
        crows AS (
          SELECT i, list(c ORDER BY j) AS r FROM cov GROUP BY i
        ),
        it0 AS (
          SELECT list(r ORDER BY i) AS m,
                 list_transform(range(1, {d1}),
                                k -> round(1.0 / sqrt({dim}), 9)) AS x
          FROM crows
        ),
        {chain},
        sgn AS (
          SELECT CASE WHEN x[list_indexof(
                   list_transform(x, v -> abs(v)),
                   list_max(list_transform(x, v -> abs(v))))] < 0
                 THEN list_transform(x, v -> -v) ELSE x END AS x
          FROM {prev}
        ),
        pvec AS (
          SELECT [CAST(round(v * 1e9) AS BIGINT) for v in x] AS p
          FROM sgn
        ),
        spmu AS (
          SELECT SUM(mom1.si * pvec.p[mom1.i]) AS sp
          FROM mom1, pvec
        )
        SELECT q.vec_id, q.label,
               round((list_sum(list_transform(range(1, {d1}),
                        i -> q.q[i] * pvec.p[i]))::DOUBLE -
                      spmu.sp::DOUBLE / nn.n::DOUBLE) /
                     (1048576.0 * 1e9), 9) AS pc1_proj
        FROM q, pvec, spmu, nn
    """


def _mojibake_oracle() -> str:
    """Replace-chain replay generated from the SAME computed table as
    fix_mojibake (functions/text.py) — identical order, identical
    pairs; applying the chain to clean text is the identity, so the
    Spark-side RLIKE pregate needs no SQL counterpart."""
    from pandance_spark.functions.text import _mojibake_table

    expr = "s"
    for moji, ch in _mojibake_table():
        m = moji.replace("'", "''")
        c = ch.replace("'", "''")
        expr = f"replace({expr}, '{m}', '{c}')"
    return f"""
        WITH t AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 7 = 0 THEN 'pure ascii only'
                 ELSE repeat('caf\u00c3\u00a9 ', CAST(doc_id % 3 + 1 AS INT)) ||
                      repeat('na\u00c3\u00afve ', CAST(doc_id % 4 AS INT)) ||
                      repeat('\u00e2\u20ac\u201ddash ', CAST(doc_id % 2 AS INT)) ||
                      'clean tail'
                 END AS s
          FROM documents
        )
        SELECT doc_id,
               CAST(length(s) AS BIGINT) AS n_raw,
               CAST(length({expr}) AS BIGINT) AS n_fixed,
               md5({expr}) AS fixed_md5
        FROM t ORDER BY doc_id
    """


def _benford_oracle() -> str:
    from pandance_spark.functions.profile import BENFORD_EXPECTED

    vals = ", ".join(
        f"({d}, {BENFORD_EXPECTED[d]!r})" for d in range(1, 10)
    )
    return f"""
        WITH vals AS (
          SELECT CAST(l_extendedprice AS DOUBLE) AS v FROM lineitem
          WHERE l_extendedprice >= 1.0
        ),
        counts AS (
          SELECT CAST(substr(CAST(CAST(floor(v) AS BIGINT) AS VARCHAR),
                             1, 1) AS INT) AS digit,
                 count(*)::BIGINT AS n
          FROM vals GROUP BY 1
        ),
        digits(digit, ef) AS (VALUES {vals}),
        tot AS (SELECT sum(n) AS total FROM counts)
        SELECT d.digit, coalesce(c.n, 0)::BIGINT AS n,
               round(CAST(coalesce(c.n, 0) AS DOUBLE)
                     / CAST((SELECT total FROM tot) AS DOUBLE), 9)
                 AS obs_frac,
               round(d.ef, 9) AS exp_frac,
               round((CAST(coalesce(c.n, 0) AS DOUBLE)
                      / CAST((SELECT total FROM tot) AS DOUBLE) - d.ef)
                     * (CAST(coalesce(c.n, 0) AS DOUBLE)
                        / CAST((SELECT total FROM tot) AS DOUBLE) - d.ef)
                     / d.ef, 9) AS chi2_contrib
        FROM digits d LEFT JOIN counts c USING (digit)
    """


def oracle_sql() -> dict[str, str]:
    cos = (
        "round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6)"
    )
    return {
        # r9 corpus-statistics panel: entropy from per-char counts
        # (run-lengths in the Spark fold ARE the counts), Flesch from
        # the same three RE2 regex counts, Zipf OLS replayed with the
        # identical count-desc/token-asc tie order, the GPT-2
        # pre-tokenizer regex re-run by RE2, and the canary sweep
        # replanted from the same md5 residues
        "char_entropy": """
            WITH aug AS (
              SELECT doc_id,
                     text ||
                     CASE WHEN doc_id % 19 = 0 THEN
                       ' ' || md5(CAST(doc_id AS VARCHAR)) || '=='
                     ELSE '' END ||
                     CASE WHEN doc_id % 23 = 0 THEN
                       ' aaaaaaaaaaaaaaaaaaaaaaaa'
                     ELSE '' END AS t
              FROM documents
            ),
            chars AS (
              SELECT doc_id,
                     unnest(list_transform(range(1, len(t) + 1),
                                           i -> t[i])) AS c
              FROM aug
            ),
            cnt AS (
              SELECT doc_id, c, CAST(count(*) AS DOUBLE) AS k
              FROM chars GROUP BY doc_id, c
            ),
            tot AS (
              SELECT doc_id, sum(k) AS n, sum(k * ln(k)) AS s
              FROM cnt GROUP BY doc_id
            )
            SELECT a.doc_id,
                   COALESCE(round((ln(t.n) - t.s / t.n) / ln(2), 6), 0.0)
                     AS entropy_bits
            FROM aug a LEFT JOIN tot t ON a.doc_id = t.doc_id
        """,
        "readability": """
            WITH pages AS (
              SELECT doc_id,
                     lower(regexp_replace(
                       regexp_replace(text, '\\btable\\b', 'table.', 'g'),
                       '\\bvalue\\b', 'value?', 'g')) AS low
              FROM documents
            ),
            cnts AS (
              SELECT doc_id,
                     CAST(len(list_filter(
                       string_split_regex(low, '\\s+'), w -> w <> ''))
                       AS BIGINT) AS n_words,
                     CAST(greatest(len(regexp_extract_all(low, '[.!?]+')),
                                   1) AS BIGINT) AS n_sentences,
                     CAST(len(regexp_extract_all(low, '[aeiouy]+'))
                       AS BIGINT) AS n_syllables
              FROM pages
            )
            SELECT doc_id, n_words, n_sentences, n_syllables,
                   CASE WHEN n_words > 0 THEN
                     round(206.835
                           - 1.015 * (n_words::DOUBLE / n_sentences::DOUBLE)
                           - 84.6 * (n_syllables::DOUBLE / n_words::DOUBLE),
                           6)
                   END AS flesch
            FROM cnts
        """,
        "zipf_fit": f"""
            WITH toks AS ({_TOKS_CTE}),
            cnt AS (
              SELECT t AS token, count(*) AS n
              FROM (SELECT unnest(ts) AS t FROM toks)
              GROUP BY t
            ),
            totals AS (
              SELECT CAST(count(*) AS BIGINT) AS n_types,
                     CAST(sum(n) AS BIGINT) AS n_tokens
              FROM cnt
            ),
            top AS (
              SELECT n,
                     row_number() OVER (ORDER BY n DESC, token ASC) AS rk
              FROM cnt ORDER BY n DESC, token ASC LIMIT 200
            ),
            pts AS (
              SELECT ln(CAST(rk AS DOUBLE)) AS x,
                     ln(CAST(n AS DOUBLE)) AS y
              FROM top
            ),
            sums AS (
              SELECT CAST(count(*) AS DOUBLE) AS r,
                     sum(x) AS sx, sum(y) AS sy,
                     sum(x * x) AS sxx, sum(y * y) AS syy,
                     sum(x * y) AS sxy
              FROM pts
            )
            SELECT n_types, n_tokens,
                   round((sxy - sx * sy / r) / (sxx - sx * sx / r), 9)
                     AS slope,
                   round((sy - ((sxy - sx * sy / r) / (sxx - sx * sx / r))
                              * sx) / r, 9) AS intercept,
                   round(CASE WHEN (syy - sy * sy / r) > 0 THEN
                       ((sxy - sx * sy / r) * (sxy - sx * sy / r))
                       / ((sxx - sx * sx / r) * (syy - sy * sy / r))
                     ELSE 1.0 END, 9) AS r2
            FROM totals, sums
        """,
        "tokenizer_fertility": """
            WITH aug AS (
              SELECT lang,
                     text ||
                     CASE WHEN doc_id % 3 = 0 THEN
                       ' v' || CAST(doc_id % 97 AS VARCHAR) || '.2!'
                     ELSE '' END ||
                     CASE WHEN doc_id % 5 = 0 THEN
                       ' it''s 2024, e.g. $4,096...'
                     ELSE '' END AS t
              FROM documents
            ),
            agg AS (
              SELECT lang,
                     CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(len(list_filter(
                       string_split_regex(lower(t), '[^a-z0-9]+'),
                       x -> x <> ''))) AS BIGINT) AS n_words,
                     CAST(sum(len(regexp_extract_all(lower(t),
                       '''s|''t|''re|''ve|''m|''ll|''d| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+'
                     ))) AS BIGINT) AS n_pieces,
                     CAST(sum(len(t)) AS BIGINT) AS n_chars
              FROM aug GROUP BY lang
            )
            SELECT lang, n_docs, n_words, n_pieces,
                   round(CASE WHEN n_words > 0
                              THEN n_pieces::DOUBLE / n_words::DOUBLE END, 9)
                     AS fertility,
                   round(CASE WHEN n_pieces > 0
                              THEN n_chars::DOUBLE / n_pieces::DOUBLE END, 9)
                     AS chars_per_piece
            FROM agg
        """,
        "canary_scan": """
            WITH aug AS (
              SELECT doc_id,
                     text ||
                     CASE WHEN doc_id % 23 = 0 THEN
                       ' CANARY-' || substr(md5(CAST(
                         CAST(floor(doc_id / 2) AS BIGINT) AS VARCHAR)), 1, 8)
                     ELSE '' END ||
                     CASE WHEN doc_id % 46 = 0 THEN
                       ' CANARY-' || substr(md5(CAST(
                         CAST(floor(doc_id / 2) AS BIGINT) AS VARCHAR)), 1, 8)
                     ELSE '' END AS t
              FROM documents
            ),
            hits AS (
              SELECT doc_id,
                     unnest(regexp_extract_all(t, 'CANARY-[0-9a-f]{8}'))
                       AS canary
              FROM aug
            )
            SELECT canary,
                   CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
                   CAST(count(*) AS BIGINT) AS n_hits,
                   min(doc_id) AS first_doc,
                   max(doc_id) AS last_doc
            FROM hits GROUP BY canary
        """,
        "cms_heavy": """
            WITH vals AS (
              SELECT user_id FROM events WHERE user_id IS NOT NULL
            ),
            probes AS (
              SELECT user_id, t.r,
                     CAST('0x' || substr(md5(CAST(t.r AS VARCHAR) || ':'
                       || CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT)
                       % 64 AS c
              FROM (SELECT DISTINCT user_id FROM vals) u,
                   range(4) t(r)
            ),
            sketch AS (
              SELECT p.r, p.c, CAST(count(*) AS BIGINT) AS cnt
              FROM vals v JOIN probes p ON v.user_id = p.user_id
              GROUP BY p.r, p.c
            ),
            exact AS (
              SELECT user_id, CAST(count(*) AS BIGINT) AS exact_n
              FROM vals GROUP BY user_id
              ORDER BY exact_n DESC, user_id ASC LIMIT 15
            )
            SELECT e.user_id, e.exact_n,
                   min(s.cnt) AS est_n,
                   min(s.cnt) - e.exact_n AS overcount
            FROM exact e
            JOIN probes p ON p.user_id = e.user_id
            JOIN sketch s ON s.r = p.r AND s.c = p.c
            GROUP BY e.user_id, e.exact_n
        """,
        # exact k-means step: md5-order seeding, integer micro-unit
        # argmin (first-min tie), exact inertia, rounded-mean CSV
        "kmeans_assign": """
            WITH q AS (
              SELECT vec_id,
                     [CAST(round(x::DOUBLE * 1048576.0) AS BIGINT)
                      for x in embedding] AS q
              FROM embeddings WHERE len(embedding) = 64
            ),
            ranked AS (
              SELECT q, CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)),
                                            1, 15) AS BIGINT) AS h,
                     vec_id
              FROM q ORDER BY h, vec_id LIMIT 8
            ),
            cents AS (SELECT list(q ORDER BY h, vec_id) AS cs FROM ranked),
            assigned AS (
              SELECT vec_id, q.q,
                     list_transform(c.cs, ctr -> list_sum(
                       list_transform(range(1, 65),
                         i -> (q.q[i] - ctr[i]) * (q.q[i] - ctr[i]))))
                       AS ds
              FROM q, cents c
            ),
            cl AS (
              SELECT vec_id, q,
                     CAST(list_position(ds, list_min(ds)) - 1 AS INT)
                       AS cluster,
                     list_min(ds) AS dmin
              FROM assigned
            ),
            agg AS (
              SELECT cluster, CAST(count(*) AS BIGINT) AS n_vecs,
                     CAST(sum(dmin) AS BIGINT) AS inertia
              FROM cl GROUP BY cluster
            ),
            dims AS (
              SELECT cluster, e.idx AS idx, sum(e.x) AS s
              FROM (
                SELECT cluster,
                       unnest(list_transform(q,
                         (x, i) -> struct_pack(idx := i, x := x))) AS e
                FROM cl
              ) GROUP BY cluster, e.idx
            ),
            means AS (
              SELECT d.cluster,
                     string_agg(CAST(CAST(round(d.s::DOUBLE / a.n_vecs)
                                          AS BIGINT) AS VARCHAR),
                                ',' ORDER BY d.idx) AS mean_q_csv
              FROM dims d JOIN agg a ON d.cluster = a.cluster
              GROUP BY d.cluster
            )
            SELECT a.cluster, a.n_vecs, a.inertia, m.mean_q_csv
            FROM agg a JOIN means m ON a.cluster = m.cluster
        """,
        # SemDeDup: cluster assignment replayed, then the integer-exact
        # cosine gate in HUGEINT (dot>0 and den^2 dot^2 > num^2 na nb)
        "semdedup_prune": """
            WITH corpus AS (
              SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
              UNION ALL
              SELECT vec_id + 100000,
                     list_transform(embedding, x -> x * 0.97)
              FROM embeddings WHERE vec_id % 25 = 0
            ),
            q AS (
              SELECT vec_id,
                     [CAST(round(x * 1048576.0) AS BIGINT)
                      for x in v] AS q
              FROM corpus WHERE len(v) = 64
            ),
            ranked AS (
              SELECT q, CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)),
                                            1, 15) AS BIGINT) AS h,
                     vec_id
              FROM q ORDER BY h, vec_id LIMIT 8
            ),
            cents AS (SELECT list(q ORDER BY h, vec_id) AS cs FROM ranked),
            cl AS (
              SELECT vec_id, q.q,
                     CAST(list_position(
                       list_transform(c.cs, ctr -> list_sum(
                         list_transform(range(1, 65),
                           i -> (q.q[i] - ctr[i]) * (q.q[i] - ctr[i])))),
                       list_min(
                         list_transform(c.cs, ctr -> list_sum(
                           list_transform(range(1, 65),
                             i -> (q.q[i] - ctr[i]) * (q.q[i] - ctr[i])))))
                     ) - 1 AS INT) AS cluster,
                     CAST(list_sum(list_transform(q.q, x -> x * x))
                       AS HUGEINT) AS n2
              FROM q, cents c
            )
            SELECT a.cluster, a.vec_id AS id_a, b.vec_id AS id_b
            FROM cl a JOIN cl b
              ON a.cluster = b.cluster AND a.vec_id < b.vec_id
            WHERE (SELECT 1) IS NOT NULL
              AND CAST(list_sum(list_transform(range(1, 65),
                    i -> a.q[i] * b.q[i])) AS HUGEINT) > 0
              AND CAST(list_sum(list_transform(range(1, 65),
                    i -> a.q[i] * b.q[i])) AS HUGEINT)
                  * CAST(list_sum(list_transform(range(1, 65),
                    i -> a.q[i] * b.q[i])) AS HUGEINT) * 100
                  > a.n2 * b.n2 * 81
        """,
        # per-line script winner + (count desc, name asc) majority
        # rule replayed line by line
        "lang_mix": """
            WITH pages AS (
              SELECT doc_id,
                     'the quick brown fox jumps'
                     || CASE WHEN doc_id % 2 = 0 THEN chr(10) ||
                          repeat('漢字', CAST(doc_id % 5 + 1 AS INT))
                        ELSE '' END
                     || CASE WHEN doc_id % 3 = 0 THEN chr(10) ||
                          'слово много слово' ELSE '' END
                     || CASE WHEN doc_id % 5 = 0 THEN chr(10) ||
                          repeat('한글', 2) ELSE '' END
                     || CASE WHEN doc_id % 7 = 0 THEN chr(10) ||
                          '1234 !!! 5678' ELSE '' END AS page
              FROM documents
            ),
            lines AS (
              SELECT doc_id, unnest(string_split(page, chr(10))) AS s
              FROM pages
            ),
            c AS (
              SELECT doc_id,
                 length(s) - length(regexp_replace(s, '[؀-ۿ]', '', 'g')) AS n_arabic,
                 length(s) - length(regexp_replace(s, '[Ѐ-ӿ]', '', 'g')) AS n_cyrillic,
                 length(s) - length(regexp_replace(s, '[ऀ-ॿ]', '', 'g')) AS n_devanagari,
                 length(s) - length(regexp_replace(s, '[Ͱ-Ͽ]', '', 'g')) AS n_greek,
                 length(s) - length(regexp_replace(s, '[一-鿿]', '', 'g')) AS n_han,
                 length(s) - length(regexp_replace(s, '[가-힯]', '', 'g')) AS n_hangul,
                 length(s) - length(regexp_replace(s, '[぀-ヿ]', '', 'g')) AS n_kana,
                 length(s) - length(regexp_replace(s, '[A-Za-z]', '', 'g')) AS n_latin
              FROM lines
            ),
            w AS (
              SELECT doc_id,
                     CASE WHEN greatest(n_arabic, n_cyrillic, n_devanagari,
                                        n_greek, n_han, n_hangul, n_kana,
                                        n_latin) = 0 THEN 'none'
                      WHEN n_arabic = greatest(n_arabic, n_cyrillic,
                        n_devanagari, n_greek, n_han, n_hangul, n_kana,
                        n_latin) THEN 'arabic'
                      WHEN n_cyrillic = greatest(n_arabic, n_cyrillic,
                        n_devanagari, n_greek, n_han, n_hangul, n_kana,
                        n_latin) THEN 'cyrillic'
                      WHEN n_devanagari = greatest(n_arabic, n_cyrillic,
                        n_devanagari, n_greek, n_han, n_hangul, n_kana,
                        n_latin) THEN 'devanagari'
                      WHEN n_greek = greatest(n_arabic, n_cyrillic,
                        n_devanagari, n_greek, n_han, n_hangul, n_kana,
                        n_latin) THEN 'greek'
                      WHEN n_han = greatest(n_arabic, n_cyrillic,
                        n_devanagari, n_greek, n_han, n_hangul, n_kana,
                        n_latin) THEN 'han'
                      WHEN n_hangul = greatest(n_arabic, n_cyrillic,
                        n_devanagari, n_greek, n_han, n_hangul, n_kana,
                        n_latin) THEN 'hangul'
                      WHEN n_kana = greatest(n_arabic, n_cyrillic,
                        n_devanagari, n_greek, n_han, n_hangul, n_kana,
                        n_latin) THEN 'kana'
                      ELSE 'latin'
                     END AS s
              FROM c
            ),
            per_doc AS (
              SELECT doc_id,
                     CAST(count(*) AS BIGINT) AS n_lines,
                     CAST(COALESCE(sum(CASE WHEN s <> 'none' THEN 1 END),
                                   0) AS BIGINT) AS n_scripted
              FROM w GROUP BY doc_id
            ),
            maj AS (
              SELECT doc_id, s, count(*) AS n,
                     row_number() OVER (PARTITION BY doc_id
                                        ORDER BY count(*) DESC, s ASC)
                       AS rn
              FROM w WHERE s <> 'none' GROUP BY doc_id, s
            ),
            winner AS (
              SELECT doc_id, s AS majority_script,
                     CAST(n AS BIGINT) AS n_majority
              FROM maj WHERE rn = 1
            ),
            ks AS (
              SELECT doc_id, count(DISTINCT s) AS k
              FROM maj GROUP BY doc_id
            )
            SELECT p.doc_id, p.n_lines, p.n_scripted,
                   COALESCE(winner.majority_script, 'none')
                     AS majority_script,
                   COALESCE(winner.n_majority, 0) AS n_majority,
                   round(CASE WHEN p.n_scripted > 0 THEN
                       1.0 - COALESCE(winner.n_majority, 0)::DOUBLE
                             / p.n_scripted ELSE 0.0 END, 6) AS mix_ratio,
                   COALESCE(ks.k, 0) >= 2 AS is_mixed
            FROM per_doc p
            LEFT JOIN winner ON p.doc_id = winner.doc_id
            LEFT JOIN ks ON p.doc_id = ks.doc_id
        """,
        # both rankers replayed (BM25 with the pinned 6dp/doc-id tie
        # rule; cosine via list_cosine_similarity) then the RRF sum
        "rrf_fusion": f"""
            WITH toks AS ({_TOKS_CTE}),
            dl AS (SELECT doc_id, len(ts) AS dl, ts FROM toks),
            stats AS (SELECT count(*) AS n_docs, avg(dl::DOUBLE) AS avgdl
                      FROM dl),
            m AS (
              SELECT doc_id, dl, t
              FROM (SELECT doc_id, dl, unnest(ts) AS t FROM dl)
              WHERE t IN ('hash', 'merge', 'scan', 'table')
            ),
            tf AS (SELECT doc_id, t, count(*) AS tf, any_value(dl) AS dl
                   FROM m GROUP BY doc_id, t),
            dft AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
            s AS (
              SELECT tf.doc_id,
                     round(sum(ln(1 + (stats.n_docs - dft.df + 0.5)
                                      / (dft.df + 0.5))
                           * (tf.tf * 2.2)
                           / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / stats.avgdl))
                           ), 6) AS score
              FROM tf JOIN dft USING (t) CROSS JOIN stats
              GROUP BY tf.doc_id
            ),
            bm AS (
              SELECT doc_id,
                     row_number() OVER (ORDER BY score DESC, doc_id)
                       AS r_bm25
              FROM s QUALIFY r_bm25 <= 50
            ),
            qv AS (SELECT embedding::DOUBLE[] AS q FROM embeddings
                   WHERE vec_id = 0),
            cosr AS (
              SELECT vec_id AS doc_id,
                     round(list_cosine_similarity(embedding::DOUBLE[],
                                                  qv.q), 6) AS c
              FROM embeddings, qv
            ),
            cos AS (
              SELECT doc_id,
                     row_number() OVER (ORDER BY c DESC, doc_id) AS r_cos
              FROM cosr QUALIFY r_cos <= 50
            ),
            fused AS (
              SELECT COALESCE(bm.doc_id, cos.doc_id) AS doc_id,
                     CAST(COALESCE(bm.r_bm25, 0) AS BIGINT) AS r_bm25,
                     CAST(COALESCE(cos.r_cos, 0) AS BIGINT) AS r_cos,
                     round(COALESCE(1.0 / (60 + bm.r_bm25), 0.0)
                           + COALESCE(1.0 / (60 + cos.r_cos), 0.0), 9)
                       AS rrf_score
              FROM bm FULL JOIN cos ON bm.doc_id = cos.doc_id
            )
            SELECT doc_id, r_bm25, r_cos, rrf_score
            FROM fused ORDER BY rrf_score DESC, doc_id LIMIT 10
        """,
        # the oracle renders the FINAL ChatML string directly from the
        # tokens — green proves the to_json -> parse -> render chain
        # in Spark is lossless
        "sft_render": """
            WITH parts AS (
              SELECT doc_id,
                     array_to_string(list_slice(
                       string_split(text, ' '), 1, 12), ' ') AS user_c,
                     COALESCE(array_to_string(list_slice(
                       string_split(text, ' '), 13,
                       len(string_split(text, ' '))), ' '), '') AS asst_c
              FROM documents
            ),
            r AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 3 = 0 THEN
                       '<|im_start|>system' || chr(10)
                       || 'you are a helpful assistant<|im_end|>' || chr(10)
                     ELSE '' END
                     || '<|im_start|>user' || chr(10) || user_c
                     || '<|im_end|>' || chr(10)
                     || '<|im_start|>assistant' || chr(10) || asst_c
                     || '<|im_end|>' || chr(10) AS rendered,
                     CASE WHEN doc_id % 3 = 0 THEN 3 ELSE 2 END AS n_turns
              FROM parts
            )
            SELECT doc_id,
                   CAST(n_turns AS BIGINT) AS n_turns,
                   CAST(1 AS BIGINT) AS n_assistant,
                   md5(rendered) AS rendered_md5,
                   CAST(len(rendered) AS BIGINT) AS rendered_chars,
                   CAST(strpos(rendered, '<|im_start|>assistant' || chr(10))
                        + len('<|im_start|>assistant') + 1 AS BIGINT)
                     AS mask_offset
            FROM r
        """,
        # triangles the NAIVE u<v<w way — green proves the oriented
        # compact-forward plan loses/duplicates nothing
        "triangle_count": """
            WITH raw AS (
              SELECT user_id % 60 AS x,
                     (user_id * 7 + event_id) % 60 AS y
              FROM events WHERE user_id IS NOT NULL
            ),
            e AS (
              SELECT DISTINCT least(x, y) AS a, greatest(x, y) AS b
              FROM raw WHERE x <> y
            ),
            t AS (
              SELECT e1.a AS u, e1.b AS v, e2.b AS w
              FROM e e1
              JOIN e e2 ON e2.a = e1.b
              JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
            )
            SELECT vertex, CAST(count(*) AS BIGINT) AS n_triangles
            FROM (SELECT unnest([u, v, w]) AS vertex FROM t)
            GROUP BY vertex
        """,
        "graph_summary": """
            WITH raw AS (
              SELECT user_id % 60 AS x,
                     (user_id * 7 + event_id) % 60 AS y
              FROM events WHERE user_id IS NOT NULL
            ),
            e AS (
              SELECT DISTINCT least(x, y) AS a, greatest(x, y) AS b
              FROM raw WHERE x <> y
            ),
            deg AS (
              SELECT v, count(*) AS d FROM (
                SELECT a AS v FROM e UNION ALL SELECT b FROM e
              ) GROUP BY v
            ),
            base AS (
              SELECT CAST(count(*) AS BIGINT) AS n_vertices,
                     CAST(sum(d) / 2 AS BIGINT) AS n_edges,
                     CAST(sum(d * (d - 1) / 2) AS BIGINT) AS n_wedges
              FROM deg
            ),
            tri AS (
              SELECT CAST(count(*) AS BIGINT) AS n_triangles
              FROM e e1
              JOIN e e2 ON e2.a = e1.b
              JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
            )
            SELECT n_vertices, n_edges, n_triangles, n_wedges,
                   round(CASE WHEN n_wedges > 0 THEN
                       3.0 * n_triangles / n_wedges ELSE 0.0 END, 9)
                     AS global_clustering
            FROM base, tri
        """,
        # roundtrips: the oracle recomputes the good-row aggregate from
        # the parquet the CSV/JSONL was WRITTEN from (writer/reader/
        # quoting corruption = value drift); n_bad = planted constant
        "csv_roundtrip": """
            SELECT lang,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                   min(doc_id) AS min_doc,
                   max(doc_id) AS max_doc,
                   CAST(3 AS BIGINT) AS n_bad
            FROM documents GROUP BY lang
        """,
        "jsonl_roundtrip": """
            SELECT source,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(len(text)) AS BIGINT) AS sum_len,
                   md5(string_agg(md5(text), '|' ORDER BY md5(text)))
                     AS content_md5,
                   CAST(3 AS BIGINT) AS n_bad
            FROM documents GROUP BY source
        """,
        # closed-form interleave vs the TWO-WINDOW definition: a green
        # row proves the sharded arithmetic equals the total order
        "interleave_shards": """
            WITH ranked AS (
              SELECT doc_id, source,
                     CAST(row_number() OVER (
                       PARTITION BY source ORDER BY doc_id) - 1
                       AS BIGINT) AS source_rank
              FROM documents
            )
            SELECT doc_id, source, source_rank,
                   CAST(row_number() OVER (
                     ORDER BY source_rank, source NULLS FIRST) - 1
                     AS BIGINT) AS order_idx
            FROM ranked
        """,
        "grouping_sets_events": """
            WITH base AS (
              SELECT event_type,
                     CAST((CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 86400)
                                AS BIGINT) + 4) % 7 AS INT) AS dow,
                     value
              FROM events
            )
            SELECT event_type, dow,
                   CAST(GROUPING(event_type, dow) AS BIGINT) AS gid,
                   CAST(count(*) AS BIGINT) AS n,
                   round(sum(value), 6) AS v_sum
            FROM base
            GROUP BY GROUPING SETS ((event_type), (dow),
                                    (event_type, dow), ())
        """,
        "outliers_mad": """
            WITH ev AS (
              SELECT event_id, event_type, value FROM events
              WHERE value IS NOT NULL AND NOT isnan(value)
            ),
            med AS (
              SELECT event_type, median(value) AS m
              FROM ev GROUP BY event_type
            ),
            j AS (
              SELECT ev.*, med.m FROM ev JOIN med USING (event_type)
            ),
            mad AS (
              SELECT event_type, median(abs(value - m)) AS mad
              FROM j GROUP BY event_type
            )
            SELECT j.event_id, j.event_type, j.value,
                   round(abs(j.value - j.m) / mad.mad, 6) AS robust_z
            FROM j JOIN mad USING (event_type)
            WHERE mad.mad > 0 AND abs(j.value - j.m) > 5 * mad.mad
        """,
        "ab_cuped": """
            WITH ev AS (
              SELECT user_id, event_id, value FROM events
              WHERE user_id IS NOT NULL AND value IS NOT NULL
                AND NOT isnan(value)
            ),
            pu AS (
              SELECT user_id,
                     COALESCE(sum(CASE WHEN event_id % 2 = 0
                                       THEN value END), 0.0) AS x,
                     COALESCE(sum(CASE WHEN event_id % 2 = 1
                                       THEN value END), 0.0) AS y,
                     CAST(user_id % 2 AS INT) AS variant
              FROM ev GROUP BY user_id
            ),
            g AS (
              SELECT (sum(x * y) - sum(x) * sum(y)
                        / CAST(count(*) AS DOUBLE))
                     / (sum(x * x) - sum(x) * sum(x)
                        / CAST(count(*) AS DOUBLE)) AS theta,
                     sum(x) / CAST(count(*) AS DOUBLE) AS xbar
              FROM pu
            ),
            pv AS (
              SELECT variant, CAST(count(*) AS BIGINT) AS n_users,
                     sum(x) / count(*) AS mx,
                     sum(y) / count(*) AS my
              FROM pu GROUP BY variant
            )
            SELECT variant, n_users,
                   round(my, 6) AS mean_y,
                   round(my - g.theta * (mx - g.xbar), 6) AS mean_cuped,
                   round(g.theta, 6) AS theta
            FROM pv, g
        """,
        # bloom_dedup is EXACT by construction, so the oracle is the
        # plain anti-join the Bloom path must equal
        "bloom_dedup": """
            WITH u AS (
              SELECT doc_id,
                     'http://s' || CAST(doc_id % 7 AS VARCHAR)
                       || '.ex/p/' || CAST(doc_id % 250 AS VARCHAR) AS url
              FROM documents
            ),
            idx AS (SELECT url FROM u WHERE doc_id % 5 < 3),
            b AS (SELECT doc_id, url FROM u WHERE doc_id % 5 >= 2)
            SELECT b.doc_id, b.url FROM b
            WHERE NOT EXISTS (SELECT 1 FROM idx WHERE idx.url = b.url)
        """,
        # the sketch pass only proposes candidates; the result is the
        # exact GROUP BY / HAVING / top-k, replayed here directly
        "heavy_hitters": f"""
            WITH toks AS ({_TOKS_CTE}),
            t AS (SELECT unnest(ts) AS tok FROM toks),
            tot AS (SELECT count(*) AS n FROM t)
            SELECT tok AS value, count(*)::BIGINT AS cnt,
                   round(count(*)::DOUBLE / any_value(n), 6) AS share
            FROM t, tot GROUP BY tok
            HAVING count(*) > 0.005 * any_value(n)
            ORDER BY cnt DESC, value ASC LIMIT 30
        """,
        "domain_blocklist": """
            WITH u AS (
              SELECT doc_id,
                     'http://h' || CAST(doc_id % 20 AS VARCHAR)
                       || '.site' || CAST(doc_id % 5 AS VARCHAR)
                       || '.com/p/' || CAST(doc_id AS VARCHAR) AS url,
                     'h' || CAST(doc_id % 20 AS VARCHAR)
                       || '.site' || CAST(doc_id % 5 AS VARCHAR)
                       || '.com' AS host
              FROM documents
            )
            SELECT doc_id, url FROM u
            WHERE NOT EXISTS (
              SELECT 1 FROM (VALUES ('site0.com'), ('site3.com'),
                                    ('h7.site1.com')) b(d)
              WHERE u.host = b.d OR u.host LIKE '%.' || b.d
            )
        """,
        # fixture groups share EXACT pixels (same closed-form raster,
        # three codecs), and the measured min cross-group dHash
        # distance is 6 > radius 2 — so the pair set is pure doc_id
        # arithmetic and every true pair has hamming 0
        "image_phash_dedup": """
            WITH m AS (SELECT doc_id FROM documents WHERE doc_id < 90)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(0 AS INT) AS hamming
            FROM m a JOIN m b
              ON a.doc_id < b.doc_id
             AND (a.doc_id // 3) % 15 = (b.doc_id // 3) % 15
        """,
        # the gated-WAV closed form replayed sample-by-sample: per-frame
        # energies, the integer cross-multiplied threshold, and the
        # islands run-merge — verifies the RIFF decode AND the
        # segmentation end-to-end
        "audio_segments": """
            WITH d AS (
              SELECT doc_id AS media_id,
                     800 + (doc_id % 5) * 160 AS ns,
                     doc_id * 7 AS seed
              FROM documents WHERE doc_id < 120
            ),
            s AS (
              SELECT media_id, seed,
                     unnest(generate_series(0, ns - 1)) AS i
              FROM d
            ),
            v AS (
              SELECT media_id, i,
                     CASE WHEN (i // 400) % 2 = 0 THEN 0
                          ELSE abs(((seed + 11 * i) % 65536) - 32768)
                     END AS a
              FROM s
            ),
            f AS (
              SELECT media_id, i // 200 AS frame,
                     sum(a) AS fsum, count(*) AS fcount
              FROM v GROUP BY 1, 2
            ),
            act AS (
              SELECT media_id, frame, fsum
              FROM f WHERE fsum > 5000 * fcount
            ),
            isl AS (
              SELECT media_id, frame, fsum,
                     frame - row_number() OVER (
                       PARTITION BY media_id ORDER BY frame) AS grp
              FROM act
            ),
            seg AS (
              SELECT media_id, min(frame) AS start_frame,
                     count(*) AS n_frames, sum(fsum) AS energy
              FROM isl GROUP BY media_id, grp
            )
            SELECT media_id,
                   CAST(row_number() OVER (
                     PARTITION BY media_id ORDER BY start_frame) - 1
                     AS INT) AS seg_idx,
                   CAST(start_frame AS BIGINT) AS start_frame,
                   CAST(n_frames AS BIGINT) AS n_frames,
                   CAST(energy AS BIGINT) AS energy
            FROM seg
        """,
        # the md5 permutation replayed exactly: same hash string, same
        # first-8-hex bucket, same within-shard rank + tie-break
        "shuffle_shards": """
            WITH h AS (
              SELECT doc_id,
                     md5('42:' || CAST(doc_id AS VARCHAR)) AS hx
              FROM documents
            ),
            s AS (
              SELECT doc_id, hx,
                     CAST(CAST('0x' || substr(hx, 1, 8) AS BIGINT) % 8
                          AS INT) AS shard
              FROM h
            )
            SELECT doc_id, shard,
                   CAST(row_number() OVER (
                     PARTITION BY shard ORDER BY hx, doc_id) - 1
                     AS BIGINT) AS pos
            FROM s
        """,
        "ineq_lt_balances": """
            SELECT c.*, s.* FROM customer c JOIN supplier s
            ON c.c_acctbal < s.s_acctbal
        """,
        "ineq_gt_strings": """
            SELECT n.*, r.* FROM nation n JOIN region r ON n.n_name > r.r_name
        """,
        "ineq_band_strings": """
            SELECT a.p_partkey AS p_partkey_x, a.p_name AS p_name_x,
                   b.p_partkey AS p_partkey_y, b.p_name AS p_name_y
            FROM part a JOIN part b ON a.p_name < b.p_name
            WHERE a.p_partkey % 20 = 0 AND b.p_partkey % 20 = 1
        """,
        "ineq_band_skewed": """
            SELECT a.v AS value_x, a.event_id AS event_id_x,
                   b.event_id AS event_id_y, b.value AS value_y
            FROM (SELECT event_id,
                         CASE WHEN event_id % 2 = 0 THEN 34.75 ELSE value END AS v
                  FROM events WHERE event_id % 31 = 0) a
            JOIN (SELECT event_id, value FROM events WHERE event_id % 31 = 1) b
            ON a.v < b.value
        """,
        "ineq_band_autoskew": """
            SELECT a.event_id AS event_id_x, a.value AS value_x,
                   b.event_id AS event_id_y, b.v AS value_y
            FROM (SELECT event_id, value FROM events WHERE event_id % 97 = 2) a
            JOIN (SELECT event_id,
                         CASE WHEN event_id % 2 = 0 THEN 55.25 ELSE value END AS v
                  FROM events WHERE event_id % 7 = 0) b
            ON a.value < b.v
        """,
        "ineq_band_timestamps": """
            SELECT a.event_id AS event_id_x, CAST(a.ts AS TIMESTAMP) AS ts_x,
                   b.event_id AS event_id_y, CAST(b.ts AS TIMESTAMP) AS ts_y
            FROM events a, events b
            WHERE a.event_id % 97 = 0 AND b.event_id % 97 = 1
              AND CAST(a.ts AS TIMESTAMP) > CAST(b.ts AS TIMESTAMP)
        """,
        "fuzzy_numeric": """
            SELECT p.*, c.* FROM part p JOIN customer c
            ON abs(p.p_retailprice - c.c_acctbal) <= 0.5
        """,
        "fuzzy_autoskew": """
            SELECT a.event_id AS event_id_x, a.value AS value_x,
                   b.event_id AS event_id_y, b.v AS value_y
            FROM (SELECT event_id, value FROM events WHERE event_id % 31 = 3) a
            JOIN (SELECT event_id,
                         CASE WHEN event_id % 2 = 0 THEN 55.25 ELSE value END AS v
                  FROM events WHERE event_id % 7 = 1) b
            ON abs(a.value - b.v) <= 0.5
        """,
        "fuzzy_timestamps": """
            SELECT a.event_id AS event_id_x, CAST(a.ts AS TIMESTAMP) AS ts_x,
                   b.event_id AS event_id_y, CAST(b.ts AS TIMESTAMP) AS ts_y
            FROM events a, events b
            WHERE a.event_id % 2 = 0 AND b.event_id % 2 = 1
              AND abs(epoch_us(CAST(a.ts AS TIMESTAMP))
                      - epoch_us(CAST(b.ts AS TIMESTAMP))) <= 120000000
        """,
        "fuzzy_decimal": """
            WITH p AS (SELECT p_partkey, p_retailprice::DECIMAL(12,2) AS price_d
                       FROM part)
            SELECT a.p_partkey AS p_partkey_x,
                   round(CAST(a.price_d AS DOUBLE), 2) AS price_d_x,
                   b.p_partkey AS p_partkey_y,
                   round(CAST(b.price_d AS DOUBLE), 2) AS price_d_y
            FROM p a, p b WHERE abs(a.price_d - b.price_d) <= 0.05
        """,
        "theta_expr_mod": """
            SELECT p.*, s.* FROM part p JOIN supplier s
            ON (p.p_size % 5) = (s.s_suppkey % 5)
        """,
        "theta_keywords": """
            SELECT k.keyword, d.* FROM
            (VALUES ('data'), ('query'), ('window'), ('xyzzy')) k(keyword)
            JOIN documents d ON contains(d.text, k.keyword)
        """,
        "theta_udf_gcd": """
            SELECT p.p_partkey, s.s_suppkey FROM part p, supplier s
            WHERE gcd(p.p_partkey, s.s_suppkey) = 5
        """,
        "dedup_exact": """
            SELECT doc_id, text, lang, source, n_chars FROM (
              SELECT *, row_number() OVER (PARTITION BY lang, source
                                           ORDER BY doc_id) AS rn
              FROM documents
            ) WHERE rn = 1
        """,
        "dedup_ngram_jaccard": _JACCARD_SQL,
        # MinHash+LSH with exact-Jaccard verification is exact at the
        # threshold when banding catches every >=0.8 pair (16 bands x 4
        # rows: P(miss | j>=0.8) < 1e-4) — same oracle as the exact join.
        "dedup_minhash": _JACCARD_SQL,
        # overlap-threshold set-similarity: exact token-set
        # intersections >= c
        "overlap_set": f"""
            WITH toks AS ({_TOKS_CTE}),
            d AS (SELECT doc_id, list_distinct(ts) AS ds FROM toks)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   len(list_intersect(a.ds, b.ds)) AS overlap
            FROM d a, d b
            WHERE a.doc_id < b.doc_id
              AND len(list_intersect(a.ds, b.ds)) >= 20
        """,
        # exact edit-distance pairs — DuckDB's levenshtein is the
        # independent recompute of Spark's levenshtein verify
        "edit_distance": """
            SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
                   levenshtein(a.c_name, b.c_name) AS dist
            FROM customer a, customer b
            WHERE a.c_custkey < b.c_custkey
              AND levenshtein(a.c_name, b.c_name) <= 1
        """,
        # top-k closest pairs above the min_sim floor; selection is
        # deterministic under ties (jaccard desc, id_a, id_b) and the
        # Spark side is exact (PPJoin, no LSH), so LIMIT k agrees
        "jaccard_topk": _SHINGLES_CTE
        + """
, ex AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         len(list_intersect(a.s, b.s))::DOUBLE
           / len(list_distinct(list_concat(a.s, b.s))) AS j
  FROM sh a, sh b WHERE a.doc_id < b.doc_id
)
SELECT id_a, id_b, round(j, 6) AS jaccard FROM ex
WHERE round(j, 6) >= 0.25
ORDER BY jaccard DESC, id_a, id_b LIMIT 20
""",
        # incremental variant: same exact-Jaccard ground truth restricted
        # to cross pairs (batch = doc_id % 10 == 0 vs indexed corpus)
        "dedup_incremental": _SHINGLES_CTE
        + """
, ex AS (
  SELECT a.doc_id AS new_id, b.doc_id AS corpus_id,
         len(list_intersect(a.s, b.s))::DOUBLE
           / len(list_distinct(list_concat(a.s, b.s))) AS j
  FROM sh a, sh b
  WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
)
SELECT new_id, corpus_id, round(j, 6) AS jaccard
FROM ex WHERE round(j, 6) >= 0.8
""",
        # transitive closure of the exact-Jaccard pair graph via a
        # recursive CTE: label (v,v) seeds spread along edges until the
        # fixpoint; min reached label == min doc_id in the component
        "dedup_clusters": _SHINGLES_CTE.replace(
            "WITH toks", "WITH RECURSIVE toks", 1
        )
        + """
, ex AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a, sh b
  WHERE a.doc_id < b.doc_id
    AND round(len(list_intersect(a.s, b.s))::DOUBLE
              / len(list_distinct(list_concat(a.s, b.s))), 6) >= 0.8
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM ex
  UNION
  SELECT id_b AS a, id_a AS b FROM ex
),
walk(node, comp) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.b, w.comp FROM walk w JOIN edges e ON e.a = w.node
),
lab AS (SELECT node AS doc_id, min(comp) AS cluster_id FROM walk GROUP BY node)
SELECT doc_id, cluster_id,
       count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       CAST(doc_id = cluster_id AS INT) AS is_canonical
FROM lab
ORDER BY doc_id
""",
        # portable (md5-derived) simhash recomputed from scratch: per-token
        # 64-bit hash as two 32-bit halves, per-bit majority vote, then
        # all-pairs Hamming distance (500-5000 docs -> trivially cheap)
        "dedup_simhash": f"""
            WITH tok AS (
              SELECT doc_id, unnest(ts) AS t FROM ({_TOKS_CTE})
            ),
            h AS (
              SELECT doc_id,
                     CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) AS hi,
                     CAST('0x' || substr(md5(t), 9, 8) AS BIGINT) AS lo
              FROM tok
            ),
            v AS (
              SELECT doc_id, bits.b AS b,
                     count(*) AS n,
                     sum(((CASE WHEN bits.b < 32 THEN lo ELSE hi END)
                          >> (bits.b % 32)) & 1) AS c
              FROM h, range(64) bits(b)
              GROUP BY doc_id, bits.b
            ),
            sh AS (
              SELECT d.doc_id,
                     coalesce(sum(CASE WHEN v.b < 32 AND v.c * 2 > v.n
                                       THEN (1::BIGINT << v.b) ELSE 0 END), 0) AS sh_lo,
                     coalesce(sum(CASE WHEN v.b >= 32 AND v.c * 2 > v.n
                                       THEN (1::BIGINT << (v.b - 32)) ELSE 0 END), 0) AS sh_hi
              FROM documents d LEFT JOIN v ON d.doc_id = v.doc_id
              GROUP BY d.doc_id
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   bit_count(xor(a.sh_lo, b.sh_lo))
                     + bit_count(xor(a.sh_hi, b.sh_hi)) AS hamming
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.sh_lo, b.sh_lo))
                    + bit_count(xor(a.sh_hi, b.sh_hi)) <= 3
        """,
        "embedding_dedup": f"""
            SELECT a.vec_id AS id_a, b.vec_id AS id_b, {cos} AS cosine
            FROM embeddings a, embeddings b
            WHERE a.vec_id < b.vec_id AND {cos} >= 0.45
        """,
        "ann_lsh": _lsh_oracle(),
        # IVF with the first 8 corpus vectors as literal centroids:
        # nearest-cell assignment (ties -> lowest cell, matching the
        # operator's first-index argmin), 4-of-8 probe, cosine top-5
        "ann_ivf": """
            WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            ctr AS (SELECT vec_id AS cell, embedding::DOUBLE[] AS cv
                    FROM embeddings WHERE vec_id < 8),
            assign AS (
              SELECT vec_id, v, cell FROM (
                SELECT c.vec_id, c.v, ctr.cell,
                       row_number() OVER (PARTITION BY c.vec_id
                                          ORDER BY list_distance(c.v, ctr.cv),
                                                   ctr.cell) AS rn
                FROM c, ctr) WHERE rn = 1
            ),
            qp AS (
              SELECT vec_id, v, cell FROM (
                SELECT c.vec_id, c.v, ctr.cell,
                       row_number() OVER (PARTITION BY c.vec_id
                                          ORDER BY list_distance(c.v, ctr.cv),
                                                   ctr.cell) AS rn
                FROM c, ctr WHERE c.vec_id < 10) WHERE rn <= 4
            ),
            cand AS (
              SELECT q.vec_id AS vec_id_x, a.vec_id AS vec_id_y,
                     round(list_cosine_similarity(q.v, a.v), 6) AS cosine
              FROM qp q JOIN assign a ON q.cell = a.cell
            )
            SELECT vec_id_x, vec_id_y, cosine,
                   row_number() OVER (PARTITION BY vec_id_x
                                      ORDER BY cosine DESC, vec_id_y) AS rank
            FROM cand
            QUALIFY rank <= 5
        """,
        "mmr_rerank": _mmr_oracle(),
        "pii_ibans": _pii_ibans_oracle(),
        "simhash_eval": _simhash_eval_oracle(),
        # both count tables, both totals, the ln-ratio and the ranked
        # cut replayed; the degenerate p(ab)=1 branch pinned to 1.0
        "npmi_phrases": f"""
            WITH toks AS ({_TOKS_CTE}),
            pairs AS (
              SELECT u.p.a AS w1, u.p.b AS w2
              FROM toks t, unnest([struct_pack(a := t.ts[i],
                                               b := t.ts[i + 1])
                                   for i in range(1, len(t.ts))]) u(p)
            ),
            tok AS (SELECT unnest(ts) AS tok FROM toks),
            uni AS (SELECT tok, count(*) AS c1 FROM tok GROUP BY tok),
            big AS (SELECT w1, w2, count(*) AS n_pair FROM pairs
                    GROUP BY w1, w2),
            t1 AS (SELECT sum(c1) AS t1 FROM uni),
            t2 AS (SELECT sum(n_pair) AS t2 FROM big),
            j AS (
              SELECT b.w1, b.w2, b.n_pair, ua.c1 AS ca, ub.c1 AS cb,
                     t1.t1, t2.t2
              FROM big b
              JOIN uni ua ON b.w1 = ua.tok
              JOIN uni ub ON b.w2 = ub.tok
              CROSS JOIN t1 CROSS JOIN t2
              WHERE b.n_pair >= 5
            ),
            scored AS (
              SELECT w1, w2, n_pair,
                     CASE WHEN n_pair = t2 THEN 1.0
                          ELSE round(
                            ln((n_pair / t2)
                               / ((ca / t1) * (cb / t1)))
                            / -ln(n_pair / t2), 6) END AS npmi
              FROM j
            )
            SELECT w1, w2, n_pair::BIGINT AS n_pair, npmi,
                   row_number() OVER (ORDER BY npmi DESC, w1, w2)
                     AS rank
            FROM scored
            QUALIFY rank <= 50
        """,
        "ann_topk": f"""
            SELECT a.vec_id AS vec_id_x, b.vec_id AS vec_id_y, {cos} AS cosine,
                   row_number() OVER (PARTITION BY a.vec_id
                                      ORDER BY {cos} DESC, b.vec_id) AS rank
            FROM embeddings a, embeddings b
            WHERE a.vec_id < 10
            QUALIFY rank <= 5
        """,
        "table_diff": """
            WITH o AS (SELECT * FROM orders WHERE o_orderkey % 97 <> 0),
            n AS (
              SELECT o_orderkey, o_orderstatus,
                     CASE WHEN o_orderkey % 89 = 0
                          THEN round(o_totalprice * 1.1, 2)
                          ELSE o_totalprice END AS o_totalprice,
                     o_orderpriority
              FROM orders
            ),
            j AS (
              SELECT coalesce(o.o_orderkey, n.o_orderkey) AS k,
                     o.o_orderkey AS ok, n.o_orderkey AS nk,
                     [x FOR x IN [
                       CASE WHEN o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
                            THEN 'o_orderstatus' END,
                       CASE WHEN o.o_totalprice IS DISTINCT FROM n.o_totalprice
                            THEN 'o_totalprice' END,
                       CASE WHEN o.o_orderpriority IS DISTINCT FROM n.o_orderpriority
                            THEN 'o_orderpriority' END
                     ] IF x IS NOT NULL] AS cc
              FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey
            )
            SELECT k AS o_orderkey,
                   CASE WHEN ok IS NULL THEN 'added'
                        WHEN nk IS NULL THEN 'removed'
                        WHEN len(cc) > 0 THEN 'changed' END AS change,
                   coalesce(array_to_string(list_sort(
                     CASE WHEN ok IS NOT NULL AND nk IS NOT NULL
                               AND len(cc) > 0
                          THEN cc ELSE []::VARCHAR[] END), ','), '')
                     AS changed_cols
            FROM j
            WHERE ok IS NULL OR nk IS NULL OR len(cc) > 0
        """,
        "exact_sample": """
            SELECT doc_id, lang, source FROM documents
            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
            LIMIT 100
        """,
        "q13_custdist": """
            SELECT c_count, count(*) AS custdist FROM (
              SELECT c.c_custkey, count(o.o_orderkey) AS c_count
              FROM customer c LEFT JOIN orders o
                ON c.c_custkey = o.o_custkey
              GROUP BY c.c_custkey
            ) GROUP BY c_count
        """,
        "q16_supplier_cnt": """
            SELECT p_brand, p_size,
                   count(DISTINCT l_suppkey) AS supplier_cnt
            FROM lineitem JOIN part ON l_partkey = p_partkey
            GROUP BY p_brand, p_size
        """,
        "q18_big_orders": """
            WITH big AS (
              SELECT l_orderkey, round(sum(l_quantity), 2) AS sum_qty
              FROM lineitem GROUP BY l_orderkey
              HAVING round(sum(l_quantity), 2) > 200
            )
            SELECT c_custkey, c_name, o_orderkey, o_totalprice, sum_qty
            FROM orders JOIN big ON o_orderkey = l_orderkey
            JOIN customer ON o_custkey = c_custkey
        """,
        "pagerank_supply": _pagerank_oracle(5),
        "merge_spans": """
            WITH iv AS (
              SELECT user_id, CAST(ts AS TIMESTAMP) AS s,
                     CAST(ts AS TIMESTAMP) + INTERVAL 2 MINUTE AS e
              FROM events
            ),
            m AS (
              SELECT user_id, s, e,
                     max(e) OVER (PARTITION BY user_id ORDER BY s, e
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING) AS pme
              FROM iv
            ),
            b AS (
              SELECT user_id, s, e,
                     CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END AS brk
              FROM m
            ),
            isl AS (
              SELECT user_id, s, e,
                     sum(brk) OVER (PARTITION BY user_id ORDER BY s, e
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS island
              FROM b
            )
            SELECT user_id, min(s) AS span_start, max(e) AS span_end,
                   count(*)::BIGINT AS n_merged
            FROM isl GROUP BY user_id, island
        """,
        "profile_orders": """
            SELECT 'o_orderkey' AS col_name, count(*) AS n_rows,
                   sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)::BIGINT
                     AS n_nulls,
                   count(DISTINCT o_orderkey) AS n_distinct FROM orders
            UNION ALL
            SELECT 'o_custkey', count(*),
                   sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)::BIGINT,
                   count(DISTINCT o_custkey) FROM orders
            UNION ALL
            SELECT 'o_orderstatus', count(*),
                   sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)::BIGINT,
                   count(DISTINCT o_orderstatus) FROM orders
            UNION ALL
            SELECT 'o_totalprice', count(*),
                   sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)::BIGINT,
                   count(DISTINCT o_totalprice) FROM orders
            UNION ALL
            SELECT 'o_orderpriority', count(*),
                   sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END)::BIGINT,
                   count(DISTINCT o_orderpriority) FROM orders
        """,
        "ann_quantized": """
            WITH base AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
            ),
            sc AS (
              SELECT vec_id, v,
                     list_max(list_transform(v, x -> abs(x))) / 127.0 AS s
              FROM base
            ),
            dq AS (
              SELECT vec_id,
                     CASE WHEN s > 0
                          THEN list_transform(v, x -> round(x / s, 0) * s)
                          ELSE list_transform(v, x -> 0.0) END AS dv
              FROM sc
            )
            SELECT a.vec_id AS vec_id_x, b.vec_id AS vec_id_y,
                   round(list_cosine_similarity(a.dv, b.dv), 6) AS cosine,
                   row_number() OVER (PARTITION BY a.vec_id
                                      ORDER BY round(list_cosine_similarity(a.dv, b.dv), 6) DESC,
                                               b.vec_id) AS rank
            FROM dq a, dq b
            WHERE a.vec_id < 10
            QUALIFY rank <= 5
        """,
        "text_normalize": """
            SELECT doc_id,
                   md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
                     AS norm_fp,
                   len(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))::BIGINT
                     AS norm_len
            FROM documents
        """,
        "text_fingerprints": """
            SELECT doc_id, fp FROM (
              SELECT doc_id,
                     unnest(list_distinct(
                       [h FOR h IN
                         [CAST('0x' || substr(md5(substr(lower(text), i, 8)),
                                              1, 14) AS BIGINT)
                          FOR i IN range(1, greatest(len(text) - 7, 0) + 1)]
                        IF h % 16 = 0]
                     )) AS fp
              FROM documents
            )
        """,
        "lm_perplexity": f"""
            WITH toks AS ({_TOKS_CTE}),
            tok AS (SELECT doc_id, unnest(ts) AS token FROM toks),
            cnt AS (SELECT token, count(*) AS c FROM tok GROUP BY token),
            tot AS (SELECT sum(c) AS n, count(*) AS v FROM cnt),
            bits AS (
              SELECT t.doc_id,
                     -log2((c + 1.0) / (n + (v + 1))) AS b
              FROM tok t JOIN cnt USING (token), tot
            )
            SELECT doc_id, count(*)::BIGINT AS n_tokens,
                   round(avg(b), 6) AS cross_entropy,
                   round(pow(2, avg(b)), 6) AS perplexity
            FROM bits GROUP BY doc_id
        """,
        # per-group A-ES: same Gumbel micro-unit key, per-lang rank
        "weighted_per_lang": """
            WITH t AS (
              SELECT doc_id, lang, n_chars,
                     CAST(round(
                       (ln(n_chars::DOUBLE)
                        - ln(-ln((CAST('0x' ||
                                substr(md5(CAST(doc_id AS VARCHAR)),
                                       1, 8) AS BIGINT)::DOUBLE + 0.5)
                               / 4294967296.0))) * 1000000.0
                     ) AS BIGINT) AS k
              FROM documents WHERE n_chars > 0
            ),
            r AS (
              SELECT doc_id, lang, n_chars,
                     row_number() OVER (PARTITION BY lang
                                        ORDER BY k DESC, doc_id ASC) AS rn
              FROM t
            )
            SELECT doc_id, lang, n_chars FROM r WHERE rn <= 15
        """,
        # recipe replay: same token counts, same min(1, share*B/n)
        # rate, same md5 membership cut
        "mixture_plan": f"""
            WITH tok AS (
              SELECT doc_id, source,
                     len(list_filter(string_split_regex(lower(text),
                                                        '[^a-z0-9]+'),
                                     t -> t <> '')) AS nt
              FROM documents
            ),
            av AS (SELECT source, sum(nt) AS n FROM tok GROUP BY 1),
            r AS (
              SELECT av.source,
                     CASE WHEN n = 0 THEN 1.0
                          ELSE least(1.0, share * 3000 / n) END AS rate
              FROM av JOIN (VALUES ('src0', 0.4), ('src1', 0.4),
                                   ('src5', 0.2)) t(source, share)
                   ON av.source = t.source
            )
            SELECT d.doc_id, d.source
            FROM documents d JOIN r ON d.source = r.source
            WHERE CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)),
                                      1, 8) AS BIGINT) % 10000
                  < CAST(round(rate * 10000) AS BIGINT)
        """,
        # MAD replay: same exact interpolated medians
        # (quantile_cont == Spark percentile), same k*1.4826*MAD cut
        # on UNROUNDED values
        "outliers_events": """
            WITH med AS (
              SELECT event_type, quantile_cont(value, 0.5) AS m
              FROM events GROUP BY 1
            ),
            mad AS (
              SELECT e.event_type,
                     quantile_cont(abs(e.value - m), 0.5) AS d
              FROM events e JOIN med USING (event_type) GROUP BY 1
            )
            SELECT e.event_id, e.event_type, e.value,
                   round(m, 6) AS grp_median,
                   round(d, 6) AS grp_mad,
                   CASE WHEN d = 0 THEN abs(e.value - m) > 0
                        ELSE abs(e.value - m) > 3.5 * 1.4826 * d
                   END AS is_outlier
            FROM events e
            JOIN med USING (event_type) JOIN mad USING (event_type)
        """,
        # temperature recipe: sqrt shares (alpha=0.5, IEEE exact both
        # engines), normalizer folded in sorted-source order to match
        # the driver-side Python sum, same md5 membership gate as
        # stratified_sample
        "mixture_temperature": """
            WITH tok AS (
              SELECT doc_id, source,
                     len(list_filter(string_split_regex(lower(text),
                                                        '[^a-z0-9]+'),
                                     t -> t <> '')) AS nt
              FROM documents
            ),
            av AS (SELECT source, sum(nt) AS n FROM tok GROUP BY 1),
            z AS (
              SELECT sum(sqrt(CAST(n AS DOUBLE)) ORDER BY source) AS z
              FROM av WHERE n > 0
            ),
            r AS (
              SELECT av.source,
                     CASE WHEN n = 0 THEN 1.0
                          ELSE least(1.0, (sqrt(CAST(n AS DOUBLE)) / z.z)
                                          * 5000 / n)
                     END AS rate
              FROM av, z
            )
            SELECT d.doc_id, d.source
            FROM documents d JOIN r ON d.source = r.source
            WHERE CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)),
                                      1, 8) AS BIGINT) % 10000
                  < CAST(round(rate * 10000) AS BIGINT)
        """,
        # keep_best: the dedup_clusters transitive-closure replay plus
        # the same longest-wins argmax window (n_chars DESC, doc_id ASC)
        "keep_best": _SHINGLES_CTE.replace(
            "WITH toks", "WITH RECURSIVE toks", 1
        )
        + """
, ex AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a, sh b
  WHERE a.doc_id < b.doc_id
    AND round(len(list_intersect(a.s, b.s))::DOUBLE
              / len(list_distinct(list_concat(a.s, b.s))), 6) >= 0.8
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM ex
  UNION
  SELECT id_b AS a, id_a AS b FROM ex
),
walk(node, comp) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.b, w.comp FROM walk w JOIN edges e ON e.a = w.node
),
lab AS (SELECT node AS doc_id, min(comp) AS cluster_id FROM walk GROUP BY node)
SELECT l.doc_id, l.cluster_id, d.n_chars,
       CAST(row_number() OVER (PARTITION BY l.cluster_id
                               ORDER BY d.n_chars DESC, l.doc_id ASC) = 1
            AS INT) AS is_best
FROM lab l JOIN documents d ON l.doc_id = d.doc_id
""",
        # chained first-occurrence mins: t1 = first view, t2 = first
        # click strictly after t1, t3 = first purchase strictly after
        # t2 — provably equivalent to the Spark side's time-sorted fold
        # (an advance requires strictly increasing time, so tie order
        # cannot matter)
        "funnel_conversion": """
            WITH ew AS (
              SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
              FROM events
              WHERE CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-02 12:00:00'
            ),
            t1 AS (
              SELECT user_id, min(ts) AS t
              FROM ew WHERE event_type = 'view' GROUP BY 1
            ),
            t2 AS (
              SELECT e.user_id, min(e.ts) AS t
              FROM ew e JOIN t1 ON e.user_id = t1.user_id AND e.ts > t1.t
              WHERE e.event_type = 'click' GROUP BY 1
            ),
            t3 AS (
              SELECT e.user_id, min(e.ts) AS t
              FROM ew e JOIN t2 ON e.user_id = t2.user_id AND e.ts > t2.t
              WHERE e.event_type = 'purchase' GROUP BY 1
            )
            SELECT 1 AS step_idx, 'view' AS step,
                   (SELECT count(*) FROM t1) AS users
            UNION ALL
            SELECT 2, 'click', (SELECT count(*) FROM t2)
            UNION ALL
            SELECT 3, 'purchase', (SELECT count(*) FROM t3)
        """,
        # readability block heuristic replayed per line with list
        # lambdas — same clean chain, same thresholds, same anchor regex
        "main_text_extract": _MAIN_TEXT_ORACLE,
        # Luhn fold replayed per candidate; check digit brute-forced
        # in SQL by the same validator
        "pii_cards": _PII_CARDS_ORACLE,
        "pii_cards_sparse": _PII_SPARSE_ORACLE,
        "bpe_tokens": _bpe_oracle(),
        # md5 arm coin + unit-level any-success + pooled-z replay
        "ab_summary": """
            WITH u AS (
              SELECT user_id,
                     CASE WHEN CAST('0x' || substr(md5(CAST(user_id
                            AS VARCHAR)), 1, 8) AS BIGINT) % 2 = 0
                          THEN 'control' ELSE 'treatment' END AS arm,
                     max(CASE WHEN event_type = 'purchase'
                              THEN 1 ELSE 0 END) AS conv
              FROM events WHERE user_id IS NOT NULL
              GROUP BY 1, 2
            ),
            a AS (
              -- CAST: sum(BIGINT) is HUGEINT -> float64 via pandas
              SELECT arm, count(*) AS n_units,
                     CAST(sum(conv) AS BIGINT) AS n_converted
              FROM u GROUP BY 1
            ),
            t AS (
              SELECT sum(n_units) AS tn, sum(n_converted) AS tc FROM a
            )
            SELECT arm, n_units, n_converted,
                   round(n_converted * 1.0 / n_units, 6) AS rate,
                   round(
                     CASE WHEN (tc * 1.0 / tn) * (1 - tc * 1.0 / tn)
                               * (1.0 / n_units + 1.0 / tn) > 0
                          THEN (n_converted * 1.0 / n_units - tc * 1.0 / tn)
                               / sqrt((tc * 1.0 / tn) * (1 - tc * 1.0 / tn)
                                      * (1.0 / n_units + 1.0 / tn))
                          ELSE 0.0 END, 6) AS z_vs_pooled
            FROM a, t
        """,
        # identical lead() window: (ts, step) ordering both sides
        "step_transitions": """
            WITH ev AS (
              SELECT user_id, CAST(ts AS TIMESTAMP) AS t, event_type AS s
              FROM events
              WHERE user_id IS NOT NULL AND ts IS NOT NULL
                AND event_type IS NOT NULL
            ),
            p AS (
              SELECT user_id, s,
                     lead(s) OVER (PARTITION BY user_id
                                   ORDER BY t ASC, s ASC) AS nxt
              FROM ev
            )
            SELECT s AS from_step, nxt AS to_step,
                   count(*) AS n_transitions,
                   count(DISTINCT user_id) AS n_users
            FROM p WHERE nxt IS NOT NULL
            GROUP BY 1, 2
        """,
        # first-seen day per user + generate_series grid + running sum
        "cumulative_users": """
            WITH f AS (
              SELECT user_id,
                     min(CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 3600)
                           AS BIGINT)) AS d
              FROM events
              WHERE user_id IS NOT NULL AND ts IS NOT NULL
              GROUP BY 1
            ),
            per AS (SELECT d, count(*) AS new_users FROM f GROUP BY 1),
            span AS (SELECT min(d) AS lo, max(d) AS hi FROM per),
            grid AS (
              SELECT unnest(generate_series(lo, hi, 1)) AS d FROM span
            )
            SELECT g.d * 3600 AS period_s,
                   coalesce(p.new_users, 0) AS new_users,
                   -- CAST: sum(BIGINT) is HUGEINT -> float64 via pandas
                   CAST(sum(coalesce(p.new_users, 0)) OVER (
                     ORDER BY g.d
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS cum_users
            FROM grid g LEFT JOIN per p ON p.d = g.d
        """,
        # the ORIGINAL correlated-subquery form — DuckDB's decorrelation
        # must agree with the hand-decorrelated Spark plan
        # header triage replayed from the packers' CLOSED FORM — the
        # oracle never touches bytes; any header-walk slip (wrong
        # endianness, off-by-one in the VP8L bit fields, corrupt not
        # degrading) mismatches its rows
        "image_meta_triage": """
            SELECT doc_id,
                   CASE doc_id % 7
                     WHEN 0 THEN 'png'  WHEN 1 THEN 'jpeg'
                     WHEN 2 THEN 'gif'  WHEN 3 THEN 'bmp'
                     WHEN 4 THEN 'ppm'  WHEN 5 THEN 'webp'
                   END AS img_format,
                   CASE WHEN doc_id % 7 = 6 THEN NULL
                        WHEN doc_id % 7 = 5 THEN CAST(100 + doc_id % 500 AS INT)
                        ELSE CAST(4 + doc_id % 9 AS INT) END AS width,
                   CASE WHEN doc_id % 7 = 6 THEN NULL
                        WHEN doc_id % 7 = 5 THEN CAST(50 + doc_id % 300 AS INT)
                        ELSE CAST(5 + doc_id % 7 AS INT) END AS height,
                   doc_id % 7 <> 6 AS ok
            FROM documents
            ORDER BY doc_id
        """,
        # KMV bottom-k replayed exactly: same md5 60-bit hash order,
        # same row_number cut, same (k-1)/u_k estimate (31.0 * 2^60 is
        # a 5-significant-bit double — exact in both engines), same
        # 5-smallest sample.  The Spark side MERGES two partial builds,
        # so equality also proves the merge algebra == from-scratch.
        "rollup_bottomk": """
            WITH base AS (
              SELECT DISTINCT
                     CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 86400)
                       AS BIGINT) * 86400 AS bucket_s,
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
                       PARTITION BY bucket_s, event_type
                       ORDER BY h, v) AS rn
              FROM h
            ),
            bk AS (
              SELECT bucket_s, event_type,
                     count(*) AS k_held,
                     max(h) AS hk,
                     list(v ORDER BY h, v) AS vs
              FROM r WHERE rn <= 32
              GROUP BY 1, 2
            )
            SELECT bucket_s, event_type,
                   CAST(k_held AS BIGINT) AS k_held,
                   CAST(CASE WHEN k_held < 32 THEN k_held
                        ELSE round(31.0 * 1152921504606846976.0
                                   / CAST(hk + 1 AS DOUBLE))
                        END AS BIGINT) AS distinct_est,
                   array_to_string(list_slice(vs, 1, 5), ',') AS sample_ids
            FROM bk
            ORDER BY bucket_s, event_type
        """,
        # both half-month sketches, the merged union sketch, the k-th
        # hash and all three KMV set estimates recomputed from raw rows
        "sketch_overlap": """
            WITH halves AS (
              SELECT CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 3456000)
                       AS BIGINT) * 3456000 AS bucket,
                     event_type, user_id AS v,
                     CAST(ts AS TIMESTAMP)
                       < TIMESTAMP '2024-01-16 00:00:00' AS in_a
              FROM events WHERE user_id IS NOT NULL
            ),
            du AS (
              SELECT bucket, event_type, v,
                     max(CASE WHEN in_a THEN 1 ELSE 0 END) AS any_a,
                     max(CASE WHEN in_a THEN 0 ELSE 1 END) AS any_b,
                     CAST('0x' || substr(md5(CAST(v AS VARCHAR)), 1, 15)
                       AS BIGINT) AS h
              FROM halves GROUP BY bucket, event_type, v
            ),
            ra AS (
              SELECT *, row_number() OVER (
                       PARTITION BY bucket, event_type ORDER BY h, v)
                     AS rn
              FROM du WHERE any_a = 1
            ),
            rb AS (
              SELECT *, row_number() OVER (
                       PARTITION BY bucket, event_type ORDER BY h, v)
                     AS rn
              FROM du WHERE any_b = 1
            ),
            ska AS (SELECT bucket, event_type, h, v FROM ra WHERE rn <= 32),
            skb AS (SELECT bucket, event_type, h, v FROM rb WHERE rn <= 32),
            uni AS (
              SELECT bucket, event_type, h, v,
                     max(in_a) AS in_a, max(in_b) AS in_b
              FROM (
                SELECT *, 1 AS in_a, 0 AS in_b FROM ska
                UNION ALL
                SELECT *, 0 AS in_a, 1 AS in_b FROM skb
              ) GROUP BY bucket, event_type, h, v
            ),
            ru AS (
              SELECT *, row_number() OVER (
                       PARTITION BY bucket, event_type ORDER BY h, v)
                     AS rn
              FROM uni
            ),
            agg AS (
              SELECT bucket, event_type,
                     count(*) AS m,
                     max(CASE WHEN rn = 32 THEN h END) AS hk,
                     sum(in_a * in_b) AS shared
              FROM ru WHERE rn <= 32
              GROUP BY bucket, event_type
            )
            SELECT bucket, event_type,
                   CAST(CASE WHEN m < 32 THEN m
                        ELSE round(31.0 * 1152921504606846976.0
                                   / CAST(hk + 1 AS DOUBLE))
                        END AS BIGINT) AS union_est,
                   round(shared / CAST(m AS DOUBLE), 9) AS jaccard_est,
                   CAST(round((shared / CAST(m AS DOUBLE))
                              * (CASE WHEN m < 32 THEN m
                                 ELSE round(31.0 * 1152921504606846976.0
                                            / CAST(hk + 1 AS DOUBLE))
                                 END), 0) AS BIGINT) AS intersect_est
            FROM agg
            ORDER BY event_type
        """,
        # full from-scratch replay of the mergeable uniform-sample
        # quantile sketch: same md5-of-id bottom-32 row sample, same
        # lower-empirical-quantile rank picks — the merge algebra is
        # exact, so sketch contents and estimates match bit-for-bit
        "rollup_qsketch": """
            WITH base AS (
              SELECT CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 86400)
                       AS BIGINT) * 86400 AS bucket_s,
                     event_type,
                     CAST(value AS DOUBLE) AS v,
                     CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)),
                                         1, 15) AS BIGINT) AS h
              FROM events WHERE value IS NOT NULL
            ),
            r AS (
              SELECT *, row_number() OVER (
                       PARTITION BY bucket_s, event_type
                       ORDER BY h, v) AS rn,
                     count(*) OVER (
                       PARTITION BY bucket_s, event_type) AS n
              FROM base
            ),
            samp AS (
              SELECT bucket_s, event_type,
                     max(n) AS n, count(*) AS m,
                     list(v ORDER BY v) AS vs
              FROM r WHERE rn <= 32
              GROUP BY 1, 2
            )
            SELECT bucket_s, event_type,
                   CAST(n AS BIGINT) AS n,
                   CAST(m AS BIGINT) AS m,
                   n <= 32 AS exact,
                   round(vs[greatest(1, CAST(ceil(0.5 * m) AS INT))], 9)
                     AS p50,
                   round(vs[greatest(1, CAST(ceil(0.9 * m) AS INT))], 9)
                     AS p90,
                   round(vs[greatest(1, CAST(ceil(0.99 * m) AS INT))], 9)
                     AS p99
            FROM samp
            ORDER BY bucket_s, event_type
        """,
        # exact asymmetric containment replayed over STRING shingle
        # sets all-pairs (the Spark side's 64-bit shingle hashing is
        # collision-free at oracle scale); same substring fixture,
        # floor() pinned on both sides (DuckDB double->int CAST rounds,
        # Spark truncates)
        "containment_quotes": """
            WITH q AS (
              SELECT doc_id AS query_id,
                     substr(text, 1, CAST(floor(n_chars / 2.0) AS INT)) AS t
              FROM documents WHERE doc_id % 11 = 0
            ),
            qt AS (
              SELECT query_id,
                     list_filter(string_split_regex(lower(t), '[^a-z0-9]+'),
                                 x -> x <> '') AS ts
              FROM q
            ),
            qs AS (
              SELECT query_id,
                     list_distinct(CASE WHEN len(ts) < 3 THEN [] ELSE
                       [array_to_string(list_slice(ts, i, i+2), ' ')
                        for i in range(1, len(ts)-1)] END) AS s
              FROM qt
            ),
            ct AS (
              SELECT doc_id, list_filter(
                       string_split_regex(lower(text), '[^a-z0-9]+'),
                       x -> x <> '') AS ts
              FROM documents
            ),
            cs AS (
              SELECT doc_id,
                     list_distinct(CASE WHEN len(ts) < 3 THEN [] ELSE
                       [array_to_string(list_slice(ts, i, i+2), ' ')
                        for i in range(1, len(ts)-1)] END) AS s
              FROM ct
            ),
            ex AS (
              SELECT q.query_id, c.doc_id AS corpus_id,
                     round(len(list_intersect(q.s, c.s))::DOUBLE
                           / len(q.s), 6) AS containment
              FROM qs q, cs c
              WHERE len(q.s) > 0
            )
            SELECT query_id, corpus_id, containment
            FROM ex WHERE containment >= 0.8
            ORDER BY query_id, corpus_id
        """,
        # r7 decorrelation suite: every oracle keeps the ORIGINAL
        # correlated-subquery form — DuckDB's decorrelator must agree
        # with the hand-decorrelated Spark plan
        "q17_avg_qty_gate": """
            SELECT p_brand,
                   round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly,
                   count(*) AS n_lines
            FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
            WHERE l.l_quantity < (
              SELECT 0.5 * avg(l2.l_quantity) FROM lineitem l2
              WHERE l2.l_partkey = l.l_partkey
            )
            GROUP BY p_brand
            ORDER BY p_brand
        """,
        "q15_top_supplier": """
            WITH revenue AS (
              SELECT l_suppkey,
                     CAST(sum(CAST(round(l_extendedprice * (1 - l_discount)
                                         * 100) AS BIGINT)) AS BIGINT)
                       AS revenue_cents
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                AND l_shipdate < TIMESTAMP '1996-07-01'
              GROUP BY l_suppkey
            )
            SELECT s.s_suppkey, s.s_name, r.revenue_cents
            FROM revenue r JOIN supplier s ON s.s_suppkey = r.l_suppkey
            WHERE r.revenue_cents = (SELECT max(revenue_cents) FROM revenue)
            ORDER BY s.s_suppkey
        """,
        "q20_semi_chain": """
            SELECT s.s_suppkey, s.s_name, n.n_name
            FROM supplier s JOIN nation n ON n.n_nationkey = s.s_nationkey
            WHERE s.s_suppkey IN (
              SELECT l_suppkey FROM lineitem
              WHERE l_partkey IN (
                SELECT p_partkey FROM part WHERE p_name LIKE '%a%'
              )
              GROUP BY l_suppkey, l_partkey
              HAVING sum(l_quantity) > 80.0
            )
            ORDER BY s.s_suppkey
        """,
        "q22_idle_value": """
            SELECT n.n_name, count(*) AS n_customers,
                   CAST(sum(CAST(round(c.c_acctbal * 100) AS BIGINT))
                        AS BIGINT) AS total_bal_cents
            FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
            WHERE CAST(round(c.c_acctbal * 100) AS BIGINT) * (
              SELECT count(*) FROM customer c2 WHERE c2.c_acctbal > 0.0
            ) > (
              SELECT sum(CAST(round(c2.c_acctbal * 100) AS BIGINT))
              FROM customer c2 WHERE c2.c_acctbal > 0.0
            )
            AND NOT EXISTS (
              SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                AND o.o_totalprice > 400000.0
            )
            GROUP BY n.n_name
            ORDER BY n.n_name
        """,
        "q4_late_orders": """
            SELECT o.o_orderpriority, count(*) AS order_count
            FROM orders o
            WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
              AND o.o_orderdate < TIMESTAMP '1996-04-01'
              AND EXISTS (
                SELECT 1 FROM lineitem l
                WHERE l.l_orderkey = o.o_orderkey
                  AND l.l_shipdate > o.o_orderdate
              )
            GROUP BY o.o_orderpriority
            ORDER BY o.o_orderpriority
        """,
        "q14_promo_share": """
            WITH m AS (
              SELECT CAST(round(l.l_extendedprice * (1 - l.l_discount)
                                * 100) AS BIGINT) AS cents,
                     p.p_type
              FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
              WHERE l.l_shipdate >= TIMESTAMP '1996-03-01'
                AND l.l_shipdate < TIMESTAMP '1996-04-01'
            )
            SELECT CAST(sum(CASE WHEN p_type = 'PROMO' THEN cents
                             ELSE 0 END) AS BIGINT) AS promo_cents,
                   CAST(sum(cents) AS BIGINT) AS total_cents,
                   round(CAST(sum(CASE WHEN p_type = 'PROMO' THEN cents
                                   ELSE 0 END) AS DOUBLE) * 100.0
                         / CAST(sum(cents) AS DOUBLE), 6)
                     AS promo_share_pct
            FROM m
        """,
        "q7_volume_shipping": """
            SELECT supp_nation, cust_nation, l_year,
                   CAST(sum(cents) AS BIGINT) AS revenue_cents
            FROM (
              SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                     CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
                     CAST(round(l.l_extendedprice * (1 - l.l_discount)
                                * 100) AS BIGINT) AS cents
              FROM supplier s, lineitem l, orders o, customer c,
                   nation n1, nation n2
              WHERE s.s_suppkey = l.l_suppkey
                AND o.o_orderkey = l.l_orderkey
                AND c.c_custkey = o.o_custkey
                AND s.s_nationkey = n1.n_nationkey
                AND c.c_nationkey = n2.n_nationkey
                AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
                  OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
                AND l.l_shipdate >= TIMESTAMP '1996-01-01'
                AND l.l_shipdate < TIMESTAMP '1998-01-01'
            ) shipping
            GROUP BY supp_nation, cust_nation, l_year
            ORDER BY supp_nation, cust_nation, l_year
        """,
        "q8_market_share": """
            SELECT o_year,
                   CAST(sum(CASE WHEN nation = 'NATION_3' THEN cents
                            ELSE 0 END) AS BIGINT) AS nation_cents,
                   CAST(sum(cents) AS BIGINT) AS total_cents,
                   round(CAST(sum(CASE WHEN nation = 'NATION_3'
                                   THEN cents ELSE 0 END) AS DOUBLE)
                         / CAST(sum(cents) AS DOUBLE), 6) AS mkt_share
            FROM (
              SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
                     CAST(round(l.l_extendedprice * (1 - l.l_discount)
                                * 100) AS BIGINT) AS cents,
                     n2.n_name AS nation
              FROM part p, supplier s, lineitem l, orders o, customer c,
                   nation n1, region r, nation n2
              WHERE p.p_partkey = l.l_partkey
                AND s.s_suppkey = l.l_suppkey
                AND l.l_orderkey = o.o_orderkey
                AND o.o_custkey = c.c_custkey
                AND c.c_nationkey = n1.n_nationkey
                AND n1.n_regionkey = r.r_regionkey
                AND r.r_name = 'AMERICA'
                AND s.s_nationkey = n2.n_nationkey
                AND p.p_type = 'ECONOMY'
                AND o.o_orderdate >= TIMESTAMP '1996-01-01'
                AND o.o_orderdate < TIMESTAMP '1998-01-01'
            ) all_nations
            GROUP BY o_year
            ORDER BY o_year
        """,
        "q9_product_profit": """
            SELECT nation, o_year,
                   CAST(sum(amount_cents) AS BIGINT) AS profit_cents
            FROM (
              SELECT n.n_name AS nation,
                     CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
                     CAST(round((l.l_extendedprice * (1 - l.l_discount)
                                 - (0.1 * p.p_retailprice) * l.l_quantity)
                                * 100) AS BIGINT) AS amount_cents
              FROM part p, supplier s, lineitem l, orders o, nation n
              WHERE s.s_suppkey = l.l_suppkey
                AND p.p_partkey = l.l_partkey
                AND o.o_orderkey = l.l_orderkey
                AND s.s_nationkey = n.n_nationkey
                AND p.p_name LIKE '%widget%'
            ) profit
            GROUP BY nation, o_year
            ORDER BY nation, o_year DESC
        """,
        "q10_returned_items": """
            SELECT c.c_custkey, c.c_name, c.c_acctbal, n.n_name,
                   CAST(sum(CAST(round(l.l_extendedprice
                                       * (1 - l.l_discount) * 100)
                                 AS BIGINT)) AS BIGINT) AS revenue_cents
            FROM customer c, orders o, lineitem l, nation n
            WHERE c.c_custkey = o.o_custkey
              AND l.l_orderkey = o.o_orderkey
              AND o.o_orderdate >= TIMESTAMP '1996-04-01'
              AND o.o_orderdate < TIMESTAMP '1996-07-01'
              AND l.l_returnflag = 'R'
              AND c.c_nationkey = n.n_nationkey
            GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
            ORDER BY revenue_cents DESC, c.c_custkey
            LIMIT 20
        """,
        "q12_late_lines": """
            SELECT l.l_returnflag,
                   CAST(sum(CASE WHEN o.o_orderpriority IN
                                      ('1-URGENT', '2-HIGH')
                            THEN 1 ELSE 0 END) AS BIGINT)
                     AS high_line_count,
                   CAST(sum(CASE WHEN o.o_orderpriority IN
                                      ('1-URGENT', '2-HIGH')
                            THEN 0 ELSE 1 END) AS BIGINT)
                     AS low_line_count
            FROM orders o, lineitem l
            WHERE o.o_orderkey = l.l_orderkey
              AND l.l_returnflag IN ('A', 'R')
              AND l.l_shipdate > o.o_orderdate + INTERVAL 45 DAY
              AND l.l_shipdate >= TIMESTAMP '1997-01-01'
              AND l.l_shipdate < TIMESTAMP '1998-01-01'
            GROUP BY l.l_returnflag
            ORDER BY l.l_returnflag
        """,
        "q19_disjunctive_revenue": """
            SELECT CAST(sum(CAST(round(l.l_extendedprice
                                       * (1 - l.l_discount) * 100)
                                 AS BIGINT)) AS BIGINT) AS revenue_cents,
                   count(*) AS n_lines
            FROM lineitem l, part p
            WHERE (p.p_partkey = l.l_partkey
                   AND p.p_brand = 'Brand#12'
                   AND p.p_size BETWEEN 1 AND 5
                   AND l.l_quantity BETWEEN 1 AND 11)
               OR (p.p_partkey = l.l_partkey
                   AND p.p_brand = 'Brand#23'
                   AND p.p_size BETWEEN 1 AND 10
                   AND l.l_quantity BETWEEN 10 AND 20)
               OR (p.p_partkey = l.l_partkey
                   AND p.p_brand = 'Brand#24'
                   AND p.p_size BETWEEN 1 AND 15
                   AND l.l_quantity BETWEEN 20 AND 30)
        """,
        "q11_important_stock": """
            WITH v AS (
              SELECT l.l_partkey,
                     CAST(sum(CAST(round(l.l_extendedprice * 100)
                                   AS BIGINT)) AS BIGINT) AS value_cents
              FROM lineitem l
              JOIN supplier s ON s.s_suppkey = l.l_suppkey
              JOIN nation n ON n.n_nationkey = s.s_nationkey
              WHERE n.n_name = 'NATION_7'
              GROUP BY l.l_partkey
            )
            SELECT l_partkey, value_cents
            FROM v
            WHERE CAST(value_cents AS DOUBLE)
                  > CAST((SELECT sum(value_cents) FROM v) AS DOUBLE) * 0.001
            ORDER BY value_cents DESC, l_partkey
        """,
        "q2_min_cost": """
            WITH offers AS (
              SELECT l.l_partkey, s.s_suppkey, s.s_name, l.l_extendedprice
              FROM lineitem l
              JOIN supplier s ON s.s_suppkey = l.l_suppkey
              JOIN nation n ON n.n_nationkey = s.s_nationkey
              JOIN region r ON r.r_regionkey = n.n_regionkey
              WHERE r.r_name = 'EUROPE'
            )
            SELECT DISTINCT o.l_partkey, o.s_suppkey, o.s_name,
                   o.l_extendedprice AS best_price
            FROM offers o
            WHERE o.l_extendedprice = (
              SELECT min(o2.l_extendedprice) FROM offers o2
              WHERE o2.l_partkey = o.l_partkey
            )
            ORDER BY o.l_partkey, o.s_suppkey
            LIMIT 100
        """,
        "q21_blame": """
            SELECT s.s_name,
                   count(DISTINCT l1.l_orderkey) AS numwait
            FROM lineitem l1
            JOIN orders o ON o.o_orderkey = l1.l_orderkey
                         AND o.o_orderstatus = 'F'
            JOIN supplier s ON s.s_suppkey = l1.l_suppkey
            WHERE l1.l_returnflag = 'R'
              AND EXISTS (
                SELECT 1 FROM lineitem l2
                WHERE l2.l_orderkey = l1.l_orderkey
                  AND l2.l_suppkey <> l1.l_suppkey
              )
              AND NOT EXISTS (
                SELECT 1 FROM lineitem l3
                WHERE l3.l_orderkey = l1.l_orderkey
                  AND l3.l_suppkey <> l1.l_suppkey
                  AND l3.l_returnflag = 'R'
              )
            GROUP BY s.s_name
            ORDER BY numwait DESC, s.s_name ASC
            LIMIT 20
        """,
        # plain BETWEEN join over the same md5 pseudo-IPs and the same
        # closed-form block table
        "ip_range_lookup": """
            WITH f AS (
              SELECT event_id,
                     CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)),
                                         1, 8) AS BIGINT) AS ip
              FROM events
            ),
            d AS (
              SELECT i * 67108864 AS lo,
                     (i + 1) * 67108864 - 1 AS hi,
                     'blk' || CAST(i AS VARCHAR) AS blk
              FROM range(64) t(i)
            )
            SELECT f.event_id, f.ip, d.blk
            FROM f JOIN d ON f.ip BETWEEN d.lo AND d.hi
        """,
        # identical 2^2 grouping lattice; GROUPING() bit vector has the
        # first column as MSB in both engines
        "cube_orders": """
            SELECT o_orderstatus, o_orderpriority,
                   CAST(GROUPING(o_orderstatus, o_orderpriority) AS INT)
                     AS gid,
                   count(*) AS n,
                   round(sum(o_totalprice), 2) AS total
            FROM orders
            GROUP BY CUBE (o_orderstatus, o_orderpriority)
        """,
        # integer epoch-day RANGE frame + integer 1e-4-unit mean —
        # exact frame bounds and exact arithmetic both sides
        "moving_avg_orders": """
            SELECT o_orderkey, o_orderpriority,
                   count(*) OVER w AS n_7d,
                   CAST(floor(sum(CAST(round(o_totalprice * 100)
                                       AS BIGINT)) OVER w * 100.0
                              / count(*) OVER w)
                        AS BIGINT) AS avg_7d_e4
            FROM orders
            WINDOW w AS (
              PARTITION BY o_orderpriority
              ORDER BY CAST(o_orderdate AS DATE) - DATE '1970-01-01'
              RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
            )
        """,
        # closed-form net effect of the synthesized CDC feed: untouched
        # snapshot keys pass through; %5 keys carry the ver-2 upsert
        # price (the ver-1 %10 upsert always loses); %11 keys are
        # deleted last and vanish; %5 keys absent from the snapshot
        # are inserts
        "cdc_apply": """
            WITH base AS (
              SELECT o_orderkey AS k, o_orderstatus AS st,
                     o_totalprice AS tp
              FROM orders
            )
            SELECT k, st, tp FROM base
            WHERE k % 7 <> 0 AND k % 5 <> 0 AND k % 11 <> 0
            UNION ALL
            SELECT k, st, tp * 0.5 AS tp FROM base
            WHERE k % 5 = 0 AND k % 11 <> 0
        """,
        # grid replay: per-bucket last observation (ts desc, value
        # desc), per-type generate_series grid, IGNORE NULLS window
        "gap_fill_events": """
            WITH obs AS (
              SELECT CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 900)
                       AS BIGINT) * 900 AS b,
                     event_type, value,
                     row_number() OVER (
                       PARTITION BY CAST(floor(epoch(CAST(ts AS
                         TIMESTAMP)) / 900) AS BIGINT), event_type
                       ORDER BY CAST(ts AS TIMESTAMP) DESC, value DESC
                     ) AS rn
              FROM events
              WHERE value IS NOT NULL AND ts IS NOT NULL
            ),
            last_obs AS (
              SELECT b, event_type, value FROM obs WHERE rn = 1
            ),
            span AS (
              SELECT event_type, min(b) AS lo, max(b) AS hi
              FROM last_obs GROUP BY 1
            ),
            grid AS (
              SELECT s.event_type, gs.g AS b
              FROM span s,
                   LATERAL (SELECT unnest(generate_series(s.lo, s.hi,
                                                          900)) AS g) gs
            )
            SELECT g.b AS bucket_s, g.event_type,
                   last_value(o.value IGNORE NULLS) OVER (
                     PARTITION BY g.event_type ORDER BY g.b
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS value,
                   o.value IS NULL AS is_filled
            FROM grid g
            LEFT JOIN last_obs o
              ON o.b = g.b AND o.event_type = g.event_type
        """,
        # integer week arithmetic; per-user distinct weeks then the
        # cohort matrix — exact replay
        "cohort_retention": """
            WITH p AS (
              SELECT user_id,
                     CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 604800)
                       AS BIGINT) AS p
              FROM events
              WHERE user_id IS NOT NULL AND ts IS NOT NULL
            ),
            pu AS (SELECT user_id, min(p) AS cohort FROM p GROUP BY 1),
            d AS (
              SELECT DISTINCT p.user_id, p.p, pu.cohort
              FROM p JOIN pu USING (user_id)
            )
            SELECT cohort * 604800 AS cohort_s,
                   p - cohort AS offset,
                   count(*) AS users
            FROM d GROUP BY 1, 2
        """,
        # histogram partials recomputed FROM SCRATCH over all events —
        # equality with the Spark side's merged-from-two-batches rollup
        # is exactly the mergeability claim; all arithmetic integer or
        # IEEE-identical
        "rollup_quantiles": """
            WITH bl(u) AS (VALUES (5.0), (10.0), (20.0), (40.0),
                                  (80.0), (160.0), (320.0)),
            ev AS (
              SELECT CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 86400)
                       AS BIGINT) * 86400 AS bucket_s,
                     event_type, value,
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
            ),
            w AS (
              SELECT *,
                     sum(c) OVER (PARTITION BY bucket_s, event_type
                                  ORDER BY bin) AS cum,
                     sum(c) OVER (PARTITION BY bucket_s, event_type)
                       AS total
              FROM g
            ),
            q AS (
              SELECT bucket_s, event_type,
                     string_agg(CAST(c AS VARCHAR), ',' ORDER BY bin)
                       AS hist_csv,
                     CAST(sum(CASE WHEN cum < ceil(0.95 * total)
                                   THEN 1 ELSE 0 END) AS INT) AS q_bin
              FROM w GROUP BY 1, 2
            )
            SELECT bucket_s, event_type, hist_csv, q_bin,
                   CASE WHEN q_bin < 7
                        THEN CAST([5.0, 10.0, 20.0, 40.0, 80.0, 160.0,
                                   320.0][q_bin + 1] AS DOUBLE)
                   END AS q_upper
            FROM q
        """,
        # the incremental merge must equal the from-scratch GROUP BY —
        # that equality IS the operator's claim
        "rollup_incremental": """
            SELECT CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 3600)
                     AS BIGINT) * 3600 AS bucket_s,
                   event_type,
                   count(value) AS cnt,
                   round(sum(value), 6) AS v_sum,
                   min(value) AS v_min,
                   max(value) AS v_max,
                   round(sum(value) / count(value), 6) AS v_avg
            FROM events
            GROUP BY 1, 2
            HAVING count(value) > 0
        """,
        # CCNet tiers: the lm_perplexity oracle + the same rounded-ce
        # ntile cut per language
        "ppl_buckets": f"""
            WITH toks AS ({_TOKS_CTE}),
            tok AS (SELECT doc_id, unnest(ts) AS token FROM toks),
            cnt AS (SELECT token, count(*) AS c FROM tok GROUP BY token),
            tot AS (SELECT sum(c) AS n, count(*) AS v FROM cnt),
            bits AS (
              SELECT t.doc_id,
                     -log2((c + 1.0) / (n + (v + 1))) AS b
              FROM tok t JOIN cnt USING (token), tot
            ),
            ce AS (
              SELECT doc_id, count(*)::BIGINT AS n_tokens,
                     round(avg(b), 6) AS cross_entropy,
                     round(pow(2, avg(b)), 6) AS perplexity
              FROM bits GROUP BY doc_id
            )
            SELECT ce.doc_id, d.lang, ce.n_tokens, ce.cross_entropy,
                   ce.perplexity,
                   ntile(3) OVER (PARTITION BY d.lang
                                  ORDER BY ce.cross_entropy ASC,
                                           ce.doc_id ASC) AS bucket
            FROM ce JOIN documents d USING (doc_id)
        """,
        "lm_perplexity_bigram": f"""
            WITH toks AS ({_TOKS_CTE}),
            pairs AS (
              SELECT doc_id,
                     unnest(CASE WHEN len(ts) = 0 THEN []
                            ELSE list_concat(['<s>'],
                                 list_slice(ts, 1, len(ts) - 1)) END) AS prev,
                     unnest(ts) AS token
              FROM toks
            ),
            bg AS (SELECT prev, token, count(*) AS c FROM pairs
                   GROUP BY prev, token),
            ctx AS (SELECT prev, sum(c) AS cc FROM bg GROUP BY prev),
            voc AS (SELECT count(DISTINCT token) AS v FROM bg),
            bits AS (
              SELECT p.doc_id,
                     -log2((coalesce(b.c, 0) + 1.0)
                           / (coalesce(x.cc, 0) + (v + 1))) AS b
              FROM pairs p
              LEFT JOIN bg b ON p.prev = b.prev AND p.token = b.token
              LEFT JOIN ctx x ON p.prev = x.prev
              CROSS JOIN voc
            )
            SELECT doc_id, count(*)::BIGINT AS n_tokens,
                   round(avg(b), 6) AS cross_entropy,
                   round(pow(2, avg(b)), 6) AS perplexity
            FROM bits GROUP BY doc_id
        """,
        # full retrain-and-rescore of the interpolated Kneser-Ney
        # bigram model: discounted bigram mass + continuation
        # redistribution, all from aggregates of the same bigram table
        "lm_perplexity_kn": f"""
            WITH toks AS ({_TOKS_CTE}),
            pairs AS (
              SELECT doc_id,
                     unnest(CASE WHEN len(ts) = 0 THEN []
                            ELSE list_concat(['<s>'],
                                 list_slice(ts, 1, len(ts) - 1)) END) AS prev,
                     unnest(ts) AS token
              FROM toks
            ),
            bg AS (SELECT prev, token, count(*) AS c FROM pairs
                   GROUP BY prev, token),
            ctx AS (SELECT prev, sum(c) AS cc, count(*) AS n1p
                    FROM bg GROUP BY prev),
            cont AS (SELECT token, count(*) AS n1c FROM bg GROUP BY token),
            sca AS (SELECT count(*) AS t, count(DISTINCT token) AS v
                    FROM bg),
            bits AS (
              SELECT p.doc_id,
                     -log2(CASE WHEN coalesce(x.cc, 0) > 0 THEN
                             (greatest(coalesce(b.c, 0) - 0.75, 0.0)
                              + 0.75 * x.n1p
                                * ((coalesce(co.n1c, 0) + 1.0)
                                   / (t + (v + 1))))
                             / x.cc
                           ELSE (coalesce(co.n1c, 0) + 1.0)
                                / (t + (v + 1)) END) AS b
              FROM pairs p
              LEFT JOIN bg b ON p.prev = b.prev AND p.token = b.token
              LEFT JOIN ctx x ON p.prev = x.prev
              LEFT JOIN cont co ON p.token = co.token
              CROSS JOIN sca
            )
            SELECT doc_id, count(*)::BIGINT AS n_tokens,
                   round(avg(b), 6) AS cross_entropy,
                   round(pow(2, avg(b)), 6) AS perplexity
            FROM bits GROUP BY doc_id
        """,
        # both scorers replayed, both global ntile(3) cuts, and the
        # moved flag — the KN-vs-frequency tier disagreement is DATA
        "ppl_buckets_kn": f"""
            WITH toks AS ({_TOKS_CTE}),
            pairs AS (
              SELECT doc_id,
                     unnest(CASE WHEN len(ts) = 0 THEN []
                            ELSE list_concat(['<s>'],
                                 list_slice(ts, 1, len(ts) - 1)) END) AS prev,
                     unnest(ts) AS token
              FROM toks
            ),
            bg AS (SELECT prev, token, count(*) AS c FROM pairs
                   GROUP BY prev, token),
            ctx AS (SELECT prev, sum(c) AS cc, count(*) AS n1p
                    FROM bg GROUP BY prev),
            cont AS (SELECT token, count(*) AS n1c FROM bg GROUP BY token),
            sca AS (SELECT count(*) AS t, count(DISTINCT token) AS v
                    FROM bg),
            knbits AS (
              SELECT p.doc_id,
                     -log2(CASE WHEN coalesce(x.cc, 0) > 0 THEN
                             (greatest(coalesce(b.c, 0) - 0.75, 0.0)
                              + 0.75 * x.n1p
                                * ((coalesce(co.n1c, 0) + 1.0)
                                   / (t + (v + 1))))
                             / x.cc
                           ELSE (coalesce(co.n1c, 0) + 1.0)
                                / (t + (v + 1)) END) AS b
              FROM pairs p
              LEFT JOIN bg b ON p.prev = b.prev AND p.token = b.token
              LEFT JOIN ctx x ON p.prev = x.prev
              LEFT JOIN cont co ON p.token = co.token
              CROSS JOIN sca
            ),
            knce AS (
              SELECT doc_id, count(*)::BIGINT AS n_tokens,
                     round(avg(b), 6) AS cross_entropy,
                     round(pow(2, avg(b)), 6) AS perplexity,
                     ntile(3) OVER (ORDER BY round(avg(b), 6) ASC,
                                    doc_id ASC) AS bucket_kn
              FROM knbits GROUP BY doc_id
            ),
            tok AS (SELECT doc_id, unnest(ts) AS token FROM toks),
            ucnt AS (SELECT token, count(*) AS c FROM tok GROUP BY token),
            utot AS (SELECT sum(c) AS n, count(*) AS v FROM ucnt),
            ubits AS (
              SELECT t.doc_id,
                     -log2((c + 1.0) / (n + (v + 1))) AS b
              FROM tok t JOIN ucnt USING (token), utot
            ),
            uce AS (
              SELECT doc_id,
                     ntile(3) OVER (ORDER BY round(avg(b), 6) ASC,
                                    doc_id ASC) AS bucket_uni
              FROM ubits GROUP BY doc_id
            )
            SELECT k.doc_id, k.n_tokens, k.cross_entropy, k.perplexity,
                   k.bucket_kn, u.bucket_uni,
                   k.bucket_kn <> u.bucket_uni AS moved
            FROM knce k JOIN uce u USING (doc_id)
        """,
        "fingerprint_dups": """
            WITH fp AS (
              SELECT doc_id, fp FROM (
                SELECT doc_id,
                       unnest(list_distinct(
                         [h FOR h IN
                           [CAST('0x' || substr(md5(substr(lower(text), i, 8)),
                                                1, 14) AS BIGINT)
                            FOR i IN range(1, greatest(len(text) - 7, 0) + 1)]
                          IF h % 16 = 0]
                       )) AS fp
                FROM documents
              )
            ),
            kept AS (
              SELECT fp FROM (SELECT fp, count(*) AS df FROM fp GROUP BY fp)
              WHERE df <= 25
            ),
            f AS (SELECT doc_id, fp.fp FROM fp JOIN kept USING (fp))
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   count(*)::BIGINT AS shared_fps
            FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
            HAVING count(*) >= 2
        """,
        "gopher_quality": f"""
            WITH toks AS ({_TOKS_CTE}),
            sig AS (
              SELECT d.doc_id, d.text, t.ts, len(t.ts) AS n,
                     coalesce(list_sum(list_transform(t.ts, x -> len(x))), 0)
                       AS sum_len
              FROM documents d JOIN toks t USING (doc_id)
            ),
            calc AS (
              SELECT doc_id, n::BIGINT AS n_words,
                     round(CASE WHEN n > 0 THEN sum_len::DOUBLE / n
                                ELSE 0 END, 6) AS mean_word_len,
                     round(CASE WHEN n > 0 THEN
                             len(list_filter(ts,
                                 x -> regexp_matches(x, '[a-z]')))::DOUBLE / n
                           ELSE 0 END, 6) AS frac_alpha_words,
                     round(CASE WHEN n > 0 THEN
                             ((len(text) - len(replace(text, '#', '')))
                              + (len(text) - len(replace(text, '...', ''))) / 3
                             )::DOUBLE / n
                           ELSE 0 END, 6) AS symbol_ratio,
                     round(len(list_filter(string_split(text, chr(10)),
                               l -> regexp_matches(l, '^\\s*[-*•]')))::DOUBLE
                           / len(string_split(text, chr(10))), 6)
                       AS bullet_line_frac,
                     len(list_distinct(list_intersect(list_distinct(ts),
                         ['the','be','to','of','and','that','have','with'])
                         ))::BIGINT AS stop_hits
              FROM sig
            )
            SELECT doc_id, n_words, mean_word_len, frac_alpha_words,
                   symbol_ratio, bullet_line_frac, stop_hits,
                   CAST(n_words BETWEEN 50 AND 100000
                        AND mean_word_len BETWEEN 3.0 AND 10.0
                        AND frac_alpha_words >= 0.8
                        AND symbol_ratio < 0.1
                        AND bullet_line_frac < 0.9
                        AND stop_hits >= 2 AS INT) AS gopher_keep
            FROM calc
        """,
        "bm25_topk": f"""
            WITH toks AS ({_TOKS_CTE}),
            dl AS (SELECT doc_id, len(ts) AS dl, ts FROM toks),
            stats AS (SELECT count(*) AS n_docs, avg(dl::DOUBLE) AS avgdl
                      FROM dl),
            m AS (
              SELECT doc_id, dl, t
              FROM (SELECT doc_id, dl, unnest(ts) AS t FROM dl)
              WHERE t IN ('hash', 'merge', 'scan', 'table')
            ),
            tf AS (SELECT doc_id, t, count(*) AS tf, any_value(dl) AS dl
                   FROM m GROUP BY doc_id, t),
            dft AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
            s AS (
              SELECT tf.doc_id,
                     round(sum(ln(1 + (stats.n_docs - dft.df + 0.5)
                                      / (dft.df + 0.5))
                           * (tf.tf * 2.2)
                           / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / stats.avgdl))
                           ), 6) AS score
              FROM tf JOIN dft USING (t) CROSS JOIN stats
              GROUP BY tf.doc_id
            )
            SELECT doc_id, score,
                   row_number() OVER (ORDER BY score DESC, doc_id) AS rank
            FROM s
            QUALIFY rank <= 20
        """,
        # kNN graph = ann_ivf with every vector as query, self excluded
        "knn_graph": """
            WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            ctr AS (SELECT vec_id AS cell, embedding::DOUBLE[] AS cv
                    FROM embeddings WHERE vec_id < 8),
            assign AS (
              SELECT vec_id, v, cell FROM (
                SELECT c.vec_id, c.v, ctr.cell,
                       row_number() OVER (PARTITION BY c.vec_id
                                          ORDER BY list_distance(c.v, ctr.cv),
                                                   ctr.cell) AS rn
                FROM c, ctr) WHERE rn = 1
            ),
            qp AS (
              SELECT vec_id, v, cell FROM (
                SELECT c.vec_id, c.v, ctr.cell,
                       row_number() OVER (PARTITION BY c.vec_id
                                          ORDER BY list_distance(c.v, ctr.cv),
                                                   ctr.cell) AS rn
                FROM c, ctr) WHERE rn <= 4
            ),
            cand AS (
              SELECT q.vec_id AS vec_id_x, a.vec_id AS vec_id_y,
                     round(list_cosine_similarity(q.v, a.v), 6) AS cosine
              FROM qp q JOIN assign a
                ON q.cell = a.cell AND q.vec_id <> a.vec_id
            )
            SELECT vec_id_x, vec_id_y, cosine,
                   row_number() OVER (PARTITION BY vec_id_x
                                      ORDER BY cosine DESC, vec_id_y) AS rank
            FROM cand
            QUALIFY rank <= 3
        """,
        "text_stats": f"""
            WITH toks AS ({_TOKS_CTE})
            SELECT d.doc_id, d.n_chars::BIGINT AS n_chars,
                   len(t.ts)::BIGINT AS n_tokens,
                   len(regexp_extract_all(lower(d.text),
                       '''s|''t|''re|''ve|''m|''ll|''d| ?\\p{{L}}+| ?\\p{{N}}+| ?[^\\s\\p{{L}}\\p{{N}}]+|\\s+'
                   ))::BIGINT AS n_bpe_tokens,
                   md5(d.text) AS fp
            FROM documents d JOIN toks t ON d.doc_id = t.doc_id
        """,
        "pii_redact": r"""
            WITH inj AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 10 = 3 THEN
                            text || ' contact user' || CAST(doc_id AS VARCHAR)
                                 || '@example.com now'
                          WHEN doc_id % 10 = 4 THEN
                            text || ' call +1 555-01' || CAST(doc_id AS VARCHAR)
                                 || ' today'
                          ELSE text END AS t
              FROM documents
            )
            SELECT doc_id,
                   len(regexp_extract_all(t,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT
                     AS n_emails,
                   len(regexp_extract_all(t, '\+?\d[\d\- ]{7,}\d'))::BIGINT
                     AS n_phones,
                   md5(regexp_replace(regexp_replace(t,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                       '[PII]', 'g'),
                       '\+?\d[\d\- ]{7,}\d', '[PII]', 'g')) AS red_fp
            FROM inj
        """,
        "contamination": f"""
            WITH toks AS ({_TOKS_CTE}),
            sh AS (
              SELECT doc_id,
                     list_distinct(CASE WHEN len(ts) < 2 THEN []
                       ELSE [array_to_string(list_slice(ts, i, i+1), ' ')
                             for i in range(1, len(ts))]
                     END) AS s
              FROM toks
            ),
            b AS (SELECT * FROM sh WHERE doc_id % 100 = 7),
            c AS (SELECT * FROM sh WHERE doc_id % 100 <> 7)
            SELECT c.doc_id, b.doc_id AS bench_id,
                   len(list_intersect(c.s, b.s))::BIGINT AS n_shared
            FROM c, b
            WHERE len(list_intersect(c.s, b.s)) >= 3
        """,
        "text_repetition": f"""
            WITH toks AS ({_TOKS_CTE}),
            bg AS (
              SELECT doc_id,
                     CASE WHEN len(ts) < 2 THEN []
                          ELSE [ts[i] || ' ' || ts[i+1] for i in range(1, len(ts))]
                     END AS gs
              FROM toks
            ),
            cnt AS (
              SELECT doc_id, g, count(*) AS c
              FROM (SELECT doc_id, unnest(gs) AS g FROM bg)
              GROUP BY doc_id, g
            ),
            top AS (
              SELECT doc_id, max(c) AS topc, sum(c) AS nbg
              FROM cnt GROUP BY doc_id
            )
            SELECT t.doc_id, len(t.ts)::BIGINT AS n_tokens,
                   round(CASE WHEN len(t.ts) > 0
                              THEN len(list_distinct(t.ts))::DOUBLE / len(t.ts)
                              ELSE 0.0 END, 6) AS distinct_ratio,
                   round(coalesce(top.topc::DOUBLE / top.nbg, 0.0), 6)
                     AS top_bigram_ratio
            FROM toks t LEFT JOIN top ON t.doc_id = top.doc_id
        """,
        "text_quality": _quality_oracle(),
        "text_langid": _langid_oracle(),
        "multimodal_meta": """
            SELECT doc_id AS media_id, 'text/plain' AS media_type,
                   octet_length(encode(text))::BIGINT AS n_bytes
            FROM documents
        """,
        "pack_documents": f"""
            WITH toks AS ({_TOKS_CTE}),
            sized AS (
              SELECT doc_id, len(ts)::BIGINT AS n_tokens,
                     CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                          AS BIGINT) % 8 AS pack_bucket
              FROM toks
            )
            SELECT doc_id, n_tokens, pack_bucket,
                   CAST(floor(coalesce(sum(n_tokens) OVER (
                       PARTITION BY pack_bucket ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                     ), 0) / 2000.0) AS BIGINT) AS pack_id
            FROM sized
        """,
        "top_tokens": f"""
            WITH toks AS ({_TOKS_CTE})
            SELECT token, count(*)::BIGINT AS n
            FROM (SELECT unnest(ts) AS token FROM toks)
            GROUP BY token
            ORDER BY n DESC, token ASC
            LIMIT 50
        """,
        "mixture_sample": """
            WITH n AS (SELECT source, count(*) AS c FROM documents
                       GROUP BY source),
            w AS (SELECT source, c, sqrt(CAST(c AS DOUBLE)) AS wt FROM n),
            t AS (SELECT sum(wt) AS tw FROM w),
            r AS (SELECT source, least(1.0, 200.0 * wt / (tw * c)) AS rate
                  FROM w, t)
            SELECT d.doc_id, d.lang, d.source
            FROM documents d JOIN r USING (source)
            WHERE CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)
                       AS BIGINT) % 1000000
                  < rate * 1000000
        """,
        "q6_forecast": """
            SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
                   count(*)::BIGINT AS n_lines
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
              AND l_discount >= 0.05 AND l_discount <= 0.07
              AND l_quantity < 24
        """,
        "stratified_sample": """
            SELECT doc_id, lang, source
            FROM documents
            WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                       AS BIGINT) % 10000
                  < CASE lang WHEN 'en' THEN 5000
                              WHEN 'de' THEN 2500
                              ELSE 1000 END
        """,
        "embedding_centroids": """
            SELECT label, (i - 1)::INT AS pos,
                   round(avg(v), 6) AS centroid, count(*) AS n
            FROM (SELECT label,
                         unnest(embedding::DOUBLE[]) AS v,
                         generate_subscripts(embedding, 1) AS i
                  FROM embeddings)
            GROUP BY label, i
        """,
        # token windows: stride 12 (= 16 - 4); DuckDB list_slice is
        # 1-based inclusive-end like Spark's slice(start, length)
        "chunk_documents": f"""
            WITH toks AS ({_TOKS_CTE}),
            c AS (
              SELECT doc_id, ts,
                     CASE WHEN len(ts) <= 0 THEN 0
                          ELSE greatest(1,
                            CAST(ceil((len(ts) - 4) / 12.0) AS INT)) END AS nc
              FROM toks
            )
            , e AS (
              SELECT doc_id, ts, CAST(unnest(range(nc)) AS INT) AS chunk_id
              FROM c
            )
            SELECT doc_id, chunk_id,
                   array_to_string(
                     list_slice(ts, chunk_id * 12 + 1, chunk_id * 12 + 16), ' '
                   ) AS chunk_text,
                   len(list_slice(ts, chunk_id * 12 + 1, chunk_id * 12 + 16)
                   ) AS n_tokens
            FROM e
        """,
        "train_split": """
            SELECT doc_id,
                   CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                        AS BIGINT) % 1000 AS bucket,
                   (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                         AS BIGINT) % 1000) < 800 AS is_train
            FROM documents
        """,
        "corpus_clean": """
            WITH scored AS (
              SELECT doc_id, lang, md5(text) AS fp,
                     round(0.3 * (CASE WHEN length(text) BETWEEN 100 AND 20000
                                  THEN 1.0 ELSE 0.0 END)
                         + 0.3 * (CASE WHEN length(text) > 0 THEN
                                  length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE
                                    / length(text) ELSE 0.0 END)
                         + 0.2 * (CASE WHEN
                                  len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')) > 0
                                  AND length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE
                                    / len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> ''))
                                    BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END)
                         + 0.2 * (CASE WHEN regexp_matches(lower(text), '\\b(the|a|of|and|to|in)\\b')
                                  THEN 1.0 ELSE 0.0 END), 4) AS quality,
                     len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> ''))::BIGINT AS n_tokens
              FROM documents
            ), filtered AS (
              SELECT * FROM scored WHERE quality >= 0.8 AND lang = 'en'
            ), deduped AS (
              SELECT * FROM (
                SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
                FROM filtered
              ) WHERE rn = 1
            )
            SELECT doc_id, fp, quality, n_tokens FROM deduped WHERE n_tokens >= 20
        """,
        "cap_per_lang": """
            SELECT doc_id, lang FROM (
              SELECT doc_id, lang,
                     row_number() OVER (PARTITION BY lang
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
              FROM documents
            ) WHERE rn <= 40
        """,
        "price_quantiles": """
            SELECT o_orderpriority,
                   round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
                   round(quantile_cont(o_totalprice, 0.95), 4) AS p95
            FROM orders GROUP BY o_orderpriority
        """,
        "asof_click_view": """
            WITH c AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS c_ts,
                              event_id AS c_id
                       FROM events WHERE event_type = 'click'),
                 v AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS v_ts,
                              event_id AS v_id
                       FROM events WHERE event_type = 'view')
            SELECT c.user_id, c.c_ts, c.c_id, v.v_ts, v.v_id
            FROM c ASOF LEFT JOIN v
              ON c.user_id = v.user_id AND c.c_ts >= v.v_ts
        """,
        "merge_upsert": """
            WITH t AS (SELECT o_orderkey, o_orderstatus, o_totalprice
                       FROM orders WHERE o_orderkey % 5 <> 4),
                 s AS (SELECT o_orderkey, 'UPD' AS o_orderstatus,
                              o_totalprice * 1.1 AS o_totalprice
                       FROM orders WHERE o_orderkey % 2 = 0)
            SELECT coalesce(t.o_orderkey, s.o_orderkey) AS o_orderkey,
                   CASE WHEN s.o_orderkey IS NOT NULL
                        THEN s.o_orderstatus ELSE t.o_orderstatus END
                     AS o_orderstatus,
                   CASE WHEN s.o_orderkey IS NOT NULL
                        THEN s.o_totalprice ELSE t.o_totalprice END
                     AS o_totalprice
            FROM t FULL OUTER JOIN s ON t.o_orderkey = s.o_orderkey
        """,
        "asof_nearest": """
            WITH c AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS c_ts,
                              event_id AS c_id
                       FROM events WHERE event_type = 'click'),
                 v AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS v_ts
                       FROM events WHERE event_type = 'view'),
                 j AS (
                   SELECT c.user_id, c.c_ts, c.c_id, v.v_ts,
                          row_number() OVER (
                            PARTITION BY c.c_id
                            ORDER BY abs(epoch_us(c.c_ts) - epoch_us(v.v_ts))
                                     ASC NULLS LAST,
                                     v.v_ts ASC
                          ) AS rn
                   FROM c LEFT JOIN v ON c.user_id = v.user_id
                 )
            SELECT user_id, c_ts, c_id, v_ts FROM j WHERE rn = 1
        """,
        "overlap_sessions": """
            WITH iv AS (
              SELECT event_id, CAST(ts AS TIMESTAMP) AS start,
                     CAST(ts AS TIMESTAMP)
                       + to_minutes(CAST(floor(value) AS BIGINT)) AS "end"
              FROM events
            ),
            a AS (SELECT event_id AS event_id_x, start AS start_x,
                         "end" AS end_x FROM iv WHERE event_id % 13 = 0),
            b AS (SELECT event_id AS event_id_y, start AS start_y,
                         "end" AS end_y FROM iv WHERE event_id % 13 = 1)
            SELECT a.*, b.* FROM a JOIN b
              ON a.start_x <= b.end_y AND b.start_y <= a.end_x
        """,
        "set_ops": """
            SELECT c_custkey FROM (
              SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
              UNION
              SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
            )
            EXCEPT ALL
            SELECT DISTINCT c_custkey FROM customer WHERE c_acctbal < 0
        """,
        "rollup_orders": """
            SELECT o_orderstatus, o_orderpriority, count(*) AS n,
                   round(sum(o_totalprice), 2) AS total
            FROM orders
            GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        """,
        "pivot_status": """
            SELECT o_orderpriority,
                   count(*) FILTER (o_orderstatus = 'O') AS n_open,
                   count(*) FILTER (o_orderstatus = 'F') AS n_filled,
                   count(*) FILTER (o_orderstatus = 'P') AS n_partial
            FROM orders GROUP BY o_orderpriority
        """,
        "json_extract": """
            SELECT event_id,
                   CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
            FROM events
        """,
        "unpivot_charges": """
            SELECT l_orderkey, l_linenumber, 'l_extendedprice' AS charge_kind,
                   l_extendedprice AS amount FROM lineitem
            UNION ALL
            SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
            FROM lineitem
            UNION ALL
            SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
        """,
        "topk_orders": """
            SELECT o_orderkey, o_totalprice FROM orders
            ORDER BY o_totalprice DESC, o_orderkey LIMIT 100
        """,
        "q1_pricing": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2)
                     AS sum_disc_price,
                   round(avg(l_quantity), 4) AS avg_qty,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "q3_shipping": """
            SELECT l_orderkey,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   o_orderdate, o_orderpriority
            FROM customer, orders, lineitem
            WHERE c_mktsegment = 'BUILDING'
              AND c_custkey = o_custkey AND l_orderkey = o_orderkey
              AND o_orderdate < TIMESTAMP '1997-06-30 00:00:00'
              AND l_shipdate > TIMESTAMP '1997-06-30 00:00:00'
            GROUP BY l_orderkey, o_orderdate, o_orderpriority
            ORDER BY revenue DESC, o_orderdate, l_orderkey
            LIMIT 10
        """,
        "q5_local_supplier": """
            SELECT n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM customer, orders, lineitem, supplier, nation, region
            WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
              AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
              AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
              AND r_name = 'ASIA'
              AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
            GROUP BY n_name
        """,
        "window_topk": """
            SELECT c_nationkey, c_custkey, c_acctbal,
                   row_number() OVER (PARTITION BY c_nationkey
                                      ORDER BY c_acctbal DESC, c_custkey) AS rn
            FROM customer QUALIFY rn <= 3
        """,
        "sessionize": """
            WITH g AS (
              SELECT user_id,
                     CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
                            - lag(epoch_us(CAST(ts AS TIMESTAMP)))
                              OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id)
                            > 30 * 60 * 1000000 THEN 1 ELSE 0 END AS is_new
              FROM events
            )
            SELECT user_id, (sum(is_new) + 1)::BIGINT AS n_sessions
            FROM g GROUP BY user_id
        """,
        "semi_join": """
            SELECT o.* FROM orders o WHERE EXISTS (
              SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 49)
        """,
        "anti_join": """
            SELECT c.* FROM customer c WHERE NOT EXISTS (
              SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                AND o.o_orderpriority = '1-URGENT')
        """,
        # SCD2: change-log -> validity intervals.  lag detects version
        # boundaries (null-safe via IS DISTINCT FROM, = eqNullSafe),
        # lead closes the half-open interval; ties broken by event_id
        # exactly as the Spark order_cols
        # paragraph dedup: the oracle rebuilds the synthetic 3-paragraph
        # docs and replays first-occurrence (min (sid, pos)) semantics
        "dedup_paragraphs": """
            WITH n AS (SELECT count(*) AS n FROM documents),
            synth AS (
              SELECT a.doc_id AS sid,
                     a.text || chr(10)||chr(10) || b.text
                            || chr(10)||chr(10) || c.text AS text
              FROM documents a, documents b, documents c, n
              WHERE b.doc_id = (a.doc_id + 1) % n.n
                AND c.doc_id = (a.doc_id + 2) % n.n
            ),
            ps AS (
              SELECT sid, string_split_regex(text, '\\n\\n+') AS arr
              FROM synth
            ),
            px AS (
              SELECT sid, unnest(generate_series(1, len(arr))) AS pos, arr
              FROM ps
            ),
            p2 AS (
              SELECT sid, pos, arr[pos] AS para FROM px WHERE arr[pos] <> ''
            ),
            k AS (
              SELECT sid, pos, para,
                     row_number() OVER (PARTITION BY para
                                        ORDER BY sid, pos) AS rn
              FROM p2
            )
            SELECT sid,
                   coalesce(string_agg(para, chr(10)||chr(10) ORDER BY pos)
                              FILTER (WHERE rn = 1), '') AS text_deduped,
                   count(*) AS n_paragraphs,
                   count(*) FILTER (WHERE rn = 1) AS n_kept
            FROM k GROUP BY sid
        """,
        # same synth corpus (doc || ' ' || successor); the oracle runs
        # the shingle join on RAW 20-gram strings (no hashing) and the
        # same gaps-and-islands merge — engine-independent exact spans
        "dedup_substrings": """
            WITH n AS (SELECT count(*) AS n FROM documents),
            synth AS (
              SELECT a.doc_id AS sid, a.text || ' ' || b.text AS text
              FROM documents a, documents b, n
              WHERE b.doc_id = (a.doc_id + 1) % n.n
            ),
            t AS (
              SELECT sid,
                     list_filter(string_split_regex(text, '\\s+'),
                                 x -> x <> '') AS arr
              FROM synth
            ),
            s AS (
              SELECT sid,
                     unnest(generate_series(1, greatest(len(arr) - 19, 0)))
                       AS i,
                     arr
              FROM t
            ),
            sh AS (
              SELECT sid, i - 1 AS pos,
                     array_to_string(arr[i:i+19], ' ') AS sh
              FROM s
            ),
            p AS (
              SELECT a.sid AS da, a.pos AS pa, b.sid AS db, b.pos AS pb
              FROM sh a JOIN sh b ON a.sh = b.sh
              WHERE a.sid < b.sid OR (a.sid = b.sid AND a.pos < b.pos)
            ),
            g AS (
              SELECT da, db, pb - pa AS delta, pa,
                     pa - row_number() OVER (PARTITION BY da, db, pb - pa
                                             ORDER BY pa) AS isl
              FROM p
            )
            SELECT da AS doc_a, db AS doc_b, min(pa) AS a_start,
                   min(pa) + delta AS b_start, count(*) + 19 AS n_tokens
            FROM g GROUP BY da, db, delta, isl
        """,
        # cross-corpus variant: benchmark = tokens 11..40 of every
        # 25th doc; raw-shingle join, no self-ordering predicate
        "contamination_spans": """
            WITH t AS (
              SELECT doc_id,
                     list_filter(string_split_regex(text, '\\s+'),
                                 x -> x <> '') AS arr
              FROM documents
            ),
            bench AS (
              SELECT doc_id AS bench_id, arr[11:40] AS barr
              FROM t WHERE doc_id % 25 = 0
            ),
            sa AS (
              SELECT doc_id,
                     unnest(generate_series(1, greatest(len(arr) - 12, 0)))
                       AS i, arr
              FROM t
            ),
            sha AS (
              SELECT doc_id, i - 1 AS pos,
                     array_to_string(arr[i:i+12], ' ') AS sh
              FROM sa
            ),
            sb AS (
              SELECT bench_id,
                     unnest(generate_series(1, greatest(len(barr) - 12, 0)))
                       AS i, barr
              FROM bench
            ),
            shb AS (
              SELECT bench_id, i - 1 AS pos,
                     array_to_string(barr[i:i+12], ' ') AS sh
              FROM sb
            ),
            p AS (
              SELECT a.doc_id AS da, a.pos AS pa,
                     b.bench_id AS db, b.pos AS pb
              FROM sha a JOIN shb b ON a.sh = b.sh
            ),
            g AS (
              SELECT da, db, pb - pa AS delta, pa,
                     pa - row_number() OVER (PARTITION BY da, db, pb - pa
                                             ORDER BY pa) AS isl
              FROM p
            )
            SELECT da AS doc_a, db AS doc_b, min(pa) AS a_start,
                   min(pa) + delta AS b_start, count(*) + 12 AS n_tokens
            FROM g GROUP BY da, db, delta, isl
        """,
        # composed decontamination: containment (13-gram, lower/alnum
        # tokenize) and span evidence (whitespace tokens, islands
        # merge) replayed independently, left-joined like the Spark
        # side with 0 sentinels for missing span evidence
        "decontam_composed": """
            WITH t AS (
              SELECT doc_id,
                     list_filter(string_split_regex(text, '\\s+'),
                                 x -> x <> '') AS arr
              FROM documents
            ),
            bench AS (
              SELECT doc_id AS bench_id, arr[11:40] AS barr,
                     array_to_string(arr[11:40], ' ') AS btext
              FROM t WHERE doc_id % 25 = 0
            ),
            qt AS (
              SELECT bench_id,
                     list_filter(string_split_regex(lower(btext),
                                                    '[^a-z0-9]+'),
                                 x -> x <> '') AS ts
              FROM bench
            ),
            qs AS (
              SELECT bench_id,
                     list_distinct(CASE WHEN len(ts) < 13 THEN [] ELSE
                       [array_to_string(list_slice(ts, i, i+12), ' ')
                        for i in range(1, len(ts)-11)] END) AS s
              FROM qt
            ),
            ct AS (
              SELECT doc_id, list_filter(
                       string_split_regex(lower(text), '[^a-z0-9]+'),
                       x -> x <> '') AS ts
              FROM documents
            ),
            cs AS (
              SELECT doc_id,
                     list_distinct(CASE WHEN len(ts) < 13 THEN [] ELSE
                       [array_to_string(list_slice(ts, i, i+12), ' ')
                        for i in range(1, len(ts)-11)] END) AS s
              FROM ct
            ),
            cont AS (
              SELECT q.bench_id, c.doc_id,
                     round(len(list_intersect(q.s, c.s))::DOUBLE
                           / len(q.s), 6) AS containment
              FROM qs q, cs c
              WHERE len(q.s) > 0
            ),
            hits AS (
              SELECT * FROM cont WHERE containment >= 0.9
            ),
            sa AS (
              SELECT doc_id,
                     unnest(generate_series(1, greatest(len(arr) - 12, 0)))
                       AS i, arr
              FROM t
            ),
            sha AS (
              SELECT doc_id, i - 1 AS pos,
                     array_to_string(arr[i:i+12], ' ') AS sh
              FROM sa
            ),
            sb AS (
              SELECT bench_id,
                     unnest(generate_series(1, greatest(len(barr) - 12, 0)))
                       AS i, barr
              FROM bench
            ),
            shb AS (
              SELECT bench_id, i - 1 AS pos,
                     array_to_string(barr[i:i+12], ' ') AS sh
              FROM sb
            ),
            p AS (
              SELECT a.doc_id AS da, a.pos AS pa,
                     b.bench_id AS db, b.pos AS pb
              FROM sha a JOIN shb b ON a.sh = b.sh
            ),
            g AS (
              SELECT da, db, pb - pa AS delta, pa,
                     pa - row_number() OVER (PARTITION BY da, db, pb - pa
                                             ORDER BY pa) AS isl
              FROM p
            ),
            islands AS (
              SELECT da, db, count(*) + 12 AS n_tokens
              FROM g GROUP BY da, db, delta, isl
            ),
            ev AS (
              SELECT da, db, count(*) AS n_spans,
                     max(n_tokens) AS max_span_tokens
              FROM islands GROUP BY da, db
            )
            SELECT h.bench_id, h.doc_id, h.containment,
                   CAST(coalesce(e.n_spans, 0) AS BIGINT) AS n_spans,
                   CAST(coalesce(e.max_span_tokens, 0) AS BIGINT)
                     AS max_span_tokens
            FROM hits h LEFT JOIN ev e
              ON e.db = h.bench_id AND e.da = h.doc_id
            ORDER BY h.bench_id, h.doc_id
        """,
        # integer weight sums (bucket/weight arithmetic all int64) make
        # the score exact in both engines before the one float sigmoid
        "embed_project": _embed_project_oracle(),
        # A-ES sampling replayed exactly: same md5 uniform, same
        # Gumbel-form micro-unit key ln(w) - ln(-ln(u)) (identical op
        # order), same (key desc, id asc) top-120 cut
        "weighted_sample": """
            WITH t AS (
              SELECT doc_id, lang, source, n_chars,
                     CAST(round(
                       (ln(n_chars::DOUBLE)
                        - ln(-ln((CAST('0x' ||
                                substr(md5(CAST(doc_id AS VARCHAR)),
                                       1, 8) AS BIGINT)::DOUBLE + 0.5)
                               / 4294967296.0))) * 1000000.0
                     ) AS BIGINT) AS k
              FROM documents WHERE n_chars > 0
            )
            SELECT doc_id, lang, source, n_chars FROM t
            ORDER BY k DESC, doc_id ASC LIMIT 120
        """,
        # topic tagging replayed exactly: same tokens, same per-topic
        # hit counts, same sorted-topic CSV projection
        "tag_topics": f"""
            WITH toks AS ({_TOKS_CTE}),
            c AS (
              SELECT doc_id,
                len(list_filter(ts, t -> list_contains(
                  ['hash','join','merge'], t))) AS joins,
                len(list_filter(ts, t -> list_contains(
                  ['column','part','row','table'], t))) AS layout,
                len(list_filter(ts, t -> list_contains(
                  ['batch','filter','scan'], t))) AS scan_io,
                len(list_filter(ts, t -> list_contains(
                  ['fast','slow'], t))) AS speed
              FROM toks
            )
            SELECT doc_id,
                   array_to_string(list_filter([
                     CASE WHEN joins > 0 THEN 'joins:' || joins END,
                     CASE WHEN layout > 0 THEN 'layout:' || layout END,
                     CASE WHEN scan_io > 0 THEN 'scan_io:' || scan_io END,
                     CASE WHEN speed > 0 THEN 'speed:' || speed END
                   ], x -> x IS NOT NULL), ',') AS topics,
                   ((joins > 0)::INT + (layout > 0)::INT
                    + (scan_io > 0)::INT + (speed > 0)::INT)::BIGINT
                     AS n_topics
            FROM c
        """,
        # tf-idf keywords replayed exactly: same tf/df tables, same
        # integer micro-unit idf snap, same (score desc, term) rank
        "keywords_tfidf": f"""
            WITH toks AS ({_TOKS_CTE}),
            tok AS (SELECT doc_id, unnest(ts) AS term FROM toks),
            tf AS (SELECT doc_id, term, count(*) AS tf
                   FROM tok GROUP BY 1, 2),
            n AS (SELECT count(DISTINCT doc_id) AS n FROM tf),
            idf AS (
              SELECT term,
                     CAST(round(1e6 * ln(
                       ((SELECT n FROM n) + 1)::DOUBLE / (count(*) + 1)
                     )) AS BIGINT) AS idf_micro
              FROM tf GROUP BY term
            ),
            s AS (
              SELECT tf.doc_id, tf.term, tf.tf,
                     tf.tf * idf.idf_micro AS score_micro,
                     row_number() OVER (
                       PARTITION BY tf.doc_id
                       ORDER BY tf.tf * idf.idf_micro DESC, tf.term ASC
                     ) AS rank
              FROM tf JOIN idf USING (term)
            )
            SELECT doc_id, term, tf, score_micro, rank
            FROM s WHERE rank <= 3
        """,
        # token budget replayed exactly: same token counts, same
        # md5-order running sum, same per-language cut
        "token_budget": """
            WITH t AS (
              SELECT doc_id, lang, source,
                     len(list_filter(string_split_regex(lower(text),
                                                        '[^a-z0-9]+'),
                                     t -> t <> '')) AS n_tok
              FROM documents
            ),
            c AS (
              SELECT doc_id, lang, source,
                     sum(n_tok) OVER (
                       PARTITION BY lang
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS cum
              FROM t
            )
            SELECT doc_id, lang, source FROM c
            WHERE cum <= CASE lang WHEN 'en' THEN 3000
                                   WHEN 'de' THEN 1500 ELSE cum END
        """,
        # funnel replayed exactly: same first-failure CASE labeling
        # (NULL predicate = fail), same per-rule counts, same
        # cumulative n_in arithmetic over the rule order
        "filter_funnel": """
            WITH lab AS (
              SELECT CASE
                WHEN NOT coalesce(n_chars >= 150, FALSE) THEN 'too_short'
                WHEN NOT coalesce(n_chars <= 2000, FALSE) THEN 'too_long'
                WHEN NOT coalesce(lang = 'en', FALSE) THEN 'non_english'
                WHEN NOT coalesce(
                  len(list_filter(string_split_regex(lower(text),
                                                     '[^a-z0-9]+'),
                                  t -> t <> '')) >= 30, FALSE)
                  THEN 'too_few_tokens'
                ELSE 'kept' END AS reason
              FROM documents
            ),
            c AS (SELECT reason, count(*) AS cnt FROM lab GROUP BY 1),
            r AS (SELECT * FROM (VALUES (0, 'too_short'), (1, 'too_long'),
                                        (2, 'non_english'),
                                        (3, 'too_few_tokens'))
                  AS v(stage, rule)),
            j AS (
              SELECT stage, rule, coalesce(c.cnt, 0) AS n_dropped
              FROM r LEFT JOIN c ON c.reason = r.rule
            ),
            k AS (
              -- sum() over BIGINT is HUGEINT in DuckDB -> float64 via
              -- the pandas conversion path; cast every derived count
              -- back to BIGINT so canonicalization matches Spark's
              SELECT stage, rule, n_dropped,
                     CAST((SELECT coalesce(sum(cnt), 0) FROM c)
                       - coalesce(sum(n_dropped) OVER (
                           ORDER BY stage
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING), 0) AS BIGINT)
                       AS n_in
              FROM j
            )
            SELECT stage, rule, n_in, n_dropped,
                   CAST(n_in - n_dropped AS BIGINT) AS n_out
            FROM k
            ORDER BY stage
        """,
        # DSIR replayed exactly: same tokenization, same uni+bigram
        # features, same md5 bucket, same add-one integer-ratio ln
        # snapped to micro-units per bucket, same integer score sums,
        # same (score desc, doc_id asc) top-100 cut
        "dsir_select": f"""
            WITH toks AS ({_TOKS_CTE}),
            feats AS (
              SELECT doc_id,
                     ts || (CASE WHEN len(ts) < 2 THEN []
                            ELSE [array_to_string(list_slice(ts, i, i+1), ' ')
                                  for i in range(1, len(ts))] END) AS fs
              FROM toks
            ),
            fb AS (
              SELECT doc_id,
                     CAST('0x' || substr(md5(f), 1, 8) AS BIGINT) % 1024
                       AS bucket
              FROM feats, unnest(fs) AS u(f)
            ),
            t AS (
              SELECT bucket, count(*) AS t_cnt
              FROM fb JOIN documents USING (doc_id)
              WHERE lang = 'en' GROUP BY 1
            ),
            r AS (SELECT bucket, count(*) AS r_cnt FROM fb GROUP BY 1),
            w AS (
              SELECT coalesce(t.bucket, r.bucket) AS bucket,
                     CAST(round(1e6 * ln(
                       ((coalesce(t_cnt, 0) + 1)::DOUBLE
                         * ((SELECT coalesce(sum(r_cnt), 0) FROM r)
                            + 1024)::DOUBLE)
                       / ((coalesce(r_cnt, 0) + 1)::DOUBLE
                         * ((SELECT coalesce(sum(t_cnt), 0) FROM t)
                            + 1024)::DOUBLE)
                     )) AS BIGINT) AS w_micro
              FROM t FULL OUTER JOIN r ON t.bucket = r.bucket
            ),
            s AS (
              -- sum(BIGINT) is HUGEINT in DuckDB, which the pandas
              -- conversion path turns into float64 ("450.0" vs "450"
              -- after canonicalization) — cast back to BIGINT so the
              -- harness sees the same integer the Spark side emits
              SELECT fb.doc_id,
                     CAST(sum(w.w_micro) AS BIGINT) AS score_micro
              FROM fb JOIN w USING (bucket) GROUP BY 1
            ),
            s2 AS (
              SELECT d.doc_id, coalesce(s.score_micro, 0) AS score_micro
              FROM documents d LEFT JOIN s USING (doc_id)
            ),
            top AS (
              SELECT doc_id, score_micro FROM s2
              ORDER BY score_micro DESC, doc_id ASC LIMIT 100
            )
            SELECT d.doc_id, d.lang, d.source, top.score_micro
            FROM documents d JOIN top USING (doc_id)
            ORDER BY top.score_micro DESC, d.doc_id ASC
        """,
        "quality_classifier": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text),
                                                    '[^a-z0-9]+'),
                                 t -> t <> '') AS ts
              FROM documents
            ),
            tok AS (SELECT doc_id, unnest(ts) AS token FROM toks),
            w AS (
              SELECT doc_id,
                     (CAST('0x' || substr(md5(token), 1, 8) AS BIGINT)
                      % 4096 * 2654435761 + 13) % 10007 AS wn
              FROM tok
            ),
            agg AS (
              SELECT doc_id, count(*) AS n, sum(wn) AS s
              FROM w GROUP BY doc_id
            )
            SELECT d.doc_id,
                   coalesce(n, 0)::BIGINT AS n_tokens,
                   CASE WHEN n > 0 THEN
                     round(1.0 / (1.0 + exp(-8.0 * (s / (10007.0 * n)
                                                    - 0.5))), 6)
                   END AS quality,
                   CASE WHEN n > 0 THEN
                     round(1.0 / (1.0 + exp(-8.0 * (s / (10007.0 * n)
                                                    - 0.5))), 6) >= 0.5
                   END AS keep
            FROM documents d LEFT JOIN agg USING (doc_id)
        """,
        # same dirtying replayed in SQL; DuckDB's own nfc_normalize is
        # the independent UCD implementation the pandas-UDF NFC must
        # agree with bit-for-bit
        "unicode_clean": """
            WITH noisy AS (
              SELECT doc_id,
                     chr(7) || regexp_replace(text, 'a',
                                              'a' || chr(769), 'g')
                            || '  ' AS t
              FROM documents
            ),
            cleaned AS (
              SELECT doc_id,
                     trim(regexp_replace(
                       nfc_normalize(regexp_replace(
                         t,
                         '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]',
                         '', 'g')),
                       '\\s+', ' ', 'g')) AS text_clean
              FROM noisy
            )
            SELECT doc_id, text_clean,
                   length(text_clean)::BIGINT AS n_chars_clean
            FROM cleaned
        """,
        # noise + canonical form both replayed in closed form; min /
        # min_by replicate dedup_exact's deterministic keeper
        "wet_extract": """
            SELECT doc_id,
                   0::BIGINT AS record_index,
                   'conversion' AS record_type,
                   'http://wet.test/' || CAST(doc_id AS VARCHAR)
                     AS target_uri,
                   NULL::INTEGER AS http_status,
                   NULL::VARCHAR AS http_content_type,
                   text AS body_text,
                   strlen(text)::BIGINT AS n_body_bytes,
                   TRUE AS ok
            FROM documents
        """,
        "url_dedup": """
            WITH u AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 2 = 0 THEN 'HTTP://SITE'
                          ELSE 'http://site' END
                       || CAST((doc_id % 100) % 7 AS VARCHAR)
                       || CASE WHEN doc_id % 2 = 0 THEN '.EXAMPLE'
                               ELSE '.example' END
                       || CASE WHEN (doc_id % 100) % 3 = 0 THEN '.co.uk'
                               ELSE '.com' END
                       || CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE '' END
                       || '/p/' || CAST(doc_id % 100 AS VARCHAR)
                       || CASE WHEN doc_id % 4 = 0
                               THEN '?utm_source=x&utm_medium=y#frag'
                               WHEN doc_id % 3 = 0 THEN '#frag2'
                               ELSE '' END AS url,
                     'http://site' || CAST((doc_id % 100) % 7 AS VARCHAR)
                       || '.example.'
                       || CASE WHEN (doc_id % 100) % 3 = 0 THEN 'co.uk'
                               ELSE 'com' END
                       || '/p/' || CAST(doc_id % 100 AS VARCHAR) AS url_norm
              FROM documents
            )
            SELECT min(doc_id) AS doc_id, min_by(url, doc_id) AS url,
                   url_norm
            FROM u GROUP BY url_norm
        """,
        # terminator planting + the lookaround-free piece regex are
        # replayed verbatim; positions via generate_series
        "sentence_chunks": """
            WITH punct AS (
              SELECT doc_id,
                     regexp_replace(
                       regexp_replace(text, '\\btable\\b', 'table.', 'g'),
                       '\\bvalue\\b', 'value!', 'g') AS t
              FROM documents
            ),
            pieces AS (
              SELECT doc_id,
                     list_filter(
                       list_transform(
                         regexp_extract_all(t, '[^.!?]+[.!?]*'),
                         p -> trim(p)),
                       p -> p <> '') AS ss
              FROM punct
            )
            SELECT doc_id,
                   unnest(generate_series(1, len(ss))) - 1 AS sent_idx,
                   ss[unnest(generate_series(1, len(ss)))] AS sentence
            FROM pieces
        """,
        # page synthesis + first-occurrence list filter replayed with
        # DuckDB list lambdas (list_position is 1-based in BOTH
        # engines; Spark's filter lambda index is 0-based, DuckDB's
        # 1-based — the oracle compares = i, the operator = i + 1)
        "line_dedup": """
            WITH page AS (
              SELECT doc_id,
                     'nav bar home about' || chr(10) ||
                     substr(text, 1, 60) || chr(10) ||
                     'nav bar home about' || chr(10) ||
                     substr(text, 61, 60) || chr(10) ||
                     'nav bar home about' || chr(10) ||
                     'copyright footer' || chr(10) ||
                     'copyright footer' AS t
              FROM documents
            ),
            arrs AS (
              SELECT doc_id,
                     list_filter(string_split_regex(t, '\\n+'),
                                 x -> x <> '') AS arr
              FROM page
            ),
            kept AS (
              SELECT doc_id, arr,
                     list_filter(arr,
                                 (x, i) -> list_position(arr, x) = i) AS k
              FROM arrs
            )
            SELECT doc_id,
                   array_to_string(k, chr(10)) AS text_deduped,
                   len(arr)::BIGINT AS n_lines,
                   len(k)::BIGINT AS n_kept
            FROM kept
        """,
        # cross-corpus per-source boilerplate: document frequencies by
        # (source, line) over DISTINCT (doc, line) pairs, then the
        # per-scope removal replayed as a list_filter against the
        # scope's boilerplate list.  concat_ws skips NULLs in BOTH
        # engines, so the CASE line vanishes identically on odd ids.
        "boilerplate_lines": """
            WITH page AS (
              SELECT doc_id, source,
                     concat_ws(chr(10),
                       'promo banner ' || source,
                       substr(text, 1, 80),
                       CASE WHEN doc_id % 2 = 0
                            THEN 'even docs note' END,
                       'pair tag ' || (doc_id // 2),
                       'locale ' || lang) AS t
              FROM documents
            ),
            arrs AS (
              SELECT doc_id, source,
                     list_filter(string_split_regex(t, '\\n+'),
                                 x -> x <> '') AS arr
              FROM page
            ),
            lines AS (
              SELECT DISTINCT doc_id, source, line
              FROM (SELECT doc_id, source, unnest(arr) AS line
                    FROM arrs)
            ),
            bp AS (
              SELECT source, line
              FROM (SELECT source, line, count(*) AS df
                    FROM lines GROUP BY source, line)
              WHERE df >= 3
            ),
            bparr AS (
              SELECT source, list(line) AS bpl FROM bp GROUP BY source
            ),
            applied AS (
              SELECT a.doc_id, a.source, a.arr,
                     CASE WHEN b.bpl IS NULL THEN a.arr
                          ELSE list_filter(
                                 a.arr,
                                 x -> NOT list_contains(b.bpl, x))
                     END AS kept
              FROM arrs a LEFT JOIN bparr b USING (source)
            )
            SELECT doc_id, source,
                   array_to_string(kept, chr(10)) AS text_clean,
                   len(arr)::BIGINT AS n_lines,
                   len(kept)::BIGINT AS n_kept
            FROM applied
        """,
        # real-codec round trip: Spark decodes the packed P6 bytes; the
        # oracle recomputes dims + per-channel sums from the generator's
        # closed form (byte i = (seed + 7i) % 256; channel c takes
        # i = 3j + c).  Integer sums -> bit-exact across engines.
        # domain derivation AND the cap's md5-order window replayed in
        # closed form
        "cap_per_domain": """
            WITH d AS (
              SELECT doc_id,
                     'site' || (doc_id % 17) ||
                     CASE WHEN doc_id % 3 = 0 THEN '.co.uk'
                          ELSE '.com' END AS domain
              FROM documents
            ),
            r AS (
              SELECT doc_id, domain,
                     row_number() OVER (
                       PARTITION BY domain
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                     ) AS rn
              FROM d
            )
            SELECT doc_id, domain FROM r WHERE rn <= 10
        """,
        # every output string rebuilt in closed form from the same
        # doc_id expressions the Spark query uses to SYNTHESIZE the
        # noisy input URL
        "url_normalize": """
            WITH p AS (
              SELECT doc_id,
                     doc_id % 2 = 0 AS even,
                     doc_id % 3 = 0 AS uk,
                     doc_id % 4 = 0 AS tracked,
                     CAST(doc_id % 7 AS VARCHAR) AS k
              FROM documents
            ),
            b AS (
              SELECT doc_id, even, tracked,
                     CASE WHEN even THEN 'www.site' ELSE 'sub.site' END
                       || k ||
                     CASE WHEN uk THEN '.example.co.uk'
                          ELSE '.example.com' END AS host,
                     CASE WHEN even THEN 'http' ELSE 'https' END AS scheme,
                     CASE WHEN uk THEN 'example.co.uk'
                          ELSE 'example.com' END AS domain,
                     CASE WHEN even THEN 'HTTP://WWW.Site'
                          ELSE 'https://sub.site' END
                       || k ||
                     CASE WHEN uk THEN '.Example.CO.UK'
                          ELSE '.Example.COM' END
                       || CASE WHEN even THEN ':80' ELSE ':443' END
                       || '/p/' || doc_id
                       || CASE WHEN tracked
                               THEN '?utm_source=x&b=2&a=1#frag'
                               ELSE '' END AS url
              FROM p
            )
            SELECT doc_id, url,
                   scheme || '://' || host || '/p/' || doc_id
                     || CASE WHEN tracked THEN '?a=1&b=2' ELSE '' END
                     AS url_norm,
                   host, domain
            FROM b
        """,
        # body of record j = 'd{id} r{j} ' repeated 1 + (id+j) % 4
        # times; gzip-vs-plain container choice must be invisible
        "warc_extract": """
            WITH p AS (
              SELECT doc_id, 1 + doc_id % 3 AS nr FROM documents
            ),
            r AS (
              SELECT doc_id, unnest(generate_series(0, nr - 1)) AS j
              FROM p
            ),
            b AS (
              SELECT doc_id, CAST(j AS INTEGER) AS record_index,
                     repeat('d' || doc_id || ' r' || j || ' ',
                            CAST(1 + (doc_id + j) % 4 AS INTEGER))
                       AS body_text
              FROM r
            )
            SELECT doc_id, record_index,
                   'response' AS record_type,
                   'http://ex.test/' || doc_id || '/' || record_index
                     AS target_uri,
                   CAST(200 AS INTEGER) AS http_status,
                   'text/plain' AS http_content_type,
                   body_text,
                   CAST(length(body_text) AS BIGINT) AS n_body_bytes,
                   TRUE AS ok
            FROM b
        """,
        # closed form of _q_warc_files' writer: 8 shards x 15 records,
        # record i -> uri files.test/<i:04d>, body 'f<i> ' x (1+i%5),
        # plus ONE all-NULL ok=false row for the corrupt shard
        # mixed-script fixture replay: same literal-codepoint regex
        # ranges, both engines count codepoints; alphabetical tie-break
        "mojibake_clean": _mojibake_oracle(),
        "script_detect": """
            WITH t AS (
              SELECT doc_id,
                     repeat('the quick ', CAST(doc_id % 3 + 1 AS INT)) ||
                     repeat('漢字', CAST(doc_id % 4 AS INT)) ||
                     repeat('слово ', CAST(doc_id % 5 AS INT)) ||
                     repeat('한글', CAST(doc_id % 3 AS INT)) ||
                     repeat('عرب', CAST(doc_id % 2 AS INT)) AS s
              FROM documents
            ),
            c AS (
              SELECT doc_id,
                 CAST(length(s) - length(regexp_replace(s, '[؀-ۿ]', '', 'g')) AS BIGINT) AS n_arabic,
                 CAST(length(s) - length(regexp_replace(s, '[Ѐ-ӿ]', '', 'g')) AS BIGINT) AS n_cyrillic,
                 CAST(length(s) - length(regexp_replace(s, '[ऀ-ॿ]', '', 'g')) AS BIGINT) AS n_devanagari,
                 CAST(length(s) - length(regexp_replace(s, '[Ͱ-Ͽ]', '', 'g')) AS BIGINT) AS n_greek,
                 CAST(length(s) - length(regexp_replace(s, '[一-鿿]', '', 'g')) AS BIGINT) AS n_han,
                 CAST(length(s) - length(regexp_replace(s, '[가-힯]', '', 'g')) AS BIGINT) AS n_hangul,
                 CAST(length(s) - length(regexp_replace(s, '[぀-ヿ]', '', 'g')) AS BIGINT) AS n_kana,
                 CAST(length(s) - length(regexp_replace(s, '[A-Za-z]', '', 'g')) AS BIGINT) AS n_latin
              FROM t
            ),
            g AS (
              SELECT *, greatest(n_arabic, n_cyrillic, n_devanagari,
                                 n_greek, n_han, n_hangul, n_kana,
                                 n_latin) AS best
              FROM c
            )
            SELECT doc_id, n_arabic, n_cyrillic, n_devanagari, n_greek,
                   n_han, n_hangul, n_kana, n_latin,
                   CASE WHEN best = 0 THEN 'none'
                    WHEN n_arabic = best THEN 'arabic'
                    WHEN n_cyrillic = best THEN 'cyrillic'
                    WHEN n_devanagari = best THEN 'devanagari'
                    WHEN n_greek = best THEN 'greek'
                    WHEN n_han = best THEN 'han'
                    WHEN n_hangul = best THEN 'hangul'
                    WHEN n_kana = best THEN 'kana'
                    WHEN n_latin = best THEN 'latin'
                   END AS script
            FROM g ORDER BY doc_id
        """,
        # the same two regex line-break passes + residue-planted hazard
        # lines, then every C4 rule replayed with DuckDB list lambdas
        "c4_filters": """
            WITH pages AS (
              SELECT doc_id,
                     regexp_replace(
                       regexp_replace(text, '\\btable\\b',
                                      'table.' || chr(10), 'g'),
                       '\\bvalue\\b', 'value?' || chr(10), 'g')
                     || CASE WHEN doc_id % 7 = 0 THEN chr(10) ||
                          'please enable javascript to view this page.'
                          ELSE '' END
                     || CASE WHEN doc_id % 11 = 0 THEN chr(10) ||
                          'lorem ipsum dolor sit amet sample.'
                          ELSE '' END
                     || CASE WHEN doc_id % 13 = 0 THEN chr(10) ||
                          'config { enabled } block here.'
                          ELSE '' END
                     || CASE WHEN doc_id % 17 = 0 THEN chr(10) ||
                          'this page contains verboten content here.'
                          ELSE '' END AS page
              FROM documents
            ),
            kept AS (
              SELECT doc_id, page,
                     len(string_split(page, chr(10))) AS n_total,
                     list_transform(
                       list_filter(string_split(page, chr(10)), l ->
                         regexp_matches(trim(l), '[.!?"]$')
                         AND len(list_filter(
                               regexp_split_to_array(trim(l), '\\s+'),
                               w -> w <> '')) >= 5
                         AND NOT contains(lower(l), 'javascript')),
                       l -> trim(l)) AS kl
              FROM pages
            ),
            agg AS (
              SELECT doc_id, page, n_total,
                     -- array_to_string([]) is NULL in DuckDB; Spark
                     -- array_join gives '' — coalesce to match
                     COALESCE(array_to_string(kl, chr(10)), '') AS text_c4,
                     len(kl) AS n_kept
              FROM kept
            ),
            scored AS (
              SELECT doc_id, text_c4,
                     CAST(n_kept AS BIGINT) AS n_lines_kept,
                     CAST(n_total - n_kept AS BIGINT) AS n_lines_dropped,
                     CAST(length(text_c4) -
                          length(regexp_replace(text_c4, '[.!?]', '', 'g'))
                          AS BIGINT) AS n_sentences,
                     CASE
                       WHEN contains(lower(page), 'lorem ipsum')
                         THEN 'lorem_ipsum'
                       WHEN contains(page, '{') THEN 'curly_brace'
                       WHEN regexp_matches(lower(page), '\\b(verboten)\\b')
                         THEN 'bad_words'
                       WHEN length(text_c4) -
                            length(regexp_replace(text_c4, '[.!?]', '', 'g'))
                            < 3
                         THEN 'too_few_sentences'
                       ELSE NULL
                     END AS c4_drop_reason
              FROM agg
            )
            SELECT doc_id, text_c4, n_lines_kept, n_lines_dropped,
                   n_sentences,
                   (c4_drop_reason IS NULL) AS c4_keep, c4_drop_reason
            FROM scored
        """,
        # exact integer moments -> covariance -> 30 unrolled power
        # steps -> sign pick -> integer projection, all replayed
        "embed_pc1": _pc1_oracle(64, 30),
        # the oracle aggregates the parquet the ORC was written from;
        # any writer/reader corruption shows up as value drift
        "orc_roundtrip": """
            SELECT o_orderstatus,
                   COUNT(*)::BIGINT AS n,
                   SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                     ::BIGINT AS sum_cents,
                   SUM(CASE WHEN o_orderkey % 30 = 0 THEN 1 ELSE 0 END)
                     ::BIGINT AS n_prio,
                   MIN(o_orderkey) AS min_key,
                   MAX(o_orderkey) AS max_key
            FROM orders
            WHERE o_orderkey % 10 = 0 AND o_custkey > 0
            GROUP BY o_orderstatus
        """,
        # shingling replayed with list comprehensions; even docs are
        # the reference so their novelty must be exactly 0
        "ngram_novelty": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text),
                                                    '[^a-z0-9]+'),
                                 t -> t <> '') AS ts
              FROM documents
            ),
            sh AS (
              SELECT doc_id,
                     list_distinct(CASE WHEN len(ts) < 3 THEN [] ELSE
                       [array_to_string(list_slice(ts, i, i+2), ' ')
                        for i in range(1, len(ts)-1)]
                     END) AS s
              FROM toks
            ),
            ref AS (
              SELECT DISTINCT unnest(s) AS sh_str
              FROM sh WHERE doc_id % 2 = 0
            ),
            dsh AS (
              SELECT doc_id, unnest(s) AS sh_str FROM sh
            ),
            j AS (
              SELECT d.doc_id, (r.sh_str IS NOT NULL) AS seen
              FROM dsh d LEFT JOIN ref r USING (sh_str)
            )
            SELECT doc_id,
                   COUNT(*)::BIGINT AS n_shingles,
                   SUM(CASE WHEN seen THEN 0 ELSE 1 END)::BIGINT
                     AS n_novel,
                   round(SUM(CASE WHEN seen THEN 0 ELSE 1 END) * 1.0 /
                         COUNT(*), 9) AS novelty_rate
            FROM j GROUP BY doc_id
        """,
        # string-shingle brute-force truth + the full portable md5 LSH
        # chain (signatures, band hashes, collision pairs) replayed
        "minhash_eval": _minhash_eval_oracle(0.6),
        "minhash_eval_sampled": _minhash_eval_oracle(0.6, sample_frac=0.5),
        "benford_audit": _benford_oracle(),
        "xml_roundtrip": """
            WITH g AS (
              SELECT source, text FROM documents
              UNION ALL
              SELECT 'plantedsrc' AS source, 'planted text' AS text
            )
            SELECT source,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(len(text)) AS BIGINT) AS sum_len,
                   md5(string_agg(md5(text), '|' ORDER BY md5(text)))
                     AS content_md5,
                   CAST(3 AS BIGINT) AS n_bad
            FROM g GROUP BY source
        """,
        "bitext_mine": """
            WITH l AS (
              SELECT doc_id,
                     text || ' sec ' || CAST(doc_id % 7 AS VARCHAR)
                          || ' of ' || CAST(doc_id % 120 + 1900 AS VARCHAR)
                       AS t
              FROM documents
            ),
            r AS (
              SELECT doc_id + 500000 AS rid,
                     CASE WHEN doc_id % 5 = 0 THEN
                       substr('tr: ' || reverse(text)
                              || ' sec ' || CAST(doc_id % 7 AS VARCHAR)
                              || ' of ' || CAST(doc_id % 120 + 1900 AS VARCHAR),
                              1, 40)
                       || ' sec ' || CAST(doc_id % 7 AS VARCHAR)
                       || ' of ' || CAST(doc_id % 120 + 1900 AS VARCHAR)
                     ELSE 'tr: ' || reverse(text)
                       || ' sec ' || CAST(doc_id % 7 AS VARCHAR)
                       || ' of ' || CAST(doc_id % 120 + 1900 AS VARCHAR)
                     END AS t
              FROM documents
            ),
            lf AS (
              SELECT doc_id, length(t)::BIGINT AS llen,
                     list_filter(string_split(
                       regexp_replace(t, '[^0-9]+', ' ', 'g'), ' '),
                       x -> x <> '') AS runs
              FROM l
            ),
            rf AS (
              SELECT rid, length(t)::BIGINT AS rlen,
                     list_filter(string_split(
                       regexp_replace(t, '[^0-9]+', ' ', 'g'), ' '),
                       x -> x <> '') AS runs
              FROM r
            )
            SELECT lf.doc_id, rf.rid,
                   CAST(len(lf.runs) AS BIGINT) AS n_runs,
                   round(CAST(greatest(llen, rlen) AS DOUBLE)
                         / CAST(least(llen, rlen) AS DOUBLE), 6)
                     AS len_ratio
            FROM lf JOIN rf
              ON array_to_string(lf.runs, ',')
                 = array_to_string(rf.runs, ',')
            WHERE len(lf.runs) >= 2 AND len(rf.runs) >= 2
              AND least(llen, rlen) > 0
              AND CAST(greatest(llen, rlen) AS DOUBLE)
                  / CAST(least(llen, rlen) AS DOUBLE) <= 2.0
        """,
        "record_linkage": """
            WITH c3 AS (
              SELECT c_custkey, c_name FROM customer
              WHERE c_custkey % 3 = 0
            ),
            r AS (
              SELECT c_custkey AS rid,
                     CASE WHEN c_custkey % 9 = 0 THEN
                            substr(c_name, 1, 9) || substr(c_name, 11)
                          WHEN c_custkey % 9 = 3 THEN
                            replace(c_name, '#', '@')
                          ELSE c_name END AS rname
              FROM c3
            )
            SELECT l.c_custkey, r.rid,
                   CAST(levenshtein(l.c_name, r.rname) AS INT) AS dist
            FROM c3 l, r
            WHERE levenshtein(l.c_name, r.rname) <= 1
        """,
        "trimmed_stats": """
            WITH base AS (
              SELECT event_type AS grp,
                     CAST(round(value * 1048576) AS BIGINT) AS v
              FROM events WHERE value IS NOT NULL
            ),
            ranked AS (
              SELECT grp, v,
                     row_number() OVER (PARTITION BY grp ORDER BY v)
                       AS rk,
                     count(*) OVER (PARTITION BY grp) AS n
              FROM base
            ),
            tt AS (
              SELECT *, CASE WHEN n > 2 * floor(n * 0.1)
                             THEN CAST(floor(n * 0.1) AS BIGINT)
                             ELSE 0 END AS t
              FROM ranked
            ),
            agg AS (
              SELECT grp, max(n)::BIGINT AS n,
                     (2 * max(t))::BIGINT AS n_trimmed,
                     sum(CASE WHEN rk > t AND rk <= n - t
                              THEN CAST(v AS HUGEINT) END) AS s_kept,
                     count(CASE WHEN rk > t AND rk <= n - t
                                THEN 1 END)::BIGINT AS n_kept,
                     max(CASE WHEN rk = t + 1 THEN v END) AS lo,
                     max(CASE WHEN rk = n - t THEN v END) AS hi,
                     max(t) AS tmax
              FROM tt GROUP BY grp
            )
            SELECT grp AS "group", n, n_trimmed,
                   round(CAST(s_kept AS DOUBLE)
                         / CAST(n_kept * 1048576 AS DOUBLE), 9)
                     AS trimmed_mean,
                   round(CAST(s_kept + CAST(tmax * lo AS HUGEINT)
                              + CAST(tmax * hi AS HUGEINT) AS DOUBLE)
                         / CAST(n * 1048576 AS DOUBLE), 9)
                     AS winsor_mean
            FROM agg
        """,
        "fair_share": """
            WITH g AS (
              SELECT user_id % 50 AS grp, count(*)::BIGINT AS d
              FROM events WHERE user_id IS NOT NULL GROUP BY 1
            ),
            tot AS (SELECT sum(d)::BIGINT AS t,
                           count(*)::BIGINT AS n FROM g),
            b AS (SELECT (t * 6) // 10 AS bud FROM tot),
            ranked AS (
              SELECT grp, d,
                     row_number() OVER (ORDER BY d, grp) AS rn,
                     sum(CAST(d AS HUGEINT)) OVER
                       (ORDER BY d, grp ROWS UNBOUNDED PRECEDING)
                       AS pfx,
                     (SELECT n FROM tot) AS n
              FROM g
            ),
            sat AS (
              SELECT *, CAST(d AS HUGEINT) * (n - rn + 1)
                        + (pfx - d) <= (SELECT bud FROM b) AS is_sat
              FROM ranked
            ),
            lv AS (
              SELECT coalesce(max(rn) FILTER (is_sat), 0) AS rs,
                     coalesce(max(pfx) FILTER (is_sat), 0) AS ps
              FROM sat
            )
            SELECT grp AS "group", d AS demand,
                   CASE WHEN is_sat THEN CAST(d AS DOUBLE)
                        ELSE round(greatest(
                          (CAST((SELECT bud FROM b) AS DOUBLE)
                           - CAST((SELECT ps FROM lv) AS DOUBLE))
                          / CAST(n - (SELECT rs FROM lv) AS DOUBLE),
                          0.0), 9) END AS alloc
            FROM sat
        """,
        "winnow_fingerprints": f"""
            WITH norm AS (
              SELECT doc_id,
                     regexp_replace(lower(coalesce(text, '')),
                                    '[^a-z0-9]', '', 'g') AS s
              FROM documents
            ),
            -- base-128 gram encoding, the exact integer twin of
            -- functions/text.py winnow_fingerprint_table (k=8)
            h AS (
              SELECT doc_id,
                     CASE WHEN length(s) - 7 < 1 THEN []
                          ELSE [CAST({_WINNOW_ENC} AS BIGINT)
                                for i in range(1, length(s) - 6)] END AS hs
              FROM norm
            ),
            sel AS (
              SELECT doc_id, hs,
                     CASE WHEN len(hs) < 4 THEN []
                          ELSE [
                            struct_pack(
                              h := list_min(list_slice(hs, j, j + 3)),
                              p := CAST(j + 4 - list_position(
                                     list_reverse(list_slice(hs, j, j + 3)),
                                     list_min(list_slice(hs, j, j + 3)))
                                   AS BIGINT))
                            for j in range(1, len(hs) - 2)] END AS fps
              FROM h
            ),
            -- list_distinct on STRUCT lists is unimplemented in
            -- DuckDB: dedup + (h, p) ordering via unnest/DISTINCT/
            -- ordered string_agg instead
            flat AS (
              SELECT s.doc_id, u.f.h AS fh, u.f.p AS fp
              FROM sel s, unnest(s.fps) AS u(f)
            ),
            ded AS (SELECT DISTINCT doc_id, fh, fp FROM flat),
            agg AS (
              SELECT doc_id, count(*)::BIGINT AS n_fp,
                     md5(string_agg(CAST(fh AS VARCHAR) || ':' ||
                                    CAST(fp AS VARCHAR), ','
                                    ORDER BY fh, fp)) AS fp_digest
              FROM ded GROUP BY doc_id
            )
            SELECT h.doc_id,
                   CAST(len(h.hs) AS BIGINT) AS n_grams,
                   coalesce(a.n_fp, 0)::BIGINT AS n_fp,
                   coalesce(a.fp_digest, md5('')) AS fp_digest
            FROM h LEFT JOIN agg a USING (doc_id)
        """,
        # k=12 long-gram winnowing: the double-Horner polynomial hash
        # replayed in exact integer arithmetic (all intermediates
        # non-negative, % == pmod), then the same rightmost-tie window
        # selection as winnow_fingerprints at w=5
        "winnow_long_grams": f"""
            WITH norm AS (
              SELECT doc_id,
                     regexp_replace(lower(coalesce(text, '')),
                                    '[^a-z0-9]', '', 'g') AS s
              FROM documents
            ),
            h AS (
              SELECT doc_id,
                     CASE WHEN length(s) - 11 < 1 THEN []
                          ELSE [CAST({_winnow_horner_sql(12)} AS BIGINT)
                                for i in range(1, length(s) - 10)]
                          END AS hs
              FROM norm
            ),
            sel AS (
              SELECT doc_id, hs,
                     CASE WHEN len(hs) < 5 THEN []
                          ELSE [
                            struct_pack(
                              h := list_min(list_slice(hs, j, j + 4)),
                              p := CAST(j + 5 - list_position(
                                     list_reverse(list_slice(hs, j, j + 4)),
                                     list_min(list_slice(hs, j, j + 4)))
                                   AS BIGINT))
                            for j in range(1, len(hs) - 3)] END AS fps
              FROM h
            ),
            flat AS (
              SELECT s.doc_id, u.f.h AS fh, u.f.p AS fp
              FROM sel s, unnest(s.fps) AS u(f)
            ),
            ded AS (SELECT DISTINCT doc_id, fh, fp FROM flat),
            agg AS (
              SELECT doc_id, count(*)::BIGINT AS n_fp,
                     md5(string_agg(CAST(fh AS VARCHAR) || ':' ||
                                    CAST(fp AS VARCHAR), ','
                                    ORDER BY fh, fp)) AS fp_digest
              FROM ded GROUP BY doc_id
            )
            SELECT h.doc_id,
                   CAST(len(h.hs) AS BIGINT) AS n_grams,
                   coalesce(a.n_fp, 0)::BIGINT AS n_fp,
                   coalesce(a.fp_digest, md5('')) AS fp_digest
            FROM h LEFT JOIN agg a USING (doc_id)
        """,
        # log2 bucket (exact at powers of two), row_number batching
        # and the padding aggregate all replayed
        "length_batches": """
            WITH sized AS (
              SELECT doc_id,
                     CAST(len(list_filter(
                       regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                       t -> t <> '')) AS BIGINT) AS n_tokens
              FROM documents
            ),
            bucketed AS (
              SELECT doc_id, n_tokens,
                     CAST(greatest(ceil(log2(greatest(
                       CAST(n_tokens AS DOUBLE), 1.0))), 5) AS BIGINT)
                       AS len_bucket
              FROM sized
            ),
            batched AS (
              SELECT *,
                     CAST(floor((ROW_NUMBER() OVER (
                       PARTITION BY len_bucket ORDER BY doc_id) - 1)
                       / 32.0) AS BIGINT) AS batch_id
              FROM bucketed
            )
            SELECT len_bucket, batch_id,
                   COUNT(*)::BIGINT AS n_docs,
                   MAX(n_tokens) AS max_tokens,
                   SUM(n_tokens)::BIGINT AS sum_tokens,
                   round(1.0 - SUM(n_tokens) * 1.0 /
                         (COUNT(*) * MAX(n_tokens)), 9)
                     AS padding_frac
            FROM batched GROUP BY len_bucket, batch_id
        """,
        # both row_number windows replayed with identical tie orders
        "interleave_sources": """
            WITH ranked AS (
              SELECT doc_id, source,
                     CAST(ROW_NUMBER() OVER
                       (PARTITION BY source ORDER BY doc_id) - 1
                       AS BIGINT) AS source_rank
              FROM documents
            )
            SELECT doc_id, source, source_rank,
                   CAST(ROW_NUMBER() OVER
                     (ORDER BY source_rank, source NULLS FIRST) - 1
                     AS BIGINT) AS order_idx
            FROM ranked
        """,
        # every regex + the &amp; decode replayed; the planted second
        # title pins first-match-wins
        "page_meta": """
            WITH pages AS (
              SELECT doc_id,
                     array_to_string(list_slice(
                       string_split(text, ' '), 1, 4), ' ') AS title0,
                     CASE doc_id % 6
                       WHEN 0 THEN
                         '<meta name="robots" content="noindex">'
                       WHEN 1 THEN
                         '<meta name=''robots'' content=''nofollow''>'
                       WHEN 2 THEN
                         '<meta name="robots" ' ||
                         'content="noindex, nofollow">'
                       WHEN 3 THEN
                         '<meta name="robots" content="all">'
                       ELSE '' END AS rmeta,
                     CASE WHEN doc_id % 4 = 0 THEN
                       '<link rel="canonical" href="http://c.example/p'
                       || CAST(doc_id % 7 AS VARCHAR) || '">'
                     ELSE '' END AS clink
              FROM documents
            ),
            built AS (
              SELECT doc_id,
                     '<html><head><title> ' || title0 || ' </title>' ||
                     rmeta || clink ||
                     '<title>ignored second title</title></head>'
                       AS html,
                     '<urlset><url><loc> http://s.example/a' ||
                       CAST(doc_id % 5 AS VARCHAR) ||
                       '?x=1&amp;y=2 </loc></url>' ||
                     CASE WHEN doc_id % 3 > 0 THEN
                       '<url><loc>http://s.example/b' ||
                       CAST(doc_id % 11 AS VARCHAR) || '</loc></url>'
                     ELSE '' END || '</urlset>' AS sitemap
              FROM pages
            ),
            ext AS (
              SELECT doc_id,
                     trim(regexp_replace(regexp_extract(html,
                       '(?is)<title\\b[^>]*>([^<]*)</title', 1),
                       '\\s+', ' ', 'g')) AS title,
                     regexp_extract(html,
                       '(?is)<link\\b[^>]*?rel\\s*=\\s*["'']canonical' ||
                       '["''][^>]*?href\\s*=\\s*["'']([^"'']*)["'']',
                       1) AS canonical,
                     lower(regexp_extract(html,
                       '(?is)<meta\\b[^>]*?name\\s*=\\s*["'']robots' ||
                       '["''][^>]*?content\\s*=\\s*["'']([^"'']*)["'']',
                       1)) AS robots,
                     list_transform(
                       regexp_extract_all(sitemap,
                         '(?is)<loc\\s*>\\s*([^<]*?)\\s*</loc\\s*>', 1),
                       u -> replace(u, '&amp;', '&')) AS locs
              FROM built
            )
            SELECT doc_id, title, canonical,
                   contains(robots, 'noindex') AS noindex,
                   contains(robots, 'nofollow') AS nofollow,
                   CAST(len(locs) AS BIGINT) AS n_sitemap_urls,
                   locs[1] AS first_loc
            FROM ext
        """,
        # md5 bucket + exclusive-cumsum pack id + ordered lists +
        # per-index offset sums, all replayed
        "emit_packs": """
            WITH toks AS (
              SELECT doc_id,
                     CAST(len(list_filter(
                       regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                       t -> t <> '')) AS BIGINT) AS n_tokens
              FROM documents
            ),
            assigned AS (
              SELECT doc_id, n_tokens,
                     CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                         1, 8) AS BIGINT) % 8
                       AS pack_bucket
              FROM toks
            ),
            packed AS (
              SELECT doc_id, n_tokens, pack_bucket,
                     CAST(floor(COALESCE(SUM(n_tokens) OVER (
                         PARTITION BY pack_bucket ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING), 0) / 2000.0) AS BIGINT)
                       AS pack_id
              FROM assigned
            ),
            g AS (
              SELECT pack_bucket, pack_id,
                     list(doc_id ORDER BY doc_id) AS doc_ids,
                     list(n_tokens ORDER BY doc_id) AS sizes
              FROM packed GROUP BY pack_bucket, pack_id
            )
            SELECT pack_bucket, pack_id,
                   CAST(len(doc_ids) AS BIGINT) AS n_docs,
                   COALESCE(array_to_string(doc_ids, ','), '') AS doc_ids_csv,
                   COALESCE(array_to_string(sizes, ','), '') AS sizes_csv,
                   COALESCE(array_to_string(
                     [CAST(COALESCE(list_sum(list_slice(sizes, 1, i - 1)),
                                    0) AS BIGINT)
                      for i in range(1, len(sizes) + 1)], ','), '')
                     AS offsets_csv,
                   CAST(list_sum(sizes) AS BIGINT) AS total_tokens,
                   round(list_sum(sizes) / 2000.0, 9) AS fill
            FROM g
        """,
        # the whole pipeline replayed: ordinal line explode, lag +
        # running-sum group recovery, agent precedence, max(struct)
        # longest-match with allow-beats-disallow tie order
        "robots_gate": """
            WITH hosts AS (
              SELECT DISTINCT
                     'site' || CAST(doc_id % 50 AS VARCHAR) ||
                       '.example' AS host,
                     '# policy' || chr(10) ||
                     'User-agent: *' || chr(10) ||
                     'Disallow: /private' || chr(10) ||
                     'Allow: /private/ok' || chr(10) ||
                     'Disallow: /*.zip$' || chr(10) ||
                     'Allow: /files/ok*.zip$' || chr(10) ||
                     'Disallow: /tmp' ||
                       CAST((doc_id % 50) % 3 AS VARCHAR) ||
                     CASE WHEN (doc_id % 50) % 2 = 0 THEN
                       chr(10) || chr(10) ||
                       'User-agent: specialbot' || chr(10) ||
                       'Disallow: /'
                     ELSE '' END AS robots
              FROM documents
            ),
            lines AS (
              SELECT host,
                     unnest(list_transform(
                       string_split(robots, chr(10)),
                       (x, i) -> struct_pack(idx := i, raw := x))) AS e
              FROM hosts
            ),
            tagged AS (
              SELECT host, e.idx AS idx,
                     trim(regexp_replace(e.raw, '#.*', '')) AS c
              FROM lines
            ),
            cls AS (
              SELECT host, idx,
                     regexp_matches(c, '(?i)^user-agent\\s*:') AS ia,
                     lower(trim(regexp_extract(c,
                       '(?i)^user-agent\\s*:\\s*(.*)$', 1))) AS agent,
                     CASE WHEN regexp_matches(c, '(?i)^allow\\s*:')
                            THEN 'allow'
                          WHEN regexp_matches(c, '(?i)^disallow\\s*:')
                            THEN 'disallow' END AS rule,
                     trim(regexp_extract(c,
                       '(?i)^(dis)?allow\\s*:\\s*(.*)$', 2)) AS path
              FROM tagged
            ),
            lagged AS (
              SELECT *,
                     CASE WHEN ia AND NOT COALESCE(
                            LAG(ia) OVER (PARTITION BY host
                                          ORDER BY idx), FALSE)
                          THEN 1 ELSE 0 END AS ng
              FROM cls
            ),
            grp AS (
              SELECT *,
                     SUM(ng) OVER (PARTITION BY host ORDER BY idx
                                   ROWS UNBOUNDED PRECEDING) AS gid
              FROM lagged
            ),
            agents AS (
              SELECT host, gid, agent FROM grp
              WHERE ia AND agent <> ''
            ),
            rles AS (
              SELECT host, gid, rule, path FROM grp
              WHERE rule IS NOT NULL AND path <> ''
            ),
            rules AS (
              SELECT a.host, a.agent, r.rule, r.path
              FROM agents a JOIN rles r USING (host, gid)
            ),
            star AS (SELECT * FROM rules WHERE agent = '*'),
            urls AS (
              SELECT doc_id,
                     'site' || CAST(doc_id % 50 AS VARCHAR) ||
                       '.example' AS host,
                     CASE doc_id % 8
                       WHEN 0 THEN '/private/x'
                       WHEN 1 THEN '/private/ok/page'
                       WHEN 2 THEN '/public/y'
                       WHEN 3 THEN '/tmp' ||
                         CAST(doc_id % 3 AS VARCHAR) || '/z'
                       WHEN 5 THEN '/files/d.zip'
                       WHEN 6 THEN '/files/d.zipx'
                       WHEN 7 THEN '/files/okay.zip'
                       ELSE '' END AS path
              FROM documents
            ),
            u AS (
              SELECT doc_id, host,
                     'http://' || host || path AS url,
                     CASE WHEN path = '' THEN '/' ELSE path END AS up
              FROM urls
            ),
            starx AS (
              -- rule pattern -> RE2, same rewrite as robots_filter:
              -- strip trailing '$' (anchor), escape metachars incl.
              -- '*', then the escaped star becomes '.*'
              SELECT *,
                     ends_with(path, '$') AS anch,
                     '^' || replace(
                       regexp_replace(
                         CASE WHEN ends_with(path, '$')
                              THEN substr(path, 1, length(path) - 1)
                              ELSE path END,
                         '([.^$+?(){}\\[\\]|\\\\*])', '\\\\\\1', 'g'),
                       '\\*', '.*')
                       || CASE WHEN ends_with(path, '$')
                               THEN '$' ELSE '' END AS rx
              FROM star
            ),
            matched AS (
              SELECT u.doc_id, u.url,
                     MAX(struct_pack(
                       l := length(s.path),
                       a := CASE WHEN s.rule = 'allow'
                                 THEN 1 ELSE 0 END,
                       p := s.path)) AS w
              FROM u JOIN starx s ON u.host = s.host
                AND regexp_matches(u.up, s.rx)
              GROUP BY u.doc_id, u.url
            )
            SELECT u.doc_id, u.url,
                   COALESCE(m.w.a = 1, TRUE) AS allowed,
                   m.w.p AS rule_path
            FROM u LEFT JOIN matched m
              ON u.doc_id = m.doc_id AND u.url = m.url
        """,
        # rank = (count desc, token asc) row_number + running-sum
        # window, both replayed; same planted-tail fixture as vocab_oov
        "vocab_coverage": """
            WITH aug AS (
              SELECT text || ' tok' || CAST(doc_id % 37 AS VARCHAR)
                       AS t2
              FROM documents
            ),
            toks AS (
              SELECT unnest(list_filter(
                       regexp_split_to_array(lower(t2), '[^a-z0-9]+'),
                       t -> t <> '')) AS tok
              FROM aug
            ),
            counts AS (
              SELECT tok, COUNT(*)::BIGINT AS n_occurrences
              FROM toks GROUP BY tok
            ),
            ranked AS (
              SELECT ROW_NUMBER() OVER
                       (ORDER BY n_occurrences DESC, tok ASC)
                       ::BIGINT AS rank,
                     tok AS token, n_occurrences,
                     SUM(n_occurrences) OVER
                       (ORDER BY n_occurrences DESC, tok ASC
                        ROWS UNBOUNDED PRECEDING) AS cum_occurrences
              FROM counts
            )
            SELECT rank, token, n_occurrences,
                   CAST(cum_occurrences AS BIGINT) AS cum_occurrences,
                   round(cum_occurrences * 1.0 /
                         (SELECT SUM(n_occurrences) FROM counts), 9)
                     AS coverage
            FROM ranked
        """,
        # tokenize, vocab CTE, membership join and per-doc counts all
        # replayed; planted tok<residue> gives the closed-form OOV
        "vocab_oov": """
            WITH aug AS (
              SELECT doc_id,
                     text || ' tok' || CAST(doc_id % 37 AS VARCHAR)
                       AS t2
              FROM documents
            ),
            toks AS (
              SELECT doc_id,
                     unnest(list_filter(
                       regexp_split_to_array(lower(t2), '[^a-z0-9]+'),
                       t -> t <> '')) AS tok
              FROM aug
            ),
            vocab AS (
              SELECT DISTINCT tok FROM toks WHERE doc_id < 30
            ),
            j AS (
              SELECT t.doc_id, (v.tok IS NOT NULL) AS inv
              FROM toks t LEFT JOIN vocab v USING (tok)
            )
            SELECT doc_id,
                   COUNT(*)::BIGINT AS n_tokens,
                   SUM(CASE WHEN inv THEN 0 ELSE 1 END)::BIGINT AS n_oov,
                   round(SUM(CASE WHEN inv THEN 0 ELSE 1 END) * 1.0 /
                         COUNT(*), 9) AS oov_rate
            FROM j GROUP BY doc_id
        """,
        # hist_bin replayed as a list_filter count; eps-floored
        # fractions and the ln term recomputed per (feature, bin)
        "corpus_drift": """
            WITH binned AS (
              SELECT 'n_chars' AS feature,
                     len(list_filter([100.0, 200.0, 300.0, 400.0],
                         b -> CAST(n_chars AS DOUBLE) > b)) AS bin,
                     CASE WHEN doc_id % 2 = 0 THEN 'ref' ELSE 'cur' END
                       AS side
              FROM documents
              UNION ALL
              SELECT 'n_tokens' AS feature,
                     len(list_filter([20.0, 40.0, 60.0, 80.0],
                         b -> CAST(len(list_filter(
                                regexp_split_to_array(lower(text),
                                                      '[^a-z0-9]+'),
                                t -> t <> '')) AS DOUBLE) > b)) AS bin,
                     CASE WHEN doc_id % 2 = 0 THEN 'ref' ELSE 'cur' END
                       AS side
              FROM documents
            ),
            counts AS (
              SELECT feature, CAST(bin AS BIGINT) AS bin,
                     sum(CASE WHEN side = 'ref' THEN 1 ELSE 0 END)
                       ::BIGINT AS n_ref,
                     sum(CASE WHEN side = 'cur' THEN 1 ELSE 0 END)
                       ::BIGINT AS n_cur
              FROM binned GROUP BY 1, 2
            ),
            tot AS (
              SELECT *,
                     sum(n_ref) OVER (PARTITION BY feature) AS t_ref,
                     sum(n_cur) OVER (PARTITION BY feature) AS t_cur
              FROM counts
            )
            SELECT feature, bin, n_ref, n_cur,
                   round(greatest(n_ref / t_ref, 1e-6), 9) AS p_ref,
                   round(greatest(n_cur / t_cur, 1e-6), 9) AS p_cur,
                   round((greatest(n_cur / t_cur, 1e-6) -
                          greatest(n_ref / t_ref, 1e-6)) *
                         ln(greatest(n_cur / t_cur, 1e-6) /
                            greatest(n_ref / t_ref, 1e-6)), 9)
                     AS psi_term
            FROM tot
        """,
        # extraction regex, scheme filter, resolution CASE and the
        # registrable-domain pick all replayed over the same pages
        "html_links": """
            WITH pages AS (
              SELECT doc_id,
                     'www.site' || CAST(doc_id % 50 AS VARCHAR) ||
                       '.example' AS auth,
                     '<html><body><p>' || text ||
                     '</p><a href="http://shop.brand' ||
                       CAST(doc_id % 6 AS VARCHAR) ||
                       '.co.uk/p.html">x</a>' ||
                     '<A HREF=''/a' || CAST(doc_id % 3 AS VARCHAR) ||
                       '.html''>y</A>' ||
                     '<a class="z" href="rel' ||
                       CAST(doc_id % 4 AS VARCHAR) || '.html">z</a>' ||
                     '<a href="//cdn' || CAST(doc_id % 5 AS VARCHAR) ||
                       '.example/c.js">c</a>' ||
                     CASE WHEN doc_id % 2 = 0 THEN
                       '<a href="javascript:void(0)">j</a>'
                       ELSE '' END ||
                     '<a href="#top">t</a></body></html>' AS html
              FROM documents
            ),
            hrefs AS (
              SELECT doc_id, auth,
                     list_filter(
                       list_transform(
                         regexp_extract_all(html,
                           '(?is)<a\\b[^>]*?href\\s*=\\s*["'']([^"'']*)["'']',
                           1),
                         u -> trim(u)),
                       t -> t <> '' AND NOT regexp_matches(t,
                         '(?i)^(javascript:|mailto:|tel:|data:|#)'))
                       AS hs
              FROM pages
            ),
            exploded AS (
              SELECT doc_id, auth,
                     unnest(list_transform(hs,
                       (t, i) -> struct_pack(idx := i - 1, t := t))) AS e
              FROM hrefs
            ),
            edges AS (
              SELECT doc_id,
                     CAST(e.idx AS BIGINT) AS link_idx,
                     CASE
                       WHEN regexp_matches(e.t,
                                           '(?i)^[a-z][a-z0-9+.-]*:')
                         THEN e.t
                       WHEN starts_with(e.t, '//')
                         THEN 'http:' || e.t
                       WHEN starts_with(e.t, '/')
                         THEN 'http://' || auth || e.t
                       ELSE 'http://' || auth || '/dir/' || e.t
                     END AS link_url
              FROM exploded
            ),
            hosts AS (
              SELECT doc_id, link_idx, link_url,
                     string_split(
                       lower(regexp_extract(link_url,
                         '^[a-z][a-z0-9+.-]*://([^/]*)', 1)),
                       '.') AS labels
              FROM edges
            )
            SELECT doc_id, link_idx, link_url,
                   CASE
                     WHEN len(labels) <= 2
                       THEN array_to_string(labels, '.')
                     WHEN labels[-2] || '.' || labels[-1] = 'co.uk'
                       THEN labels[-3] || '.' || labels[-2] || '.' ||
                            labels[-1]
                     ELSE labels[-2] || '.' || labels[-1]
                   END AS link_domain
            FROM hosts
        """,
        "warc_files": """
            WITH ids AS (
              SELECT CAST(i AS BIGINT) AS i FROM range(0, 120) t(i)
            ),
            good AS (
              SELECT CAST(i % 15 AS INTEGER) AS record_index,
                     'response' AS record_type,
                     'http://files.test/' || lpad(CAST(i AS VARCHAR), 4, '0')
                       AS target_uri,
                     CAST(200 AS INTEGER) AS http_status,
                     'text/plain' AS http_content_type,
                     repeat('f' || i || ' ', CAST(1 + i % 5 AS INTEGER))
                       AS body_text,
                     TRUE AS ok
              FROM ids
            )
            SELECT record_index, record_type, target_uri, http_status,
                   http_content_type, body_text,
                   CAST(length(body_text) AS BIGINT) AS n_body_bytes, ok
            FROM good
            UNION ALL
            SELECT CAST(-1 AS INTEGER), NULL, NULL, CAST(-1 AS INTEGER),
                   NULL, NULL, CAST(-1 AS BIGINT), FALSE
        """,
        # decoded pixel (x,y) = (seed + 17*((y//8)*bx + x//8)) % 256,
        # bx = ceil(w/8); edge blocks contribute partial pixel counts
        "multimodal_jpeg": """
            WITH p AS (
              SELECT doc_id,
                     CAST(9 + doc_id % 10 AS INTEGER) AS w,
                     CAST(8 + doc_id % 9 AS INTEGER) AS h,
                     doc_id % 211 AS seed
              FROM documents
            ),
            g AS (
              SELECT doc_id, w, h, seed,
                     (w + 7) // 8 AS bx, (h + 7) // 8 AS by
              FROM p
            ),
            blk AS (
              SELECT doc_id, w, h, seed, bx,
                     unnest(generate_series(0, bx * by - 1)) AS bi
              FROM g
            ),
            s AS (
              SELECT doc_id, w, h,
                     ((seed + 17 * bi) % 256)
                       * least(8, w - (bi % bx) * 8)
                       * least(8, h - (bi // bx) * 8) AS contrib
              FROM blk
            )
            SELECT doc_id, w AS decoded_width, h AS decoded_height,
                   'jpeg' AS decoded_format,
                   CAST(sum(contrib) AS BIGINT) AS sum_r,
                   CAST(sum(contrib) AS BIGINT) AS sum_g,
                   CAST(sum(contrib) AS BIGINT) AS sum_b,
                   TRUE AS ok
            FROM s GROUP BY doc_id, w, h
        """,
        "multimodal_png": """
            WITH p AS (
              SELECT doc_id,
                     CAST(4 + doc_id % 9 AS INTEGER) AS w,
                     CAST(5 + doc_id % 7 AS INTEGER) AS h,
                     doc_id % 241 AS seed
              FROM documents
            )
            SELECT doc_id,
                   w AS decoded_width,
                   h AS decoded_height,
                   'png' AS decoded_format,
                   CAST(list_sum([(seed + 21*j) % 256
                                  for j in range(0, w*h)]) AS BIGINT) AS sum_r,
                   CAST(list_sum([(seed + 7 + 21*j) % 256
                                  for j in range(0, w*h)]) AS BIGINT) AS sum_g,
                   CAST(list_sum([(seed + 14 + 21*j) % 256
                                  for j in range(0, w*h)]) AS BIGINT) AS sum_b,
                   TRUE AS ok
            FROM p
        """,
        # every SAMPLED frame (even f < n_frames) recomputed from the
        # animation packer's closed form — lossless LZW + palette
        "multimodal_gif_frames": """
            WITH p AS (
              SELECT doc_id,
                     2 + doc_id % 4 AS nf,
                     CAST(4 + doc_id % 5 AS INTEGER) AS w,
                     CAST(3 + doc_id % 4 AS INTEGER) AS h,
                     doc_id % 241 AS seed
              FROM documents
            ),
            f AS (
              SELECT doc_id, w, h, seed,
                     unnest(generate_series(0, nf - 1, 2)) AS frame_index
              FROM p
            )
            SELECT doc_id, frame_index,
                   w AS decoded_width, h AS decoded_height,
                   CAST(list_sum([(seed + 31*frame_index + 7*j) % 256
                                  for j in range(0, w*h)]) AS BIGINT)
                     AS sum_r,
                   CAST(list_sum([(2 * ((seed + 31*frame_index + 7*j) % 256))
                                  % 256 for j in range(0, w*h)]) AS BIGINT)
                     AS sum_g,
                   CAST(list_sum([(3 * ((seed + 31*frame_index + 7*j) % 256))
                                  % 256 for j in range(0, w*h)]) AS BIGINT)
                     AS sum_b,
                   TRUE AS ok
            FROM f
        """,
        # integer micro-units + md5 fractional membership replayed
        # exactly; generate_series replicates the whole copies
        "epoch_mix": """
            WITH e AS (
              SELECT doc_id, source,
                     CASE source
                       WHEN 'src0' THEN 2500000
                       WHEN 'src1' THEN 250000
                       WHEN 'src2' THEN 0
                       ELSE 1000000 END AS em,
                     CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                          AS BIGINT) % 1000000 AS b
              FROM documents
            ),
            c AS (
              SELECT doc_id, source,
                     em // 1000000
                       + CASE WHEN b < em % 1000000 THEN 1 ELSE 0 END
                       AS copies
              FROM e
            )
            SELECT doc_id, source,
                   unnest(generate_series(1, copies)) AS epoch
            FROM c WHERE copies >= 1
        """,
        # min/max scaling + Morton bit interleave replayed with
        # DuckDB integer bit ops (integer floor division both sides)
        "zorder_cluster": """
            WITH mm AS (
              SELECT min(o_custkey) AS lo1, max(o_custkey) AS hi1,
                     min(o_orderkey) AS lo2, max(o_orderkey) AS hi2
              FROM orders
            ),
            r AS (
              SELECT o_orderkey, o_custkey,
                     ((o_custkey - lo1) * 255) // (hi1 - lo1) AS r1,
                     ((o_orderkey - lo2) * 255) // (hi2 - lo2) AS r2
              FROM orders, mm
            ),
            b AS (
              SELECT o_orderkey, o_custkey,
                     unnest(generate_series(0, 7)) AS i, r1, r2
              FROM r
            )
            SELECT o_orderkey, o_custkey,
                   CAST(sum((((r1 >> i) & 1) << (i*2))
                            + (((r2 >> i) & 1) << (i*2+1)))
                        AS BIGINT) AS zkey
            FROM b GROUP BY o_orderkey, o_custkey
        """,
        # both packers' closed forms replayed: mp3 duration/bitrate
        # from the header tables, mp4 from the box fields
        "multimodal_media_meta": """
            WITH br AS (
              SELECT * FROM (VALUES (1,32),(2,40),(3,48),(4,56),(5,64),
                (6,80),(7,96),(8,112),(9,128),(10,160),(11,192),
                (12,224),(13,256),(14,320)) AS t(idx, kbps)
            )
            SELECT d.doc_id,
                   CASE WHEN d.doc_id % 2 = 0 THEN 'mp3'
                        ELSE 'mp4' END AS media_format,
                   CASE WHEN d.doc_id % 2 = 0
                        THEN (5 + d.doc_id % 20) * 1152 * 1000 // 44100
                        ELSE 1000 + d.doc_id % 5000
                   END AS duration_ms,
                   CASE WHEN d.doc_id % 2 = 0 THEN 44100 END
                     ::INTEGER AS sample_rate,
                   CASE WHEN d.doc_id % 2 = 0 THEN br.kbps END
                     ::INTEGER AS bitrate_kbps,
                   CASE WHEN d.doc_id % 2 = 0 THEN 5 + d.doc_id % 20 END
                     ::BIGINT AS frame_count,
                   CASE WHEN d.doc_id % 2 = 1
                        THEN 320 + d.doc_id % 300 END::INTEGER AS width,
                   CASE WHEN d.doc_id % 2 = 1
                        THEN 240 + d.doc_id % 200 END::INTEGER AS height,
                   CASE WHEN d.doc_id % 2 = 1
                        THEN 32 + d.doc_id % 64 END::BIGINT AS payload_bytes,
                   TRUE AS ok
            FROM documents d
            LEFT JOIN br ON br.idx = 1 + d.doc_id % 14
        """,
        # per-doc integer weight sums regrouped per source; the one
        # float expression runs on exact integer totals both sides
        "corpus_report": """
            WITH toks AS (
              SELECT doc_id, source, lang, text,
                     list_filter(string_split_regex(lower(text),
                                                    '[^a-z0-9]+'),
                                 t -> t <> '') AS ts
              FROM documents
            ),
            w AS (
              SELECT doc_id,
                     sum((CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT)
                          % 4096 * 2654435761 + 13) % 10007) AS s,
                     count(*) AS n
              FROM (SELECT doc_id, unnest(ts) AS tok FROM toks)
              GROUP BY doc_id
            ),
            d AS (
              -- LEFT JOIN: a doc with NO [a-z0-9] tokens must still
              -- count in n_docs/n_en/n_distinct_texts (review fix)
              SELECT k.source, k.lang, k.text,
                     coalesce(w.s, 0) AS s, coalesce(w.n, 0) AS n
              FROM toks k LEFT JOIN w USING (doc_id)
            )
            SELECT source,
                   count(*)::BIGINT AS n_docs,
                   sum(n)::BIGINT AS total_tokens,
                   sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT
                     AS n_en,
                   count(DISTINCT md5(text))::BIGINT AS n_distinct_texts,
                   round(sum(s) / (10007.0 * sum(n)) - 0.5, 6)
                     AS quality_index
            FROM d GROUP BY source
        """,
        # GIF is lossless: palette + LZW round trip replayed in
        # closed form (index i = (seed+7i)%256; channels j, 2j, 3j)
        "multimodal_gif": """
            WITH p AS (
              SELECT doc_id,
                     CAST(4 + doc_id % 9 AS INTEGER) AS w,
                     CAST(5 + doc_id % 7 AS INTEGER) AS h,
                     doc_id % 241 AS seed
              FROM documents
            )
            SELECT doc_id,
                   w AS decoded_width,
                   h AS decoded_height,
                   'gif' AS decoded_format,
                   CAST(list_sum([(seed + 7*j) % 256
                                  for j in range(0, w*h)]) AS BIGINT)
                     AS sum_r,
                   CAST(list_sum([(2 * ((seed + 7*j) % 256)) % 256
                                  for j in range(0, w*h)]) AS BIGINT)
                     AS sum_g,
                   CAST(list_sum([(3 * ((seed + 7*j) % 256)) % 256
                                  for j in range(0, w*h)]) AS BIGINT)
                     AS sum_b,
                   TRUE AS ok
            FROM p
        """,
        "multimodal_decode": """
            WITH p AS (
              SELECT doc_id,
                     CAST(4 + doc_id % 13 AS INTEGER) AS w,
                     CAST(3 + doc_id % 11 AS INTEGER) AS h,
                     doc_id % 251 AS seed
              FROM documents
            )
            SELECT doc_id,
                   w AS decoded_width,
                   h AS decoded_height,
                   'ppm' AS decoded_format,
                   CAST(list_sum([(seed + 21*j) % 256
                                  for j in range(0, w*h)]) AS BIGINT) AS sum_r,
                   CAST(list_sum([(seed + 7 + 21*j) % 256
                                  for j in range(0, w*h)]) AS BIGINT) AS sum_g,
                   CAST(list_sum([(seed + 14 + 21*j) % 256
                                  for j in range(0, w*h)]) AS BIGINT) AS sum_b,
                   TRUE AS ok
            FROM p
        """,
        # skew diagnostics: per-column UNION ALL + rank window; NULL is
        # a reportable value, ties break on value asc nulls first
        "skew_report_events": """
            WITH t AS (SELECT CAST(count(*) AS DOUBLE) AS total FROM events),
            u AS (
              SELECT 'event_type' AS col_name,
                     CAST(event_type AS VARCHAR) AS value, count(*) AS cnt
              FROM events GROUP BY 2
              UNION ALL
              SELECT 'user_id', CAST(user_id AS VARCHAR), count(*)
              FROM events GROUP BY 2
            ),
            r AS (
              SELECT u.*, row_number() OVER (
                       PARTITION BY col_name
                       ORDER BY cnt DESC, value ASC NULLS FIRST
                     ) AS rank
              FROM u
            )
            SELECT col_name, value, cnt,
                   round(cnt / t.total, 6) AS share,
                   CAST(rank AS INTEGER) AS rank
            FROM r, t WHERE rank <= 5
        """,
        # strip_html replayed in DuckDB: same RE2-portable regex order
        # (script, style, comments, tags), same entity chain with &amp;
        # LAST, same whitespace collapse — byte-identical output
        "html_clean": """
            WITH h AS (
              SELECT doc_id,
                     '<html><head><style>p {color: red}</style></head>'
                     || '<body><!-- doc ' || CAST(doc_id AS VARCHAR)
                     || ' --><h1>' || lang || '</h1><p>' || text
                     || ' &amp; more</p><script>var n = 1 < 2;</script>'
                     || '</body></html>' AS html
              FROM documents
            ),
            c AS (
              SELECT doc_id,
                     trim(regexp_replace(
                       replace(replace(replace(replace(replace(replace(
                         regexp_replace(
                           regexp_replace(
                             regexp_replace(
                               regexp_replace(html,
                                 '<script\\b[^>]*>.*?</script\\s*>', ' ', 'gis'),
                               '<style\\b[^>]*>.*?</style\\s*>', ' ', 'gis'),
                             '<!--.*?-->', ' ', 'gs'),
                           '<[^>]*>', ' ', 'gs'),
                         '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                         '&#39;', chr(39)), '&nbsp;', ' '), '&amp;', '&'),
                       '\\s+', ' ', 'g')) AS clean_text
              FROM h
            )
            SELECT doc_id, clean_text,
                   length(clean_text) AS n_chars_clean,
                   len(list_filter(
                     string_split_regex(lower(clean_text), '[^a-z0-9]+'),
                     t -> t <> '')) AS n_tokens_clean
            FROM c
        """,
        # SemDeDup: centroid/rank/drop decisions replayed with list ops;
        # every cosine is rounded to 9 decimals on BOTH engines before
        # comparison so the decisions are bit-identical
        "semantic_dedup": """
            WITH e AS (
              SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings
            ),
            nn AS (
              SELECT vec_id, label, v,
                     sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm
              FROM e
            ),
            px AS (
              SELECT label, unnest(generate_series(1, len(v))) AS p, v
              FROM e
            ),
            cx AS (
              SELECT label, p, avg(v[p]) AS c FROM px GROUP BY label, p
            ),
            cent AS (
              SELECT label, list(c ORDER BY p) AS cvec,
                     sqrt(sum(c*c)) AS cnrm
              FROM cx GROUP BY label
            ),
            scored AS (
              SELECT nn.vec_id, nn.label, nn.v, nn.nrm,
                     round(list_dot_product(nn.v, cent.cvec)
                           / (nn.nrm * cent.cnrm), 9) AS ccos
              FROM nn JOIN cent USING (label)
            ),
            ranked AS (
              SELECT *, row_number() OVER (
                       PARTITION BY label ORDER BY ccos ASC, vec_id ASC
                     ) AS rank
              FROM scored
            ),
            dropped AS (
              -- drop key is (label, vec_id): the operator drops
              -- cluster-scoped (ids need not be globally unique), so
              -- the oracle must not collapse same-id rows across
              -- clusters (r5 advice)
              SELECT DISTINCT b.label, b.vec_id
              FROM ranked a JOIN ranked b USING (label)
              WHERE a.rank < b.rank
                AND round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 9)
                    >= 0.3
            )
            SELECT r.vec_id, r.label, r.ccos AS centroid_cos,
                   CAST(r.rank AS INTEGER) AS rank,
                   (d.vec_id IS NULL) AS kept
            FROM ranked r LEFT JOIN dropped d
              ON r.label = d.label AND r.vec_id = d.vec_id
        """,
        # video round trip: sampled frame indices enumerated, per-frame
        # pixel sums recomputed from frame seed = seed + 131*f
        "multimodal_video": """
            WITH p AS (
              SELECT doc_id,
                     2 + doc_id % 4 AS nf,
                     CAST(4 + doc_id % 5 AS INTEGER) AS w,
                     CAST(3 + doc_id % 3 AS INTEGER) AS h,
                     doc_id % 200 AS seed
              FROM documents
            ),
            f AS (
              SELECT doc_id, w, h, seed,
                     unnest(generate_series(0, nf - 1, 2)) AS fi
              FROM p
            ),
            s AS (
              SELECT doc_id, CAST(fi AS INTEGER) AS frame_index, w, h,
                     seed + 131 * fi AS fs, w * h AS np
              FROM f
            )
            SELECT doc_id, frame_index,
                   w AS decoded_width, h AS decoded_height,
                   CAST(list_sum([(fs + 21*j) % 256
                                  for j in range(0, np)]) AS BIGINT) AS sum_r,
                   CAST(list_sum([(fs + 7 + 21*j) % 256
                                  for j in range(0, np)]) AS BIGINT) AS sum_g,
                   CAST(list_sum([(fs + 14 + 21*j) % 256
                                  for j in range(0, np)]) AS BIGINT) AS sum_b,
                   TRUE AS ok
            FROM s
        """,
        # audio round trip: closed-form PCM samples recomputed in SQL
        "multimodal_audio": """
            WITH p AS (
              SELECT doc_id,
                     CAST(40 + doc_id % 60 AS BIGINT) AS n,
                     CAST(8000 + (doc_id % 4) * 4000 AS INTEGER) AS rate,
                     doc_id % 997 AS seed
              FROM documents
            ),
            s AS (
              SELECT doc_id, n, rate,
                     [abs(((seed + 11*i) % 65536) - 32768)
                      for i in range(0, n)] AS amps
              FROM p
            )
            SELECT doc_id,
                   rate AS sample_rate,
                   1 AS n_channels,
                   n AS n_samples,
                   CAST(list_sum(amps) AS BIGINT) AS sum_abs,
                   CAST(list_max(amps) AS INTEGER) AS peak,
                   TRUE AS ok
            FROM s
        """,
        # scd2_apply semantics replayed in SQL: stage 1 derives the
        # base dimension's change points (80% of the log), stage 2
        # unions the late batch and re-derives intervals.  Existing
        # versions carry NULL order ids; Spark's asc() is nulls-first,
        # hence the explicit NULLS FIRST at timestamp ties.
        "scd2_apply_late": """
            WITH h AS (
              SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
                     lag(event_type) OVER w AS prev,
                     row_number() OVER w AS rn
              FROM events WHERE event_id % 5 <> 0
              WINDOW w AS (PARTITION BY user_id
                           ORDER BY CAST(ts AS TIMESTAMP), event_id)
            ),
            dim AS (
              SELECT user_id, event_type, ts,
                     CAST(NULL AS BIGINT) AS oid
              FROM h WHERE rn = 1 OR prev IS DISTINCT FROM event_type
            ),
            u AS (
              SELECT * FROM dim
              UNION ALL
              SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
                     event_id AS oid
              FROM events WHERE event_id % 5 = 0
            ),
            h2 AS (
              SELECT user_id, event_type, ts, oid,
                     lag(event_type) OVER w AS prev,
                     row_number() OVER w AS rn
              FROM u
              WINDOW w AS (PARTITION BY user_id
                           ORDER BY ts, oid NULLS FIRST)
            ),
            c AS (
              SELECT user_id, event_type, ts, oid FROM h2
              WHERE rn = 1 OR prev IS DISTINCT FROM event_type
            )
            SELECT user_id, event_type,
                   ts AS valid_from,
                   lead(ts) OVER w2 AS valid_to,
                   (lead(ts) OVER w2 IS NULL) AS is_current
            FROM c
            WINDOW w2 AS (PARTITION BY user_id
                          ORDER BY ts, oid NULLS FIRST)
        """,
        "scd2_user_status": """
            WITH h AS (
              SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
                     lag(event_type) OVER w AS prev,
                     row_number() OVER w AS rn
              FROM events
              WINDOW w AS (PARTITION BY user_id
                           ORDER BY CAST(ts AS TIMESTAMP), event_id)
            ),
            c AS (
              SELECT user_id, event_type, ts FROM h
              WHERE rn = 1 OR prev IS DISTINCT FROM event_type
            )
            SELECT user_id, event_type,
                   ts AS valid_from,
                   lead(ts) OVER w2 AS valid_to,
                   (lead(ts) OVER w2 IS NULL) AS is_current
            FROM c
            WINDOW w2 AS (PARTITION BY user_id ORDER BY ts)
        """,
    }
