"""Dedup operator tests (engine extensions, SURVEY.md §2.4)."""

import pytest
from pyspark.sql import functions as F

from pandance_spark.operators.dedup import (
    dedup_exact,
    dedup_minhash,
    duplicate_groups,
    embedding_cosine_pairs,
    minhash_candidates,
    minhash_signature,
    ngram_jaccard_join,
    simhash,
    simhash_candidates,
)


@pytest.fixture(scope="module")
def docs_with_dups(spark):
    base = [
        (1, "the quick brown fox jumps over the lazy dog again and again", "a"),
        (2, "the quick brown fox jumps over the lazy dog again and again", "b"),
        (3, "the quick brown fox jumps over the lazy dog again and AGAIN!", "c"),
        (4, "a completely different document about spark query planning", "d"),
        (5, "another unrelated text mentioning shuffles and partitions", "e"),
    ]
    return spark.createDataFrame(base, "doc_id long, text string, src string")


def test_dedup_exact_deterministic(docs_with_dups):
    out = dedup_exact(docs_with_dups, ["text"], tie_breaker="doc_id")
    kept = {r["doc_id"] for r in out.collect()}
    assert kept == {1, 3, 4, 5}  # doc 2 is the exact dup, min id kept
    assert out.columns == docs_with_dups.columns


def test_duplicate_groups(docs_with_dups):
    groups = duplicate_groups(docs_with_dups, ["text"]).collect()
    assert len(groups) == 1
    assert groups[0]["dup_count"] == 2


def test_minhash_signature_shape_and_determinism(docs_with_dups):
    sig = docs_with_dups.select(
        "doc_id", minhash_signature(F.col("text"), num_hashes=32).alias("sig")
    )
    rows = {r["doc_id"]: r["sig"] for r in sig.collect()}
    assert all(len(s) == 32 for s in rows.values())
    assert rows[1] == rows[2]  # identical text -> identical signature
    # near-identical docs share most signature slots
    same = sum(1 for a, b in zip(rows[1], rows[3]) if a == b)
    assert same > 16
    # unrelated docs share few
    diff = sum(1 for a, b in zip(rows[1], rows[4]) if a == b)
    assert diff < 8


def test_minhash_dedup_finds_near_dups(docs_with_dups):
    pairs = dedup_minhash(
        docs_with_dups, "doc_id", "text", threshold=0.5, num_hashes=64, bands=16
    )
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got  # exact dup
    assert (1, 3) in got or (2, 3) in got  # near dup
    assert all((a, b) != (4, 5) for a, b in got)
    for r in pairs.collect():
        assert 0.5 <= r["jaccard"] <= 1.0


def test_ngram_jaccard_exact(spark):
    df = spark.createDataFrame(
        [
            (1, "a b c d e"),
            (2, "a b c d x"),
            (3, "p q r s t"),
        ],
        "doc_id long, text string",
    )
    # 3-shingles: doc1 {abc,bcd,cde}, doc2 {abc,bcd,cdx} -> J = 2/4 = 0.5
    out = ngram_jaccard_join(df, "doc_id", "text", shingle_n=3, threshold=0.4)
    rows = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out.collect()}
    assert rows == {(1, 2): 0.5}


def test_simhash_properties(docs_with_dups):
    out = docs_with_dups.select(
        "doc_id", simhash(F.col("text")).alias("sh")
    ).collect()
    vals = {r["doc_id"]: r["sh"] for r in out}
    assert vals[1] == vals[2]  # identical text
    ham_near = bin(vals[1] ^ vals[3]).count("1")
    ham_far = bin(vals[1] ^ vals[4]).count("1")
    assert ham_near < ham_far


@pytest.mark.parametrize("portable", [False, True])
def test_simhash_signatures_match_column_fold(docs_with_dups, portable):
    # the explode+sum aggregate path must equal the Column fold bit-for-bit
    from pandance_spark.operators.dedup import simhash_signatures

    fold = {
        r["doc_id"]: r["sh"]
        for r in docs_with_dups.select(
            "doc_id", simhash(F.col("text"), portable=portable).alias("sh")
        ).collect()
    }
    agg = {
        r["id"]: r["__sh"]
        for r in simhash_signatures(
            docs_with_dups, "doc_id", "text", portable=portable
        ).collect()
    }
    assert fold == agg


def test_simhash_signatures_tokenless_doc(spark):
    from pandance_spark.operators.dedup import simhash_signatures

    df = spark.createDataFrame([(1, "real text here"), (2, ""), (3, "!!!")],
                               "doc_id long, text string")
    got = {r["id"]: r["__sh"] for r in
           simhash_signatures(df, "doc_id", "text").collect()}
    assert got[2] == 0 and got[3] == 0 and got[1] != 0


def test_simhash_candidates(docs_with_dups):
    pairs = simhash_candidates(docs_with_dups, "doc_id", "text", max_hamming=6)
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs.collect()}
    assert got.get((1, 2)) == 0
    assert all(h <= 6 for h in got.values())


def test_embedding_cosine_pairs(spark):
    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.999, 0.01, 0.0]),
            (3, [0.0, 1.0, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    out = embedding_cosine_pairs(df, "vec_id", "embedding", threshold=0.99)
    got = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert got == {(1, 2)}


def test_embedding_cosine_pairs_blocked_matches_unblocked(spark, sf_dir):
    from pandance_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    full = embedding_cosine_pairs(emb, "vec_id", "embedding", threshold=0.8)
    blocked = embedding_cosine_pairs(
        emb, "vec_id", "embedding", threshold=0.8, block_col="label"
    )
    full_pairs = {(r["id_a"], r["id_b"]) for r in full.collect()}
    blocked_pairs = {(r["id_b"], r["id_b"]) for r in blocked.collect()}
    # blocking is a candidate restriction: it may miss cross-block pairs
    # but must never invent pairs
    blocked_pairs = {(r["id_a"], r["id_b"]) for r in blocked.collect()}
    assert blocked_pairs <= full_pairs


def test_embedding_cosine_pairs_string_ids(spark):
    # r1 advice: gemm hard-cast ids to int64, crashing string/uuid ids
    df = spark.createDataFrame(
        [
            ("a", [1.0, 0.0, 0.0]),
            ("b", [0.999, 0.01, 0.0]),
            ("c", [0.0, 1.0, 0.0]),
        ],
        "vec_id string, embedding array<double>",
    )
    out = embedding_cosine_pairs(
        df, "vec_id", "embedding", threshold=0.99, strategy="gemm"
    )
    assert dict(out.dtypes)["id_a"] == "string"
    got = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert got == {("a", "b")}


def test_embedding_auto_never_collects_large_input(spark, monkeypatch):
    # r1 verdict: auto picked gemm (a driver collect) for ANY unblocked
    # input. Large plans must route to the LSH-blocked path instead.
    import pandance_spark.operators.dedup as dd

    def _boom(*a, **k):
        raise AssertionError("gemm (driver collect) picked for large input")

    monkeypatch.setattr(dd, "_gemm_cosine_pairs", _boom)
    big = (
        spark.range(0, 500_000)
        .withColumnRenamed("id", "vec_id")
        .withColumn(
            "embedding",
            F.transform(
                F.sequence(F.lit(1), F.lit(16)),
                lambda i: F.sin(F.col("vec_id") * i).cast("double"),
            ),
        )
    )
    out = dd.embedding_cosine_pairs(big, "vec_id", "embedding", threshold=0.999)
    # plan builds without touching gemm (executing the 500k-row
    # fallback join is deliberately out of scope for a unit test)
    assert out.columns == ["id_a", "id_b", "cosine"]
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" in plan  # the LSH-blocked equi-join path, not mapInPandas


def test_embedding_lsh_fallback_subset_of_exact(spark):
    import pandance_spark.operators.dedup as dd

    df = spark.createDataFrame(
        [(i, [float((i * 7 + j * 3) % 11 - 5) for j in range(8)]) for i in range(60)],
        "vec_id long, embedding array<double>",
    )
    exact = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in dd.embedding_cosine_pairs(
            df, "vec_id", "embedding", threshold=0.9, strategy="gemm"
        ).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in dd._lsh_blocked_cosine_pairs(
            df, "vec_id", "embedding", 0.9
        ).collect()
    }
    # LSH blocking restricts candidates: subset of exact, identical cosines
    assert set(lsh) <= set(exact)
    for k, v in lsh.items():
        assert exact[k] == v


def test_minhash_candidates_superset_of_high_jaccard(spark, sf_dir):
    # LSH with 16 bands x 4 rows: P(candidate) = 1-(1-j^4)^16; at
    # j>=0.9 that's > 0.9999 — every true near-dup pair must surface
    from pandance_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").limit(200)
    exact = ngram_jaccard_join(docs, "doc_id", "text", shingle_n=3, threshold=0.9)
    cands = minhash_candidates(
        docs, "doc_id", "text", num_hashes=64, bands=16, shingle_n=3
    )
    exact_pairs = {(r["id_a"], r["id_b"]) for r in exact.collect()}
    cand_pairs = {(r["id_a"], r["id_b"]) for r in cands.collect()}
    assert exact_pairs <= cand_pairs


def test_incremental_index_matches_batch_dedup(spark):
    """build_minhash_index + dedup_against_index == the cross-pair
    subset of dedup_minhash over the union, with identical jaccards."""
    from pandance_spark.operators.dedup import (
        build_minhash_index,
        dedup_against_index,
        dedup_minhash,
    )

    base = [
        "the quick brown fox jumps over the lazy dog again and again today",
        "completely different text about spark partitions and shuffle behavior",
        "a third document mentioning minhash banding and jaccard thresholds",
    ]
    corpus_rows = [(i, base[i % 3] + f" tail{i % 3}") for i in range(30)]
    # batch: near-dups of corpus docs (same text, tiny suffix change) + one novel
    batch_rows = [(100 + i, base[i] + f" tail{i}") for i in range(3)]
    batch_rows.append((200, "utterly novel content with zero overlapping shingles whatsoever"))
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    batch = spark.createDataFrame(batch_rows, "doc_id long, text string")

    build_minhash_index(
        corpus, "doc_id", "text", "mh_test_idx",
        num_hashes=64, bands=16, shingle_n=3, num_buckets=4,
    )
    got = {
        (r["new_id"], r["corpus_id"], r["jaccard"])
        for r in dedup_against_index(
            batch, "doc_id", "text", "mh_test_idx", threshold=0.8
        ).collect()
    }

    both = corpus.unionByName(batch)
    ref = {
        (max(r["id_a"], r["id_b"]) if r["id_a"] < 100 else r["id_a"],
         min(r["id_a"], r["id_b"]),
         r["jaccard"])
        for r in dedup_minhash(
            both, "doc_id", "text", threshold=0.8,
            num_hashes=64, bands=16, shingle_n=3,
        ).collect()
        # keep only cross pairs (one side in the batch, one in the corpus)
        if (r["id_a"] >= 100) != (r["id_b"] >= 100)
    }
    assert got == ref
    assert got  # the three near-dups must actually collide
    assert not any(n == 200 for n, _, _ in got)  # novel doc stays clean

    for t in ("mh_test_idx_bands", "mh_test_idx_sets", "mh_test_idx_meta"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_incremental_index_uses_stored_params(spark):
    """Search hashes with the INDEX's parameters (from the meta table),
    not its own defaults — a shingle_n=2 index still matches."""
    from pandance_spark.operators.dedup import (
        build_minhash_index,
        dedup_against_index,
    )

    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(9, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string"
    )
    build_minhash_index(
        corpus, "doc_id", "text", "mh_test_idx2",
        num_hashes=32, bands=8, shingle_n=2, num_buckets=2,
    )
    out = dedup_against_index(batch, "doc_id", "text", "mh_test_idx2", threshold=0.99)
    rows = out.collect()
    assert [(r["new_id"], r["corpus_id"], r["jaccard"]) for r in rows] == [(9, 1, 1.0)]
    for t in ("mh_test_idx2_bands", "mh_test_idx2_sets", "mh_test_idx2_meta"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_incremental_index_append_roundtrip(spark):
    """add_to_minhash_index appends a batch into the index so the NEXT
    batch collides with it — continuous-ingestion round trip."""
    from pandance_spark.operators.dedup import (
        add_to_minhash_index,
        build_minhash_index,
        dedup_against_index,
    )

    t1 = "first unique document about catalyst optimizer rules and codegen stages"
    t2 = "second unique document describing lsh banding and jaccard verification"
    corpus = spark.createDataFrame([(1, t1)], "doc_id long, text string")
    build_minhash_index(corpus, "doc_id", "text", "mh_test_idx3",
                        num_hashes=32, bands=8, shingle_n=3, num_buckets=2)

    batch1 = spark.createDataFrame([(10, t2)], "doc_id long, text string")
    assert dedup_against_index(batch1, "doc_id", "text", "mh_test_idx3").count() == 0
    add_to_minhash_index(batch1, "doc_id", "text", "mh_test_idx3")

    # batch2 near-dups BOTH the original corpus doc and the appended doc
    batch2 = spark.createDataFrame([(20, t1), (21, t2)], "doc_id long, text string")
    got = {
        (r["new_id"], r["corpus_id"])
        for r in dedup_against_index(
            batch2, "doc_id", "text", "mh_test_idx3", threshold=0.99
        ).collect()
    }
    assert got == {(20, 1), (21, 10)}
    for t in ("mh_test_idx3_bands", "mh_test_idx3_sets", "mh_test_idx3_meta"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_jaccard_topk_exact_selection(spark):
    from pandance_spark.operators.dedup import jaccard_topk, ngram_jaccard_join

    texts = {
        1: "alpha beta gamma delta epsilon zeta eta theta",
        2: "alpha beta gamma delta epsilon zeta eta theta",      # = 1
        3: "alpha beta gamma delta epsilon zeta eta iota",       # close to 1/2
        4: "one two three four five six seven eight nine ten",
        5: "one two three four five six seven eight nine eleven",  # close to 4
        6: "utterly disjoint tokens nothing shared with others at all",
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    top = jaccard_topk(df, "doc_id", "text", k=3, min_sim=0.1)
    rows = [(r["id_a"], r["id_b"], r["jaccard"]) for r in top.collect()]
    # brute-force expectation from the exact thresholded join
    all_pairs = sorted(
        [
            (r["jaccard"], r["id_a"], r["id_b"])
            for r in ngram_jaccard_join(
                df, "doc_id", "text", threshold=0.1
            ).collect()
        ],
        key=lambda t: (-t[0], t[1], t[2]),
    )
    assert rows == [(a, b, j) for j, a, b in all_pairs[:3]]
    assert rows[0][:2] == (1, 2) and rows[0][2] == 1.0

    # fewer qualifying pairs than k -> fewer rows, never a rows^2 scan
    assert jaccard_topk(df, "doc_id", "text", k=50, min_sim=0.9).count() == 1


def test_edit_distance_join_fuzz_vs_brute_force(spark):
    """Positional-EDJoin exactness on random small-alphabet strings
    (incl. empty/short/repetitive, the prefix-filter edge cases)."""
    import itertools
    import random

    from pandance_spark.operators.dedup import edit_distance_join

    def lev(a, b):
        m = [[0] * (len(b) + 1) for _ in range(len(a) + 1)]
        for i in range(len(a) + 1):
            m[i][0] = i
        for j in range(len(b) + 1):
            m[0][j] = j
        for i in range(1, len(a) + 1):
            for j in range(1, len(b) + 1):
                m[i][j] = min(
                    m[i - 1][j] + 1,
                    m[i][j - 1] + 1,
                    m[i - 1][j - 1] + (a[i - 1] != b[j - 1]),
                )
        return m[len(a)][len(b)]

    rng = random.Random(7)
    for _ in range(2):
        rows = [
            (i, "".join(rng.choice("abc") for _ in range(rng.randint(0, 8))))
            for i in range(40)
        ]
        df = spark.createDataFrame(rows, "id long, s string")
        for d in (1, 2):
            got = sorted(
                (r["id_a"], r["id_b"], r["dist"])
                for r in edit_distance_join(df, "id", "s", max_dist=d).collect()
            )
            want = sorted(
                (a, b, lev(sa, sb))
                for (a, sa), (b, sb) in itertools.combinations(rows, 2)
                if lev(sa, sb) <= d
            )
            assert got == want


def test_overlap_set_join_vs_brute_force(spark):
    import itertools
    import random
    import re

    from pandance_spark.operators.dedup import overlap_set_join

    rng = random.Random(3)
    vocab = [f"w{i}" for i in range(30)]
    rows = [
        (i, " ".join(rng.sample(vocab, rng.randint(0, 15))))
        for i in range(50)
    ]
    df = spark.createDataFrame(rows, "id long, s string")
    for c in (3, 8):
        got = sorted(
            (r["id_a"], r["id_b"], r["overlap"])
            for r in overlap_set_join(
                df, "id", "s", min_overlap=c, shingle_n=1
            ).collect()
        )
        want = []
        toks = {i: set(re.findall(r"[a-z0-9]+", s.lower())) for i, s in rows}
        for (a, _), (b, _) in itertools.combinations(rows, 2):
            ov = len(toks[a] & toks[b])
            if ov >= c:
                want.append((a, b, ov))
        assert got == sorted(want), c


def test_fingerprint_overlap_join_exact(spark):
    from pandance_spark.operators.dedup import fingerprint_overlap_join

    base = "the licensing header that repeats verbatim across documents"
    rows = [
        (1, base + " alpha unique tail one"),
        (2, base + " beta unique tail two"),
        (3, "completely different content with no shared runs at all xyz"),
        (4, base + " gamma third copy"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = fingerprint_overlap_join(
        df, "doc_id", "text", k=8, mod=4, min_shared=2
    ).collect()
    pairs = {(r["id_a"], r["id_b"]): r["shared_fps"] for r in out}

    # brute-force oracle over the same fingerprint definition
    import hashlib

    def fps(text):
        t = text.lower()
        grams = [t[i : i + 8] for i in range(len(t) - 7)]
        hs = {
            int(hashlib.md5(g.encode()).hexdigest()[:14], 16)
            for g in grams
        }
        return {h for h in hs if h % 4 == 0}

    fsets = {i: fps(t) for i, t in rows}
    want = {}
    ids = sorted(fsets)
    for i in ids:
        for j in ids:
            if i < j:
                shared = len(fsets[i] & fsets[j])
                if shared >= 2:
                    want[(i, j)] = shared
    assert pairs == want
    assert (1, 2) in pairs and (1, 4) in pairs  # shared header detected


def test_fingerprint_overlap_join_max_df(spark):
    from pandance_spark.operators.dedup import fingerprint_overlap_join

    # a fingerprint present in ALL docs is boilerplate; max_df=2 drops it
    base = "common boilerplate stretch shared by every single document here"
    rows = [(i, base) for i in range(1, 5)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    full = fingerprint_overlap_join(
        df, "doc_id", "text", k=8, mod=4, min_shared=1
    ).count()
    capped = fingerprint_overlap_join(
        df, "doc_id", "text", k=8, mod=4, min_shared=1, max_df=2
    ).count()
    assert full == 6  # all 4-choose-2 pairs share everything
    assert capped == 0  # every fingerprint has df=4 > 2

    import pytest as _pt

    with _pt.raises(ValueError):
        fingerprint_overlap_join(df, "doc_id", "text", min_shared=0)
    with _pt.raises(ValueError):
        fingerprint_overlap_join(df, "doc_id", "text", max_df=1)


def test_fingerprint_overlap_join_max_df_partial_cap(spark):
    # r11: the capped branch is a single hash aggregation (collect the
    # per-fingerprint doc list, emit ordered in-group combinations)
    # instead of the self-equi-join — pin its VALUES against a
    # brute-force replay with a cap that drops some fingerprints but
    # keeps others, so surviving pair counts (not just emptiness) are
    # asserted on the new code path.
    from pandance_spark.operators.dedup import fingerprint_overlap_join

    boiler = "common boilerplate stretch shared by every single document"
    duo = "a rarer passage shared by exactly two documents only right"
    rows = [
        (1, boiler + " " + duo + " one"),
        (2, boiler + " " + duo + " two"),
        (3, boiler + " third doc unique trailing content here"),
        (4, boiler + " fourth doc other unique trailing content"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = fingerprint_overlap_join(
        df, "doc_id", "text", k=8, mod=4, min_shared=1, max_df=2
    ).collect()
    got = {(r["id_a"], r["id_b"]): r["shared_fps"] for r in out}

    import hashlib

    def fps(text):
        t = text.lower()
        grams = [t[i : i + 8] for i in range(len(t) - 7)]
        hs = {
            int(hashlib.md5(g.encode()).hexdigest()[:14], 16)
            for g in grams
        }
        return {h for h in hs if h % 4 == 0}

    fsets = {i: fps(t) for i, t in rows}
    # document frequency per fingerprint; cap at 2
    from collections import Counter

    dfreq = Counter(h for s in fsets.values() for h in s)
    kept = {h for h, c in dfreq.items() if c <= 2}
    want = {}
    ids = sorted(fsets)
    for i in ids:
        for j in ids:
            if i < j:
                shared = len(fsets[i] & fsets[j] & kept)
                if shared >= 1:
                    want[(i, j)] = shared
    assert got == want
    assert (1, 2) in got  # the duo passage survives the cap


def test_fingerprint_overlap_join_mid_branch_above_guard(
    spark, monkeypatch
):
    # r12 re-guard (ADVICE r11 high): fingerprints with df above
    # _HOT_GROUP_CAP never reach the collect aggregation — those the
    # cap keeps (df in (guard, max_df]) pair via the self-join branch
    # and the two pair streams union BEFORE the shared-count
    # aggregation, so a doc pair sharing fingerprints from both
    # branches still counts them all.  Shrink the guard to exercise
    # the split on a small fixture and pin equality with the
    # single-branch output at the default guard.
    import pandance_spark.operators.dedup as dd
    from pandance_spark.operators.dedup import fingerprint_overlap_join

    boiler = "common boilerplate stretch shared by every single document"
    duo = "a rarer passage shared by exactly two documents only right"
    rows = [
        (1, boiler + " " + duo + " one"),
        (2, boiler + " " + duo + " two"),
        (3, boiler + " third doc unique trailing content here"),
        (4, boiler + " fourth doc other unique trailing content"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    kwargs = dict(k=8, mod=4, min_shared=1, max_df=4)
    want = {
        (r["id_a"], r["id_b"]): r["shared_fps"]
        for r in fingerprint_overlap_join(
            df, "doc_id", "text", **kwargs
        ).collect()
    }
    monkeypatch.setattr(dd, "_HOT_GROUP_CAP", 2)
    got = {
        (r["id_a"], r["id_b"]): r["shared_fps"]
        for r in fingerprint_overlap_join(
            df, "doc_id", "text", **kwargs
        ).collect()
    }
    assert got == want
    # (1,2) shares the duo fps (df=2, aggregation branch) AND the
    # boilerplate fps (df=4, join branch): both must be in its count
    assert (1, 2) in got


def test_fingerprint_overlap_join_null_ids_dropped(spark):
    # ADVICE r11: sort_array places NULL first, so the r11 capped path
    # emitted (NULL, id) pairs the join form's id_a < id_b never
    # produced; both paths now drop NULL ids up front
    from pandance_spark.operators.dedup import fingerprint_overlap_join

    base = "the licensing header that repeats verbatim across documents"
    clean = [(1, base + " one"), (2, base + " two")]
    with_null = clean + [(None, base + " three")]
    for max_df in (None, 3):
        want = {
            (r["id_a"], r["id_b"]): r["shared_fps"]
            for r in fingerprint_overlap_join(
                spark.createDataFrame(clean, "doc_id int, text string"),
                "doc_id", "text", k=8, mod=4, min_shared=1, max_df=max_df,
            ).collect()
        }
        got = {
            (r["id_a"], r["id_b"]): r["shared_fps"]
            for r in fingerprint_overlap_join(
                spark.createDataFrame(with_null, "doc_id int, text string"),
                "doc_id", "text", k=8, mod=4, min_shared=1, max_df=max_df,
            ).collect()
        }
        assert got == want and want, max_df
        assert all(a is not None and b is not None for a, b in got)


def test_edit_distance_join_middle_bucket_d2(spark):
    # regression: the [p-d, p+d] span covers THREE width-(d+1) buckets
    # for d=2; endpoint-only fan-out missed pairs whose only shared
    # prefix grams sat in the middle bucket (confirmed miss pre-fix)
    from pandance_spark.operators.dedup import edit_distance_join

    df = spark.createDataFrame(
        [(1, "abcdef"), (2, "abXdeY")], "id int, s string"
    )
    out = edit_distance_join(df, "id", "s", max_dist=2).collect()
    assert [(r["id_a"], r["id_b"], r["dist"]) for r in out] == [(1, 2, 2)]


def test_dedup_paragraphs_first_occurrence_wins(spark):
    from pandance_spark.operators.dedup import dedup_paragraphs

    rows = [
        (1, "intro one\n\nshared footer\n\nbody A"),
        (2, "body B\n\nshared footer"),          # footer dup -> dropped
        (3, "shared footer\n\n\n\nbody C"),      # multi-sep collapses
        (4, ""),                                  # all-empty doc survives
        (5, "body A"),                            # dup of doc 1's para
    ]
    out = {
        r["doc_id"]: r
        for r in dedup_paragraphs(
            spark.createDataFrame(rows, "doc_id long, text string"),
            "doc_id", "text",
        ).collect()
    }
    assert out[1]["text_deduped"] == "intro one\n\nshared footer\n\nbody A"
    assert (out[1]["n_paragraphs"], out[1]["n_kept"]) == (3, 3)
    assert out[2]["text_deduped"] == "body B"
    assert (out[2]["n_paragraphs"], out[2]["n_kept"]) == (2, 1)
    assert out[3]["text_deduped"] == "body C"
    assert (out[4]["text_deduped"], out[4]["n_paragraphs"]) == ("", 0)
    assert out[5]["text_deduped"] == "" and out[5]["n_kept"] == 0
    # determinism: a second run keeps the same copies
    again = {
        r["doc_id"]: r["text_deduped"]
        for r in dedup_paragraphs(
            spark.createDataFrame(rows, "doc_id long, text string"),
            "doc_id", "text",
        ).collect()
    }
    assert again == {k: v["text_deduped"] for k, v in out.items()}


def test_semantic_dedup_cluster_scoped_keep_policy(spark):
    from pandance_spark.operators.dedup import semantic_dedup

    # cluster 0: a and b near-identical, c orthogonal; centroid is
    # pulled toward a/b, so c ranks first under keep='farthest', then
    # whichever of a/b ranks better keeps and the other drops.
    # cluster 1: two near-identical vectors must NOT interact with
    # cluster 0 (cluster-scoped, unlike a global pair join).
    rows = [
        (1, [1.0, 0.0, 0.0], 0),
        (2, [0.999, 0.01, 0.0], 0),
        (3, [0.0, 1.0, 0.0], 0),
        (10, [0.0, 0.0, 1.0], 1),
        (11, [0.0, 0.01, 0.999], 1),
    ]
    out = {
        r["vec_id"]: r
        for r in semantic_dedup(
            spark.createDataFrame(
                rows, "vec_id long, embedding array<double>, label int"
            ),
            "vec_id", "embedding", "label", threshold=0.9,
        ).collect()
    }
    assert out[3]["kept"] and out[3]["rank"] == 1  # farthest from centroid
    kept_ab = [i for i in (1, 2) if out[i]["kept"]]
    assert len(kept_ab) == 1  # exactly one of the near-dup pair survives
    # cluster 1: exactly one of its near-dup pair survives too
    assert sum(out[i]["kept"] for i in (10, 11)) == 1
    with pytest.raises(ValueError):
        semantic_dedup(
            spark.createDataFrame(
                rows, "vec_id long, embedding array<double>, label int"
            ),
            "vec_id", "embedding", "label", keep="weird",
        )


def test_semantic_dedup_ids_unique_per_cluster_only(spark):
    # review fix: drop keys are (cluster, id) — a drop in one cluster
    # must not shadow the same id in another cluster
    from pandance_spark.operators.dedup import semantic_dedup

    rows = [
        (7, [1.0, 0.0], 0),
        (8, [0.999, 0.01], 0),   # near-dup of 7 -> one of them drops
        (7, [0.0, 1.0], 1),      # same id, different cluster: singleton
    ]
    out = semantic_dedup(
        spark.createDataFrame(
            rows, "vec_id long, embedding array<double>, label int"
        ),
        "vec_id", "embedding", "label", threshold=0.9,
    ).collect()
    by_key = {(r["label"], r["vec_id"]): r["kept"] for r in out}
    assert by_key[(1, 7)] is True           # untouched singleton
    assert sum(by_key[(0, i)] for i in (7, 8)) == 1


def _brute_spans(docs, k):
    """All maximal shared >=k-token spans, (doc_a,a_start)<(doc_b,b_start)."""
    toks = {i: t.split() for i, t in docs}
    out = set()
    ids = sorted(toks)
    for ai in ids:
        for bi in ids:
            if bi < ai:
                continue
            a, b = toks[ai], toks[bi]
            for i in range(len(a)):
                for j in range(len(b)):
                    if ai == bi and j <= i:
                        continue
                    # start of a maximal match?
                    if a[i:i + 1] != b[j:j + 1]:
                        continue
                    prev_ok = (
                        i > 0 and j > 0 and a[i - 1] == b[j - 1]
                        and not (ai == bi and j - 1 == i - 1)
                    )
                    if prev_ok:
                        continue
                    ln = 0
                    while (i + ln < len(a) and j + ln < len(b)
                           and a[i + ln] == b[j + ln]
                           and not (ai == bi and j + ln == i + ln)):
                        ln += 1
                    if ln >= k:
                        out.add((ai, bi, i, j, ln))
    return out


def test_dedup_substrings_vs_brute_force(spark):
    from pandance_spark.operators.dedup import dedup_substrings

    docs = [
        (1, "a b c d e f g h i j"),
        (2, "x y a b c d e f z q"),      # 6-token overlap with doc 1
        (3, "p q r s p q r s p q r s"),  # periodic within-doc repeats
        (4, "a b c d e f g h i j"),      # exact dup of doc 1
        (5, "m n o p q r s t u v w"),
    ]
    df = spark.createDataFrame(docs, ["id", "text"])
    got = {tuple(r) for r in dedup_substrings(df, "id", "text",
                                              min_tokens=4).collect()}
    assert got == _brute_spans(docs, 4)


def test_dedup_substrings_max_occurrences_drops_boilerplate(spark):
    from pandance_spark.operators.dedup import dedup_substrings

    boiler = "this footer repeats on every single page of the site"
    docs = [(i, f"unique{i} words{i} " + boiler) for i in range(6)]
    df = spark.createDataFrame(docs, ["id", "text"])
    full = dedup_substrings(df, "id", "text", min_tokens=10)
    # the footer appears in all 6 docs -> 15 pair spans
    assert full.count() == 15
    capped = dedup_substrings(df, "id", "text", min_tokens=10,
                              max_occurrences=3)
    assert capped.count() == 0  # every footer shingle df=6 > 3


def test_dedup_substrings_min_tokens_guard(spark):
    import pytest as _pytest
    from pandance_spark.operators.dedup import dedup_substrings

    df = spark.createDataFrame([(1, "a b")], ["id", "text"])
    with _pytest.raises(ValueError):
        dedup_substrings(df, "id", "text", min_tokens=1)


def test_dedup_substrings_cap_fractures_partially_covered_spans(spark):
    # documented cap semantics: when a span's MIDDLE shingle is hot
    # boilerplate and gets dropped, the span is reported fractured
    # into the surviving sub-spans (a lower bound, not an exact cut)
    from pandance_spark.operators.dedup import dedup_substrings

    hot = "h1 h2 h3 h4"  # the interior 4-gram, also in many other docs
    pair = [
        (1, f"a1 a2 a3 {hot} b1 b2 b3"),
        (2, f"a1 a2 a3 {hot} b1 b2 b3"),
    ]
    noise = [(10 + i, f"x{i} {hot} y{i}") for i in range(8)]
    df = spark.createDataFrame(pair + noise, ["id", "text"])
    uncapped = {
        tuple(r)
        for r in dedup_substrings(df, "id", "text", min_tokens=4).collect()
        if r["doc_a"] == 1 and r["doc_b"] == 2
    }
    assert (1, 2, 0, 0, 10) in uncapped  # the full maximal span
    capped = {
        tuple(r)
        for r in dedup_substrings(
            df, "id", "text", min_tokens=4, max_occurrences=5
        ).collect()
        if r["doc_a"] == 1 and r["doc_b"] == 2
    }
    # the exact-hot 4-gram shingle (df=10) is dropped; shingles
    # overlapping it only partially survive, so the 10-token span
    # comes back fractured — still present as sub-spans, never lost
    # entirely, and never reported at full length
    assert capped and all(s[4] < 10 for s in capped)
    assert all(s[2] >= 0 and s[2] + s[4] <= 10 for s in capped)


def test_dedup_substrings_hot_keys_route_through_join_branch(
    spark, monkeypatch
):
    # r12 re-guard (VERDICT r11 item 1): shingles hotter than
    # _HOT_GROUP_CAP pair via the AQE-splittable self-join instead of
    # the collect aggregation.  Shrink the guard so a small fixture
    # exercises BOTH branches plus the pair-stream union, and assert
    # the output still equals the brute-force span set (and therefore
    # the pure-aggregation path's output at the default guard).
    import pandance_spark.operators.dedup as dd
    from pandance_spark.operators.dedup import dedup_substrings

    hot = "h1 h2 h3 h4"  # f=10: the only shingle above the shrunk guard
    pair = [
        (1, f"a1 a2 a3 {hot} b1 b2 b3"),
        (2, f"a1 a2 a3 {hot} b1 b2 b3"),
    ]
    noise = [(10 + i, f"x{i} {hot} y{i}") for i in range(8)]
    docs = pair + noise
    df = spark.createDataFrame(docs, ["id", "text"])
    want = _brute_spans(docs, 4)
    got_default = {
        tuple(r)
        for r in dedup_substrings(df, "id", "text", min_tokens=4).collect()
    }
    assert got_default == want
    monkeypatch.setattr(dd, "_HOT_GROUP_CAP", 3)
    got_hybrid = {
        tuple(r)
        for r in dedup_substrings(df, "id", "text", min_tokens=4).collect()
    }
    # the (1,2) maximal span straddles both branches: its interior hot
    # shingle arrives from the join, its flanks from the aggregation —
    # the union before the islands merge must reassemble it exactly
    assert got_hybrid == want
    assert (1, 2, 0, 0, 10) in got_hybrid


def test_dedup_substrings_capped_mid_branch_agrees(spark, monkeypatch):
    # capped form with max_occurrences ABOVE the row-memory guard:
    # keys with counts in (_HOT_GROUP_CAP, max_occurrences] must still
    # pair (through the join branch), keys above the cap must drop
    import pandance_spark.operators.dedup as dd
    from pandance_spark.operators.dedup import dedup_substrings

    warm = "w1 w2 w3 w4"  # f=4: above the shrunk guard, within the cap
    hot = "h1 h2 h3 h4"  # f=8: above the cap -> dropped on both paths
    docs = [(i, f"p{i} {warm} q{i} {hot}") for i in range(1, 5)]
    docs += [(10 + i, f"r{i} {hot} s{i}") for i in range(4)]
    df = spark.createDataFrame(docs, ["id", "text"])
    want = {
        tuple(r)
        for r in dedup_substrings(
            df, "id", "text", min_tokens=4, max_occurrences=5
        ).collect()
    }
    monkeypatch.setattr(dd, "_HOT_GROUP_CAP", 3)
    got = {
        tuple(r)
        for r in dedup_substrings(
            df, "id", "text", min_tokens=4, max_occurrences=5
        ).collect()
    }
    assert got == want
    assert want  # the warm spans survive the cap on both paths


def test_dedup_substrings_null_ids_dropped(spark):
    # the pre-r11 join form's (id_a < id_b) predicate silently dropped
    # NULL ids; the collected form keeps that contract via an explicit
    # up-front filter (ADVICE r11)
    from pandance_spark.operators.dedup import dedup_substrings

    clean = [(1, "a b c d e f"), (2, "z a b c d e f")]
    with_null = clean + [(None, "a b c d e f")]
    df_clean = spark.createDataFrame(clean, "id int, text string")
    df_null = spark.createDataFrame(with_null, "id int, text string")
    want = {
        tuple(r)
        for r in dedup_substrings(
            df_clean, "id", "text", min_tokens=4
        ).collect()
    }
    got = {
        tuple(r)
        for r in dedup_substrings(
            df_null, "id", "text", min_tokens=4
        ).collect()
    }
    assert got == want and want


@pytest.mark.parametrize(
    "keys, payload",
    [(["__fp"], ["__id"]), (["__h1", "__h2"], ["__id", "__pos"])],
)
@pytest.mark.parametrize("cap", [None, 2, 5])
def test_guarded_pairs_matches_brute_force_at_guard_edges(
    spark, monkeypatch, keys, payload, cap
):
    # the shared pairing helper of fingerprint_overlap_join and
    # dedup_substrings, with the guard shrunk to 3: one key at exactly
    # the collect bound (in-group pairing), one at bound + 1 (self-join
    # branch when the cap keeps it, dropped otherwise), one at cap
    # (kept) and one at cap + 1 (dropped), plus a singleton
    import itertools
    from collections import defaultdict

    import pandance_spark.operators.dedup as dd

    monkeypatch.setattr(dd, "_HOT_GROUP_CAP", 3)
    bound = 3 if cap is None else min(cap, 3)
    counts = {1, bound, bound + 1} | ({cap, cap + 1} if cap else set())
    rows = []
    for key, c in enumerate(sorted(counts)):
        for j in range(c):
            # two-field payloads repeat ids, so the pair order must
            # fall through to __pos; ids also run against input order
            pay = (c - j,) if len(payload) == 1 else (j // 2, c - j)
            rows.append((key,) * len(keys) + pay)
    stream = spark.createDataFrame(
        rows, ", ".join(f"{c} long" for c in keys + payload)
    )
    got = sorted(
        (tuple(r["a"]), tuple(r["b"]))
        for r in dd._guarded_pairs(stream, keys, payload, cap).collect()
    )
    groups = defaultdict(list)
    for r in rows:
        groups[r[: len(keys)]].append(r[len(keys):])
    want = sorted(
        pair
        for occ in groups.values()
        if cap is None or len(occ) <= cap
        for pair in itertools.combinations(sorted(occ), 2)
    )
    assert got == want and want


def test_capped_dedup_joins_plan_shape(spark):
    # the hot-key anti join stays a broadcast (no SortMergeJoin that
    # would shuffle the whole stream), and the capped plans keep the
    # guard's two key-hash exchanges plus the operator's own one
    from pandance_spark.operators.dedup import (
        dedup_substrings,
        fingerprint_overlap_join,
    )
    from pandance_spark.plans import plan_report

    df = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "x a b c d e f g h")],
        "id long, text string",
    )
    for out in (
        fingerprint_overlap_join(df, "id", "text", k=4, mod=2, max_df=4),
        dedup_substrings(df, "id", "text", min_tokens=4, max_occurrences=4),
    ):
        rep = plan_report(out)
        assert rep["sort_merge_joins"] == 0, rep
        assert rep["broadcast_hash_joins"] == 1, rep
        assert rep["exchanges"] == 3, rep


def test_contamination_spans_cross_corpus(spark):
    from pandance_spark.operators.dedup import contamination_spans

    bench = spark.createDataFrame(
        [(100, "q1 q2 q3 q4 q5")], ["bid", "btext"]
    )
    corpus = spark.createDataFrame(
        [
            (1, "a b q1 q2 q3 q4 q5 c d"),     # full 5-token hit at pos 2
            (2, "q1 q2 q3 q4 x y z"),          # only a 4-token prefix
            (3, "nothing shared here at all"),
        ],
        ["id", "text"],
    )
    got = {
        tuple(r)
        for r in contamination_spans(
            corpus, "id", "text", bench, "bid", "btext", min_tokens=4
        ).collect()
    }
    assert got == {(1, 100, 2, 0, 5), (2, 100, 0, 0, 4)}


def test_contamination_spans_corpus_side_cap(spark):
    from pandance_spark.operators.dedup import contamination_spans

    bench = spark.createDataFrame([(9, "h1 h2 h3 h4")], ["bid", "btext"])
    corpus = spark.createDataFrame(
        [(i, f"x{i} h1 h2 h3 h4 y{i}") for i in range(10)], ["id", "text"]
    )
    full = contamination_spans(
        corpus, "id", "text", bench, "bid", "btext", min_tokens=4
    )
    assert full.count() == 10
    capped = contamination_spans(
        corpus, "id", "text", bench, "bid", "btext",
        min_tokens=4, max_occurrences=5,
    )
    assert capped.count() == 0  # hot corpus shingle (df=10) dropped


def test_remove_boilerplate_per_scope(spark):
    from pandance_spark.operators.dedup import remove_boilerplate

    rows = [
        (1, "a.com", "NAV\nbody one\nFOOTER"),
        (2, "a.com", "NAV\nbody two\nFOOTER"),
        (3, "a.com", "NAV\nbody three"),
        (4, "b.com", "NAV\nother body"),  # NAV df=1 in b.com -> kept
        (5, "b.com", "solo page"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "domain", "text"])
    out = {
        r["doc_id"]: (r["text_clean"], r["n_lines"], r["n_kept"])
        for r in remove_boilerplate(
            df, "doc_id", "text", scope_col="domain", min_docs=3
        ).collect()
    }
    assert out[1] == ("body one\nFOOTER", 3, 2)
    assert out[3] == ("body three", 2, 1)
    assert out[4] == ("NAV\nother body", 2, 2)  # scope isolation
    assert out[5] == ("solo page", 1, 1)


def test_remove_boilerplate_min_frac_and_global(spark):
    from pandance_spark.operators.dedup import remove_boilerplate

    rows = [
        (1, "a.com", "NAV\nbody one\nFOOTER"),
        (2, "a.com", "NAV\nbody two\nFOOTER"),
        (3, "a.com", "NAV\nbody three"),
        (4, "b.com", "NAV\nother body"),
        (5, "b.com", "solo page"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "domain", "text"])
    # FOOTER df=2 >= max(min_docs=2, ceil(0.5*3)=2) -> removed
    frac = {
        r["doc_id"]: r["text_clean"]
        for r in remove_boilerplate(
            df, "doc_id", "text", scope_col="domain",
            min_docs=2, min_frac=0.5,
        ).collect()
    }
    assert frac[1] == "body one"
    # global scope: NAV df=4 across corpus
    glob = {
        r["doc_id"]: r["text_clean"]
        for r in remove_boilerplate(
            df, "doc_id", "text", scope_col=None, min_docs=4
        ).collect()
    }
    assert glob[4] == "other body"
    assert "domain" not in remove_boilerplate(
        df, "doc_id", "text", scope_col=None, min_docs=4
    ).columns


def test_remove_boilerplate_counts_doc_once(spark):
    from pandance_spark.operators.dedup import remove_boilerplate

    # the repeated line inside ONE doc must count as df=1, not 3
    rows = [
        (1, "x", "dup\ndup\ndup\nbody"),
        (2, "x", "other"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "s", "text"])
    out = {
        r["doc_id"]: r["text_clean"]
        for r in remove_boilerplate(
            df, "doc_id", "text", scope_col="s", min_docs=2
        ).collect()
    }
    assert out[1] == "dup\ndup\ndup\nbody"


def test_remove_boilerplate_all_lines_removed_and_validation(spark):
    from pandance_spark.operators.dedup import remove_boilerplate

    rows = [(1, "same"), (2, "same"), (3, "same")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: (r["text_clean"], r["n_kept"])
        for r in remove_boilerplate(
            df, "doc_id", "text", min_docs=2
        ).collect()
    }
    assert out[1] == ("", 0)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        remove_boilerplate(df, "doc_id", "text", min_docs=1)


def test_remove_boilerplate_null_scope_and_null_text(spark):
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )
    from pandance_spark.operators.dedup import remove_boilerplate

    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("domain", StringType()),
        StructField("text", StringType()),
    ])
    rows = [
        (1, None, "NAV\nbody one"),
        (2, None, "NAV\nbody two"),
        (3, None, "NAV"),
        (4, "a.com", "NAV\nkept here"),
        (5, "a.com", None),
    ]
    df = spark.createDataFrame(rows, schema)
    out = {
        r["doc_id"]: (r["text_clean"], r["n_lines"], r["n_kept"])
        for r in remove_boilerplate(
            df, "doc_id", "text", scope_col="domain", min_docs=3
        ).collect()
    }
    # NULL is a real scope: NAV df=3 there -> removed
    assert out[1] == ("body one", 2, 1)
    assert out[3] == ("", 1, 0)
    # a.com scope: NAV df=1 -> kept
    assert out[4] == ("NAV\nkept here", 2, 2)
    # NULL text counts as zero lines, not -1
    assert out[5] == ("", 0, 0)


def test_lsh_params_solver():
    import pytest as _pytest

    from pandance_spark.operators.dedup import lsh_params

    b, r, s = lsh_params(64, 0.8)
    assert b * r == 64 and s <= 0.8
    # the curve sits under but near the target
    assert 0.5 < s <= 0.8
    # low thresholds push toward many bands
    b2, r2, s2 = lsh_params(64, 0.05)
    assert b2 == 64 and r2 == 1
    with _pytest.raises(ValueError):
        lsh_params(0, 0.5)
    with _pytest.raises(ValueError):
        lsh_params(64, 1.0)


def test_containment_join_exact_vs_bruteforce(spark):
    """containment_join must equal the brute-force |A∩B|/|A| over
    string shingle sets (the prefix filter is an optimization, never a
    semantics change)."""
    from pandance_spark.operators.dedup import containment_join

    corpus_rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river"),
        (2, "a completely different document about spark query planning"),
        (3, "quick brown fox jumps over the lazy dog"),
        (4, "spark query planning with adaptive execution and planning"),
    ]
    query_rows = [
        (10, "quick brown fox jumps over"),          # inside 1 and 3
        (11, "spark query planning"),                 # inside 2 and 4
        (12, "nothing shared with anything here xyz"),
        (13, "ab"),                                   # < shingle_n tokens
    ]
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    query = spark.createDataFrame(query_rows, "qid long, text string")

    got = {
        (r["query_id"], r["corpus_id"]): r["containment"]
        for r in containment_join(
            query, corpus, "qid", "text", "doc_id", "text",
            shingle_n=3, threshold=0.5,
        ).collect()
    }

    def shingles(t):
        toks = [w for w in t.lower().split() if w]
        return {
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        }

    expect = {}
    for qid, qt in query_rows:
        qs = shingles(qt)
        if not qs:
            continue
        for cid, ct in corpus_rows:
            c = round(len(qs & shingles(ct)) / len(qs), 6)
            if c >= 0.5:
                expect[(qid, cid)] = c
    assert got == expect
    assert (10, 1) in got and (10, 3) in got and got[(10, 3)] == 1.0
    assert all(q != 13 for q, _ in got)  # shingle-less query -> no rows


def test_containment_join_threshold_boundary(spark):
    """A pair landing exactly ON the threshold must survive the prefix
    pruning (rounded-output semantics, t_eff rule)."""
    from pandance_spark.operators.dedup import containment_join

    # query has 4 distinct 2-shingles; corpus doc shares exactly 2 -> 0.5
    query = spark.createDataFrame(
        [(1, "a b c d e")], "qid long, text string"
    )  # shingles: ab bc cd de
    corpus = spark.createDataFrame(
        [(7, "a b c x y z")], "doc_id long, text string"
    )  # shares: ab bc
    out = containment_join(
        query, corpus, "qid", "text", "doc_id", "text",
        shingle_n=2, threshold=0.5,
    ).collect()
    assert len(out) == 1 and out[0]["containment"] == 0.5


def test_minhash_eval_report(spark):
    from pandance_spark.operators.dedup import minhash_eval

    base = [
        (i, f"alpha{i} beta{i} gamma{i} delta{i} eps{i} zeta{i} "
            f"eta{i} theta{i}")
        for i in range(20)
    ]
    # exact copies: always true pairs AND always LSH candidates
    copies = [(100 + i, t) for i, t in base[:8]]
    df = spark.createDataFrame(base + copies, ["doc_id", "text"])
    r = minhash_eval(df, "doc_id", "text", threshold=0.9).collect()[0]
    assert r["n_docs"] == 28
    assert r["n_true"] == 8
    # identical signatures collide in every band: perfect recall here
    assert r["n_verified"] == 8 and r["recall"] == 1.0
    assert r["n_candidates"] >= 8
    assert 0.0 < r["precision"] <= 1.0
    # empty-truth convention: unrelated docs, recall reported 1.0
    solo = spark.createDataFrame(base[:5], ["doc_id", "text"])
    r2 = minhash_eval(solo, "doc_id", "text", threshold=0.9).collect()[0]
    assert r2["n_true"] == 0 and r2["recall"] == 1.0


def test_minhash_eval_sampled_truth_converges(spark):
    """truth_sample_frac (VERDICT r9 item 6): the sampled estimate is
    deterministic, frac=1.0 is bit-identical to the full run, and at
    frac=0.5 the recall/precision estimates converge on the
    full-corpus values for a corpus of planted dup pairs spanning
    length strata."""
    import pytest

    from pandance_spark.operators.dedup import minhash_eval

    # 120 docs across three length strata, each with an exact copy —
    # every sampled sub-corpus keeps (doc, copy) pairs together only
    # when both survive; with exact copies the LSH surfaces every
    # surviving true pair, so recall stays 1.0 at ANY frac and
    # precision estimates are comparable
    rows = []
    for i in range(120):
        reps = 1 + (i % 3) * 4
        words = " ".join(
            f"w{i}x{j} q{i}y{j} r{i}z{j}" for j in range(reps)
        )
        rows.append((i, words))
        rows.append((1000 + i, words))
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    full = minhash_eval(df, "doc_id", "text", threshold=0.9).collect()[0]
    f1 = minhash_eval(
        df, "doc_id", "text", threshold=0.9, truth_sample_frac=1.0
    ).collect()[0]
    assert tuple(full) == tuple(f1)

    half_a = minhash_eval(
        df, "doc_id", "text", threshold=0.9, truth_sample_frac=0.5
    ).collect()[0]
    half_b = minhash_eval(
        df, "doc_id", "text", threshold=0.9, truth_sample_frac=0.5
    ).collect()[0]
    # seeded hash sample: bit-deterministic across invocations
    assert tuple(half_a) == tuple(half_b)
    # binomial n=240 p=0.5: sample size inside a generous 6-sigma band
    assert 72 <= half_a["n_docs"] <= 168
    assert half_a["n_docs"] < full["n_docs"]
    # estimates converge on the full-corpus metrics
    assert full["recall"] == 1.0 and half_a["recall"] == 1.0
    assert abs(half_a["precision"] - full["precision"]) <= 0.2
    # portable mode draws a DIFFERENT but equally valid sample
    p = minhash_eval(
        df, "doc_id", "text", threshold=0.9, portable=True,
        truth_sample_frac=0.5,
    ).collect()[0]
    assert 72 <= p["n_docs"] <= 168 and p["recall"] == 1.0

    with pytest.raises(ValueError, match="truth_sample_frac"):
        minhash_eval(df, "doc_id", "text", truth_sample_frac=0.0)
    with pytest.raises(ValueError, match="truth_sample_frac"):
        minhash_eval(df, "doc_id", "text", truth_sample_frac=1.5)


def test_record_linkage_cross_table(spark):
    """Two-universe linkage == brute-force cross levenshtein; id
    collisions across tables are harmless (side tags); same-side
    near-dups never leak into the result."""
    from pandance_spark.operators.dedup import record_linkage

    left = spark.createDataFrame(
        [(1, "acme corp"), (2, "globex inc"), (3, "initech"),
         (4, "acme corq")],  # pairs CROSS with right 1 at dist 1; the
        # left-left (4, 1) pair never appears (output is cross-universe
        # by schema, which got == want asserts)
        ["lid", "name"],
    )
    right = spark.createDataFrame(
        [(1, "acme corp"), (2, "acme c0rp"), (3, "globex inc."),
         (4, "wayne ent")],
        ["rid", "name"],
    )
    got = sorted(
        (r["lid"], r["rid"], r["dist"])
        for r in record_linkage(
            left, right, "lid", "name", "rid", "name", max_dist=1
        ).collect()
    )
    import itertools

    def lev(a, b):
        m = [[0] * (len(b) + 1) for _ in range(len(a) + 1)]
        for i in range(len(a) + 1):
            for j in range(len(b) + 1):
                if i == 0 or j == 0:
                    m[i][j] = i + j
                else:
                    m[i][j] = min(
                        m[i - 1][j] + 1,
                        m[i][j - 1] + 1,
                        m[i - 1][j - 1] + (a[i - 1] != b[j - 1]),
                    )
        return m[len(a)][len(b)]

    lrows = {r["lid"]: r["name"] for r in left.collect()}
    rrows = {r["rid"]: r["name"] for r in right.collect()}
    want = sorted(
        (li, ri, lev(a, b))
        for (li, a), (ri, b) in itertools.product(
            lrows.items(), rrows.items()
        )
        if lev(a, b) <= 1
    )
    assert got == want
    # cross-universe contract: left 4 "acme corq" DOES link to right 1
    # "acme corp" (dist 1) — the brute-force want contains it
    assert (4, 1, 1) in want
    # identical id name on both sides disambiguates
    cols = record_linkage(
        left.withColumnRenamed("lid", "id"),
        right.withColumnRenamed("rid", "id"),
        "id", "name", "id", "name",
    ).columns
    assert cols == ["id_x", "id_y", "dist"]


def test_bitext_candidates_blocking_and_filters(spark):
    """Numeral-fingerprint blocking: same ordered digit runs match,
    different order / too-few runs / length-ratio violations do not."""
    from pandance_spark.operators.bitext import bitext_candidates

    left = spark.createDataFrame(
        [(1, "meeting on 14 March 1907 room 3"),
         (2, "only 7 here"),                 # 1 run: below min_runs
         (3, "figures 12 and 34"),
         (4, "no digits at all")],
        ["lid", "t"],
    )
    right = spark.createDataFrame(
        [(10, "reunion le 14 mars 1907 salle 3"),     # matches 1
         (11, "le 1907 du 14 salle 3"),               # same runs, wrong ORDER
         (12, "12 34"),                                # matches 3 but len ratio
         (13, "les chiffres 12 puis 34 suivent")],     # matches 3
        ["rid", "t"],
    )
    got = {(r["lid"], r["rid"]): r for r in bitext_candidates(
        left, right, "lid", "t", "rid", "t",
        min_runs=2, max_len_ratio=2.0,
    ).collect()}
    assert set(got) == {(1, 10), (3, 13)}
    assert got[(1, 10)]["n_runs"] == 3  # runs: 14, 1907, 3
    assert got[(3, 13)]["len_ratio"] >= 1.0


def test_dedup_eval_generic_metrics(spark):
    """dedup_eval (r11): plain confusion arithmetic over any candidate
    and truth pair tables, with the minhash_eval empty-denominator
    conventions."""
    from pandance_spark.operators.dedup import dedup_eval

    cands = spark.createDataFrame(
        [(1, 2), (1, 3), (4, 5)], "id_a long, id_b long"
    )
    truth = spark.createDataFrame(
        [(1, 2), (4, 5), (6, 7)], "id_a long, id_b long"
    )
    docs = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    r = dedup_eval(cands, truth, n_docs=docs).collect()[0]
    assert (r["n_docs"], r["n_true"], r["n_candidates"], r["n_verified"]) \
        == (8, 3, 3, 2)
    assert r["recall"] == pytest.approx(2 / 3, abs=1e-9)
    assert r["precision"] == pytest.approx(2 / 3, abs=1e-9)
    # empty truth -> recall 1.0; empty candidates -> precision 0.0
    empty = cands.filter("id_a < 0")
    r2 = dedup_eval(empty, empty).collect()[0]
    assert (r2["recall"], r2["precision"]) == (1.0, 0.0)
    # no n_docs frame -> column absent
    assert "n_docs" not in dedup_eval(cands, truth).columns
