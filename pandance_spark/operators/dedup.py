"""Deduplication operators for large-scale training-data pipelines.

Engine extensions beyond the reference (SURVEY.md §2.4).  Everything is
expressed as DataFrame plans — the MinHash/SimHash/LSH pipelines are
compositions of per-row Column expressions (no shuffle until the
candidate join) followed by equi-joins on bucket keys, which is the
shape that survives a 1000-executor 100 TB run: work is proportional to
(rows x signature size) plus (candidate pairs), never to rows².

Operators
---------
Exact duplicates:

- ``dedup_exact``        exact duplicate removal, deterministic keeper
- ``duplicate_groups``   exact-duplicate group listing
- ``dedup_paragraphs``   corpus-wide exact paragraph dedup
- ``remove_boilerplate`` lines recurring across a scope's documents

Signatures and LSH:

- ``minhash_signature``  per-row MinHash signature column
- ``minhash_candidates`` / ``dedup_minhash``  LSH banding -> candidate
  pairs [-> exact Jaccard verification]
- ``build_minhash_index`` / ``add_to_minhash_index`` /
  ``dedup_against_index``  the same pipeline against a persisted index
- ``lsh_params``         bands/rows for a target Jaccard threshold
- ``simhash`` / ``simhash_signatures``  64-bit SimHash fingerprints
- ``simhash_candidates`` / ``hamming_candidates``  pairs within a
  Hamming radius

Exact set-similarity joins:

- ``ngram_jaccard_join`` n-gram Jaccard self-join, ``jaccard_topk`` its
  top-k form
- ``overlap_set_join``   pairs sharing at least c distinct n-grams
- ``containment_join``   corpus documents holding a query's n-grams
- ``edit_distance_join`` Levenshtein self-join on positional q-grams

Substring and fingerprint matching:

- ``fingerprint_overlap_join``  pairs sharing winnowed fingerprints
- ``dedup_substrings``   duplicate token spans within one corpus
- ``contamination_spans`` shared token spans corpus x benchmark

Embeddings:

- ``embedding_cosine_pairs`` near-dup pairs by embedding cosine
- ``semantic_dedup``     SemDeDup-style cluster-local dedup

Public outside ``__all__``: ``minhash_eval`` / ``dedup_eval`` (dedup
quality reports) and ``record_linkage`` (the two-table edit-distance
join).

The exact set-similarity joins and the MinHash pipelines share one
implementation of each stage: shingle staging (:func:`_shingle_base`),
the rarest-first global order (:func:`_rarest_first`), exact Jaccard
verification (:func:`_verify_jaccard`), the LSH band self-join
(:func:`_banded_pairs`) and the eval report (:func:`dedup_eval`).
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pandance_spark.functions.text import (
    tokenize,
    word_shingles,
    word_shingles_from_tokens,
)
from pandance_spark.functions.vectors import cosine_similarity

__all__ = [
    "lsh_params",
    "dedup_exact",
    "duplicate_groups",
    "minhash_signature",
    "minhash_candidates",
    "dedup_minhash",
    "simhash",
    "simhash_signatures",
    "simhash_candidates",
    "hamming_candidates",
    "ngram_jaccard_join",
    "containment_join",
    "embedding_cosine_pairs",
    "build_minhash_index",
    "dedup_against_index",
    "add_to_minhash_index",
    "jaccard_topk",
    "edit_distance_join",
    "overlap_set_join",
    "fingerprint_overlap_join",
    "dedup_paragraphs",
    "semantic_dedup",
    "dedup_substrings",
    "contamination_spans",
    "remove_boilerplate",
]

# Mersenne prime 2^31 - 1: universal-hash modulus.  The modulus MUST be
# of the same magnitude as the folded hash universe: with h, a < p the
# product a*h wraps ~a times around p, giving a well-mixed permutation.
# (A larger modulus like 2^61-1 would wrap at most once, leaving the map
# order-preserving in h — every min-hash slot would then be a function
# of min(h) and all slots would be correlated, breaking MinHash.)
# Products stay < 2^62, within the signed-long range.
_PRIME = (1 << 31) - 1


from pandance_spark._kernel import run_concurrently  # noqa: E402
from pandance_spark._kernel import spread_partitions as _spread  # noqa: E402

# Row-memory guard of _guarded_pairs (the hot-key-guarded pairing behind
# fingerprint_overlap_join and dedup_substrings): keys seen more than
# this many times pair through the AQE-splittable self-join instead of
# being collected into a single aggregation row.  Bounds the per-row
# memory of the collected path at ~_HOT_GROUP_CAP list entries plus
# ~_HOT_GROUP_CAP^2/2 emitted combo structs (<~1 MB at 256), independent
# of corpus-wide key frequency.  Scale-independent (it caps a ROW, not a
# partition), so a constant is correct at any input size; read at call
# time, so tests shrink it via monkeypatch to reach the hot path.
_HOT_GROUP_CAP = 256


def _hash_params(num_hashes: int, seed: int = 42):
    """Deterministic (a, b) pairs for the universal hash family
    h_i(x) = (a_i * x + b_i) mod p — seeded, reproducible across runs."""
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, _PRIME), rng.randrange(0, _PRIME))
        for _ in range(num_hashes)
    ]


def dedup_exact(
    df: DataFrame,
    cols: Sequence[str],
    tie_breaker: Optional[str] = None,
) -> DataFrame:
    """Keep exactly one row per distinct value of ``cols``.

    With a ``tie_breaker`` column the kept row is deterministic (the
    minimum tie-breaker wins) — unlike ``dropDuplicates``, whose choice
    depends on physical row order.  One hash-partition shuffle on the
    dedup key; map-side partial aggregation applies.
    """
    cols = list(cols)
    if tie_breaker is None:
        return df.dropDuplicates(cols)
    others = [c for c in df.columns if c not in cols]
    agg = df.groupBy(*cols).agg(
        F.min_by(F.struct(*[F.col(c) for c in others]), F.col(tie_breaker)).alias(
            "__keep"
        )
    )
    return agg.select(*cols, *[F.col(f"__keep.{c}").alias(c) for c in others]).select(
        *df.columns
    )


def duplicate_groups(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Groups of exact duplicates: the key columns + ``dup_count`` (> 1)."""
    return (
        df.groupBy(*cols)
        .agg(F.count(F.lit(1)).alias("dup_count"))
        .filter(F.col("dup_count") > 1)
    )


def _shingle_hash(s: Column, portable: bool = False) -> Column:
    """31-bit-folded shingle hash.  ``portable=False``: xxhash64 mod p
    (fast, engine-specific).  ``portable=True``: md5-derived, exactly
    reproducible in any engine with md5 — two 32-bit halves folded as
    ``((hi % p) * (2^32 % p) + lo) % p`` (note ``2^32 % p == 2`` for
    the Mersenne prime), every intermediate < 2^33 so the arithmetic
    is exact BIGINT in Spark, DuckDB and anything else."""
    if not portable:
        return F.pmod(F.xxhash64(s), F.lit(_PRIME))
    hx = F.md5(s)
    hi = F.conv(F.substring(hx, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(hx, 9, 8), 16, 10).cast("long")
    p = F.lit(_PRIME)
    return F.pmod(F.pmod(hi, p) * F.lit((1 << 32) % _PRIME) + lo, p)


def _band_hash(slice_col: Column, portable: bool = False) -> Column:
    """Hash of one LSH band's signature slice.  ``portable=False``:
    Spark's Murmur3 ``hash`` of the array.  ``portable=True``: first 8
    hex chars of md5 over the comma-joined decimal slot values — the
    canonical string form both Spark's CAST(long AS STRING) and
    DuckDB's BIGINT::VARCHAR produce."""
    if not portable:
        return F.hash(slice_col)
    joined = F.concat_ws(
        ",", F.transform(slice_col, lambda x: x.cast("string"))
    )
    return F.conv(F.substring(F.md5(joined), 1, 8), 16, 10).cast("long")


def _hashed_shingles(
    text: Column, shingle_n: int, portable: bool = False
) -> Column:
    """Per-row array of 31-bit-folded shingle hashes (see
    :func:`_shingle_hash` for the portable variant)."""
    shingles = word_shingles(text, shingle_n)
    return F.transform(shingles, lambda s: _shingle_hash(s, portable))


def _signature_from_hashed(hashed: Column, num_hashes: int, seed: int) -> Column:
    """MinHash signature from a pre-computed hash array.

    ONE fold over the shingle hashes with a ``num_hashes``-slot
    accumulator (the :func:`simhash` vote-fold shape): each step
    ``zip_with``s the running minima against a pure-literal array of
    (a, b) hash parameters.  A single compact expression tree — the
    previous shape (``num_hashes`` separate ``array_min(transform(...))``
    slots) re-walked the array per slot and cost ~6 s of cold Catalyst
    compile per fresh session (r3 driver bench: 15.1 s vs ~3.2 s warm).
    Measured on sf0.1: fold cold 1.2 s vs 1.6 s, warm 1.0 s vs 1.3 s,
    identical signatures.  Empty or null shingle arrays yield the
    all-``p`` sentinel signature, as before.

    The (a, b) literal array is built as ONE ``F.expr`` parse instead
    of 64 struct/lit/alias py4j round-trips — the r10 simhash lesson
    (driver-side Column-tree construction is real wall time; r11
    minhash_eval adjudication measured ~1 s/rep in this path).
    """
    ab = F.expr(
        "array("
        + ",".join(
            f"named_struct('a',{a}L,'b',{b}L)"
            for a, b in _hash_params(num_hashes, seed)
        )
        + ")"
    )
    sentinel = F.array_repeat(F.lit(_PRIME).cast("long"), num_hashes)
    folded = F.aggregate(
        hashed,
        sentinel,
        lambda acc, h: F.zip_with(
            acc,
            ab,
            lambda m, p: F.least(m, F.pmod(p["a"] * h + p["b"], F.lit(_PRIME))),
        ),
    )
    return F.coalesce(folded, sentinel)


def _banded_keys(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    bands: int,
    shingle_n: int,
    seed: int,
    carry: Sequence[str] = (),
    portable: bool = False,
) -> DataFrame:
    """(id, band, bhash[, carry...]) LSH band keys — pure per-row work.

    Tokens, then the hash array, are staged behind projections: the
    shingle expr references the token array 3x and the per-slot
    transforms reference the hash array 64x — unstaged, each reference
    re-runs the whole upstream chain.  Works unchanged on streaming
    DataFrames (no shuffle, no state); ``carry`` columns (e.g. an
    event-time column for a windowed stream-stream join) ride along.
    """
    if num_hashes % bands != 0:
        raise ValueError("num_hashes must be divisible by bands")
    carry = list(carry)
    tok_df = df.select(
        F.col(id_col), *carry, tokenize(F.col(text_col)).alias("__toks")
    )
    hashed_df = tok_df.select(
        F.col(id_col),
        *carry,
        F.transform(
            word_shingles_from_tokens(F.col("__toks"), shingle_n),
            lambda s: _shingle_hash(s, portable),
        ).alias("__hashed"),
    )
    return _bands_from_hashed(
        hashed_df, id_col, num_hashes, bands, seed, carry=carry,
        portable=portable,
    )


def _bands_from_hashed(
    hashed_df: DataFrame,
    id_col: str,
    num_hashes: int,
    bands: int,
    seed: int,
    carry: Sequence[str] = (),
    portable: bool = False,
) -> DataFrame:
    """Signature + LSH band explode from a pre-staged ``__hashed``
    column (31-bit-folded shingle hashes).  The affine signature fold
    is engine-agnostic integer arithmetic; ``portable`` only switches
    the band-slice hash (see :func:`_band_hash`)."""
    carry = list(carry)
    rows_per_band = num_hashes // bands
    with_sig = hashed_df.select(
        id_col,
        *carry,
        _signature_from_hashed(F.col("__hashed"), num_hashes, seed).alias("__sig"),
    )

    # band structs as ONE F.expr parse (not bands x ~10 py4j calls):
    # same SQL semantics as _band_hash — hash() IS Murmur3 over the
    # array, and the portable branch replays _band_hash's md5 of the
    # comma-joined decimal slots (r11 minhash_eval adjudication)
    def band_sql(i: int) -> str:
        sl = f"slice(__sig, {i * rows_per_band + 1}, {rows_per_band})"
        if portable:
            h = (
                "cast(conv(substring(md5(concat_ws(',', "
                f"transform({sl}, x -> cast(x as string)))), 1, 8), "
                "16, 10) as bigint)"
            )
        else:
            h = f"hash({sl})"
        return f"named_struct('band',{i},'bhash',{h})"

    bexpr = F.expr(
        "array(" + ",".join(band_sql(i) for i in range(bands)) + ")"
    )
    return with_sig.select(
        id_col, *carry, F.explode(bexpr).alias("__b")
    ).select(id_col, *carry, "__b.band", "__b.bhash")


def minhash_signature(
    text: Column, num_hashes: int = 64, shingle_n: int = 3, seed: int = 42
) -> Column:
    """MinHash signature (array<long> of length ``num_hashes``) of the
    word-``shingle_n``-gram set of ``text``.

    Entirely per-row Column expressions: shingle -> xxhash64 -> fold to
    31 bits -> for each hash function take the min of
    ``(a*x + b) mod p`` over the shingles.  No shuffle, no UDF; rows
    with fewer than ``shingle_n`` tokens get an empty-set signature of
    all p (sentinel max).

    NOTE: as a single inline Column this re-derives the shingle hashes
    per slot; the pipeline entry points (``minhash_candidates``)
    stage the hash array through a projection instead — prefer them
    for bulk work.
    """
    return _signature_from_hashed(
        _hashed_shingles(text, shingle_n), num_hashes, seed
    )


def minhash_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    seed: int = 42,
    portable: bool = False,
) -> DataFrame:
    """LSH candidate pairs: ids whose signatures collide in >= 1 band.

    signature -> split into ``bands`` rows of ``num_hashes/bands``
    values -> hash each band -> explode -> self-equi-join on
    (band_index, band_hash).  The join is a plain shuffle hash join on a
    compact key; output is (id_a, id_b) with id_a < id_b, distinct.
    """
    if num_hashes % bands != 0:
        raise ValueError("num_hashes must be divisible by bands")
    df = _spread(df)
    # eager-checkpoint the banded keys: the self-join evaluates BOTH
    # branches, Catalyst does not dedupe identical map pipelines, and a
    # lazy checkpoint would materialize inside the join job where both
    # branches can race to compute the same RDD.  The checkpoint is
    # rows x bands x ~16B — far smaller than the corpus.
    banded = _banded_keys(
        df, id_col, text_col, num_hashes, bands, shingle_n, seed,
        portable=portable,
    ).localCheckpoint(eager=True)
    return _banded_pairs(banded, id_col)


def _banded_pairs(banded: DataFrame, id_col: str) -> DataFrame:
    """Distinct (id_a, id_b) pairs colliding in >= 1 LSH band, from a
    checkpointed ``(id, band, bhash)`` frame."""
    a = banded.withColumnRenamed(id_col, "id_a")
    b = banded.withColumnsRenamed({id_col: "id_b", "band": "band_b", "bhash": "bhash_b"})
    pairs = a.join(
        b,
        (a["band"] == b["band_b"])
        & (a["bhash"] == b["bhash_b"])
        & (a["id_a"] < b["id_b"]),
        "inner",
    )
    return pairs.select("id_a", "id_b").distinct()


def dedup_minhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Near-duplicate pairs: LSH candidates verified by EXACT Jaccard
    similarity of the shingle sets (>= threshold).

    Returns (id_a, id_b, jaccard).  ONE tokenize/shingle/hash pass
    (:func:`_shingle_base`) feeds both the signature pipeline and the
    verification sets: the shared checkpoint carries the 31-bit-folded
    hash array (signature input, bit-identical to
    :func:`minhash_candidates`) and the distinct 64-bit shingle-hash
    set.  Candidates are the band collisions of :func:`_banded_pairs`;
    :func:`_verify_jaccard` intersects the 64-bit hash sets instead of
    the shingle strings — same Jaccard (collisions over a document's
    few-hundred shingles are ~2^-64 birthday-improbable) at a fraction
    of the compare cost.
    """
    if num_hashes % bands != 0:
        raise ValueError("num_hashes must be divisible by bands")
    base = _shingle_base(
        _spread(df), id_col, tokenize(F.col(text_col)), shingle_n, fold="xxhash"
    ).localCheckpoint(eager=True)
    # banded keys checkpointed too: the candidate self-join evaluates
    # both branches and would otherwise run the signature fold twice
    banded = _bands_from_hashed(
        base.select(F.col("__id").alias(id_col), "__hashed"),
        id_col,
        num_hashes,
        bands,
        seed,
    ).localCheckpoint(eager=True)
    sets = base.select("__id", "__set")
    return _verify_jaccard(_banded_pairs(banded, id_col), sets, sets, threshold)


def _shingle_base(
    df: DataFrame,
    id_col: str,
    toks: Column,
    shingle_n: int,
    fold: Optional[str] = None,
) -> DataFrame:
    """The one shingle staging of the set-similarity joins:
    ``(__id, __set[, __hashed])`` per row of ``df``, where ``toks`` is a
    token-array Column over ``df``.  ``__set`` is the distinct 64-bit
    xxhash64 shingle-hash set (exact verification and prefix
    filtering).  ``fold`` adds ``__hashed``, the 31-bit-folded hash
    array that feeds the MinHash signature: ``"xxhash"`` folds the same
    64-bit hashes, so each shingle is hashed once; ``"md5"`` is the
    portable hash of :func:`_shingle_hash`.  Neither spread nor
    checkpointed: each caller keeps its own partitioning and barrier.
    """
    staged = (
        df.select(F.col(id_col).alias("__id"), toks.alias("__toks"))
        .select(
            "__id",
            word_shingles_from_tokens(F.col("__toks"), shingle_n).alias("__sh"),
        )
    )
    sh64 = F.transform("__sh", lambda s: F.xxhash64(s))
    if fold is None:
        return staged.select("__id", F.array_distinct(sh64).alias("__set"))
    if fold == "md5":
        hashed = F.transform("__sh", lambda s: _shingle_hash(s, portable=True))
    else:  # stage the 64-bit hashes so the fold does not hash again
        staged = staged.select("__id", sh64.alias("__sh"))
        sh64 = F.col("__sh")
        hashed = F.transform("__sh", lambda h: F.pmod(h, F.lit(_PRIME)))
    return staged.select(
        "__id", F.array_distinct(sh64).alias("__set"), hashed.alias("__hashed")
    )


def _set_elements(base: DataFrame) -> DataFrame:
    """The exploded ``(id, sh)`` element stream of a :func:`_shingle_base`
    frame; documents without shingles contribute no rows."""
    return base.select(F.col("__id").alias("id"), F.explode("__set").alias("sh"))


def _rarest_first(stream: DataFrame, corpus: Optional[DataFrame] = None) -> DataFrame:
    """``(id, __set)``: each id's elements of the exploded ``(id, sh)``
    ``stream`` as one array in the global rarest-first order that every
    prefix filter here slices its prefix from — ascending document
    frequency, ties by element (the canonical AllPairs/PPJoin order:
    prefixes of each set's RAREST elements generate an order of
    magnitude fewer candidates on natural text than raw-hash order;
    the filters are correct under any fixed total order).  Frequencies
    count ``stream`` itself, or the ``corpus`` ``sh`` stream when
    given; an element the corpus lacks has frequency 0 and sorts
    first."""
    freq = (stream if corpus is None else corpus).groupBy("sh").agg(
        F.count("*").alias("__df")
    )
    if corpus is None:
        ranked = stream.join(freq, "sh")
    else:
        ranked = stream.join(freq, "sh", "left").withColumn(
            "__df", F.coalesce(F.col("__df"), F.lit(0))
        )
    return (
        ranked.groupBy("id")
        .agg(F.sort_array(F.collect_list(F.struct("__df", "sh"))).alias("__arr"))
        .select("id", F.transform("__arr", lambda x: x["sh"]).alias("__set"))
    )


def _verify_jaccard(
    cands: DataFrame, sets_a: DataFrame, sets_b: DataFrame, threshold: float
) -> DataFrame:
    """Exact Jaccard verification of every Jaccard join: fetch both
    sides' full sets onto each candidate pair (two hash joins) and keep
    the pairs whose Jaccard, rounded to 6 dp, is ``>= threshold``.
    ``cands`` holds the pair's two keys as its first two columns;
    ``sets_a``/``sets_b`` are ``(key, set)`` frames for either side.
    Returns ``(key_a, key_b, jaccard)``."""
    ka, kb = cands.columns[:2]
    joined = cands.join(sets_a.toDF(ka, "__set_a"), ka).join(
        sets_b.toDF(kb, "__set_b"), kb
    )
    inter = F.size(F.array_intersect("__set_a", "__set_b"))
    union = F.size("__set_a") + F.size("__set_b") - inter
    jacc = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return (
        joined.withColumn("jaccard", F.round(jacc, 6))
        .filter(F.col("jaccard") >= threshold)
        .select(ka, kb, "jaccard")
    )


def _token_hash64(t: Column, seed: int, portable: bool) -> Column:
    """64-bit token hash as a long.  ``portable=False``: xxhash64 (fast,
    engine-specific).  ``portable=True``: the first 16 hex chars of md5,
    reproducible bit-for-bit in any engine with md5 (the DuckDB oracle
    recomputes it) — two 32-bit halves recombined so no unsigned-long
    parsing is needed on either side."""
    if not portable:
        return F.xxhash64(t, F.lit(seed))
    hx = F.md5(t)
    hi = F.conv(F.substring(hx, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(hx, 9, 8), 16, 10).cast("long")
    return F.shiftleft(hi, 32).bitwiseOR(lo)


def simhash(text: Column, seed: int = 42, portable: bool = False) -> Column:
    """64-bit SimHash of the token set, as a long.

    Per-token 64-bit hash (xxhash64, or md5-derived when ``portable``);
    each output bit is the sign of the sum of (+1 / -1) contributions of
    that bit across tokens.  Pure Column expressions (64 aggregate folds
    over the per-row token-hash array).
    """
    hashed = F.transform(tokenize(text), lambda t: _token_hash64(t, seed, portable))
    # one fold over the token hashes with a 64-slot vote accumulator
    # (NOT 64 separate aggregates — that re-walks the array per bit and
    # bloats codegen).  `masks` is a pure-literal array, safe to
    # reference inside the lambda bodies (no plan attributes).
    mask_vals = [(1 << b) if b < 63 else -(1 << 63) for b in range(64)]
    masks = F.array(*[F.lit(m).cast("long") for m in mask_vals])
    votes = F.aggregate(
        hashed,
        F.array_repeat(F.lit(0), 64),
        lambda acc, h: F.zip_with(
            acc,
            masks,
            lambda a, m: a + F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1),
        ),
    )
    weighted = F.zip_with(
        votes,
        masks,
        lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(
        weighted, F.lit(0).cast("long"), lambda acc, x: acc.bitwiseOR(x)
    )


def simhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    seed: int = 42,
    portable: bool = False,
) -> DataFrame:
    """Per-row 64-bit SimHash as (id, __sh) — the scale/perf path.

    Explode tokens and compute the 64 bit-votes as plain ``sum``
    aggregates (bit_count-style extraction per bit).  Hash aggregation
    with map-side partial combine does the heavy lifting on flat unsafe
    rows — unlike the :func:`simhash` Column fold, no per-token 64-slot
    array is allocated, and token rows of a document aggregate fully
    within their input partition, so the shuffle carries only one
    64-counter row per document.  A bit is set when strictly more than
    half the token hashes have it set (identical to the sign-of-votes
    rule in :func:`simhash`); tokenless documents get signature 0.
    """
    return _simhash_signatures_from_tokens(
        df.select(
            F.col(id_col).alias("id"),
            tokenize(F.col(text_col)).alias("__toks"),
        ),
        seed,
        portable,
    )


def _simhash_signatures_from_tokens(
    toks_df: DataFrame, seed: int = 42, portable: bool = False
) -> DataFrame:
    """:func:`simhash_signatures` from a pre-tokenized ``(id, __toks)``
    frame, for callers that tokenize once for several signals."""
    ids = toks_df.select("id")
    tok = toks_df.select(
        "id",
        F.explode(F.col("__toks")).alias("__t"),
    ).select("id", _token_hash64(F.col("__t"), seed, portable).alias("__h"))
    # The 64 bit-vote aggregates and the 64-term OR recombination are
    # built as parsed SQL strings, not Column-by-Column: the unrolled
    # Column form costs ~2.6 s of py4j round trips PER BUILD (measured
    # r10 — half of dedup_simhash's bench wall was driver-side tree
    # construction, re-paid every rep), while F.expr parses each
    # aggregate in one call.  The physical plan is identical.
    cnts = tok.groupBy("id").agg(
        F.count("*").alias("__n"),
        *[
            F.expr(f"sum(shiftrightunsigned(__h, {b}) & 1) AS __c{b}")
            for b in range(64)
        ],
    )
    # shiftleft(1L, 63) is min-long — the sign bit's mask — with no
    # overflowing literal; constant-folded by Catalyst
    or_terms = " | ".join(
        f"if(__c{b} * 2 > __n, shiftleft(1L, {b}), 0L)" for b in range(64)
    )
    sigs = cnts.select("id", F.expr(or_terms).alias("__sh"))
    # tokenless documents never reach the aggregate; they carry sig 0
    return ids.join(sigs, "id", "left").select(
        "id", F.coalesce("__sh", F.lit(0).cast("long")).alias("__sh")
    )


def simhash_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    seed: int = 42,
    portable: bool = False,
) -> DataFrame:
    """Near-dup pairs with SimHash Hamming distance <= ``max_hamming``.

    Pigeonhole banding via :func:`hamming_candidates`; returns
    (id_a, id_b, hamming).
    """
    df = _spread(df)
    # checkpoint: the banding self-join evaluates both branches — the
    # signature fold must not run twice (same reason as dedup_minhash)
    sh = simhash_signatures(df, id_col, text_col, seed, portable).localCheckpoint(eager=True)
    return hamming_candidates(sh, "id", "__sh", max_hamming)


def hamming_candidates(
    sig: DataFrame,
    id_col: str,
    sig_col: str,
    max_hamming: int = 3,
) -> DataFrame:
    """All pairs whose 64-bit signatures differ in <= ``max_hamming``
    bits, WITHOUT an all-pairs comparison.

    Pigeonhole banding: split the 64 bits into ``max_hamming + 1``
    chunks; any pair within the radius agrees exactly on >= 1 chunk, so
    an equi-join per chunk finds all candidates, then the exact popcount
    filter keeps true ones.  Returns (id_a, id_b, hamming).

    Signature-agnostic — SimHash (:func:`simhash_candidates`), image
    perceptual hashes (``multimodal.image_near_dup``), or any other
    64-bit locality-preserving code.  The caller should checkpoint
    ``sig`` if producing it is expensive: the self-join evaluates the
    input twice.
    """
    if not (0 <= max_hamming <= 31):
        raise ValueError(f"max_hamming must be in [0, 31], got {max_hamming}")
    chunks = max_hamming + 1
    width = 64 // chunks
    sh = sig.select(F.col(id_col).alias("id"), F.col(sig_col).alias("__sh"))
    banded = sh.select(
        "id",
        "__sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk"),
                        F.shiftrightunsigned(F.col("__sh"), i * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("ckey"),
                    )
                    for i in range(chunks)
                ]
            )
        ).alias("__c"),
    ).select("id", "__sh", "__c.chunk", "__c.ckey")
    a = banded.withColumnsRenamed({"id": "id_a", "__sh": "sh_a"})
    b = banded.withColumnsRenamed(
        {"id": "id_b", "__sh": "sh_b", "chunk": "chunk_b", "ckey": "ckey_b"}
    )
    pairs = (
        a.join(
            b,
            (a["chunk"] == b["chunk_b"])
            & (a["ckey"] == b["ckey_b"])
            & (a["id_a"] < b["id_b"]),
            "inner",
        )
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        pairs.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def ngram_jaccard_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT n-gram Jaccard similarity self-join (no approximation).

    AllPairs/PPJoin-style **prefix filtering**: sort each document's
    distinct shingle-hash set under a fixed global order; a pair with
    ``J >= t`` MUST share an element within the first
    ``|s| - ceil(t*|s|) + 1`` elements of each side (if the prefixes
    were disjoint, the overlap could be at most ``|s| - prefix_len <
    t * |s| <= t * |union|``).  So the inverted index holds only the
    prefix — candidate generation shrinks ~``(1-t)²``-fold versus
    indexing every shingle — and exact Jaccard on the full sets
    verifies each candidate.  The stages are the shared ones: shingle
    staging (:func:`_shingle_base`), the rarest-first global order
    (:func:`_rarest_first`), the prefix join with a candidate length
    filter (``t * max(|a|,|b|) <= min(|a|,|b|)``) and PPJoin's
    positional filter, then :func:`_verify_jaccard`.

    Shuffles: one explode+equi-join on 8-byte prefix hashes (work
    proportional to prefix collisions, never rows²), then two hash
    joins to fetch the full sets.  Returns (id_a, id_b, jaccard),
    id_a < id_b, jaccard rounded to 6dp.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError("threshold must be in (0, 1]")
    # checkpoint the exploded shingle stream: it feeds BOTH the global
    # document-frequency aggregate and the per-document set build, and
    # Exchange reuse across those branches is not guaranteed — without
    # the checkpoint the tokenize/shingle/hash pipeline runs twice
    raw = _set_elements(
        _shingle_base(_spread(df), id_col, tokenize(F.col(text_col)), shingle_n)
    ).localCheckpoint(eager=True)
    return _ngram_jaccard(raw, threshold)


def _ngram_jaccard(raw: DataFrame, threshold: float) -> DataFrame:
    """:func:`ngram_jaccard_join` from an ``(id, sh)`` element stream
    (:func:`_set_elements`) with a validated ``threshold``.  ``raw``
    must be cheap to re-evaluate (a projection of a checkpoint): it
    feeds both the document-frequency aggregate and the set build."""
    cands, sets_df = _ngram_candidates(raw, threshold)
    return _verify_jaccard(cands, sets_df, sets_df, threshold)


def _ngram_candidates(raw: DataFrame, threshold: float):
    """Candidate-generation stage of :func:`_ngram_jaccard`, separate so
    scale probes can measure candidate volume (the quantity that must
    grow ∝ prefix collisions, not rows²) without paying for
    verification.  Returns ``(cands, sets_df)``."""
    # checkpoint: consumed by the prefix index AND both verification
    # joins; Exchange reuse across renamed branches is not guaranteed,
    # a checkpoint is
    sets_df = _rarest_first(raw).localCheckpoint(eager=True)
    # the output filter keeps ROUNDED jaccard >= threshold, which
    # admits exact J down to threshold - 5e-7: every pruning bound
    # below must use that effective threshold, or boundary pairs
    # (round(J,6) == t, J < t) silently vanish from the result
    t_eff = max(float(threshold) - 5e-7, 1e-9)
    n = F.size("__set")
    prefix_len = F.greatest(
        n - F.ceil(n * F.lit(t_eff)) + 1, F.lit(1)
    ).cast("int")
    # positions (0-based, within the df-sorted set) ride along so the
    # PPJoin positional filter below can bound each pair's best-case
    # overlap — prefix membership alone admits ~3x more candidates
    inv = sets_df.select(
        "id",
        n.alias("__n"),
        F.posexplode(F.slice("__set", F.lit(1), prefix_len)).alias("pos", "sh"),
    )
    a = inv.withColumnsRenamed({"id": "id_a", "__n": "__n_a", "pos": "pos_a"})
    b = inv.withColumnsRenamed(
        {"id": "id_b", "sh": "sh_b", "__n": "__n_b", "pos": "pos_b"}
    )
    t = F.lit(t_eff)
    matches = a.join(
        b,
        (a["sh"] == b["sh_b"])
        & (a["id_a"] < b["id_b"])
        # length filter: J >= t forces t*max(|a|,|b|) <= min(|a|,|b|)
        & (a["__n_a"] * t <= b["__n_b"])
        & (b["__n_b"] * t <= a["__n_a"]),
        "inner",
    )
    # PPJoin positional filter (aggregate form).  Per candidate pair let
    # c = number of prefix-prefix matches and (pa, pb) the 0-based
    # positions of the LAST match.  Sets are sorted under one global
    # order, so positions of shared elements are monotone: any shared
    # element NOT matched by the prefix join lies strictly after the
    # last match on BOTH sides (if it preceded it on either side it
    # would sit inside both prefixes and have been matched).  Hence
    #   overlap <= c + min(|a| - pa - 1, |b| - pb - 1)
    # and J >= t forces overlap >= t/(1+t) * (|a| + |b|).  Pairs whose
    # upper bound misses that floor are pruned BEFORE the two set-fetch
    # joins and the exact intersect — measured 43k -> 13k candidates on
    # the sf0.1 corpus (t=0.8), at the cost of widening the dedup
    # aggregate (count/max/max vs plain distinct).
    grouped = matches.groupBy("id_a", "id_b").agg(
        F.count(F.lit(1)).alias("__c"),
        F.max("pos_a").alias("__pa"),
        F.max("pos_b").alias("__pb"),
        F.first("__n_a").alias("__na"),
        F.first("__n_b").alias("__nb"),
    )
    overlap_floor = t / (F.lit(1.0) + t) * (F.col("__na") + F.col("__nb"))
    overlap_ub = F.col("__c") + F.least(
        F.col("__na") - F.col("__pa") - 1, F.col("__nb") - F.col("__pb") - 1
    )
    cands = grouped.filter(
        overlap_ub.cast("double") >= overlap_floor
    ).select("id_a", "id_b")
    return cands, sets_df


def embedding_cosine_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    block_col: Optional[str] = None,
    strategy: str = "auto",
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine similarity >= threshold.
    Returns (id_a, id_b, cosine) with id_a < id_b, cosine rounded to 6dp.

    Strategies:

    - ``"gemm"``: broadcast the whole table as a numpy matrix and stream
      partitions through a vectorized matmul (Arrow batches).  One scan,
      no shuffle — the right shape whenever one side fits in executor
      memory (the classic broadcast-join analog for dense similarity).
    - ``"expr"``: (optionally blocked) self-join + per-pair Column
      cosine.  With ``block_col`` (cluster/label/LSH bucket) the join is
      an equi-join on the block — the 100 TB path where nothing fits in
      memory; without a block it degenerates to a cross join.
    - ``"auto"``: with ``block_col``, blocked expr; without, gemm ONLY
      when the Catalyst plan-size estimate fits the broadcast threshold
      (a driver ``collect()`` must never be picked implicitly on a big
      table — r1 verdict).  A non-broadcastable unblocked table falls
      back to LSH-bucket blocking (random-hyperplane buckets + Hamming-1
      multi-probe): approximate with high recall, but scale-safe.
      Explicit ``strategy="gemm"`` keeps the documented
      broadcast-sized-by-contract behavior.
    """
    if strategy == "auto":
        if block_col:
            strategy = "expr"
        else:
            limit = _gemm_limit_bytes(df.sparkSession)
            sz = _vector_table_bytes(df, id_col, vec_col)
            # unknown size -> assume big (the scale-safe default)
            strategy = (
                "gemm" if sz is not None and sz <= max(limit, 0) else "lsh"
            )
    if strategy == "gemm":
        return _gemm_cosine_pairs(df, id_col, vec_col, threshold)
    if strategy == "lsh":
        return _lsh_blocked_cosine_pairs(df, id_col, vec_col, threshold)
    if strategy != "expr":
        raise ValueError(f"unknown strategy {strategy!r}")
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
        *([F.col(block_col).alias("blk")] if block_col else []),
    )
    ren = {"id": "id_a", "vec": "vec_a"}
    ren_b = {"id": "id_b", "vec": "vec_b"}
    if block_col:
        ren["blk"], ren_b["blk"] = "blk_a", "blk_b"
    a = base.withColumnsRenamed(ren)
    b = base.withColumnsRenamed(ren_b)
    cond = a["id_a"] < b["id_b"]
    if block_col:
        cond = (a["blk_a"] == b["blk_b"]) & cond
    pairs = a.join(b, cond, "inner")
    cos = F.round(cosine_similarity(F.col("vec_a"), F.col("vec_b")), 6)
    out = pairs.withColumn("cosine", cos).filter(F.col("cosine") >= threshold)
    return out.select("id_a", "id_b", "cosine")


def _gemm_limit_bytes(spark) -> int:
    from pandance_spark._kernel import parse_bytes_conf

    return parse_bytes_conf(
        spark, "spark.sql.autoBroadcastJoinThreshold", 10 * 1024 * 1024
    )


def _default_row_bytes(schema) -> int:
    """Replica of Catalyst's per-row default pricing
    (EstimationUtils.getSizePerRow): 8 + sum of attribute defaultSize,
    where ArrayType is priced at ONE element — the source of the
    underestimate for embedding tables."""
    from pyspark.sql import types as T

    def default_size(dt) -> int:
        if isinstance(dt, T.ArrayType):
            return default_size(dt.elementType)
        if isinstance(dt, T.StringType):
            return 20
        if isinstance(dt, T.BinaryType):
            return 100
        if isinstance(dt, T.StructType):
            return sum(default_size(f.dataType) for f in dt.fields)
        if isinstance(dt, (T.DoubleType, T.LongType, T.TimestampType, T.DateType)):
            return 8
        if isinstance(dt, (T.FloatType, T.IntegerType)):
            return 4
        return 8

    return 8 + sum(default_size(f.dataType) for f in schema.fields)


def _vector_table_bytes(df: DataFrame, id_col: str, vec_col: str):
    """Best-effort IN-MEMORY size estimate of (id, vector) in bytes.

    Catalyst's ``sizeInBytes`` prices ArrayType at one element, wildly
    underestimating embedding tables built by expressions; for file
    scans it reports real (compressed, float-width) on-disk bytes.  Two
    regimes, detected from the plan's leaf nodes:

    - all leaves are file relations: on-disk bytes x 4 margin
      (decompression + float->double widening);
    - anything computed/in-memory: rows estimated by unwinding
      Catalyst's own default row pricing, re-priced at the ACTUAL
      vector width (one ``first()`` peek — metadata-scale work).

    Returns None when nothing is known (callers treat that as big).
    """
    from pandance_spark._kernel import plan_size_bytes

    proj = df.select(id_col, vec_col)
    sz = plan_size_bytes(proj)
    if sz is None:
        return None
    file_based = False
    try:
        leaves = proj._jdf.queryExecution().optimizedPlan().collectLeaves()
        it = leaves.iterator()
        file_based = it.hasNext()
        while it.hasNext():
            cls = it.next().getClass().getSimpleName()
            if cls not in (
                "LogicalRelation",
                "HiveTableRelation",
                "DataSourceV2Relation",
                "DataSourceV2ScanRelation",
            ):
                file_based = False
                break
    except Exception:
        file_based = False
    if file_based:
        return sz * 4
    rows_est = max(sz // _default_row_bytes(proj.schema), 1)
    try:
        first = proj.select(F.size(F.col(vec_col)).alias("d")).first()
    except Exception:
        return None
    dim = first["d"] if first is not None and first["d"] is not None else 0
    return rows_est * (dim * 8 + 32)


def _lsh_blocked_cosine_pairs(
    df: DataFrame, id_col: str, vec_col: str, threshold: float
) -> DataFrame:
    """Cosine pairs blocked by random-hyperplane LSH buckets — the
    unblocked-at-scale fallback (approximate, high recall for
    high-threshold near-dup use).  One side explodes to its bucket plus
    all Hamming-1 neighbors, so any pair whose buckets differ by <= 1
    plane sign is compared; equi-join on bucket, exact cosine filter."""
    from pandance_spark.operators.similarity import lsh_bucket

    num_planes = 8
    # max() skips NULL vectors — a NULL in the first row must not yield
    # dim=None (empty input and all-NULL input both produce no pairs)
    dim_row = df.agg(F.max(F.size(F.col(vec_col))).alias("d")).first()
    dim = dim_row["d"] if dim_row is not None else None
    if dim is None or dim <= 0:
        return df.sparkSession.createDataFrame(
            [], _cosine_out_schema(df, id_col)
        )
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
        lsh_bucket(F.col(vec_col), dim, num_planes).alias("__b"),
    )
    probes = F.array(
        F.col("__b"),
        *[F.col("__b").bitwiseXOR(F.lit(1 << i)) for i in range(num_planes)],
    )
    a = base.select(
        F.col("id").alias("id_a"),
        F.col("vec").alias("vec_a"),
        F.explode(probes).alias("__pb"),
    )
    b = base.withColumnsRenamed({"id": "id_b", "vec": "vec_b"})
    pairs = a.join(
        b, (a["__pb"] == b["__b"]) & (a["id_a"] < b["id_b"]), "inner"
    ).dropDuplicates(["id_a", "id_b"])
    cos = F.round(cosine_similarity(F.col("vec_a"), F.col("vec_b")), 6)
    return (
        pairs.withColumn("cosine", cos)
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def _cosine_out_schema(df: DataFrame, id_col: str):
    from pyspark.sql import types as T

    id_type = df.schema[id_col].dataType
    return T.StructType(
        [
            T.StructField("id_a", id_type),
            T.StructField("id_b", id_type),
            T.StructField("cosine", T.DoubleType()),
        ]
    )


def _gemm_cosine_pairs(
    df: DataFrame, id_col: str, vec_col: str, threshold: float
) -> DataFrame:
    """All-pairs cosine via broadcast numpy matrix + per-partition matmul."""
    import numpy as np

    # Arrow-batched driver fetch (broadcast-sized by contract):
    # toPandas moves the (id, vec) table as columnar batches instead of
    # pickled Row objects — ~2x faster at the 10 MB broadcast ceiling
    pdf0 = df.select(id_col, vec_col).toPandas()
    if len(pdf0) == 0:
        return df.sparkSession.createDataFrame([], _cosine_out_schema(df, id_col))
    # preserve the id dtype (string/uuid ids must not be coerced)
    ids = pdf0[id_col].to_numpy()
    mat = np.array(list(pdf0[vec_col]), dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0] = 1.0
    unit = mat / norms[:, None]
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast((ids, unit))

    out_schema = _cosine_out_schema(df, id_col)

    def _block(batches):
        import pandas as pd

        all_ids, all_unit = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            bids = pdf[id_col].to_numpy()
            bmat = np.array(list(pdf[vec_col]), dtype=np.float64)
            bn = np.linalg.norm(bmat, axis=1)
            bn[bn == 0] = 1.0
            sims = np.round((bmat / bn[:, None]) @ all_unit.T, 6)
            # filter on the ROUNDED value (matches the expr path and the
            # SQL oracle); id_a < id_b keeps each unordered pair once
            ii, jj = np.nonzero(
                (sims >= threshold) & (bids[:, None] < all_ids[None, :])
            )
            yield pd.DataFrame(
                {"id_a": bids[ii], "id_b": all_ids[jj], "cosine": sims[ii, jj]}
            )

    return _spread(df.select(id_col, vec_col)).mapInPandas(_block, out_schema)


# --------------------------------------------------------------------------
# incremental dedup against a persisted MinHash index
# --------------------------------------------------------------------------


def build_minhash_index(
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    table: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    seed: int = 42,
    num_buckets: int = 32,
) -> None:
    """Persist the corpus's MinHash-LSH state for incremental dedup.

    The production ingestion pattern: the corpus is deduped ONCE, its
    banded signatures and shingle sets are persisted, and every later
    batch of new documents is checked against the index WITHOUT
    touching (re-reading, re-hashing, or re-shuffling) the corpus —
    the property that makes continuous 100 TB ingestion affordable.

    Staging and banding are :func:`dedup_minhash`'s.  Three catalog
    tables (same layout idea as the persisted IVF index,
    ``similarity.build_ivf_index``):

    - ``{table}_bands`` (id, band, bhash) BUCKETED BY ``bhash``: the
      candidate equi-join on (band, bhash) reuses storage bucketing,
      so only the (small) new-batch side shuffles.
    - ``{table}_sets`` (id, set) BUCKETED BY id: the exact-Jaccard
      verification fetch joins on id against pre-bucketed storage.
    - ``{table}_meta`` one row of build parameters; the search side
      reads them back so a query can never silently hash with
      mismatched (num_hashes, bands, shingle_n, seed).
    """
    from pandance_spark.sources import save_bucketed, save_table

    if num_hashes % bands != 0:
        raise ValueError("num_hashes must be divisible by bands")
    spark = corpus.sparkSession
    base = _shingle_base(
        _spread(corpus), id_col, tokenize(F.col(text_col)), shingle_n,
        fold="xxhash",
    ).localCheckpoint(eager=True)
    banded = _bands_from_hashed(
        base.select(F.col("__id").alias(id_col), "__hashed"),
        id_col,
        num_hashes,
        bands,
        seed,
    )
    save_bucketed(banded, f"{table}_bands", "bhash", num_buckets=num_buckets)
    save_bucketed(
        base.select(F.col("__id").alias(id_col), F.col("__set").alias("shingle_set")),
        f"{table}_sets",
        id_col,
        num_buckets=num_buckets,
    )
    save_table(
        spark.createDataFrame(
            [(id_col, num_hashes, bands, shingle_n, seed, num_buckets)],
            "id_col string, num_hashes int, bands int, shingle_n int, "
            "seed int, num_buckets int",
        ),
        f"{table}_meta",
    )


def add_to_minhash_index(
    new_docs: DataFrame,
    id_col: str,
    text_col: str,
    table: str,
) -> None:
    """Append a batch's documents into an existing MinHash index.

    The other half of continuous ingestion: after
    :func:`dedup_against_index` flags a batch's near-duplicates, the
    surviving (novel) documents join the corpus — appending their band
    keys and shingle sets keeps the index authoritative for the NEXT
    batch without ever rebuilding it.  Hash parameters and bucket
    count come from ``{table}_meta``, so appended rows are
    bit-compatible with the original build (bucketed appends add
    per-bucket files; Spark unions them per bucket at read time, the
    bucketing property is preserved).

    Caller contract: ids must be new (not already indexed) — this is
    an append, not an upsert.
    """
    from pandance_spark.sources import save_bucketed

    spark = new_docs.sparkSession
    meta = spark.table(f"{table}_meta").first()
    # appended frames must carry the INDEX's id column name (meta),
    # not the caller's — a batch whose id column is named differently
    # would otherwise fail (or mis-map) the by-name append resolution
    idx_id = meta["id_col"]
    base = _shingle_base(
        _spread(new_docs), id_col, tokenize(F.col(text_col)), meta["shingle_n"],
        fold="xxhash",
    ).localCheckpoint(eager=True)
    banded = _bands_from_hashed(
        base.select(F.col("__id").alias(idx_id), "__hashed"),
        idx_id,
        meta["num_hashes"],
        meta["bands"],
        meta["seed"],
    )
    save_bucketed(
        banded, f"{table}_bands", "bhash",
        num_buckets=meta["num_buckets"], mode="append",
    )
    save_bucketed(
        base.select(
            F.col("__id").alias(idx_id), F.col("__set").alias("shingle_set")
        ),
        f"{table}_sets",
        idx_id,
        num_buckets=meta["num_buckets"],
        mode="append",
    )


def dedup_against_index(
    new_docs: DataFrame,
    id_col: str,
    text_col: str,
    table: str,
    threshold: float = 0.8,
) -> DataFrame:
    """Near-duplicate pairs between a new batch and an indexed corpus.

    Returns ``(new_id, corpus_id, jaccard)`` — one row per new
    document x indexed document whose LSH bands collide and whose
    EXACT shingle-set Jaccard is ``>= threshold``.  Hash parameters
    come from ``{table}_meta`` (written by :func:`build_minhash_index`)
    so batch signatures are always computed with the index's exact
    scheme.

    Cost model: the batch is tokenized/hashed once (per-row Column
    work, :func:`_shingle_base`), its band keys shuffle-join against
    the bucket-pre-shuffled ``{table}_bands`` (corpus side does NOT
    move), and :func:`_verify_jaccard` fetches corpus sets from the
    id-bucketed ``{table}_sets`` onto the candidate pairs — every
    join moves only batch-proportional data.  The corpus parquet is
    never re-read beyond the collided buckets' rows.
    """
    spark = new_docs.sparkSession
    meta = spark.table(f"{table}_meta").first()
    num_hashes, bands_n, shingle_n, seed = (
        meta["num_hashes"], meta["bands"], meta["shingle_n"], meta["seed"],
    )
    corpus_id = meta["id_col"]

    base = _shingle_base(
        _spread(new_docs), id_col, tokenize(F.col(text_col)), shingle_n,
        fold="xxhash",
    ).localCheckpoint(eager=True)
    new_bands = _bands_from_hashed(
        base.select(F.col("__id").alias("new_id"), "__hashed"),
        "new_id",
        num_hashes,
        bands_n,
        seed,
    )
    idx_bands = spark.table(f"{table}_bands").withColumnsRenamed(
        {corpus_id: "corpus_id", "band": "band_i", "bhash": "bhash_i"}
    )
    cands = (
        new_bands.join(
            idx_bands,
            (new_bands["band"] == idx_bands["band_i"])
            & (new_bands["bhash"] == idx_bands["bhash_i"]),
            "inner",
        )
        .select("new_id", "corpus_id")
        .distinct()
    )
    idx_sets = spark.table(f"{table}_sets").select(corpus_id, "shingle_set")
    return _verify_jaccard(
        cands, base.select("__id", "__set"), idx_sets, threshold
    )


def jaccard_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 20,
    min_sim: float = 0.25,
    shingle_n: int = 3,
) -> DataFrame:
    """Top-``k`` most-similar document pairs by exact n-gram Jaccard.

    The top-k variant of set-similarity join (the thresholded form is
    :func:`ngram_jaccard_join`): rather than asking "which pairs exceed
    t", asks "what are the k closest pairs".  Built EXACTLY — the
    PPJoin prefix-filtered join at ``min_sim`` (no LSH, no false
    negatives above the floor) followed by a global
    ``TakeOrderedAndProject`` top-k with a fully deterministic order
    (jaccard desc, then both ids asc, so equal-similarity ties are
    stable across runs and engines).

    ``min_sim`` is the similarity floor that keeps the prefix index
    selective: prefix length grows as ``(1 - min_sim) * |set|``, so a
    floor of 0 would index every shingle and candidate generation
    degrades toward all-pairs.  If fewer than ``k`` pairs clear the
    floor, fewer than ``k`` rows return — lower the floor explicitly
    rather than silently scanning rows².
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    pairs = ngram_jaccard_join(
        df, id_col, text_col, shingle_n=shingle_n, threshold=min_sim
    )
    return pairs.orderBy(
        F.col("jaccard").desc(), F.col("id_a").asc(), F.col("id_b").asc()
    ).limit(k)


def edit_distance_join(
    df: DataFrame,
    id_col: str,
    str_col: str,
    max_dist: int = 1,
    q: int = 2,
) -> DataFrame:
    """EXACT edit-distance self-join: pairs with
    ``levenshtein(a, b) <= max_dist`` — EDJoin-style POSITIONAL q-gram
    prefix filtering (see the set-similarity-join literature in
    PAPERS.md).

    ``d`` edits disturb at most ``q*d`` positional q-grams, and a
    surviving q-gram shifts position by at most ``d`` — so two strings
    within distance ``d`` must share a q-gram VALUE at positions
    within ``d`` among the first ``q*d + 1`` positional grams of each
    side under one global order (ascending gram frequency, rarest
    first — the AllPairs ordering).  Positions make the filter
    format-robust: corpora of fixed-layout strings over a tiny
    alphabet (ids, serial numbers) share gram *types* everywhere but
    agree on (value, position) only near true matches.  The candidate
    join key is (gram, position-bucket) with neighbor-bucket probing
    (the fuzzy band-join trick applied to position), then Spark's
    built-in ``levenshtein`` verifies — JVM end to end, no UDF.

    Strings with fewer than ``q*d + 1`` positional grams (length
    ``< q*(d+1)``) can evade the prefix filter and take a
    length-banded all-pairs path; they are bounded-short by
    construction.

    Returns ``(id_a, id_b, dist)`` with ``id_a < id_b``.
    """
    if max_dist < 0:
        raise ValueError("max_dist must be >= 0")
    if q < 1:
        raise ValueError("q must be >= 1")
    prefix_len = q * max_dist + 1
    w = max_dist + 1  # position-bucket width
    base = _spread(df).select(
        F.col(id_col).alias("__id"),
        F.col(str_col).alias("__s"),
        F.length(str_col).alias("__len"),
    ).localCheckpoint(eager=True)
    grams = base.select(
        "__id",
        "__len",
        "__s",
        F.explode(
            F.when(
                F.col("__len") >= q,
                F.transform(
                    F.sequence(F.lit(1), F.col("__len") - q + 1),
                    lambda i: F.struct(
                        F.col("__s").substr(i, F.lit(q)).alias("g"),
                        i.alias("p"),
                    ),
                ),
            ).otherwise(
                F.array().cast("array<struct<g:string,p:int>>")
            )
        ).alias("__gp"),
    ).select(
        "__id",
        "__len",
        "__s",
        F.col("__gp.g").alias("__g"),
        F.col("__gp.p").alias("__p"),
    )
    # rarest-first global order on gram VALUE; ties by (gram, position)
    # for a total order per string
    freq = grams.groupBy("__g").agg(F.count(F.lit(1)).alias("__df"))
    # r12 (guide §2.3 "shuffle keys and metadata instead of payloads",
    # INVERTED for short strings): the prefix index CARRIES the string
    # itself — at most ``prefix_len`` copies of a short string — so
    # the verification (built-in levenshtein) runs INLINE on each
    # candidate join row.  The former shape piped every candidate
    # pair through a distinct and TWO string-fetch shuffle joins
    # before verifying; on gram-collision-heavy corpora (the TPC-H
    # name fixture: 3.2M candidates for 1.8k true pairs at sf0.1)
    # those three post-join shuffles of the candidate stream were
    # ~2/3 of the runtime.  Verified rows are match-sized, so the
    # final distinct is trivial.  Strings here are short by the
    # operator's nature (edit distance <= k only means anything when
    # k is comparable to the string length), so the wider prefix
    # exchange costs ~prefix_len string copies — bytes the old plan
    # paid anyway in its two verification joins.
    # a window, not _rarest_first: slower at sf0.1 (bench_history/edit_distance_order_sf01.json)
    ranked = grams.join(freq, "__g").withColumn(
        "__rk",
        F.row_number().over(
            Window.partitionBy("__id").orderBy(
                F.col("__df").asc(), F.col("__g").asc(), F.col("__p").asc()
            )
        ),
    )
    prefix = (
        ranked.filter(
            (F.col("__len") - q + 1 > q * max_dist)
            & (F.col("__rk") <= prefix_len)
        )
        .select("__id", "__len", "__s", "__g", "__p")
        .localCheckpoint(eager=True)
    )
    # AQE sizes the window exchange above by BYTES, but the candidate
    # join's work is quadratic in gram collisions — a byte-tiny prefix
    # index can arrive in ONE partition and serialize the whole join
    # on one core (measured: 1 partition at sf0.1, every downstream
    # stage single-threaded).  The checkpoint is already materialized,
    # so its partition count is a free property; respread only when it
    # sits below the session's parallelism — at real scale the index
    # is wide already and this never fires.
    sc = df.sparkSession.sparkContext
    if prefix.rdd.getNumPartitions() < sc.defaultParallelism:
        prefix = prefix.repartition(
            sc.defaultParallelism
        ).localCheckpoint(eager=True)
    # probe side keeps its own bucket; build side fans out to EVERY
    # bucket a position within +-d could land in.  The span [p-d, p+d]
    # (width 2d+1) can straddle THREE width-(d+1) buckets for d >= 2 —
    # enumerating only the two endpoint buckets missed the middle one
    # (which can be floor(p/w) itself when p-d and p+d both fall
    # outside it), silently dropping true matches whose only shared
    # prefix gram landed there; sequence() enumerates the full range.
    pa = prefix.select(
        F.col("__id").alias("id_a"),
        F.col("__len").alias("len_a"),
        F.col("__s").alias("__sa"),
        "__g",
        F.col("__p").alias("__pa"),
        F.floor(F.col("__p") / w).alias("__bk"),
    )
    pb = prefix.select(
        F.col("__id").alias("id_b"),
        F.col("__len").alias("len_b"),
        F.col("__s").alias("__sb"),
        F.col("__g").alias("__g_b"),
        F.col("__p").alias("__pb"),
        F.explode(
            F.sequence(
                F.floor((F.col("__p") - max_dist) / w),
                F.floor((F.col("__p") + max_dist) / w),
            )
        ).alias("__bk_b"),
    )
    # levenshtein verification INLINE, as the LAST conjunct of the
    # join condition: candidate rows that fail the distance never
    # leave the join operator — no candidate-stream distinct, no
    # string-fetch joins.  Order matters: written as a post-join
    # filter, Catalyst pushes the predicate into the condition but
    # PREPENDS it, so the DP would run on every key-collision pair
    # before the cheap positional/length conjuncts get to prune
    # (measured 14s vs 2s on the sf0.1 linkage fixture); in-condition
    # last, it runs only on pairs surviving them.  The projection
    # recomputes the distance for the (match-sized) survivors.
    pairs = (
        pa.join(
            pb,
            (pa["__g"] == pb["__g_b"])
            & (pa["__bk"] == pb["__bk_b"])
            & (F.abs(pa["__pa"] - pb["__pb"]) <= max_dist)
            & (pa["id_a"] < pb["id_b"])
            & (F.abs(pa["len_a"] - pb["len_b"]) <= max_dist)
            # threshold form: banded O(len*d) DP with early exit,
            # returns -1 above the bound — ~2x the plain form here
            & (F.levenshtein(pa["__sa"], pb["__sb"], max_dist) >= 0),
            "inner",
        )
        .select(
            "id_a",
            "id_b",
            F.levenshtein("__sa", "__sb", max_dist).alias("dist"),
        )
    )
    # short strings (< q*(d+1) chars): length-banded pairs vs everything
    degen = base.filter(F.col("__len") - q + 1 <= q * max_dist).select(
        F.col("__id").alias("id_d"),
        F.col("__len").alias("len_d"),
        F.col("__s").alias("__sd"),
    )
    allside = base.select(
        F.col("__id").alias("id_o"),
        F.col("__len").alias("len_o"),
        F.col("__s").alias("__so"),
    )
    degen_pairs = (
        degen.join(
            allside,
            (F.col("id_d") != F.col("id_o"))
            & (F.abs(F.col("len_d") - F.col("len_o")) <= max_dist)
            & (
                F.levenshtein(F.col("__sd"), F.col("__so"), max_dist)
                >= 0
            ),
            "inner",
        )
        .select(
            F.least("id_d", "id_o").alias("id_a"),
            F.greatest("id_d", "id_o").alias("id_b"),
            F.levenshtein("__sd", "__so", max_dist).alias("dist"),
        )
    )
    # the union's multiplicities (several shared prefix grams per
    # pair; degen-degen pairs seen from both sides) collapse here —
    # distinct over VERIFIED matches only, never the candidate stream
    return pairs.unionByName(degen_pairs).distinct()


def overlap_set_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_overlap: int = 10,
    shingle_n: int = 1,
) -> DataFrame:
    """EXACT overlap set-similarity self-join: pairs whose distinct
    ``shingle_n``-gram sets share at least ``min_overlap`` elements
    (the overlap-threshold variant of set-similarity join; see
    "Overlap Set Similarity Joins" in PAPERS.md — :func:`ngram_jaccard_join`
    is the ratio-threshold variant, this is the absolute-count one,
    the natural form for "documents sharing >= c n-grams" boilerplate
    and citation detection).

    Prefix filtering for an overlap threshold ``c``: under any global
    total order, the smallest SHARED element of A and B must sit
    within the first ``|A| - c + 1`` elements of A and the first
    ``|B| - c + 1`` of B (everything before it on each side is
    unshared) — so indexing only that prefix, in the rarest-first
    order of :func:`_rarest_first`, generates no false negatives.  Sets
    smaller than ``c`` cannot qualify and are dropped before the index.
    Sets come from :func:`_shingle_base`; exact ``array_intersect``
    verification on candidates.

    Returns ``(id_a, id_b, overlap)`` with ``id_a < id_b``.
    """
    if min_overlap < 1:
        raise ValueError("min_overlap must be >= 1")
    base = (
        _shingle_base(_spread(df), id_col, tokenize(F.col(text_col)), shingle_n)
        .filter(F.size("__set") >= min_overlap)
        .localCheckpoint(eager=True)
    )
    prefix = (
        _rarest_first(_set_elements(base))
        .select(
            "id",
            F.explode(
                F.slice("__set", F.lit(1), F.size("__set") - min_overlap + 1)
            ).alias("sh"),
        )
        .localCheckpoint(eager=True)
    )
    pa = prefix.withColumnRenamed("id", "id_a")
    pb = prefix.withColumnsRenamed({"id": "id_b", "sh": "sh_b"})
    cands = (
        pa.join(
            pb,
            (pa["sh"] == pb["sh_b"]) & (pa["id_a"] < pb["id_b"]),
            "inner",
        )
        .select("id_a", "id_b")
        .distinct()
    )
    return (
        cands.join(base.toDF("id_a", "__set_a"), "id_a")
        .join(base.toDF("id_b", "__set_b"), "id_b")
        .withColumn(
            "overlap", F.size(F.array_intersect("__set_a", "__set_b"))
        )
        .filter(F.col("overlap") >= min_overlap)
        .select("id_a", "id_b", "overlap")
    )


def _guarded_pairs(
    stream: DataFrame,
    keys: list,
    payload: list,
    cap: Optional[int],
) -> DataFrame:
    """Every pair of ``stream`` rows that share ``keys``: one row per
    pair of occurrences, ``(a, b)`` structs of the ``payload`` columns
    with ``a < b`` (Spark orders structs field by field).  Keys seen
    more than ``cap`` times are dropped; ``cap=None`` keeps every key.
    Payloads must be non-NULL and distinct within a key.

    Hot-key guard: a plain ``groupBy(keys).count()`` (combined map-side,
    so its shuffle is key-sized) finds the keys seen more than
    ``bound = min(cap, _HOT_GROUP_CAP)`` times.  The other keys'
    occurrences are collected behind a broadcast left-anti join against
    them and paired in-group — ordered combinations of the sorted list
    are exactly the self-join's ``a < b`` rows — so no collected row
    exceeds ``bound`` entries, however frequent a key is corpus-wide.
    Keys the cap keeps above the guard (count in
    ``(_HOT_GROUP_CAP, cap]``, or every hot key when ``cap`` is None)
    pair through the AQE-splittable self-join on ``keys & (a < b)``:
    their output is inherent, and it spreads over reducers instead of
    landing on one aggregation row.  The two pair streams are unioned.

    Plan shape (executed AQE plan): two key-hash exchanges, the
    count's and the collect's, and a BroadcastHashJoin for the anti
    join; the self-join branch, when present, adds a SortMergeJoin.
    The broadcast hint keeps the static planner from picking a
    SortMergeJoin for the anti join, which would shuffle the whole
    stream; hot keys are few by nature (at most rows / bound).
    ``stream`` is evaluated by the count, the collect and the self-join
    branch, so it must be deterministic.
    """
    bound = _HOT_GROUP_CAP if cap is None else min(cap, _HOT_GROUP_CAP)
    n = F.col("count")
    counts = stream.groupBy(*keys).count()
    hot = F.broadcast(counts.filter(n > bound).select(*keys))
    occ = F.struct(*payload)
    v = F.col("__v")
    combos = F.flatten(
        F.transform(
            v,
            lambda x, i: F.transform(
                F.slice(v, i + 2, F.size(v) - i - 1),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    pairs = (
        stream.join(hot, keys, "left_anti")
        .groupBy(*keys)
        .agg(F.sort_array(F.collect_list(occ)).alias("__v"))
        .filter(F.size(v) >= 2)
        .select(F.inline(combos))
    )
    if cap is None or cap > _HOT_GROUP_CAP:
        mid = hot if cap is None else F.broadcast(
            counts.filter((n > bound) & (n <= cap)).select(*keys)
        )
        ja = stream.join(mid, keys, "left_semi").select(*keys, occ.alias("a"))
        jb = ja.select(
            *[F.col(k).alias("__b" + k) for k in keys], F.col("a").alias("b")
        )
        on = F.col("a") < F.col("b")
        for k in keys:
            on = on & (F.col(k) == F.col("__b" + k))
        pairs = pairs.unionByName(ja.join(jb, on, "inner").select("a", "b"))
    return pairs


def fingerprint_overlap_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    mod: int = 16,
    min_shared: int = 2,
    max_df: Optional[int] = None,
) -> DataFrame:
    """Copy-detection self-join on winnowing-style fingerprints: pairs
    of documents sharing at least ``min_shared`` distinct rolling-hash
    char-k-gram fingerprints (``char_ngram_fingerprints`` — the mod-p
    selection of Manber 1994; the pair-counting step is how MOSS-style
    copy detectors rank matches).  Character-level, so it catches
    verbatim passage reuse that token-set similarity dilutes away in
    long documents — the "boilerplate paragraph shared by thousands of
    pages" case.

    ``max_df`` drops fingerprints appearing in more than that many
    documents before pairing — the standard noise filter for
    ubiquitous boilerplate (headers, license blocks).  A fingerprint in
    d documents yields d*(d-1)/2 candidate pairs, so the cap also
    bounds the worst-case join fan-out (skew guard); ``None`` keeps
    the join exact over all fingerprints.

    Capped, the pairs come from the hot-key-guarded in-group pairing
    of ``_guarded_pairs`` (per-doc fingerprints are distinct, so its
    pairs are exactly the self-join's); uncapped, from a checkpointed
    self-equi-join.  Work is proportional to the sum over fingerprints
    of df^2 — bounded by ``max_df`` — never corpus rows².  The capped
    form evaluates ``df`` more than once, so it must be deterministic
    (``localCheckpoint()`` nondeterministic sources first).  Rows with
    a NULL id are dropped up front.

    Returns ``(id_a, id_b, shared_fps)`` with ``id_a < id_b``.
    """
    from pandance_spark.functions.text import char_ngram_fingerprints

    if min_shared < 1:
        raise ValueError("min_shared must be >= 1")
    if max_df is not None and max_df < 2:
        raise ValueError("max_df must be >= 2 (a pair needs 2 docs)")
    fps = (
        _spread(df)
        .filter(F.col(id_col).isNotNull())
        .select(
            F.col(id_col).alias("__id"),
            F.explode(
                char_ngram_fingerprints(F.col(text_col), k, mod)
            ).alias("__fp"),
        )
    )
    if max_df is not None:
        pairs = _guarded_pairs(fps, ["__fp"], ["__id"], max_df).select(
            F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b")
        )
    else:
        # uncapped, every pair is in the output and the plain join
        # spreads a hot fingerprint's pairs over reducers without the
        # guard's count and collect passes; checkpointed because the
        # hashing feeds both sides
        fpsc = fps.localCheckpoint(eager=True)
        fa = fpsc.select(F.col("__id").alias("id_a"), "__fp")
        fb = fpsc.select(
            F.col("__id").alias("id_b"), F.col("__fp").alias("__fp_b")
        )
        pairs = fa.join(
            fb,
            (fa["__fp"] == fb["__fp_b"]) & (fa["id_a"] < fb["id_b"]),
            "inner",
        ).select("id_a", "id_b")
    return (
        pairs.groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


def dedup_paragraphs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    sep_regex: str = r"\n\n+",
    join_sep: str = "\n\n",
    out_col: str = "text_deduped",
) -> DataFrame:
    """Corpus-wide exact paragraph dedup (the C4/RefinedWeb/Dolma
    sub-document pass): split every document on ``sep_regex``, keep
    each distinct paragraph only at its FIRST occurrence (smallest
    ``(id, position)``), drop every later copy, and reassemble the
    surviving paragraphs in original order.

    Catches the boilerplate whole-document dedup misses — repeated
    headers, navigation blocks, license footers — while leaving the
    unique body of each page intact.  Engine extension beyond the
    reference (SURVEY.md §2.4); the reference has no text pipeline.

    Returns ``(id_col, out_col, n_paragraphs, n_kept)`` — one row per
    input document (``out_col`` is ``''`` if every paragraph was a
    duplicate).  Empty paragraphs (consecutive separators, edges) are
    dropped before counting.

    Scale plan: posexplode is a pure projection; first-occurrence is a
    ``min(struct(id, pos))`` groupBy on the paragraph text — the
    partial aggregation map-side-combines, so the HOT paragraphs the
    operator exists to remove (footers/nav repeated across a large
    share of documents) collapse to one row per mapper before the
    shuffle, and the agg shuffle volume is ∝ DISTINCT paragraphs.
    (A row_number window over the paragraph key — the r5 design —
    cannot combine map-side: every copy of a hot paragraph lands on a
    single reducer, an un-splittable straggler at 100 TB.)  The firsts
    table is joined back to mark keepers; at one row per distinct
    paragraph it usually broadcasts, and when it doesn't, the
    paragraph-key shuffle join is exactly what AQE's skew-join
    splitting handles — unlike a window, which AQE cannot split.
    Reassembly is one groupBy on the doc id.  Work ∝ total
    paragraphs, never docs².  The scan+explode is evaluated on both
    join sides (twice total) — a deliberate trade: an embarrassingly
    parallel second scan beats the window's un-splittable hot-key
    reducer, which serializes the whole job on one task.
    Determinism: min (id, pos) is a total order, so reruns and
    different partitionings keep the same copy.  PRECONDITION of the
    double evaluation: ``df`` must be deterministic — a source built
    on ``sample()``/``monotonically_increasing_id()`` etc. can
    evaluate differently per side and silently drop paragraphs;
    ``localCheckpoint()`` such inputs first (the same rule Spark
    itself imposes on retried nondeterministic stages).
    """
    parts = (
        _spread(df)
        .select(
            F.col(id_col).alias("__id"),
            F.posexplode(
                F.split(F.col(text_col), sep_regex)
            ).alias("__pos", "__para"),
        )
        .filter(F.col("__para") != "")
    )
    firsts = parts.groupBy("__para").agg(
        F.min(F.struct("__id", "__pos")).alias("__first")
    )
    kept = parts.join(firsts, "__para").withColumn(
        "__keep",
        F.struct("__id", "__pos").eqNullSafe(F.col("__first")),
    )
    per_doc = kept.groupBy("__id").agg(
        F.count(F.lit(1)).alias("n_paragraphs"),
        F.sum(F.col("__keep").cast("long")).alias("n_kept"),
        F.concat_ws(
            join_sep,
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("__keep"),
                            F.struct("__pos", "__para"),
                        )
                    )
                ),
                lambda s: s["__para"],
            ),
        ).alias(out_col),
    )
    # documents whose every paragraph was empty never reach `parts`;
    # restore them so the contract (one row per input doc) holds
    ids = df.select(F.col(id_col).alias("__id")).distinct()
    return (
        ids.join(per_doc, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce(F.col(out_col), F.lit("")).alias(out_col),
            F.coalesce("n_paragraphs", F.lit(0)).alias("n_paragraphs"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        )
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    cluster_col: str,
    threshold: float = 0.95,
    keep: str = "farthest",
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023,
    arXiv:2303.09540): WITHIN each cluster, rank members by cosine to
    the cluster centroid and drop every member that has pairwise
    cosine >= ``threshold`` with a better-ranked member.  ``keep`` =
    ``'farthest'`` ranks low-centroid-cosine first (the paper's
    diversity-preserving choice); ``'closest'`` ranks prototypes
    first.  Ranks tie-break on id, so the survivor set is
    deterministic under any partitioning.

    Complements :func:`embedding_cosine_pairs` (global threshold
    pairs): here candidate generation is the CLUSTER assignment — at
    100 TB, scale ``n_clusters`` with the corpus so per-cluster sizes
    stay bounded (the paper's regime); the in-cluster comparison is
    then pairs ∝ sum(cluster_size²), never corpus².  All-Column
    expressions (fold-based dot products), one shuffle for the
    centroid agg, one for the rank window, one in-cluster join.

    Returns ``(id_col, cluster_col, centroid_cos, rank, kept)`` — one
    row per input vector.  Cosines are rounded to 9 decimals before
    every comparison so independent engines replay identical
    decisions.
    """
    if keep not in ("farthest", "closest"):
        raise ValueError("keep must be 'farthest' or 'closest'")
    from pyspark.sql.window import Window as _W

    vecd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(cluster_col).alias("__cl"),
        vecd.alias("__v"),
    ).withColumn(
        "__norm",
        F.sqrt(F.aggregate("__v", F.lit(0.0), lambda a, x: a + x * x)),
    )
    # centroid per cluster: position-exploded mean, reassembled in order
    cent = (
        base.select("__cl", F.posexplode("__v").alias("__p", "__x"))
        .groupBy("__cl", "__p")
        .agg(F.avg("__x").alias("__c"))
        .groupBy("__cl")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__p", "__c"))),
                lambda s: s["__c"],
            ).alias("__cvec")
        )
        .withColumn(
            "__cnorm",
            F.sqrt(F.aggregate("__cvec", F.lit(0.0), lambda a, x: a + x * x)),
        )
    )
    dot_c = F.aggregate(
        F.zip_with("__v", "__cvec", lambda x, y: x * y),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    w = _W.partitionBy("__cl").orderBy(
        F.col("__ccos").asc() if keep == "farthest" else F.col("__ccos").desc(),
        F.col("__id").asc(),
    )
    # no broadcast hint: cent is O(n_clusters x dim) and the operator's
    # own scale guidance grows n_clusters with the corpus — let AQE
    # pick broadcast only when the centroid table actually fits
    ranked = (
        base.join(cent, "__cl")
        .withColumn("__ccos", F.round(dot_c / (F.col("__norm") * F.col("__cnorm")), 9))
        .withColumn("__rank", F.row_number().over(w))
        .select("__id", "__cl", "__v", "__norm", "__ccos", "__rank")
        .localCheckpoint(eager=True)  # feeds both sides of the pair join
    )
    a = ranked.select(
        F.col("__cl"),
        F.col("__id").alias("__id_a"),
        F.col("__v").alias("__va"),
        F.col("__norm").alias("__na"),
        F.col("__rank").alias("__rank_a"),
    )
    b = ranked.select(
        F.col("__cl"),
        F.col("__id").alias("__id_b"),
        F.col("__v").alias("__vb"),
        F.col("__norm").alias("__nb"),
        F.col("__rank").alias("__rank_b"),
    )
    pair_cos = F.round(
        F.aggregate(
            F.zip_with("__va", "__vb", lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        / (F.col("__na") * F.col("__nb")),
        9,
    )
    # drop keys are (cluster, id): ids need not be globally unique —
    # a drop in one cluster must never shadow a same-id row elsewhere
    dropped = (
        a.join(b, "__cl")
        .filter(F.col("__rank_a") < F.col("__rank_b"))
        .filter(pair_cos >= F.lit(threshold))
        .select("__cl", F.col("__id_b").alias("__id"))
        .distinct()
    )
    return (
        ranked.join(
            dropped.withColumn("__dropped", F.lit(True)), ["__cl", "__id"], "left"
        )
        .select(
            F.col("__id").alias(id_col),
            F.col("__cl").alias(cluster_col),
            F.col("__ccos").alias("centroid_cos"),
            F.col("__rank").alias("rank"),
            F.coalesce(~F.col("__dropped"), F.lit(True)).alias("kept"),
        )
    )


def dedup_substrings(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_tokens: int = 50,
    max_occurrences: Optional[int] = None,
    hash_seed: int = 1315423911,
) -> DataFrame:
    """Exact duplicate-SUBSTRING detection across (and within)
    documents: report every maximal token span of at least
    ``min_tokens`` whitespace tokens that occurs verbatim in two
    places.  The sub-document analogue of exact dedup — the pass Lee
    et al. ("Deduplicating Training Data Makes Language Models
    Better", arXiv:2107.06499) run with a suffix array at 50-token
    granularity; here re-expressed as a Spark plan.

    Returns ``(doc_a, doc_b, a_start, b_start, n_tokens)`` — one row
    per maximal shared span, positions 0-based in token space, pairs
    ordered so ``(doc_a, a_start) < (doc_b, b_start)``.  Within-doc
    repeats are reported with ``doc_a == doc_b``.

    How (all DataFrame ops, no UDF): tokenize on whitespace; emit one
    ``min_tokens``-gram shingle per position as TWO independent 64-bit
    hashes (the string itself is dropped before the shuffle — 16 bytes
    per position instead of ~6 bytes x min_tokens); pair every two
    positions that share the 128-bit hash pair; merge runs of
    consecutive matching positions at constant offset into maximal
    spans with a gaps-and-islands window per (doc_a, doc_b, offset).
    A span of
    L >= min_tokens duplicated tokens yields L - min_tokens + 1
    consecutive matching shingles, so maximal spans are recovered
    exactly; 128-bit hashing makes a false match vanishingly
    improbable (~n^2 / 2^128) without carrying shingle strings
    through the shuffle.

    Scale plan: the shingle projection is per-row (no shuffle); the
    pairing is the hot-key-guarded ``_guarded_pairs``, whose exchanges
    move 16-byte keys + (id, pos).  Candidate work is proportional to
    DUPLICATED positions, never rows².  The one quadratic hazard is a
    boilerplate shingle repeated in f places -> f^2/2 pairs on one
    key: ``max_occurrences`` drops shingles seen more than that many
    times — the same frequency cut Lee et al. apply to pathological
    repeats; at 100 TB set it to a few thousand.  Under a cap, spans
    covered only by dropped shingles are not reported, and a span
    whose MIDDLE shingles are dropped (its interior k-gram is itself
    hot boilerplate) is reported FRACTURED into the sub-spans the
    surviving shingles cover — treat capped extents as a lower bound,
    not an exact cut list (documented semantics, not silent
    truncation).  The islands window partitions by
    (doc pair, offset): its partition size is bounded by a single
    document's length, not by corpus-wide key frequency, so no hot
    reducer.  The shingle stream is evaluated more than once, so ``df``
    must be deterministic (``localCheckpoint()`` nondeterministic sources
    first).  Partitioning caveat: the shingle
    posexplode amplifies each row ~``n_tokens``-fold WITHOUT a shuffle,
    so an input that arrives in few partitions (e.g. the output of a
    broadcast join over a small table) serializes the amplified stage
    on those few cores — ``repartition()`` such inputs first (file-
    backed scans are spread automatically; at corpus scale file
    splitting already provides the parallelism).
    """
    if min_tokens < 2:
        raise ValueError("min_tokens must be >= 2")
    sh = _substring_shingles(df, id_col, text_col, min_tokens, hash_seed)
    # the pair streams union BEFORE the span merge: one doc pair's
    # shingles can straddle the in-group and self-join branches
    pairs = _guarded_pairs(
        sh, ["__h1", "__h2"], ["__id", "__pos"], max_occurrences
    ).select(
        F.col("a.__id").alias("__ida"),
        F.col("b.__id").alias("__idb"),
        F.col("a.__pos").alias("__pa"),
        (F.col("b.__pos") - F.col("a.__pos")).alias("__delta"),
    )
    return _substring_spans(pairs, min_tokens)


def _substring_shingles(
    df: DataFrame, id_col: str, text_col: str, k: int, hash_seed: int
) -> DataFrame:
    """(__id, __pos, __h1, __h2): one doubly-hashed k-token shingle per
    position; the shingle string dies inside the projection stage."""
    toks = F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != "")
    return (
        _spread(df)
        # NULL ids never paired under the join form's id ordering
        # predicate; drop them up front so the collected form keeps
        # the identical contract (ADVICE r11)
        .filter(F.col(id_col).isNotNull())
        .select(
            F.col(id_col).alias("__id"),
            F.posexplode(
                word_shingles_from_tokens(toks, k)
            ).alias("__pos", "__sh"),
        )
        .select(
            "__id",
            "__pos",
            F.xxhash64("__sh").alias("__h1"),
            F.xxhash64(F.lit(hash_seed), F.col("__sh")).alias("__h2"),
        )
    )


def _substring_spans(pairs: DataFrame, k: int) -> DataFrame:
    """Gaps-and-islands merge of matching positions at constant offset
    into maximal spans; window partition size is bounded by one
    document's length (see dedup_substrings)."""
    w = Window.partitionBy("__ida", "__idb", "__delta").orderBy("__pa")
    runs = pairs.withColumn("__isl", F.col("__pa") - F.row_number().over(w))
    return (
        runs.groupBy("__ida", "__idb", "__delta", "__isl")
        .agg(
            F.min("__pa").alias("__astart"),
            F.count(F.lit(1)).alias("__n"),
        )
        .select(
            F.col("__ida").alias("doc_a"),
            F.col("__idb").alias("doc_b"),
            F.col("__astart").cast("long").alias("a_start"),
            (F.col("__astart") + F.col("__delta")).cast("long").alias("b_start"),
            (F.col("__n") + F.lit(k - 1)).cast("long").alias("n_tokens"),
        )
    )


def containment_join(
    query: DataFrame,
    corpus: DataFrame,
    query_id: str,
    query_text: str,
    corpus_id: Optional[str] = None,
    corpus_text: Optional[str] = None,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT asymmetric n-gram CONTAINMENT join: for every query
    document A, the corpus documents B holding at least ``threshold``
    of A's distinct word ``shingle_n``-grams —
    ``|A ∩ B| / |A| >= t``.  The quote/inclusion detector: Jaccard
    misses a tweet quoted inside a long article (the union dwarfs the
    overlap); containment of the SHORT side is the right measure for
    "B contains A" — benchmark-prompt search, quote attribution,
    boilerplate-inside-page detection.

    Returns ``(query_id, corpus_id, containment)`` with containment
    rounded to 6 dp and ``>= threshold``; queries with no shingles
    produce no rows.

    Spark-first shape (the asymmetric twin of
    :func:`ngram_jaccard_join`'s AllPairs prefix filter): overlap
    ``>= ceil(t*|A|)`` means at least one of A's first
    ``|A| - ceil(t*|A|) + 1`` shingles under ANY fixed total order
    must land in B (pigeonhole) — so only QUERY PREFIXES are exploded
    against the full corpus shingle index.  Both sides are staged by
    :func:`_shingle_base`; the order is :func:`_rarest_first` over
    CORPUS document frequency, so prefix probes hit the short postings
    lists; a query shingle absent from the corpus has df 0, sorts
    first, and generates zero candidates.
    Shuffles: corpus explode + frequency aggregate (linear in corpus
    shingles — the same pass ``contamination_check`` pays), one
    prefix equi-join (work ∝ collisions, never |Q| x |C|), then two
    set-fetch joins for exact verification.  At 100 TB the corpus
    side streams once; the query side is typically benchmark-sized
    and every per-query structure is |A|-bounded.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError("threshold must be in (0, 1]")
    cid = corpus_id or query_id
    ctext = corpus_text or query_text

    # corpus pass: exploded shingles feed BOTH the df-frequency
    # aggregate and the inverted index / set build — checkpoint so the
    # tokenize/shingle/hash pipeline runs once (Exchange reuse across
    # branches is not guaranteed)
    craw = (
        _set_elements(
            _shingle_base(corpus, cid, tokenize(F.col(ctext)), shingle_n)
        )
        .withColumnRenamed("id", "corpus_id")
        .localCheckpoint(eager=True)
    )
    csets = craw.groupBy("corpus_id").agg(
        F.collect_set("sh").alias("__cset")
    )
    qraw = _set_elements(
        _shingle_base(query, query_id, tokenize(F.col(query_text)), shingle_n)
    )
    qsets = (
        _rarest_first(qraw, corpus=craw)
        .toDF("query_id", "__qset")
        .localCheckpoint(eager=True)
    )
    # rounded-output semantics: round(c, 6) >= t admits exact c down to
    # t - 5e-7 — prune with the effective threshold or boundary pairs
    # silently vanish (same rule as ngram_jaccard_join)
    t_eff = max(float(threshold) - 5e-7, 1e-9)
    n = F.size("__qset")
    prefix_len = F.greatest(
        n - F.ceil(n * F.lit(t_eff)) + 1, F.lit(1)
    ).cast("int")
    probes = qsets.select(
        "query_id",
        F.explode(F.slice("__qset", F.lit(1), prefix_len)).alias("sh"),
    )
    cands = (
        probes.join(craw, "sh")
        .select("query_id", "corpus_id")
        .distinct()
    )
    verified = (
        cands.join(qsets, "query_id")
        .join(csets, "corpus_id")
        .withColumn(
            "containment",
            F.round(
                F.size(F.array_intersect("__qset", "__cset"))
                / F.size("__qset"),
                6,
            ),
        )
        .filter(F.col("containment") >= F.lit(float(threshold)))
    )
    return verified.select("query_id", "corpus_id", "containment")


def contamination_spans(
    corpus: DataFrame,
    corpus_id: str,
    corpus_text: str,
    bench: DataFrame,
    bench_id: str,
    bench_text: str,
    min_tokens: int = 13,
    max_occurrences: Optional[int] = None,
    hash_seed: int = 1315423911,
    broadcast_bench: Optional[bool] = None,
) -> DataFrame:
    """CROSS-corpus exact substring matching: every maximal span of at
    least ``min_tokens`` whitespace tokens that a training document
    shares verbatim with a benchmark/eval document — the span-level
    decontamination pass (GPT-3 App. C uses 13-gram overlap; Lee et
    al. arXiv:2107.06499 §6 run their suffix-array machinery corpus x
    benchmark the same way).  ``operators.contamination.
    contamination_check`` answers "is this doc contaminated?" at the
    document level; this operator reports WHERE, so the span (not the
    whole document) can be excised or the document scored by
    contaminated fraction.

    Returns ``(doc_a, doc_b, a_start, b_start, n_tokens)`` — doc_a
    from the CORPUS, doc_b from the BENCHMARK, positions 0-based in
    token space.

    Same machinery as :func:`dedup_substrings` (doubly-hashed shingle
    equi-join + gaps-and-islands merge) with two asymmetries: the
    join keeps ALL cross pairs (no self-ordering predicate), and
    ``max_occurrences`` caps CORPUS-side shingle frequency only — the
    benchmark is small by construction, and it is corpus boilerplate
    that explodes the f_corpus x f_bench pair count.

    ``broadcast_bench`` controls the join strategy for the shingle
    match:

    - ``None`` (default): size-gated — broadcast the benchmark
      shingle table when its Catalyst size estimate fits the
      session's ``autoBroadcastJoinThreshold`` (the corpus never
      shuffles: one decontamination pass at 100 TB), otherwise fall
      back to the shuffle hash/sort-merge join so a 10x benchmark
      SUITE (many eval sets at once) degrades to a normal
      distributed join instead of an executor OOM.  Unknown size
      counts as big (assume-big rule, same as the GEMM gate).
    - ``True``: assert the broadcast contract unconditionally.
    - ``False``: force the shuffle join.

    The fallback is probed in SCALING.md (r7): threshold forced to
    1 KB -> plan shows the shuffle join, output identical to the
    broadcast plan.  Precondition as for ``dedup_substrings``:
    deterministic inputs (``localCheckpoint()`` otherwise).
    """
    if min_tokens < 2:
        raise ValueError("min_tokens must be >= 2")
    ca = _substring_shingles(
        corpus, corpus_id, corpus_text, min_tokens, hash_seed
    )
    if max_occurrences is not None:
        rare = (
            ca.groupBy("__h1", "__h2")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= max_occurrences)
            .select("__h1", "__h2")
        )
        # no checkpoint here: unlike dedup_substrings, ca feeds only
        # ONE join side — materializing ~2.5x corpus bytes would
        # contradict the one-corpus-pass claim for nothing
        ca = ca.join(rare, ["__h1", "__h2"], "left_semi")
    cb = _substring_shingles(bench, bench_id, bench_text, min_tokens, hash_seed)
    a = ca.select(
        F.col("__id").alias("__ida"), F.col("__pos").alias("__pa"),
        "__h1", "__h2",
    )
    b = cb.select(
        F.col("__id").alias("__idb"), F.col("__pos").alias("__pb"),
        F.col("__h1").alias("__h1b"), F.col("__h2").alias("__h2b"),
    )
    if broadcast_bench is None:
        from pandance_spark._kernel import parse_bytes_conf, plan_size_bytes

        threshold = parse_bytes_conf(
            bench.sparkSession, "spark.sql.autoBroadcastJoinThreshold", 10 << 20
        )
        # the exploded shingle table is ~(tokens - n + 1) rows of two
        # longs + pos; estimate from the BENCH text plan and a fixed
        # ~2.5x explode factor, assume-big when stats are unavailable
        sz = plan_size_bytes(bench)
        broadcast_bench = (
            threshold > 0 and sz is not None and sz * 2.5 < threshold
        )
    if broadcast_bench:
        b = F.broadcast(b)
    pairs = a.join(
        b,
        (F.col("__h1") == F.col("__h1b")) & (F.col("__h2") == F.col("__h2b")),
        "inner",
    ).select(
        "__ida", "__idb", "__pa", (F.col("__pb") - F.col("__pa")).alias("__delta")
    )
    return _substring_spans(pairs, min_tokens)


def remove_boilerplate(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    scope_col: str | None = None,
    min_docs: int = 3,
    min_frac: float | None = None,
    sep_regex: str = r"\n+",
    join_sep: str = "\n",
    out_col: str = "text_clean",
) -> DataFrame:
    """Cross-corpus boilerplate LINE removal (the RefinedWeb/CCNet
    per-domain pass): a line is boilerplate when it appears in at
    least ``min_docs`` distinct documents sharing the same
    ``scope_col`` value (or, if ``min_frac`` is given, in at least
    ``ceil(min_frac * docs_in_scope)`` of them); every occurrence of
    a boilerplate line is removed from every document in that scope.

    Complements the two existing passes: ``functions.text.dedup_lines``
    is WITHIN-document (keeps the first copy inside one page) and
    ``dedup_paragraphs`` keeps each duplicate's first corpus
    occurrence — this operator removes ALL copies of nav menus /
    cookie banners / footers that recur across a site, which is the
    semantics web-corpus pipelines actually want for per-domain
    boilerplate (no document "owns" a cookie banner).  Engine
    extension beyond the reference (SURVEY.md §2.4); the reference
    has no text pipeline.

    ``scope_col=None`` treats the whole corpus as one scope.
    Returns ``(id_col, [scope_col], out_col, n_lines, n_kept)`` — one
    row per input document; empty lines are dropped before counting.

    Scale plan: document frequencies come from ONE groupBy on
    ``(scope, line)`` whose partial aggregate dedups ``(scope, line,
    id)`` map-side, so shuffle volume is ∝ distinct lines per
    document, never total occurrences.  The boilerplate set (lines
    crossing the threshold) is small BY CONSTRUCTION — each entry
    recurs across >= min_docs pages — so the per-scope
    ``collect_list`` arrays are compact and the scope join onto the
    corpus is AQE-broadcastable; the corpus itself is never exploded
    for the APPLY side (removal is a pure per-row array filter), so
    there is no doc-reassembly shuffle.  The classic alternative
    (explode -> anti-join -> groupBy(id) rebuild) shuffles the whole
    corpus once more; this plan shuffles only line statistics.
    Hazard, documented: a scope whose boilerplate set is huge
    (thousands of distinct recurring lines) replicates that array to
    each of its doc rows and pays O(|bp|) per line in the filter —
    at that point hash the lines into a bloom/set-index instead;
    matching is exact on the raw line string here for oracle-grade
    determinism.

    NULL handling: a NULL ``scope_col`` value is a real scope (the
    stats join is null-safe — its docs are NOT silently skipped);
    NULL ``text_col`` counts as zero lines.  PRECONDITION shared with
    ``dedup_paragraphs``: ``df`` is evaluated on both the stats and
    apply sides, so a nondeterministic input (``sample()``,
    ``monotonically_increasing_id()``) must be
    ``localCheckpoint()``-ed first.
    """
    if min_docs < 2 and min_frac is None:
        raise ValueError("min_docs must be >= 2 (1 would drop every line)")
    scope = F.col(scope_col) if scope_col else F.lit("")
    arr_expr = F.filter(
        F.split(F.coalesce(F.col(text_col), F.lit("")), sep_regex),
        lambda x: x != "",
    )
    lines = (
        _spread(df)
        .select(
            F.col(id_col).alias("__id"),
            scope.alias("__scope"),
            F.explode(arr_expr).alias("__line"),
        )
    )
    dfreq = lines.groupBy("__scope", "__line").agg(
        F.countDistinct("__id").alias("__df")
    )
    if min_frac is not None:
        totals = (
            _spread(df)
            .select(scope.alias("__scope"), F.col(id_col).alias("__id"))
            .groupBy("__scope")
            .agg(F.countDistinct("__id").alias("__n_docs"))
        )
        dfreq = dfreq.join(totals, "__scope")
        thresh = F.greatest(
            F.lit(int(min_docs)),
            F.ceil(F.lit(float(min_frac)) * F.col("__n_docs")),
        )
    else:
        thresh = F.lit(int(min_docs))
    bp = (
        dfreq.filter(F.col("__df") >= thresh)
        .groupBy("__scope")
        .agg(F.collect_list("__line").alias("__bp"))
    )
    docs = _spread(df).select(
        F.col(id_col),
        *([F.col(scope_col)] if scope_col else []),
        scope.alias("__scope"),
        arr_expr.alias("__arr"),
    )
    # null-safe: a NULL scope must still meet ITS boilerplate stats
    # (plain equi-join would drop the match and skip removal there)
    joined = docs.join(
        bp, docs["__scope"].eqNullSafe(bp["__scope"]), "left"
    ).drop(bp["__scope"]).drop("__scope")
    kept = F.when(F.col("__bp").isNull(), F.col("__arr")).otherwise(
        F.filter(
            F.col("__arr"),
            lambda x: ~F.array_contains(F.col("__bp"), x),
        )
    )
    return joined.select(
        F.col(id_col),
        *([F.col(scope_col)] if scope_col else []),
        F.array_join(kept, join_sep).alias(out_col),
        F.size("__arr").cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept"),
    )


def lsh_params(num_hashes: int, threshold: float):
    """Solve the MinHash-LSH S-curve for banding parameters: among
    factorizations ``num_hashes = bands * rows``, pick the one whose
    inflection ``(1/bands)^(1/rows)`` sits closest UNDER the target
    Jaccard ``threshold`` (prefer catching near-threshold pairs over
    missing them — candidates are verified exactly afterwards anyway,
    so extra candidates cost compute, missed ones cost recall).

    Returns ``(bands, rows_per_band, inflection)``.  Driver-side
    closed form (Leskovec/Rajaraman/Ullman, Mining of Massive
    Datasets §3.4.2) — feed ``bands`` to minhash_join/banding.
    """
    if num_hashes < 1:
        raise ValueError("num_hashes must be >= 1")
    if not 0.0 < threshold < 1.0:
        raise ValueError("threshold must be in (0, 1)")
    best = None
    for bands in range(1, num_hashes + 1):
        if num_hashes % bands:
            continue
        rows = num_hashes // bands
        s = (1.0 / bands) ** (1.0 / rows)
        # distance below the target; curves above it are penalized by
        # how far they overshoot (they'd miss near-threshold pairs)
        score = (threshold - s) if s <= threshold else 10.0 * (s - threshold)
        if best is None or score < best[0]:
            best = (score, bands, rows, s)
    return best[1], best[2], best[3]


def _stratified_doc_sample(
    df: DataFrame,
    id_col: str,
    text_col: str,
    frac: float,
    seed: int,
    portable: bool,
) -> DataFrame:
    """Seeded per-length-stratum Bernoulli document sample (the
    ``sampleBy`` shape, deterministic + engine-portable): strata are
    ``floor(log2(length(text) + 2))`` buckets and each stratum draws
    from an INDEPENDENT hash stream (the stratum is mixed into the
    key), so short- and long-doc subpopulations are sampled at the
    same rate with uncorrelated draws.  Map-only — exact per-stratum
    counts would need a per-stratum sort, which is exactly the stage a
    100 TB audit sample exists to avoid; binomial deviation at audit
    sizes is far below the recall/precision noise being estimated.
    ``portable=True`` derives the key from md5 so an independent
    engine replays the identical sample (the driver oracle does).
    The stratum is ``floor(log2(length + 2))`` computed EXACTLY as
    ``length(bin(n)) - 1`` — float log2 flips by one ulp across
    engines at exact powers of two, which would flip the stratum tag
    and desynchronize the sample."""
    stratum = (
        F.length(F.bin(F.length(F.col(text_col)).cast("long") + F.lit(2)))
        - F.lit(1)
    ).cast("long")
    key = F.concat(
        F.col(id_col).cast("string"),
        F.lit(f":{seed}:"),
        F.coalesce(stratum.cast("string"), F.lit("null")),
    )
    if portable:
        hk = F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long")
    else:
        hk = F.pmod(F.xxhash64(key), F.lit(1 << 32))
    return df.filter(hk < F.lit(int(frac * (1 << 32))))


def minhash_eval(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.6,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    seed: int = 42,
    portable: bool = False,
    truth_sample_frac: Optional[float] = None,
) -> DataFrame:
    """Dedup-quality EVALUATION harness: measure the MinHash-LSH
    candidate generator against exact ground truth on the same corpus
    — the report a pipeline owner reads before trusting approximate
    dedup at scale.  Ground truth is :func:`ngram_jaccard_join`
    (exact, prefix-filtered — itself scalable, so the harness runs on
    real samples, not toy ones); candidates are
    :func:`minhash_candidates` with the same shingle size.  Both chains
    read one :func:`_shingle_base` staging, and the report is
    :func:`dedup_eval`'s.

    Returns ONE row: ``n_docs, n_true, n_candidates, n_verified,
    recall, precision`` (9 dp; 1.0/0.0 conventions for empty
    denominators).  ``n_verified`` counts candidate pairs whose exact
    Jaccard clears the threshold, so ``recall = n_verified / n_true``
    is the fraction of true near-dup pairs the LSH surfaced and
    ``precision = n_verified / n_candidates`` is the verification
    yield (the cost knob: low precision = wasted exact-verify work —
    re-band before scaling up).  With ``portable=True`` every hash in
    the candidate path is md5-derived, so an independent engine can
    replay the WHOLE evaluation including the LSH (the driver oracle
    does).

    ``truth_sample_frac`` (VERDICT r9 item 6): evaluate on a seeded
    length-stratified document sample instead of the full corpus —
    the mode that makes the audit affordable where exact all-pairs
    truth is not (full truth stays the oracle-checked default).  The
    WHOLE evaluation (truth, candidates, verification) runs on the
    sample, so recall/precision are like-for-like estimates of the
    full-corpus metrics and ``n_docs`` reports the sample size; see
    :func:`_stratified_doc_sample` for the sampling contract.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError("threshold must be in (0, 1]")
    if truth_sample_frac is not None:
        f = float(truth_sample_frac)
        if not (0.0 < f <= 1.0):
            raise ValueError(
                f"truth_sample_frac must be in (0, 1], got {truth_sample_frac}"
            )
        if f < 1.0:
            df = _stratified_doc_sample(
                df, id_col, text_col, f, seed, portable
            )
    # ONE staged pass computes both hash families, the truth chain's
    # distinct xxhash64 set and the candidate chain's 31-bit-folded
    # (optionally portable md5) array, so tokenize + shingle run once
    # for the whole harness.  Spread first so the checkpointed
    # partitioning keeps the amplified stages parallel.
    base = _shingle_base(
        _spread(df.select(id_col, text_col)),
        id_col,
        tokenize(F.col(text_col)),
        shingle_n,
        fold="md5" if portable else "xxhash",
    ).localCheckpoint(eager=True)
    # guide §2.6 "overlap independent jobs" (r11): each chain still
    # materializes its own eager checkpoint at BUILD time (prefix-
    # ordered sets / banded signature keys); they are independent
    # given the shared base, so two driver threads let the scheduler
    # back-fill one chain's job tails with the other's tasks.
    def _truth():
        return _ngram_jaccard(_set_elements(base), threshold)

    def _cands():
        banded = _bands_from_hashed(
            base.select(F.col("__id").alias(id_col), "__hashed"),
            id_col,
            num_hashes,
            bands,
            seed,
            portable=portable,
        ).localCheckpoint(eager=True)
        return _banded_pairs(banded, id_col)

    truth, cands = run_concurrently(_truth, _cands)
    return dedup_eval(cands, truth, n_docs=base.select("__id"))


def dedup_eval(
    candidates: DataFrame,
    truth: DataFrame,
    n_docs: Optional[DataFrame] = None,
) -> DataFrame:
    """Generic dedup-quality report for ANY candidate generator
    (:func:`minhash_eval` ends in it; simhash / embedding / custom
    candidate sets audit the same way): given ``candidates`` and
    ``truth`` as (id_a, id_b) pair tables (id_a < id_b, any extra
    columns ignored), return ONE row ``n_true, n_candidates,
    n_verified, recall, precision`` — with ``n_docs`` prepended when a
    1-column frame of document ids is passed.  recall = 1.0 and
    precision = 0.0 on empty denominators, 9 dp.

    Both inputs feed two consumers (their count + the verification
    join); without a barrier Spark re-evaluates each generator once
    per consumer, so each is checkpointed (pair-list-sized, never
    corpus-sized)."""
    cands = candidates.select("id_a", "id_b").localCheckpoint(eager=False)
    tru = truth.select("id_a", "id_b").localCheckpoint(eager=False)
    verified = cands.join(tru, ["id_a", "id_b"], "inner")
    counts = [
        tru.select(F.count("*").alias("n_true")),
        cands.select(F.count("*").alias("n_candidates")),
        verified.select(F.count("*").alias("n_verified")),
    ]
    if n_docs is not None:
        counts.insert(0, n_docs.select(F.count("*").alias("n_docs")))
    rep = counts[0]
    for c in counts[1:]:
        rep = rep.crossJoin(c)
    return rep.select(
        *rep.columns,
        F.round(
            F.when(F.col("n_true") > 0,
                   F.col("n_verified") / F.col("n_true"))
            .otherwise(F.lit(1.0)),
            9,
        ).alias("recall"),
        F.round(
            F.when(F.col("n_candidates") > 0,
                   F.col("n_verified") / F.col("n_candidates"))
            .otherwise(F.lit(0.0)),
            9,
        ).alias("precision"),
    )


def record_linkage(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    left_str: str,
    right_id: str,
    right_str: str,
    max_dist: int = 1,
    q: int = 2,
) -> DataFrame:
    """Cross-table entity resolution by exact edit distance: pairs
    (one record from each table) with ``levenshtein <= max_dist`` —
    the two-universe form of :func:`edit_distance_join` (customer file
    vs CRM export, crawl titles vs catalog names).

    Implemented AS the self-join: both sides union under a side tag
    ('L:'/'R:' prefixed string ids — collision-proof across universes
    and order-stable), the EDJoin positional q-gram machinery runs
    once over the union, and only cross-side survivors are kept and
    mapped back.  Zero duplicated candidate logic, and the recall
    guarantee is inherited verbatim.  Returns ``({left_id}, 
    {right_id}, dist)`` — one row per matching cross pair.
    """
    l2 = left.select(
        F.concat(F.lit("L:"), F.col(left_id).cast("string")).alias("__uid"),
        F.col(left_str).alias("__str"),
    )
    r2 = right.select(
        F.concat(F.lit("R:"), F.col(right_id).cast("string")).alias("__uid"),
        F.col(right_str).alias("__str"),
    )
    pairs = edit_distance_join(
        l2.unionAll(r2), "__uid", "__str", max_dist=max_dist, q=q
    )
    # id_a < id_b and 'L:' < 'R:' lexicographically, so cross pairs
    # always carry the left record in id_a
    cross = pairs.filter(
        F.col("id_a").startswith("L:") & F.col("id_b").startswith("R:")
    )
    lt = left.schema[left_id].dataType
    rt = right.schema[right_id].dataType
    # same id name on both sides gets the usual _x/_y disambiguation
    lname, rname = (
        (left_id + "_x", right_id + "_y")
        if left_id == right_id
        else (left_id, right_id)
    )
    return cross.select(
        F.expr("substring(id_a, 3)").cast(lt).alias(lname),
        F.expr("substring(id_b, 3)").cast(rt).alias(rname),
        "dist",
    )
