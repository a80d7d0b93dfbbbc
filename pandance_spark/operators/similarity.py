"""Similarity search over embedding columns (``array<float>``).

Engine extensions beyond the reference (SURVEY.md §2.4).  Note the
conceptual kinship with the reference's ``fuzzy_join``: approximate
nearest neighbor IS a distributed fuzzy join in vector space — the
LSH-bucket path here mirrors the band-bucket rewrite of
``operators/fuzzy.py`` (bucket -> equi-join -> exact re-check).

- ``cosine_topk``: exact brute-force top-k — the correctness baseline.
  Broadcast the (small) query set; scan the corpus once; per-partition
  cosine + global top-k via window.  Work O(|Q| * |corpus|), fully
  distributed, no Python.
- ``lsh_bucket``/``ann_lsh_topk``: random-hyperplane LSH — the scale
  path.  Bucket the corpus once (per-row expressions), equi-join probes
  to buckets (optionally multi-probe), exact cosine within buckets.
"""

from __future__ import annotations

from typing import Optional

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pandance_spark.functions.vectors import (
    const_vectors,
    cosine_similarity,
    dot,
    l2_norm,
)

__all__ = [
    "cosine_topk",
    "mmr_rerank",
    "lsh_bucket",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "knn_graph",
    "build_ivf_index",
    "ann_ivf_search",
]


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact top-k corpus neighbors per query by cosine similarity.

    Returns (query_id, corpus_id, cosine, rank), rank 1..k, ties broken
    by corpus id (deterministic).  The query side is broadcast — at
    scale the corpus is the huge side and scans once.
    """
    qname, cname = _out_names(query_id, corpus_id)
    # norms staged per ROW (not per pair): the per-pair expression is
    # then a single dot-product traversal — identical float ops and
    # result, ~3x less work than recomputing both norms per candidate
    q = queries.select(
        F.col(query_id).alias("__qid"),
        F.col(query_vec).cast("array<double>").alias("__qv"),
        l2_norm(F.col(query_vec)).alias("__qn"),
    )
    c = corpus.select(
        F.col(corpus_id).alias("__cid"),
        F.col(corpus_vec).cast("array<double>").alias("__cv"),
        l2_norm(F.col(corpus_vec)).alias("__cn"),
    )
    scored = c.crossJoin(F.broadcast(q)).select(
        F.col("__qid").alias(qname),
        F.col("__cid").alias(cname),
        F.round(
            dot(F.col("__qv"), F.col("__cv")) / (F.col("__qn") * F.col("__cn")),
            6,
        ).alias("cosine"),
    )
    w = Window.partitionBy(qname).orderBy(
        F.col("cosine").desc(), F.col(cname).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def mmr_rerank(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    k: int = 5,
    pool: int = 20,
    lamb: float = 0.7,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998) — the RAG-side answer to near-duplicate retrieval: from each
    query's ``pool`` most-similar candidates, greedily select ``k``
    maximizing ``lamb * rel(q, c) - (1 - lamb) * max_sim(c,
    selected)`` — relevance traded against redundancy, so three copies
    of the same passage can't fill the context window.

    Returns ``(query_id, corpus_id, mmr_rank, relevance, mmr_score)``,
    ``mmr_rank`` 1..k in selection order.  Determinism across engines:
    every similarity and every marginal score is ROUNDED to 6 dp
    before any comparison and ties break on smallest corpus id — the
    ``cosine_topk`` convention, which is what lets the driver oracle
    replay the whole greedy loop in SQL.  ``1 - lamb`` is computed
    ONCE in the driver (Python double) and embedded as a literal, so
    an oracle replaying with the same literal gets bit-identical
    arithmetic.

    Plan shape: one ``cosine_topk`` (corpus scans once, queries
    broadcast), then ``k`` greedy rounds over the pool — every round
    is an argmax (max(struct) aggregate) plus one bounded join of the
    remaining pool against the just-selected row, at most ``pool``
    rows per query throughout; each round is checkpointed so the plan
    stays flat instead of deepening k times.  The greedy loop is
    driver-ORCHESTRATED but never driver-EVALUATED (no collect) —
    the same honest residual class as connected_components, bounded
    at k iterations.
    """
    if k < 1 or pool < k:
        raise ValueError("need pool >= k >= 1")
    if not 0.0 <= lamb <= 1.0:
        raise ValueError("lamb must be in [0, 1]")
    mu = 1.0 - lamb  # Python double, embedded as a literal below
    qname, cname = _out_names(query_id, corpus_id)
    cands = cosine_topk(
        queries, corpus, query_id, corpus_id, query_vec, corpus_vec,
        k=pool,
    )
    cvecs = corpus.select(
        F.col(corpus_id).alias(cname),
        F.col(corpus_vec).cast("array<double>").alias("__cv"),
        l2_norm(F.col(corpus_vec)).alias("__cn"),
    )
    remaining = (
        cands.join(cvecs, cname)
        .select(
            qname, cname,
            F.col("cosine").alias("__rel"),
            "__cv", "__cn",
            F.lit(0.0).alias("__maxsim"),
        )
        .localCheckpoint(eager=False)
    )
    picked = None
    for i in range(k):
        score = F.round(
            F.lit(lamb) * F.col("__rel")
            - F.lit(mu) * F.col("__maxsim"),
            6,
        )
        best = (
            remaining.select(
                qname,
                F.max(
                    F.struct(
                        score.alias("s"),
                        (-F.col(cname)).alias("negid"),
                        F.col(cname).alias("cid"),
                        F.col("__rel").alias("rel"),
                        F.col("__cv").alias("sv"),
                        F.col("__cn").alias("sn"),
                    )
                ).over(Window.partitionBy(qname)).alias("__b"),
                cname,
            )
            .filter(F.col(cname) == F.col("__b.cid"))
            .select(
                qname,
                F.col("__b.cid").alias(cname),
                F.lit(i + 1).alias("mmr_rank"),
                F.col("__b.rel").alias("relevance"),
                F.col("__b.s").alias("mmr_score"),
                F.col("__b.sv").alias("__sv"),
                F.col("__b.sn").alias("__sn"),
            )
            .localCheckpoint(eager=False)
        )
        out_i = best.select(
            qname, cname, "mmr_rank", "relevance", "mmr_score"
        )
        picked = out_i if picked is None else picked.unionByName(out_i)
        if i == k - 1:
            break
        sel = best.select(qname, F.col(cname).alias("__sid"),
                          "__sv", "__sn")
        remaining = (
            remaining.join(sel, qname)
            .filter(F.col(cname) != F.col("__sid"))
            .select(
                qname, cname, "__rel", "__cv", "__cn",
                F.greatest(
                    F.col("__maxsim"),
                    F.round(
                        dot(F.col("__cv"), F.col("__sv"))
                        / (F.col("__cn") * F.col("__sn")),
                        6,
                    ),
                ).alias("__maxsim"),
            )
            .localCheckpoint(eager=False)
        )
    return picked


def _out_names(query_id: str, corpus_id: str):
    """Output id column names; suffixed pandas-style when they collide
    (same convention as the join operators' ('_x', '_y'))."""
    if query_id == corpus_id:
        return query_id + "_x", corpus_id + "_y"
    return query_id, corpus_id


def ann_ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    k: int = 10,
    n_clusters: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    centroids: Optional[list] = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: coarse-quantizer cells.

    Index build: assign every corpus vector its nearest-centroid cell —
    a one-off batch job whose output would be persisted (bucketed by
    cell) in a real deployment.  Centroids come from a KMeans fit over
    the corpus (pyspark.ml, the default), or from ``centroids`` — a
    caller-supplied ``[[float, ...], ...]`` list (e.g. sampled corpus
    vectors, the kmeans++-init shape).  With explicit centroids the
    assignment is a pure Column expression argmin over literal arrays —
    no ML fit, no window, no shuffle for the assignment stage, and the
    whole search is deterministic + SQL-expressible (the DuckDB oracle
    recomputes it).
    Search: each query visits only its ``n_probe`` nearest cells — an
    equi-join on cell id + exact cosine + window top-k, so the scan cost
    drops to ~``n_probe / n_clusters`` of the brute-force baseline.

    Same output schema as :func:`cosine_topk`; recall < 1 by design
    (raise ``n_probe`` to trade speed for recall).
    """
    qname, cname = _out_names(query_id, corpus_id)
    c_assigned, qcells = _ivf_cells(
        corpus, queries, corpus_id, query_id, corpus_vec, query_vec,
        n_clusters, n_probe, seed, centroids,
    )
    scored = (
        qcells.join(
            c_assigned.select("__cid", "__cv", "__cn", "__cell"), "__cell", "inner"
        )
        .select(
            F.col("__qid").alias(qname),
            F.col("__cid").alias(cname),
            F.round(
                dot(F.col("__qv"), F.col("__cv"))
                / (F.col("__qn") * F.col("__cn")),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy(qname).orderBy(F.col("cosine").desc(), F.col(cname).asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def _ivf_cells(
    corpus: DataFrame,
    queries: DataFrame,
    corpus_id: str,
    query_id: str,
    corpus_vec: str,
    query_vec: str,
    n_clusters: int,
    n_probe: int,
    seed: int,
    centroids: Optional[list],
):
    """Shared IVF stage: corpus rows tagged with their nearest-centroid
    cell (``__cid/__cv/__cn/__cell``), queries exploded to their
    ``n_probe`` nearest cells (``__qid/__qv/__qn/__cell``)."""
    c = corpus.select(
        F.col(corpus_id).alias("__cid"),
        F.col(corpus_vec).cast("array<double>").alias("__cv"),
        l2_norm(F.col(corpus_vec)).alias("__cn"),
    )
    if centroids is None:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        cf = c.withColumn("__feat", array_to_vector("__cv"))
        model = KMeans(k=n_clusters, seed=seed, featuresCol="__feat").fit(cf)
        c_assigned = (
            model.transform(cf)
            .withColumnRenamed("prediction", "__cell")
            .drop("__feat")
        )
        centers = [[float(x) for x in ctr] for ctr in model.clusterCenters()]
    else:
        centers = [[float(x) for x in ctr] for ctr in centroids]
        # centroid-table argmin over a CONSTANT-FOLDED array literal
        # (const_vectors): one literal node + one generic lambda loop,
        # vs n_clusters unrolled per-element expressions whose analysis
        # + whole-stage-codegen cost dominated small runs.  Squared
        # distance (no sqrt): argmin-identical, one op fewer per dim.
        # Still a pure map stage — the 100 TB corpus is never shuffled
        # to be assigned.  First index attaining the min (tie rule
        # matches the previous l2_distance form — sqrt is monotone).
        dists = F.transform(
            const_vectors(centers),
            lambda ctr: F.aggregate(
                F.zip_with(F.col("__cv"), ctr, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
        )
        c_assigned = (
            c.withColumn("__dists", dists)
            .withColumn(
                "__cell",
                (
                    F.array_position(
                        F.col("__dists"), F.array_min(F.col("__dists"))
                    )
                    - 1
                ).cast("int"),
            )
            .drop("__dists")
        )

    q = queries.select(
        F.col(query_id).alias("__qid"),
        F.col(query_vec).cast("array<double>").alias("__qv"),
        l2_norm(F.col(query_vec)).alias("__qn"),
    )
    return c_assigned, _probe_cells(q, centers, n_probe)


def _probe_cells(q: DataFrame, centers: list, n_probe: int) -> DataFrame:
    """Explode normalized queries (``__qid/__qv/__qn``) to their
    ``n_probe`` nearest centroid cells.

    Pure array expressions: squared distance to every centroid (one
    constant-folded centroid literal, see ``const_vectors``), zip with
    the cell index, ``array_sort`` the (dist, cell) struct array —
    lexicographic field order gives dist-asc then cell-asc, the same
    tie rule as the previous window form — and slice the first
    ``n_probe``.  Replaces a crossJoin-with-centroids + row_number
    window, removing the probe-side shuffle entirely: cell assignment
    of 100 TB of queries is a map stage.
    """
    dists = F.transform(
        const_vectors(centers),
        lambda ctr: F.aggregate(
            F.zip_with(F.col("__qv"), ctr, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
    )
    idx = F.sequence(F.lit(0), F.lit(len(centers) - 1))
    pairs = F.zip_with(
        dists, idx, lambda d, i: F.struct(d.alias("d"), i.alias("i"))
    )
    top = F.slice(F.array_sort(pairs), 1, n_probe)
    return (
        q.withColumn("__probe", F.explode(top))
        .select(
            "__qid",
            "__qv",
            "__qn",
            F.col("__probe.i").cast("int").alias("__cell"),
        )
    )


def _hyperplanes(dim: int, num_planes: int, seed: int) -> list:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((num_planes, dim)).tolist()


def lsh_bucket(
    vec: Column, dim: int, num_planes: int = 8, seed: int = 42
) -> Column:
    """Random-hyperplane LSH bucket id (int in [0, 2^num_planes)).

    Deterministic hyperplanes from ``seed``; bit i is the sign of the
    dot product with plane i.  Pure Column expressions, no shuffle —
    bucketing 100 TB of embeddings is a single map stage.  The plane
    table is a single constant-folded literal (``const_vectors``) and
    the bucket id a fold over it — ``num_planes * dim`` unrolled
    literal nodes would otherwise dominate codegen compile time (same
    hazard as the IVF centroid argmin, see ``_ivf_cells``).  Fold runs
    msb-first (``reverse`` then ``acc*2 + bit``) so bit i of the result
    is plane i, bit-identical to the previous ``1 << i`` sum.
    """
    planes = _hyperplanes(dim, num_planes, seed)
    varr = vec.cast("array<double>")
    bits = F.transform(
        const_vectors(planes),
        lambda p: F.when(
            F.aggregate(
                F.zip_with(varr, p, lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            > 0,
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    # LONG accumulator: an int32 fold would wrap at num_planes >= 32
    # (the old `1 << i` sum auto-promoted to bigint there)
    return F.aggregate(
        F.reverse(bits),
        F.lit(0).cast("long"),
        lambda acc, b: acc * 2 + b,
    )


def ann_lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    k: int = 10,
    dim: int = 64,
    num_planes: int = 8,
    seed: int = 42,
    multi_probe_bits: int = 1,
) -> DataFrame:
    """Approximate top-k via LSH bucketing: equi-join queries to corpus
    on bucket id (plus Hamming-1 neighbor buckets when
    ``multi_probe_bits`` > 0 — boosts recall), exact cosine within the
    probed buckets, window top-k.

    Same output schema as :func:`cosine_topk`; recall < 1 by design.
    """
    c = corpus.select(
        F.col(corpus_id).alias("__cid"),
        F.col(corpus_vec).cast("array<double>").alias("__cv"),
        l2_norm(F.col(corpus_vec)).alias("__cn"),
        lsh_bucket(F.col(corpus_vec), dim, num_planes, seed).alias("__bucket"),
    )
    qbase = queries.select(
        F.col(query_id).alias("__qid"),
        F.col(query_vec).cast("array<double>").alias("__qv"),
        l2_norm(F.col(query_vec)).alias("__qn"),
        lsh_bucket(F.col(query_vec), dim, num_planes, seed).alias("__qb"),
    )
    # multi-probe: also visit buckets that differ in `multi_probe_bits`
    # low bits (flip each of the num_planes bits once)
    probes = [F.col("__qb")]
    if multi_probe_bits > 0:
        probes += [
            F.col("__qb").bitwiseXOR(F.lit(1 << i)) for i in range(num_planes)
        ]
    qname, cname = _out_names(query_id, corpus_id)
    q = qbase.withColumn("__bucket", F.explode(F.array(*probes)))
    scored = q.join(c, "__bucket", "inner").select(
        F.col("__qid").alias(qname),
        F.col("__cid").alias(cname),
        F.round(
            dot(F.col("__qv"), F.col("__cv")) / (F.col("__qn") * F.col("__cn")),
            6,
        ).alias("cosine"),
    ).dropDuplicates([qname, cname])
    w = Window.partitionBy(qname).orderBy(
        F.col("cosine").desc(), F.col(cname).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def knn_graph(
    corpus: DataFrame,
    id_col: str,
    vec_col: str = "embedding",
    k: int = 10,
    n_clusters: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    centroids: Optional[list] = None,
    strategy: str = "gemm",
    max_cell_rows: Optional[int] = None,
) -> DataFrame:
    """k-nearest-neighbor graph of a corpus against itself (cosine).

    The LARGE-x-LARGE similarity case: every vector is both query and
    candidate, so nothing is broadcast-sized.  Both sides shuffle ONCE
    on IVF cell id and meet per-cell; work ~ n_probe/n_clusters of the
    brute-force |corpus|^2 (the plan that does NOT survive 100x).
    Self-pairs are excluded; output is (id_x, id_y, cosine, rank) with
    rank 1..k per source vector.

    ``strategy="gemm"`` (default): per-cell block GEMM via
    ``cogroup().applyInPandas`` — Arrow ships each cell's ROWS (not
    pairs) to Python once, numpy does the (queries x candidates)
    matmul, and only per-(query, cell) top-k survivors come back, so
    transfer is O(rows + k * probes), never O(pairs).  This is the
    batch-local-GEMM design vector databases use for IVF scan.
    ``strategy="expr"``: pure Column expressions (JVM codegen, no
    Python) — bit-identical to :func:`ann_ivf_topk`; slower per pair
    but zero Arrow dependency.

    ``max_cell_rows`` (gemm only): hot-cell salting.  An IVF cell with
    a disproportionate share of the corpus becomes ONE giant GEMM task
    (the straggler that kills the 1000-executor run); cells above the
    bound are sub-split deterministically by candidate-id hash and
    probing queries fan out to every sub-cell, so task size is bounded
    by ``max_cell_rows`` while the candidate set — and therefore the
    result — is provably identical (each (query, candidate) pair meets
    in exactly one sub-cell).  Costs one tiny per-cell count agg.

    Feeds graph-based pipeline stages: near-dup clustering over
    embedding space (pair edges -> ``connected_components``),
    kNN-density outlier pruning, label propagation.
    """
    if strategy not in ("gemm", "expr"):
        raise ValueError(f"unknown strategy {strategy!r}")
    qname, cname = _out_names(id_col, id_col)
    if strategy == "expr":
        out = ann_ivf_topk(
            corpus,
            corpus,
            id_col,
            id_col,
            query_vec=vec_col,
            corpus_vec=vec_col,
            k=k + 1,  # self-match occupies one slot in every probe list
            n_clusters=n_clusters,
            n_probe=n_probe,
            seed=seed,
            centroids=centroids,
        )
        w = Window.partitionBy(qname).orderBy(
            F.col("cosine").desc(), F.col(cname).asc()
        )
        return (
            out.filter(F.col(qname) != F.col(cname))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
        )

    import pandas as pd

    c_assigned, qcells = _ivf_cells(
        corpus, corpus, id_col, id_col, vec_col, vec_col,
        n_clusters, n_probe, seed, centroids,
    )
    id_ddl = corpus.schema[id_col].dataType.simpleString()
    out_schema = f"{qname} {id_ddl}, {cname} {id_ddl}, cosine double"

    def score_cell(qpdf: pd.DataFrame, cpdf: pd.DataFrame) -> pd.DataFrame:
        if len(qpdf) == 0 or len(cpdf) == 0:
            return pd.DataFrame({qname: [], cname: [], "cosine": []})
        qm = np.vstack(qpdf["__qv"].to_numpy())
        cm = np.vstack(cpdf["__cv"].to_numpy())
        qn = qpdf["__qn"].to_numpy()
        cn = cpdf["__cn"].to_numpy()
        qids = qpdf["__qid"].to_numpy()
        cids = cpdf["__cid"].to_numpy()
        sims = (qm @ cm.T) / np.outer(qn, cn)
        sims[qids[:, None] == cids[None, :]] = -np.inf  # exclude self
        # order/prune on HALF-UP-rounded values (F.round semantics) so
        # the per-cell top-k agrees with the expr path and the final
        # plan-side F.round — np.round's half-to-even would flip rank
        # ties landing exactly on a 5e-7 boundary.  Raw cosines are
        # emitted; the single rounding step lives in the Spark plan.
        rsims = np.sign(sims) * np.floor(np.abs(sims) * 1e6 + 0.5) / 1e6
        kk = min(k, sims.shape[1])
        out_q, out_c, out_s = [], [], []
        for i in range(sims.shape[0]):
            row, rrow = sims[i], rsims[i]
            # per-(query, cell) top-k; ties broken by candidate id asc
            # (lexsort: last key is primary)
            order = np.lexsort((cids, -rrow))[:kk]
            keep = order[np.isfinite(row[order])]
            out_q.append(np.repeat(qids[i], len(keep)))
            out_c.append(cids[keep])
            out_s.append(row[keep])
        return pd.DataFrame(
            {
                qname: np.concatenate(out_q),
                cname: np.concatenate(out_c),
                "cosine": np.concatenate(out_s),
            }
        )

    group_keys = ["__cell"]
    if max_cell_rows is not None:
        if max_cell_rows < 1:
            raise ValueError("max_cell_rows must be >= 1")
        counts = {
            r["__cell"]: r["n"]
            for r in c_assigned.groupBy("__cell")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        import math

        salts = {
            cell: math.ceil(n / max_cell_rows) for cell, n in counts.items()
        }
        if any(v > 1 for v in salts.values()):
            salt_map = F.create_map(
                *[F.lit(x) for kv in salts.items() for x in kv]
            )
            n_salt = F.coalesce(
                F.element_at(salt_map, F.col("__cell")), F.lit(1)
            )
            c_assigned = c_assigned.withColumn(
                "__salt", F.pmod(F.xxhash64("__cid"), n_salt).cast("int")
            )
            qcells = qcells.withColumn(
                "__salt", F.explode(F.sequence(F.lit(0), n_salt - 1))
            )
            group_keys = ["__cell", "__salt"]
    cand = (
        qcells.groupBy(*group_keys)
        .cogroup(c_assigned.groupBy(*group_keys))
        .applyInPandas(score_cell, schema=out_schema)
        # one rounding rule for both strategies: F.round (half-up),
        # applied plan-side on the raw cosines score_cell emits
        .withColumn("cosine", F.round("cosine", 6))
    )
    w = Window.partitionBy(qname).orderBy(
        F.col("cosine").desc(), F.col(cname).asc()
    )
    return cand.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def build_ivf_index(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    table: str,
    n_clusters: int = 16,
    seed: int = 42,
    centroids: Optional[list] = None,
    num_buckets: int = 32,
) -> list:
    """One-off IVF index build, persisted for repeated searches.

    Assigns every corpus vector its nearest-centroid cell and saves the
    assignment as a catalog table BUCKETED BY CELL (``save_bucketed``):
    every later search's cell equi-join runs against pre-shuffled
    storage instead of re-shuffling the corpus — the 100 TB pattern
    where the index amortizes across thousands of queries.  Returns the
    centroid list; pass it (and the table) to :func:`ann_ivf_search`.
    """
    from pandance_spark.sources import save_bucketed

    if centroids is None:
        # a KMeans fit's centers would live only in this process; the
        # persisted index must be replayable, so centroids are explicit
        # (fit KMeans upstream or sample corpus vectors)
        raise ValueError(
            "build_ivf_index requires explicit centroids so searches "
            "can replay the assignment deterministically"
        )
    centers = [[float(x) for x in ctr] for ctr in centroids]
    c_assigned, _ = _ivf_cells(
        corpus, corpus.limit(0), id_col, id_col, vec_col, vec_col,
        n_clusters, 1, seed, centroids,
    )
    save_bucketed(
        c_assigned.select(
            F.col("__cid").alias(id_col),
            F.col("__cv").alias(vec_col),
            F.col("__cn").alias("__norm"),
            F.col("__cell").alias("__cell"),
        ),
        table,
        "__cell",
        num_buckets=num_buckets,
    )
    return centers


def ann_ivf_search(
    spark,
    queries: DataFrame,
    query_id: str,
    table: str,
    centroids: list,
    query_vec: str = "embedding",
    k: int = 10,
    n_probe: int = 4,
) -> DataFrame:
    """Top-k search against a persisted :func:`build_ivf_index` table.

    The corpus side comes back bucketed on ``__cell``, so the cell
    equi-join needs NO corpus-side shuffle — only the (small) probe
    side moves.  Output schema matches :func:`cosine_topk`.
    """
    from pandance_spark.functions.vectors import l2_norm, dot as _dot

    idx = spark.table(table)
    id_col = [c for c in idx.columns if c not in ("__norm", "__cell")][0]
    vec_col = [
        c for c in idx.columns if c not in (id_col, "__norm", "__cell")
    ][0]
    qname, cname = _out_names(query_id, id_col)
    q = queries.select(
        F.col(query_id).alias("__qid"),
        F.col(query_vec).cast("array<double>").alias("__qv"),
        l2_norm(F.col(query_vec)).alias("__qn"),
    )
    centers = [[float(x) for x in ctr] for ctr in centroids]
    qcells = _probe_cells(q, centers, n_probe)
    scored = qcells.join(idx, "__cell", "inner").select(
        F.col("__qid").alias(qname),
        F.col(id_col).alias(cname),
        F.round(
            _dot(F.col("__qv"), F.col(vec_col))
            / (F.col("__qn") * F.col("__norm")),
            6,
        ).alias("cosine"),
    )
    w = Window.partitionBy(qname).orderBy(
        F.col("cosine").desc(), F.col(cname).asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


# --- exact-arithmetic k-means + SemDeDup ----------------------------------
# The curation-side clustering pair: a Lloyd assignment/update step in
# 2^20 integer micro-units (engine-exact — the project_embedding
# convention from functions/vectors.py) and SemDeDup (Abbas et al.
# 2023, arXiv:2303.09540) semantic pruning WITHIN clusters.  The float
# KMeans in ann_ivf_topk is the throughput path; this family exists
# where replayability is the point: data-curation decisions (which
# documents were dropped) must be reproducible bit-for-bit across
# engines and reruns.


def _q20(vec: Column, dim: int) -> Column:
    """Quantize to integer micro-units with the exact-length NULL
    guard (the project_embedding rule) AND an operating-range guard:
    the integer distance fold below computes ``dim * (2*|q|)^2`` in
    LONG, which wraps (non-ANSI) or throws ARITHMETIC_OVERFLOW (ANSI,
    the Spark 4.x default) once ``|q| > sqrt(2^63/dim)/2`` — so
    vectors beyond that bound poison to NULL and are EXCLUDED, never
    a crash or a silent wrong cluster.  (fuzzy_join, by contrast,
    keeps rows past its 2^51 band bound: it routes them to an exact
    branch.)  At dim 64 the bound is |x| ~ 162; the micro-unit
    convention sits ~100x inside it."""
    import math as _m

    qmax = float(int(_m.sqrt((2**63 - 1) / dim) / 2))
    vd = vec.cast("array<double>")
    # range-check on the DOUBLES (the double->long cast itself throws
    # CAST_OVERFLOW under ANSI for huge inputs; CaseWhen branches are
    # lazy per row, so the cast never runs for excluded rows).  NaN
    # compares false -> excluded; NULL elements -> NULL -> excluded.
    in_range = F.forall(
        vd, lambda x: F.abs(x) * F.lit(1048576.0) <= F.lit(qmax)
    )
    q = F.transform(
        vd, lambda x: F.round(x * F.lit(1048576.0)).cast("long")
    )
    return F.when(
        (F.size(vd) == dim) & F.coalesce(in_range, F.lit(False)), q
    ).otherwise(F.lit(None))


def hash_seed_centroids(
    df: DataFrame, id_col: str, vec_col: str, dim: int, k: int
) -> list:
    """Deterministic, engine-replayable centroid seeding: the ``k``
    rows with the smallest ``(md5-hash(id), id)`` — a uniform sample
    under a fixed hash order (the KMV argument: hash order is
    independent of the data), so any engine with md5 picks the SAME
    seeds.  Returns the quantized (micro-unit integer) centroid
    vectors as a list of lists, smallest-hash first.

    Driver-side collect is k rows (k ~ tens/hundreds) — index-sized,
    never corpus-sized; the TakeOrdered cut is one pass.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    h = F.conv(
        F.substring(F.md5(F.col("__id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    rows = (
        df.select(
            F.col(id_col).alias("__id"),
            _q20(F.col(vec_col), dim).alias("__q"),
        )
        .filter(F.col("__q").isNotNull())
        .withColumn("__h", h)
        .orderBy("__h", "__id")
        .limit(int(k))
        .collect()
    )
    if len(rows) < k:
        raise ValueError(f"only {len(rows)} valid vectors for k={k}")
    return [[int(x) for x in r["__q"]] for r in rows]


def _int_dists(q: Column, centers_q: list) -> Column:
    """Array of EXACT integer squared distances from quantized vector
    ``q`` to each quantized centroid.  Long arithmetic: |diff| <=
    2^21 * max|x|, so the dim-sum is <= dim * (2^21 * |x|)^2 and
    stays inside int64 for |x| up to ~sqrt(2^63 / dim) / 2^21 — ~181
    at dim 64, ~52 at dim 768 — comfortably beyond the ~unit
    micro-unit convention but NOT unbounded (enforce upstream for
    unconventional magnitudes; the decimal cast the moment sums use
    would cost ~3x here on the k*dim hot loop)."""
    import json

    return F.transform(
        F.from_json(
            F.lit(json.dumps(centers_q)), "array<array<bigint>>"
        ),
        lambda ctr: F.aggregate(
            F.zip_with(q, ctr, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ),
    )


def kmeans_assign_exact(
    df: DataFrame, id_col: str, vec_col: str, centers_q: list
) -> DataFrame:
    """One Lloyd ASSIGNMENT step in exact integer arithmetic:
    ``(id, cluster, dist2)`` with ``cluster`` the first index attaining
    the minimum squared distance (ties break to the lowest cluster id
    — replayable, unlike float argmin whose last-ulp ties are engine
    luck) and ``dist2`` the exact integer distance.

    Map-only: the centroid table rides in as ONE constant-folded
    from_json literal (the const_vectors trick), the corpus is never
    shuffled to be assigned — at 100 TB this runs at scan speed.
    Wrong-length vectors are excluded (NULL-guard rule)."""
    dim = len(centers_q[0])
    q = _q20(F.col(vec_col), dim)
    staged = df.select(F.col(id_col), q.alias("__q")).filter(
        F.col("__q").isNotNull()
    )
    dists = _int_dists(F.col("__q"), centers_q)
    return (
        staged.withColumn("__d", dists)
        .select(
            id_col,
            (F.array_position(F.col("__d"), F.array_min(F.col("__d"))) - 1)
            .cast("int")
            .alias("cluster"),
            F.array_min(F.col("__d")).alias("dist2"),
        )
    )


def kmeans_update_exact(
    df: DataFrame, id_col: str, vec_col: str, centers_q: list
) -> DataFrame:
    """Assignment + one Lloyd UPDATE, all exact: per cluster
    ``(cluster, n_vecs, inertia, mean_q_csv)`` where ``inertia`` is
    the exact integer sum of squared distances and ``mean_q_csv`` the
    new centroid as rounded micro-unit integers (CSV string — exact
    decimal sums divided by n, one IEEE division + round per
    coordinate, identical in any engine).

    Shape: the map-only assignment above, then ONE combine-friendly
    aggregate over a single posexplode of the quantized vectors keyed
    by (cluster, dim): each (cluster, dim) group carries the
    per-dimension decimal sum AND (redundantly per dim, identically
    valued) the cluster's row count and exact inertia — so the whole
    update is one corpus pass, where the previous two-aggregate +
    rejoin form evaluated the assignment subtree (scan + k*dim
    distance folds) three times (r11 optimization: 3 scans -> 1,
    measured in plans/r11/kmeans_assign_{before,after}.txt).  Only
    dim decimal partials per cluster per partition cross the wire,
    never vectors.  (An unrolled per-dim aggregate list was measured
    3.5x slower in BUILD alone: 64 element_at sums + 64 projections
    push thousands of nodes through analysis.)"""
    dim = len(centers_q[0])
    q = _q20(F.col(vec_col), dim)
    staged = df.select(F.col(id_col), q.alias("__q")).filter(
        F.col("__q").isNotNull()
    )
    dists = _int_dists(F.col("__q"), centers_q)
    assigned = staged.withColumn("__d", dists).select(
        "__q",
        (F.array_position(F.col("__d"), F.array_min(F.col("__d"))) - 1)
        .cast("int")
        .alias("cluster"),
        F.array_min(F.col("__d")).alias("__dist2"),
    )
    # one pass: per (cluster, dim) the decimal coordinate sum, plus the
    # cluster-level count and inertia (identical in every dim group of a
    # cluster — each vector contributes its __dist2 to each of its dim
    # rows exactly once, so the per-(cluster, dim) sums all equal the
    # cluster total; max() picks the shared value back out)
    dimagg = (
        assigned.select(
            "cluster", "__dist2", F.posexplode("__q").alias("__i", "__x")
        )
        .groupBy("cluster", "__i")
        .agg(
            F.sum(F.col("__x").cast("decimal(38,0)")).alias("__s"),
            F.count("*").alias("n_vecs"),
            F.sum(F.col("__dist2").cast("decimal(38,0)"))
            .cast("decimal(38,0)")
            .alias("inertia"),
        )
    )
    return (
        dimagg.select(
            "cluster",
            "__i",
            "n_vecs",
            "inertia",
            F.round(F.col("__s").cast("double") / F.col("n_vecs"), 0)
            .cast("long")
            .cast("string")
            .alias("__m"),
        )
        .groupBy("cluster")
        .agg(
            F.max("n_vecs").alias("n_vecs"),
            F.max("inertia").alias("inertia"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("__i", "__m"))
                    ),
                    lambda s: s["__m"],
                ),
                ",",
            ).alias("mean_q_csv"),
        )
        .select("cluster", "n_vecs", "inertia", "mean_q_csv")
    )


def semdedup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centers_q: list,
    threshold_num: int = 9,
    threshold_den: int = 10,
) -> DataFrame:
    """SemDeDup candidate pairs (Abbas et al. 2023): within each
    k-means cluster, the ordered pairs whose cosine exceeds
    ``threshold_num / threshold_den`` — evaluated EXACTLY in integer
    arithmetic: ``cos(a,b) > t``  ⇔  ``dot > 0  ∧  den² · dot² >
    num² · |a|² · |b|²`` (all decimal(38,0); no sqrt, no floats, no
    engine ties).  Returns ``(cluster, id_a, id_b)`` with
    ``id_a < id_b``; the SemDeDup keeper rule (drop the higher id,
    i.e. keep one representative per near-duplicate set) is a
    downstream distinct on id_b.

    Scale: the pair generation is an equi-join on the cluster id —
    O(Σ s_c²) work, never corpus-all-pairs; the standard mitigation
    for a fat cluster is recursive sub-clustering (re-run
    kmeans_assign_exact within the cluster), which preserves
    correctness, unlike salting (which would drop cross-salt pairs).
    The dot/norm folds run on the quantized arrays staged ONCE per
    side."""
    if not (0 < threshold_num < threshold_den):
        raise ValueError("threshold must be in (0, 1) as num/den")
    dim = len(centers_q[0])
    q = _q20(F.col(vec_col), dim)
    staged = df.select(F.col(id_col), q.alias("__q")).filter(
        F.col("__q").isNotNull()
    )
    dists = _int_dists(F.col("__q"), centers_q)
    norm2 = F.aggregate(
        F.col("__q"),
        F.lit(0).cast("decimal(38,0)"),
        lambda acc, v: (
            acc + v.cast("decimal(19,0)") * v.cast("decimal(19,0)")
        ).cast("decimal(38,0)"),
    )
    side = staged.withColumn(
        "cluster",
        (
            F.array_position(dists, F.array_min(dists)) - 1
        ).cast("int"),
    ).withColumn("__n2", norm2)
    # per-side DOUBLE copies staged once (pair-stage folds then run on
    # cheap double arithmetic instead of per-pair decimal casts)
    side = side.withColumn(
        "__qd", F.transform(F.col("__q"), lambda x: x.cast("double"))
    )
    # the broadcast cluster-join inherits the SCAN partitioning, so a
    # 1-2-file corpus would run the O(pairs) fold stage on 1-2 cores;
    # spread the stream side first (no-op for healthy inputs)
    from pandance_spark._kernel import spread_partitions

    side = spread_partitions(side)
    # side feeds BOTH ends of the cluster self-join; column aliases
    # differ per side, so Spark's exchange reuse never fires and the
    # whole assignment subtree (scan + quantize + k*dim distance folds
    # + norm fold) evaluated TWICE (r11 before-plan: 4 corpus scans).
    # The lazy checkpoint materializes it once; contents are the
    # quantized projection of the embedding table (vectors + one
    # norm), MEMORY_AND_DISK — at scale the spill I/O replaces a
    # strictly more expensive rescan + recompute.
    side = side.localCheckpoint(eager=False)
    a = side.select(
        F.col(id_col).alias("id_a"),
        F.col("__q").alias("__qa"),
        F.col("__qd").alias("__qad"),
        F.col("__n2").alias("__na"),
        "cluster",
    )
    b = side.select(
        F.col(id_col).alias("id_b"),
        F.col("__q").alias("__qb"),
        F.col("__qd").alias("__qbd"),
        F.col("__n2").alias("__nb"),
        "cluster",
    )
    pairs = a.join(b, "cluster").filter(F.col("id_a") < F.col("id_b"))
    from pandance_spark._kernel import stage_expr

    # STAGE 1 — exact-double pre-gate over EVERY pair.  For micro-unit
    # vectors each product q_a*q_b <= (2^20*|x|)^2 ~ 1.1e12 and the
    # dim-sum <= ~7e13: every partial sum is an integer below 2^53,
    # so the double dot is EXACT.  Squaring it for the cosine test
    # leaves exactness (4.9e27 > 2^53), so the pre-gate keeps a
    # relative MARGIN of 1e-9 — ~1e6x the worst double error of the
    # two multiplies — and only provably-below-threshold pairs are
    # rejected here.  Staged behind a Generate barrier: predicate
    # pushdown re-inlines filter aliases, and an unstaged fold
    # evaluated per reference (measured 10.7 s -> the decimal form's
    # cost was exactly this class).
    dot_d = F.aggregate(
        F.zip_with(F.col("__qad"), F.col("__qbd"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    pre = stage_expr(pairs, dot_d, "__dotd")
    t2 = (float(threshold_num) / float(threshold_den)) ** 2
    survivors = pre.filter(
        (F.col("__dotd") > 0)
        & (
            F.col("__dotd") * F.col("__dotd")
            > F.lit(t2 * (1.0 - 1e-9))
            * F.col("__na").cast("double")
            * F.col("__nb").cast("double")
        )
    )
    # STAGE 2 — the EXACT decimal(38,0) decision, now over the handful
    # of survivors only: dot^2 * den^2 ~ 5e29 and na*nb*num^2 ~ 4e29
    # both fit 38 digits for micro-unit vectors.  The exactness
    # envelope is checked EXPLICITLY per pair (|dot| <= sqrt(na*nb)
    # by Cauchy-Schwarz, so bounding the norms bounds every product
    # below 10^38): inside it, no floats touch the decision; beyond
    # it — inputs far past the 2^20 unit convention — the pair falls
    # back to the double comparison (relative error ~1e-15) instead
    # of an ANSI ARITHMETIC_OVERFLOW crash or a silent non-ANSI
    # NULL-drop of a genuine duplicate.
    dot = F.aggregate(
        F.zip_with(
            F.col("__qa"),
            F.col("__qb"),
            lambda x, y: x.cast("decimal(19,0)") * y.cast("decimal(19,0)"),
        ),
        F.lit(0).cast("decimal(38,0)"),
        lambda acc, v: (acc + v).cast("decimal(38,0)"),
    )
    num = F.lit(int(threshold_num)).cast("decimal(38,0)")
    den = F.lit(int(threshold_den)).cast("decimal(38,0)")
    staged_pairs = stage_expr(survivors, dot, "__dot")
    d38 = "decimal(38,0)"
    norm_bound = F.lit(
        9.9e18 / float(max(threshold_num, threshold_den))
    ).cast(d38)
    in_envelope = (F.col("__na") <= norm_bound) & (
        F.col("__nb") <= norm_bound
    )
    lhs = (
        (F.col("__dot") * F.col("__dot")).cast(d38) * (den * den).cast(d38)
    ).cast(d38)
    rhs = (
        (F.col("__na") * F.col("__nb")).cast(d38) * (num * num).cast(d38)
    ).cast(d38)
    t2_exact = (float(threshold_num) / float(threshold_den)) ** 2
    dbl_decision = (
        F.col("__dot").cast("double") * F.col("__dot").cast("double")
        > F.lit(t2_exact)
        * F.col("__na").cast("double")
        * F.col("__nb").cast("double")
    )
    keep = F.when(in_envelope, lhs > rhs).otherwise(dbl_decision)
    return (
        staged_pairs.filter((F.col("__dot") > 0) & keep)
        .select("cluster", "id_a", "id_b")
    )
