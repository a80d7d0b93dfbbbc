"""Render the physical plans of the core operators into PLANS.md —
the evidence that each operator compiles to the intended Spark plan
(pushdown, pruning, join strategy), regenerable at any time."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from harness import session  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from pandance_spark import asof_join, fuzzy_join, ineq_join, theta_join
from pandance_spark.plans.mem import explain_str
from pandance_spark.sources import load_table

SF = "/root/testdata/sf0.1"

spark = session("gen_plans")

part = load_table(spark, SF, "part").select("p_partkey", "p_retailprice")
cust = load_table(spark, SF, "customer").select("c_custkey", "c_acctbal")
li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_extendedprice")
od = load_table(spark, SF, "orders").select("o_orderkey", "o_totalprice")
supp = load_table(spark, SF, "supplier")
ev = load_table(spark, SF, "events")

sections = []


def add(title, note, df):
    plan = explain_str(df, "formatted")
    sections.append(f"## {title}\n\n{note}\n\n```\n{plan.strip()}\n```\n")


add(
    "fuzzy_join — band strategy",
    "Band-bucketed equi-join: NaN/Inf filters **pushed to the parquet scan** "
    "(`PushedFilters`), only the needed columns read (`ReadSchema`), hash join "
    "on `floor(v/tol)` buckets with the exact `abs(l-r) <= tol` as the join "
    "condition. Becomes SMJ/shuffled-hash automatically above broadcast size.",
    fuzzy_join(part, cust, left_on="p_retailprice", right_on="c_acctbal", tol=0.5, strategy="band"),
)
add(
    "ineq_join — band strategy (600k x 150k)",
    "Quantile band join: the only comparison work is the diagonal filter; "
    "off-diagonal band pairs are guaranteed matches. Equi-join on band id, "
    "no BroadcastNestedLoop/Cartesian anywhere.",
    ineq_join(li, od, how="<", left_on="l_extendedprice", right_on="o_totalprice", strategy="band", num_bands=32),
)
add(
    "theta_join — Column condition recovered as an equi-join",
    "`crossJoin + filter((p_size % 5) == (s_suppkey % 5))`: Catalyst rewrites "
    "the cross join into a **hash join on the derived keys** — the Python-level "
    "API cost is zero; no EvalPython node appears.",
    theta_join(part.join(load_table(spark, SF, "part").select("p_partkey", "p_size"), "p_partkey"), supp,
               condition=lambda x, y: (x % 5) == (y % 5), left_on="p_size", right_on="s_suppkey"),
)
add(
    "asof_join — single-shuffle union + running last",
    "One Exchange (hash by the `by` key) + one sort feeds a window running-"
    "`last(ignorenulls)` — the same shuffle shape as a sort-merge join, with "
    "no row replication.",
    asof_join(
        ev.filter(F.col("event_type") == "click").select("user_id", F.col("ts").alias("c_ts")),
        ev.filter(F.col("event_type") == "view").select("user_id", F.col("ts").alias("v_ts")),
        left_on="c_ts", right_on="v_ts", by=["user_id"],
    ),
)

from pandance_spark.operators.contamination import contamination_check

docs = load_table(spark, SF, "documents")
add(
    "contamination_check — broadcast benchmark, corpus never shuffles",
    "The benchmark shingle index is broadcast (`BroadcastExchange` + "
    "`BroadcastHashJoin`); the corpus side is scan → project → explode → "
    "map-side join → partial aggregate. The ONLY Exchange in the plan is the "
    "final aggregation on (doc_id, bench_id) — corpus rows are never "
    "shuffled raw.",
    contamination_check(
        docs.filter(F.col("doc_id") % 100 != 7),
        docs.filter(F.col("doc_id") % 100 == 7),
        "doc_id", "text", shingle_n=2, min_overlap=3,
    ),
)

from pandance_spark.functions.text import repetition_profile

add(
    "repetition_profile — staged projections, zero shuffles",
    "All repetition signals are per-row expressions over ONE tokenize "
    "evaluation: the token array and sorted n-gram array are staged behind "
    "projection boundaries (visible as separate Project nodes). No Exchange "
    "in the whole plan — this is a pure map pipeline over the scan.",
    repetition_profile(docs, "doc_id", "text", 2),
)

from pandance_spark.functions.split import stratified_sample

add(
    "stratified_sample — filter fused into the scan pipeline",
    "The keep-decision is a deterministic per-row predicate (md5 bucket vs "
    "per-stratum cut): a single Filter over the scan, no Exchange, no "
    "sampling state. `ReadSchema` shows only the referenced columns.",
    stratified_sample(
        docs, "lang", {"en": 0.5, "de": 0.25}, key_col="doc_id", default_rate=0.1
    ).select("doc_id", "lang"),
)


from pandance_spark.functions.ranking import bm25_topk
from pandance_spark.functions.text import gopher_signals
from pandance_spark.operators.similarity import knn_graph

add(
    "gopher_signals — quality panel as one projection",
    "The full Gopher rule panel (token stats, symbol/bullet ratios, stopword "
    "hits, keep flag) is a single Project over the scan — no Exchange, no "
    "UDF, `ReadSchema` reads only (doc_id, text). At 100 TB this fuses with "
    "whatever stage consumes the flags.",
    gopher_signals(docs, "doc_id", "text"),
)
add(
    "bm25_topk — term-filtered explode, partial aggs, TakeOrdered",
    "The query-term filter sits INSIDE the same map stage as tokenize (the "
    "explode emits only matching tokens — shuffle volume ∝ matches, not "
    "corpus tokens); tf and df are hash aggregations with map-side partial "
    "combine; the tiny per-term df table comes back via BroadcastHashJoin; "
    "the final top-k is `TakeOrderedAndProject` — per-partition heap + "
    "driver merge, NO global sort shuffle.",
    bm25_topk(docs, "doc_id", "text", ["table", "scan", "merge", "hash"], k=20),
)
emb = load_table(spark, SF, "embeddings")
_cents = [
    r["embedding"]
    for r in emb.filter(F.col("vec_id") < 8)
    .select(F.col("embedding").cast("array<double>").alias("embedding"))
    .orderBy("vec_id")
    .collect()
]
add(
    "knn_graph — large x large via per-cell GEMM (FlatMapCoGroupsInPandas)",
    "Both sides are shuffled ONCE on IVF cell id into a cogroup; the "
    "`FlatMapCoGroupsInPandas` node is the per-cell numpy GEMM, which "
    "returns only per-(query, cell) top-k survivors — Arrow transfer is "
    "O(rows + k·probes), never O(pairs). The final window ranks "
    "n_probe·k candidates per query. Neither side is broadcast — this is "
    "the plan shape that survives both sides at corpus scale.",
    knn_graph(emb, "vec_id", "embedding", k=3, n_clusters=8, n_probe=4,
              centroids=_cents),
)

from pandance_spark.sources import save_bucketed

save_bucketed(
    od.limit(50000), "plans_orders_b", "o_orderkey", num_buckets=8
)
save_bucketed(
    li.limit(50000), "plans_lineitem_b", "l_orderkey", num_buckets=8
)
# disable broadcast so the plan shows the bucketed sort-merge shape a
# 100 TB fact-fact join would take (at toy scale Spark would broadcast)
spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
add(
    "bucketed co-located equi-join — ZERO shuffle Exchange",
    "Both tables bucketed on the join key with the same bucket count: the "
    "sort-merge join runs on the stored bucketing with **no shuffle Exchange "
    "on either side** — pre-partitioned storage replaces the shuffle, the "
    "biggest lever for repeated joins over 100 TB fact tables "
    "(`sources.save_bucketed`; broadcast disabled for this explain so the "
    "fact-fact shape is visible).",
    spark.table("plans_orders_b").join(
        spark.table("plans_lineitem_b"),
        F.col("o_orderkey") == F.col("l_orderkey"),
    ),
)
spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
spark.sql("DROP TABLE IF EXISTS plans_orders_b")
spark.sql("DROP TABLE IF EXISTS plans_lineitem_b")

STATIC_SECTIONS = """## knn_graph hot-cell salting + persisted IVF index (r3, narrative)

`knn_graph(max_cell_rows=N)` bounds the per-cell GEMM: oversized IVF
cells sub-split by candidate-id hash and probing queries fan out to
every sub-cell — task size capped, result provably identical (each
pair meets in exactly one sub-cell; tested on a single-hot-cell
corpus). `build_ivf_index` persists the cell assignment bucketed by
cell id; `ann_ivf_search`'s executed plan then carries ONE shuffle
exchange (probe side only) — the corpus never re-shuffles across
searches.

## skew evidence — band join under a hot key (r2)

`ineq_band_skewed` (bench + oracle-gated) pins 50% of the left rows to a
single value, concentrating them in one quantile band. Measured at sf0.1
on local[32] with AQE on (3.2k x 3.2k inputs, ~5.3M output rows):
uniform 1.79 s vs skewed 1.31 s — ratio 0.73x, well inside the 2x
envelope. Two effects keep the skewed case healthy: (a) quantile cuts
come from the *right* side, so the hot left value spreads across the
right band boundaries' explode targets rather than one reducer; (b) AQE
skew-join splitting (`spark.sql.adaptive.skewJoin`) re-splits any
oversized band partition at runtime. The hot-band diagonal still runs
the exact predicate only on its own band's pairs.

## connected_components — iterative rounds (narrative, not a single plan)

Each round is two equi-joins + one aggregation over `localCheckpoint`-ed
inputs, so the per-round plan stays FLAT (no lineage growth): join
edges×labels (hash on the node id) → partial-aggregating `min` →
left-join back → optional pointer-doubling self-join. Convergence is a
single `sum(comp)` agg on the checkpointed labels (numeric ids) — no
extra join. Work per round ∝ |E| + |V|; rounds = O(log diameter).

r3: the symmetrized edge list is materialized (checkpoint) before the
loop, so its exact count is free; at ≤ `max_driver_edges` (default 2M)
a driver union-find replaces the rounds entirely — the guarded
small-side fast path, same pattern as the GEMM plan-size gate. Post-LSH
dedup graphs at corpus scale blow past the guard and take the
distributed loop; both paths are property-tested to agree.
"""
sections.append(STATIC_SECTIONS)

header = (
    "# PLANS — physical-plan evidence for the core operators\n\n"
    "Generated by `scripts/gen_plans.py` against sf0.1 on "
    f"{spark.sparkContext.master}; rerun "
    "after planner-visible changes. What to look for in each plan is noted "
    "per section.\n\n"
)
# everything below the marker is hand-maintained narrative — preserved
# across regenerations (a plain overwrite used to destroy it)
MARKER = "<!-- hand-maintained narratives below; gen_plans.py preserves this tail -->"
out_path = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"
)
tail = ""
if os.path.exists(out_path):
    existing = open(out_path).read()
    if MARKER in existing:
        tail = existing.split(MARKER, 1)[1]
with open(out_path, "w") as f:
    f.write(header + "\n".join(sections) + "\n" + MARKER + tail)
print("PLANS.md written")
