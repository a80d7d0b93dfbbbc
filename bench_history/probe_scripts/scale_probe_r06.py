"""r6 scale probes (r5 verdict items 4 & 5).

1+2. Dedup candidate growth, measured not argued: minhash-LSH and
   ngram-Jaccard candidate counts at N and 10N documents with the
   duplicate RATE held constant (10% of docs are exact copies).  The
   100 TB claim for the dedup family is that candidate volume grows
   with COLLISIONS (∝ N at fixed dup rate), never with corpus pairs
   (∝ N²).  The probe runs the real candidate stages
   (``minhash_candidates``, ``_ngram_candidates``) at both scales and
   asserts the ratio lands near 10, not 100.

3. Auto-skew band join at 10x the r5 skew atom: right side 10M rows
   with 5M pinned to ONE value (a 5M-row fat band — 10x r5's 500k
   atom); the left probes the fat band's DIAGONAL (values inside the
   band but matching none of the hot rows), so the measured cost is
   pure per-reducer predicate work with ~zero output — the straggler
   shape isolated from output volume.  Broadcast is disabled for this
   probe (modeling the both-sides-too-big-to-broadcast regime where
   salting applies; with a broadcastable side skew_salting='auto'
   correctly skips the salt).  Runs the same join salted
   (skew_salting default, engages via detection) and unsalted
   (skew_salting='never'); asserts identical row counts and that the
   salted stage, spread over k reducers, beats the single fat
   reducer.

Prints one JSON line per probe; paste results into SCALING.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def consume(df):
    df.write.format("noop").mode("overwrite").save()


def main():
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    from pyspark.sql import SparkSession, functions as F

    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("pdx_scale_probe_r06")
        .config("spark.sql.shuffle.partitions", str(CPUS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_MEM", "16g"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from pandance_spark.operators.dedup import minhash_candidates
    from pandance_spark.functions.text import tokenize
    from pandance_spark.operators.dedup import (
        _ngram_candidates,
        _set_elements,
        _shingle_base,
    )
    from pandance_spark.operators.ineq import ineq_join

    # ---- synthetic corpus: 25-token docs, 10% exact duplicates ------
    # ids in [0.9N, N) copy the text of id - 0.9N -> exactly 0.1N
    # duplicate PAIRS at every scale; generated distributed (no driver
    # materialization) from xxhash64 token draws.
    def corpus(n: int):
        n_base = int(n * 0.9)
        base = F.pmod(F.col("id"), F.lit(n_base))
        toks = F.transform(
            F.sequence(F.lit(0), F.lit(24)),
            lambda j: F.pmod(
                F.xxhash64(base * F.lit(31) + j), F.lit(50_000)
            ).cast("string"),
        )
        return (
            spark.range(n)
            .select(
                F.col("id").alias("doc_id"),
                F.concat_ws(" ", toks).alias("text"),
            )
            .localCheckpoint(eager=True)
        )

    n_small = 5_000  # = sf0.1's document count
    n_big = 10 * n_small

    # ---- 1. minhash-LSH candidate growth ----------------------------
    walls, cands = {}, {}
    for tag, n in (("x1", n_small), ("x10", n_big)):
        docs = corpus(n)
        t0 = time.time()
        c = minhash_candidates(docs, "doc_id", "text").count()
        walls[tag], cands[tag] = round(time.time() - t0, 2), c
    ratio = cands["x10"] / max(cands["x1"], 1)
    rec = {
        "probe": "minhash_candidates_growth",
        "docs_x1": n_small,
        "cands_x1": cands["x1"],
        "cands_x10": cands["x10"],
        "cand_ratio": round(ratio, 2),
        "wall_x1": walls["x1"],
        "wall_x10": walls["x10"],
        "note": "10x docs at held dup rate -> ~10x candidates (collision-"
        "proportional), NOT 100x (pair-proportional)",
    }
    print(json.dumps(rec))
    assert 6 <= ratio <= 16, f"minhash candidate ratio {ratio} not ~10"

    # ---- 2. ngram-Jaccard candidate growth --------------------------
    walls, cands = {}, {}
    for tag, n in (("x1", n_small), ("x10", n_big)):
        docs = corpus(n)
        t0 = time.time()
        raw = _set_elements(
            _shingle_base(docs, "doc_id", tokenize(F.col("text")), 3)
        ).localCheckpoint(eager=True)
        cand_df, _sets = _ngram_candidates(raw, 0.8)
        c = cand_df.count()
        walls[tag], cands[tag] = round(time.time() - t0, 2), c
    ratio = cands["x10"] / max(cands["x1"], 1)
    rec = {
        "probe": "ngram_jaccard_candidates_growth",
        "docs_x1": n_small,
        "cands_x1": cands["x1"],
        "cands_x10": cands["x10"],
        "cand_ratio": round(ratio, 2),
        "wall_x1": walls["x1"],
        "wall_x10": walls["x10"],
        "note": "prefix-collision candidates ∝ N at held dup rate",
    }
    print(json.dumps(rec))
    assert 6 <= ratio <= 16, f"ngram candidate ratio {ratio} not ~10"

    # ---- 3. auto-skew band join, 10x the r5 atom --------------------
    # right: 5M rows at EXACTLY 500.0 (the fat band) + 5M uniform
    # below it.  left: 200 rows just above the hot value -> they land
    # in the fat band's diagonal, each must predicate-scan the 5M hot
    # rows, and none matches (v_l < 500.0 is false for v_l > 500):
    # ~1G comparisons of pure reducer work, ~zero output.  Left values
    # are DISTINCT per row — with a single literal value Catalyst
    # constant-folds the diagonal predicate into a pushed-down right-
    # side scan filter that deletes the hot rows before the join,
    # and the fat reducer never materializes (measured: 0.4 s vs the
    # real 20 s).
    n_r = 10_000_000
    hot = 500.0
    right = (
        spark.range(n_r)
        .select(
            F.col("id").alias("rid"),
            F.when(F.col("id") % 2 == 0, F.lit(hot))
            .otherwise(
                F.pmod(F.xxhash64("id"), F.lit(10**9))
                / F.lit(10**9.0)
                * F.lit(hot)
            )
            .alias("v"),
        )
        .localCheckpoint(eager=True)
    )
    left = spark.range(200).select(
        F.col("id").alias("lid"),
        (F.lit(hot) + F.lit(1e-4) + F.col("id") * F.lit(1e-7)).alias("v"),
    ).localCheckpoint(eager=True)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

    def run(mode):
        # time count() itself: it executes the full join once (both
        # modes measured identically) without a second untimed
        # re-execution of the deliberately pathological plan
        out = ineq_join(
            left, right, how="<", on="v", strategy="band",
            num_bands=64, disjoint_fast_path=False, skew_salting=mode,
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        t0 = time.time()
        n = out.count()
        return time.time() - t0, n, "__salt" in plan

    try:
        wall_salted, n_salted, salted_flag = run("auto")
        wall_plain, n_plain, plain_flag = run("never")
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    rec = {
        "probe": "ineq_autoskew_10x_atom",
        "right_rows": n_r,
        "fat_band_rows": n_r // 2,
        "rows_out": n_salted,
        "salted_wall": round(wall_salted, 2),
        "unsalted_wall": round(wall_plain, 2),
        "salted_plan": salted_flag,
        "unsalted_plan_has_salt": plain_flag,
        "note": "diagonal probe of a 5M-row fat band; salted spreads "
        "~1G predicate evals over k reducers instead of one",
    }
    print(json.dumps(rec))
    assert salted_flag and not plain_flag
    assert n_salted == n_plain, (n_salted, n_plain)
    assert wall_salted < wall_plain, (wall_salted, wall_plain)

    # ---- 4. fuzzy hot-bucket salting (r6 skew_salting for fuzzy) ----
    # 2M left rows at ONE atom value; 25 right rows within tol of it
    # -> ~50M output pairs that ONE bucket reducer must emit alone
    # unsalted.  The fuzzy fat bucket is output-bound (same-bucket
    # pairs mostly match), so salting spreads row EMISSION, not
    # predicate work.  Both sides too big to broadcast -> auto mode
    # detects and salts via its bounded sampled pass.
    atom = 500.00005
    fl = (
        spark.range(4_000_000)
        .select(
            F.col("id").alias("lid"),
            F.when(F.col("id") % 2 == 0, F.lit(atom))
            .otherwise(
                F.pmod(F.xxhash64("id"), F.lit(10**9)) / F.lit(10**6.0)
            )
            .alias("v"),
        )
        .localCheckpoint(eager=True)
    )
    fr = (
        spark.range(2_000_000)
        .select(
            F.col("id").alias("rid"),
            F.when(F.col("id") < 25, F.lit(atom - 3e-5))
            .otherwise(
                F.pmod(F.xxhash64(F.col("id") + 13), F.lit(10**9))
                / F.lit(10**6.0)
            )
            .alias("v"),
        )
        .localCheckpoint(eager=True)
    )

    from pandance_spark import fuzzy_join

    def frun(mode):
        # this probe is EMISSION-bound, so the timed action must
        # materialize full rows (noop write).  count()-timing would
        # let column pruning strip the payload and erase the very
        # cost salting spreads (measured: the comparison flips).
        out = fuzzy_join(
            fl, fr, on="v", tol=1e-4, strategy="band",
            disjoint_fast_path=False, skew_salting=mode,
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        t0 = time.time()
        consume(out)
        return time.time() - t0, out, "__salt" in plan

    wall_s, out_s, flag_s = frun("auto")
    wall_p, _out_p, flag_p = frun("never")
    # one untimed count for the record; cross-mode result equality is
    # pinned by tests/test_fuzzy.py::test_fuzzy_skew_salting_equality
    n_s = out_s.count()
    rec = {
        "probe": "fuzzy_autoskew_atom_2m",
        "left_atom_rows": 2_000_000,
        "rows_out": n_s,
        "salted_wall": round(wall_s, 2),
        "unsalted_wall": round(wall_p, 2),
        "salted_plan": flag_s,
        "unsalted_plan_has_salt": flag_p,
        "note": "~50M pairs emitted by one bucket reducer unsalted vs "
        "spread over salt cells",
    }
    print(json.dumps(rec))
    assert flag_s and not flag_p
    assert wall_s < wall_p, (wall_s, wall_p)


if __name__ == "__main__":
    main()
