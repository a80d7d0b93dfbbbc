"""The benchmark's workloads: which public calls a pass makes, on
which generated inputs, and the reference each call's output must
match.

A workload class lists the :class:`Call` s of one pass in ``calls`` and
has three steps: ``generate(seed)`` builds the pandas inputs,
``references(frames)`` computes every call's expected output with no
Spark running, and ``load(spark, frames)`` caches the inputs in Spark
and returns them by name, the argument each call's ``invoke`` takes.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

import pandance_spark as pdx
from pandance_spark.operators import dedup

from perfbench import inputs, reference
from perfbench.trace import spine_candidates


@dataclass
class Call:
    name: str  # public function, also the per-layer metric prefix
    invoke: Callable  # (cached inputs by name) -> DataFrame
    columns: tuple
    scales: tuple
    # (nodes, df) -> (candidate pairs, result pairs), for pair operators
    candidates: Callable | None = None


def _cache(spark, frame, parallelism: int):
    df = spark.createDataFrame(frame).repartition(parallelism).cache()
    df.count()
    return df


def _cache_all(spark, frames: dict) -> dict:
    par = spark.sparkContext.defaultParallelism
    return {k: _cache(spark, f, par) for k, f in frames.items()}


class PandanceJoins:
    """fuzzy_join, ineq_join and theta_join on the reference pandance's
    performance-test distributions."""

    name = "pandance_joins"
    fuzzy_rows, ineq_rows, overlap = 30_000, 3000, 1500
    calls = [
        Call("fuzzy_join",
             lambda d: pdx.fuzzy_join(d["fuzzy_l"], d["fuzzy_r"], on="val",
                                      tol=inputs.FUZZY_TOL, strategy="band"),
             reference.FUZZY_COLUMNS, reference.FUZZY_SCALES),
        Call("ineq_join",
             lambda d: pdx.ineq_join(d["ineq_l"], d["ineq_r"], how="<", on="val",
                                     strategy="band"),
             reference.LESS_COLUMNS, reference.LESS_SCALES),
        Call("theta_join",
             lambda d: pdx.theta_join(d["ineq_l"], d["ineq_r"],
                                      condition=lambda x, y: x < y, on="val"),
             reference.LESS_COLUMNS, reference.LESS_SCALES),
    ]

    def generate(self, seed: int) -> dict:
        fl, fr = inputs.fuzzy_inputs(seed, self.fuzzy_rows)
        il, ir = inputs.ineq_inputs(seed, self.ineq_rows, self.overlap)
        return {"fuzzy_l": fl, "fuzzy_r": fr, "ineq_l": il, "ineq_r": ir}

    def references(self, frames: dict) -> dict:
        less = reference.less_expected(frames["ineq_l"], frames["ineq_r"])
        return {
            "fuzzy_join": reference.fuzzy_expected(
                frames["fuzzy_l"], frames["fuzzy_r"], inputs.FUZZY_TOL),
            "ineq_join": less,
            "theta_join": less,
        }

    def load(self, spark, frames: dict) -> dict:
        return _cache_all(spark, frames)


# dedup corpus size and call parameters (shared by the calls and their
# references)
DOCS = 150
MINHASH_THRESHOLD = 0.8
EVAL_THRESHOLD = 0.6
EVAL_BANDS = 16
FP = dict(k=8, mod=16, min_shared=2, max_df=64)
SUBSTR = dict(min_tokens=8, max_occurrences=64)


def _eval_candidates(nodes: dict, df) -> tuple[int, int]:
    # the evaluation reports its own LSH candidates and how many of
    # them the exact truth verified
    row = df.first()
    return int(row["n_candidates"]), int(row["n_verified"])


class Dedup:
    """dedup_minhash and minhash_eval on a corpus with planted
    near-duplicates; fingerprint_overlap_join and dedup_substrings on
    the same corpus with one boilerplate line in every document."""

    name = "dedup"
    calls = [
        Call("dedup_minhash",
             lambda d: dedup.dedup_minhash(d["corpus"], "doc_id", "text",
                                           threshold=MINHASH_THRESHOLD),
             reference.MINHASH_COLUMNS, reference.MINHASH_SCALES,
             spine_candidates),
        Call("fingerprint_overlap_join",
             lambda d: dedup.fingerprint_overlap_join(d["hotkey"], "doc_id", "text",
                                                      **FP),
             reference.FINGERPRINT_COLUMNS, reference.FINGERPRINT_SCALES,
             spine_candidates),
        Call("dedup_substrings",
             lambda d: dedup.dedup_substrings(d["hotkey"], "doc_id", "text",
                                              **SUBSTR),
             reference.SUBSTRING_COLUMNS, reference.SUBSTRING_SCALES,
             spine_candidates),
        Call("minhash_eval",
             lambda d: dedup.minhash_eval(d["corpus"], "doc_id", "text",
                                          threshold=EVAL_THRESHOLD, portable=True),
             reference.EVAL_COLUMNS, reference.EVAL_SCALES, _eval_candidates),
    ]

    def generate(self, seed: int) -> dict:
        corpus = inputs.corpus(seed, DOCS)
        return {"corpus": corpus, "hotkey": inputs.with_boilerplate(corpus)}

    def references(self, frames: dict) -> dict:
        import duckdb

        c, h = frames["corpus"], frames["hotkey"]
        con = duckdb.connect(config={"threads": 3})
        try:
            con.execute("SET enable_progress_bar = false")
            return {
                "dedup_minhash": reference.duckdb_expected(
                    con, c, reference.minhash_sql(MINHASH_THRESHOLD),
                    reference.MINHASH_SCALES),
                # the LSH replay needs the operator's seeded hash family,
                # the same parameters the repository's oracle query uses
                "minhash_eval": reference.duckdb_expected(
                    con, c, reference.minhash_eval_sql(
                        EVAL_THRESHOLD, dedup._hash_params(64, 42), EVAL_BANDS),
                    reference.EVAL_SCALES),
                "fingerprint_overlap_join": reference.duckdb_expected(
                    con, h, reference.fingerprint_sql(**FP),
                    reference.FINGERPRINT_SCALES),
                "dedup_substrings": reference.duckdb_expected(
                    con, h, reference.substrings_sql(**SUBSTR),
                    reference.SUBSTRING_SCALES),
            }
        finally:
            con.close()

    def load(self, spark, frames: dict) -> dict:
        return _cache_all(spark, frames)


WORKLOADS = {w.name: w for w in (PandanceJoins, Dedup)}
# every call of every workload -> whether it reports candidate pairs
ALL_CALLS = {c.name: c.candidates is not None
             for w in WORKLOADS.values() for c in w.calls}
