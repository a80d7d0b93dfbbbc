"""Generate an sf1-equivalent fixture by decade-shifting copies of an
existing sf dir (VERDICT r9 item 4: the 100 TB claims need a second
measured decade, and /root/testdata is read-only).

Each copy k gets:

- ``events``: ``event_id``/``user_id`` offset by k*stride (so modulo
  filters keep their selectivity in expectation), ``value`` shifted by
  k*1000 and ``ts`` by k*10 years — copies are DISJOINT in value/time
  space, so band/fuzzy/as-of matches stay within a copy and the ideal
  reference for the probe is clean linear growth (the data's own
  quadratic pair growth would otherwise swamp the engine signal);
- ``documents``: ``doc_id`` offset, and a per-copy BIJECTIVE token
  renaming (every token gets a ``cK`` suffix) so shingle/token
  structure — and therefore exact-dup, MinHash, SimHash and
  containment cluster structure — is preserved verbatim WITHIN a copy
  while cross-copy Jaccard is exactly 0.  (A plain appended suffix
  token was measured leaking: long docs kept ~0.97 cross-copy
  Jaccard, so minhash pairs grew x971 at x10 input — data growth
  masquerading as engine behavior.)
- ``customer``: ``c_custkey`` offset by k*stride, the stride a multiple
  of 9 so the ``% 3`` and ``% 9`` buckets of ``record_linkage`` keep
  their shares, and ``c_name`` regenerated from the new key in the
  TPC-H ``Customer#%09d`` stencil (names stay unique, and the
  gram-collision structure of the real names grows with the copies).

Usage: python scripts/make_scaled_fixture.py OUT_DIR [SRC_DIR] [FACTOR]
Idempotent: skips generation when OUT_DIR already has all three tables.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def make_scaled_fixture(
    spark, out_dir: str, src_dir: str = "/root/testdata/sf0.1", factor: int = 10
) -> str:
    from pyspark.sql import functions as F

    from pandance_spark.sources import load_table

    ev_path, doc_path, cust_path = (
        os.path.join(out_dir, f"{t}.parquet")
        for t in ("events", "documents", "customer")
    )
    if all(os.path.isdir(p) for p in (ev_path, doc_path, cust_path)):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)

    ev = load_table(spark, src_dir, "events")
    e_stride = ev.agg(F.max("event_id")).first()[0] + 1
    u_stride = ev.agg(F.max("user_id")).first()[0] + 1
    copies = spark.range(factor).select(F.col("id").alias("__k"))
    big_ev = ev.crossJoin(F.broadcast(copies)).select(
        (F.col("event_id") + F.col("__k") * e_stride).alias("event_id"),
        (F.col("ts") + F.make_interval(years=F.col("__k") * 10)).alias("ts"),
        (F.col("user_id") + F.col("__k") * u_stride).alias("user_id"),
        "event_type",
        (F.col("value") + F.col("__k") * 1000.0).alias("value"),
        "props",
    )
    big_ev.repartition(32).write.mode("overwrite").parquet(ev_path)

    docs = load_table(spark, src_dir, "documents")
    d_stride = docs.agg(F.max("doc_id")).first()[0] + 1
    new_text = F.regexp_replace(
        F.col("text"),
        F.lit(r"(\S+)"),
        F.concat(F.lit("$1c"), F.col("__k").cast("string")),
    )
    big_docs = docs.crossJoin(F.broadcast(copies)).select(
        (F.col("doc_id") + F.col("__k") * d_stride).alias("doc_id"),
        new_text.alias("text"),
        "lang",
        "source",
        F.length(new_text).cast("long").alias("n_chars"),
    )
    big_docs.repartition(32).write.mode("overwrite").parquet(doc_path)

    cust = load_table(spark, src_dir, "customer")
    c_stride = -(-(cust.agg(F.max("c_custkey")).first()[0] + 1) // 9) * 9
    key = F.col("c_custkey") + F.col("__k") * c_stride
    new_cols = {
        "c_custkey": key,
        "c_name": F.format_string("Customer#%09d", key),
    }
    big_cust = cust.crossJoin(F.broadcast(copies)).select(
        *[new_cols.get(c, F.col(c)).alias(c) for c in cust.columns]
    )
    big_cust.repartition(8).write.mode("overwrite").parquet(cust_path)
    return out_dir


def main():
    out = sys.argv[1] if len(sys.argv) > 1 else "/tmp/pandance_sf1"
    src = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    factor = int(sys.argv[3]) if len(sys.argv) > 3 else 10

    from harness import session

    spark = session("make_scaled_fixture")
    make_scaled_fixture(spark, out, src, factor)
    print(f"scaled fixture ready at {out} ({factor}x {src})")


if __name__ == "__main__":
    main()
