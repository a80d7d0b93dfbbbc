"""Audit: Spark result types vs DuckDB-oracle PANDAS dtypes.

The driver's correctness harness canonicalizes through pandas.  DuckDB
maps HUGEINT (the result type of sum(BIGINT)) and DECIMAL aggregates to
float64 in its pandas conversion, so an oracle whose FINAL projection
exposes an uncast sum() hashes as "450.0" where the Spark side hashes
"450" — rows_match/schema_match stay true, hash_match goes false (this
is exactly what hit dsir_select and filter_funnel in CORRECTNESS_r06).
The fetchall-based local gate cannot see this class of bug; this audit
can: it runs every oracle via .df() and flags any column where Spark
returns an integral type but pandas received float64 (or object/
Decimal), and vice versa.

Usage: python scripts/audit_oracle_dtypes.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from harness import duck_views, session  # noqa: E402

INTEGRAL_SPARK = {"tinyint", "smallint", "int", "integer", "bigint", "long"}
FLOAT_SPARK = {"float", "double"}


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod

    spark = session("oracle_dtype_audit")
    con = duck_views(sf_dir)

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    bad = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        sql = oracles.get(name)
        if sql is None:
            continue
        try:
            sdf = fn(spark, sf_dir)
            spark_types = {f.name: f.dataType.simpleString() for f in sdf.schema.fields}
            odf = con.execute(sql).df()
        except Exception as e:  # noqa: BLE001
            print(f"ERR  {name}: {type(e).__name__}: {str(e)[:200]}")
            bad += 1
            continue
        pd_types = {c: str(dt) for c, dt in odf.dtypes.items()}
        if set(spark_types) != set(pd_types):
            print(f"COLS {name}: spark={sorted(spark_types)} oracle={sorted(pd_types)}")
            bad += 1
            continue
        for c, st in spark_types.items():
            pt = pd_types[c]
            flag = None
            if st in INTEGRAL_SPARK and pt.startswith("float"):
                flag = "int-spark vs float-pandas (HUGEINT/DECIMAL leak or NULLs)"
            elif st in FLOAT_SPARK and pt.startswith("int"):
                flag = "float-spark vs int-pandas"
            elif st in INTEGRAL_SPARK and pt == "object":
                flag = "int-spark vs object-pandas (Decimal leak)"
            if flag:
                # NULL-driven int->float is BENIGN: the driver converts
                # BOTH sides through pandas, so a null-containing int
                # column goes float64 on the Spark side too and the
                # hashes agree (r7 evidence: multimodal_media_meta /
                # wet_extract driver-green with exactly this pattern).
                # The HAZARD is a null-FREE column where Spark stays
                # int64 ("450") against an oracle float64 ("450.0") —
                # the r6 dsir_select/filter_funnel reds — or null
                # counts that differ between engines.
                nnull = sdf.where(sdf[c].isNull()).count()
                onull = int(odf[c].isna().sum())
                if nnull > 0 and nnull == onull and pt.startswith("float"):
                    print(
                        f"INFO {name}.{c}: spark={st} pandas={pt} "
                        f"(null-driven, {nnull} nulls both sides — benign)"
                    )
                    continue
                print(
                    f"FLAG {name}.{c}: spark={st} pandas={pt} "
                    f"({flag}; spark_nulls={nnull} oracle_nulls={onull})"
                )
                bad += 1
    print("audit done,", bad, "finding(s)")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
