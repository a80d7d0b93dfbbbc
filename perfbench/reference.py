"""Independent references for every benchmarked call, and the
order-independent checksum both sides are reduced to.

The join references are numpy; the dedup references are DuckDB SQL of
the same shape as the repository's oracle queries, run on the same
generated rows.  Neither touches Spark or the library's code paths.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

MOD = 2_147_483_647
_PRIMES = (1_000_003, 7_919, 104_729, 15_485_863, 31, 17, 3)


@dataclass(frozen=True)
class Expected:
    rows: int
    checksum: int


def _as_long(values: np.ndarray, scale: float | None) -> np.ndarray:
    if scale is None:
        return values.astype(np.int64)
    return np.floor(values.astype(np.float64) * scale).astype(np.int64)


def checksum(columns: list[np.ndarray], scales: tuple) -> int:
    """Sum over rows of ``pmod(sum_k p_k * long_k, MOD)``, where
    ``long_k`` is the k-th column, or ``floor(col * scale)`` for a
    floating column.  Row order does not matter."""
    if not columns or len(columns[0]) == 0:
        return 0
    acc = np.zeros(len(columns[0]), dtype=np.int64)
    for p, col, scale in zip(_PRIMES, columns, scales):
        acc += p * _as_long(np.asarray(col), scale)
    return int((acc % MOD).sum())


def spark_checksum(df, columns: tuple[str, ...], scales: tuple):
    """``(rows, checksum)`` of a Spark DataFrame, same definition as
    :func:`checksum`."""
    from pyspark.sql import functions as F

    acc = None
    for p, name, scale in zip(_PRIMES, columns, scales):
        c = F.col(name)
        c = c.cast("long") if scale is None else F.floor(c * F.lit(scale)).cast("long")
        term = F.lit(p).cast("long") * c
        acc = term if acc is None else acc + term
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.pmod(acc, F.lit(MOD).cast("long"))), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


# -- joins (numpy) --------------------------------------------------------


def fuzzy_expected(left, right, tol: float) -> Expected:
    """Pairs with ``|l - r| <= tol``, checksummed over
    ``(idx_x, val_x, idx_y, val_y)``."""
    order = np.argsort(right["val"].to_numpy(), kind="stable")
    rv = right["val"].to_numpy()[order]
    ri = right["idx"].to_numpy()[order]
    lv = left["val"].to_numpy()
    li = left["idx"].to_numpy()
    # widened window, then the exact predicate the operator applies
    lo = np.searchsorted(rv, lv - 2 * tol, "left")
    hi = np.searchsorted(rv, lv + 2 * tol, "right")
    rows = total = 0
    for start in range(0, len(lv), 4096):
        sl = slice(start, start + 4096)
        counts = hi[sl] - lo[sl]
        rep = np.repeat(np.arange(start, min(start + 4096, len(lv))), counts)
        offs = np.arange(counts.sum()) - np.repeat(np.cumsum(counts) - counts, counts)
        j = np.repeat(lo[sl], counts) + offs
        keep = np.abs(lv[rep] - rv[j]) <= tol
        rep, j = rep[keep], j[keep]
        rows += len(rep)
        total += checksum([li[rep], lv[rep], ri[j], rv[j]], FUZZY_SCALES)
    return Expected(rows, total)


FUZZY_COLUMNS = ("idx_x", "val_x", "idx_y", "val_y")
FUZZY_SCALES = (None, 1e6, None, 1e6)
LESS_COLUMNS = ("val_x", "val_y")
LESS_SCALES = (None, None)


def less_expected(left, right) -> Expected:
    """Pairs with ``l < r``, checksummed over ``(val_x, val_y)``."""
    lv = np.sort(left["val"].to_numpy())
    rv = right["val"].to_numpy()
    rows = int(np.searchsorted(lv, rv, "left").sum())
    total = 0
    for start in range(0, len(rv), 512):
        r = rv[start:start + 512]
        mask = lv[None, :] < r[:, None]
        ri, li = np.nonzero(mask)
        total += checksum([lv[li], r[ri]], LESS_SCALES)
    return Expected(rows, total)


# -- dedup (DuckDB) -------------------------------------------------------

_TOKS = (
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')"
)
_SHINGLES = f"""
toks AS (SELECT doc_id, {_TOKS} AS ts FROM docs),
sh AS (
  SELECT doc_id,
         CASE WHEN len(ts) < 3 THEN [] ELSE
           [array_to_string(list_slice(ts, i, i + 2), ' ')
            FOR i IN range(1, len(ts) - 1)] END AS ss
  FROM toks
),
sets AS (SELECT doc_id, list_distinct(ss) AS s FROM sh),
inv AS (SELECT doc_id, unnest(s) AS g FROM sets),
jac AS (
  -- exact Jaccard over every pair sharing a shingle (all others are 0)
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         round(count(*) * 1.0 /
               (len(any_value(sa.s)) + len(any_value(sb.s)) - count(*)), 6) AS j
  FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id
  JOIN sets sa ON sa.doc_id = a.doc_id
  JOIN sets sb ON sb.doc_id = b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
"""

MINHASH_COLUMNS = ("id_a", "id_b", "jaccard")
MINHASH_SCALES = (None, None, 1e6)


def minhash_sql(threshold: float) -> str:
    return f"""
WITH {_SHINGLES}
SELECT id_a, id_b, j AS jaccard FROM jac WHERE j >= {threshold}
"""


FINGERPRINT_COLUMNS = ("id_a", "id_b", "shared_fps")
FINGERPRINT_SCALES = (None, None, None)


def fingerprint_sql(k: int, mod: int, min_shared: int, max_df: int) -> str:
    return f"""
WITH fp AS (
  SELECT doc_id, fp FROM (
    SELECT doc_id,
           unnest(list_distinct(
             [h FOR h IN
               [CAST('0x' || substr(md5(substr(lower(text), i, {k})), 1, 14)
                     AS BIGINT)
                FOR i IN range(1, greatest(len(text) - {k - 1}, 0) + 1)]
              IF h % {mod} = 0])) AS fp
    FROM docs)
),
kept AS (
  SELECT fp FROM (SELECT fp, count(*) AS df FROM fp GROUP BY fp)
  WHERE df <= {max_df}
),
f AS (SELECT doc_id, fp.fp FROM fp JOIN kept USING (fp))
SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS shared_fps
FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING count(*) >= {min_shared}
"""


SUBSTRING_COLUMNS = ("doc_a", "doc_b", "a_start", "b_start", "n_tokens")
SUBSTRING_SCALES = (None,) * 5


def substrings_sql(min_tokens: int, max_occurrences: int) -> str:
    k = min_tokens
    return f"""
WITH t AS (
  SELECT doc_id AS sid,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS arr
  FROM docs
),
s AS (
  SELECT sid, unnest(generate_series(1, greatest(len(arr) - {k - 1}, 0))) AS i, arr
  FROM t
),
sh0 AS (
  SELECT sid, i - 1 AS pos, array_to_string(arr[i:i + {k - 1}], ' ') AS sh
  FROM s
),
sh AS (
  SELECT * FROM sh0
  WHERE sh IN (SELECT sh FROM sh0 GROUP BY sh
               HAVING count(*) BETWEEN 2 AND {max_occurrences})
),
p AS (
  SELECT a.sid AS da, a.pos AS pa, b.sid AS db, b.pos AS pb
  FROM sh a JOIN sh b ON a.sh = b.sh
  WHERE a.sid < b.sid OR (a.sid = b.sid AND a.pos < b.pos)
),
g AS (
  SELECT da, db, pb - pa AS delta, pa,
         pa - row_number() OVER (PARTITION BY da, db, pb - pa ORDER BY pa) AS isl
  FROM p
)
SELECT da AS doc_a, db AS doc_b, min(pa) AS a_start,
       min(pa) + delta AS b_start, count(*) + {k - 1} AS n_tokens
FROM g GROUP BY da, db, delta, isl
"""


EVAL_COLUMNS = ("n_docs", "n_true", "n_candidates", "n_verified", "recall", "precision")
EVAL_SCALES = (None, None, None, None, 1e9, 1e9)


def minhash_eval_sql(threshold: float, hash_params, bands: int) -> str:
    """Replay of ``minhash_eval(portable=True)``: exact truth plus the
    md5-derived LSH candidate path, as in the repository's oracle."""
    vals = ", ".join(f"({k}, {a}, {b})" for k, (a, b) in enumerate(hash_params))
    rows = len(hash_params) // bands
    return f"""
WITH {_SHINGLES},
truth AS (SELECT id_a, id_b FROM jac WHERE j >= {threshold}),
hsh AS (
  SELECT doc_id,
         ((CAST('0x' || substr(md5(u.s), 1, 8) AS BIGINT) % 2147483647) * 2
          + CAST('0x' || substr(md5(u.s), 9, 8) AS BIGINT)) % 2147483647 AS h
  FROM sh, unnest(sh.ss) AS u(s)
),
params(k, a, b) AS (VALUES {vals}),
slot AS (
  SELECT s.doc_id, p.k,
         coalesce(min((p.a * h.h + p.b) % 2147483647), 2147483647) AS m
  FROM sh s CROSS JOIN params p LEFT JOIN hsh h ON h.doc_id = s.doc_id
  GROUP BY 1, 2
),
sig AS (SELECT doc_id, list(m ORDER BY k) AS sig FROM slot GROUP BY 1),
band AS (
  SELECT doc_id, bi.band,
         CAST('0x' || substr(md5(array_to_string(
           list_slice(sig, bi.band * {rows} + 1, bi.band * {rows} + {rows}), ',')),
           1, 8) AS BIGINT) AS bhash
  FROM sig, (SELECT unnest(range({bands})) AS band) bi
),
cand AS (
  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
  FROM band x JOIN band y
    ON x.band = y.band AND x.bhash = y.bhash AND x.doc_id < y.doc_id
),
ver AS (SELECT id_a, id_b FROM cand INTERSECT SELECT id_a, id_b FROM truth),
c AS (
  SELECT (SELECT count(*) FROM docs)::BIGINT AS n_docs,
         (SELECT count(*) FROM truth)::BIGINT AS n_true,
         (SELECT count(*) FROM cand)::BIGINT AS n_candidates,
         (SELECT count(*) FROM ver)::BIGINT AS n_verified
)
SELECT n_docs, n_true, n_candidates, n_verified,
       round(CASE WHEN n_true > 0 THEN n_verified * 1.0 / n_true ELSE 1.0 END, 9)
         AS recall,
       round(CASE WHEN n_candidates > 0 THEN n_verified * 1.0 / n_candidates
             ELSE 0.0 END, 9) AS precision
FROM c
"""


def duckdb_expected(con, docs, sql: str, scales: tuple) -> Expected:
    """Run ``sql`` against ``docs`` (a pandas frame exposed as table
    ``docs``) and reduce the result to an :class:`Expected`."""
    con.register("docs", docs)
    try:
        res = con.execute(sql).fetchnumpy()
    finally:
        con.unregister("docs")
    cols = list(res.values())
    return Expected(len(cols[0]), checksum(cols, scales))
