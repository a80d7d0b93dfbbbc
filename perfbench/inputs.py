"""Seeded input generators for the benchmark workloads.

Pure numpy/pandas, no Spark and no files: the same ``seed`` always
gives identical frames, so every run of a workload on one seed feeds
the library the same rows.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

# Join inputs follow the distributions of the reference pandance's
# ``test/performance.py``: fuzzy_join samples N(-2, 1) against N(+2, 1)
# with tol 0.1; ineq_join / theta_join join two integer ranges of
# equal length that overlap by half.
FUZZY_TOL = 0.1

# Near-duplicate rule of minhash_eval's fixture: a mutated copy drops
# every 9th token (0-based positions 0, 9, 18, ...).
DROP_EVERY = 9

# The line every hot-key document carries: one set of shingle and
# fingerprint keys then occurs in every document of the corpus.
BOILERPLATE = (
    "this page was generated automatically please do not reply "
    "to this message thank you"
)


def _rng(seed: int, stream: str) -> np.random.Generator:
    # one independent stream per input, so resizing one input never
    # changes another's rows
    return np.random.default_rng([seed, sum(map(ord, stream)), len(stream)])


def fuzzy_inputs(seed: int, rows: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Two frames ``(idx long, val double)``: left ~ N(-2, 1), right ~ N(2, 1)."""
    rng = _rng(seed, "fuzzy")
    idx = np.arange(rows, dtype=np.int64)
    left = pd.DataFrame({"idx": idx, "val": rng.normal(-2.0, 1.0, rows)})
    right = pd.DataFrame({"idx": idx, "val": rng.normal(2.0, 1.0, rows)})
    return left, right


def ineq_inputs(
    seed: int, rows: int, overlap: int
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Two frames ``(val long)``: left = [0, rows), right = [rows - overlap,
    2 rows - overlap), each in a seeded row order."""
    rng = _rng(seed, "ineq")
    left = np.arange(rows, dtype=np.int64)
    right = np.arange(rows - overlap, 2 * rows - overlap, dtype=np.int64)
    return (
        pd.DataFrame({"val": rng.permutation(left)}),
        pd.DataFrame({"val": rng.permutation(right)}),
    )


def _vocabulary(rng: np.random.Generator, size: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lengths = rng.integers(3, 10, size)
    words = {"".join(rng.choice(letters, n)) for n in lengths}
    return np.array(sorted(words))


def mutate(text: str) -> str:
    """Drop every ``DROP_EVERY``-th whitespace token, starting at the first."""
    return " ".join(t for i, t in enumerate(text.split(" ")) if i % DROP_EVERY)


def corpus(seed: int, docs: int) -> pd.DataFrame:
    """``(doc_id long, text string)``: ``docs`` random documents of 40-120
    tokens from a 4,000-word vocabulary, plus a mutated copy of every 4th
    one (ids from 1,000,000) and a verbatim copy of every 10th one (ids
    from 2,000,000).  Verbatim copies are the pairs a 0.8-Jaccard dedup
    must find; mutated copies sit near Jaccard 0.55, where candidate
    generators waste verification work."""
    rng = _rng(seed, "corpus")
    words = _vocabulary(rng, 4000)
    lengths = rng.integers(40, 121, docs)
    texts = [" ".join(rng.choice(words, n)) for n in lengths]
    ids = list(range(docs))
    for i in range(0, docs, 4):
        ids.append(1_000_000 + i)
        texts.append(mutate(texts[i]))
    for i in range(0, docs, 10):
        ids.append(2_000_000 + i)
        texts.append(texts[i])
    return pd.DataFrame({"doc_id": np.array(ids, dtype=np.int64), "text": texts})


def with_boilerplate(docs: pd.DataFrame) -> pd.DataFrame:
    """``docs`` with :data:`BOILERPLATE` as an extra last line of every
    document (the hot-key corpus of ``scripts/hot_key_probe.py``)."""
    return docs.assign(text=docs["text"] + "\n" + BOILERPLATE)
