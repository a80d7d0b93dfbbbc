"""Self-tests of the benchmark's own code.

    python3 -m pytest perfbench -q

The last test starts a local Spark session (about half a minute).
"""

import json
import os
import re
from dataclasses import replace
from types import SimpleNamespace

import numpy as np
import pandas as pd
import pytest

from perfbench import inputs, reference, run, trace, workloads

HERE = os.path.dirname(os.path.abspath(__file__))
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def _frames_equal(a: dict, b: dict) -> bool:
    return a.keys() == b.keys() and all(a[k].equals(b[k]) for k in a)


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_same_seed_same_inputs(name):
    w = workloads.WORKLOADS[name]()
    assert _frames_equal(w.generate(7), w.generate(7))
    assert not _frames_equal(w.generate(7), w.generate(8))


def test_corpus_plants_copies():
    docs = inputs.corpus(3, 40)
    text = dict(zip(docs["doc_id"], docs["text"]))
    assert text[2_000_000] == text[0]
    assert text[1_000_004] == inputs.mutate(text[4])
    hot = inputs.with_boilerplate(docs)
    assert all(t.endswith("\n" + inputs.BOILERPLATE) for t in hot["text"])


def test_metric_names_and_units_match_benchmark_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == run.END_TO_END_UNITS
    assert layers == trace.metric_units(workloads.ALL_CALLS)
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)
    for name, unit in {**e2e, **layers}.items():
        assert NAME.fullmatch(name), name
        assert UNIT.fullmatch(unit), (name, unit)


def test_checksum_ignores_row_order():
    rng = np.random.default_rng(0)
    a, b = rng.integers(0, 10**6, 100), rng.normal(size=100)
    perm = rng.permutation(100)
    scales = (None, 1e6)
    assert reference.checksum([a, b], scales) == reference.checksum(
        [a[perm], b[perm]], scales)
    assert reference.checksum([a, b], scales) != reference.checksum(
        [a[:-1], b[:-1]], scales)


def test_less_reference_closed_form():
    left, right = inputs.ineq_inputs(5, 3000, 1500)
    assert reference.less_expected(left, right).rows == 7_874_250


def test_plan_graph_readers():
    # root Project <- Filter(3) <- HashAggregate(12) <- Generate(40)
    nodes = {0: ("Project", None, [1]), 1: ("Filter", 3, [2]),
             2: ("HashAggregate", 12, [3]), 3: ("Generate", 40, [])}
    assert trace.out_rows(nodes) == 3
    assert trace.spine_candidates(nodes) == (12, 3)
    assert trace.spine_candidates({0: ("Filter", 3, [])}) == (3, 3)
    union = {0: ("Union", None, [1, 2]), 1: ("Filter", 4, []), 2: ("Scan", 5, [])}
    assert trace.out_rows(union) == 9


def _drop_first_row(invoke):
    def corrupt(d):
        df = invoke(d).orderBy("idx_x", "idx_y")
        return df.limit(df.count() - 1)
    return corrupt


class _CorruptJoins(workloads.PandanceJoins):
    """The joins workload at toy size, with one row of fuzzy_join's
    output dropped."""

    name = "corrupt_joins"
    fuzzy_rows, ineq_rows, overlap = 2000, 300, 150
    good = workloads.PandanceJoins.calls
    calls = [replace(good[0], invoke=_drop_first_row(good[0].invoke)), *good[1:]]


def test_corrupted_output_counts_as_failed(tmp_path, monkeypatch):
    monkeypatch.setitem(workloads.WORKLOADS, _CorruptJoins.name, _CorruptJoins)
    args = SimpleNamespace(workload=_CorruptJoins.name, seed=1, seconds=0, trace=0)
    result = run.run(args, str(tmp_path))
    assert result["correct"] is False
    assert 0 < result["failed"] < result["attempted"]
    assert set(result["metrics"]) == set(run.END_TO_END_UNITS)
