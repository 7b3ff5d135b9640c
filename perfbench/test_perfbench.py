"""Self-tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import filecmp
import json
import os

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

import gen
import harness
import spans
import workloads
from weather4cast_bigdata_spark.testing import digest_exprs


# --- tail percentile: the highest percentile with >= 10 samples beyond ---


def test_tail_needs_more_than_ten_samples():
    assert spans.tail([float(i) for i in range(10)]) is None


def test_tail_leaves_exactly_ten_beyond():
    values = [float(i) for i in range(100)]
    value, pct, n = spans.tail(values)
    assert (value, pct, n) == (89.0, 90.0, 100)
    assert sum(v > value for v in values) == 10


def test_tail_is_order_free():
    values = [float(v) for v in np.random.default_rng(0).permutation(37)]
    value, pct, n = spans.tail(values)
    assert sum(v > value for v in values) == 10 and n == 37
    assert pct == pytest.approx(100 * 27 / 37)


# --- span self time: duration minus the union of its children ---


def _span(i, parent, start, end):
    return spans.Span(i, parent, f"s{i}", f"g{i}", start, end)


def test_self_time_subtracts_union_of_children():
    tree = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 3.0),
        _span(2, 0, 2.0, 5.0),  # overlaps span 1: counted once
        _span(3, 0, 8.0, 12.0),  # overhangs the parent: clipped
        _span(4, 1, 1.5, 2.5),  # grandchild: only its parent loses it
    ]
    selfs = spans.self_times(tree)
    assert selfs[0] == pytest.approx(10.0 - (4.0 + 2.0))
    assert selfs[1] == pytest.approx(2.0 - 1.0)
    assert selfs[2] == pytest.approx(3.0)
    assert selfs[4] == pytest.approx(1.0)


def test_innermost_span_holds_the_time():
    tree = [_span(0, None, 0.0, 10.0), _span(1, 0, 2.0, 6.0), _span(2, 1, 3.0, 4.0)]
    assert spans.innermost(tree, 3.5).id == 2
    assert spans.innermost(tree, 5.0).id == 1
    assert spans.innermost(tree, 8.0).id == 0
    assert spans.innermost(tree, 11.0) is None


def test_covered_handles_gaps_and_order():
    assert spans.covered([(5, 6), (0, 1), (0.5, 2)], 0, 10) == pytest.approx(3.0)
    assert spans.covered([], 0, 10) == 0.0


# --- generators are deterministic per seed ---


def test_embeddings_deterministic_per_seed():
    a, pa_ = gen.embeddings(7, 300)
    b, pb = gen.embeddings(7, 300)
    c, _ = gen.embeddings(8, 300)
    assert pa_ == pb
    assert np.array_equal(np.stack(a["embedding"]), np.stack(b["embedding"]))
    assert a["label"].equals(b["label"])
    assert not np.array_equal(np.stack(a["embedding"]), np.stack(c["embedding"]))


def test_documents_deterministic_per_seed():
    a, pa_ = gen.documents(7, 400)
    b, pb = gen.documents(7, 400)
    c, _ = gen.documents(8, 400)
    assert pa_ == pb and a.equals(b)
    assert not a["text"].equals(c["text"])
    # planted exact copies survive as repeated texts
    assert a["text"].duplicated().sum() >= int(400 * gen.DOC_EXACT_DUP_RATE) // 2


def _tree(root):
    return sorted(
        os.path.relpath(os.path.join(d, f), root) for d, _, fs in os.walk(root) for f in fs
    )


def test_frame_lake_deterministic_per_seed(tmp_path):
    pa_ = gen.frame_lake(3, str(tmp_path / "a"), n_slots=12, grid=4)
    pb = gen.frame_lake(3, str(tmp_path / "b"), n_slots=12, grid=4)
    pc = gen.frame_lake(4, str(tmp_path / "c"), n_slots=12, grid=4)
    assert pa_ == pb
    files = _tree(tmp_path / "a")
    assert files == _tree(tmp_path / "b")
    match, mismatch, errors = filecmp.cmpfiles(tmp_path / "a", tmp_path / "b", files, shallow=False)
    assert not mismatch and not errors
    assert files != _tree(tmp_path / "c")


# --- output checks fail when one result row is dropped or altered ---


def test_submit_ticks_deterministic_and_check_rejects_dropped_or_altered_row(tmp_path):
    wl = workloads.Submit(str(tmp_path / "a"), 5)
    props = wl.generate()
    again = workloads.Submit(str(tmp_path / "b"), 5)
    assert again.generate() == props
    ticks = [os.path.basename(f) for w in wl.waves for f in w]
    assert ticks == [os.path.basename(f) for w in again.waves for f in w]
    assert all(filecmp.cmp(f, g, shallow=False) for f, g in zip(
        [f for w in wl.waves for f in w], [f for w in again.waves for f in w]))
    good = list(wl.expected)
    assert wl.check({"batch": good, "stream": good})
    assert not wl.check({"batch": good, "stream": good[1:]})
    assert not wl.check({"batch": good[1:], "stream": good})
    region, day, n_times, n_cells, qv_sum = good[0]
    altered = [(region, day, n_times, n_cells, qv_sum + 1), *good[1:]]
    assert not wl.check({"batch": good, "stream": altered})


def _digest_duck(df: pd.DataFrame, schema) -> tuple:
    _, sel = digest_exprs(schema)
    con = duckdb.connect()
    try:
        con.register("t", df)
        return con.execute(f"SELECT {sel} FROM t").fetchone()
    finally:
        con.close()


def test_digest_changes_when_a_row_is_dropped_or_altered():
    schema = StructType(
        [StructField("a_id", LongType()), StructField("b_id", LongType()),
         StructField("cos_sim", DoubleType())]
    )
    pairs = pd.DataFrame({"a_id": [1, 1, 2], "b_id": [2, 3, 3], "cos_sim": [0.5, 0.25, 0.75]})
    base = _digest_duck(pairs, schema)
    assert _digest_duck(pairs.sample(frac=1, random_state=1), schema) == base
    assert _digest_duck(pairs.iloc[1:], schema) != base
    altered = pairs.copy()
    altered.loc[2, "cos_sim"] = 0.750001
    assert _digest_duck(altered, schema) != base


def _exact_topk(wl, pick=slice(0, 5)):
    unit = wl.vectors / np.linalg.norm(wl.vectors, axis=1, keepdims=True)
    rows = []
    for q in range(workloads.IVF_QUERIES):
        sims = unit @ unit[q]
        sims[q] = -np.inf
        top = np.argsort(-sims, kind="stable")[pick]
        rows += [(q, r + 1, int(i), round(float(sims[i]) + 1e-9, 6)) for r, i in enumerate(top)]
    return pd.DataFrame(rows, columns=["query_id", "rank", "item_id", "cos_sim"])


def test_ivf_check_rejects_dropped_altered_or_far_rows(tmp_path):
    wl = workloads.CurateVectors(str(tmp_path), 2)
    wl.generate()
    good = _exact_topk(wl)
    assert wl._ivf_ok(good)
    assert not wl._ivf_ok(good.iloc[1:])
    altered = good.copy()
    altered.loc[3, "cos_sim"] += 1e-3
    assert not wl._ivf_ok(altered)
    # correct cosines, ranked, but not the nearest neighbours
    assert not wl._ivf_ok(_exact_topk(wl, slice(20, 25)))
    # the same item five times
    dup = good.copy()
    dup["item_id"] = dup.groupby("query_id")["item_id"].transform("first")
    dup["cos_sim"] = dup.groupby("query_id")["cos_sim"].transform("first")
    assert not wl._ivf_ok(dup)


# --- BENCHMARK.json lists exactly the per-layer metrics a traced run emits ---


def test_benchmark_json_per_layer_matches_harness():
    with open(os.path.join(os.path.dirname(__file__), "..", "BENCHMARK.json")) as f:
        listed = [(m["name"], m["unit"]) for m in json.load(f)["per_layer"]]
    assert listed == harness.per_layer_units()
