"""Self-tests of the benchmark (no Spark session needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import re

import numpy as np
import pandas as pd
import pytest

from perfbench import etl
from perfbench.canon import canon, mismatch
from perfbench.metrics import END_TO_END, MEMORY, PER_LAYER, WALL
from perfbench.workloads import QUERY_LISTS, WORKLOADS, query_order

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAME = re.compile(r"[A-Za-z0-9_.-]+")


@pytest.fixture(scope="module")
def bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_canonical_form_is_order_free_and_catches_a_perturbed_value():
    df = pd.DataFrame({"b": [1.5, 2.0, None], "a": ["x", "y", "z"], "n": [1, 2, 3]})
    want = canon(df)
    assert want["columns"] == ["a", "b", "n"]
    assert ["y", "2", "2"] in want["rows"]  # 2.0 reads as 2
    assert mismatch(canon(df.iloc[::-1]), want) is None
    bad = df.copy()
    bad.loc[1, "b"] = 2.0000001
    assert mismatch(canon(bad), want) is not None
    assert mismatch(canon(df.iloc[:2]), want) is not None
    assert mismatch(canon(df.rename(columns={"n": "m"})), want) is not None


def test_canonical_form_matches_the_row_wise_rule():
    df = pd.DataFrame({"f": [0.1, -0.0, 3.0, np.nan, 1e16], "i": [1, 2, 3, 4, 5]})
    from perfbench.canon import cell

    rows = sorted([cell(v) for v in r] for r in df.itertuples(index=False, name=None))
    assert canon(df)["rows"] == rows


def _inputs(seed):
    prices = np.linspace(1000.0, 500_000.0, 1000)
    return etl.make_inputs(seed, 3000, prices)


def test_same_seed_same_etl_inputs_and_query_order():
    a, b = _inputs(7), _inputs(7)
    pd.testing.assert_frame_equal(a["staging"], b["staging"])
    assert a["updates"] == b["updates"] and a["threshold"] == b["threshold"]
    for w in QUERY_LISTS:
        assert query_order(w, 7) == query_order(w, 7)


def test_different_seed_different_etl_inputs_and_query_order():
    a, b = _inputs(7), _inputs(8)
    assert list(a["staging"].c_custkey) != list(b["staging"].c_custkey)
    assert a["updates"] != b["updates"]
    assert a["threshold"] != b["threshold"]
    for w in QUERY_LISTS:
        assert query_order(w, 7) != query_order(w, 8)
        assert sorted(query_order(w, 8)) == sorted(QUERY_LISTS[w])
        assert query_order(w, 8)[0] == QUERY_LISTS[w][0]


def test_etl_model_keeps_flowbyte_quirks():
    cust = pd.DataFrame({
        "c_custkey": [1, 2, 3],
        "c_name": ["a", "b", "c"],
        "c_nationkey": np.array([0, 0, 0], dtype=np.int32),
        "c_acctbal": [1.0, 2.0, 3.0],
        "c_mktsegment": ["S", "S", "S"],
    })
    staging = pd.DataFrame({
        "c_name": ["new", "absent"],
        "c_custkey": [2, 9],
        "c_nationkey": np.array([5, 5], dtype=np.int32),
        "c_acctbal": [20.0, 90.0],
        "c_mktsegment": ["T", "T"],
    })[etl.STAGING_COLUMNS]
    updates = [{"c_custkey": 1, "c_acctbal": 10.0, "c_mktsegment": "U"},
               {"c_custkey": 8, "c_acctbal": 80.0, "c_mktsegment": "U"}]
    out = etl.Model._customer(cust, {"staging": staging, "updates": updates})
    out = out.set_index("c_custkey")
    assert sorted(out.index) == [1, 2, 3]  # absent keys are skipped
    assert out.loc[1, "c_acctbal"] == 10.0 and out.loc[1, "c_mktsegment"] == "U"
    assert out.loc[2, "c_acctbal"] == 20.0 and out.loc[2, "c_nationkey"] == 5
    assert out.loc[2, "c_name"] == "b"  # df.columns[1:] drops the first column


def test_benchmark_names_are_well_formed(bench):
    names = [w["name"] for w in bench["workloads"]]
    names += [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert all(NAME.fullmatch(n) and len(n) <= 64 for n in names)
    assert len(names) == len(set(names))


def test_benchmark_json_matches_the_metric_definitions(bench):
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"], m["bound"])
            for m in bench["end_to_end"]} == END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]} == {
        k: v[:2] for k, v in PER_LAYER.items()}


def test_every_per_layer_metric_names_what_it_should_move(bench):
    workloads = {w["name"] for w in bench["workloads"]}
    for m in bench["per_layer"]:
        _unit, _better, moves, where = PER_LAYER[m["name"]]
        assert moves in END_TO_END or moves in (MEMORY, WALL), m["name"]
        assert where and set(where) <= workloads, m["name"]
