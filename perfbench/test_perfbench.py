"""The benchmark's own checks; no Spark needed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
from decimal import Decimal
from types import SimpleNamespace

from perfbench import check
from perfbench.analytics import Results
from perfbench.common import tail
from perfbench.engine_txn import Model

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class FakeOracle:
    def __init__(self, columns, rows):
        self.want = check.normalize(columns, rows)

    def result(self, name, sql):
        return self.want


SPECS = {"q": SimpleNamespace(oracle="SELECT 1")}
ROWS = [(1, "a", 2.5), (2, "b", None), (3, "c", float("nan"))]


def test_matching_rows_in_any_order_and_column_order_pass():
    r = Results()
    r.add("q", ["id", "name", "x"], ROWS)
    r.add("q", ["id", "name", "x"], list(reversed(ROWS)))
    oracle = FakeOracle(["x", "id", "name"], [(x, i, n) for i, n, x in ROWS])
    assert r.failures(oracle, SPECS) == {}


def test_a_corrupted_row_is_counted_as_failed():
    r = Results()
    for _ in range(3):
        r.add("q", ["id", "name", "x"], ROWS)
    corrupt = [ROWS[0], (2, "B", None), ROWS[2]]
    bad = r.failures(FakeOracle(["id", "name", "x"], corrupt), SPECS)
    assert "row 1" in bad["q"]
    assert r.failed_count(bad) == 3  # every execution of the query


def test_an_execution_that_changes_rows_is_counted_once():
    r = Results()
    r.add("q", ["id", "name", "x"], ROWS)
    r.add("q", ["id", "name", "x"], ROWS[:2])
    r.add("q", ["id", "name", "x"], ROWS)
    bad = r.failures(FakeOracle(["id", "name", "x"], ROWS), SPECS)
    assert bad == {"q": "1 execution(s) changed rows"}
    assert r.failed_count(bad) == 1


def test_a_raising_execution_is_counted_as_failed():
    r = Results()
    r.add("q", ["id", "name", "x"], ROWS)
    r.add_error("q", RuntimeError("boom"))
    r.add("q", ["id", "name", "x"], ROWS)
    bad = r.failures(FakeOracle(["id", "name", "x"], ROWS), SPECS)
    assert bad == {}
    assert r.runs["q"] == 3 and r.failed_count(bad) == 1


def test_missing_row_and_renamed_column_are_mismatches():
    got = check.normalize(["id"], [(1,), (2,)])
    assert check.mismatch(got, check.normalize(["id"], [(1,)])) == "2 rows != oracle 1"
    assert "columns" in check.mismatch(got, check.normalize(["key"], [(1,), (2,)]))


def test_numbers_compare_across_python_types():
    got = check.normalize(["v"], [(1.5,), (2,)])
    want = check.normalize(["v"], [(Decimal("2"),), (Decimal("1.5"),)])
    assert check.mismatch(got, want) is None


def test_tail_is_the_highest_percentile_with_ten_samples_beyond():
    xs = list(range(1, 101))
    assert tail(xs) == (90.0, 90)
    assert tail(xs[:20]) == (50.0, 10)
    assert tail(xs[:5]) == (100.0, 5)


def test_model_list_order_matches_engine_semantics():
    m = Model()
    m.bulk("friend", [(1, 7), (1, 3), (1, 5), (2, 1)])
    assert m.adj["friend"][1] == [3, 5, 7]  # a bulk batch lists targets ascending
    m.add("friend", 1, 9)
    m.add("friend", 1, 3)
    assert m.adj["friend"][1] == [3, 9, 3, 5, 7]  # newest first, parallel edges kept
    m.remove("friend", 1, 3)
    assert m.adj["friend"][1] == [9, 5, 7]  # every copy goes


def test_model_delete_cascades_and_missing_tools_is_a_bag_difference():
    m = Model()
    for nid, t in ((1, "Person"), (2, "Person"), (10, "Activity")):
        m.add_node(t, nid, {"name": f"n{nid}"})
    for oid in (20, 21):
        m.add_node("Object", oid, {"name": f"o{oid}"})
    m.bulk("hobby", [(1, 10)])
    m.bulk("tool", [(10, 20), (10, 20), (10, 21)])
    m.bulk("friend", [(1, 2)])
    m.bulk("possession", [(2, 20)])
    assert m.missing_tools(1) == ["o20", "o21"]  # one of two o20 is covered
    m.delete("Person", 2)
    assert m.adj["friend"][1] == []
    assert m.missing_tools(1) == ["o20", "o20", "o21"]


def test_benchmark_json_meets_its_schema():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    unit = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    assert all(name.match(n) for n in names)
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25 and unit.match(m["unit"])
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"} and unit.match(m["unit"])
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200
    assert 1 <= spec["run_seconds"] <= 60
    for p in spec["paths"]:
        assert os.path.isdir(os.path.join(ROOT, p))


def test_every_declared_workload_is_runnable():
    from perfbench.run import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = [w["name"] for w in json.load(f)["workloads"]]
    assert set(declared) == set(WORKLOADS)
