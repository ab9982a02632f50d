"""Tests of the benchmark harness itself.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
The smoke tests start Spark and take a few minutes.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402
from spans import Span, self_time  # noqa: E402


def _bench() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        return json.load(fh)


# --- seeds shape inputs ------------------------------------------------------

@pytest.mark.parametrize("workload", sorted(workloads.QUERY_SETS))
def test_same_seed_same_query_order(workload):
    one = workloads.query_order(workload, 5)
    assert one == workloads.query_order(workload, 5)


@pytest.mark.parametrize("workload", sorted(workloads.QUERY_SETS))
def test_other_seed_other_query_order_same_set(workload):
    orders = [tuple(workloads.query_order(workload, s)) for s in range(10)]
    assert len(set(orders)) == 10
    assert {frozenset(o) for o in orders} == {frozenset(workloads.QUERY_SETS[workload])}


def _batches(tmp_path, seed):
    root = tmp_path / f"s{seed}"
    root.mkdir()
    inp = workloads.make_publish_inputs(str(root), seed, 0.001)
    return [(b["changes"], b["texts"]) for b in inp["batches"]], inp["mix"]


def test_same_seed_same_batches(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    a.mkdir()
    b.mkdir()
    assert _batches(a, 3) == _batches(b, 3)


def test_other_seed_other_batches(tmp_path):
    assert _batches(tmp_path, 3) != _batches(tmp_path, 4)


def test_same_seed_same_tables_other_seed_other_tables():
    one, again, other = (datagen.make_tables(s, 0.001) for s in (1, 1, 2))
    assert all(one[t].equals(again[t]) for t in datagen.TABLES)
    assert not one["lineitem"].equals(other["lineitem"])
    assert not one["documents"].equals(other["documents"])


# --- statistics --------------------------------------------------------------

@pytest.mark.parametrize("n, p", [
    (19, None), (20, 50), (21, 52), (40, 75), (100, 90), (200, 95),
    (1000, 99), (5000, 99),
])
def test_tail_percentile_keeps_ten_samples_beyond(n, p):
    assert stats.tail_percentile(n) == p


def test_tail_value_is_the_nearest_rank_sample():
    values = list(range(1, 101))  # 100 samples -> p90 -> rank 90
    assert stats.tail(values) == (90, 90.0)
    assert stats.tail([3.0, 1.0, 2.0]) == (None, 3.0)


# --- spans -------------------------------------------------------------------

def _span(sid, start, end, parent=None):
    return Span(sid, "x", "x", parent, start, end)


def test_self_time_subtracts_children():
    parent = _span(0, 0.0, 10.0)
    kids = [_span(1, 1.0, 3.0, 0), _span(2, 5.0, 6.0, 0)]
    assert self_time(parent, kids) == pytest.approx(7.0)


def test_self_time_counts_overlap_once_and_clips_to_parent():
    parent = _span(0, 0.0, 10.0)
    kids = [_span(1, 1.0, 3.0, 0), _span(2, 2.0, 4.0, 0), _span(3, 8.0, 12.0, 0)]
    assert self_time(parent, kids) == pytest.approx(10.0 - 3.0 - 2.0)


def test_self_time_without_children_is_duration():
    assert self_time(_span(0, 2.0, 2.5), []) == pytest.approx(0.5)


# --- the contract --------------------------------------------------------------

def test_benchmark_json_names_match_the_harness():
    import run

    bench = _bench()
    assert [m["name"] for m in bench["end_to_end"]] == list(run.END_TO_END)
    assert [m["name"] for m in bench["per_layer"]] == list(layers.LAYER_MAP)
    assert [w["name"] for w in bench["workloads"]] == [
        "corpus_pipeline", "publish_ingest"]


NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_benchmark_json_meets_the_contract():
    bench = _bench()
    assert set(bench) == {"command", "paths", "run_seconds", "workloads",
                          "end_to_end", "per_layer"}
    assert 1 <= bench["run_seconds"] <= 60
    assert 2 <= len(bench["workloads"]) <= 8
    names = [w["name"] for w in bench["workloads"]]
    for w in bench["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200
    assert 1 <= len(bench["end_to_end"]) <= 16
    for m in bench["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    assert {"name": "setup_s", "unit": "s", "better": "lower"}.items() <= next(
        m for m in bench["end_to_end"] if m["name"] == "setup_s").items()
    for m in bench["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    for m in bench["end_to_end"] + bench["per_layer"]:
        names.append(m["name"])
        assert UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
    assert all(NAME.match(n) for n in names) and len(names) == len(set(names))
    assert all(os.path.isdir(os.path.join(REPO, p)) for p in bench["paths"])


def test_bare_directory_exits_nonzero_without_a_result(tmp_path):
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "lakehouse_sql",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode != 0
    assert out.stdout.strip() == ""


def test_query_sets_name_declared_queries():
    from dask_felleskomponenter_spark.plans import QUERIES

    for names in workloads.QUERY_SETS.values():
        assert len(set(names)) == len(names)
        assert set(names) <= set(QUERIES)


def _run(workload, trace, tmp_path):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "11", "--seconds", "1", "--trace", str(trace), "--sf", "0.001"],
        cwd=tmp_path, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    assert os.listdir(tmp_path) == []  # the run dir is gone
    return json.loads(lines[-2]), json.loads(lines[-1])


@pytest.mark.parametrize("workload", ["lakehouse_sql", "corpus_pipeline", "publish_ingest"])
def test_smoke_run_is_correct(workload, tmp_path):
    record, summary = _run(workload, 0, tmp_path)
    assert summary["correct"], record["failures"]
    assert summary["failed"] == 0 and summary["attempted"] >= 1
    names = [m["name"] for m in _bench()["end_to_end"]]
    assert list(summary["metrics"]) == names
    assert all(summary["metrics"][n]["value"] > 0 for n in names)


def test_smoke_traced_run_reports_every_layer(tmp_path):
    record, summary = _run("publish_ingest", 1, tmp_path)
    assert summary["correct"], record["failures"]
    assert list(summary["metrics"]) == list(layers.LAYER_MAP)
    assert summary["metrics"]["sync.merge_s"]["value"] > 0


def test_smoke_traced_read_run_splits_compile_from_execute(tmp_path):
    record, summary = _run("corpus_pipeline", 1, tmp_path)
    assert summary["correct"], record["failures"]
    m = summary["metrics"]
    assert m["engine.compile_s"]["value"] > 0
    assert m["engine.execute_s"]["value"] > m["engine.compile_s"]["value"]
    assert m["functions.python_stages"]["value"] > 0
