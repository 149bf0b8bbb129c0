"""Tests of the benchmark itself: membership, output check, inputs, the
BENCHMARK.json contract, and whole runs from outside the repository root.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import datagen, deck, lake, run, worker  # noqa: E402
from tools.oracle_check import canonicalize  # noqa: E402


@pytest.fixture(scope="module")
def specs():
    from connected_data_lake_spark.plans import all_specs

    return all_specs()


def test_membership_partitions_the_declared_names(specs):
    groups = worker.load_membership()["members"]
    assert set(groups) == {"sql_olap", "py_udf", "lake_rw"}
    members = [set(m) for m in groups.values()]
    assert sum(len(m) for m in members) == len(set().union(*members)) == len(specs) == 231
    assert set().union(*members) == set(specs)


def test_workloads_cover_every_group_once_and_decks_are_members():
    membership = worker.load_membership()
    covered = [g for w in membership["workloads"].values() for g in w["groups"]]
    assert sorted(covered) == sorted(membership["members"])
    for name in membership["workloads"]:
        assert set(worker.ops_of(name, "frozen")) <= set(worker.ops_of(name, "all"))


def test_lake_tagged_names_are_lake_rw(specs):
    lake_rw = set(worker.load_membership()["members"]["lake_rw"])
    assert lake_rw == {n for n, s in specs.items() if worker.LAKE_TAGS & set(s.tags)}


def test_decks_follow_the_stratified_rule_from_the_measured_latencies(specs):
    membership = worker.load_membership()
    tags = {n: s.tags for n, s in specs.items()}
    assert deck.derive(membership, tags, membership["measured_s"]) == membership["workloads"]
    for w in membership["workloads"].values():
        assert not set(w["deck"]) & set(deck.EXCLUDED)
        assert sum(r["members"] for r in w["strata"].values()) == sum(
            len(membership["members"][g]) for g in w["groups"])


def test_weighted_median_of_kind_medians():
    values = {"a": 1.0, "b": 2.0, "c": 10.0}
    assert worker.weighted_quantile(values, {"a": 1, "b": 1, "c": 1}, 0.5) == 2.0
    assert worker.weighted_quantile(values, {"a": 3, "b": 1, "c": 1}, 0.5) == 1.0
    assert worker.weighted_quantile(values, {"a": 1, "b": 1, "c": 2}, 0.5) == 6.0


def test_exec_families_are_the_deck_families(specs):
    decks = [n for w in worker.load_membership()["workloads"] for n in worker.ops_of(w, "frozen")]
    assert set(worker.FAMILIES) == {worker.family(specs[n]) for n in decks}
    assert {f"plans.exec_s.{f}" for f in worker.FAMILIES} <= set(run.PER_LAYER)


def _result():
    import datetime

    return pa.table({
        "k": pa.array([1, 2, 3], pa.int64()),
        "v": [0.25, 1.5, 2.125],
        "s": ["a", "b", None],
        "t": pa.array([datetime.datetime(2024, 1, 1, h) for h in (1, 2, 3)],
                      pa.timestamp("us", tz="UTC")),
    })


def test_check_accepts_an_equal_result():
    want = canonicalize(_result().to_pandas().assign(t=lambda d: d.t.dt.tz_localize(None)))
    assert worker.compare(canonicalize(worker.arrow_to_pandas(_result())), want) == ""


def test_check_fails_a_result_with_one_value_perturbed():
    want = canonicalize(worker.arrow_to_pandas(_result()))
    bad = _result().set_column(1, "v", pa.array([0.25, 1.500001, 2.125]))
    assert worker.compare(canonicalize(worker.arrow_to_pandas(bad)), want).startswith("HASH")


def test_lake_check_fails_a_file_with_one_byte_flipped():
    import numpy as np

    files = {("/d", "a"): b"x" * (lake.MAX_CHUNK + 5), ("/d", "b"): b""}
    model = lake.Model(files, np.random.default_rng(0))
    cids = [0, 1, 0]  # chunk_rows() is ordered (parent, name, chunk_id)
    parents, names, data = zip(*model.chunk_rows())
    table = pa.table({"name": names, "parent": parents, "chunk_id": cids, "data": data})
    assert lake.digests_of(table) == model.digests()
    flipped = list(data)
    flipped[1] = b"y" + flipped[1][1:]
    assert lake.digests_of(table.set_column(3, "data", pa.array(flipped))) != model.digests()


def test_inputs_are_a_function_of_the_seed():
    a, b, c = (datagen.tables(s, 0.001) for s in (5, 5, 6))
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert set(a) == set(datagen.tables(5, 0.001)) and len(a) == 10


def test_benchmark_json_names_what_the_run_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [m["name"] for m in spec["end_to_end"]] == list(run.E2E)
    assert [m["name"] for m in spec["per_layer"]] == list(run.PER_LAYER)
    for m in spec["per_layer"]:
        assert m["unit"] == run.unit_of(m["name"]), m
    assert [w["name"] for w in spec["workloads"]] == list(worker.load_membership()["workloads"])


def test_run_refuses_a_directory_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "queries", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0 and '"correct"' not in proc.stdout


@pytest.mark.parametrize("workload", ["queries", "lake_rw"])
def test_runs_from_outside_the_repository_root(tmp_path, workload):
    """Spark's Python workers import the package from any working directory
    (the queries deck evaluates Python), and the output check passes."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 7
    assert set(out["metrics"]) == set(run.E2E)
