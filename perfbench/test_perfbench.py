"""Tests of the benchmark itself.

    python3 -m pytest perfbench -q

The end-to-end tests start Spark in a subprocess per run at sf0.001 and take
a few minutes in all.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import datagen, harness, run, tracer, workloads

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)


# -- inputs ---------------------------------------------------------------


def _take(gen, n):
    return [next(gen) for _ in range(n)]


def test_recall_requests_deterministic_per_seed_and_differ_across_seeds():
    a = _take(datagen.recall_requests(1), 60)
    assert a == _take(datagen.recall_requests(1), 60)
    assert a != _take(datagen.recall_requests(2), 60)
    for i in range(0, 60, datagen.RECALL_BLOCK):
        block = a[i:i + datagen.RECALL_BLOCK]
        assert sum(r["op"] == "validate_branch" for r in block) == 2
        assert sum(r.get("provider_override") == "supabase" for r in block) == 5
    for r in a:
        if r["op"] == "recall_search":
            assert 1 <= len(r["query"].split()) <= 6
            assert set(r["query"].split()) <= set(datagen.VOCAB)
            assert r["top_k"] in (3, 5, 10)


def test_query_passes_are_permutations_deterministic_per_seed():
    names = workloads.BATCH_QUERIES
    a = _take(datagen.query_passes(1, names), 5)
    assert a == _take(datagen.query_passes(1, names), 5)
    assert a != _take(datagen.query_passes(2, names), 5)
    assert all(sorted(p) == sorted(names) for p in a)


def _delta_script(seed, cycles):
    """Drive delta_ops against its own model, committing one version per
    write, as the workload does."""
    model = datagen.DeltaModel()
    gen = datagen.delta_ops(seed, model)
    version = -1
    script = []
    for _ in range(cycles):
        for op in next(gen):
            script.append(op)
            if op["op"] in ("append", "merge", "delete", "optimize"):
                version += 1
                datagen.apply_write(model, op)
                model.record(version)
    return script, model


def test_delta_ops_deterministic_per_seed_and_differ_across_seeds():
    a, model = _delta_script(1, 6)
    b, _ = _delta_script(1, 6)
    c, _ = _delta_script(2, 6)
    assert a == b
    assert a != c
    assert a[0]["op"] == "append" and len(a[0]["rows"]) == datagen.DELTA_APPEND_ROWS
    for cycle in range(1, 6):
        ops = a[1 + 8 * (cycle - 1):1 + 8 * cycle]
        assert [o["op"] for o in ops] == datagen.DELTA_CYCLE
    for i, op in enumerate(a):
        if op["op"] == "read_changes":  # a range, empty only before the first commit
            assert op["from"] < op["to"] or (i < 9 and op["from"] == op["to"] == 0)
    assert len(model.rows) == model.by_version[max(model.by_version)][0]


def test_delta_model_applies_upsert_and_range_delete():
    m = datagen.DeltaModel()
    datagen.apply_write(m, {"op": "append", "rows": [(1, 10), (2, 20), (3, 30)]})
    datagen.apply_write(m, {"op": "merge", "rows": [(2, 5), (4, 40)]})
    datagen.apply_write(m, {"op": "delete", "lo": 3, "hi": 4})
    assert m.rows == {1: 10, 2: 5, 4: 40}
    m.record(2)
    assert m.by_version[2] == (3, 55)


def test_tables_are_fixed_and_shaped_like_the_test_data():
    a = datagen._tables(0.01)
    b = datagen._tables(0.01)
    from opencode_hive_archon_spark.session import TABLE_NAMES

    assert set(a) == set(TABLE_NAMES)
    for name in a:
        assert a[name].equals(b[name])
    assert a["documents"].num_rows == 50
    assert a["embeddings"].column("embedding").type.value_type.bit_width == 32


# -- metric plumbing ----------------------------------------------------------


def test_names_match_benchmark_json():
    assert [w["name"] for w in BENCH["workloads"]] == list(run.WORKLOADS)
    assert set(workloads.SCALES) == set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in BENCH["per_layer"]} == run.PER_LAYER
    assert set(run.MIN_UNITS) == set(run.WORKLOADS)
    bounds = {m["name"]: m["bound"] for m in BENCH["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values())


def test_percentile_counts_failures_as_slowest():
    xs = [0.1 * i for i in range(1, 100)] + [math.inf]
    assert harness.percentile(xs, 50) == pytest.approx(5.0)
    assert harness.percentile(xs, 100) == math.inf
    assert harness.percentile([math.inf] * 3, 50) == math.inf


def test_union_of_job_intervals():
    assert tracer._union_ms([(0, 10), (5, 15), (20, 30)]) == 25
    assert tracer._union_ms([(0, 10), (2, 3)]) == 10
    assert tracer._union_ms([]) == 0


def test_self_time_subtracts_children():
    t = tracer.Tracer()
    t.armed = True
    outer = t.open("outer")
    inner = t.open("inner")
    t.close(inner)
    t.close(outer)
    st = t.self_times()
    assert st["outer"]["self_s"] == pytest.approx(
        st["outer"]["total_s"] - st["inner"]["total_s"])
    assert t.spans[inner]["parent"] == outer


def test_result_digest_ignores_row_and_column_order():
    import pandas as pd

    a = pd.DataFrame({"x": [1, 2], "y": ["a", None]})
    b = pd.DataFrame({"y": [None, "a"], "x": [2, 1]})
    assert harness.result_digest(a) == harness.result_digest(b)
    c = pd.DataFrame({"x": [1, 2], "y": ["a", "b"]})
    assert harness.result_digest(a) != harness.result_digest(c)


def test_fmt2_rounds_half_up_like_the_engine():
    assert workloads._fmt2(0.625) == "0.63"
    assert workloads._fmt2(0.5 + 0.05 * 3) == "0.65"
    assert workloads._fmt2(1.0) == "1.00"


# -- end to end ----------------------------------------------------------------


def _run(workload, seed, trace):
    """One benchmark run in a subprocess, with every workload reading tables
    at sf0.001 (scale 0.01)."""
    code = (
        "import sys; sys.path.insert(0, sys.argv[1]);"
        "from perfbench import workloads, run;"
        "workloads.SCALES = {k: 0.01 for k in workloads.SCALES};"
        "sys.exit(run.main(sys.argv[2:]))"
    )
    args = ["--workload", workload, "--seed", str(seed), "--seconds", "1", "--trace", str(trace)]
    return subprocess.run([sys.executable, "-c", code, ROOT, *args], cwd=ROOT,
                          capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_workload_runs_end_to_end(workload):
    proc = _run(workload, 7, 0)
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True, proc.stderr[-3000:]
    assert res["failed"] == 0 and res["attempted"] >= 1
    assert {k: v["unit"] for k, v in res["metrics"].items()} == run.END_TO_END
    for v in res["metrics"].values():
        assert math.isfinite(v["value"]) and v["value"] > 0


def _trace_counters(workload, seed):
    proc = _run(workload, seed, 1)
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert res["correct"] is True
    assert {k: v["unit"] for k, v in res["metrics"].items()} == run.PER_LAYER
    with open(os.path.join(ROOT, ".perfbench_out", f"trace-{workload}-{seed}.json")) as fh:
        detail = json.load(fh)
    assert detail["spans"] and detail["self_times"]
    keys = ("kind", "jobs", "stages", "tasks", "shuffle_write_bytes", "runs")
    return [tuple(len(o[k]) if k == "runs" else o[k] for k in keys) for o in detail["ops"]]


def test_traced_counters_repeat_exactly_at_one_seed():
    first = _trace_counters("batch_queries", 3)
    assert first == _trace_counters("batch_queries", 3)
    assert any(runs for *_, runs in first)  # the stream's query was seen


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [*BENCH["command"], "--workload", "recall_serve", "--seed", "1", "--seconds", "1",
         "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120, env=env)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout

