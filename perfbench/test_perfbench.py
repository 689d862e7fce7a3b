"""The benchmark's own tests.

    python -m pytest perfbench/test_perfbench.py -q

The check tests are pure Python and fast. The smoke test runs every
workload once untraced and once traced at tiny sizes (a few minutes).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import checks  # noqa: E402
import interactive  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402


# -- a corrupted expected value fails each check ------------------------------


def test_ingest_check_fails_on_corrupted_expected():
    expected = checks.expected_batches(seed=5, batch=4, n_batches=2)
    actual = {k: set(v) for k, v in expected.items()}
    assert checks.compare_batches(actual, expected) == {}
    corrupted = {k: set(v) for k, v in expected.items()}
    subj, pred, obj, prov = sorted(corrupted[1])[0]
    corrupted[1].discard((subj, pred, obj, prov))
    corrupted[1].add((subj, pred, obj + "x", prov))
    assert set(checks.compare_batches(actual, corrupted)) == {1}


def test_processed_check_fails_on_duplicate_or_misplaced_url():
    urls = [checks._doc_url(i) for i in range(4)]
    good = [(u, 1 + i // 2) for i, u in enumerate(urls)]
    assert checks.compare_processed(good, batch=2, n_batches=2) == {}
    assert 1 in checks.compare_processed(
        good + [(urls[2], 1)], batch=2, n_batches=2
    )
    assert 0 in checks.compare_processed(
        [(urls[0], 2)] + good[1:], batch=2, n_batches=2
    )


def test_mine_check_fails_on_corrupted_expected():
    spans = [(0, 7, "Glucose", "CHEMICAL"), (20, 24, "ACE2", "PROTEIN")]
    expected = checks.mine_expected([("Glucose ... ACE2.", spans)])
    assert len(expected) == 3  # two entity rows, one CHEMICAL->PROTEIN row
    assert checks.compare_rows(list(expected), expected) is None
    wrong = list(expected)
    wrong[0] = wrong[0][:-1] + (wrong[0][-1] + 1,)
    assert checks.compare_rows(list(expected), wrong) is not None


def test_query_checks_fail_on_corrupted_expected():
    exp = {("a",), ("b",), ("c",)}
    assert checks.compare_limited([("a",), ("b",), ("c",)], exp, 10) is None
    assert checks.compare_limited([("a",), ("b",)], exp, 2) is None
    assert checks.compare_limited([("a",), ("b",), ("c",)],
                                  {("a",), ("b",), ("d",)}, 10) is not None
    top = [("x", 0.5), ("y", 0.3), ("z", 0.2)]
    assert checks.compare_top(top[:2], top, 2) is None
    assert checks.compare_top(top[:2], [("x", 0.5), ("y", 0.31),
                                        ("z", 0.2)], 2) is not None


# -- request mix ---------------------------------------------------------------


@pytest.mark.parametrize("seed", [1, 2, 3, 4])
def test_request_types_get_equal_slots(seed):
    warmup, *timed = interactive.make_requests(seed, 2)
    assert warmup["kind"] == "mine"
    kinds = [r["kind"] for r in timed]
    assert sorted(kinds) == sorted(interactive.TYPES * 2)
    ops = [r["op"] for r in timed if r["kind"] == "graph"]
    assert sorted(ops) == sorted(interactive.GRAPH_OPS)


def test_warm_index_weighs_request_types_equally():
    base = {"mine": [4.0, 5.0], "sparql": [1.0, 1.0], "path": [3.0, 3.0],
            "pagerank": [2.0], "closeness": [4.0]}
    ref = interactive.warm_index(base)
    for kind in ("mine", "sparql", "path"):
        slower = {**base, kind: [2 * x for x in base[kind]]}
        assert interactive.warm_index(slower) == pytest.approx(ref * 2**0.25)
    slower = {**base, "pagerank": [4.0], "closeness": [8.0]}
    assert interactive.warm_index(slower) == pytest.approx(ref * 2**0.25)


# -- trace folding -------------------------------------------------------------


def test_self_time_and_driver_time():
    spans = [
        {"id": 0, "name": "op:batch", "parent": None, "op": 0,
         "start": 0.0, "end": 10.0},
        {"id": 1, "name": "ner", "parent": 0, "op": 0,
         "start": 1.0, "end": 5.0},
    ]
    groups = {"s1": {"jobs": 1, "tasks": [
        {"stage": 3, "launch": 2.0, "finish": 4.0, "cpu_s": 1.0,
         "gc_s": 0.0, "shuffle_write_bytes": 0, "spill_bytes": 0,
         "python_s": 0.5},
        {"stage": 3, "launch": 2.0, "finish": 3.0, "cpu_s": 1.0,
         "gc_s": 0.0, "shuffle_write_bytes": 0, "spill_bytes": 0,
         "python_s": 0.5},
    ]}}
    tracing.span_metrics(spans, groups)
    assert spans[0]["self_s"] == pytest.approx(6.0)
    assert spans[1]["driver_s"] == pytest.approx(2.0)
    assert spans[1]["straggler_ratio"] == pytest.approx(2.0 / 1.5)
    out = tracing.layer_metrics(spans, {0})
    assert out["ner.executor_cpu_s"] == pytest.approx(2.0)
    assert out["ner.python_s"] == pytest.approx(1.0)


def test_benchmark_json_matches_the_code():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(
        run.END_TO_END
    )
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == list(
        metrics.PER_LAYER
    )
    assert [w["name"] for w in spec["workloads"]] == ["ingest", "interactive"]


# -- smoke: every workload, untraced and traced, at tiny sizes ----------------


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", "7", "--seconds", "1", "--trace", str(trace),
         "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return {"report": lines[:-1], "result": json.loads(lines[-1])}


@pytest.mark.parametrize("workload", ["ingest", "interactive"])
def test_smoke(workload):
    untraced = _run(workload, 0)
    res = untraced["result"]
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 2
    for name, unit in run.END_TO_END:
        assert res["metrics"][name]["unit"] == unit
        assert res["metrics"][name]["value"] > 0
    report = "\n".join(untraced["report"])
    assert "failed_ratio" in report and "(n=" in report

    traced = _run(workload, 1)
    res = traced["result"]
    assert res["correct"]
    assert set(res["metrics"]) == {n for n, _u in metrics.PER_LAYER}
    with open(os.path.join(
        HERE, "results", f"{workload}-seed7-trace1.json"
    )) as f:
        record = json.load(f)
    with open(os.path.join(ROOT, record["spans_file"])) as f:
        spans = json.load(f)
    layers = {tracing.layer_of(s["name"]) for s in spans} - {None}
    want = {
        "ingest": {"session", "extraction", "segment", "ner", "relations",
                   "triples", "linking", "canonicalize", "snapshots"},
        "interactive": {"session", "segment", "ner", "relations",
                        "snapshots", "surfaces", "sparql", "paths",
                        "graph"},
    }[workload]
    assert want <= layers
    assert set(tracing.LAYERS) == (
        {"session", "extraction", "segment", "ner", "relations", "triples",
         "linking", "canonicalize", "snapshots"}
        | {"surfaces", "sparql", "paths", "graph"}
    )
    assert "tracing_overhead" in record
    if workload == "ingest":
        # every executor-CPU second of the workload lands in a layer span
        assert record["reconcile"]["layers_share_of_workload"] >= 0.95
