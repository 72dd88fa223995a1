"""Tests of the benchmark itself: seeded inputs are deterministic, the
printed metric names are those BENCHMARK.json declares, each workload
completes a tiny run with every check passing, and a directory without
the program fails fast without printing a result.

    python3 -m pytest perfbench/tests -q

The smoke runs start Spark (about a minute each).
"""

from __future__ import annotations

import contextlib
import json
import os
import random
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
REPO = os.path.dirname(BENCH_DIR)
sys.path.insert(0, REPO)
sys.path.insert(0, BENCH_DIR)

import gen  # noqa: E402
import harness  # noqa: E402
from workloads import LAYER_UNITS, WORKLOADS  # noqa: E402

with open(os.path.join(REPO, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)
E2E = [m["name"] for m in BENCH["end_to_end"]]
PER_LAYER = [m["name"] for m in BENCH["per_layer"]]


def test_page_inputs_are_deterministic_per_seed():
    sizes = gen.task_sizes(5, 12, (8, 12, 16))
    assert sizes == gen.task_sizes(5, 12, (8, 12, 16))
    assert sorted(sizes) == sorted((8, 12, 16) * 4)  # same mix every seed
    a, b = gen.make_pages(5, sizes), gen.make_pages(5, sizes)
    assert (a.pages, a.tasks, a.expected, a.planted) == \
        (b.pages, b.tasks, b.expected, b.planted)
    assert gen.make_pages(6, sizes).pages != a.pages
    assert a.control_rows() == b.control_rows()


def test_planted_counts_match_expected_lines():
    ps = gen.make_pages(3, [40, 40, 40])
    pairs = [(t, p) for t, uris in ps.tasks.items() for p in uris]
    assert len(pairs) > len(ps.pages)  # some pages belong to two tasks
    lines = sum(len(ps.expected[p]) for _t, p in pairs)
    assert lines == ps.planted["valid"] + ps.planted["fixed"]
    nulls = sum(ps.pages[[q[0] for q in ps.pages].index(p)][2] is None
                for _t, p in pairs)
    assert nulls == ps.planted["errors"] > 0
    assert ps.planted["fixed"] > 0 and ps.planted["dropped"] > 0


def test_corpus_inputs_are_deterministic_per_seed():
    assert gen.make_documents(2, 50) == gen.make_documents(2, 50)
    assert gen.make_documents(2, 50) != gen.make_documents(3, 50)
    assert gen.make_embeddings(2, 20, dim=8) == gen.make_embeddings(2, 20,
                                                                    dim=8)
    body = gen.delta_body(random.Random(1), "urn:task:1")
    assert body == gen.delta_body(random.Random(1), "urn:task:1")
    assert "urn:task:1" in body


def test_benchmark_json_lists_every_layer_metric_and_workload():
    assert PER_LAYER == list(LAYER_UNITS)
    assert [w["name"] for w in BENCH["workloads"]] == list(WORKLOADS)
    units = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert units == LAYER_UNITS


def test_tail_and_self_time():
    xs = list(range(1, 31))
    assert harness.tail(xs) == 20  # ten samples beyond it
    assert harness.tail(xs[:10]) is None
    tr = harness.Tracer(True)
    with tr.span("outer", 1):
        with tr.span("inner", 1):
            pass
    outer, inner = tr.spans
    assert inner.parent == outer.sid and inner.op == outer.op == 1
    self_ms = tr.self_ms()
    total = (outer.end - outer.start) * 1e3
    assert abs(self_ms["outer"] + self_ms["inner"] - total) < 1e-6
    assert not harness.Tracer(False).spans


def _run(cwd, workload, trace):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
         "--workload", workload, "--seed", "1", "--seconds", "1",
         "--trace", str(trace)], cwd=cwd, capture_output=True, text=True,
        timeout=300)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_smoke_run_prints_declared_metrics(workload, trace):
    p = _run(REPO, workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0
    assert res["attempted"] >= 1
    assert sorted(res["metrics"]) == sorted(PER_LAYER if trace else E2E)
    declared = {m["name"]: m["unit"]
                for m in BENCH["per_layer" if trace else "end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == declared
    shutil.rmtree(os.path.join(REPO, ".perfbench_state"), ignore_errors=True)
    if trace:  # the traced run leaves its spans, one JSON object a line
        spans = os.path.join(REPO, ".perfbench_spans",
                             f"{workload}-seed1.jsonl")
        with open(spans) as f:
            first = json.loads(f.readline())
        assert {"name", "start", "end", "parent", "op"} <= set(first)
        os.remove(spans)
        with contextlib.suppress(OSError):  # another run's spans may remain
            os.rmdir(os.path.dirname(spans))


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(str(tmp_path), BENCH["workloads"][0]["name"], 0)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
