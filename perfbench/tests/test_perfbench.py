"""Benchmark self-test: every workload at tiny scale, plus the oracle's
ability to reject wrong answers.

    python -m pytest perfbench/tests -q

Each workload run starts its own Spark JVM (~60 s each).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

from perfbench import gen
from perfbench.oracle import Oracle, check

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)

SHARED = {
    "setup_s": "s",
    "build_docs_per_s": "docs/s",
    "index_bytes_per_content_byte": "ratio",
    "query_p50_ms": "ms",
    "query_p95_ms": "ms",
}
# Every end-to-end metric the report line names, per workload.
REPORTED = {
    "query": {**SHARED, "batch_queries_per_s": "q/s", "any_query_p50_ms": "ms"},
    "ingest_mix": {
        **SHARED,
        "add_p50_ms": "ms",
        "ingest_docs_per_s": "docs/s",
        "mixed_query_p50_ms": "ms",
        "mixed_query_p95_ms": "ms",
    },
}


def run_bench(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    # 12 s holds at least one full query round and one ingest cycle at
    # the tiny scale
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "12", "--trace", str(trace), "--scale", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


@pytest.fixture(scope="module")
def oracle_and_query():
    vocab = gen.Vocab(5)
    o = Oracle()
    o.add(gen.make_docs(vocab, 5, 0, 200))
    qg = gen.QueryGen(np.random.default_rng(1), o, vocab)
    for q in qg.stream(200):
        expected = o.answer(q)
        if len(expected) > 10 and expected[9][1] != expected[10][1]:
            return o, q, expected
    raise AssertionError("no query with more than k distinct-scored matches")


def test_oracle_accepts_its_own_answer(oracle_and_query):
    _o, _q, expected = oracle_and_query
    assert check(expected, expected[:10], 10) is None


def test_oracle_flags_perturbed_score(oracle_and_query):
    _o, _q, expected = oracle_and_query
    got = list(expected[:10])
    got[3] = (got[3][0], got[3][1] * 1.001)
    assert check(expected, got, 10) is not None


def test_oracle_flags_dropped_doc(oracle_and_query):
    _o, _q, expected = oracle_and_query
    assert check(expected, expected[:9], 10) is not None
    assert check(expected, expected[:5] + expected[6:11], 10) is not None


def test_oracle_flags_foreign_doc(oracle_and_query):
    o, _q, expected = oracle_and_query
    outsider = next(c for c in o.tokens if c not in dict(expected))
    got = list(expected[:10])
    got[9] = (outsider, got[9][1])
    assert check(expected, got, 10) is not None


def test_oracle_honours_tombstones(oracle_and_query):
    o, q, expected = oracle_and_query
    o.delete([expected[0][0]])
    try:
        assert expected[0][0] not in dict(o.answer(q))
    finally:
        o.dead.clear()


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_emits_end_to_end_metrics(workload):
    p = run_bench(workload, 0)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    for m in SPEC["end_to_end"]:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert got["value"] > 0, m["name"]
    report = json.loads(lines[-2].removeprefix("report "))
    for name, unit in REPORTED[workload].items():
        got = report["metrics"][name]
        assert got["unit"] == unit, name
        assert got["value"] > 0, name
    assert report["metrics"]["failed_op_ratio"] == {"value": 0.0, "unit": "ratio"}
    for key in ("seed", "nproc", "spark_version", "git_sha"):
        assert key in report


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_traced_run_emits_per_layer_metrics(workload):
    p = run_bench(workload, 1)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["failed"] == 0
    for m in SPEC["per_layer"]:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
    with open(os.path.join(ROOT, ".perfbench", "traces", f"{workload}-seed1.json")) as f:
        trace = json.load(f)
    assert trace["spans"] and trace["self_s"]


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    p = run_bench(SPEC["workloads"][0]["name"], 0, cwd=str(tmp_path))
    assert p.returncode != 0
    assert not p.stdout.strip()
