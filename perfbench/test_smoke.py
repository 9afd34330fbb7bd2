"""The benchmark's own tests: ``python -m pytest perfbench -q`` from the
repository root.  The smoke runs drive every workload once, through
the same code as a measured run, on the ``xs`` corpus and tiny tables."""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(HERE))

import inputs  # noqa: E402
import workloads  # noqa: E402
from sema_spark import corpus  # noqa: E402

E2E = {m["name"] for m in json.loads((ROOT / "BENCHMARK.json").read_text())["end_to_end"]}


def _run(*args: str, cwd: Path = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd, capture_output=True, text=True, timeout=600
    )


def test_slice_triples_match_generate_corpus():
    rows, expected = corpus.generate_corpus("xs")
    kg = inputs.kg_inputs(3, inputs.SIZES["smoke"][0])
    files = {f"{r.repo}/{r.path}" for r in kg.rows}
    restricted = {t for t in expected if t[0].split("#", 1)[0] in files}
    assert kg.expected(kg.rows) == restricted
    by_key = {(r.repo, r.path): r.content for r in rows}
    assert all(by_key[(r.repo, r.path)] == r.content for r in kg.rows)


def test_seeds_change_inputs_not_sizes():
    size = inputs.SIZES["full"][0]
    a, b = inputs.kg_inputs(1, size), inputs.kg_inputs(2, size)
    assert inputs.kg_inputs(1, size).mutated == a.mutated
    assert (len(a.edited), len(a.deleted), len(a.added)) == (len(b.edited), len(b.deleted), len(b.added))
    assert a.edited != b.edited
    assert inputs.search_queries(1, a.rows, 10) != inputs.search_queries(2, a.rows, 10)


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
@pytest.mark.parametrize("trace", ["0", "1"])
def test_smoke(workload, trace):
    p = _run("--workload", workload, "--seed", "1", "--seconds", "2", "--trace", trace, "--smoke")
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = E2E if trace == "0" else set(workloads.per_layer_names())
    assert set(result["metrics"]) == want
    assert not (ROOT / ".perfbench_work").exists()


def test_fails_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = _run("--workload", "search_dedup", "--seed", "1", "--seconds", "2", "--trace", "0", cwd=tmp_path)
    assert p.returncode != 0
    assert "metrics" not in p.stdout
