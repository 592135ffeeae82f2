"""The benchmark's own tests, on inputs shrunk by --smoke.

    python -m pytest perfbench -q

Each Spark run takes 20-60 s on 4 cores.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)
WORKLOADS = [w["name"] for w in BENCH["workloads"]]


def _run(*args: str, cwd: str = ROOT):
    proc = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    return proc.returncode, json.loads(lines[-1]) if lines else None


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_printed_with_its_unit(workload, trace):
    rc, out = _run("--workload", workload, "--seed", "5", "--seconds", "1", "--trace", str(trace), "--smoke")
    assert rc == 0 and out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    declared = BENCH["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {m["name"]: m["unit"] for m in declared}
    assert all(isinstance(v["value"], (int, float)) for v in out["metrics"].values())
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_tampered_expected_hash_fails_the_gate(workload):
    rc, out = _run("--workload", workload, "--seed", "5", "--seconds", "1", "--trace", "0", "--smoke", "--tamper")
    assert rc != 0
    assert out["correct"] is False and out["failed"] >= 1


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    rc, out = _run("--workload", WORKLOADS[0], "--seed", "1", "--seconds", "1", "--trace", "0", cwd=str(tmp_path))
    assert rc != 0 and out is None


def test_city_is_a_function_of_the_seed():
    import gen_city

    a, b, c = (gen_city.make_city(s, 12) for s in (3, 3, 4))
    assert gen_city.element_rows(a) == gen_city.element_rows(b) != gen_city.element_rows(c)
    xml_a = list(gen_city.batches(a, 3, 2, 50))
    xml_b = list(gen_city.batches(b, 3, 2, 50))
    assert xml_a == xml_b
    assert gen_city.expected_rows(a) == gen_city.expected_rows(b)
    assert gen_city.element_rows(a) != gen_city.element_rows(gen_city.make_city(3, 12))


def test_tables_are_a_function_of_the_seed(tmp_path):
    import gen_tables

    def digest(seed: int, sub: str) -> str:
        out = tmp_path / sub
        gen_tables.write_tables(seed, str(out), 200, 2, 50, 500)
        h = hashlib.sha256()
        for name in sorted(os.listdir(out)):
            h.update((out / name).read_bytes())
        return h.hexdigest()

    assert digest(7, "a") == digest(7, "b") != digest(8, "c")
