"""Self-tests of the benchmark (not of the engine).

    python3 -m pytest perfbench/test_perfbench.py -q

The smoke runs start one Spark session each (about a minute apiece on
4 cores).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path[:0] = [ROOT, BENCH_DIR]

import gen  # noqa: E402
import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def _digest(path: str) -> str:
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


def _land_waves(seed: int, out: str, n: int = 3) -> list[str]:
    waves = gen.WaveGenerator(seed, 300)
    paths = []
    for i in range(n):
        path, _ = gen.land(waves.next_wave(), out, os.path.join(out, ".staging"), i)
        paths.append(_digest(path))
    return paths


def test_waves_are_byte_identical_for_a_seed_and_differ_across_seeds(tmp_path):
    a = _land_waves(5, str(tmp_path / "a"))
    b = _land_waves(5, str(tmp_path / "b"))
    c = _land_waves(6, str(tmp_path / "c"))
    assert a == b
    assert all(x != y for x, y in zip(a, c))


def test_waves_update_earlier_keys_and_carry_bad_rows():
    waves = gen.WaveGenerator(3, 2000)
    first = set(waves.next_wave().column("item_name").to_pylist())
    second = waves.next_wave()
    names = second.column("item_name").to_pylist()
    updates = sum(n in first for n in names) / len(names)
    assert 0.2 < updates < 0.4
    data = second.column("data").to_pylist()
    bad = sum(1 for d in data if d != "[]" and not d.endswith("]"))
    assert 0 < bad < 0.05 * len(data)


def test_fixtures_are_byte_identical_for_a_seed(tmp_path):
    gen.write_fixtures(str(tmp_path / "a"), 42, 0.001)
    gen.write_fixtures(str(tmp_path / "b"), 42, 0.001)
    for name in os.listdir(tmp_path / "a"):
        assert _digest(str(tmp_path / "a" / name)) == _digest(str(tmp_path / "b" / name))


def test_tail_is_nearest_rank():
    lat = [float(i) for i in range(1, 21)]
    assert run.tail(lat, 90) == (18.0, 2)
    assert run.tail([3.0], 90) == (3.0, 0)


def test_bare_directory_fails_without_a_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work", "results", "__pycache__"))
    p = subprocess.run(
        [*SPEC["command"], "--workload", "bi_dashboard", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_run_emits_every_metric_with_its_unit(workload, trace):
    p = subprocess.run(
        [*SPEC["command"], "--workload", workload, "--seed", "1", "--seconds", "1",
         "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in wanted
    }
    for v in result["metrics"].values():
        assert isinstance(v["value"], float)
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
