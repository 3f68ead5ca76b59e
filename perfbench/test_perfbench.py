"""Self-tests of the benchmark. Run from the repository root:

    python3 -m pytest perfbench -q

The smoke runs start Spark once per workload and trace mode (tiny inputs,
one-second measurement); the rest run in-process without Spark.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import inputs  # noqa: E402
import reference  # noqa: E402
import run  # noqa: E402

WORKLOADS = ("tiling", "zone_queries")


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_match_benchmark_json():
    s = spec()
    assert {m["name"]: m["unit"] for m in s["end_to_end"]} == run.E2E
    assert {m["name"]: m["unit"] for m in s["per_layer"]} == run.LAYERS
    assert tuple(w["name"] for w in s["workloads"]) == WORKLOADS
    assert s["command"] == ["python3", "perfbench/run.py"]


def test_checker_accepts_reference_and_rejects_corruption():
    counts = {("h36v08", 0): 5, ("h36v08", 3): 2}
    assert reference.compare("tiles", dict(counts), counts) is None
    assert reference.compare("tiles", {**counts, ("h36v08", 3): 3}, counts) is not None
    assert reference.compare("tiles", {("h36v08", 0): 5}, counts) is not None
    assert reference.digest({**counts, ("h36v08", 3): 3}) != reference.digest(counts)

    knn = {7: [(1, 10.0), (2, 20.0), (3, 20.0 + 1e-9)]}
    assert reference.compare("knn", {7: [(1, 10.0), (3, 20.0), (2, 20.0)]}, knn) is None  # tie
    assert reference.compare("knn", {7: [(1, 10.0), (2, 20.0), (4, 20.0)]}, knn) is not None
    assert reference.compare("knn", {7: [(1, 10.5), (2, 20.0), (3, 20.0)]}, knn) is not None

    zonal = {1: (4, -1.0, 2.0, 3.0, 0.75, 1.2)}
    assert reference.compare("zonal", {1: (4, -1.0, 2.0, 3.0 + 1e-13, 0.75, 1.2)}, zonal) is None
    assert reference.compare("zonal", {1: (5, -1.0, 2.0, 3.0, 0.75, 1.2)}, zonal) is not None
    assert reference.compare("zonal", {1: (4, -1.0, 2.0, 3.1, 0.75, 1.2)}, zonal) is not None


def _docs_digest(seed: int, n: int = 64) -> str:
    from gipspark.sources.fixtures import docs_pdf

    base = inputs.seed_base(seed, n)
    pdf = docs_pdf(np.arange(base, base + n))
    return inputs.input_digest(pdf["url"].to_numpy().astype(str), pdf["text"].to_numpy().astype(str))


def test_inputs_are_pure_functions_of_the_seed():
    assert _docs_digest(3) == _docs_digest(3)
    assert _docs_digest(3) != _docs_digest(4)
    pool3 = inputs.zone_pool(3, 60)
    assert inputs.input_digest(pool3) == inputs.input_digest(inputs.zone_pool(3, 60))
    assert inputs.input_digest(pool3) != inputs.input_digest(inputs.zone_pool(4, 60))
    b3, b4 = inputs.knn_batch(3, 1, 20, 0.3), inputs.knn_batch(4, 1, 20, 0.3)
    assert inputs.input_digest(b3["q_lat"]) == inputs.input_digest(inputs.knn_batch(3, 1, 20, 0.3)["q_lat"])
    assert inputs.input_digest(b3["q_lat"]) != inputs.input_digest(b4["q_lat"])
    assert b3["hot"].sum() == 6
    assert inputs.raster_tiles(3, pool3, 4) == inputs.raster_tiles(3, pool3, 4)


def test_reference_pip_matches_brute_force():
    pts = {"lon": np.array([2.35, 2.36, 50.0]), "lat": np.array([48.85, 48.86, 0.0]), "p_id": np.array([1, 2, 3])}
    square = {"poly_id": 9, "rings": [[[2.3, 48.8], [2.4, 48.8], [2.4, 48.9], [2.3, 48.9], [2.3, 48.8]]]}
    assert reference.pip_counts(pts, [square]) == {9: (2, 3)}


def test_fails_without_the_program(tmp_path):
    """Only BENCHMARK.json and perfbench/: exit non-zero, print no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "tiling", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_run(workload, trace):
    t = time.time()
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=240,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    assert time.time() - t < 180
    *_, detail_line, result_line = p.stdout.strip().splitlines()
    result, detail = json.loads(result_line), json.loads(detail_line)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == set(run.LAYERS if trace else run.E2E)
    assert detail["host"]["spark_master"] == f"local[{detail['host']['nproc']}]"
    if trace:
        # the staged, traced rounds ran the same ops with equal results
        assert detail["traced_equals_untraced"] is True
    else:
        assert all(m["value"] > 0 for m in result["metrics"].values())
