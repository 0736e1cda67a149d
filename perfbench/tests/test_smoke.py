"""Smoke tests for the benchmark: every workload and the traced run once,
at the ``tiny`` size, through the command line BENCHMARK.json names.

    python -m pytest perfbench/tests -q

Each test starts its own Spark JVM, so the file takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
RUN = os.path.join("perfbench", "run.py")


def _run(args, cwd=REPO, timeout=600, env=None):
    return subprocess.run([sys.executable, RUN, *args], cwd=cwd, env=env,
                          capture_output=True, text=True, timeout=timeout)


def _result(p) -> dict:
    assert p.returncode == 0, p.stderr[-4000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def _tiny(workload: str, trace: int) -> dict:
    return _result(_run(["--workload", workload, "--seed", "1",
                         "--seconds", "1", "--trace", str(trace),
                         "--size", "tiny"]))


@pytest.mark.spark
@pytest.mark.parametrize("workload", [
    "flagship", "polygon_join", "near_dup",
    pytest.param("geoarrow_codec", marks=pytest.mark.xfail(
        strict=True, reason="from_geoarrow shifts interleaved points that "
        "follow a NULL (functions/encoding.py _geoarrow_from_spark_arrow)")),
])
def test_workload_end_to_end(workload):
    res = _tiny(workload, 0)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["attempted"] >= 1 and res["failed"] == 0
    assert set(res["metrics"]) == {"rows_per_s", "setup_s", "peak_rss_mb"}
    assert all(m["value"] > 0 for m in res["metrics"].values())
    assert res["correct"]


@pytest.mark.spark
def test_traced_run_polygon_join():
    res = _tiny("polygon_join", 1)
    assert res["correct"] and res["failed"] == 0
    m = {k: v["value"] for k, v in res["metrics"].items()}
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        names = [x["name"] for x in json.load(f)["per_layer"]]
    assert sorted(m) == sorted(names)
    assert m["functions.python_rows"] > 0
    assert m["operators.spatial_join.broadcast_sides"] \
        + m["operators.spatial_join.shuffled_sides"] == 2
    assert m["kernels.point_in_rings.pairs_per_s"] > 0


def test_fails_without_the_program(tmp_path):
    """With only BENCHMARK.json and the benchmark's files present, the
    command exits non-zero and prints no result."""
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(REPO, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".cache", ".work", ".out",
                                                  "__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = _run(["--workload", "flagship", "--seed", "1", "--seconds", "1",
              "--trace", "0"], cwd=tmp_path, timeout=180, env=env)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
