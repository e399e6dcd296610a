"""Smoke test of the benchmark at tiny input sizes.

    python3 -m pytest perfbench/test_smoke.py -q

Runs every gated workload once untraced and once traced (about three
minutes on 4 cores) and checks that each metric BENCHMARK.json names is
emitted with its unit, that corrupted outputs fail the output checks,
and that the command fails cleanly when the library is absent.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(cwd, workload, trace, scale="0.02"):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", str(trace), "--scale", scale],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_metric_is_emitted(workload, trace):
    p = _run(ROOT, workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    want = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in want}
    for m in want:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
        if not trace:
            assert got["value"] > 0


@pytest.fixture(scope="module")
def fixture_datasets(tmp_path_factory):
    sys.path.insert(0, ROOT)
    from opentopodata_spark import config, fixtures

    root = str(tmp_path_factory.mktemp("rasters"))
    cfg = fixtures.make_all_rasters(root)["config"][0]
    return config.resolve_dataset_names(
        "multi_eudem_etopo1", config.load_datasets(cfg))


def test_corrupted_output_fails_the_oracle_check(fixture_datasets):
    from opentopodata_spark import oracle

    from perfbench.workloads import compare_to_oracle

    lats, lons = [0.5, 47.0, 10.0, -30.0], [10.5, 5.0, 1.0, 100.0]
    z, ds = oracle.get_elevation(lats, lons, fixture_datasets, "bilinear")
    rows = list(zip(lats, lons, z, ds))
    assert compare_to_oracle(rows, fixture_datasets, "bilinear") == []
    wrong_z = [r if i else (r[0], r[1], r[2] + 0.5, r[3]) for i, r in enumerate(rows)]
    assert len(compare_to_oracle(wrong_z, fixture_datasets, "bilinear")) == 1
    wrong_ds = [r if i != 2 else (r[0], r[1], r[2], "etopo1deg-x")
                for i, r in enumerate(rows)]
    assert len(compare_to_oracle(wrong_ds, fixture_datasets, "bilinear")) == 1
    assert compare_to_oracle([], fixture_datasets, "bilinear") != []


def test_wrong_row_count_fails_the_rep():
    from perfbench.run import Runner
    from perfbench.spans import Tracer

    class Short:
        def rep(self):
            return 9

        def rows(self, result):
            return result

        def cleanup(self):
            pass

    runner = Runner(Short(), Tracer("t", enabled=False), expected=10)
    assert runner.rep() is None
    assert (runner.attempted, runner.failed) == (1, 1)


def test_fails_without_the_library(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(str(tmp_path), SPEC["workloads"][0]["name"], 0)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
