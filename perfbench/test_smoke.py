"""Smoke test of the benchmark at a tiny size (2×2 city, 5k pages,
3 queries). Run from the repository root:

    python3 -m pytest perfbench/test_smoke.py -q

Checks that every metric BENCHMARK.json names is printed with its
unit, and that a deliberately dropped point makes fail_ratio > 0.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import geo, run  # noqa: E402

CITY = {"kind": "geo", "nx": 2, "ny": 2, "grid": 3, "pages": 5000,
        "hot_share": 0.6, "sample": 200}
QUERIES = {"kind": "queries", "scale": 0.02,
           "queries": ["q01_pricing_summary", "d07_minhash_lsh_pairs", "geo_blocks_oracle"]}


@pytest.fixture(scope="module")
def bench_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


@pytest.fixture(scope="module")
def work_dir(tmp_path_factory):
    if os.getcwd() != ROOT:
        pytest.skip("run from the repository root")
    return str(tmp_path_factory.mktemp("perfbench"))


def _names_units(metrics: dict) -> dict:
    return {k: v["unit"] for k, v in metrics.items()}


def test_city_end_to_end_and_layers(bench_json, work_dir):
    e2e = {m["name"]: m["unit"] for m in bench_json["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in bench_json["per_layer"]}
    res = run.run("city_dense", 3, 1, True, work_dir, spec=CITY)
    assert res["correct"], res["report"]
    assert _names_units(res["metrics"]) == layers
    m = res["metrics"]
    # (grid+1)² blocks per admin unit; the last unit has no streets
    assert m["kernels.blocks.rows_out"]["value"] == 3 * 16 + 1
    assert m["ops.spatial_join.candidates"]["value"] >= 5000
    assert m["pipeline.compute_k.task_s"]["value"] > 0
    res = run.run("city_dense", 3, 1, False, work_dir, spec=CITY)
    assert res["correct"], res["report"]
    assert _names_units(res["metrics"]) == e2e
    assert all(v["value"] > 0 for v in res["metrics"].values())


def test_query_mix_end_to_end(bench_json, work_dir):
    e2e = {m["name"]: m["unit"] for m in bench_json["end_to_end"]}
    res = run.run("query_mix", 4, 1, False, work_dir, spec=QUERIES)
    assert res["correct"], res["report"]
    assert _names_units(res["metrics"]) == e2e
    # per query: the call and its collect, then the oracle check
    assert res["attempted"] == 3 * 3


def test_dropped_point_is_a_failure(work_dir, monkeypatch):
    real = geo.assign_points_to_polygons

    def lossy(points, *args, **kwargs):
        out = real(points, *args, **kwargs)
        first = out.select("url").orderBy("url").first()["url"]
        return out.where(out["url"] != first)

    monkeypatch.setattr(geo, "assign_points_to_polygons", lossy)
    res = run.run("city_dense", 3, 1, False, work_dir, spec=CITY)
    assert res["failed"] > 0
    assert not res["correct"]
    assert any("pip.every_point_assigned" in r for r in res["report"])
    ratio = [r for r in res["report"] if r.startswith("fail_ratio")][0]
    assert float(ratio.split()[1]) > 0
