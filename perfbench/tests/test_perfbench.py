"""The benchmark's own tests: metric names, seeded generators, a small
smoke job of every workload through its checks, and the traced path.

    python -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import run  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")
SMOKE_SCALE = 0.1


@pytest.fixture(scope="module")
def spark():
    from datamatcher_spark.session import get_spark

    return get_spark("perfbench-tests", master="local[4]", shuffle_partitions=8)


def test_metric_names_match_benchmark_json():
    from perfbench.workloads import WORKLOADS

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == run.END_TO_END
    assert layers == run.PER_LAYER
    for name in [*e2e, *layers, *(w["name"] for w in spec["workloads"])]:
        assert NAME.fullmatch(name) and len(name) <= 64, name
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)


@pytest.mark.parametrize("name", ["er_planted", "er_skewed", "enrich_fuzzy"])
def test_generators_are_seeded(spark, tmp_path, name):
    from perfbench.workloads import WORKLOADS

    def build(seed: int, sub: str) -> str:
        wl = WORKLOADS[name](spark, seed, tmp_path / sub, scale=SMOKE_SCALE)
        wl.generate()
        return wl.fingerprint()

    first = build(5, "a")
    assert build(5, "b") == first
    assert build(6, "c") != first


def test_er_planted_inputs_equal_the_synth_generator(spark, tmp_path):
    """The pages built in the driver are the ones
    ``synth.generate_pages_with_truth`` builds in Spark, column for column."""
    from perfbench.workloads import ErPlanted, digest

    wl = ErPlanted(spark, 4, tmp_path / "inputs", scale=SMOKE_SCALE)
    wl.generate()
    got, want = spark.read.parquet(wl.pages_path), wl.frames()[0]
    assert got.schema.simpleString() == want.schema.simpleString()
    assert digest(got, got.columns) == digest(want, want.columns)
    assert wl.truth == dict(want.select("url", "cluster_id").collect())


@pytest.mark.parametrize("name", ["er_planted", "er_skewed", "enrich_fuzzy"])
def test_smoke_job_passes_checks_and_traces(spark, tmp_path, name):
    from perfbench import trace
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[name](spark, 3, tmp_path / "inputs", scale=SMOKE_SCALE)
    wl.generate()
    wl.generate_truth()
    tracer, census = trace.Tracer(), trace.CensusLog()
    with trace.instrumented(tracer, census):
        with tracer.span("job"):
            res = wl.run(tmp_path / "job")
    out = wl.check(res)
    assert out["f1"] >= 0.99
    layers = wl.layers(res, tracer, {})
    assert set(layers) <= set(run.PER_LAYER)
    assert all(v == v for v in layers.values())  # no NaN
    if name == "enrich_fuzzy":
        assert layers["enrich.fuzzy_probes"] > 0
        assert layers["enrich.fuzzy_hit_ratio"] > 0.4  # typos found, misses not
    else:
        assert layers["scoring.pairs_scored"] > 0


def test_bare_directory_fails_without_a_result(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "er_planted",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=170,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
