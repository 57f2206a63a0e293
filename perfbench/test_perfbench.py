"""Self-tests of the benchmark harness (not of graphiti_spark).

    python -m pytest perfbench -q

Tiny-size smoke runs of each workload, traced, assert that every metric
name is emitted with its unit; planted faults must raise error_rate; the
benchmark must refuse to run without the program. Takes a few minutes:
each workload builds a small graph on a local Spark session.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

import run  # noqa: E402
from tracing import Tracer, read_event_log  # noqa: E402
from workloads import (END_TO_END, PER_LAYER, TINY, WORKLOADS,  # noqa: E402
                       Context, per_layer_metrics)


# One per-layer metric of each layer a workload calls: it must be nonzero
# in a traced run. Layers a workload never calls report 0.
_BUILD_LAYERS = ("episodes.assemble_s", "extract.combined_s",
                 "dedup.canonicalize_s", "versioning.apply_s",
                 "extract.tasks", "session.warmup_s")
LAYERS_RUN = {
    "bulk_build": _BUILD_LAYERS,
    "served_search": _BUILD_LAYERS + (
        "api.add_bulk_call_s", "api.jobs_per_batch", "communities.build_s",
        "serving.load_s", "serving.edge.p50_ms", "serving.scoped.p50_ms"),
}


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_matches_harness():
    doc = _benchmark_json()
    assert set(doc) == {"command", "paths", "run_seconds", "workloads",
                        "end_to_end", "per_layer"}
    assert [w["name"] for w in doc["workloads"]] == list(run.WORKLOAD_NAMES)
    assert set(WORKLOADS) == set(run.WORKLOAD_NAMES)
    assert {m["name"]: (m["unit"], m["better"])
            for m in doc["end_to_end"]} == END_TO_END
    assert {m["name"]: (m["unit"], m["better"])
            for m in doc["per_layer"]} == PER_LAYER
    bounds = {m["name"]: m["bound"] for m in doc["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("perfbench_work"))
    run.configure_env(work, trace=True)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    session = run.Session()
    yield session.spark, work
    session.release()


def _run(spark_work, workload: str, trace: bool, faults=frozenset()):
    spark, work = spark_work
    tracer = Tracer(f"{workload}-test-{len(faults)}-{int(trace)}", trace,
                    spark)
    ctx = Context(spark=spark, seed=3, seconds=0, tracer=tracer, work=work,
                  t_start=time.perf_counter(), sizes=TINY, faults=faults,
                  release_spark=lambda: None)
    return WORKLOADS[workload](ctx), tracer


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_smoke_emits_every_metric(spark, workload):
    res, tracer = _run(spark, workload, trace=True)
    assert res.failed == 0 and res.error_rate == 0.0
    assert res.attempted >= 2
    e2e = {**res.end_to_end, "setup_s": res.setup_s}
    assert set(e2e) == set(END_TO_END)
    assert all(v > 0 for v in e2e.values()), e2e
    jobs = read_event_log(os.path.join(spark[1], "events"))
    layers = per_layer_metrics(tracer, jobs, res)
    assert set(layers) == set(PER_LAYER)
    assert all(isinstance(v, (int, float)) for v in layers.values())
    # every layer the workload runs did measured work in the traced run
    for name in LAYERS_RUN[workload]:
        assert layers[name] > 0, name
    for named in res.report.values():
        assert {"value", "unit", "n"} <= set(named)


@pytest.mark.parametrize("workload,fault", [("bulk_build", "split_entity"),
                                            ("served_search",
                                             "reorder_result")])
def test_planted_fault_raises_error_rate(spark, workload, fault):
    res, _ = _run(spark, workload, trace=False, faults=frozenset({fault}))
    assert res.failed >= 1
    assert res.error_rate > 0.0


def test_refuses_to_run_without_the_program(tmp_path):
    """A directory holding only BENCHMARK.json and the benchmark: exit
    nonzero, print no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "bulk_build",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert out.returncode != 0
    assert out.stdout.strip() == ""
