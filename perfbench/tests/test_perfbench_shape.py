"""Output shape, BENCHMARK.json agreement and the span arithmetic."""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

import datagen
import metrics
from spans import Span, Tracer, union_length

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)

END_TO_END = ["setup_s", "store_space_amplification"]
REPORTED = [
    "cpu_s_per_op", "throughput_ops_s", "latency_p50_s", "latency_p90_s", "read_latency_p50_s",
    "write_latency_p50_s", "peak_rss_mb", "store_write_amplification",
]
API = [
    "correlate", "correlation_matrix", "distribution", "anova", "acf", "similar",
    "index_probe", "basket", "dedup", "index_append", "index_delete",
    "index_compact", "index_recover", "scd2_merge", "scd2_snapshot",
    "scd2_recover_store",
]
PER_LAYER = [
    "session.start_s", "io.register_s", "setup.warmup_s", "setup.store_build_s",
    "http_api.requests", "http_api.errors", "http_api.self_s", "http_api.response_bytes",
    "api.calls", "api.self_s", "api.spark_s",
    *[f"api.{m}.p50_s" for m in API],
    "spark.jobs", "spark.stages", "spark.stages_skipped", "spark.tasks",
    "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s", "spark.input_bytes",
    "spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.spill_bytes",
    "spark.stage_wait_s", "spark.core_busy_ratio",
    "storeio.bytes_written", "storeio.files_written", "storeio.disk_bytes",
    "storeio.live_bytes", "storeio.bytes_reclaimed",
    "ordering.pinned_bytes_peak", "ordering.pinned_bytes_end",
    "trace.overhead_ratio", "trace.path_gap_ratio",
]
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


@pytest.fixture(scope="module")
def bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_are_pinned():
    assert list(metrics.END_TO_END) == END_TO_END
    assert list(metrics.PER_LAYER) == PER_LAYER
    assert list(metrics.REPORTED) == REPORTED
    assert len(metrics.REGISTRY_LAYER) == 2 + 18 + 3


def test_registry_layer_names_follow_the_registry():
    import batch

    assert list(metrics.REGISTRY_KEYS) == batch.bench_keys()


def test_benchmark_json_matches_the_command(bench):
    assert set(bench) == {"command", "paths", "run_seconds", "workloads",
                          "end_to_end", "per_layer"}
    assert bench["command"] == ["python3", "perfbench/run.py"]
    assert bench["paths"] == ["perfbench"]
    assert [m["name"] for m in bench["end_to_end"]] == END_TO_END
    assert [m["name"] for m in bench["per_layer"]] == PER_LAYER
    for m in bench["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert m["unit"] == metrics.END_TO_END[m["name"]]
        assert m["better"] in ("higher", "lower") and 0 < m["bound"] <= 0.25
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert (setup["unit"], setup["better"]) == ("s", "lower")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])
    for m in bench["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
        assert m["unit"] == metrics.PER_LAYER[m["name"]]
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert NAME.match(m["name"]) and UNIT.match(m["unit"])
    names = [w["name"] for w in bench["workloads"]]
    assert names == ["serve_read_mix", "store_maintenance"]
    assert all(set(w) == {"name", "why"} and len(w["why"]) <= 200 for w in bench["workloads"])
    assert isinstance(bench["run_seconds"], int) and 1 <= bench["run_seconds"] <= 60


def test_union_length_merges_and_clips():
    assert union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert union_length([(0, 2), (1, 3)], 1.5, 2.5) == 1
    assert union_length([], 0, 1) == 0


def test_rollup_tiles_each_op():
    tracer = Tracer(spark=None, enabled=False)
    tracer.spans = [
        Span(1, "op", 1, None, 0.0, 10.0, {"kind": "correlate", "status": 200, "bytes": 7}),
        Span(2, "api.correlate", 1, 1, 1.0, 9.0),
        Span(3, "spark.job", 1, 2, 2.0, 5.0, _job()),
        Span(4, "spark.job", 1, 2, 4.0, 6.0, _job()),
    ]
    out = metrics.layer_rollup(tracer, wall_s=10.0, cores=4)
    assert out["http_api.self_s"] == 2.0
    assert out["api.spark_s"] == 4.0 and out["api.self_s"] == 4.0
    assert out["api.correlate.p50_s"] == 8.0
    assert out["spark.jobs"] == 2 and out["spark.tasks"] == 6
    assert out["trace.path_gap_ratio"] == 0.0


def _job() -> dict:
    return {"stages": 1, "stages_skipped": 0, "stage_wait_s": 0.1, "tasks": 3,
            "executor_run_ms": 100, "executor_cpu_ns": 10**8, "gc_ms": 0,
            "input_bytes": 10, "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
            "spill_bytes": 0}


def test_datagen_is_a_function_of_the_seed():
    a, b, c = datagen.tables(3, 0.001), datagen.tables(3, 0.001), datagen.tables(4, 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["lineitem"].num_rows == 6000 and a["embeddings"].num_rows == 500


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "serve_read_mix",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
