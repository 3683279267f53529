"""End-to-end smoke: each gated workload at sf0.001 for one second.

Most of the ~1 minute per run is JVM start and the cold set-up. A run
must leave no process behind: its driver JVM and the JVM's Python
workers inherit the run's work directory in ``SPARK_LOCAL_DIRS``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

import pytest

import metrics

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def left_behind(work: str) -> list[int]:
    """Live processes whose environment names ``work``."""
    found = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/environ", "rb") as f:
                env = f.read()
            with open(f"/proc/{name}/stat") as f:
                zombie = f.read().rsplit(")", 1)[1].split()[0] == "Z"
        except OSError:
            continue
        if work.encode() in env and not zombie:
            found.append(int(name))
    return found


def run(workload: str, trace: int) -> tuple[int, list[dict]]:
    # output to a file, not a pipe: a pipe's reader would also wait for
    # every process that inherited it, and so hide one left running
    with tempfile.TemporaryFile("w+") as out:
        proc = subprocess.Popen(
            [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
             "--seconds", "1", "--trace", str(trace), "--sf", "0.001"],
            cwd=ROOT, stdout=out, stderr=subprocess.DEVNULL,
        )
        proc.wait(timeout=180)
        work = os.path.join(".perfbench_work", f"{workload}-{proc.pid}")
        assert left_behind(work) == []
        out.seek(0)
        lines = [json.loads(x) for x in out if x.startswith("{")]
    return proc.returncode, lines


@pytest.mark.parametrize("workload,trace", [("serve_read_mix", 0), ("store_maintenance", 1)])
def test_smoke(workload, trace):
    rc, lines = run(workload, trace)
    report, result = lines[-2]["report"], lines[-1]
    assert rc == 0, report["failures"]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    names = metrics.PER_LAYER if trace else metrics.END_TO_END
    assert list(result["metrics"]) == list(names)
    for name, m in result["metrics"].items():
        assert m["unit"] == names[name] and isinstance(m["value"], (int, float))
    assert report["metrics"]["error_ratio"]["value"] == 0
    assert set(metrics.END_TO_END) | {"throughput_ops_s", "latency_p50_s", "latency_p90_s",
                                      "peak_rss_mb"} <= set(report["metrics"])
    if trace:
        assert result["metrics"]["trace.path_gap_ratio"]["value"] < 0.01
        assert os.path.exists(os.path.join(ROOT, report["span_file"]))
