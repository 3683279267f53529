"""Metric names, units and the per-layer roll-up of a traced window.

``END_TO_END`` and ``PER_LAYER`` are the names the final JSON line
carries (``--trace 0`` and ``--trace 1`` respectively); BENCHMARK.json
lists the same names, so each has a value on every workload it lists.
Only set-up time (which every benchmark gates) and space amplification
are gated: on the 4-vCPU virtual machine the benchmark was tuned on,
the timing metrics in ``REPORTED``, CPU time per op included, spread by
10-45% of their median across ten seeds, more than a bound can absorb.
They and the store-only metrics are printed in the report line.
``REGISTRY_LAYER`` are the per-layer metrics of batch_registry, also
report-line only.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from spans import Tracer, union_length

END_TO_END = {
    "setup_s": "s",
    "store_space_amplification": "ratio",
}

REPORTED = {
    "cpu_s_per_op": "s",
    "throughput_ops_s": "1/s",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
    "read_latency_p50_s": "s",
    "write_latency_p50_s": "s",
    "peak_rss_mb": "MB",
    "store_write_amplification": "ratio",
}

API_METHODS = (
    "correlate", "correlation_matrix", "distribution", "anova", "acf",
    "similar", "index_probe", "basket", "dedup", "index_append",
    "index_delete", "index_compact", "index_recover", "scd2_merge",
    "scd2_snapshot", "scd2_recover_store",
)

REGISTRY_KEYS = (
    "q_agg_corr", "q_agg_group", "q_attribution_multi", "q_corr_matrix",
    "q_corr_matrix_gram", "q_dedup_exact", "q_dedup_keep_best",
    "q_dedup_ngram", "q_flagship", "q_join_multi", "q_pack_bpeish",
    "q_sim_topk", "q_stream_tumbling", "q_text_tfidf", "q_tpch_q1",
    "q_tpch_q3", "q_tpch_q8", "q_win_frame_rows",
)

_SPARK = {
    "spark.jobs": "count", "spark.stages": "count",
    "spark.stages_skipped": "count", "spark.tasks": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.gc_s": "s", "spark.input_bytes": "B",
    "spark.shuffle_read_bytes": "B", "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B", "spark.stage_wait_s": "s",
    "spark.core_busy_ratio": "ratio",
}

REGISTRY_LAYER = {
    "registry.plan_s": "s",
    "registry.exec_s": "s",
    **{f"registry.{k}.s": "s" for k in REGISTRY_KEYS},
    "operators.s": "s",
    "llm.s": "s",
    "streaming.s": "s",
}

PER_LAYER = {
    "session.start_s": "s",
    "io.register_s": "s",
    "setup.warmup_s": "s",
    "setup.store_build_s": "s",
    "http_api.requests": "count",
    "http_api.errors": "count",
    "http_api.self_s": "s",
    "http_api.response_bytes": "B",
    "api.calls": "count",
    "api.self_s": "s",
    "api.spark_s": "s",
    **{f"api.{m}.p50_s": "s" for m in API_METHODS},
    **_SPARK,
    "storeio.bytes_written": "B",
    "storeio.files_written": "count",
    "storeio.disk_bytes": "B",
    "storeio.live_bytes": "B",
    "storeio.bytes_reclaimed": "B",
    "ordering.pinned_bytes_peak": "B",
    "ordering.pinned_bytes_end": "B",
    "trace.overhead_ratio": "ratio",
    "trace.path_gap_ratio": "ratio",
}


def layer_rollup(tracer: Tracer, wall_s: float, cores: int) -> dict[str, float]:
    """Per-layer sums over the spans of one traced window.

    Self time of a span is its duration minus the union of its
    children's intervals. An op's blocking path is its client span,
    the api or registry spans beneath it and the union of the Spark
    jobs beneath those. ``trace.path_gap_ratio`` is |sum of the path
    self times - sum of op wall times| / sum of op wall times over all
    ops: 0 when the spans tile each op exactly, above 0 when time is
    unattributed or counted twice.
    """
    out: dict[str, float] = {name: 0.0 for name in {**PER_LAYER, **REGISTRY_LAYER}}
    kids = tracer.children()
    per_method: dict[str, list[float]] = defaultdict(list)
    per_key: dict[str, list[float]] = defaultdict(list)
    path_sum = wall_sum = 0.0

    def jobs_under(span) -> list:
        found, stack = [], list(kids.get(span.id, []))
        while stack:
            s = stack.pop()
            if s.name == "spark.job":
                found.append(s)
            stack.extend(kids.get(s.id, []))
        return found

    for op in (s for s in tracer.spans if s.name == "op"):
        wall_sum += op.dur
        jobs = jobs_under(op)
        spark_s = union_length([(j.start, j.end) for j in jobs], op.start, op.end)
        path = spark_s
        for child in kids.get(op.id, []):
            if child.name.startswith("api."):
                out["api.calls"] += 1
                own = union_length([(j.start, j.end) for j in jobs_under(child)],
                                   child.start, child.end)
                out["api.self_s"] += child.dur - own
                out["api.spark_s"] += own
                path += child.dur - own
                per_method[child.name[4:]].append(child.dur)
            elif child.name.startswith("registry."):
                out[f"{child.name}_s"] += child.dur
                own = union_length([(j.start, j.end) for j in jobs_under(child)],
                                   child.start, child.end)
                path += child.dur - own
        covered = union_length([(c.start, c.end) for c in kids.get(op.id, [])],
                               op.start, op.end)
        path += op.dur - covered
        path_sum += path
        if "status" in op.attrs:
            out["http_api.requests"] += 1
            out["http_api.errors"] += op.attrs["status"] != 200
            out["http_api.response_bytes"] += op.attrs["bytes"]
            out["http_api.self_s"] += op.dur - covered
        if "family" in op.attrs:
            per_key[op.attrs["kind"]].append(op.dur)
            if f"{op.attrs['family']}.s" in out:
                out[f"{op.attrs['family']}.s"] += op.dur

    for job in (s for s in tracer.spans if s.name == "spark.job"):
        a = job.attrs
        out["spark.jobs"] += 1
        out["spark.stages"] += a["stages"]
        out["spark.stages_skipped"] += a["stages_skipped"]
        out["spark.tasks"] += a["tasks"]
        out["spark.executor_run_s"] += a["executor_run_ms"] / 1e3
        out["spark.executor_cpu_s"] += a["executor_cpu_ns"] / 1e9
        out["spark.gc_s"] += a["gc_ms"] / 1e3
        out["spark.input_bytes"] += a["input_bytes"]
        out["spark.shuffle_read_bytes"] += a["shuffle_read_bytes"]
        out["spark.shuffle_write_bytes"] += a["shuffle_write_bytes"]
        out["spark.spill_bytes"] += a["spill_bytes"]
        out["spark.stage_wait_s"] += a["stage_wait_s"]
    out["spark.core_busy_ratio"] = out["spark.executor_run_s"] / (wall_s * cores)
    for m, durs in per_method.items():
        if f"api.{m}.p50_s" in out:
            out[f"api.{m}.p50_s"] = statistics.median(durs)
    for k, durs in per_key.items():
        if f"registry.{k}.s" in out:
            out[f"registry.{k}.s"] = statistics.median(durs)
    out["trace.path_gap_ratio"] = abs(path_sum - wall_sum) / wall_sum if wall_sum else 0.0
    return out


def overhead_ratio(untraced: list, traced: list) -> float:
    """Traced over untraced op time, matched by op kind: the sum of the
    per-kind median durations over the kinds both windows ran."""
    def medians(ops):
        by: dict[str, list[float]] = defaultdict(list)
        for o in ops:
            by[o.kind].append(o.dur)
        return {k: statistics.median(v) for k, v in by.items()}

    mu, mt = medians(untraced), medians(traced)
    common = mu.keys() & mt.keys()
    den = sum(mu[k] for k in common)
    return sum(mt[k] for k in common) / den if den else 0.0
