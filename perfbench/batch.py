"""batch_registry: sequential passes over the bench-flagged registry keys.

One client calls ``registry.load_registry()[key].fn(spark, sf_dir)`` and
drains the DataFrame to the noop sink, key after key; each pass visits
every key once in a seeded order, and the window always ends on a whole
pass so every run measures the same key mix. The input tables carry one
parquet row group per core, so scans can run in parallel.

The warm-up pass doubles as the correctness check: every oracled key's
rows must match its DuckDB ``oracle`` SQL on the same files, and a
rows-only key must return rows.
"""

from __future__ import annotations

import random
import time

from common import Op
from workload import Workload

# bench-flagged keys left out, and why
EXCLUDED = {
    "q_cpu_fold": "synthetic CPU exhibit; tens of seconds per call would swamp a pass",
    "q_sim_index_append": "store key; store_maintenance drives the index",
    "q_sim_topk_pq": "store key; store_maintenance drives the index",
    "q_scd2_merge": "store key; store_maintenance drives the SCD2 store",
}

# module family of a key's fn, for the operators/llm/streaming roll-ups
FAMILIES = ("operators", "llm", "streaming")


def bench_keys() -> list[str]:
    from correlationapi_spark.registry import load_registry

    return sorted(k for k, s in load_registry().items()
                  if s.bench and k not in EXCLUDED)


def family(spec) -> str:
    parts = spec.fn.__module__.split(".")
    return parts[1] if len(parts) > 1 and parts[1] in FAMILIES else "other"


class BatchRegistry(Workload):
    name = "batch_registry"

    def __init__(self, ctx):
        super().__init__(ctx)
        self.row_groups = ctx.cpus

    def setup(self, rep: int) -> None:
        """Load the registry and register the fixture views."""
        from correlationapi_spark.io import load_tables
        from correlationapi_spark.registry import load_registry

        self.registry = load_registry()
        self.keys = bench_keys()
        self.sf_dir = self.data_dir
        with self.phase("io.register_s"):
            load_tables(self.ctx.spark, self.sf_dir)

    def warmup(self) -> None:
        """Run every key once, collected to the driver, and compare it
        with the DuckDB oracle (the comparison is part of the warm-up
        time)."""
        from correlationapi_spark.testing import compare_frames, duckdb_connect

        con = duckdb_connect(self.sf_dir)
        try:
            for key in self.keys:
                spec = self.registry[key]
                try:
                    pdf = spec.fn(self.ctx.spark, self.sf_dir).toPandas()
                except Exception as e:  # noqa: BLE001 - reported as a failed check
                    self.check(False, f"{key}: {type(e).__name__}: {e}")
                    continue
                if spec.oracle is None:
                    self.check(len(pdf) > 0, f"{key}: rows-only key returned 0 rows")
                    continue
                res = compare_frames(key, pdf, con.execute(spec.oracle).df())
                self.check(res.ok, f"{key}: oracle mismatch: {res.detail}")
        finally:
            con.close()

    def run_key(self, key: str) -> Op:
        tracer, spark = self.ctx.tracer, self.ctx.spark
        spec = self.registry[key]
        op_id = self.next_op()
        error = None
        with tracer.span("op", op=op_id, kind=key, family=family(spec)):
            t0 = time.time()
            try:
                with tracer.span("registry.plan", key=key), tracer.spark_group():
                    df = spec.fn(spark, self.sf_dir)
                with tracer.span("registry.exec", key=key), tracer.spark_group():
                    df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # noqa: BLE001 - counted as a failed op
                error = f"{key}: {type(e).__name__}: {e}"
            t1 = time.time()
        self.after_op()
        return Op(key, t0, t1, error is None, True, op_id, error)

    def window(self, seconds: float) -> list[Op]:
        rng = random.Random(self.ctx.seed)
        ops: list[Op] = []
        start = time.time()
        while not ops or time.time() - start < seconds:
            order = list(self.keys)
            rng.shuffle(order)
            ops.extend(self.run_key(k) for k in order)
        return ops
