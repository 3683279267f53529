#!/usr/bin/env python
"""Capture the .explain("formatted") of the scd2 fold's staged write —
the frame _scd2_apply hands to _scd2_stage_publish when it folds (its
single write job). Not a registry key, so tools/capture_plans.py
cannot reach it.

Usage: python tools/scd2_plan_capture.py <out_file> [sf_dir]
Runs the declared exhibit scd2_merge over the bench's events: the base
build, then the fold of the declared %37 batch into its buckets. The
captured plan is the fold's (the last staged write); a merge into an
existing store only stages bucket writes when it folds, otherwise it
appends one delta object.
"""

from __future__ import annotations

import os
import sys

_HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _HERE)

from pyspark.sql import functions as F

from correlationapi_spark import storeio
from correlationapi_spark.io import load_tables
from correlationapi_spark.operators import analytics
from correlationapi_spark.session import get_spark


def main() -> int:
    out_file = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    spark = get_spark("scd2-plan-capture")
    spark.sparkContext.setLogLevel("ERROR")
    ev = load_tables(spark, sf_dir)["events"]
    delta_pred = (
        F.col("ts") >= F.lit("2024-01-28 00:00:00").cast("timestamp")
    ) & (F.col("user_id") % 37 == 0)
    path = analytics._scd2_store_dir()

    real = analytics._scd2_stage_publish
    captured: list = []

    def hook(spark_, io, path_, frame_with_bucket, version):
        # capture the frame THE WRITE EXECUTES — including the
        # bucket-clustering repartition _scd2_stage_publish applies
        staged = frame_with_bucket.repartition("bucket")
        plan = staged._sc._jvm.PythonSQLUtils.explainString(
            staged._jdf.queryExecution(), "formatted"
        )
        captured.append(plan)
        return real(spark_, io, path_, frame_with_bucket, version)

    analytics._scd2_stage_publish = hook
    try:
        analytics.scd2_merge(spark, ev, delta_pred, _store_path=path)
    finally:
        analytics._scd2_stage_publish = real
    with open(out_file, "w") as f:
        f.write(captured[-1])
    print(f"wrote {out_file} ({len(captured[-1])} bytes)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
