#!/usr/bin/env python
"""SCD2 merge measurement harness (round 12 — the scale claim behind
q_scd2_merge, measured instead of asserted).

Builds a DETERMINISTIC synthetic CDC event stream (n rows: user_id
drawn from a fixed modulus so history depth is uniform, state cycling
through 5 values, strictly increasing per-user timestamps — no RNG
state, same args → same events), persists the bucketed SCD2 dimension
from all but a staged late batch, then measures:

1. the MERGE path: `scd2_merge` of the staged batch — the
   bucket-pruned rewrite published by one pointer swap; records wall
   time and the touched/total bucket counts the scale story rests on;
2. the REBUILD baseline: `scd2_intervals` over ALL events written
   fresh — what a naive pipeline pays per day;
3. equivalence: the merged store must row-equal the full rebuild
   (the same claim the oracled key pins at sf0.01, re-checked at this
   grain);
4. append vs fold: the staged batch split into three successive time
   slices, merged through ``CorrelationAPI.scd2_merge`` into a
   2-bucket store, so the first two merges append delta objects and
   the third folds them into the buckets; records each merge's wall
   time and the store's on-disk/live bytes right after it (before the
   recover that reclaims what it retired).

The staged batch is the final-timestamp slice of a sparse user cohort,
so the touched-bucket count is bounded by the cohort's hash spread —
at a growing grain the REBUILD grows linearly while the MERGE tracks
the affected buckets' rows only.

Prints ONE JSON line; SCALING.md quotes the recorded numbers.

Usage: python tools/scd2_bench.py [n_events] [out_dir]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from correlationapi_spark.api import CorrelationAPI  # noqa: E402
from correlationapi_spark.operators.analytics import (  # noqa: E402
    scd2_intervals,
    scd2_merge,
    scd2_merge_into,
    scd2_recover,
)
from correlationapi_spark.session import get_spark  # noqa: E402
from correlationapi_spark.storeio import (  # noqa: E402
    StoreIO,
    _live_names,
    pointer_require,
)

N_USERS_MOD = 20_000
STATES = 5
# the staged batch: late events of a SPARSE user cohort (a handful of
# entities, the CDC-realistic shape) — sparse enough that its hash
# spread leaves most buckets untouched, which is the point being
# measured
COHORT_MOD = 4001


def synthetic_events(spark, n: int):
    """(user_id, event_type, ts, event_id): uniform per-user history
    depth, strictly increasing per-user event times, deterministic."""
    return (
        spark.range(n)
        .select(
            F.col("id").alias("event_id"),
            (F.col("id") % N_USERS_MOD).alias("user_id"),
            # state depends on the per-user SEQUENCE number, not the raw
            # id (id % STATES is constant per user when N_USERS_MOD is a
            # multiple of STATES — that collapses every history to one
            # interval and makes the fold trivial)
            F.concat(
                F.lit("state_"),
                (
                    (
                        (F.col("id") / N_USERS_MOD).cast("long")
                        + F.col("id") % N_USERS_MOD
                    )
                    % STATES
                ).cast("string"),
            ).alias("event_type"),
            # per-user sequence number drives the timestamp so each
            # user's observations are strictly ordered and the late
            # cohort's final slice is genuinely newest-per-user
            F.timestamp_seconds(
                F.lit(1_700_000_000)
                + (F.col("id") / N_USERS_MOD).cast("long") * 3600
                + (F.col("id") % N_USERS_MOD)  # jitter, < 1h step
            ).alias("ts"),
        )
    )


def store_bytes(spark, path: str) -> tuple[int, int]:
    """(on-disk bytes, bytes of the objects the live pointer names)."""
    live_names = _live_names(pointer_require(StoreIO(path, spark), path))
    disk = live = 0
    for root, _, files in os.walk(path):
        size = sum(os.path.getsize(os.path.join(root, f)) for f in files)
        disk += size
        if os.path.relpath(root, path).split(os.sep)[0] in live_names:
            live += size
    return disk, live


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/scd2_bench"
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("scd2-bench")
    spark.sparkContext.setLogLevel("ERROR")

    ev = synthetic_events(spark, n).localCheckpoint(eager=True)
    max_seq = n // N_USERS_MOD  # per-user history depth
    late_cut = F.timestamp_seconds(
        F.lit(1_700_000_000) + (max_seq - 3) * 3600
    )
    delta_pred = (F.col("ts") >= late_cut) & (
        F.col("user_id") % COHORT_MOD == 0
    )
    n_delta = ev.filter(delta_pred).count()

    # 1. merge path (includes building + writing the base store — the
    #    store build is timed separately so the MERGE number is the
    #    incremental cost a daily pipeline actually pays)
    store = os.path.join(out_dir, "store")
    t0 = time.time()
    out, stats = scd2_merge(spark, ev, delta_pred, _store_path=store)
    merged_rows = out.count()
    t_total = time.time() - t0

    # the INCREMENTAL cost a daily pipeline pays: build the base store
    # once (scd2_merge with an empty staged batch), then time only
    # scd2_merge_into of the staged batch
    store2 = os.path.join(out_dir, "store2")
    base = ev.filter(~F.coalesce(delta_pred, F.lit(False)))
    t0 = time.time()
    scd2_merge(spark, base, F.lit(False), n_buckets=32, _store_path=store2)
    t_base_build = time.time() - t0

    # the merge's work (affected-bucket read, fold, stage write,
    # pointer publish) is EAGER inside the call; the returned frame
    # is a lazy read-back of the whole store, so counting it inside the
    # window would bill a full-store scan to the merge
    t0 = time.time()
    out2, stats2 = scd2_merge_into(spark, store2, ev.filter(delta_pred))
    t_merge_only = time.time() - t0
    out2.count()

    # 1b. the same incremental merge against a FINER-bucketed store:
    # each touched bucket holds 1/n_buckets of the store, so at a fixed
    # 32 buckets the merge's read+rewrite grows with the store even
    # when the delta is tiny — bucket COUNT is the scale knob (more
    # entities → more buckets, keeping affected rows ≈ the delta's
    # users × their history)
    fine = 512
    store3 = os.path.join(out_dir, "store3")
    scd2_merge(spark, base, F.lit(False), n_buckets=fine, _store_path=store3)
    t0 = time.time()
    out3, stats3 = scd2_merge_into(spark, store3, ev.filter(delta_pred))
    t_merge_fine = time.time() - t0

    # 2. rebuild baseline: the full-history fold written fresh
    rebuild_path = os.path.join(out_dir, "rebuild")
    t0 = time.time()
    full = scd2_intervals(
        ev.select(
            "user_id",
            F.col("event_type").alias("state"),
            F.col("ts").alias("valid_from"),
            "event_id",
        )
    )
    full.write.mode("overwrite").parquet(rebuild_path)
    t_rebuild = time.time() - t0

    # 4. append vs fold: three successive late slices (the last one
    #    open-ended, so together they are the staged batch) into a
    #    2-bucket store: append, append, fold
    store4 = os.path.join(out_dir, "store4")
    scd2_merge(spark, base, F.lit(False), n_buckets=2, _store_path=store4)
    api = CorrelationAPI(spark)
    cycles = []
    for k in range(3):
        lo = F.timestamp_seconds(
            F.lit(1_700_000_000) + (max_seq - 3 + k) * 3600
        )
        batch = ev.filter(delta_pred & (F.col("ts") >= lo))
        if k < 2:
            batch = batch.filter(
                F.col("ts") < F.timestamp_seconds(
                    F.lit(1_700_000_000) + (max_seq - 2 + k) * 3600
                )
            )
        api.register_dataset("scd2_bench_batch", batch)
        t0 = time.time()
        res = api.scd2_merge(
            "scd2_bench_batch", "user_id", "event_type", "ts", "event_id",
            store4,
        )
        sec = time.time() - t0
        disk, live = store_bytes(spark, store4)
        cycles.append({
            "merge_sec": round(sec, 2),
            "touched": res["touched"],
            "deltas_after": len(
                pointer_require(StoreIO(store4, spark), store4)["deltas"]
            ),
            "space_amplification": round(disk / live, 4),
        })
        scd2_recover(store4, spark)

    # 3. equivalence at this grain (row sets, not just counts)
    from correlationapi_spark.operators.analytics import _scd2_read

    stored = _scd2_read(
        spark, store, pointer_require(StoreIO(store, spark), store)
    ).select(
        "user_id", "state", "valid_from", "valid_to", "is_current"
    )
    rebuilt = spark.read.parquet(rebuild_path).select(
        "user_id", "state", "valid_from", "valid_to", "is_current"
    )
    diff = (
        stored.exceptAll(rebuilt).count() + rebuilt.exceptAll(stored).count()
    )
    stored2 = _scd2_read(
        spark, store2, pointer_require(StoreIO(store2, spark), store2)
    ).select(
        "user_id", "state", "valid_from", "valid_to", "is_current"
    )
    diff2 = (
        stored2.exceptAll(rebuilt).count()
        + rebuilt.exceptAll(stored2).count()
    )
    stored4 = _scd2_read(
        spark, store4, pointer_require(StoreIO(store4, spark), store4)
    ).select(
        "user_id", "state", "valid_from", "valid_to", "is_current"
    )
    diff4 = (
        stored4.exceptAll(rebuilt).count()
        + rebuilt.exceptAll(stored4).count()
    )

    print(
        json.dumps(
            {
                "n_events": n,
                "n_users": min(n, N_USERS_MOD),
                "n_delta_rows": n_delta,
                "dimension_rows": merged_rows,
                "buckets_touched": stats["touched"],
                "buckets_total": stats["total"],
                "merge_incl_base_build_sec": round(t_total, 2),
                "base_build_sec": round(t_base_build, 2),
                "merge_only_sec": round(t_merge_only, 2),
                "merge_fine_buckets": fine,
                "merge_fine_touched": stats3["touched"],
                "merge_fine_sec": round(t_merge_fine, 2),
                "full_rebuild_sec": round(t_rebuild, 2),
                "merge_vs_rebuild": round(
                    t_merge_only / max(t_rebuild, 1e-9), 2
                ),
                "rows_diff_vs_rebuild": diff,
                "merge_into_rows_diff_vs_rebuild": diff2,
                "append_fold_cycles": cycles,
                "append_fold_rows_diff_vs_rebuild": diff4,
            }
        )
    )


if __name__ == "__main__":
    main()
