"""store_maintenance: maintenance cycles through the token-gated store
routes of the REST service.

One client runs whole cycles; a cycle is, in order:

1. ``/index/append`` of a seeded slice of held-out vectors;
2. three ``/index/probe`` reads: two appended ids and one base id;
3. ``/index/delete`` and ``/index/compact`` of the slice, so the live
   count returns to the base count and a later cycle's append re-admits
   ids the index has held before;
4. ``/scd2/merge`` of the next newer CDC batch (one day of events);
5. two ``/scd2/snapshot`` reads;
6. ``/index/recover`` and ``/scd2/recover``, which reclaim the objects
   the cycle retired.

Checks per cycle: each probed id answers with k neighbours (an id that
is not live answers none; the engine never lists a probe as its own
neighbour), the compact leaves exactly the base count live, every merge
touches at least one bucket and every snapshot row belongs to a
requested user.

Bytes written are counted by listing the store directories around each
write op. The delta bytes are the parquet bytes of the submitted rows
(the appended slice, the merged batch).
"""

from __future__ import annotations

import datetime as dt
import os
import random
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from common import Op, tree_delta, tree_files
from workload import Workload

TOKEN = "perfbench-token"
HELD_OUT = 40  # ids kept out of the base index, appended in slices
SLICE = 8
K = 5
BASE_DAYS = 16  # events before this day build the base SCD2 store
EPOCH = dt.datetime(2024, 1, 1)


def parquet_bytes(table: pa.Table) -> int:
    sink = pa.BufferOutputStream()
    pq.write_table(table, sink)
    return sink.getvalue().size


def store_space(spark, paths: list[str]) -> tuple[int, int]:
    """(on-disk bytes, live-object bytes) of persisted stores. Live
    objects are the directories the store's layout pointer references."""
    from correlationapi_spark.storeio import StoreIO, pointer_read

    disk = live = 0
    for path in paths:
        files = tree_files(path)
        disk += sum(size for size, _ in files.values())
        layout = pointer_read(StoreIO(path, spark), path) or {}
        names = set(layout.get("objects", {}).values())
        for v in layout.values():
            if isinstance(v, dict):
                names |= {x for x in v.values() if isinstance(x, str)}
        live += sum(size for rel, (size, _) in files.items()
                    if rel.split(os.sep)[0] in names)
    return disk, live


class StoreMaintenance(Workload):
    name = "store_maintenance"

    def __init__(self, ctx):
        super().__init__(ctx)
        self.space: list[float] = []
        self.reset_counters()

    def write_inputs(self) -> None:
        super().write_inputs()
        rng = random.Random(self.ctx.seed)
        emb = self.tables["embeddings"]
        ids = emb.column("vec_id").to_pylist()
        held = sorted(rng.sample(ids, HELD_OUT))
        is_held = pc.is_in(emb.column("vec_id"), value_set=pa.array(held, pa.int64()))
        pq.write_table(emb.filter(pc.invert(is_held)),
                       os.path.join(self.data_dir, "emb_base.parquet"))
        pq.write_table(emb.filter(is_held), os.path.join(self.data_dir, "held_out.parquet"))
        self.base_ids = sorted(set(ids) - set(held))
        self.base_count = len(self.base_ids)
        ev = self.tables["events"]
        epoch_us = int((EPOCH - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)
        day = pc.divide(pc.subtract(pc.cast(ev.column("ts"), pa.int64()), epoch_us),
                        86_400_000_000)
        pq.write_table(ev.filter(pc.less(day, BASE_DAYS)),
                       os.path.join(self.data_dir, "events_base.parquet"))
        cdc = ev.select(["user_id", "event_type", "ts", "event_id"])
        self.batch_days = list(range(BASE_DAYS, 30))
        for i, d in enumerate(self.batch_days):
            pq.write_table(cdc.filter(pc.equal(day, d)),
                           os.path.join(self.data_dir, f"cdc_{i}.parquet"))
        # one seeded slice of the held-out pool per cycle: ids recur
        self.slices = [sorted(rng.sample(held, SLICE)) for _ in self.batch_days]
        self.slice_bytes = [
            parquet_bytes(emb.filter(pc.is_in(emb.column("vec_id"),
                                              value_set=pa.array(s, pa.int64()))))
            for s in self.slices
        ]
        self.users = sorted(set(ev.column("user_id").to_pylist()))

    def setup(self, rep: int) -> None:
        """Register the inputs and build the base index and SCD2 store."""
        from pyspark.sql import functions as F

        from correlationapi_spark.api import CorrelationAPI
        from correlationapi_spark.operators.analytics import scd2_merge

        spark = self.ctx.spark
        api = CorrelationAPI(spark)
        with self.phase("io.register_s"):
            for name in ("emb_base", "held_out"):
                api.register_dataset(name, os.path.join(self.data_dir, f"{name}.parquet"))
        self.stores = self.stores_dir(rep)
        os.makedirs(self.stores, exist_ok=True)
        self.index = os.path.join(self.stores, "index")
        self.scd2 = os.path.join(self.stores, "scd2")
        events = spark.read.parquet(os.path.join(self.data_dir, "events_base.parquet"))
        with self.phase("setup.store_build_s"):
            api.index_build("emb_base", "vec_id", "embedding", self.index, n_cells=16)
            scd2_merge(spark, events, F.lit(False), _store_path=self.scd2)
        self.api = api

    def warmup(self) -> None:
        """One untimed cycle, so the measured cycles run on warm code
        paths; the stores keep its effects."""
        self.service = self.start_service(self.api, TOKEN)
        self.rng = random.Random(self.ctx.seed + 1)
        self.cycle_no = 0
        self.cycle([])

    def reset_counters(self) -> None:
        self.bytes_written = self.files_written = self.bytes_reclaimed = 0
        self.delta_bytes = 0

    def _op(self, ops: list[Op], kind: str, path: str, body: dict,
            read: bool = False, delta: int = 0):
        before = None if read else tree_files(self.stores)
        op, payload = self.service.request(self.next_op(), kind, "POST", path, body, read)
        if before is not None:
            d = tree_delta(before, tree_files(self.stores))
            self.bytes_written += d["bytes_written"]
            self.files_written += d["files_written"]
            self.bytes_reclaimed += d["bytes_reclaimed"]
            self.delta_bytes += delta
        self.after_op()
        ops.append(op)
        return op, payload

    @staticmethod
    def expect(op: Op, ok: bool, message: str) -> None:
        """Fail an answered op whose answer is wrong."""
        if op.ok and not ok:
            op.ok, op.error = False, message

    def index_half(self, ops: list[Op]) -> None:
        n = self.cycle_no
        sl = self.slices[n]
        self._op(ops, "index_append", "/index/append", {
            "dataset": "held_out", "id": "vec_id", "vector": "embedding",
            "path": self.index, "where": f"vec_id IN ({', '.join(map(str, sl))})"},
            delta=self.slice_bytes[n])
        for probe in self.rng.sample(sl, 2) + [self.rng.choice(self.base_ids)]:
            op, res = self._op(ops, "index_probe", "/index/probe", {
                "path": self.index, "k": K, "probe_ids": [probe]}, read=True)
            self.expect(op, op.ok and len(res["neighbors"][str(probe)]) == K,
                        f"id {probe} does not answer as a probe")
        self._op(ops, "index_delete", "/index/delete", {"path": self.index, "ids": sl})
        op, res = self._op(ops, "index_compact", "/index/compact", {"path": self.index})
        self.expect(op, op.ok and res["n_vectors"] == self.base_count,
                    f"live count after compact is not the base {self.base_count}")

    def scd2_half(self, ops: list[Op]) -> None:
        n = self.cycle_no
        batch = f"cdc_{n}"
        src = os.path.join(self.data_dir, f"{batch}.parquet")
        with self.phase("io.register_s"):
            self.api.register_dataset(batch, src)
        op, res = self._op(ops, "scd2_merge", "/scd2/merge", {
            "dataset": batch, "user": "user_id", "event": "event_type",
            "time": "ts", "order": "event_id", "path": self.scd2},
            delta=os.path.getsize(src))
        self.expect(op, op.ok and res["touched"] >= 1, f"merge of {batch} touched no bucket")
        as_of = (EPOCH + dt.timedelta(days=self.batch_days[n] + 1)).isoformat(sep=" ")
        for _ in range(2):
            users = self.rng.sample(self.users, 3)
            op, res = self._op(ops, "scd2_snapshot", "/scd2/snapshot", {
                "path": self.scd2, "ts": as_of, "users": users}, read=True)
            self.expect(op, op.ok and {r["user_id"] for r in res["rows"]} <= set(users),
                        "snapshot answered for users not asked for")

    def cycle(self, ops: list[Op]) -> None:
        self.index_half(ops)
        self.scd2_half(ops)
        disk, live = store_space(self.ctx.spark, [self.index, self.scd2])
        self.space.append(disk / live)
        self._op(ops, "index_recover", "/index/recover", {"path": self.index})
        self._op(ops, "scd2_recover", "/scd2/recover", {"path": self.scd2})
        self.cycle_no += 1

    def window(self, seconds: float) -> list[Op]:
        ops: list[Op] = []
        self.reset_counters()
        self.space.clear()
        start = time.time()
        while not ops or time.time() - start < seconds:
            if self.cycle_no >= len(self.batch_days):
                break  # every CDC batch merged: no newer data left
            self.cycle(ops)
        return ops

    def extra_metrics(self) -> dict[str, float]:
        return {
            "store_write_amplification": self.bytes_written / self.delta_bytes,
            "store_space_amplification": sum(self.space) / len(self.space),
        }

    def layer_metrics(self) -> dict[str, float]:
        disk, live = store_space(self.ctx.spark, [self.index, self.scd2])
        return {
            "storeio.bytes_written": self.bytes_written,
            "storeio.files_written": self.files_written,
            "storeio.disk_bytes": disk,
            "storeio.live_bytes": live,
            "storeio.bytes_reclaimed": self.bytes_reclaimed,
        }

    def close(self) -> None:
        if getattr(self, "service", None) is not None:
            self.service.close()
