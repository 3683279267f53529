"""Base class of the three workloads and the context they share.

A workload is driven in this order by ``run.py``: ``write_inputs``
(seeded data, outside every timing), ``setup`` (the engine-side set-up,
timed; run several times, each building its stores afresh, and the
workload goes on with the last), ``warmup`` (timed), then ``window`` one
or more times.
Correctness checks outside the window go through ``check``.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import threading
import time
from collections import defaultdict
from dataclasses import dataclass

import datagen
from common import Op
from spans import Tracer


@dataclass
class Context:
    spark: object
    seed: int
    sf: float
    cpus: int
    work: str  # scratch directory inside the checkout
    tracer: Tracer
    traced_run: bool  # --trace 1: the layer wrappers are installed


class Workload:
    name = ""
    row_groups = 1

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.data_dir = os.path.join(ctx.work, "data")
        self.checks = 0
        self.failures: list[str] = []
        self._check_lock = threading.Lock()  # serve checks from client threads
        self.pinned: list[int] = []
        self.setup_phases: dict[str, list[float]] = defaultdict(list)
        self._ops = itertools.count(1)

    # -- hooks run.py calls -------------------------------------------------

    def write_inputs(self) -> None:
        self.tables = datagen.tables(self.ctx.seed, self.ctx.sf)
        datagen.write(self.data_dir, self.tables, self.row_groups)

    def setup(self, rep: int) -> None:
        raise NotImplementedError

    def warmup(self) -> None:
        raise NotImplementedError

    def window(self, seconds: float) -> list[Op]:
        raise NotImplementedError

    def extra_metrics(self) -> dict[str, float]:
        """End-to-end metrics only this workload has (name → value)."""
        return {}

    def layer_metrics(self) -> dict[str, float]:
        """Per-layer counters measured outside the spans."""
        return {}

    def close(self) -> None:
        pass

    # -- helpers ------------------------------------------------------------

    def check(self, ok: bool, message: str) -> None:
        with self._check_lock:
            self.checks += 1
            if not ok:
                self.failures.append(message)

    @contextlib.contextmanager
    def phase(self, name: str):
        """Time one set-up phase (a per-layer metric: ``io.register_s``,
        ``setup.store_build_s``)."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.setup_phases[name].append(time.perf_counter() - t0)

    def stores_dir(self, rep: int) -> str:
        """Where set-up ``rep`` builds its stores."""
        return os.path.join(self.ctx.work, f"stores-{rep}")

    def next_op(self) -> int:
        return next(self._ops)

    def start_service(self, api, token: str | None = None):
        from service import Service

        return Service(api, self.ctx.tracer, token, wrap=self.ctx.traced_run)

    def after_op(self) -> None:
        """In a traced window: sample the bytes the engine has pinned."""
        if self.ctx.tracer.enabled:
            infos = self.ctx.spark.sparkContext._jsc.sc().getRDDStorageInfo()
            self.pinned.append(sum(i.memSize() + i.diskSize() for i in infos))
