"""serve_read_mix: a closed loop of client threads against the REST
service.

Each client sends its next request only after the previous answer
arrived. The requests come from a small seeded pool of distinct
requests: eight short statistics reads and two pin-heavy analytics
requests (``/basket`` and ``/dedup?method=ngram``, which go through the
engine's ``ordering`` pins). The load runs in whole rounds: in a round
each client sends every short read once, in its own seeded order, plus
its one heavy request, so every run sees the same mix (1 request in 9
is pin-heavy). The seed picks columns, probe ids and orders; the shape,
and so the cost, of each request is fixed. Every answer must be HTTP
200 and equal the reference answer recorded for that request at set-up.
"""

from __future__ import annotations

import os
import random
import threading
import time
from urllib.parse import urlencode

from common import Op, same_answer, side_by_side
from workload import Workload

N_CLIENTS = 2
LINE_NUM = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")
TABLES = ("lineitem", "events", "embeddings", "documents")


def _get(kind: str, path: str, **query) -> tuple[str, str, str, None]:
    return kind, "GET", f"{path}?{urlencode(query)}", None


def request_pool(rng: random.Random, n_emb: int, index_path: str) -> tuple[list, list]:
    """(short reads, pin-heavy requests): each a (kind, method, path,
    body) tuple with seeded parameters."""
    x, y = rng.sample(LINE_NUM, 2)
    short = [_get("correlate", "/correlate", dataset="lineitem", x=x, y=y)]
    x, y = rng.sample(LINE_NUM, 2)
    short.append(_get("correlate_group", "/correlate", dataset="lineitem", x=x, y=y,
                      method="spearman", group_by="l_returnflag"))
    probes = ",".join(str(i) for i in rng.sample(range(n_emb), 2))
    short.append(_get("similar", "/similar", dataset="embeddings", id="vec_id",
                      vector="embedding", probes=probes, k=5))
    short.append(("index_probe", "POST", "/index/probe", {
        "path": index_path, "probe_ids": rng.sample(range(n_emb), 2), "k": 5,
    }))
    short.append(("matrix", "POST", "/matrix", {
        "dataset": "lineitem", "variables": rng.sample(LINE_NUM, 3), "method": "pearson",
    }))
    short.append(_get("distribution", "/distribution", dataset="events", var="value",
                      group_by="event_type", percentiles="0.5,0.9"))
    short.append(_get("anova", "/anova", dataset="lineitem", var=rng.choice(LINE_NUM),
                      group_by="l_returnflag"))
    short.append(_get("acf", "/acf", dataset="events", time="ts", value="value",
                      max_lag=7, grain="day"))
    heavy = [
        _get("basket", "/basket", dataset="lineitem", basket="l_orderkey",
             item="l_suppkey", min_count=3, limit=20),
        _get("dedup", "/dedup", dataset="documents", id="doc_id", text="text",
             method="ngram", threshold=0.8, limit=50),
    ]
    return short, heavy


class ServeReadMix(Workload):
    name = "serve_read_mix"
    row_groups = 1  # the fixture's single-row-group layout

    def setup(self, rep: int) -> None:
        from correlationapi_spark.api import CorrelationAPI

        api = CorrelationAPI(self.ctx.spark)
        with self.phase("io.register_s"):
            for t in TABLES:
                api.register_dataset(t, os.path.join(self.data_dir, f"{t}.parquet"))
        self.index_path = os.path.join(self.stores_dir(rep), "index")
        with self.phase("setup.store_build_s"):
            api.index_build("embeddings", "vec_id", "embedding", self.index_path, n_cells=16)
        self.api = api

    def warmup(self) -> None:
        """Send every distinct request once (untimed, from the client
        threads) and keep its answer as the reference; cross-check one
        Pearson answer with DuckDB."""
        self.service = self.start_service(self.api)
        rng = random.Random(self.ctx.seed)
        n_emb = self.tables["embeddings"].num_rows
        self.short, self.heavy = request_pool(rng, n_emb, self.index_path)
        self.reference = {}
        pool = self.short + self.heavy

        def record(requests) -> None:
            for kind, method, path, body in requests:
                op, payload = self.service.request(0, kind, method, path, body)
                self.check(op.ok, f"reference {kind}: {op.error}")
                self.reference[(method, path, repr(body))] = payload

        side_by_side(*(lambda i=i: record(pool[i::N_CLIENTS]) for i in range(N_CLIENTS)))
        self.check_duckdb_corr()

    def check_duckdb_corr(self) -> None:
        import duckdb

        kind, method, path, body = self.short[0]
        answer = self.reference[(method, path, repr(body))]
        src = os.path.join(self.data_dir, "lineitem.parquet")
        with duckdb.connect() as con:
            (r,) = con.execute(
                f"SELECT corr({answer['x']}, {answer['y']}) FROM read_parquet(?)", [src]
            ).fetchone()
        self.check(abs(r - answer["correlation"]) <= 1e-6,
                   f"/correlate {answer['correlation']} != duckdb corr {r}")

    def round_requests(self, rng: random.Random, idx: int) -> list:
        """Client ``idx``'s requests for one round: the short reads in a
        seeded order, its heavy request first (client 0) or halfway
        (client 1), so the two heavy requests do not coincide."""
        order = rng.sample(self.short, len(self.short))
        order.insert(idx * len(order) // N_CLIENTS, self.heavy[idx])
        return order

    def window(self, seconds: float) -> list[Op]:
        """Whole rounds until ``seconds`` have passed; the clients wait
        for each other at the end of every round."""
        deadline = time.time() + seconds
        ops: list[Op] = []
        lock = threading.Lock()
        stop = threading.Event()
        barrier = threading.Barrier(
            N_CLIENTS, action=lambda: time.time() >= deadline and stop.set())

        def client(idx: int) -> None:
            rng = random.Random(self.ctx.seed * 1000 + idx)
            try:
                while not stop.is_set():
                    for kind, method, path, body in self.round_requests(rng, idx):
                        op, payload = self.service.request(
                            self.next_op(), kind, method, path, body)
                        if op.ok and not same_answer(
                                payload, self.reference[(method, path, repr(body))]):
                            op.ok, op.error = False, f"{kind}: answer differs from reference"
                        self.after_op()
                        with lock:
                            ops.append(op)
                    barrier.wait(timeout=170)
            except threading.BrokenBarrierError:
                return  # the other client failed and raises its own error
            except BaseException:
                barrier.abort()
                raise

        side_by_side(*(lambda i=i: client(i) for i in range(N_CLIENTS)))
        return ops

    def extra_metrics(self) -> dict[str, float]:
        from store import store_space

        disk, live = store_space(self.ctx.spark, [self.index_path])
        self.disk_live = disk, live
        return {"store_space_amplification": disk / live}

    def layer_metrics(self) -> dict[str, float]:
        disk, live = self.disk_live
        return {"storeio.disk_bytes": disk, "storeio.live_bytes": live}

    def close(self) -> None:
        if getattr(self, "service", None) is not None:
            self.service.close()
