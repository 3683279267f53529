"""In-process REST service for the serve and store workloads.

``start`` builds the engine's listener with ``http_api.make_server``
over a ``CorrelationAPI`` and serves it on a background thread. In a
traced run two thin wrappers, both defined here, record the layer
boundaries: the request handler picks the client's op id out of a
header, and every ``CorrelationAPI`` method call becomes an ``api.*``
span whose Spark jobs are grouped under it.
"""

from __future__ import annotations

import http.client
import threading
import time
from typing import Any

from common import HttpClient, Op
from spans import Tracer

OP_HEADER = "X-Perfbench-Op"


class TracedAPI:
    """Proxy that runs each public ``CorrelationAPI`` method in an
    ``api.<method>`` span with its Spark jobs grouped beneath it."""

    def __init__(self, api, tracer: Tracer):
        self._api = api
        self._tracer = tracer

    def __getattr__(self, name: str) -> Any:
        attr = getattr(self._api, name)
        if name.startswith("_") or not callable(attr):
            return attr

        def call(*args, **kwargs):
            with self._tracer.span(f"api.{name}"), self._tracer.spark_group():
                return attr(*args, **kwargs)

        return call


class Service:
    def __init__(self, api, tracer: Tracer, token: str | None = None,
                 wrap: bool = False):
        from correlationapi_spark.http_api import make_server

        self.tracer = tracer
        self.server = make_server(
            TracedAPI(api, tracer) if wrap else api, port=0, auth_token=token,
        )
        if wrap:
            base = self.server.RequestHandlerClass

            class Handler(base):  # type: ignore[misc, valid-type]
                def _handle(self, method: str) -> None:
                    op, _, parent = (self.headers.get(OP_HEADER) or "/").partition("/")
                    tracer.local.op = int(op) if op else None
                    tracer.local.parent = int(parent) if parent else None
                    try:
                        super()._handle(method)
                    finally:
                        tracer.local.op = tracer.local.parent = None

            self.server.RequestHandlerClass = Handler
        self.client = HttpClient(self.server.server_address[1], token)
        self._thread = threading.Thread(
            target=self.server.serve_forever, kwargs={"poll_interval": 0.1},
            daemon=True,
        )
        self._thread.start()

    def request(self, op_id: int, kind: str, method: str, path: str,
                body: Any = None, read: bool = True) -> tuple[Op, Any]:
        """One client op: the HTTP round trip, traced as the op's root
        span. The op is ok when the service answered 200."""
        tracer = self.tracer
        with tracer.span("op", op=op_id, kind=kind) as attrs:
            headers = (
                {OP_HEADER: f"{op_id}/{tracer.local.parent}"} if tracer.enabled else None
            )
            t0 = time.time()
            try:
                status, payload, nbytes = self.client.call(method, path, body, headers)
                error = None if status == 200 else f"HTTP {status}: {payload}"
            except (OSError, ValueError, http.client.HTTPException) as e:
                # no answer, or not JSON: a failed op, not a crashed run
                status, payload, nbytes, error = 0, None, 0, f"{type(e).__name__}: {e}"
            t1 = time.time()
            attrs.update(status=status, bytes=nbytes)
        return Op(kind, t0, t1, error is None, read, op_id, error), payload

    def close(self) -> None:
        self.server.shutdown()
        self.server.server_close()
        self._thread.join(timeout=30)
