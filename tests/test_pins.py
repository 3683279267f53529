"""Pin lifecycle: ``ordering.materialize`` is the engine's one pin
primitive and ``ordering.pinned`` the one scope that releases pins —
per thread, nested, on error — and every service request releases the
pins it made."""

from __future__ import annotations

import json
import os
import re
import threading
import urllib.request

import pytest

from correlationapi_spark.ordering import materialize, pinned

from .conftest import SF_SMOKE

_PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "correlationapi_spark",
)


def _rdd_id(df) -> int:
    return df._jdf.queryExecution().analyzed().rdd().id()


def _stored(spark) -> set[int]:
    """Ids of the RDDs that hold cached blocks right now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return {i.id() for i in infos}


def test_nested_scopes_release_only_their_own(spark):
    with pinned():
        outer = materialize(spark.range(100), eager=True)
        with pinned():
            inner = materialize(spark.range(50))  # lazy: blocks at count
            assert inner.count() == 50
            assert {_rdd_id(outer), _rdd_id(inner)} <= _stored(spark)
        assert _rdd_id(inner) not in _stored(spark)
        assert _rdd_id(outer) in _stored(spark)
        assert outer.count() == 100
    assert _rdd_id(outer) not in _stored(spark)


def test_scope_is_per_thread(spark):
    """Thread B's scope ends while thread A's is open: B's exit must
    release B's pin only, and A's pin stays readable."""
    barrier = threading.Barrier(2, timeout=120)
    seen: dict = {}
    errors: list = []

    def thread_a():
        try:
            with pinned():
                a = materialize(spark.range(30), eager=True)
                seen["a"] = _rdd_id(a)
                barrier.wait()  # both scopes open
                barrier.wait()  # B's scope has closed
                seen["a_alive"] = seen["a"] in _stored(spark)
                seen["a_rows"] = a.count()
        except BaseException as e:  # noqa: BLE001 - re-raised below
            barrier.abort()
            errors.append(e)

    def thread_b():
        try:
            with pinned():
                b = materialize(spark.range(20), eager=True)
                seen["b"] = _rdd_id(b)
                barrier.wait()
            seen["b_alive"] = seen["b"] in _stored(spark)
            barrier.wait()
        except BaseException as e:  # noqa: BLE001 - re-raised below
            barrier.abort()
            errors.append(e)

    threads = [threading.Thread(target=f) for f in (thread_a, thread_b)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert seen["a_alive"] and seen["a_rows"] == 30
    assert not seen["b_alive"]
    assert seen["a"] not in _stored(spark)


def test_materialize_outside_scope_keeps_pin(spark):
    """Registry keys pin with no scope open: nothing records or
    releases the pin, not even a scope that opens and closes later."""
    p = materialize(spark.range(40), eager=True)
    with pinned():
        pass
    try:
        assert _rdd_id(p) in _stored(spark)
        assert p.count() == 40
    finally:
        rdds = spark.sparkContext._jsc.getPersistentRDDs()
        rdds.get(_rdd_id(p)).unpersist(True)


def test_scope_releases_on_error(spark):
    seen = {}
    with pytest.raises(RuntimeError, match="boom"):
        with pinned():
            p = materialize(spark.range(10), eager=True)
            seen["id"] = _rdd_id(p)
            raise RuntimeError("boom")
    assert seen["id"] not in _stored(spark)


def test_service_requests_release_their_pins(spark):
    """Every pin a request makes — operator-internal ones included —
    is gone once the answer is sent: after each pin-heavy request the
    cached RDDs are a subset of the pre-request set."""
    from correlationapi_spark.api import CorrelationAPI
    from correlationapi_spark.http_api import make_server

    api = CorrelationAPI(spark)
    for name in ("lineitem", "documents", "embeddings", "orders"):
        api.register_dataset(name, os.path.join(SF_SMOKE, f"{name}.parquet"))
    server = make_server(api, port=0)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    base = f"http://127.0.0.1:{server.server_address[1]}"
    requests = [
        "/basket?dataset=lineitem&basket=l_orderkey&item=l_suppkey"
        "&min_count=2&limit=5",
        "/dedup?dataset=documents&id=doc_id&text=text&method=ngram"
        "&threshold=0.8&limit=5",
        "/knn_graph?dataset=embeddings&id=vec_id&vector=embedding&k=3"
        "&limit=5",
        "/pagerank?dataset=orders&src=o_custkey&dst=o_orderkey&n_iter=3"
        "&limit=5",
    ]
    try:
        for path in requests:
            before = _stored(spark)
            with urllib.request.urlopen(base + path) as resp:
                assert resp.status == 200, path
                json.loads(resp.read())
            left = _stored(spark) - before
            assert not left, f"{path} left pinned RDDs {sorted(left)}"
    finally:
        server.shutdown()
        server.server_close()


def test_only_ordering_pins():
    """ordering.py is the only module that pins or releases: a raw
    localCheckpoint / persist / cache / unpersist anywhere else in the
    package would bypass the request scope."""
    pattern = re.compile(r"localCheckpoint\(|\.persist\(|\.cache\(\)|unpersist\(")
    allowed = os.path.join(_PKG, "ordering.py")
    offenders = []
    for root, _, files in os.walk(_PKG):
        for name in sorted(files):
            path = os.path.join(root, name)
            if not name.endswith(".py") or path == allowed:
                continue
            with open(path) as f:
                for i, line in enumerate(f, 1):
                    if pattern.search(line):
                        offenders.append(f"{os.path.relpath(path, _PKG)}:{i}")
    assert not offenders, f"pins outside ordering.py: {offenders}"
