"""REST-adapter tests: the stdlib HTTP listener over CorrelationAPI,
exercised over real sockets, plus the pure routing function's error map."""

from __future__ import annotations

import json
import os
import threading
import urllib.error
import urllib.request

import pytest

from correlationapi_spark.api import CorrelationAPI
from correlationapi_spark.http_api import _route, make_server

from .conftest import SF_SMOKE


# the module-scoped server runs WITH a token so the mutation-heavy
# lifecycle tests exercise the authenticated path end-to-end; the
# read-only default gets its own server in test_auth_guard below
_TOKEN = "test-shared-token"


@pytest.fixture(scope="module")
def base_url(spark):
    api = CorrelationAPI(spark)
    server = make_server(api, port=0, auth_token=_TOKEN)  # ephemeral port
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    yield f"http://127.0.0.1:{server.server_address[1]}"
    server.shutdown()


def _get(url: str):
    with urllib.request.urlopen(url) as resp:
        return resp.status, json.loads(resp.read())


def _post(url: str, payload: dict, token: str | None = _TOKEN):
    headers = {"Content-Type": "application/json"}
    if token is not None:
        headers["Authorization"] = f"Bearer {token}"
    req = urllib.request.Request(
        url, data=json.dumps(payload).encode(), headers=headers, method="POST",
    )
    with urllib.request.urlopen(req) as resp:
        return resp.status, json.loads(resp.read())


def test_health_and_empty_datasets(base_url):
    assert _get(f"{base_url}/health") == (200, {"status": "ok"})
    status, names = _get(f"{base_url}/datasets")
    assert status == 200 and isinstance(names, list)


def test_register_then_correlate_roundtrip(base_url, spark):
    status, reg = _post(
        f"{base_url}/datasets/lineitem",
        {"path": os.path.join(SF_SMOKE, "lineitem.parquet")},
    )
    assert status == 201 and "l_quantity" in reg["columns"]

    status, variables = _get(f"{base_url}/datasets/lineitem/variables")
    assert status == 200 and "l_quantity" in variables

    status, res = _get(
        f"{base_url}/correlate?dataset=lineitem&x=l_quantity&y=l_extendedprice"
    )
    assert status == 200
    # must equal the in-process service answer exactly (same engine)
    want = CorrelationAPI(spark)
    want.register_dataset("li", os.path.join(SF_SMOKE, "lineitem.parquet"))
    direct = want.correlate("li", "l_quantity", "l_extendedprice")
    assert res["correlation"] == direct["correlation"]
    assert res["n"] == direct["n"]


def test_matrix_and_lagged_over_http(base_url):
    status, res = _post(
        f"{base_url}/matrix",
        {"dataset": "lineitem", "variables": ["l_quantity", "l_extendedprice", "l_tax"]},
    )
    assert status == 200 and len(res["matrix"]) == 3
    assert res["matrix"][0][1] == res["matrix"][1][0]

    # round 10: the wide-matrix gram route over the same HTTP surface
    status, gres = _post(
        f"{base_url}/matrix",
        {
            "dataset": "lineitem",
            "variables": ["l_quantity", "l_extendedprice", "l_tax"],
            "method": "gram",
        },
    )
    assert status == 200 and gres["method"] == "gram"
    assert abs(gres["matrix"][0][1] - round(res["matrix"][0][1], 6)) <= 1e-6

    _post(
        f"{base_url}/datasets/events",
        {"path": os.path.join(SF_SMOKE, "events.parquet")},
    )
    status, res = _get(
        f"{base_url}/lagged?dataset=events&time=ts&value=value&lag=1&grain=day"
    )
    assert status == 200 and res["n_pairs"] > 0

    status, res = _get(
        f"{base_url}/rolling?dataset=events&time=ts&value=value&window=14"
    )
    assert status == 200 and len(res["series"]) > 0
    assert all(p["n"] == 14 for p in res["series"])

    status, res = _get(
        f"{base_url}/xcorr?dataset=events&time=ts&x=value&y=value&max_lag=2"
    )
    assert status == 200 and sorted(res["lags"]) == ["-1", "-2", "0", "1", "2"]
    # lag 0 of a series against itself is a perfect correlation
    assert res["lags"]["0"]["correlation"] == 1.0

    status, res = _get(
        f"{base_url}/acf?dataset=events&time=ts&value=value&max_lag=2"
    )
    assert status == 200 and sorted(res["lags"]) == ["0", "1", "2"]
    assert res["lags"]["0"]["correlation"] == 1.0

    status, res = _get(
        f"{base_url}/partial?dataset=lineitem"
        "&x=l_quantity&y=l_extendedprice&control=l_discount"
    )
    assert status == 200 and res["n"] > 0
    assert -1.0 <= res["partial_correlation"] <= 1.0


@pytest.mark.parametrize(
    ("url", "code"),
    [
        ("/correlate?dataset=nope&x=a&y=b", 404),           # unknown dataset
        ("/correlate?dataset=lineitem&x=zz&y=l_tax", 404),  # unknown variable
        ("/correlate?dataset=lineitem&x=l_quantity&y=l_tax&method=banana", 400),
        ("/correlate?dataset=lineitem", 400),               # missing params
        ("/nope", 404),
    ],
)
def test_http_error_mapping(base_url, url, code):
    with pytest.raises(urllib.error.HTTPError) as exc:
        _get(f"{base_url}{url}")
    assert exc.value.code == code
    assert "error" in json.loads(exc.value.read())


def test_route_function_direct(spark):
    # the pure router is the unit surface: no sockets needed
    api = CorrelationAPI(spark)
    status, payload = _route(api, "GET", "/health", {}, {})
    assert (status, payload) == (200, {"status": "ok"})
    status, payload = _route(api, "GET", "/bogus", {}, {})
    assert status == 404
    with pytest.raises(ValueError):
        _route(api, "POST", "/datasets/x", {}, {})  # body missing "path"


def test_round5_response_surface(base_url):
    """Round-5 additions over the wire: pacf + significance (band,
    Ljung-Box) on /acf, ci_95 + t_stat on /correlate, comma-separated
    multi-control /partial."""
    _post(
        f"{base_url}/datasets/events",
        {"path": os.path.join(SF_SMOKE, "events.parquet")},
    )
    _post(
        f"{base_url}/datasets/lineitem",
        {"path": os.path.join(SF_SMOKE, "lineitem.parquet")},
    )

    status, res = _get(
        f"{base_url}/acf?dataset=events&time=ts&value=value&max_lag=3"
    )
    assert status == 200
    assert set(res["pacf"]) == {"1", "2", "3"}
    assert res["significance"]["band"] > 0
    assert res["significance"]["ljung_box"]["df"] == 3

    status, res = _get(
        f"{base_url}/correlate?dataset=lineitem&x=l_quantity&y=l_extendedprice"
    )
    assert status == 200
    assert res["ci_95"][0] < res["correlation"] < res["ci_95"][1]
    assert res["t_stat"] is not None

    status, res = _get(
        f"{base_url}/partial?dataset=lineitem&x=l_quantity"
        "&y=l_extendedprice&control=l_discount,l_tax"
    )
    assert status == 200
    assert res["control"] == ["l_discount", "l_tax"]
    assert -1.0 <= res["partial_correlation"] <= 1.0


def test_similar_route_matches_declared_key(base_url, spark):
    """/similar (exact) over the fixture embeddings must return EXACTLY
    the q_sim_topk answer for the same probes/k — one engine behind
    both (round-6 parameterized LLM surface)."""
    from correlationapi_spark.registry import load_registry

    _post(
        f"{base_url}/datasets/emb",
        {"path": os.path.join(SF_SMOKE, "embeddings.parquet")},
    )
    status, res = _get(
        f"{base_url}/similar?dataset=emb&id=vec_id&vector=embedding"
        "&probes=0,1,2,3,4&k=5"
    )
    assert status == 200
    want: dict = {}
    key = load_registry()["q_sim_topk"]
    for r in key.fn(spark, SF_SMOKE).collect():
        want.setdefault(str(r.probe_id), []).append(
            {"id": r.neighbor_id, "cosine": r.cosine, "rank": r.rn}
        )
    assert res["neighbors"] == want

    # ivf: same contract, exact scores, recall>=0.6 of the exact answer
    status, ivf = _get(
        f"{base_url}/similar?dataset=emb&id=vec_id&vector=embedding"
        "&probes=0,1,2,3,4&k=5&method=ivf&n_cells=8&n_probe=8"
    )
    assert status == 200
    got = {(p, n["id"]) for p, ns in ivf["neighbors"].items() for n in ns}
    exact = {(p, n["id"]) for p, ns in res["neighbors"].items() for n in ns}
    assert len(got & exact) / len(exact) >= 0.6
    # n_probe == n_cells probes every cell -> ivf degenerates to exact
    status, full = _get(
        f"{base_url}/similar?dataset=emb&id=vec_id&vector=embedding"
        "&probes=0,1&k=3&method=ivf&n_cells=4&n_probe=4"
    )
    status2, ex2 = _get(
        f"{base_url}/similar?dataset=emb&id=vec_id&vector=embedding"
        "&probes=0,1&k=3"
    )
    assert full["neighbors"] == ex2["neighbors"]


def test_dedup_route(base_url, spark):
    """/dedup exact + ngram over the fixture documents: totals agree
    with the engine DataFrames, listings are bounded by limit, and the
    error map covers bad params."""
    from correlationapi_spark.io import load_tables
    from correlationapi_spark.llm.dedup import ngram_jaccard_pairs

    _post(
        f"{base_url}/datasets/docs",
        {"path": os.path.join(SF_SMOKE, "documents.parquet")},
    )
    status, res = _get(f"{base_url}/dedup?dataset=docs&id=doc_id&text=text")
    assert status == 200 and res["method"] == "exact"
    docs = load_tables(spark, SF_SMOKE)["documents"]
    n_docs = docs.count()
    n_distinct = docs.selectExpr("lower(trim(text)) t").distinct().count()
    assert res["n_duplicates"] == n_docs - n_distinct
    for d in res["duplicates"]:
        assert d["canonical_id"] < d["id"]

    status, ng = _get(
        f"{base_url}/dedup?dataset=docs&id=doc_id&text=text"
        "&method=ngram&threshold=0.4&limit=3"
    )
    assert status == 200
    want_total = ngram_jaccard_pairs(
        docs.select("doc_id", "text"), threshold=0.4
    ).count()
    assert ng["n_duplicates"] == want_total
    assert len(ng["duplicates"]) == min(3, want_total)
    assert ng["truncated"] == (want_total > 3)

    # error map: unknown column -> 404, bad method/threshold -> 400
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(f"{base_url}/dedup?dataset=docs&id=nope&text=text")
    assert e.value.code == 404
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(f"{base_url}/dedup?dataset=docs&id=doc_id&text=text&method=xx")
    assert e.value.code == 400
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(
            f"{base_url}/similar?dataset=docs&id=doc_id&vector=text"
            "&probes=a,b"
        )
    assert e.value.code == 400


def test_similar_post_raw_query_vectors(base_url, spark):
    """POST /similar takes RAW embeddings: a query vector equal to a
    corpus row's embedding must rank that row as its top-1 neighbor
    with cosine 1.0 (exact engine), and keys come back q0, q1, ….
    A zero vector is a 400."""
    from correlationapi_spark.io import load_tables

    _post(
        f"{base_url}/datasets/emb2",
        {"path": os.path.join(SF_SMOKE, "embeddings.parquet")},
    )
    emb = load_tables(spark, SF_SMOKE)["embeddings"]
    row = emb.filter("vec_id = 7").collect()[0]
    vec = [float(x) for x in row.embedding]
    status, res = _post(
        f"{base_url}/similar",
        {
            "dataset": "emb2", "id": "vec_id", "vector": "embedding",
            "query_vectors": [vec, [x * 2 for x in vec]], "k": 3,
        },
    )
    assert status == 200 and set(res["neighbors"]) == {"q0", "q1"}
    top = res["neighbors"]["q0"][0]
    assert top["id"] == 7 and top["cosine"] == 1.0
    # cosine is scale-invariant: the doubled vector ranks identically
    assert res["neighbors"]["q1"] == res["neighbors"]["q0"]

    with pytest.raises(urllib.error.HTTPError) as e:
        _post(
            f"{base_url}/similar",
            {"dataset": "emb2", "id": "vec_id", "vector": "embedding",
             "query_vectors": [[0.0, 0.0]]},
        )
    assert e.value.code == 400


def test_dedup_minhash_route(base_url):
    """/dedup?method=minhash: the sub-quadratic twin honors the same
    similarity-threshold contract — at the q_dedup_ngram fixture
    threshold its pairs overlap the exact ngram answer with recall
    ≥ 0.6 and every reported jaccard is ≥ the threshold minus LSH
    estimation slack."""
    status, ng = _get(
        f"{base_url}/dedup?dataset=docs&id=doc_id&text=text"
        "&method=ngram&threshold=0.5"
    )
    status2, mh = _get(
        f"{base_url}/dedup?dataset=docs&id=doc_id&text=text"
        "&method=minhash&threshold=0.5"
    )
    assert status == 200 and status2 == 200
    assert mh["threshold"] == 0.5
    exact = {(d["id_a"], d["id_b"]) for d in ng["duplicates"]}
    approx = {(d["id_a"], d["id_b"]) for d in mh["duplicates"]}
    assert exact, "fixture should contain near-duplicates"
    assert len(approx & exact) / len(exact) >= 0.6


def test_pack_route(base_url, spark):
    """/pack: layout totals must agree with the declared key's engine at
    the same capacity, invariants hold (chunks tile the token stream,
    tail padding < capacity), and listing truncation is visible."""
    _post(
        f"{base_url}/datasets/docs",
        {"path": os.path.join(SF_SMOKE, "documents.parquet")},
    )
    status, res = _get(
        f"{base_url}/pack?dataset=docs&id=doc_id&text=text"
        "&capacity=512&limit=7"
    )
    assert status == 200
    from correlationapi_spark.registry import load_registry

    rows = load_registry()["q_pack_chunks"].fn(spark, SF_SMOKE).collect()
    want_tokens = sum(r.n_tok for r in rows)
    want_chunks = max(r.last_chunk for r in rows) + 1
    assert res["n_tokens"] == want_tokens
    assert res["n_chunks"] == want_chunks
    assert 0 <= res["tail_padding"] < 512
    assert res["n_docs"] == len(rows)
    assert len(res["documents"]) == 7 and res["truncated"]
    assert res["documents"][0]["off"] == 0

    with pytest.raises(urllib.error.HTTPError) as e:
        _get(f"{base_url}/pack?dataset=docs&id=doc_id&text=text&capacity=0")
    assert e.value.code == 400


def test_assign_route(base_url, spark):
    """/assign (round 7): per-cell counts sum to n_assigned, every
    listed cell is one of the requested centroids, and a missing
    centroids param is a 400."""
    _post(
        f"{base_url}/datasets/emb",
        {"path": os.path.join(SF_SMOKE, "embeddings.parquet")},
    )
    status, res = _get(
        f"{base_url}/assign?dataset=emb&id=vec_id&vector=embedding"
        "&centroids=0,1,2,3&limit=5"
    )
    assert status == 200
    assert sum(res["cells"].values()) == res["n_assigned"] > 0
    assert set(map(int, res["cells"])) <= {0, 1, 2, 3}
    assert len(res["assignments"]) == 5 and res["truncated"]
    for a in res["assignments"]:
        assert a["cell"] in (0, 1, 2, 3) and -1.0 <= a["cosine"] <= 1.0

    with pytest.raises(urllib.error.HTTPError) as e:
        _get(f"{base_url}/assign?dataset=emb&id=vec_id&vector=embedding")
    assert e.value.code == 400


def test_association_and_distribution_routes(spark):
    from correlationapi_spark.api import CorrelationAPI

    api = CorrelationAPI(spark)
    api.register_dataset("orders", os.path.join(SF_SMOKE, "orders.parquet"))
    status, payload = _route(
        api, "GET", "/association",
        {"dataset": "orders", "a": "o_orderpriority", "b": "o_orderstatus",
         "method": "cramer"}, {},
    )
    assert status == 200 and "cramers_v" in payload and payload["dof"] > 0

    status, payload = _route(
        api, "GET", "/distribution",
        {"dataset": "orders", "var": "o_totalprice", "gini": "1"}, {},
    )
    assert status == 200 and "gini" in payload and "skewness" in payload

    import pytest as _pytest
    with _pytest.raises(ValueError, match="missing query parameter"):
        _route(api, "GET", "/association", {"dataset": "orders"}, {})


def test_compare_route(spark):
    from correlationapi_spark.api import CorrelationAPI

    api = CorrelationAPI(spark)
    api.register_dataset("orders", os.path.join(SF_SMOKE, "orders.parquet"))
    status, payload = _route(
        api, "GET", "/compare",
        {"dataset": "orders", "var": "o_totalprice",
         "group_by": "o_orderstatus", "a": "F", "b": "O"}, {},
    )
    assert status == 200 and 0.0 <= payload["ks_d"] <= 1.0
    assert "mw_z" in payload and payload["groups"]["F"]["n"] > 0


def test_anova_route(spark):
    from correlationapi_spark.api import CorrelationAPI

    api = CorrelationAPI(spark)
    api.register_dataset("orders", os.path.join(SF_SMOKE, "orders.parquet"))
    status, payload = _route(
        api, "GET", "/anova",
        {"dataset": "orders", "var": "o_totalprice",
         "group_by": "o_orderpriority"}, {},
    )
    assert status == 200 and payload["f_stat"] >= 0.0
    assert payload["df_between"] == 4 and len(payload["groups"]) == 5


def test_integrity_basket_changepoint_pca_routes(spark):
    from correlationapi_spark.api import CorrelationAPI

    api = CorrelationAPI(spark)
    api.register_dataset("orders", os.path.join(SF_SMOKE, "orders.parquet"))
    api.register_dataset("customer",
                         os.path.join(SF_SMOKE, "customer.parquet"))
    api.register_dataset("events", os.path.join(SF_SMOKE, "events.parquet"))
    api.register_dataset("embeddings",
                         os.path.join(SF_SMOKE, "embeddings.parquet"))
    status, payload = _route(
        api, "GET", "/integrity",
        {"child": "orders", "fk": "o_custkey",
         "parent": "customer", "pk": "c_custkey"}, {},
    )
    assert status == 200 and payload["n_child"] > 0
    status, payload = _route(
        api, "GET", "/changepoint",
        {"dataset": "events", "var": "value", "time": "ts"}, {},
    )
    assert status == 200 and payload["changepoint"] in payload["periods"]
    status, payload = _route(
        api, "GET", "/pca",
        {"dataset": "embeddings", "id": "vec_id",
         "vector": "embedding", "k": "3"}, {},
    )
    assert status == 200 and len(payload["components"]) == 3


def test_trend_route(spark):
    from correlationapi_spark.api import CorrelationAPI

    api = CorrelationAPI(spark)
    api.register_dataset("events", os.path.join(SF_SMOKE, "events.parquet"))
    status, payload = _route(
        api, "GET", "/trend",
        {"dataset": "events", "var": "value", "time": "ts",
         "group_by": "event_type"}, {},
    )
    assert status == 200 and len(payload["groups"]) == 5


def test_forecast_route(spark):
    from correlationapi_spark.api import CorrelationAPI

    api = CorrelationAPI(spark)
    api.register_dataset("events", os.path.join(SF_SMOKE, "events.parquet"))
    status, payload = _route(
        api, "GET", "/forecast",
        {"dataset": "events", "var": "value", "time": "ts",
         "group_by": "event_type", "method": "naive"}, {},
    )
    assert status == 200 and len(payload["groups"]) == 5
    first = next(iter(payload["groups"].values()))
    assert first["wape"] >= 0.0


def test_drift_route(spark):
    from correlationapi_spark.api import CorrelationAPI

    api = CorrelationAPI(spark)
    api.register_dataset("events", os.path.join(SF_SMOKE, "events.parquet"))
    status, payload = _route(
        api, "GET", "/drift",
        {"dataset": "events", "var": "value", "time": "ts"}, {},
    )
    assert status == 200 and payload["periods"]


def test_mixed_matrix_route(spark):
    from correlationapi_spark.api import CorrelationAPI

    api = CorrelationAPI(spark)
    api.register_dataset("orders", os.path.join(SF_SMOKE, "orders.parquet"))
    status, payload = _route(
        api, "POST", "/mixed_matrix",
        {}, {"dataset": "orders",
             "variables": ["o_totalprice", "o_orderpriority"]},
    )
    assert status == 200
    assert payload["matrix"]["o_totalprice"]["o_orderpriority"][
        "measure"] == "eta"


def test_kmeans_route(base_url, spark):
    """/kmeans (round 8): contract fields present, cells sum exactly,
    objective trace monotone; missing vector param is a 400."""
    _post(
        f"{base_url}/datasets/embk",
        {"path": os.path.join(SF_SMOKE, "embeddings.parquet")},
    )
    status, res = _get(
        f"{base_url}/kmeans?dataset=embk&id=vec_id&vector=embedding"
        "&k=3&n_iter=3"
    )
    assert status == 200
    assert sum(res["cells"].values()) == res["n_assigned"] > 0
    assert len(res["objective"]) == res["iterations"] <= 3
    for a, b in zip(res["objective"], res["objective"][1:]):
        assert b >= a - 1e-9
    assert "centroids" not in res

    with pytest.raises(urllib.error.HTTPError) as e:
        _get(f"{base_url}/kmeans?dataset=embk&id=vec_id")
    assert e.value.code == 400


def test_event_analytics_routes(base_url, spark):
    """/transitions, /attribution, /pagerank (round 8): contract smoke
    + 400 on missing params."""
    _post(
        f"{base_url}/datasets/evr",
        {"path": os.path.join(SF_SMOKE, "events.parquet")},
    )
    status, res = _get(
        f"{base_url}/transitions?dataset=evr&user=user_id"
        "&event=event_type&time=ts&order=event_id"
    )
    assert status == 200 and res["n_transitions"] > 0

    status, res = _get(
        f"{base_url}/attribution?dataset=evr&user=user_id"
        "&event=event_type&time=ts&order=event_id&target=purchase"
    )
    assert status == 200 and res["n_conversions"] > 0

    status, res = _get(
        f"{base_url}/attribution_multi?dataset=evr&user=user_id"
        "&event=event_type&time=ts&order=event_id&target=purchase"
    )
    assert status == 200 and set(res["models"]) == {
        "linear", "position", "time_decay"
    }

    _post(
        f"{base_url}/datasets/docr",
        {"path": os.path.join(SF_SMOKE, "documents.parquet")},
    )
    status, res = _get(
        f"{base_url}/bpe?dataset=docr&id=doc_id&text=text&n_merges=4"
    )
    assert status == 200 and len(res["merges"]) == 4

    with pytest.raises(urllib.error.HTTPError) as e:
        _get(f"{base_url}/pagerank?dataset=evr&src=user_id")
    assert e.value.code == 400


def test_knn_graph_route(base_url, spark):
    """/knn_graph (round 9): mutual edge totals + strongest-edge
    listing; missing vector param is a 400."""
    _post(
        f"{base_url}/datasets/emb",
        {"path": os.path.join(SF_SMOKE, "embeddings.parquet")},
    )
    status, res = _get(
        f"{base_url}/knn_graph?dataset=emb&id=vec_id&vector=embedding"
        "&k=3&limit=5"
    )
    assert status == 200
    assert res["n_edges"] > 0 and res["k"] == 3
    assert len(res["edges"]) <= 5
    for e in res["edges"]:
        assert -1.0 <= e["cosine"] <= 1.0 and e["id_a"] < e["id_b"]

    with pytest.raises(urllib.error.HTTPError) as e:
        _get(f"{base_url}/knn_graph?dataset=emb&id=vec_id")
    assert e.value.code == 400


def test_decompose_weighted_quantile_gopher_routes(spark):
    from correlationapi_spark.api import CorrelationAPI

    api = CorrelationAPI(spark)
    api.register_dataset("events", os.path.join(SF_SMOKE, "events.parquet"))
    api.register_dataset("lineitem",
                         os.path.join(SF_SMOKE, "lineitem.parquet"))
    api.register_dataset("documents",
                         os.path.join(SF_SMOKE, "documents.parquet"))
    status, payload = _route(
        api, "GET", "/decompose",
        {"dataset": "events", "var": "value", "time": "ts"}, {},
    )
    assert status == 200 and len(payload["phases"]) == 7
    status, payload = _route(
        api, "GET", "/weighted_quantile",
        {"dataset": "lineitem", "var": "l_extendedprice",
         "weight": "l_quantity", "group_by": "l_returnflag",
         "quantiles": "0.5,0.9"}, {},
    )
    assert status == 200 and len(payload["groups"]) == 3
    for cell in payload["groups"].values():
        assert cell["q0.5"] <= cell["q0.9"]
    status, payload = _route(
        api, "GET", "/gopher",
        {"dataset": "documents", "limit": "5"}, {},
    )
    assert status == 200 and payload["n_docs"] > 0
    assert len(payload["failing"]) <= 5


def test_tukey_route(spark):
    from correlationapi_spark.api import CorrelationAPI

    api = CorrelationAPI(spark)
    api.register_dataset("customer",
                         os.path.join(SF_SMOKE, "customer.parquet"))
    status, payload = _route(
        api, "GET", "/tukey",
        {"dataset": "customer", "var": "c_acctbal",
         "group_by": "c_mktsegment"}, {},
    )
    assert status == 200 and payload["n_pairs"] == 10


def test_stationary_route(spark):
    from correlationapi_spark.api import CorrelationAPI

    api = CorrelationAPI(spark)
    api.register_dataset("events", os.path.join(SF_SMOKE, "events.parquet"))
    status, payload = _route(
        api, "GET", "/stationary",
        {"dataset": "events", "user": "user_id", "event": "event_type",
         "time": "ts", "order": "event_id"}, {},
    )
    assert status == 200 and abs(sum(payload["pi"].values()) - 1.0) < 1e-4


def test_index_lifecycle_over_http(base_url, tmp_path):
    """round 10: the persisted-ANN maintenance surface — build (201),
    gauge, delta append (assign-only), probe — over real sockets."""
    _post(
        f"{base_url}/datasets/emb",
        {"path": os.path.join(SF_SMOKE, "embeddings.parquet")},
    )
    idx = str(tmp_path / "http_ivf")
    status, res = _post(
        f"{base_url}/index/build",
        {"dataset": "emb", "id": "vec_id", "vector": "embedding",
         "path": idx, "n_cells": 8, "where": "vec_id % 5 != 0"},
    )
    assert status == 201 and res["n_vectors"] > 0
    base_n = res["n_vectors"]

    status, res = _get(f"{base_url}/index/status?path={idx}")
    assert status == 200 and res["n_vectors"] == base_n

    status, res = _post(
        f"{base_url}/index/append",
        {"dataset": "emb", "id": "vec_id", "vector": "embedding",
         "path": idx, "where": "vec_id % 5 = 0"},
    )
    assert status == 200 and res["n_vectors"] > base_n

    # append-only contract over the wire: duplicate ids -> 400
    with pytest.raises(urllib.error.HTTPError) as exc:
        _post(
            f"{base_url}/index/append",
            {"dataset": "emb", "id": "vec_id", "vector": "embedding",
             "path": idx, "where": "vec_id % 5 = 0"},
        )
    assert exc.value.code == 400

    # missing index path -> 404, not a 500
    with pytest.raises(urllib.error.HTTPError) as exc:
        _get(f"{base_url}/index/status?path={tmp_path}/nope")
    assert exc.value.code == 404

    status, res = _post(
        f"{base_url}/index/probe",
        {"path": idx, "probe_ids": [1, 2], "k": 3},
    )
    assert status == 200 and set(res["neighbors"]) == {"1", "2"}

    # round 11: delete → probes stop answering the id; compact reclaims
    n_before = _get(f"{base_url}/index/status?path={idx}")[1]["n_vectors"]
    victim = res["neighbors"]["1"][0]["id"]
    status, res = _post(f"{base_url}/index/delete",
                        {"path": idx, "ids": [victim]})
    assert status == 200 and res["deleted"] == 1
    assert res["n_vectors"] == n_before - 1
    status, res = _post(
        f"{base_url}/index/probe",
        {"path": idx, "probe_ids": [1, 2], "k": 3},
    )
    assert all(n["id"] != victim
               for hits in res["neighbors"].values() for n in hits)
    status, res = _post(f"{base_url}/index/compact", {"path": idx})
    assert status == 200 and res["tombstones_cleared"] == 1

    # rebuild over the existing (marked) index: 200, not 201, and the
    # stale tombstone mask does not survive the rebuild
    status, res = _post(
        f"{base_url}/index/build",
        {"dataset": "emb", "id": "vec_id", "vector": "embedding",
         "path": idx, "n_cells": 8},
    )
    assert status == 200 and res["rebuilt"] is True
    assert res["pq_dropped"] is False  # no attachment existed yet

    # round 14: persisted PQ over the wire — un-attached pq probe
    # 404s with the attach pointer; attach then probe stored codes
    with pytest.raises(urllib.error.HTTPError) as exc:
        _post(f"{base_url}/index/probe",
              {"path": idx, "probe_ids": [1], "method": "pq"})
    assert exc.value.code == 404
    status, pq = _post(f"{base_url}/index/pq_attach", {"path": idx})
    assert status == 200 and pq["n_codes"] == pq["n_vectors"]
    assert pq["pq_attached"] is True  # status gauge agrees (round 15)
    status, pq = _post(
        f"{base_url}/index/probe",
        {"path": idx, "probe_ids": [1, 2], "k": 3, "method": "pq"},
    )
    assert status == 200 and pq["method"] == "pq"
    assert all(
        "adc_l2" in h for hits in pq["neighbors"].values() for h in hits
    )

    # round 12: recluster — no-op below threshold, rebuild when forced
    n_now = res["n_vectors"]
    status, res = _post(
        f"{base_url}/index/recluster", {"path": idx, "threshold": 1e9}
    )
    assert status == 200 and res["reclustered"] is False
    status, res = _post(
        f"{base_url}/index/recluster", {"path": idx, "threshold": 0}
    )
    assert status == 200 and res["reclustered"] is True
    assert res["n_vectors"] == n_now
    with pytest.raises(urllib.error.HTTPError) as exc:
        _post(f"{base_url}/index/recluster",
              {"path": f"{tmp_path}/nope"})
    assert exc.value.code == 404

    # round 14: recover = reclaim garbage now, over the wire — the
    # recluster above retired its previous version (reader grace), so
    # the first call reclaims it and the second is the idempotent no-op
    status, res = _post(f"{base_url}/index/recover", {"path": idx})
    assert status == 200 and res["recovered"] is True
    assert res["n_vectors"] == n_now
    status, res = _post(f"{base_url}/index/recover", {"path": idx})
    assert status == 200 and res["recovered"] is False
    assert res["n_vectors"] == n_now
    with pytest.raises(urllib.error.HTTPError) as exc:
        _post(f"{base_url}/index/recover", {"path": f"{tmp_path}/nope"})
    assert exc.value.code == 404

    # round 15: refine over the wire — exact re-rank of the ADC
    # candidates; neighbors carry exact l2, the echo names the depth
    status, res = _post(
        f"{base_url}/index/probe",
        {"path": idx, "probe_ids": [1, 2], "k": 3, "method": "ivfpq",
         "n_probe": 4, "refine": 10},
    )
    assert status == 200 and res["refine"] == 10
    for hits in res["neighbors"].values():
        assert hits
        assert all("l2" in h and "adc_l2" not in h for h in hits)
    with pytest.raises(urllib.error.HTTPError) as exc:
        _post(f"{base_url}/index/probe",
              {"path": idx, "probe_ids": [1], "refine": 10})
    assert exc.value.code == 400  # refine is pq/ivfpq-only

    # round 15 (r14 verdict item 5): rebuilding over the ATTACHED
    # store reports the dropped PQ, and the attachment really is gone
    status, res = _post(
        f"{base_url}/index/build",
        {"dataset": "emb", "id": "vec_id", "vector": "embedding",
         "path": idx, "n_cells": 8},
    )
    assert status == 200 and res["rebuilt"] is True
    assert res["pq_dropped"] is True
    with pytest.raises(urllib.error.HTTPError) as exc:
        _post(f"{base_url}/index/probe",
              {"path": idx, "probe_ids": [1], "method": "pq"})
    assert exc.value.code == 404

    # a non-index directory is refused (400), not clobbered
    trap = str(tmp_path / "precious")
    os.makedirs(os.path.join(trap, "keep"))
    with pytest.raises(urllib.error.HTTPError) as exc:
        _post(
            f"{base_url}/index/build",
            {"dataset": "emb", "id": "vec_id", "vector": "embedding",
             "path": trap},
        )
    assert exc.value.code == 400
    assert os.path.isdir(os.path.join(trap, "keep"))


def test_psi_lifecycle_over_http(base_url, tmp_path):
    """round 11: the versioned PSI reference lifecycle — repin (201),
    status, drift vs the latest pin — over real sockets; an unpinned
    store 404s."""
    _post(
        f"{base_url}/datasets/ev",
        {"path": os.path.join(SF_SMOKE, "events.parquet")},
    )
    store = str(tmp_path / "psi_ref")

    with pytest.raises(urllib.error.HTTPError) as exc:
        _get(f"{base_url}/psi/status?path={store}")
    assert exc.value.code == 404

    status, res = _post(
        f"{base_url}/psi/repin",
        {"dataset": "ev", "time": "ts", "value": "value",
         "path": store, "end": "2024-01-08 00:00:00"},
    )
    assert status == 201 and res["version"] == 1 and res["n_ref"] > 0

    status, res = _post(
        f"{base_url}/psi/repin",
        {"dataset": "ev", "time": "ts", "value": "value", "path": store,
         "start": "2024-01-08 00:00:00", "end": "2024-01-15 00:00:00"},
    )
    assert status == 201 and res["version"] == 2

    status, res = _get(f"{base_url}/psi/status?path={store}")
    assert status == 200 and res["version"] == 2
    assert sum(res["bins"].values()) == res["n_ref"]

    status, res = _get(
        f"{base_url}/psi/drift?dataset=ev&time=ts&value=value&path={store}"
    )
    assert status == 200 and res["reference_version"] == 2
    assert len(res["windows"]) >= 28


def test_scd2_lifecycle_over_http(base_url, spark, tmp_path):
    """round 12: the SCD2 store maintenance surface — incremental merge
    into an existing store and the idempotent recover — over real
    sockets; a missing store 400s with the contract error."""
    import pyspark.sql.functions as F

    from correlationapi_spark.io import load_tables
    from correlationapi_spark.operators.analytics import scd2_merge

    ev = load_tables(spark, SF_SMOKE)["events"]
    cut = F.lit("2024-01-25 00:00:00").cast("timestamp")
    store = str(tmp_path / "scd2_http")
    # build, then rebuild: an empty batch commits nothing, so each
    # build leaves one pointer file, and the recover below needs the
    # merge's commit to supersede one beyond the kept two
    for _ in range(2):
        scd2_merge(
            spark, ev.filter(F.col("ts") < cut), F.lit(False),
            _store_path=store,
        )
    delta_path = str(tmp_path / "delta.parquet")
    ev.filter(
        (F.col("ts") >= cut) & (F.col("user_id") % 19 == 0)
    ).select("user_id", "event_type", "ts", "event_id").write.parquet(
        delta_path
    )
    _post(f"{base_url}/datasets/scd2delta", {"path": delta_path})

    status, res = _post(
        f"{base_url}/scd2/merge",
        {"dataset": "scd2delta", "user": "user_id", "event": "event_type",
         "time": "ts", "order": "event_id", "path": store},
    )
    assert status == 200
    assert 1 <= res["touched"] < res["total"] and res["rows_touched"] > 0

    # round 14: recover = reclaim garbage — the merge above appended a
    # delta object and retired nothing, but its commit superseded the
    # oldest pointer file beyond the kept two (reader grace), so the
    # first call reclaims it and the second is the idempotent no-op
    status, res = _post(f"{base_url}/scd2/recover", {"path": store})
    assert status == 200 and res["recovered"] is True
    status, res = _post(f"{base_url}/scd2/recover", {"path": store})
    assert status == 200 and res["recovered"] is False

    # point-in-time read over the wire: the as-of rows at the cut, and
    # the users form prunes + filters to exactly those keys
    status, res = _post(
        f"{base_url}/scd2/snapshot",
        {"path": store, "ts": "2024-01-25 00:00:00", "limit": 10},
    )
    assert status == 200 and res["n_rows"] >= 1
    uid = res["rows"][0]["user_id"]
    status, res1 = _post(
        f"{base_url}/scd2/snapshot",
        {"path": store, "ts": "2024-01-25 00:00:00", "users": [uid]},
    )
    assert status == 200 and res1["n_rows"] == 1
    assert res1["rows"][0]["user_id"] == uid
    # an unparseable ts is a 400, not an empty snapshot
    with pytest.raises(urllib.error.HTTPError) as exc:
        _post(
            f"{base_url}/scd2/snapshot",
            {"path": store, "ts": "not-a-time"},
        )
    assert exc.value.code == 400
    # a scalar "users" is a 400, not a per-character id list (r13
    # review: "12" would iterate into users 1 and 2 and answer 200
    # with the wrong rows)
    with pytest.raises(urllib.error.HTTPError) as exc:
        _post(
            f"{base_url}/scd2/snapshot",
            {"path": store, "ts": "2024-01-25 00:00:00", "users": "12"},
        )
    assert exc.value.code == 400

    with pytest.raises(urllib.error.HTTPError) as exc:
        _post(
            f"{base_url}/scd2/merge",
            {"dataset": "scd2delta", "user": "user_id",
             "event": "event_type", "time": "ts", "order": "event_id",
             "path": str(tmp_path / "nostore")},
        )
    assert exc.value.code == 400


def test_missing_store_is_404_and_recover_creates_nothing(
    base_url, spark, tmp_path
):
    """A path holding no store answers alike on both stores: 404 on
    the SCD2 snapshot and the index routes, the SCD2 merge refuses
    with its 400, and the SCD2 recover is a no-op — none of them
    creates anything, not even the lock file's missing parent
    directories."""
    delta_path = str(tmp_path / "delta.parquet")
    spark.sql(
        "SELECT 1L AS user_id, 'click' AS event_type, "
        "TIMESTAMP'2024-02-01 00:00:00' AS ts, 1L AS event_id"
    ).write.parquet(delta_path)
    _post(f"{base_url}/datasets/nostoredelta", {"path": delta_path})
    bogus = str(tmp_path / "a" / "b" / "store")
    status, res = _post(f"{base_url}/scd2/recover", {"path": bogus})
    assert status == 200
    assert res == {"path": bogus, "recovered": False, "gc_skipped": []}
    assert not os.path.exists(tmp_path / "a")
    for route, body in (
        ("/scd2/snapshot", {"path": bogus, "ts": "2024-01-25 00:00:00"}),
        ("/index/probe", {"path": bogus, "probe_ids": [1]}),
        ("/index/recover", {"path": bogus}),
    ):
        with pytest.raises(urllib.error.HTTPError) as exc:
            _post(f"{base_url}{route}", body)
        assert exc.value.code == 404, route
    with pytest.raises(urllib.error.HTTPError) as exc:
        _post(
            f"{base_url}/scd2/merge",
            {"dataset": "nostoredelta", "user": "user_id",
             "event": "event_type", "time": "ts", "order": "event_id",
             "path": bogus},
        )
    assert exc.value.code == 400
    assert "no SCD2 store" in json.loads(exc.value.read())["error"]
    assert not os.path.exists(tmp_path / "a")


# ---------------------------------------------------------------- auth guard


def test_mutation_classifier():
    """POST is not the mutation signal: the body-carrying pure reads stay
    open; state-changing routes (and dataset registration) are gated."""
    from correlationapi_spark.http_api import _is_mutation

    for path in ("/index/build", "/index/append", "/index/delete",
                 "/index/compact", "/index/recluster", "/index/recover",
                 "/index/pq_attach", "/psi/repin", "/scd2/merge",
                 "/scd2/recover", "/datasets/lineitem"):
        assert _is_mutation("POST", path), path
    for method, path in (
        ("POST", "/matrix"), ("POST", "/mixed_matrix"),
        ("POST", "/similar"), ("POST", "/index/probe"),
        ("GET", "/datasets/lineitem"), ("GET", "/index/status"),
        ("GET", "/health"), ("GET", "/psi/status"),
    ):
        assert not _is_mutation(method, path), f"{method} {path}"


def test_authorize_pure_function():
    from correlationapi_spark.http_api import _authorize

    # read routes never challenged, token or not
    assert _authorize("GET", "/correlate", {}, None) is None
    assert _authorize("POST", "/matrix", {}, "s3cret") is None
    # no token configured -> read-only refusal names the knob
    status, payload = _authorize("POST", "/index/build", {}, None)
    assert status == 403 and "read-only" in payload["error"]
    assert "--auth-token" in payload["error"]
    # token configured: missing / wrong -> 401; Bearer or X-Auth-Token ok
    status, _ = _authorize("POST", "/index/build", {}, "s3cret")
    assert status == 401
    status, _ = _authorize(
        "POST", "/index/build", {"Authorization": "Bearer nope"}, "s3cret")
    assert status == 401
    assert _authorize(
        "POST", "/index/build",
        {"Authorization": "Bearer s3cret"}, "s3cret") is None
    assert _authorize(
        "POST", "/psi/repin", {"X-Auth-Token": "s3cret"}, "s3cret") is None


def test_auth_guard_over_sockets(base_url):
    """Server with a token: 401 challenges carry WWW-Authenticate, wrong
    tokens are refused, reads stay open without credentials."""
    with pytest.raises(urllib.error.HTTPError) as exc:
        _post(f"{base_url}/datasets/auth_probe",
              {"path": os.path.join(SF_SMOKE, "region.parquet")}, token=None)
    assert exc.value.code == 401
    assert exc.value.headers.get("WWW-Authenticate") == "Bearer"

    with pytest.raises(urllib.error.HTTPError) as exc:
        _post(f"{base_url}/index/compact", {"path": "/tmp/x"}, token="wrong")
    assert exc.value.code == 401

    # read route: no credentials needed even on a token-bearing server
    assert _get(f"{base_url}/health") == (200, {"status": "ok"})

    # correct token registers fine (and cleans up the module namespace race
    # by using a dedicated dataset name)
    status, reg = _post(
        f"{base_url}/datasets/auth_probe",
        {"path": os.path.join(SF_SMOKE, "region.parquet")})
    assert status == 201 and "r_name" in reg["columns"]


def test_read_only_default_server(spark):
    """make_server with NO token is read-only: mutations 403, reads work."""
    api = CorrelationAPI(spark)
    api.register_dataset("ro_li", os.path.join(SF_SMOKE, "lineitem.parquet"))
    server = make_server(api, port=0)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    url = f"http://127.0.0.1:{server.server_address[1]}"
    try:
        with pytest.raises(urllib.error.HTTPError) as exc:
            _post(f"{url}/datasets/nope",
                  {"path": os.path.join(SF_SMOKE, "region.parquet")})
        assert exc.value.code == 403
        assert "read-only" in json.loads(exc.value.read())["error"]

        with pytest.raises(urllib.error.HTTPError) as exc:
            _post(f"{url}/index/recluster", {"path": "/tmp/x"})
        assert exc.value.code == 403

        # reads (including POST-borne pure reads) untouched
        status, res = _get(
            f"{url}/correlate?dataset=ro_li&x=l_quantity&y=l_extendedprice")
        assert status == 200 and "correlation" in res
        status, res = _post(
            f"{url}/matrix",
            {"dataset": "ro_li", "variables": ["l_quantity", "l_tax"]},
            token=None)
        assert status == 200
    finally:
        server.shutdown()


def test_auth_non_ascii_token_answers_401_not_connection_reset(base_url):
    """review r12: compare_digest on str raises TypeError for non-ASCII
    input, and _authorize runs before the handler's error-mapping try —
    a garbled header must come back as a clean 401, not a dead socket."""
    req = urllib.request.Request(
        f"{base_url}/index/compact",
        data=json.dumps({"path": "/tmp/x"}).encode(),
        headers={"Content-Type": "application/json",
                 "Authorization": "Bearer café"},
        method="POST",
    )
    with pytest.raises(urllib.error.HTTPError) as exc:
        urllib.request.urlopen(req)
    assert exc.value.code == 401
