"""CLI smoke tests: every subcommand prints one JSON document and exits 0.

main(argv) runs in-process; _spark() resolves to the session fixture's
JVM via getOrCreate, so these are cheap."""

from __future__ import annotations

import json
import os

from correlationapi_spark.__main__ import main

from .conftest import SF_SMOKE


def _run(capsys, argv):
    rc = main(argv)
    out = capsys.readouterr().out
    # `keys` pretty-prints over many lines; everything else is one line —
    # parse from the first JSON opener either way
    return rc, json.loads(out[out.index("{"):])


def test_cli_correlate(spark, capsys):
    rc, res = _run(capsys, [
        "correlate", "--data", os.path.join(SF_SMOKE, "lineitem.parquet"),
        "--x", "l_quantity", "--y", "l_extendedprice",
    ])
    assert rc == 0 and -1.0 <= res["correlation"] <= 1.0


def test_cli_partial_and_xcorr(spark, capsys):
    rc, res = _run(capsys, [
        "partial", "--data", os.path.join(SF_SMOKE, "lineitem.parquet"),
        "--x", "l_quantity", "--y", "l_extendedprice",
        "--control", "l_discount",
    ])
    assert rc == 0 and "partial_correlation" in res

    rc, res = _run(capsys, [
        "xcorr", "--data", os.path.join(SF_SMOKE, "events.parquet"),
        "--time", "ts", "--x", "value", "--y", "value", "--max-lag", "1",
    ])
    assert rc == 0 and res["lags"]["0"]["correlation"] == 1.0


def test_cli_query_and_keys(spark, capsys):
    rc, res = _run(capsys, ["query", "--key", "q_agg_mode",
                            "--sf-dir", SF_SMOKE, "--limit", "5"])
    assert rc == 0 and res["n_shown"] >= 1

    rc, res = _run(capsys, ["keys"])
    assert rc == 0 and "q_flagship" in res


def test_cli_error_paths(spark, capsys):
    rc, res = _run(capsys, [
        "correlate", "--data", os.path.join(SF_SMOKE, "lineitem.parquet"),
        "--x", "nope", "--y", "l_tax",
    ])
    assert rc == 2 and "error" in res

    rc, res = _run(capsys, ["query", "--key", "q_nope"])
    assert rc == 2 and "error" in res


def test_cli_round5_commands(spark, capsys):
    """Round-5 CLI surface: kendall method, acf (+pacf/significance),
    rolling, and comma-separated multi-control partial."""
    rc, res = _run(capsys, [
        "correlate", "--data", os.path.join(SF_SMOKE, "lineitem.parquet"),
        "--x", "l_quantity", "--y", "l_extendedprice", "--method", "kendall",
    ])
    assert rc == 0 and -1.0 <= res["correlation"] <= 1.0
    assert "z_stat" in res

    rc, res = _run(capsys, [
        "acf", "--data", os.path.join(SF_SMOKE, "events.parquet"),
        "--time", "ts", "--value", "value", "--max-lag", "2",
    ])
    assert rc == 0 and set(res["pacf"]) == {"1", "2"}
    assert res["significance"]["band"] > 0

    rc, res = _run(capsys, [
        "rolling", "--data", os.path.join(SF_SMOKE, "events.parquet"),
        "--time", "ts", "--value", "value", "--window", "7",
    ])
    assert rc == 0 and len(res["series"]) > 0

    rc, res = _run(capsys, [
        "partial", "--data", os.path.join(SF_SMOKE, "lineitem.parquet"),
        "--x", "l_quantity", "--y", "l_extendedprice",
        "--control", "l_discount,l_tax",
    ])
    assert rc == 0 and res["control"] == ["l_discount", "l_tax"]


def test_cli_similar_and_dedup(spark, capsys):
    """Round-6 CLI surface: similar (exact + ivf) and dedup (exact +
    ngram) as parameterized subcommands over caller-chosen tables."""
    rc, res = _run(capsys, [
        "similar", "--data", os.path.join(SF_SMOKE, "embeddings.parquet"),
        "--id", "vec_id", "--vector", "embedding",
        "--probes", "0,1", "--k", "3",
    ])
    assert rc == 0 and set(res["neighbors"]) == {"0", "1"}
    for ns in res["neighbors"].values():
        assert len(ns) == 3
        assert [n["rank"] for n in ns] == [1, 2, 3]

    rc, res = _run(capsys, [
        "similar", "--data", os.path.join(SF_SMOKE, "embeddings.parquet"),
        "--id", "vec_id", "--vector", "embedding",
        "--probes", "0", "--k", "2", "--method", "ivf",
        "--n-cells", "4", "--n-probe", "2",
    ])
    assert rc == 0 and res["method"] == "ivf"
    assert len(res["neighbors"]["0"]) <= 2

    rc, res = _run(capsys, [
        "dedup", "--data", os.path.join(SF_SMOKE, "documents.parquet"),
        "--id", "doc_id", "--text", "text", "--limit", "5",
    ])
    assert rc == 0 and res["method"] == "exact"
    assert res["n_duplicates"] >= len(res["duplicates"])

    rc, res = _run(capsys, [
        "dedup", "--data", os.path.join(SF_SMOKE, "documents.parquet"),
        "--id", "doc_id", "--text", "text",
        "--method", "ngram", "--threshold", "0.9",
    ])
    assert rc == 0 and res["threshold"] == 0.9

    # user-error path: unknown column exits 2 with one JSON error line
    rc, res = _run(capsys, [
        "similar", "--data", os.path.join(SF_SMOKE, "embeddings.parquet"),
        "--id", "vec_id", "--vector", "nope", "--probes", "0",
    ])
    assert rc == 2 and "error" in res


def test_cli_similar_query_vector(spark, capsys):
    """--query-vector takes raw embeddings (repeatable); a corpus row's
    own embedding must come back as its q0 top-1 with cosine 1.0."""
    from correlationapi_spark.io import load_tables

    vec = [float(x) for x in load_tables(spark, SF_SMOKE)["embeddings"]
           .filter("vec_id = 4").collect()[0].embedding]
    rc, res = _run(capsys, [
        "similar", "--data", os.path.join(SF_SMOKE, "embeddings.parquet"),
        "--id", "vec_id", "--vector", "embedding",
        "--query-vector", ",".join(str(x) for x in vec), "--k", "2",
    ])
    assert rc == 0 and list(res["neighbors"]) == ["q0"]
    assert res["neighbors"]["q0"][0] == {"id": 4, "cosine": 1.0, "rank": 1}

    # both or neither probe source is a user error (exit 2)
    rc, res = _run(capsys, [
        "similar", "--data", os.path.join(SF_SMOKE, "embeddings.parquet"),
        "--id", "vec_id", "--vector", "embedding",
    ])
    assert rc == 2 and "error" in res


def test_cli_pack(spark, capsys):
    rc, res = _run(capsys, [
        "pack", "--data", os.path.join(SF_SMOKE, "documents.parquet"),
        "--id", "doc_id", "--text", "text", "--capacity", "256",
        "--limit", "3",
    ])
    assert rc == 0 and res["capacity"] == 256
    assert res["n_chunks"] * 256 >= res["n_tokens"]
    assert len(res["documents"]) == 3


def test_cli_assign(spark, capsys):
    rc, res = _run(capsys, [
        "assign", "--data", os.path.join(SF_SMOKE, "embeddings.parquet"),
        "--id", "vec_id", "--vector", "embedding",
        "--centroids", "0,1,2", "--limit", "4",
    ])
    assert rc == 0 and res["centroid_ids"] == [0, 1, 2]
    assert sum(res["cells"].values()) == res["n_assigned"] > 0
    assert len(res["assignments"]) == 4


def test_cli_association_and_distribution(spark, capsys):
    rc, res = _run(capsys, [
        "association", "--data", os.path.join(SF_SMOKE, "orders.parquet"),
        "--a", "o_orderpriority", "--b", "o_orderstatus", "--method", "theil",
    ])
    assert rc == 0 and 0.0 <= res["u_a_given_b"] <= 1.0

    rc, res = _run(capsys, [
        "distribution", "--data", os.path.join(SF_SMOKE, "orders.parquet"),
        "--var", "o_totalprice", "--gini",
    ])
    assert rc == 0 and 0.0 <= res["gini"] <= 1.0 and "skewness" in res


def test_cli_compare(spark, capsys):
    rc, res = _run(capsys, [
        "compare", "--data", os.path.join(SF_SMOKE, "orders.parquet"),
        "--var", "o_totalprice", "--group-by", "o_orderstatus",
        "--a", "F", "--b", "O",
    ])
    assert rc == 0 and 0.0 <= res["ks_d"] <= 1.0 and "mw_z" in res


def test_cli_anova(spark, capsys):
    rc, res = _run(capsys, [
        "anova", "--data", os.path.join(SF_SMOKE, "orders.parquet"),
        "--var", "o_totalprice", "--group-by", "o_orderpriority",
        "--center", "median",
    ])
    assert rc == 0 and res["w_stat"] >= 0.0 and res["df_between"] == 4


def test_cli_basket_changepoint_pca_integrity(spark, capsys):
    rc, res = _run(capsys, [
        "changepoint", "--data", os.path.join(SF_SMOKE, "events.parquet"),
        "--var", "value", "--time", "ts",
    ])
    assert rc == 0 and res["periods"] and res["changepoint"] in res["periods"]
    rc, res = _run(capsys, [
        "pca", "--data", os.path.join(SF_SMOKE, "embeddings.parquet"),
        "--id", "vec_id", "--vector", "embedding", "--k", "4",
    ])
    assert rc == 0 and len(res["components"]) == 4
    assert 0.0 < res["components"][0]["explained_var"] < 1.0
    rc, res = _run(capsys, [
        "integrity", "--data", os.path.join(SF_SMOKE, "orders.parquet"),
        "--fk", "o_custkey",
        "--parent-data", os.path.join(SF_SMOKE, "customer.parquet"),
        "--pk", "c_custkey",
    ])
    assert rc == 0 and res["n_child"] > 0 and res["n_orphans"] == 0


def test_cli_trend(spark, capsys):
    rc, res = _run(capsys, [
        "trend", "--data", os.path.join(SF_SMOKE, "events.parquet"),
        "--var", "value", "--time", "ts", "--group-by", "event_type",
    ])
    assert rc == 0 and len(res["groups"]) == 5
    first = next(iter(res["groups"].values()))
    assert first["n_periods"] > 1 and 0.0 <= first["r2"] <= 1.0


def test_cli_drift(spark, capsys):
    rc, res = _run(capsys, [
        "drift", "--data", os.path.join(SF_SMOKE, "events.parquet"),
        "--var", "value", "--time", "ts",
    ])
    assert rc == 0 and res["periods"]
    first = next(iter(res["periods"].values()))
    assert 0.0 <= first["ks_d"] <= 1.0 and first["psi"] >= 0.0


def test_cli_mixed_matrix(spark, capsys):
    rc, res = _run(capsys, [
        "mixed-matrix", "--data", os.path.join(SF_SMOKE, "orders.parquet"),
        "--vars", "o_totalprice,o_orderstatus",
    ])
    assert rc == 0
    assert res["matrix"]["o_totalprice"]["o_orderstatus"]["measure"] == "eta"


def test_cli_survival(spark, capsys):
    import datetime as dt
    import tempfile

    t0 = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(1, t0, t0 + dt.timedelta(days=1)), (2, t0, None)],
        "id long, s timestamp, p timestamp",
    )
    path = tempfile.mkdtemp(prefix="cli_surv_") + "/d.parquet"
    df.write.parquet(path)
    rc, res = _run(capsys, [
        "survival", "--data", path, "--start", "s", "--end", "p",
    ])
    assert rc == 0 and res["curve"][0]["survival"] == 0.5


def test_cli_kmeans(spark, capsys):
    rc, res = _run(capsys, [
        "kmeans", "--data", os.path.join(SF_SMOKE, "embeddings.parquet"),
        "--id", "vec_id", "--vector", "embedding",
        "--k", "3", "--n-iter", "4", "--centroids",
    ])
    assert rc == 0 and res["k"] == 3
    assert sum(res["cells"].values()) == res["n_assigned"] > 0
    assert 1 <= res["iterations"] <= 4
    assert len(res["centroids"]) == 3


def test_cli_event_analytics(spark, capsys):
    rc, res = _run(capsys, [
        "transitions", "--data", os.path.join(SF_SMOKE, "events.parquet"),
        "--user", "user_id", "--event", "event_type",
        "--time", "ts", "--order", "event_id",
    ])
    assert rc == 0 and res["n_transitions"] > 0 and len(res["matrix"]) > 0

    rc, res = _run(capsys, [
        "attribution", "--data", os.path.join(SF_SMOKE, "events.parquet"),
        "--user", "user_id", "--event", "event_type",
        "--time", "ts", "--order", "event_id", "--target", "purchase",
    ])
    assert rc == 0 and res["n_conversions"] > 0
    assert abs(sum(b["share"] for b in res["buckets"]) - 1.0) < 1e-3

    rc, res = _run(capsys, [
        "attribution-multi", "--data",
        os.path.join(SF_SMOKE, "events.parquet"),
        "--user", "user_id", "--event", "event_type",
        "--time", "ts", "--order", "event_id", "--target", "purchase",
    ])
    assert rc == 0 and set(res["models"]) == {
        "linear", "position", "time_decay"
    }
    for buckets in res["models"].values():
        assert abs(sum(b["share"] for b in buckets) - 1.0) < 1e-3


def test_cli_bpe(spark, capsys):
    rc, res = _run(capsys, [
        "bpe", "--data", os.path.join(SF_SMOKE, "documents.parquet"),
        "--id", "doc_id", "--text", "text", "--n-merges", "6",
    ])
    assert rc == 0 and len(res["merges"]) == 6
    assert all(m["merged"] == m["left"] + m["right"] for m in res["merges"])


def test_cli_knn_graph_and_holtwinters(spark, capsys):
    rc, res = _run(capsys, [
        "knn-graph", "--data", os.path.join(SF_SMOKE, "embeddings.parquet"),
        "--id", "vec_id", "--vector", "embedding", "--k", "3",
        "--limit", "5",
    ])
    assert rc == 0 and res["n_edges"] > 0 and res["k"] == 3
    assert len(res["edges"]) <= 5
    assert res["degree"]["max"] <= 3

    rc, res = _run(capsys, [
        "forecast", "--data", os.path.join(SF_SMOKE, "events.parquet"),
        "--var", "value", "--time", "ts", "--group-by", "event_type",
        "--method", "holtwinters", "--gamma", "0.25",
    ])
    assert rc == 0 and res["gamma"] == 0.25
    for cell in res["groups"].values():
        assert cell["season_next"] is not None

    rc, res = _run(capsys, [
        "distribution", "--data", os.path.join(SF_SMOKE, "orders.parquet"),
        "--var", "o_totalprice", "--normality",
    ])
    assert rc == 0 and res["jb_stat"] > 0 and 0.0 <= res["jb_p_value"] <= 1.0


def test_cli_round9_late_services(spark, capsys):
    rc, res = _run(capsys, [
        "tukey", "--data", os.path.join(SF_SMOKE, "customer.parquet"),
        "--var", "c_acctbal", "--group-by", "c_mktsegment",
    ])
    assert rc == 0 and res["n_pairs"] == 10

    rc, res = _run(capsys, [
        "decompose", "--data", os.path.join(SF_SMOKE, "events.parquet"),
        "--var", "value", "--time", "ts",
    ])
    assert rc == 0 and len(res["phases"]) == 7

    rc, res = _run(capsys, [
        "weighted-quantile",
        "--data", os.path.join(SF_SMOKE, "lineitem.parquet"),
        "--var", "l_extendedprice", "--weight", "l_quantity",
        "--group-by", "l_returnflag", "--quantiles", "0.5",
    ])
    assert rc == 0 and len(res["groups"]) == 3

    rc, res = _run(capsys, [
        "gopher", "--data", os.path.join(SF_SMOKE, "documents.parquet"),
        "--limit", "3",
    ])
    assert rc == 0 and res["n_docs"] > 0 and len(res["failing"]) <= 3

    rc, res = _run(capsys, [
        "stationary", "--data", os.path.join(SF_SMOKE, "events.parquet"),
        "--user", "user_id", "--event", "event_type", "--time", "ts",
        "--order", "event_id",
    ])
    assert rc == 0 and abs(sum(res["pi"].values()) - 1.0) < 1e-4


def test_cli_matrix_gram(spark, capsys):
    rc, res = _run(capsys, [
        "matrix", "--data", os.path.join(SF_SMOKE, "lineitem.parquet"),
        "--vars", "l_quantity,l_extendedprice,l_discount",
        "--method", "gram",
    ])
    assert rc == 0
    m = res["matrix"]
    assert res["method"] == "gram" and len(m) == 3
    assert all(m[i][i] == 1.0 for i in range(3))
    assert all(m[i][j] == m[j][i] for i in range(3) for j in range(3))


def test_cli_index_lifecycle(spark, capsys, tmp_path):
    """round 10: build → status → append → probe over the persisted
    IVF layout, end-to-end through the CLI."""
    idx = str(tmp_path / "cli_ivf")
    emb = os.path.join(SF_SMOKE, "embeddings.parquet")
    rc, res = _run(capsys, [
        "index-build", "--data", emb, "--id", "vec_id",
        "--vector", "embedding", "--path", idx, "--n-cells", "8",
        "--where", "vec_id % 5 != 0",
    ])
    assert rc == 0 and res["n_cells"] <= 8 and res["n_vectors"] > 0
    assert res["pq_dropped"] is False  # nothing to drop on first build
    base_n = res["n_vectors"]

    rc, res = _run(capsys, ["index-status", "--path", idx])
    assert rc == 0 and res["n_vectors"] == base_n
    assert res["imbalance"] >= 1.0

    # append the DISJOINT delta slice (ids the build's --where excluded)
    rc, res = _run(capsys, [
        "index-append", "--data", emb, "--id", "vec_id",
        "--vector", "embedding", "--path", idx,
        "--where", "vec_id % 5 = 0",
    ])
    assert rc == 0 and res["n_vectors"] > base_n

    # append-only contract: re-appending the same ids is a user error
    rc, res = _run(capsys, [
        "index-append", "--data", emb, "--id", "vec_id",
        "--vector", "embedding", "--path", idx,
        "--where", "vec_id % 5 = 0",
    ])
    assert rc == 2 and "append-only" in res["error"]

    rc, res = _run(capsys, [
        "index-probe", "--path", idx, "--probes", "1,2", "--k", "3",
    ])
    assert rc == 0
    assert set(res["neighbors"]) == {"1", "2"}
    for hits in res["neighbors"].values():
        assert 0 < len(hits) <= 3
        assert [h["rank"] for h in hits] == list(range(1, len(hits) + 1))

    # round 11: delete a known neighbor, then compact — the id stops
    # answering and the tombstone set drains
    victim = res["neighbors"]["1"][0]["id"]
    all_n = _run(capsys, ["index-status", "--path", idx])[1]["n_vectors"]
    rc, res = _run(capsys, [
        "index-delete", "--path", idx, "--ids", str(victim),
    ])
    assert rc == 0 and res["deleted"] == 1
    assert res["n_vectors"] == all_n - 1
    rc, res = _run(capsys, [
        "index-probe", "--path", idx, "--probes", "1,2", "--k", "3",
    ])
    assert rc == 0 and all(
        h["id"] != victim for hits in res["neighbors"].values() for h in hits
    )
    rc, res = _run(capsys, ["index-compact", "--path", idx])
    assert rc == 0 and res["tombstones_cleared"] == 1
    assert res["n_vectors"] == all_n - 1

    # round 12: recluster — no-op below threshold, rebuild when forced
    rc, res = _run(capsys, [
        "index-recluster", "--path", idx, "--threshold", "1e9",
    ])
    assert rc == 0 and res["reclustered"] is False
    rc, res = _run(capsys, [
        "index-recluster", "--path", idx, "--threshold", "0",
    ])
    assert rc == 0 and res["reclustered"] is True
    assert res["n_vectors"] == all_n - 1

    # round 14: recover = reclaim garbage now — the recluster above
    # retired its previous version (reader grace), so the first call
    # reclaims it (True) and the second finds nothing (idempotent)
    rc, res = _run(capsys, ["index-recover", "--path", idx])
    assert rc == 0 and res["recovered"] is True
    rc, res = _run(capsys, ["index-recover", "--path", idx])
    assert rc == 0 and res["recovered"] is False
    assert res["n_vectors"] == all_n - 1

    # round 14: persisted PQ — un-attached pq probe errors with the
    # attach pointer (rc 2), attach, then probe stored codes
    rc, res = _run(capsys, [
        "index-probe", "--path", idx, "--probes", "1", "--method", "pq",
    ])
    assert rc == 2 and "pq_attach" in res["error"]
    rc, res = _run(capsys, ["index-pq-attach", "--path", idx])
    assert rc == 0 and res["n_codes"] == res["n_vectors"]
    assert res["pq_attached"] is True  # status gauge agrees (round 15)
    rc, res = _run(capsys, [
        "index-probe", "--path", idx, "--probes", "1,2", "--k", "3",
        "--method", "ivfpq", "--n-probe", "4",
    ])
    assert rc == 0 and res["method"] == "ivfpq"
    assert all(
        "adc_l2" in h for hits in res["neighbors"].values() for h in hits
    )

    # round 15: --refine re-ranks the ADC candidates exactly —
    # neighbors carry exact l2 instead of adc_l2; refine on the exact
    # ivf method or refine < k are clean user errors, not stacks
    rc, res = _run(capsys, [
        "index-probe", "--path", idx, "--probes", "1,2", "--k", "3",
        "--method", "ivfpq", "--n-probe", "4", "--refine", "10",
    ])
    assert rc == 0 and res["refine"] == 10
    for hits in res["neighbors"].values():
        assert hits
        assert all("l2" in h and "adc_l2" not in h for h in hits)
    rc, res = _run(capsys, [
        "index-probe", "--path", idx, "--probes", "1", "--k", "3",
        "--refine", "10",
    ])
    assert rc == 2 and "refine" in res["error"]
    rc, res = _run(capsys, [
        "index-probe", "--path", idx, "--probes", "1", "--k", "5",
        "--method", "pq", "--refine", "3",
    ])
    assert rc == 2 and "refine" in res["error"]

    # round 15 (r14 verdict item 5): a rebuild over the attached store
    # drops the PQ and SAYS so — pq_dropped rides the build response,
    # and the dropped attachment really is gone (probe points at attach)
    rc, res = _run(capsys, [
        "index-build", "--data", emb, "--id", "vec_id",
        "--vector", "embedding", "--path", idx, "--n-cells", "8",
    ])
    assert rc == 0 and res["rebuilt"] is True
    assert res["pq_dropped"] is True
    rc, res = _run(capsys, [
        "index-probe", "--path", idx, "--probes", "1", "--method", "pq",
    ])
    assert rc == 2 and "pq_attach" in res["error"]


def test_cli_index_errors(spark, capsys, tmp_path):
    rc, res = _run(capsys, [
        "index-probe", "--path", str(tmp_path / "nope"), "--probes", "",
    ])
    assert rc == 2 and "error" in res
    # a missing index path is a clean JSON error, not a Py4J traceback
    rc, res = _run(capsys, [
        "index-probe", "--path", str(tmp_path / "nope"), "--probes", "1",
    ])
    assert rc == 2 and "no IVF index" in res["error"]
    rc, res = _run(capsys, ["index-status", "--path", str(tmp_path / "nope")])
    assert rc == 2 and "no IVF index" in res["error"]
    rc, res = _run(capsys, ["index-recover", "--path", str(tmp_path / "nope")])
    assert rc == 2 and "no IVF index" in res["error"]


def test_cli_psi_lifecycle(spark, capsys, tmp_path):
    """round 11: pin → status → drift over the versioned PSI reference
    store, end-to-end through the CLI."""
    store = str(tmp_path / "psi_ref")
    ev = os.path.join(SF_SMOKE, "events.parquet")

    rc, res = _run(capsys, ["psi-status", "--path", store])
    assert rc == 2 and "no PSI reference" in res["error"]

    rc, res = _run(capsys, [
        "psi-repin", "--data", ev, "--time", "ts", "--value", "value",
        "--path", store, "--end", "2024-01-08 00:00:00",
    ])
    assert rc == 0 and res["version"] == 1 and res["n_ref"] > 0

    rc, res = _run(capsys, [
        "psi-repin", "--data", ev, "--time", "ts", "--value", "value",
        "--path", store, "--start", "2024-01-08 00:00:00",
        "--end", "2024-01-15 00:00:00",
    ])
    assert rc == 0 and res["version"] == 2

    rc, res = _run(capsys, ["psi-status", "--path", store])
    assert rc == 0 and res["version"] == 2
    assert res["win_start"] == "2024-01-08 00:00:00"

    rc, res = _run(capsys, [
        "psi-drift", "--data", ev, "--time", "ts", "--value", "value",
        "--path", store,
    ])
    assert rc == 0 and res["reference_version"] == 2
    assert len(res["windows"]) >= 28  # a month of day windows
    for payload in res["windows"].values():
        assert payload["psi"] is not None and payload["n"] > 0


def test_cli_scd2_merge_into_and_recover(spark, capsys, tmp_path):
    """round 12: the SCD2 store's operator surface — merge a staged
    batch into an existing store and heal it from the CLI (the store
    twin of index-append/index-recover)."""
    import pyspark.sql.functions as F

    from correlationapi_spark.operators.analytics import (
        scd2_intervals,
        scd2_merge,
    )

    from correlationapi_spark.io import load_tables

    ev = load_tables(spark, SF_SMOKE)["events"]
    cut = F.lit("2024-01-25 00:00:00").cast("timestamp")
    store = str(tmp_path / "scd2_store")
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

    rc, res = _run(capsys, [
        "scd2-merge-into", "--data", delta_path,
        "--user", "user_id", "--event", "event_type",
        "--time", "ts", "--order", "event_id", "--path", store,
    ])
    assert rc == 0
    assert 1 <= res["touched"] < res["total"]

    # the merged store equals the full-history fold
    def obs(df):
        return df.select(
            "user_id", F.col("event_type").alias("state"),
            F.col("ts").alias("valid_from"), "event_id",
        )

    want = scd2_intervals(
        obs(
            ev.filter(
                (F.col("ts") < cut)
                | ((F.col("ts") >= cut) & (F.col("user_id") % 19 == 0))
            )
        )
    ).drop("event_id")
    from correlationapi_spark.operators.analytics import _scd2_read
    from correlationapi_spark.storeio import StoreIO, pointer_require

    io = StoreIO(store, spark)
    got = _scd2_read(spark, store, pointer_require(io, store)).select(
        *want.columns
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    # rows_touched counts the touched buckets ONLY (r12 advice: the old
    # full-store count was an O(store) action on an O(affected) surface)
    assert 1 <= res["rows_touched"] <= want.count()

    # round 14: recover = reclaim garbage — the merge's commit
    # superseded the oldest pointer file beyond the kept two (reader
    # grace); first call reclaims, second is the idempotent no-op
    rc, res = _run(capsys, ["scd2-recover", "--path", store])
    assert rc == 0 and res["recovered"] is True
    rc, res = _run(capsys, ["scd2-recover", "--path", store])
    assert rc == 0 and res["recovered"] is False

    # point-in-time read: one current row per user at the cut, and the
    # --users form prunes to their buckets while agreeing row-for-row
    rc, res = _run(capsys, [
        "scd2-snapshot", "--path", store, "--ts", "2024-01-25 00:00:00",
    ])
    assert rc == 0 and res["n_rows"] >= 1
    uid = res["rows"][0]["user_id"]
    assert all(r["valid_from"] <= "2024-01-25 00:00:00" for r in res["rows"])
    rc, res1 = _run(capsys, [
        "scd2-snapshot", "--path", store, "--ts", "2024-01-25 00:00:00",
        "--users", str(uid),
    ])
    assert rc == 0 and res1["n_rows"] == 1
    assert res1["rows"][0]["user_id"] == uid

    # guards surface as the CLI's structured error (rc 2)
    rc, res = _run(capsys, [
        "scd2-merge-into", "--data", delta_path,
        "--user", "user_id", "--event", "event_type",
        "--time", "ts", "--order", "event_id",
        "--path", str(tmp_path / "nostore"),
    ])
    assert rc == 2 and "no SCD2 store" in res["error"]
