"""Service-API tests: the CorrelationAPI surface against DuckDB ground
truth and the declared registry keys."""

from __future__ import annotations

import os

import pytest

from correlationapi_spark.api import CorrelationAPI
from correlationapi_spark.registry import load_registry
from correlationapi_spark.testing import duckdb_connect

from .conftest import SF_SMOKE

REGISTRY = load_registry()


@pytest.fixture(scope="module")
def api(spark):
    a = CorrelationAPI(spark)
    for t in ("lineitem", "events", "customer"):
        a.register_dataset(t, os.path.join(SF_SMOKE, f"{t}.parquet"))
    return a


def test_registry_and_variables(api):
    assert api.list_datasets() == ["customer", "events", "lineitem"]
    assert "l_quantity" in api.variables("lineitem")
    assert "l_returnflag" not in api.variables("lineitem")


def test_pairwise_pearson_matches_duckdb(api):
    res = api.correlate("lineitem", "l_quantity", "l_extendedprice")
    con = duckdb_connect(SF_SMOKE)
    want = con.execute(
        "SELECT round(corr(l_quantity, l_extendedprice), 6) FROM lineitem"
    ).fetchone()[0]
    assert res["correlation"] == want
    assert res["n"] == 6000


def test_grouped_pearson(api):
    res = api.correlate(
        "lineitem", "l_quantity", "l_extendedprice", group_by="l_returnflag"
    )
    assert set(res["groups"]) == {"A", "N", "R"}
    for g in res["groups"].values():
        assert -1 <= g["correlation"] <= 1 and g["n"] > 0


def test_spearman_matches_declared_key(api, spark):
    res = api.correlate("lineitem", "l_quantity", "l_extendedprice", method="spearman")
    want = (
        REGISTRY["q_corr_spearman"].fn(spark, SF_SMOKE).collect()[0].spearman_qty_price
    )
    assert res["correlation"] == want


def test_matrix_symmetric_and_consistent(api):
    res = api.correlation_matrix(
        "lineitem", ["l_quantity", "l_extendedprice", "l_discount"]
    )
    m = res["matrix"]
    assert len(m) == 3 and all(m[i][i] == 1.0 for i in range(3))
    assert all(m[i][j] == m[j][i] for i in range(3) for j in range(3))
    pair = api.correlate("lineitem", "l_quantity", "l_extendedprice")
    assert m[0][1] == pair["correlation"]


def test_lagged_matches_declared_key(api, spark):
    res = api.lagged_correlation("events", "ts", "value", lag=1, grain="day")
    # q_corr_lagged rounds the daily means; the API doesn't — compare loosely
    want = REGISTRY["q_corr_lagged"].fn(spark, SF_SMOKE).collect()[0].lag1_autocorr
    assert abs(res["correlation"] - want) < 1e-3
    assert res["n_pairs"] > 0


def test_pairwise_deletion_with_asymmetric_nulls(api, spark):
    # x and y are perfectly correlated on rows where both are present;
    # each also has rows where only IT is present. Pairwise-complete
    # Pearson must be exactly 1.0 — the pre-fix marginal-stddev form
    # diluted the denominator with the unpaired rows (ADVICE r01).
    rows = [(1.0, 2.0), (2.0, 4.0), (3.0, 6.0), (4.0, 8.0)]
    rows += [(100.0, None), (-50.0, None), (None, 70.0), (None, -30.0)]
    df = spark.createDataFrame(rows, "x double, y double")
    api.register_dataset("_nulls", df)
    res = api.correlate("_nulls", "x", "y")
    assert res["correlation"] == 1.0
    assert res["n"] == 4


def test_lagged_correlation_exact_on_linear_series(api, spark):
    # strictly linear daily series → lag-1 autocorrelation is exactly 1;
    # the lag() row has a NULL _prev, which hit the same marginal-stddev
    # bug (ADVICE r01: returned 0.0296 where pairwise Pearson is 1.0)
    rows = [(f"2024-01-{d:02d} 00:00:00", float(d)) for d in range(1, 11)]
    df = spark.createDataFrame(rows, "t string, v double").selectExpr(
        "CAST(t AS TIMESTAMP) AS t", "v"
    )
    api.register_dataset("_series", df)
    res = api.lagged_correlation("_series", "t", "v", lag=1, grain="day")
    assert res["correlation"] == 1.0
    assert res["n_pairs"] == 9


def test_matrix_listwise_deletion(api, spark):
    # a row null in ANY variable must be excluded from EVERY cell: with
    # listwise deletion over (x, y, z), the x-y cell ignores the
    # (5, 500, None) row, so x-y stays exactly 1.0
    rows = [
        (1.0, 10.0, 3.0), (2.0, 20.0, 1.0), (3.0, 30.0, 7.0),
        (4.0, 40.0, 2.0), (5.0, 500.0, None),
    ]
    df = spark.createDataFrame(rows, "x double, y double, z double")
    api.register_dataset("_listwise", df)
    for method in ("pearson", "spearman"):
        m = api.correlation_matrix("_listwise", ["x", "y", "z"], method=method)["matrix"]
        assert m[0][1] == 1.0, method


def test_zero_variance_returns_null_not_crash(api, spark):
    df = spark.createDataFrame(
        [(1.0, 5.0), (2.0, 5.0), (3.0, 5.0)], "x double, y double"
    )
    api.register_dataset("_const", df)
    assert api.correlate("_const", "x", "y")["correlation"] is None


def test_rolling_matches_declared_key(api, spark):
    res = api.rolling_correlation("events", "ts", "value", window=14, lag=1)
    want = {
        str(r.d): (r.rolling_autocorr, r.n_pairs)
        for r in REGISTRY["q_corr_rolling"].fn(spark, SF_SMOKE).collect()
    }
    got = {p["t"]: (p["correlation"], p["n"]) for p in res["series"]}
    assert got.keys() == want.keys() and len(got) > 0
    for t, (c, n) in got.items():
        assert n == want[t][1]
        # API series is unrounded daily means vs the key's rounded — loose
        assert abs(c - want[t][0]) < 1e-3, t


def test_lagged_fill_gaps_restores_alignment(api, spark):
    # a one-day hole in a strictly linear series. Unfilled (round-4
    # epoch-grain semantics): the hole yields NO lag-1 pair — 3 true
    # adjacent pairs, never a (d4, d2) pairing across the hole (the
    # pre-r4 row-based lag produced 4 pairs by slipping across it).
    # Filled: d3 is forward-filled so every lag is a true 1-day step.
    rows = [("2024-01-01 00:00:00", 1.0), ("2024-01-02 00:00:00", 2.0),
            ("2024-01-04 00:00:00", 4.0), ("2024-01-05 00:00:00", 5.0),
            ("2024-01-06 00:00:00", 6.0)]
    df = spark.createDataFrame(rows, "t string, v double").selectExpr(
        "CAST(t AS TIMESTAMP) AS t", "v"
    )
    api.register_dataset("_holey", df)
    filled = api.lagged_correlation("_holey", "t", "v", fill_gaps=True)
    assert filled["n_pairs"] == 5  # spine has 6 days, 5 lag pairs
    unfilled = api.lagged_correlation("_holey", "t", "v")
    assert unfilled["n_pairs"] == 3


def test_covariance(api):
    res = api.covariance("customer", "c_acctbal", "c_nationkey")
    assert res["kind"] == "sample" and isinstance(res["covariance"], float)


def test_errors(api):
    with pytest.raises(KeyError):
        api.correlate("nope", "a", "b")
    with pytest.raises(KeyError):
        api.correlate("lineitem", "nope", "l_quantity")
    with pytest.raises(ValueError):
        api.correlate("lineitem", "l_quantity", "l_tax", method="banana")


def test_results_are_json_serializable(api):
    import json

    for res in (
        api.correlate("lineitem", "l_quantity", "l_tax"),
        api.correlation_matrix("lineitem", ["l_quantity", "l_tax"]),
        api.lagged_correlation("events", "ts", "value"),
    ):
        json.dumps(res)


def test_xcorr_detects_shifted_series(api, spark):
    # y is x shifted one day later: corr(x_t, y_{t+1}) must be exactly 1
    # at lag +1 and below 1 elsewhere (x is a noisy but monotone ramp,
    # so neighbor lags still correlate positively — just not perfectly)
    import datetime as dt
    rows = []
    base = dt.datetime(2024, 1, 1)
    xs = [float(v) for v in (1, 5, 2, 8, 3, 9, 4, 7, 6, 10, 11, 2)]
    for i, xv in enumerate(xs):
        yv = xs[i - 1] if i > 0 else None
        rows.append((base + dt.timedelta(days=i), xv, yv))
    df = spark.createDataFrame(rows, "t timestamp, x double, y double")
    api.register_dataset("shifted", df)
    out = api.cross_correlation("shifted", "t", "x", "y", max_lag=2)
    assert out["lags"]["1"]["correlation"] == pytest.approx(1.0)
    assert out["lags"]["1"]["n"] == len(xs) - 1
    for k in ("-2", "-1", "0", "2"):
        c = out["lags"][k]["correlation"]
        assert c is None or c < 1.0


def test_xcorr_calendar_gap_keeps_true_time_lags(api, spark):
    """Round-4 fix (ADVICE r3): with fill_gaps=False a calendar hole must
    NOT let "lag 1" pair non-adjacent days. y is x shifted one TRUE day;
    day 4 is missing and y on day 5 is junk. Epoch-grain alignment never
    forms a (day 3, day 5) pair, so lag +1 is exactly 1.0 over the 6
    truly-adjacent pairs — row_number indexing would have paired across
    the hole and pulled the junk value in."""
    import datetime as dt

    base = dt.datetime(2024, 3, 1)
    xs = {0: 1.0, 1: 5.0, 2: 2.0, 3: 8.0, 5: 3.0, 6: 9.0, 7: 4.0, 8: 7.0}
    rows = []
    for d, xv in xs.items():
        yv = xs.get(d - 1) if d != 5 else 999.0  # junk at the hole edge
        rows.append((base + dt.timedelta(days=d), xv, yv))
    df = spark.createDataFrame(rows, "t timestamp, x double, y double")
    api.register_dataset("gappy", df)
    out = api.cross_correlation("gappy", "t", "x", "y", max_lag=1)
    assert out["lags"]["1"]["n"] == 6
    assert out["lags"]["1"]["correlation"] == pytest.approx(1.0)


def test_lagged_and_rolling_respect_calendar_gaps(api, spark):
    """Round-4 fix: lag pairing and rolling frames align on the
    epoch-grain index. y_t = x_{t-1} in TRUE days with day 4 missing:
    lag-1 autocorrelation of a monotone-with-noise ramp must use only
    truly-adjacent pairs, and a 3-day rolling window near the hole is
    not full and therefore not emitted."""
    import datetime as dt

    base = dt.datetime(2024, 5, 1)
    vals = {0: 1.0, 1: 2.0, 2: 4.0, 3: 8.0, 5: 999.0, 6: 16.0, 7: 32.0,
            8: 64.0, 9: 128.0}
    df = spark.createDataFrame(
        [(base + dt.timedelta(days=d), v) for d, v in vals.items()],
        "t timestamp, v double",
    )
    api.register_dataset("gappy2", df)
    out = api.lagged_correlation("gappy2", "t", "v", lag=1)
    # adjacent pairs only: (0,1),(1,2),(2,3),(5,6),(6,7),(7,8),(8,9) = 7
    # (3,5) is NOT a lag-1 pair — row-based lag would have included it
    assert out["n_pairs"] == 7

    roll = api.rolling_correlation("gappy2", "t", "v", window=3, lag=1)
    emitted = {r["t"] for r in roll["series"]}
    # a full 3-pair frame needs 3 consecutive pair days: days {1,2,3}
    # (pairs at 1,2,3) and {7,8,9}; day 6's frame spans {4,5,6} with
    # pairs only at 6 — not full, not emitted
    assert str(base + dt.timedelta(days=3)) in emitted
    assert str(base + dt.timedelta(days=6)) not in emitted


def test_xcorr_validates_inputs(api):
    with pytest.raises(ValueError):
        api.cross_correlation("events", "ts", "value", "value", max_lag=0)
    with pytest.raises(ValueError):
        api.cross_correlation("events", "ts", "value", "value", grain="eon")
    with pytest.raises(KeyError):
        api.cross_correlation("events", "nope", "value", "value")


def test_partial_correlation_matches_declared_key(api, spark):
    # same definition as q_corr_partial (grouped by returnflag)
    out = api.partial_correlation(
        "lineitem", "l_quantity", "l_extendedprice", "l_discount",
        group_by="l_returnflag",
    )
    want = {
        r.l_returnflag: r.partial_corr
        for r in REGISTRY["q_corr_partial"].fn(spark, SF_SMOKE).collect()
    }
    got = {g: v["partial_correlation"] for g, v in out["groups"].items()}
    assert set(got) == set(want)
    for g in want:
        assert got[g] == pytest.approx(want[g], abs=2e-6), g


def test_partial_correlation_removes_confound(api, spark):
    # x and y are driven ONLY by z (plus tiny independent wiggles):
    # raw corr(x,y) is high, but controlling for z collapses it
    import math
    rows = []
    for i in range(60):
        z = float(i)
        x = z + math.sin(i * 12.9898) * 0.8
        y = z + math.cos(i * 78.233) * 0.8
        rows.append((x, y, z))
    df = spark.createDataFrame(rows, "x double, y double, z double")
    api.register_dataset("confounded", df)
    raw = api.correlate("confounded", "x", "y")["correlation"]
    part = api.partial_correlation("confounded", "x", "y", "z")
    assert raw > 0.99
    assert abs(part["partial_correlation"]) < 0.3
    assert part["n"] == 60


def test_fill_gaps_quarter_grain_does_not_crash(api):
    # Spark has no QUARTER interval literal; the spine steps 3 months
    # (every _GRAINS member must work with fill_gaps — review finding r02)
    out = api.lagged_correlation(
        "events", "ts", "value", grain="quarter", fill_gaps=True
    )
    assert out["grain"] == "quarter"
    xc = api.cross_correlation(
        "events", "ts", "value", "value", max_lag=1,
        grain="quarter", fill_gaps=True,
    )
    assert "lags" in xc


def test_epoch_grain_index_adjacency_all_grains(spark):
    """_epoch_grain_index's contract: consecutive grain buckets map to
    consecutive integers (that is what makes 'lag k' = k true time
    steps). Checked for every supported grain over a span that crosses
    1970 (negative epochs exercise the floor-vs-truncate distinction in
    the week branch and sign handling everywhere)."""
    import pyspark.sql.functions as F

    from correlationapi_spark.api import _GRAINS, _epoch_grain_index

    steps = {
        "second": "interval 1 second", "minute": "interval 1 minute",
        "hour": "interval 1 hour", "day": "interval 1 day",
        "week": "interval 7 day", "month": "interval 1 month",
        "quarter": "interval 3 month", "year": "interval 1 year",
    }
    for grain in _GRAINS:
        start = {"second": "1969-12-31 23:58:40", "minute": "1969-12-31 23:20:00",
                 "hour": "1969-12-30 00:00:00",
                 "day": "1969-11-10 00:00:00",  # +100 days crosses 1970
                 }.get(grain, "1969-03-03 00:00:00")
        spine = spark.sql(
            f"SELECT explode(sequence(TIMESTAMP '{start}',"
            f" TIMESTAMP '{start}' + INTERVAL 100 {grain.upper() if grain != 'quarter' else 'MONTH'},"
            f" {steps[grain]})) AS raw"
        ).select(F.date_trunc(grain, "raw").alias("_t")).distinct()
        rows = (
            spine.withColumn("_i", _epoch_grain_index(grain))
            .orderBy("_t")
            .collect()
        )
        idx = [r._i for r in rows]
        assert len(idx) >= 10, grain
        diffs = {b - a for a, b in zip(idx, idx[1:])}
        assert diffs == {1}, (grain, sorted(diffs))


def test_correlate_t_statistic(api, spark):
    """t = r*sqrt((n-2)/(1-r^2)) under H0: rho=0, recomputed in plain
    Python from the returned (r, n); NULL for perfect correlation. The
    API computes t from the UNROUNDED r (rounding first distorts 1-r^2
    near |r|=1), so the recomputation from the rounded r is approximate."""
    res = api.correlate("lineitem", "l_quantity", "l_extendedprice")
    r, n = res["correlation"], res["n"]
    assert res["t_stat"] == pytest.approx(
        r * ((n - 2) / (1 - r * r)) ** 0.5, rel=1e-3
    )

    # fresh instance: registering on the module-scoped fixture would
    # make test_registry_and_variables order-dependent
    own = CorrelationAPI(spark)
    df = spark.createDataFrame(
        [(1.0, 2.0), (2.0, 4.0), (3.0, 6.0)], "x double, y double"
    )
    own.register_dataset("_perfect", df)
    perfect = own.correlate("_perfect", "x", "y")
    assert perfect["correlation"] == 1.0 and perfect["t_stat"] is None

    # NaN input column: correlation and t_stat surface as JSON null
    import json

    nan = float("nan")
    own.register_dataset(
        "_nan",
        spark.createDataFrame(
            [(1.0, 2.0), (2.0, nan), (3.0, 4.0)], "x double, y double"
        ),
    )
    res_nan = own.correlate("_nan", "x", "y")
    assert res_nan["correlation"] is None and res_nan["t_stat"] is None
    json.dumps(res_nan, allow_nan=False)  # strict-JSON compatible
    grouped = api.correlate(
        "lineitem", "l_quantity", "l_extendedprice", group_by="l_returnflag"
    )
    for g in grouped["groups"].values():
        assert "t_stat" in g


def _brute_tau_b(xs, ys):
    """O(n^2) reference tau-b straight from the pair definition."""
    n = len(xs)
    con = dis = tx = ty = 0
    for i in range(n):
        for j in range(i + 1, n):
            dx, dy = xs[i] - xs[j], ys[i] - ys[j]
            if dx == 0 and dy == 0:
                continue
            if dx == 0:
                tx += 1
            elif dy == 0:
                ty += 1
            elif dx * dy > 0:
                con += 1
            else:
                dis += 1
    import math

    denom = math.sqrt((con + dis + tx) * (con + dis + ty))
    return None if denom == 0 else (con - dis) / denom


def test_kendall_matches_brute_force(api, spark):
    """The merge-sort tau-b must equal the O(n^2) pair-definition tau-b
    exactly (same float ops) on tie-heavy data, grouped and ungrouped."""
    import random

    rng = random.Random(7)
    rows = [
        (rng.choice("AB"),
         float(rng.randint(0, 8)),       # heavy x ties
         float(rng.randint(0, 5)))       # heavy y ties
        for _ in range(120)
    ]
    df = spark.createDataFrame(rows, "g string, x double, y double")
    own = CorrelationAPI(spark)
    own.register_dataset("_kend", df)

    res = own.correlate("_kend", "x", "y", method="kendall")
    want = _brute_tau_b([r[1] for r in rows], [r[2] for r in rows])
    assert res["correlation"] == pytest.approx(round(want, 6), abs=1e-6)
    assert res["n"] == 120 and res["method"] == "kendall"

    grouped = own.correlate("_kend", "x", "y", method="kendall", group_by="g")
    for gname in ("A", "B"):
        sub = [(x, y) for g, x, y in rows if g == gname]
        want_g = _brute_tau_b([p[0] for p in sub], [p[1] for p in sub])
        got = grouped["groups"][gname]
        assert got["correlation"] == pytest.approx(round(want_g, 6), abs=1e-6)
        assert got["n"] == len(sub)

    # constant variable -> None, not a crash
    own.register_dataset(
        "_kconst",
        spark.createDataFrame([(1.0, 5.0), (2.0, 5.0)], "x double, y double"),
    )
    assert own.correlate("_kconst", "x", "y", method="kendall")["correlation"] is None

    # agreement with spearman's SIGN on a clean monotone relation
    mono = spark.createDataFrame(
        [(float(i), float(i * i)) for i in range(50)], "x double, y double"
    )
    own.register_dataset("_mono", mono)
    assert own.correlate("_mono", "x", "y", method="kendall")["correlation"] == 1.0


def test_kendall_matrix_and_method_validation(api, spark):
    own = CorrelationAPI(spark)
    rows = [(float(i), float(i * i), float(-i)) for i in range(30)]
    own.register_dataset(
        "_kmat", spark.createDataFrame(rows, "x double, y double, z double")
    )
    m = own.correlation_matrix("_kmat", ["x", "y", "z"], method="kendall")
    mat = m["matrix"]
    assert mat[0][1] == 1.0 and mat[0][2] == -1.0 and mat[1][2] == -1.0
    assert all(mat[i][j] == mat[j][i] for i in range(3) for j in range(3))
    # unknown method no longer silently computes pearson
    with pytest.raises(ValueError):
        own.correlation_matrix("_kmat", ["x", "y"], method="banana")


def test_kendall_key_agrees_with_api_tau(api, spark):
    """Two independent tau-b implementations — the declared key's SQL
    pair-counting form and the API's merge-sort counter — must agree on
    the same daily series (within the key's 6-dp presentation round)."""
    key_tau = (
        REGISTRY["q_corr_kendall"].fn(spark, SF_SMOKE).collect()[0].kendall_tau
    )
    from correlationapi_spark.io import load_tables
    from pyspark.sql import functions as F

    dn = (F.unix_micros(F.date_trunc("day", F.col("ts")))
          / F.lit(86400000000)).cast("bigint")
    daily = (
        load_tables(spark, SF_SMOKE)["events"]
        .filter(F.col("event_type").isin("click", "purchase"))
        .groupBy(dn.alias("dn"))
        .agg(
            F.round(F.avg(F.when(F.col("event_type") == "click",
                                 F.col("value"))), 6).alias("x"),
            F.round(F.avg(F.when(F.col("event_type") == "purchase",
                                 F.col("value"))), 6).alias("y"),
        )
        .filter(F.col("x").isNotNull() & F.col("y").isNotNull())
    )
    own = CorrelationAPI(spark)
    own.register_dataset("_kdaily", daily)
    api_tau = own.correlate("_kdaily", "x", "y", method="kendall")["correlation"]
    assert api_tau == pytest.approx(key_tau, abs=2e-6)


def test_acf_is_self_xcorr_nonnegative_lags(api):
    out = api.acf("events", "ts", "value", max_lag=3)
    assert set(out["lags"]) == {"0", "1", "2", "3"}
    assert out["lags"]["0"]["correlation"] == pytest.approx(1.0)
    xc = api.cross_correlation("events", "ts", "value", "value", max_lag=3)
    for k in out["lags"]:
        assert out["lags"][k] == xc["lags"][k]


def test_partial_correlation_t_statistic(api):
    res = api.partial_correlation(
        "lineitem", "l_quantity", "l_extendedprice", "l_discount"
    )
    c, n = res["partial_correlation"], res["n"]
    assert res["t_stat"] == pytest.approx(
        c * ((n - 3) / (1 - c * c)) ** 0.5, rel=1e-3
    )


def test_kendall_matrix_drops_nan_rows_listwise(api, spark):
    """Round 5 (ADVICE r04): NaN passes the listwise IS NOT NULL filter
    and tau_b's integer pair-counting would fold it into a finite but
    WRONG tau. The matrix path must pairwise-delete NaN rows listwise,
    like the pairwise _kendall path does."""
    rows = [(float(i), float(i), float(-i)) for i in range(1, 21)]
    rows.append((float("nan"), -999.0, 999.0))  # poison row
    own = CorrelationAPI(spark)
    own.register_dataset(
        "_knan", spark.createDataFrame(rows, "x double, y double, z double")
    )
    m = own.correlation_matrix("_knan", ["x", "y", "z"], method="kendall")
    mat = m["matrix"]
    # computed over the 20 clean rows only: exact monotone relations
    assert mat[0][1] == 1.0 and mat[0][2] == -1.0 and mat[1][2] == -1.0


def test_kendall_z_stat_no_ties_closed_form(api, spark):
    """z_stat must equal S/sqrt(n(n-1)(2n+5)/18) when there are no ties
    (the ties-adjustment terms all vanish); perfect concordance has
    S = n(n-1)/2."""
    n = 30
    own = CorrelationAPI(spark)
    own.register_dataset(
        "_kz",
        spark.createDataFrame(
            [(float(i), float(i * 3 + 1)) for i in range(n)], "x double, y double"
        ),
    )
    res = own.correlate("_kz", "x", "y", method="kendall")
    s = n * (n - 1) / 2
    want_z = s / (n * (n - 1) * (2 * n + 5) / 18.0) ** 0.5
    assert res["correlation"] == 1.0
    assert res["t_stat"] is None  # kendall has no Student-t
    assert res["z_stat"] == pytest.approx(want_z, abs=1e-6)


def test_kendall_null_group_named_like_other_methods(api, spark):
    """A NULL group key must surface under the SAME name ('None') for
    every method — pearson/spearman use str(row[group_by]); kendall's
    cast-to-string path must coalesce to match (ADVICE r04)."""
    rows = [("a", float(i), float(i + 1)) for i in range(10)]
    rows += [(None, float(i), float(2 * i)) for i in range(10)]
    own = CorrelationAPI(spark)
    own.register_dataset(
        "_gnull", spark.createDataFrame(rows, "g string, x double, y double")
    )
    kend = own.correlate("_gnull", "x", "y", method="kendall", group_by="g")
    pear = own.correlate("_gnull", "x", "y", method="pearson", group_by="g")
    assert set(kend["groups"]) == set(pear["groups"]) == {"a", "None"}
    assert kend["groups"]["None"]["correlation"] == 1.0


def test_acf_pacf_and_significance_band(api):
    """PACF comes from Durbin-Levinson over the ACF vector; lag 1 IS the
    lag-1 autocorrelation, lag 2 has the closed form (r2-r1^2)/(1-r1^2);
    the white-noise band is 1.96/sqrt(series length)."""
    out = api.acf("events", "ts", "value", max_lag=3)
    assert set(out["pacf"]) == {"1", "2", "3"}
    r1 = out["lags"]["1"]["correlation"]
    r2 = out["lags"]["2"]["correlation"]
    assert out["pacf"]["1"] == pytest.approx(r1, abs=1e-9)
    assert out["pacf"]["2"] == pytest.approx(
        (r2 - r1 * r1) / (1 - r1 * r1), abs=1e-6
    )
    n = out["significance"]["n"]
    assert n == out["lags"]["0"]["n"] and n > 0
    assert out["significance"]["band"] == pytest.approx(1.96 / n**0.5, abs=1e-6)


def test_pacf_key_matches_api_recursion(api, spark):
    """The declared q_pacf key (selectExpr chain == DuckDB CTEs) and the
    api's driver-side Durbin-Levinson must produce the same phi_kk when
    fed the same ACF values."""
    from correlationapi_spark.api import _durbin_levinson

    row = REGISTRY["q_pacf"].fn(spark, SF_SMOKE).collect()[0]
    pacf = _durbin_levinson([1.0, row.acf_1, row.acf_2, row.acf_3])
    assert pacf[0] == pytest.approx(row.pacf_1, abs=2e-6)
    assert pacf[1] == pytest.approx(row.pacf_2, abs=2e-6)
    assert pacf[2] == pytest.approx(row.pacf_3, abs=2e-6)


def test_kendall_distributed_matches_sequential_exactly(spark):
    """The block/bucket-decomposed distributed tau-b must equal the
    sequential merge-sort tau-b EXACTLY (same integer counts -> same
    float ops) on tie-heavy data, across degenerate bucket shapes."""
    import random

    from correlationapi_spark.api import _make_tau_b
    from correlationapi_spark.operators.kendall import kendall_tau_distributed

    rng = random.Random(11)
    xs = [float(rng.randint(0, 12)) for _ in range(3000)]
    ys = [x * 0.5 + rng.randint(0, 6) for x in xs]  # correlated + tie-heavy
    df = spark.createDataFrame(list(zip(xs, ys)), "_x double, _y double")
    want = _make_tau_b()(xs, ys)
    assert want is not None
    # tiny fan-outs force rows through ALL THREE pair classes (D1/D2/D3)
    for n_blocks, n_buckets in [(4, 3), (7, 5), (64, 64)]:
        tau, z, n = kendall_tau_distributed(df, n_blocks, n_buckets)
        assert n == 3000
        assert tau == want[0], (n_blocks, n_buckets)  # bit-identical
        assert z == pytest.approx(want[1], rel=1e-12)

    # constant variable -> degenerate contract
    const = spark.createDataFrame([(1.0, float(i)) for i in range(10)],
                                  "_x double, _y double")
    assert kendall_tau_distributed(const)[0] is None


def test_kendall_routes_to_distributed_above_cap(spark, monkeypatch):
    """Service contract (round 5): an ungrouped kendall beyond
    KENDALL_MAX_ROWS no longer refuses — it returns the distributed
    exact result, identical to the sequential answer."""
    import random

    rng = random.Random(13)
    rows = [(float(rng.randint(0, 50)), float(rng.randint(0, 20)))
            for _ in range(8000)]
    own = CorrelationAPI(spark)
    own.register_dataset(
        "_kbig", spark.createDataFrame(rows, "x double, y double")
    )
    seq = own.correlate("_kbig", "x", "y", method="kendall")
    monkeypatch.setattr(CorrelationAPI, "KENDALL_MAX_ROWS", 5000)
    dist = own.correlate("_kbig", "x", "y", method="kendall")
    assert dist["correlation"] == seq["correlation"]
    assert dist["n"] == seq["n"] == 8000
    assert dist["z_stat"] == pytest.approx(seq["z_stat"], abs=1e-6)
    # grouped: a group above the bound routes to the distributed path,
    # groups below it stay sequential — results identical either way
    # (group 'a' is the 8000-row sample > patched cap; 'b' is small)
    grows = [("a", x, y) for x, y in rows]
    grows += [("b", float(i), float(i * 2)) for i in range(20)]
    own.register_dataset(
        "_kbigg",
        spark.createDataFrame(grows, "g string, x double, y double"),
    )
    gres = own.correlate("_kbigg", "x", "y", method="kendall", group_by="g")
    assert gres["groups"]["a"]["correlation"] == seq["correlation"]
    assert gres["groups"]["a"]["n"] == 8000
    assert gres["groups"]["a"]["z_stat"] == pytest.approx(
        seq["z_stat"], abs=1e-6
    )
    assert gres["groups"]["b"]["correlation"] == 1.0  # sequential path


def test_acf_ljung_box(api):
    """Q = n(n+2)*sum(rho_k^2/(n-k)) over the produced lags."""
    out = api.acf("events", "ts", "value", max_lag=3)
    n = out["significance"]["n"]
    want = n * (n + 2) * sum(
        out["lags"][str(k)]["correlation"] ** 2 / (n - k) for k in (1, 2, 3)
    )
    lb = out["significance"]["ljung_box"]
    assert lb["df"] == 3
    assert lb["q"] == pytest.approx(want, abs=1e-6)  # q rounds to 6 dp


def test_kendall_matrix_distributed_above_cap(spark, monkeypatch):
    """A matrix whose listwise sample exceeds the bound routes each pair
    through the distributed decomposition — identical cells."""
    import random

    rng = random.Random(17)
    rows = [
        (float(rng.randint(0, 9)), float(rng.randint(0, 9)), float(-rng.randint(0, 9)))
        for _ in range(4000)
    ]
    own = CorrelationAPI(spark)
    own.register_dataset(
        "_kmbig", spark.createDataFrame(rows, "x double, y double, z double")
    )
    seq = own.correlation_matrix("_kmbig", ["x", "y", "z"], method="kendall")
    monkeypatch.setattr(CorrelationAPI, "KENDALL_MAX_ROWS", 2000)
    dist = own.correlation_matrix("_kmbig", ["x", "y", "z"], method="kendall")
    assert dist["matrix"] == seq["matrix"]


def test_fisher_ci_on_correlate(api, spark):
    """ci_95 = tanh(atanh(r) -/+ 1.96/sqrt(n-3)) from the unrounded r;
    the interval brackets r, and degenerate cases are NULL."""
    import math

    res = api.correlate("lineitem", "l_quantity", "l_extendedprice")
    lo, hi = res["ci_95"]
    r, n = res["correlation"], res["n"]
    assert lo < r < hi
    zr = math.atanh(r)
    half = 1.96 / (n - 3) ** 0.5
    assert lo == pytest.approx(math.tanh(zr - half), abs=1e-4)
    assert hi == pytest.approx(math.tanh(zr + half), abs=1e-4)

    # n <= 3 -> no interval (SE 1/sqrt(n-3) undefined); near-perfect
    # linear data keeps a finite, tight interval hugging 1 (raw r is a
    # hair under 1.0 in floating point, so atanh stays finite)
    own = CorrelationAPI(spark)
    own.register_dataset(
        "_tiny",
        spark.createDataFrame(
            [(1.0, 3.0), (2.0, 5.0), (3.0, 4.0)], "x double, y double"
        ),
    )
    assert own.correlate("_tiny", "x", "y")["ci_95"] is None
    own.register_dataset(
        "_perfect",
        spark.createDataFrame(
            [(float(i), float(2 * i)) for i in range(10)], "x double, y double"
        ),
    )
    perfect = own.correlate("_perfect", "x", "y")
    assert perfect["correlation"] == 1.0
    ci = perfect["ci_95"]
    assert ci is None or ci[0] > 0.999

    # grouped results carry the interval too
    g = api.correlate(
        "lineitem", "l_quantity", "l_extendedprice", group_by="l_returnflag"
    )
    for cell in g["groups"].values():
        assert cell["ci_95"][0] < cell["correlation"] < cell["ci_95"][1]


def test_kendall_null_group_routes_distributed(spark, monkeypatch):
    """A NULL group key above the bound must route through eqNullSafe
    (isin would drop NULL) and come back named 'None' like every other
    method names it."""
    rows = [(None, float(i % 7), float((i * 3) % 5)) for i in range(40)]
    rows += [("a", float(i), float(2 * i)) for i in range(5)]
    own = CorrelationAPI(spark)
    own.register_dataset(
        "_knull_big", spark.createDataFrame(rows, "g string, x double, y double")
    )
    seq = own.correlate("_knull_big", "x", "y", method="kendall", group_by="g")
    monkeypatch.setattr(CorrelationAPI, "KENDALL_MAX_ROWS", 20)
    dist = own.correlate("_knull_big", "x", "y", method="kendall", group_by="g")
    assert set(dist["groups"]) == {"None", "a"}
    assert dist["groups"]["None"]["correlation"] == seq["groups"]["None"]["correlation"]
    assert dist["groups"]["None"]["n"] == 40
    assert dist["groups"]["a"]["correlation"] == 1.0


def test_partial_correlation_multi_control(api):
    """Two controls: the precision-matrix form must equal the recursive
    closed form r_xy.zw = (r_xy.z - r_xw.z*r_yw.z) /
    sqrt((1-r_xw.z^2)(1-r_yw.z^2)) built from first-order partials; a
    1-element list must equal the scalar-control path exactly."""
    x, y, z, w = "l_quantity", "l_extendedprice", "l_discount", "l_tax"

    def r(a, b):
        return api.correlate("lineitem", a, b)["correlation"]

    def first_order(a, b, c):
        denom = (1 - r(a, c) ** 2) * (1 - r(b, c) ** 2)
        return (r(a, b) - r(a, c) * r(b, c)) / denom**0.5

    want = (
        first_order(x, y, z)
        - first_order(x, w, z) * first_order(y, w, z)
    ) / (
        (1 - first_order(x, w, z) ** 2) * (1 - first_order(y, w, z) ** 2)
    ) ** 0.5
    res = api.partial_correlation("lineitem", x, y, [z, w])
    assert res["control"] == [z, w]
    assert res["partial_correlation"] == pytest.approx(want, abs=1e-4)
    # t-stat carries n-2-g df
    c, n = res["partial_correlation"], res["n"]
    assert res["t_stat"] == pytest.approx(
        c * ((n - 4) / (1 - c * c)) ** 0.5, rel=1e-3
    )
    # 1-element list == scalar path
    one = api.partial_correlation("lineitem", x, y, [z])
    scalar = api.partial_correlation("lineitem", x, y, z)
    assert one["partial_correlation"] == scalar["partial_correlation"]
    # degenerate: duplicated variable refuses
    with pytest.raises(ValueError):
        api.partial_correlation("lineitem", x, y, [z, x])


def test_chi2_sf_known_quantiles():
    """_chi2_sf must reproduce the published chi-square table: the 5%
    and 1% critical values for several df, the df-median ~0.5 identity,
    and the exact closed forms P(chi2_2 > x) = e^{-x/2} and
    P(chi2_1 > x) = 2*(1 - Phi(sqrt(x)))."""
    import math

    from correlationapi_spark.api import _chi2_sf

    # (x, df, tail) from standard tables
    for x, df, want in [
        (3.841459, 1, 0.05),
        (5.991465, 2, 0.05),
        (11.070498, 5, 0.05),
        (18.307038, 10, 0.05),
        (6.634897, 1, 0.01),
        (23.209251, 10, 0.01),
    ]:
        assert _chi2_sf(x, df) == pytest.approx(want, abs=5e-7), (x, df)
    # exact closed forms
    for x in (0.5, 1.7, 4.2, 9.0, 25.0):
        assert _chi2_sf(x, 2) == pytest.approx(math.exp(-x / 2), rel=1e-12)
        phi = 0.5 * (1 + math.erf(math.sqrt(x) / math.sqrt(2)))
        assert _chi2_sf(x, 1) == pytest.approx(2 * (1 - phi), rel=1e-10)
    # bounds
    assert _chi2_sf(0.0, 3) == 1.0
    assert _chi2_sf(1e6, 3) == 0.0


def test_acf_ljung_box_p_value(api):
    """acf() now carries the Ljung-Box p-value: consistent with its own
    Q/df through _chi2_sf, in (0, 1], and 6-dp rounded."""
    from correlationapi_spark.api import _chi2_sf

    res = api.acf("events", "ts", "value", max_lag=5)
    lb = res["significance"]["ljung_box"]
    assert lb is not None
    assert 0.0 <= lb["p_value"] <= 1.0
    # p recomputed from the ROUNDED q must agree to ~rounding error
    assert lb["p_value"] == pytest.approx(
        _chi2_sf(lb["q"], lb["df"]), abs=1e-5
    )


def test_spearman_ci_wider_than_pearson(api):
    """ADVICE r05 + review r06: the spearman Fisher-z interval uses
    the Fieller-Hartley-Pearson VARIANCE inflation var(z) = 1.06/(n-3),
    so the SE multiplier is sqrt(1.06) — the spearman band must be ~3%
    wider in z-space than the naive Pearson one (1.06 was the variance
    factor, not the SE factor)."""
    import math

    p = api.correlate("lineitem", "l_quantity", "l_extendedprice")
    s = api.correlate(
        "lineitem", "l_quantity", "l_extendedprice", method="spearman"
    )
    for res, scale in ((p, 1.0), (s, 1.06 ** 0.5)):
        lo, hi = res["ci_95"]
        # recover the half-width in z-space; it must equal 1.96*scale/sqrt(n-3)
        half = (math.atanh(hi) - math.atanh(lo)) / 2
        want = 1.96 * scale / (res["n"] - 3) ** 0.5
        assert half == pytest.approx(want, rel=1e-2), scale


def test_pack_chunks_layout_invariants(spark):
    """Structural invariants of the concat-and-chunk layout that the
    value-hash oracle can't articulate: offsets tile the corpus exactly
    (next off = prev off + n_tok in doc order, starting at 0), chunk
    ids are consistent with the 512 capacity, and documents larger than
    one chunk span exactly ceil-many chunks."""
    rows = sorted(
        REGISTRY["q_pack_chunks"].fn(spark, SF_SMOKE).collect(),
        key=lambda r: r.doc_id,
    )
    assert rows and rows[0].off == 0
    expect_off = 0
    for r in rows:
        assert r.off == expect_off, r.doc_id
        assert r.first_chunk == r.off // 512
        assert r.last_chunk == (r.off + r.n_tok - 1) // 512
        assert r.n_chunks == r.last_chunk - r.first_chunk + 1
        assert r.n_tok >= 1
        expect_off += r.n_tok


def test_dedup_keep_best_policy(spark):
    """The fixture corpus has no exact duplicates (the oracle check on
    q_dedup_keep_best exercises scoring but every cluster is a
    singleton), so the POLICY — highest-quality copy survives — is
    pinned here on synthetic duplicates: same normalized content,
    different quality (one copy padded to the 100-600 char sweet spot,
    one left short), plus a case-only duplicate pair."""
    from correlationapi_spark.api import CorrelationAPI
    from correlationapi_spark.llm.dedup import keep_best_duplicates

    # 91 chars of diverse text: below the 100-char quality band
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi omicron pi rho tau"
    assert len(base) < 100
    poor = "tiny doc"
    rows = [
        # cluster A: identical normalized text, identical raw length ->
        # same quality -> the doc_id tie-break keeps the LOWEST id
        (1, poor),
        (2, poor.upper()),       # case difference normalizes away
        # cluster B: same lower(trim()) content hash, but doc 11's RAW
        # length(text) is padded into the 100-600 quality band while
        # doc 10's is not — the HIGHER-id, higher-quality copy must
        # survive, proving the rank is quality-first, not id order
        (10, base),
        (11, base + " " * 10),   # trim()s away for the hash, counts for len
        # singleton
        (20, "unique document " * 10),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.canonical_id for r in keep_best_duplicates(docs).collect()}
    # equal-quality cluster: lowest id survives (ties break on doc_id)
    assert out[2] == 1 and 1 not in out
    # quality-differentiated cluster: the in-band copy wins despite the
    # higher id
    assert out[10] == 11 and 11 not in out
    assert 20 not in out
    # the SERVICE surface agrees end-to-end
    api = CorrelationAPI(spark)
    api.register_dataset("_kb", docs)
    res = api.dedup("_kb", "doc_id", "text", method="keep_best")
    assert res["method"] == "keep_best"
    assert "threshold" not in res
    assert res["n_duplicates"] == 2
    assert {d["id"]: d["canonical_id"] for d in res["duplicates"]} == out


def test_pack_bpeish_layout_and_tokenizer_param(spark):
    """Round 7: q_pack_bpeish uses the BPE-ish regex counter with a
    256-token capacity through the SAME layout engine; api.pack's
    tokenizer param selects it. Invariants: offsets tile the corpus,
    chunk ids consistent with 256, counts match the declared
    q_text_tokens_bpeish per-doc counts, and the service totals agree
    with the declared key's layout."""
    rows = sorted(
        REGISTRY["q_pack_bpeish"].fn(spark, SF_SMOKE).collect(),
        key=lambda r: r.doc_id,
    )
    counts = {
        r.doc_id: r.bpeish_tokens
        for r in REGISTRY["q_text_tokens_bpeish"].fn(spark, SF_SMOKE).collect()
    }
    assert rows and rows[0].off == 0
    expect_off = 0
    for r in rows:
        assert r.off == expect_off, r.doc_id
        assert r.n_tok == counts[r.doc_id]
        assert r.first_chunk == r.off // 256
        assert r.last_chunk == (r.off + r.n_tok - 1) // 256
        assert r.n_chunks == r.last_chunk - r.first_chunk + 1
        expect_off += r.n_tok
    # the parameterized service surface selects the same counter
    from correlationapi_spark.api import CorrelationAPI

    api = CorrelationAPI(spark)
    api.register_dataset(
        "_packb", spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    )
    res = api.pack("_packb", "doc_id", "text", capacity=256, tokenizer="bpeish")
    assert res["tokenizer"] == "bpeish"
    assert res["n_tokens"] == expect_off
    assert res["n_chunks"] == max(r.last_chunk for r in rows) + 1
    with pytest.raises(ValueError):
        api.pack("_packb", "doc_id", "text", tokenizer="wordpiece")


def test_pack_layout_excludes_zero_token_docs(spark):
    """Round-7 edge: the BPE-ish counter (unlike whitespace split, which
    maps '' to ['']) yields 0 tokens for empty/whitespace-only text, and
    a zero-token row's last_chunk expression floor((off-1)/cap) floors
    to -1 in Spark but truncates to 0 under DuckDB's // at off=0 — so
    zero-token docs are excluded from the layout on BOTH engines. They
    contribute nothing to the running sum; other offsets must tile."""
    from pyspark.sql import functions as F

    from correlationapi_spark.llm.text import pack_chunks_layout

    docs = spark.createDataFrame(
        [(0, ""), (1, "real words here now"), (2, "   "), (3, "more real text")],
        "doc_id long, text string",
    )
    bpeish = F.size(
        F.regexp_extract_all(
            F.col("text"), F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), 0
        )
    )
    out = pack_chunks_layout(docs, 4, n_tok=bpeish).orderBy("doc_id").collect()
    assert [r.doc_id for r in out] == [1, 3]
    assert out[0].off == 0 and out[1].off == out[0].n_tok
    assert all(r.n_chunks >= 1 for r in out)


def test_global_running_sum_matches_sequential(spark):
    """ordering.global_running_sum must equal a driver-side cumsum for
    any partitioning: random values over many input partitions, a total
    order with a unique key, values including zeros and negatives."""
    import random

    from pyspark.sql import functions as F

    from correlationapi_spark.ordering import global_running_sum

    rng = random.Random(5)
    rows = [(i, rng.randint(-50, 50)) for i in range(5000)]
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "k long, v long").repartition(17)
    out = {
        r.k: r.run
        for r in global_running_sum(
            df, [F.col("k").asc()], F.col("v"), alias="run"
        ).collect()
    }
    total = 0
    for k, v in sorted(rows):
        total += v
        assert out[k] == total, k


def test_kendall_distributed_handles_infinite_y(spark):
    """Review r06: approxQuantile returns ±inf boundaries when y has
    enough infinite mass (ratios with zero denominators), which used to
    collide with the Bucketizer's own outer splits and crash. Non-finite
    boundaries are dropped (any monotone bucketing stays exact); the
    result must still match the sequential counter bit-for-bit."""
    import random

    from correlationapi_spark.api import _make_tau_b
    from correlationapi_spark.operators.kendall import kendall_tau_distributed

    rng = random.Random(3)
    xs = [float(rng.randint(0, 20)) for _ in range(2000)]
    ys = [
        float("inf") if i % 2 == 0
        else float("-inf") if i % 7 == 0
        else float(rng.randint(0, 10))
        for i in range(2000)
    ]
    df = spark.createDataFrame(list(zip(xs, ys)), "_x double, _y double")
    want = _make_tau_b()(xs, ys)
    tau, z, n = kendall_tau_distributed(df, 4, 4)
    assert n == 2000 and tau == want[0]
    assert z == pytest.approx(want[1], rel=1e-12)


def test_similar_excludes_undefined_cosine_neighbors(spark):
    """Review r06: a corpus vector with a NaN component produced cosine
    NaN, which sorts FIRST under F.desc — it outranked the true best
    match of every probe. Undefined-cosine rows (NaN element, zero norm)
    must never appear as neighbors, in either engine."""
    own = CorrelationAPI(spark)
    own.register_dataset(
        "_nanvec",
        spark.createDataFrame(
            [
                (0, [1.0, 0.0]),
                (1, [0.9, 0.1]),
                (2, [float("nan"), 1.0]),
                (3, [0.0, 0.0]),        # zero norm: no direction
                (4, [0.0, 1.0]),
            ],
            "vec_id long, embedding array<double>",
        ),
    )
    res = own.similar("_nanvec", "vec_id", "embedding", [0], k=4)
    ids = [n["id"] for n in res["neighbors"]["0"]]
    assert ids[0] == 1          # the genuine nearest neighbor
    assert 2 not in ids and 3 not in ids
    assert all(n["cosine"] is not None for n in res["neighbors"]["0"])


def test_dedup_rejects_bad_inputs_and_excludes_null_rows(spark):
    """Review r06: a string id column used to be silently cast to NULL
    longs (exact path then reported 0 duplicates with no error), and
    NULL texts hashed into one sha2 group reported as mutual
    duplicates. Now: non-integral id -> TypeError; NULL-id/NULL-text
    rows are excluded and counted in n_excluded."""
    own = CorrelationAPI(spark)
    own.register_dataset(
        "_sids",
        spark.createDataFrame(
            [("a", "same text"), ("b", "same text")], "k string, text string"
        ),
    )
    with pytest.raises(TypeError):
        own.dedup("_sids", "k", "text")

    own.register_dataset(
        "_nulls",
        spark.createDataFrame(
            [
                (1, "dup"), (2, "dup"),
                (3, None), (4, None),   # NULL text: no content to compare
                (None, "dup"),          # NULL id: no identity
            ],
            "k long, text string",
        ),
    )
    res = own.dedup("_nulls", "k", "text")
    assert res["n_excluded"] == 3
    assert res["duplicates"] == [{"id": 2, "canonical_id": 1}]


def test_similar_rejects_bad_ivf_params_and_string_ids(spark):
    own = CorrelationAPI(spark)
    own.register_dataset(
        "_v",
        spark.createDataFrame(
            [(1, [1.0, 0.0]), (2, [0.0, 1.0])],
            "vec_id long, embedding array<double>",
        ),
    )
    with pytest.raises(ValueError):
        own.similar("_v", "vec_id", "embedding", [1], method="ivf", n_cells=0)
    with pytest.raises(ValueError):
        own.similar("_v", "vec_id", "embedding", [1], method="ivf", n_probe=0)
    own.register_dataset(
        "_vs",
        spark.createDataFrame(
            [("x", [1.0, 0.0])], "vec_id string, embedding array<double>"
        ),
    )
    with pytest.raises(TypeError):
        own.similar("_vs", "vec_id", "embedding", [1])


def test_ivf_index_survives_nan_element_vectors(spark):
    """Review r06 second pass: `_n > 0` alone let NaN-element vectors
    into the index (NaN > 0 is TRUE in Spark), and one all-NaN
    normalized row poisons every KMeans centroid. Such rows must be
    dropped at indexing time, and the IVF answer over the healthy rows
    must match the exact engine's."""
    own = CorrelationAPI(spark)
    rows = [(i, [float(i % 7) + 1.0, float((i * 3) % 5)]) for i in range(40)]
    rows.append((99, [float("nan"), 1.0]))
    own.register_dataset(
        "_nanivf",
        spark.createDataFrame(rows, "vec_id long, embedding array<double>"),
    )
    exact = own.similar("_nanivf", "vec_id", "embedding", [0, 1], k=3)
    ivf = own.similar(
        "_nanivf", "vec_id", "embedding", [0, 1],
        k=3, method="ivf", n_cells=2, n_probe=2,
    )
    # n_probe == n_cells probes everything: must equal exact, and the
    # NaN row must appear in neither
    assert ivf["neighbors"] == exact["neighbors"]
    for ns in exact["neighbors"].values():
        assert all(n["id"] != 99 for n in ns)


def test_ivf_index_survives_inf_element_vectors(spark):
    """Round 12: an ±inf ELEMENT slipped the r06 guard by another door
    — the norm is +inf (not NaN, and > 0), and normalizing yields
    inf/inf = NaN at that element, the same KMeans-global poisoning
    the NaN guard exists for (the numpy scale twin always checked
    isfinite; the expression path now matches it). The inf row must be
    dropped at indexing AND at ivf_assign time, centroids must come
    out finite, and the IVF answer over healthy rows must match the
    exact engine's."""
    import math

    from pyspark.sql import functions as F

    from correlationapi_spark.llm.similarity import (
        corpus_view,
        ivf_assign,
        ivf_index,
    )

    own = CorrelationAPI(spark)
    rows = [(i, [float(i % 7) + 1.0, float((i * 3) % 5)]) for i in range(40)]
    rows.append((99, [float("inf"), 1.0]))
    rows.append((98, [-float("inf"), 2.0]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    own.register_dataset("_infivf", df)
    exact = own.similar("_infivf", "vec_id", "embedding", [0, 1], k=3)
    ivf = own.similar(
        "_infivf", "vec_id", "embedding", [0, 1],
        k=3, method="ivf", n_cells=2, n_probe=2,
    )
    assert ivf["neighbors"] == exact["neighbors"]
    for ns in exact["neighbors"].values():
        assert all(n["id"] not in (98, 99) for n in ns)

    corpus = corpus_view(df, "vec_id", "embedding")
    assigned, cents = ivf_index(corpus, n_cells=2)
    got_ids = {r.vec_id for r in assigned.select("vec_id").collect()}
    assert 98 not in got_ids and 99 not in got_ids
    for r in cents.collect():  # no poisoned centroid
        assert all(math.isfinite(x) for x in r.cv)
    # the fixed-centroid assign applies the same finite-norm guard
    re_ids = {
        r.vec_id
        for r in ivf_assign(cents, corpus).select("vec_id").collect()
    }
    assert re_ids == got_ids


def test_pack_duplicate_ids_deterministic(spark):
    """Review r06 second pass: the layout order is (doc_id, n_tok), so
    a table with repeated ids still yields a deterministic layout
    multiset (tied rows are interchangeable in every output column)."""
    own = CorrelationAPI(spark)
    own.register_dataset(
        "_dupids",
        spark.createDataFrame(
            [(1, "a b c"), (1, "d e"), (2, "f")], "k long, text string"
        ),
    )
    r1 = own.pack("_dupids", "k", "text", capacity=4)
    r2 = own.pack("_dupids", "k", "text", capacity=4)
    assert r1["documents"] == r2["documents"]
    assert r1["n_tokens"] == 6 and r1["n_chunks"] == 2
    offs = sorted(d["off"] for d in r1["documents"])
    assert offs == [0, 2, 5]  # (1,"d e") before (1,"a b c") by n_tok


def test_assign_service(spark):
    """api.assign (round 7): per-cell counts + listing agree with the
    declared q_sim_assign key when given the same centroid set."""
    from correlationapi_spark.api import CorrelationAPI

    api = CorrelationAPI(spark)
    api.register_dataset(
        "_asn", spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    )
    res = api.assign("_asn", "vec_id", "embedding", centroid_ids=list(range(8)))
    key_rows = {
        r.vec_id: (r.cell, r.cosine)
        for r in REGISTRY["q_sim_assign"].fn(spark, SF_SMOKE).collect()
    }
    assert res["n_assigned"] == len(key_rows)
    assert sum(res["cells"].values()) == res["n_assigned"]
    for a in res["assignments"][:50]:
        cell, cos = key_rows[a["id"]]
        assert (a["cell"], a["cosine"]) == (cell, cos)
    with pytest.raises(ValueError):
        api.assign("_asn", "vec_id", "embedding", centroid_ids=[])


def test_assign_service_large_k_routes_numpy(spark):
    """k > 32 routes to the numpy matmul twin (round 8). Contract-level
    check: every vector assigned, per-cell totals exact, and the same
    centroid set through the expression engine yields identical cells
    (parity on the margin-separated fixture)."""
    from correlationapi_spark.api import CorrelationAPI
    from correlationapi_spark.llm.similarity import (
        corpus_view,
        nearest_centroid_assign,
    )

    api = CorrelationAPI(spark)
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    api.register_dataset("_asn_big", emb)
    ids = list(range(0, 200, 5))  # k=40 > the 32 routing threshold
    res = api.assign("_asn_big", "vec_id", "embedding", centroid_ids=ids,
                     limit=5000)
    assert res["n_assigned"] == sum(res["cells"].values())
    expr = {
        r.vec_id: r.cell
        for r in nearest_centroid_assign(
            corpus_view(emb, "vec_id", "embedding"), ids
        ).collect()
    }
    assert res["n_assigned"] == len(expr)
    for a in res["assignments"]:
        assert expr[a["id"]] == a["cell"]


def test_pack_bpeish_on_renamed_text_column(spark):
    """Review r07 regression: the bpeish counter must be built on the
    _docs_view projection's 'text' column, not the caller's raw column
    name — a dataset whose text column isn't literally named 'text'
    used to raise UNRESOLVED_COLUMN (HTTP 500)."""
    from correlationapi_spark.api import CorrelationAPI

    api = CorrelationAPI(spark)
    df = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").withColumnRenamed(
        "text", "body"
    )
    api.register_dataset("_renamed", df)
    res = api.pack("_renamed", "doc_id", "body", capacity=256, tokenizer="bpeish")
    assert res["tokenizer"] == "bpeish" and res["n_tokens"] > 0


def test_assign_duplicate_ids_and_missing_centroids(spark):
    """Review r07 (both confirmed live): duplicate caller ids must EACH
    keep their assignment (the argmax window partitions by a row-unique
    synthetic id, not vec_id), and a centroid id absent from the
    dataset — or zero-norm — must raise instead of silently routing
    every vector among the remaining cells."""
    from correlationapi_spark.api import CorrelationAPI

    api = CorrelationAPI(spark)
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (5, [1.0, 0.1]), (5, [0.1, 1.0]),
         (9, [0.0, 0.0])],  # zero-norm row: excluded, and invalid as centroid
        "vec_id long, embedding array<double>",
    )
    api.register_dataset("_dupasn", df)
    res = api.assign("_dupasn", "vec_id", "embedding", centroid_ids=[0, 1])
    assert res["n_assigned"] == 4  # zero-norm row excluded, dups kept
    assert sorted(
        a["cell"] for a in res["assignments"] if a["id"] == 5
    ) == [0, 1]
    with pytest.raises(ValueError, match="99"):
        api.assign("_dupasn", "vec_id", "embedding", centroid_ids=[0, 99])
    with pytest.raises(ValueError, match="9"):  # zero-norm centroid
        api.assign("_dupasn", "vec_id", "embedding", centroid_ids=[0, 9])


# -- round-8 association/distribution endpoints ---------------------------


@pytest.fixture(scope="module")
def api_orders(spark):
    a = CorrelationAPI(spark)
    a.register_dataset("orders", os.path.join(SF_SMOKE, "orders.parquet"))
    a.register_dataset("lineitem", os.path.join(SF_SMOKE, "lineitem.parquet"))
    return a


def test_association_cramer_matches_declared_key(api_orders, spark):
    key = REGISTRY["q_corr_cramer"].fn(spark, SF_SMOKE).collect()[0]
    res = api_orders.association("orders", "o_orderpriority", "o_orderstatus")
    assert res["dof"] == key.dof
    assert abs(res["chi2"] - key.chi2) < 1e-4
    assert abs(res["cramers_v"] - key.cramers_v) < 1e-6
    assert res["n"] == key.n_rows


def test_association_theil_matches_declared_key(api_orders, spark):
    key = REGISTRY["q_theil_u"].fn(spark, SF_SMOKE).collect()[0]
    res = api_orders.association(
        "orders", "o_orderpriority", "o_orderstatus", method="theil"
    )
    for field in ("u_a_given_b", "u_b_given_a", "h_a", "h_b"):
        assert abs(res[field] - getattr(key, field)) < 1e-6, field
    assert 0.0 <= res["u_a_given_b"] <= 1.0
    assert 0.0 <= res["u_b_given_a"] <= 1.0


def test_association_mi_self_equals_entropy(api_orders):
    # I(X;X) = H(X): self-MI must equal the marginal entropy and NMI = 1
    res = api_orders.association(
        "lineitem", "l_returnflag", "l_returnflag", method="mi"
    )
    assert abs(res["mi_nats"] - res["h_a"]) < 1e-9
    assert abs(res["nmi"] - 1.0) < 1e-9
    # independent-ish pair: MI is tiny but never negative
    res2 = api_orders.association(
        "lineitem", "l_returnflag", "l_linestatus", method="mi"
    )
    assert res2["mi_nats"] >= -1e-12


def test_association_eta_matches_declared_key(api_orders, spark):
    key = REGISTRY["q_corr_eta"].fn(spark, SF_SMOKE).collect()[0]
    res = api_orders.association(
        "orders", "o_orderpriority", "o_totalprice", method="eta"
    )
    assert abs(res["eta2"] - key.eta2) < 1e-5
    assert abs(res["eta"] - key.eta) < 1e-5
    assert res["n"] == key.n_rows


def test_association_validation(api_orders):
    with pytest.raises(ValueError, match="unknown method"):
        api_orders.association("orders", "o_orderpriority", "o_orderstatus",
                               method="bogus")
    with pytest.raises(KeyError, match="unknown variable"):
        api_orders.association("orders", "nope", "o_orderstatus")
    # the cell cap measures category cardinality, not rows
    api_orders.ASSOC_MAX_CELLS = 3
    try:
        with pytest.raises(ValueError, match="cells"):
            api_orders.association("orders", "o_orderpriority", "o_orderstatus")
    finally:
        del api_orders.ASSOC_MAX_CELLS  # restore the class attribute


def test_distribution_matches_declared_moments(api_orders, spark):
    keys = {r.l_returnflag: r
            for r in REGISTRY["q_agg_moments"].fn(spark, SF_SMOKE).collect()}
    res = api_orders.distribution(
        "lineitem", "l_extendedprice", group_by="l_returnflag"
    )
    assert set(res["groups"]) == set(keys)
    for flag, cell in res["groups"].items():
        # built-in population moments vs the exact power-sum spelling:
        # same definition, float-path differences only
        assert abs(cell["skewness"] - keys[flag].skewness) < 1e-4, flag
        assert abs(cell["kurtosis_excess"] - keys[flag].kurtosis_excess) < 2e-3, flag
        assert cell["n"] == keys[flag].n_rows


def test_distribution_gini_matches_declared_key(api_orders, spark):
    key = REGISTRY["q_agg_gini"].fn(spark, SF_SMOKE).collect()[0]
    res = api_orders.distribution("orders", "o_totalprice", gini=True)
    assert abs(res["gini"] - key.gini) < 1e-5
    assert 0.0 <= res["gini"] <= 1.0
    assert res["n"] == key.n_rows


def test_distribution_gini_rejects_negatives(api_orders, spark):
    df = spark.createDataFrame([(-1.0,), (2.0,), (3.0,)], ["v"])
    api_orders.register_dataset("negs", df)
    with pytest.raises(ValueError, match="non-negative"):
        api_orders.distribution("negs", "v", gini=True)


def test_association_distribution_json_serializable(api_orders):
    import json

    for res in (
        api_orders.association("orders", "o_orderpriority", "o_orderstatus"),
        api_orders.association("orders", "o_orderpriority", "o_totalprice",
                               method="eta"),
        api_orders.distribution("orders", "o_totalprice", gini=True,
                                group_by="o_orderstatus"),
    ):
        json.dumps(res)


def test_compare_matches_declared_keys(api_orders, spark):
    ks = REGISTRY["q_ks_test"].fn(spark, SF_SMOKE).collect()[0]
    mw = REGISTRY["q_mannwhitney"].fn(spark, SF_SMOKE).collect()[0]
    res = api_orders.compare("orders", "o_totalprice", "o_orderstatus",
                             "F", "O")
    # micro-unit (1e-6) vs cent (1e-2) quantization of 2-dp money is
    # the same integer lattice scaled 1e4 — identical statistics
    assert abs(res["ks_d"] - ks.ks_d) < 1e-9
    assert abs(res["ks_stat"] - ks.ks_stat) < 1e-9
    assert res["mw_u1"] == mw.u1 and res["mw_u2"] == mw.u2
    assert abs(res["mw_z"] - mw.z) < 1e-9
    assert res["groups"]["F"]["n"] == ks.n_f
    assert res["groups"]["O"]["n"] == ks.n_o
    import json
    json.dumps(res)


def test_anova_matches_declared_keys(api_orders, spark):
    import os as _os

    api_orders.register_dataset(
        "customer", _os.path.join(SF_SMOKE, "customer.parquet")
    )
    key = REGISTRY["q_anova"].fn(spark, SF_SMOKE).collect()[0]
    res = api_orders.anova("customer", "c_acctbal", "c_mktsegment")
    # micro-unit (1e-6) vs cent (1e-2) quantization of 2-dp money is
    # the same integer lattice scaled 1e4 — F and eta2 are
    # scale-invariant, so the service must reproduce the key exactly
    assert abs(res["f_stat"] - key.f_stat) < 1e-6
    assert abs(res["eta2"] - key.eta2) < 1e-6
    assert res["df_between"] == key.df_between
    assert res["df_within"] == key.df_within
    assert sum(g["n"] for g in res["groups"].values()) == key.n_rows
    import json
    json.dumps(res)


def test_anova_median_center_matches_levene_key(api_orders, spark):
    key = REGISTRY["q_levene"].fn(spark, SF_SMOKE).collect()[0]
    res = api_orders.anova("orders", "o_totalprice", "o_orderpriority",
                           center="median")
    assert abs(res["w_stat"] - key.w_stat) < 1e-6
    assert res["df_between"] == key.df_between
    assert res["df_within"] == key.df_within
    first = next(iter(res["groups"].values()))
    assert first["mean_absdev"] >= 0.0


def test_anova_validation(api_orders):
    with pytest.raises(ValueError, match="unknown center"):
        api_orders.anova("orders", "o_totalprice", "o_orderstatus",
                         center="mode")
    with pytest.raises(KeyError):
        api_orders.anova("orders", "o_totalprice", "nope")


def test_integrity_matches_declared_key(api_orders, spark):
    import os as _os

    api_orders.register_dataset(
        "customer", _os.path.join(SF_SMOKE, "customer.parquet")
    )
    key = {
        r.relation: r
        for r in REGISTRY["q_fk_integrity"].fn(spark, SF_SMOKE).collect()
    }["orders->customer"]
    res = api_orders.integrity("orders", "o_custkey", "customer",
                               "c_custkey")
    assert res["n_child"] == key.n_child
    assert res["n_null_fk"] == key.n_null_fk
    assert res["n_orphans"] == key.n_orphans
    import json
    json.dumps(res)


def test_integrity_detects_orphans(api_orders, spark):
    import os as _os

    api_orders.register_dataset(
        "customer", _os.path.join(SF_SMOKE, "customer.parquet")
    )
    # parent restricted to even keys → odd-FK children become orphans
    api_orders._datasets["customer_half"] = (
        api_orders._get("customer").filter("c_custkey % 2 = 0")
    )
    res = api_orders.integrity("orders", "o_custkey", "customer_half",
                               "c_custkey")
    assert res["n_orphans"] > 0 and res["orphan_share"] > 0.0


def test_basket_matches_declared_key(api_orders, spark):
    import os as _os

    from correlationapi_spark.io import load_tables

    import pyspark.sql.functions as F

    t = load_tables(spark, SF_SMOKE)
    joined = (
        t["lineitem"]
        .join(t["part"], F.col("l_partkey") == F.col("p_partkey"))
        .select(
            F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("b")
        )
    )
    api_orders._datasets["baskets"] = joined
    key = {
        (r.b1, r.b2): r
        for r in REGISTRY["q_basket_lift"].fn(spark, SF_SMOKE).collect()
    }
    res = api_orders.basket("baskets", "ok", "b", min_count=10, limit=10)
    assert res["pairs"], "expected at least one rule at min_count=10"
    for pair in res["pairs"]:
        k = key[(pair["a"], pair["b"])]
        assert pair["n_baskets"] == k.n_orders
        assert abs(pair["lift"] - k.lift) < 1e-9
    lifts = [p["lift"] for p in res["pairs"]]
    assert lifts == sorted(lifts, reverse=True)


def test_changepoint_matches_declared_key(api_orders, spark):
    import os as _os

    api_orders.register_dataset(
        "events", _os.path.join(SF_SMOKE, "events.parquet")
    )
    key = {
        str(r.d): r
        for r in REGISTRY["q_drift_cusum"].fn(spark, SF_SMOKE).collect()
    }
    res = api_orders.changepoint("events", "value", "ts")
    assert set(res["periods"]) == set(key)
    for d, cell in res["periods"].items():
        assert abs(cell["cusum"] - key[d].cusum) < 1e-9
        assert cell["n"] == key[d].n_events
    assert res["changepoint"] in key
    assert abs(res["peak_cusum"]) == max(
        abs(c["cusum"]) for c in res["periods"].values()
    )


def test_pca_matches_declared_key(api_orders, spark):
    import os as _os

    api_orders.register_dataset(
        "embeddings", _os.path.join(SF_SMOKE, "embeddings.parquet")
    )
    key = REGISTRY["q_embed_pca"].fn(spark, SF_SMOKE).collect()
    res = api_orders.pca("embeddings", "vec_id", "embedding", k=8)
    assert len(res["components"]) == len(key) == 8
    for got, exp in zip(res["components"], key):
        assert got["component"] == exp.component
        assert abs(got["eigenvalue"] - exp.eigenvalue) < 1e-9
        assert abs(got["explained_var"] - exp.explained_var) < 1e-9


def test_trend_matches_declared_key(api_orders, spark):
    import os as _os

    api_orders.register_dataset(
        "events", _os.path.join(SF_SMOKE, "events.parquet")
    )
    key = {
        r.event_type: r
        for r in REGISTRY["q_ols_daily"].fn(spark, SF_SMOKE).collect()
    }
    res = api_orders.trend("events", "value", "ts",
                           group_by="event_type")
    assert set(res["groups"]) == set(key)
    for g, cell in res["groups"].items():
        assert abs(cell["slope"] - key[g].slope) < 1e-9
        assert abs(cell["intercept"] - key[g].intercept) < 1e-9
        assert abs(cell["r2"] - key[g].r2) < 1e-9
        assert cell["n_periods"] == key[g].n_days
    # ungrouped: single _all cell with a finite fit
    res = api_orders.trend("events", "value", "ts")
    assert set(res["groups"]) == {"_all"}
    assert res["groups"]["_all"]["n_periods"] > 1


def test_correlate_bicor_matches_declared_key(api_orders, spark):
    import os as _os

    api_orders.register_dataset(
        "lineitem", _os.path.join(SF_SMOKE, "lineitem.parquet")
    )
    key = {
        r.l_returnflag: r
        for r in REGISTRY["q_corr_bicor"].fn(spark, SF_SMOKE).collect()
    }
    res = api_orders.correlate(
        "lineitem", "l_extendedprice", "l_quantity",
        method="bicor", group_by="l_returnflag",
    )
    assert set(res["groups"]) == set(key)
    # micro-unit (1e-6) quantization of 2-dp money is the same integer
    # lattice scaled 1e4, and bicor is scale-invariant BUT the weight
    # quantization sees identical u on the scaled lattice, so the
    # service reproduces the key to float precision
    for g, cell in res["groups"].items():
        assert abs(cell["correlation"] - key[g].bicor) < 1e-6, g
        assert cell["n"] == key[g].n_rows
    # ungrouped form returns one flat cell with the t statistic shape
    flat = api_orders.correlate(
        "lineitem", "l_extendedprice", "l_quantity", method="bicor"
    )
    assert flat["n"] > 0 and "t_stat" in flat and flat["ci_95"] is None


def test_forecast_matches_declared_keys(api_orders, spark):
    import os as _os

    api_orders.register_dataset(
        "events", _os.path.join(SF_SMOKE, "events.parquet")
    )
    holt = {
        r.event_type: r
        for r in REGISTRY["q_ts_holt"].fn(spark, SF_SMOKE).collect()
    }
    res = api_orders.forecast("events", "value", "ts",
                              group_by="event_type", method="holt")
    assert set(res["groups"]) == set(holt)
    for g, cell in res["groups"].items():
        assert abs(cell["level"] - holt[g].level) < 1e-6, g
        assert abs(cell["forecast_1"] - holt[g].forecast_1) < 1e-6, g
    naive = {
        r.event_type: r
        for r in REGISTRY["q_forecast_naive"].fn(spark, SF_SMOKE).collect()
    }
    res = api_orders.forecast("events", "value", "ts",
                              group_by="event_type", method="naive")
    for g, cell in res["groups"].items():
        assert abs(cell["wape"] - naive[g].wape) < 1e-9, g
        assert cell["n_forecasts"] == naive[g].n_forecasts
    with pytest.raises(ValueError, match="unknown method"):
        api_orders.forecast("events", "value", "ts", method="arima")


def test_compare_validation(api_orders):
    with pytest.raises(ValueError, match="empty sample"):
        api_orders.compare("orders", "o_totalprice", "o_orderstatus",
                           "F", "NOPE")
    with pytest.raises(KeyError):
        api_orders.compare("orders", "o_totalprice", "nope", "F", "O")


def test_drift_matches_declared_keys(api_orders, spark):
    import os as _os

    api_orders.register_dataset(
        "events", _os.path.join(SF_SMOKE, "events.parquet")
    )
    ks = {str(r.d): r for r in
          REGISTRY["q_drift_daily"].fn(spark, SF_SMOKE).collect()}
    psi = {str(r.d): r for r in
           REGISTRY["q_drift_psi"].fn(spark, SF_SMOKE).collect()}
    res = api_orders.drift("events", "value", "ts", grain="day")
    assert set(res["periods"]) == set(ks)
    for d, cell in res["periods"].items():
        assert cell["ks_d"] == ks[d].ks_d, d
        assert cell["psi"] == psi[d].psi, d
        assert cell["n"] == ks[d].n_day
    import json
    json.dumps(res)
    with pytest.raises(ValueError, match="unsupported grain"):
        api_orders.drift("events", "value", "ts", grain="minute")


def test_mixed_matrix_measures_and_consistency(api_orders, spark):
    res = api_orders.mixed_matrix(
        "orders",
        ["o_totalprice", "o_custkey", "o_orderstatus", "o_orderpriority"],
    )
    assert res["numeric"] == ["o_totalprice", "o_custkey"]
    assert res["categorical"] == ["o_orderstatus", "o_orderpriority"]
    m = res["matrix"]
    # type-appropriate measure per cell, symmetric entries share objects
    assert m["o_totalprice"]["o_custkey"]["measure"] == "pearson"
    assert m["o_orderstatus"]["o_orderpriority"]["measure"] == "cramers_v"
    assert m["o_orderstatus"]["o_totalprice"]["measure"] == "eta"
    assert m["o_totalprice"]["o_orderstatus"]["measure"] == "eta"
    assert m["o_totalprice"]["o_totalprice"]["measure"] == "self"
    # values agree with the dedicated endpoints
    pear = api_orders.correlate("orders", "o_totalprice", "o_custkey")
    assert m["o_totalprice"]["o_custkey"]["value"] == pear["correlation"]
    cram = api_orders.association("orders", "o_orderstatus",
                                  "o_orderpriority")
    assert m["o_orderstatus"]["o_orderpriority"]["value"] == cram["cramers_v"]
    eta = api_orders.association("orders", "o_orderstatus", "o_totalprice",
                                 method="eta")
    assert m["o_orderstatus"]["o_totalprice"]["value"] == eta["eta"]
    import json
    json.dumps(res)
    with pytest.raises(TypeError, match="neither"):
        api_orders.mixed_matrix("orders", ["o_orderdate", "o_totalprice"])


def test_survival_closed_form(api_orders, spark):
    """Hand-computable curve through the api: starts at day 0; ends at
    day 1 (event), day 2 (event), two NULLs (censored at the horizon =
    max(end) = day 2). KM: S(1) = 1·(1−1/4) = 0.75; S(2) = 0.75·(1−1/3)
    = 0.5 — and the censored rows never count as events."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0, t0 + dt.timedelta(days=1)),
        (2, t0, t0 + dt.timedelta(days=2)),
        (3, t0, None),
        (4, t0, None),
    ]
    df = spark.createDataFrame(rows, "id long, s timestamp, p timestamp")
    api_orders.register_dataset("surv", df)
    res = api_orders.survival("surv", "s", "p")
    got = {c["duration_days"]: c for c in res["curve"]}
    assert set(got) == {1, 2}
    assert got[1]["survival"] == 0.75 and got[1]["n_at_risk"] == 4
    assert got[2]["survival"] == 0.5 and got[2]["n_at_risk"] == 3
    import json
    json.dumps(res)


def test_survival_logrank_option(api_orders, spark):
    from correlationapi_spark.io import load_tables
    from pyspark.sql import functions as F

    t = load_tables(spark, SF_SMOKE)
    users = (
        t["events"]
        .groupBy("user_id")
        .agg(
            F.min(F.when(F.col("event_type") == "signup", F.col("ts")))
            .alias("s"),
            F.min(F.when(F.col("event_type") == "purchase", F.col("ts")))
            .alias("p"),
        )
        .filter(F.col("s").isNotNull())
        .withColumn("cohort",
                    F.when(F.col("user_id") % 2 == 0, "even")
                    .otherwise("odd"))
    )
    api_orders.register_dataset("users2", users)
    res = api_orders.survival("users2", "s", "p", group_by="cohort",
                              group_a="even", group_b="odd")
    assert "logrank" in res and res["logrank"]["z"] is not None
    with pytest.raises(ValueError, match="group_a"):
        api_orders.survival("users2", "s", "p", group_by="cohort")


def test_kmeans_service_contract_and_monotone_objective(spark):
    """api.kmeans (round 8): every non-zero-norm vector assigned, cells
    sum exactly, the spherical-k-means objective (mean cosine to the
    assigned centroid) is non-decreasing per Lloyd iteration, and
    include_centroids returns k x d rounded means."""
    from correlationapi_spark.api import CorrelationAPI

    api = CorrelationAPI(spark)
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    api.register_dataset("_km", emb)
    res = api.kmeans("_km", "vec_id", "embedding", k=4, n_iter=6,
                     tol=-1.0, include_centroids=True)
    assert res["k"] == 4 and res["iterations"] == 6
    assert not res["converged"]  # tol=-1 can never be reached
    assert sum(res["cells"].values()) == res["n_assigned"] > 0
    assert len(res["objective"]) == 6 == len(res["shifts"])
    for a, b in zip(res["objective"], res["objective"][1:]):
        assert b >= a - 1e-9
    d = len(emb.select("embedding").first()[0])
    assert len(res["centroids"]) == 4
    assert all(len(c) == d for c in res["centroids"])
    for c, m in res["mean_cosine"].items():
        assert m is None or -1.0 <= m <= 1.0

    with pytest.raises(ValueError):
        api.kmeans("_km", "vec_id", "embedding", k=0)
    with pytest.raises(ValueError):
        api.kmeans("_km", "vec_id", "embedding", n_iter=0)


def test_kmeans_recovers_separated_clusters(spark):
    """Margin-separated fixture: three orthogonal direction clusters
    with ids interleaved so the deterministic seeds (lowest 3 ids) land
    one per cluster — Lloyd must recover the exact partition and report
    convergence."""
    from correlationapi_spark.llm.similarity import (
        corpus_view,
        kmeans_lloyd,
    )

    rows = []
    for i in range(90):
        c = i % 3
        v = [0.0] * 6
        v[c] = 1.0
        v[3 + c] = 0.05 * ((i * 7 % 11) / 11.0)  # deterministic jitter
        rows.append((i, v))
    df = spark.createDataFrame(rows, ["vec_id", "emb"])
    res = kmeans_lloyd(
        corpus_view(df, "vec_id", "emb"), k=3, n_iter=10, tol=1e-6
    )
    assert res["converged"]
    assert sorted(res["cells"].values()) == [30, 30, 30]
    # each recovered centroid points dominantly along one distinct axis
    import numpy as np

    axes = {int(np.argmax(np.abs(c[:3]))) for c in res["centroids"]}
    assert axes == {0, 1, 2}
    assert all(m is not None and m > 0.99 for m in res["mean_cosine"].values())


def test_event_analytics_services(spark):
    """api.transitions / api.attribution / api.pagerank (round 8): the
    parameterized twins agree with their declared keys on the fixture
    columns, and pagerank conserves rank mass."""
    from correlationapi_spark.api import CorrelationAPI

    api = CorrelationAPI(spark)
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    api.register_dataset("_ev", ev)

    tr = api.transitions("_ev", "user_id", "event_type", "ts", "event_id")
    key_tr = {
        (r.prev_type, r.next_type): (r.n_trans, r.p_next)
        for r in REGISTRY["q_event_transitions"].fn(spark, SF_SMOKE).collect()
    }
    assert tr["n_transitions"] == sum(n for n, _ in key_tr.values())
    for cell in tr["matrix"]:
        assert key_tr[(cell["prev"], cell["next"])] == (cell["n"], cell["p"])
    # per-prev probabilities sum to 1
    from collections import defaultdict

    psum = defaultdict(float)
    for cell in tr["matrix"]:
        psum[cell["prev"]] += cell["p"]
    assert all(abs(s - 1.0) < 1e-4 for s in psum.values())

    at = api.attribution("_ev", "user_id", "event_type", "ts",
                         "event_id", "purchase")
    key_at = {
        r.touch_type: (r.n_purchases, r.share)
        for r in REGISTRY["q_attribution"].fn(spark, SF_SMOKE).collect()
    }
    assert at["n_conversions"] == sum(n for n, _ in key_at.values())
    for b in at["buckets"]:
        assert key_at[b["touch"]] == (b["n"], b["share"])

    atm = api.attribution_multi("_ev", "user_id", "event_type", "ts",
                                "event_id", "purchase")
    key_atm = {
        (r.model, r.touch_type): (r.credit_micro, r.share)
        for r in REGISTRY["q_attribution_multi"].fn(spark, SF_SMOKE).collect()
    }
    assert set(atm["models"]) == {"linear", "position", "time_decay"}
    for model, buckets in atm["models"].items():
        for b in buckets:
            assert key_atm[(model, b["touch"])] == (
                b["credit_micro"], b["share"]
            )
        assert abs(sum(b["share"] for b in buckets) - 1.0) < 1e-4

    # pagerank over an explicit edge table registered as a dataset
    edges = spark.createDataFrame(
        [(i, (i + 1) % 6) for i in range(6)], ["s", "d"]
    )
    api.register_dataset("_g", edges)
    pr = api.pagerank("_g", "s", "d", n_iter=8, limit=3)
    assert pr["n_nodes"] == 6 and pr["truncated"]
    assert len(pr["ranks"]) == 3
    with pytest.raises(KeyError):
        api.pagerank("_g", "s", "nope")
    with pytest.raises(ValueError):
        api.pagerank("_g", "s", "d", limit=0)


def test_bpe_train_service(spark):
    """api.bpe_train: merges agree with the declared key's rules on the
    fixture corpus, and the compression totals are internally
    consistent (tokens-after-merges <= corpus chars, >= word count)."""
    from correlationapi_spark.api import CorrelationAPI

    api = CorrelationAPI(spark)
    api.register_dataset("_docs", f"{SF_SMOKE}/documents.parquet")
    res = api.bpe_train("_docs", "doc_id", "text", n_merges=12)
    key_rows = [
        (r.rank, r.left, r.right, r.merged, r.pair_freq)
        for r in REGISTRY["q_text_bpe_train"].fn(spark, SF_SMOKE).collect()
    ][:12]
    got = [
        (m["rank"], m["left"], m["right"], m["merged"], m["pair_freq"])
        for m in res["merges"]
    ]
    assert got == key_rows
    assert res["corpus_tokens_after_merges"] <= res["corpus_chars"]
    assert res["n_word_types"] >= 1
    with pytest.raises(KeyError):
        api.bpe_train("_docs", "doc_id", "nope")


def test_distribution_percentiles(spark):
    """api.distribution percentiles: exact values equal F.percentile on
    the same data; the sketch path lands within KLL k=200's certified
    rank error of the exact answer; bad inputs fail loud."""
    from pyspark.sql import functions as F

    from correlationapi_spark.api import CorrelationAPI

    api = CorrelationAPI(spark)
    api.register_dataset("_ord", f"{SF_SMOKE}/orders.parquet")
    res = api.distribution(
        "_ord", "o_totalprice", percentiles=[0.5, 0.9]
    )
    ord_df = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    want = ord_df.agg(
        F.round(F.percentile("o_totalprice", 0.5), 6).alias("p50"),
        F.round(F.percentile("o_totalprice", 0.9), 6).alias("p90"),
    ).collect()[0]
    assert res["percentiles"]["0.5"] == want.p50
    assert res["percentiles"]["0.9"] == want.p90

    sk = api.distribution(
        "_ord", "o_totalprice", percentiles=[0.5], method="sketch"
    )
    vals = sorted(r.o_totalprice for r in ord_df.collect())
    import bisect

    rank = bisect.bisect_right(vals, sk["percentiles"]["0.5"]) / len(vals)
    assert abs(rank - 0.5) < 0.03

    grouped = api.distribution(
        "_ord", "o_totalprice", group_by="o_orderstatus",
        percentiles=[0.5],
    )
    assert all(
        c["percentiles"]["0.5"] is not None
        for c in grouped["groups"].values()
    )

    with pytest.raises(ValueError):
        api.distribution("_ord", "o_totalprice", percentiles=[1.5])
    with pytest.raises(ValueError):
        api.distribution("_ord", "o_totalprice", percentiles=[0.5],
                         method="banana")


def test_forecast_holtwinters_matches_declared_key(api_orders, spark):
    import os as _os

    api_orders.register_dataset(
        "events", _os.path.join(SF_SMOKE, "events.parquet")
    )
    hw = {
        r.event_type: r
        for r in REGISTRY["q_ts_holtwinters"].fn(spark, SF_SMOKE).collect()
    }
    res = api_orders.forecast("events", "value", "ts",
                              group_by="event_type", method="holtwinters")
    assert res["season"] == 7 and res["gamma"] == 0.2
    assert set(res["groups"]) == set(hw)
    for g, cell in res["groups"].items():
        assert abs(cell["level"] - hw[g].level) < 1e-6, g
        assert abs(cell["season_next"] - hw[g].season_next) < 1e-6, g
        assert abs(cell["forecast_1"] - hw[g].forecast_1) < 1e-6, g


def test_distribution_normality_matches_declared_jb(api_orders, spark):
    """distribution(normality=True) must agree with q_jarque_bera up to
    the moment-estimator convention (the service uses Spark's built-in
    skewness/kurtosis aggregates, the key its exact power sums — same
    population-moment definitions, so JB matches to float noise)."""
    key = {
        r.o_orderstatus: r
        for r in REGISTRY["q_jarque_bera"].fn(spark, SF_SMOKE).collect()
    }
    res = api_orders.distribution("orders", "o_totalprice",
                                  group_by="o_orderstatus", normality=True)
    for g, cell in res["groups"].items():
        assert abs(cell["jb_stat"] - key[g].jb_stat) < 1e-2 * max(
            1.0, key[g].jb_stat
        ), g
        assert abs(cell["jb_p_value"] - key[g].p_value) < 1e-3, g


def test_compare_effect_size_matches_declared_key(api_orders, spark):
    key = REGISTRY["q_cohens_d"].fn(spark, SF_SMOKE).collect()[0]
    res = api_orders.compare("orders", "o_totalprice", "o_orderstatus",
                             "F", "O")
    assert abs(res["cohens_d"] - key.cohens_d) < 1e-4
    assert abs(res["hedges_g"] - key.hedges_g) < 1e-4


def test_knn_graph_matches_declared_key(spark):
    api = CorrelationAPI(spark)
    api.register_dataset(
        "emb", os.path.join(SF_SMOKE, "embeddings.parquet")
    )
    edges = {
        (r.id_a, r.id_b): r.cosine
        for r in REGISTRY["q_embed_knn_graph"].fn(spark, SF_SMOKE).collect()
    }
    res = api.knn_graph("emb", "vec_id", "embedding", k=5, limit=10)
    assert res["n_edges"] == len(edges)
    assert res["truncated"] is (len(edges) > 10)
    assert len(res["edges"]) == min(10, len(edges))
    best = max(edges.values())
    assert abs(res["edges"][0]["cosine"] - best) < 1e-12
    for e in res["edges"]:
        assert edges[(e["id_a"], e["id_b"])] == e["cosine"]
    assert res["degree"]["min"] >= 1
    assert res["degree"]["max"] <= 5
    with pytest.raises(ValueError, match="k must be"):
        api.knn_graph("emb", "vec_id", "embedding", k=0)


def test_decompose_matches_declared_key(api_orders, spark):
    import os as _os

    api_orders.register_dataset(
        "events", _os.path.join(SF_SMOKE, "events.parquet")
    )
    key = {
        r.dow: r for r in REGISTRY["q_ts_decompose"].fn(spark, SF_SMOKE).collect()
    }
    res = api_orders.decompose("events", "value", "ts")
    assert set(res["phases"]) == set(key)
    # the service quantizes per-ROW to the 1e-6 lattice before the daily
    # mean (arbitrary user data), the key pins the daily mean itself —
    # both exact pipelines, differing only by the per-row quantization
    for dow, cell in res["phases"].items():
        assert abs(cell["seasonal"] - key[dow].seasonal) < 1e-5
        assert abs(cell["trend_mean"] - key[dow].trend_mean) < 1e-5
        assert cell["n_periods"] == key[dow].n_days
    # seasonal indices of an additive decomposition balance near zero
    bal = sum(c["seasonal"] * c["n_periods"] for c in res["phases"].values())
    n = sum(c["n_periods"] for c in res["phases"].values())
    assert abs(bal / n) < 0.5


def test_decompose_validation(api_orders):
    with pytest.raises(ValueError):
        api_orders.decompose("orders", "o_totalprice", "o_orderdate",
                             period=4)
    with pytest.raises(ValueError):
        api_orders.decompose("orders", "o_totalprice", "o_orderdate",
                             grain="fortnight")
    with pytest.raises(KeyError):
        api_orders.decompose("orders", "o_totalprice", "nope")


def test_weighted_quantile_matches_declared_key(api_orders, spark):
    key = {
        r.l_returnflag: r
        for r in REGISTRY["q_percentile_weighted"].fn(spark, SF_SMOKE).collect()
    }
    res = api_orders.weighted_quantile(
        "lineitem", "l_extendedprice", "l_quantity",
        group_by="l_returnflag",
    )
    assert set(res["groups"]) == set(key)
    # weight scaling (micro-units vs integer quantity) cannot move the
    # integer cutoff, so the witness VALUES agree exactly
    for g, cell in res["groups"].items():
        assert abs(cell["q0.25"] - key[g].w_p25) < 1e-9
        assert abs(cell["q0.5"] - key[g].w_median) < 1e-9
        assert abs(cell["q0.75"] - key[g].w_p75) < 1e-9
        assert cell["n_rows"] == key[g].n_rows
    assert res["n_excluded"] == 0


def test_weighted_quantile_validation(api_orders):
    with pytest.raises(ValueError):
        api_orders.weighted_quantile("lineitem", "l_extendedprice",
                                     "l_quantity", quantiles="1.5")
    with pytest.raises(ValueError):
        api_orders.weighted_quantile("lineitem", "l_extendedprice",
                                     "l_quantity", quantiles=" ")
    with pytest.raises(KeyError):
        api_orders.weighted_quantile("lineitem", "l_extendedprice",
                                     "l_quantity", group_by="nope")


def test_gopher_matches_declared_key(api_orders, spark):
    import os as _os

    api_orders.register_dataset(
        "documents", _os.path.join(SF_SMOKE, "documents.parquet")
    )
    gf = {r.doc_id: r for r in REGISTRY["q_text_gopher"].fn(spark, SF_SMOKE).collect()}
    res = api_orders.gopher("documents")
    assert res["n_docs"] == len(gf)
    assert res["n_pass"] == sum(r.passes_gopher for r in gf.values())
    assert res["rule_pass_counts"]["ntok"] == sum(
        r.r_ntok for r in gf.values()
    )
    assert res["rule_pass_counts"]["stop"] == sum(
        r.r_stop for r in gf.values()
    )
    for f in res["failing"]:
        r = gf[f["doc_id"]]
        assert not r.passes_gopher
        assert set(f["failed_rules"]) == {
            n for n, ok in (
                ("ntok", r.r_ntok), ("wordlen", r.r_wordlen),
                ("alpha", r.r_alpha), ("stop", r.r_stop),
            ) if not ok
        }


def test_tukey_matches_declared_key(api_orders, spark):
    import os as _os

    api_orders.register_dataset(
        "customer", _os.path.join(SF_SMOKE, "customer.parquet")
    )
    key = {
        (r.grp_a, r.grp_b): r
        for r in REGISTRY["q_tukey_hsd"].fn(spark, SF_SMOKE).collect()
    }
    res = api_orders.tukey("customer", "c_acctbal", "c_mktsegment")
    assert res["n_pairs"] == len(key) == 10
    for p in res["pairs"]:
        k = key[(p["a"], p["b"])]
        # the service's 1e-6 lattice vs the key's cents lattice: same
        # values (acctbal has 2 dp), so the statistics agree to the
        # published rounding
        assert abs(p["q_stat"] - k.q_stat) < 1e-4
        # both sides round mean_diff at 4 dp on different exact lattices
        # (cents vs micro), so adjacent-rounding can differ by one ulp
        # of the 4th decimal
        assert abs(p["mean_diff"] - k.mean_diff) <= 1e-4 + 1e-9
        assert (p["n_a"], p["n_b"]) == (k.n_a, k.n_b)
    assert res["df_within"] == key[(res["pairs"][0]["a"], res["pairs"][0]["b"])].df_within


def test_tukey_validation(api_orders):
    with pytest.raises(KeyError):
        api_orders.tukey("orders", "o_totalprice", "nope")


def test_stationary_matches_declared_key(api_orders, spark):
    import os as _os

    api_orders.register_dataset(
        "events", _os.path.join(SF_SMOKE, "events.parquet")
    )
    key = {
        r.state: r.pi
        for r in REGISTRY["q_event_markov_stationary"].fn(spark, SF_SMOKE).collect()
    }
    res = api_orders.stationary("events", "user_id", "event_type", "ts",
                                "event_id")
    assert set(res["pi"]) == set(key)
    for state, pi in res["pi"].items():
        assert abs(pi - key[state]) < 1e-6, state
    assert abs(sum(res["pi"].values()) - 1.0) < 1e-4


def test_similar_pq_methods_match_declared_keys(api_orders, spark):
    """Round 15: the declared q_sim_topk_pq / q_sim_topk_ivfpq are the
    PERSISTED residual-code + exact-refine engines, so their service
    twin is index_probe(method="pq"/"ivfpq", refine=25) over the same
    fixture store — pinned identical (l2, rank) per (probe, id). The
    ad-hoc api.similar(method="pq"/"ivfpq") engines remain the
    raw-code unrefined scorers (train-per-call, adc_l2 scores) —
    shape-pinned, no longer value-equal to the declared keys by
    design."""
    import os as _os

    from correlationapi_spark.llm.similarity import _pq_store_for

    store = _pq_store_for(spark, SF_SMOKE)
    for key, method in (
        ("q_sim_topk_pq", "pq"), ("q_sim_topk_ivfpq", "ivfpq"),
    ):
        want = {
            (r.probe_id, r.vec_id): (r.l2, r.rank)
            for r in REGISTRY[key].fn(spark, SF_SMOKE).collect()
        }
        res = api_orders.index_probe(
            store, [0, 1, 2, 3, 4], k=5, method=method, refine=25,
        )
        assert res["refine"] == 25
        assert set(res["neighbors"]) == {"0", "1", "2", "3", "4"}
        for pid, rows in res["neighbors"].items():
            assert len(rows) == 5
            for cell in rows:
                assert want[(int(pid), cell["id"])] == (
                    cell["l2"], cell["rank"],
                ), (key, pid, cell)
    api_orders.register_dataset(
        "embeddings", _os.path.join(SF_SMOKE, "embeddings.parquet")
    )
    res = api_orders.similar(
        "embeddings", "vec_id", "embedding",
        probe_ids=[0, 1, 2, 3, 4], k=5, method="pq",
    )
    assert set(res["neighbors"]) == {"0", "1", "2", "3", "4"}
    for rows in res["neighbors"].values():
        assert len(rows) == 5
        assert all(c["adc_l2"] is not None for c in rows)
    res2 = api_orders.similar(
        "embeddings", "vec_id", "embedding",
        probe_ids=[0, 1], k=3, method="ivfpq",
    )
    assert all(len(v) == 3 for v in res2["neighbors"].values())
    with pytest.raises(ValueError):
        api_orders.similar(
            "embeddings", "vec_id", "embedding",
            query_vectors=[[0.0] * 64], method="pq",
        )


def test_drift_categorical_matches_declared_key(api_orders, spark):
    import os as _os

    api_orders.register_dataset(
        "events", _os.path.join(SF_SMOKE, "events.parquet")
    )
    key = {
        r.dn: r for r in REGISTRY["q_drift_chi2"].fn(spark, SF_SMOKE).collect()
    }
    res = api_orders.drift("events", "event_type", "ts")
    assert res["kind"] == "categorical"
    assert len(res["periods"]) == len(key)
    # the service keys periods by date_trunc timestamp, the key by
    # epoch-day integer: compare the multisets of (chi2, dof, n)
    got = sorted(
        (c["chi2"], c["dof"], c["n"]) for c in res["periods"].values()
    )
    want = sorted((r.chi2, r.dof, r.n_day) for r in key.values())
    assert got == want
    # numeric path unchanged
    res2 = api_orders.drift("events", "value", "ts")
    assert res2["kind"] == "numeric"


def test_matrix_gram_method_matches_pearson(api):
    """round 10: the wide-matrix gram route must agree cell-for-cell
    with the aggregate route (both exact raw-moment algebra at 6 dp —
    the gram result is rounded, so compare at that grain), share the
    listwise-NULL contract, and reject nothing pearson accepts."""
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    p = api.correlation_matrix("lineitem", cols)["matrix"]
    g = api.correlation_matrix("lineitem", cols, method="gram")["matrix"]
    for i in range(len(cols)):
        for j in range(len(cols)):
            if i == j:
                assert g[i][j] == 1.0
            else:
                assert abs(g[i][j] - round(p[i][j], 6)) <= 1e-6, (i, j)


def test_matrix_gram_listwise_and_zero_variance(api, spark):
    rows = [
        (1.0, 10.0, 3.0), (2.0, 20.0, 1.0), (3.0, 30.0, 7.0),
        (4.0, 40.0, 2.0), (5.0, 500.0, None),
    ]
    df = spark.createDataFrame(rows, "x double, y double, z double")
    api.register_dataset("_listwise_g", df)
    m = api.correlation_matrix(
        "_listwise_g", ["x", "y", "z"], method="gram"
    )["matrix"]
    assert m[0][1] == 1.0  # the None row dropped listwise
    cdf = spark.createDataFrame(
        [(1.0, 5.0), (2.0, 5.0)], "x double, y double"
    )
    api.register_dataset("_const_g", cdf)
    mc = api.correlation_matrix("_const_g", ["x", "y"], method="gram")[
        "matrix"
    ]
    assert mc[0][1] is None  # zero variance -> NULL, never a throw


def test_index_build_clobber_guard(spark, tmp_path):
    """advice r10 (medium): /index/build must only ever overwrite a
    directory this engine certified as its own via the _ivf_index
    marker — empty/absent dirs build fresh (rebuilt=False), marked
    dirs rebuild in place (rebuilt=True), anything else refuses."""
    import os

    from correlationapi_spark.api import CorrelationAPI

    api = CorrelationAPI(spark)
    api.register_dataset(
        "emb", os.path.join(SF_SMOKE, "embeddings.parquet")
    )

    # a non-empty NON-index directory is never clobbered — even the
    # old 'has a corpus subdir' shape that fooled the r10 heuristic
    trap = tmp_path / "precious"
    (trap / "corpus").mkdir(parents=True)
    (trap / "corpus" / "data.txt").write_text("not yours")
    with pytest.raises(ValueError, match="non-index directory"):
        api.index_build("emb", "vec_id", "embedding", str(trap))
    assert (trap / "corpus" / "data.txt").read_text() == "not yours"

    # absent path: fresh build
    idx = str(tmp_path / "idx")
    res = api.index_build("emb", "vec_id", "embedding", idx, n_cells=4)
    assert res["rebuilt"] is False and res["n_vectors"] > 0

    # existing EMPTY dir: fresh build too
    empty = tmp_path / "empty"
    empty.mkdir()
    res = api.index_build(
        "emb", "vec_id", "embedding", str(empty), n_cells=4
    )
    assert res["rebuilt"] is False

    # marked index dir: rebuild allowed, flagged; no PQ existed, so
    # nothing was dropped
    res = api.index_build("emb", "vec_id", "embedding", idx, n_cells=4)
    assert res["rebuilt"] is True and res["pq_dropped"] is False

    # a rebuild clears stale tombstones: delete, rebuild, id answers
    api.index_delete(idx, [1])
    assert api.index_status(idx)["n_vectors"] == res["n_vectors"] - 1
    res2 = api.index_build("emb", "vec_id", "embedding", idx, n_cells=4)
    assert res2["n_vectors"] == res["n_vectors"]

    # round 15 (r14 verdict item 5): rebuilding over a PQ-ATTACHED
    # index drops the attachment and reports it — previously the PQ
    # vanished silently and the next pq probe was a surprise 404
    assert api.index_status(idx)["pq_attached"] is False
    api.index_pq_attach(idx)
    assert api.index_status(idx)["pq_attached"] is True
    res3 = api.index_build("emb", "vec_id", "embedding", idx, n_cells=4)
    assert res3["rebuilt"] is True and res3["pq_dropped"] is True
    assert res3["pq_attached"] is False  # status agrees with the drop
    with pytest.raises(KeyError, match="pq_attach"):
        api.index_probe(idx, [1], method="pq")


def test_index_delete_compact_api(spark, tmp_path):
    """The api-level delete/compact lifecycle: deleted ids vanish from
    probe answers, compact reclaims and preserves answers, and both
    404 (KeyError) cleanly on a missing index."""
    import os

    from correlationapi_spark.api import CorrelationAPI

    api = CorrelationAPI(spark)
    api.register_dataset(
        "emb", os.path.join(SF_SMOKE, "embeddings.parquet")
    )
    idx = str(tmp_path / "idx")
    built = api.index_build("emb", "vec_id", "embedding", idx, n_cells=4)

    probed = api.index_probe(idx, [1, 2], k=5, n_probe=4)
    victim = probed["neighbors"]["1"][0]["id"]
    res = api.index_delete(idx, [victim])
    assert res["deleted"] == 1
    assert res["n_vectors"] == built["n_vectors"] - 1
    after = api.index_probe(idx, [1, 2], k=5, n_probe=4)
    assert all(
        n["id"] != victim
        for hits in after["neighbors"].values()
        for n in hits
    )

    res = api.index_compact(idx)
    assert res["tombstones_cleared"] == 1
    assert res["n_vectors"] == built["n_vectors"] - 1
    again = api.index_probe(idx, [1, 2], k=5, n_probe=4)
    assert again["neighbors"] == after["neighbors"]

    with pytest.raises(KeyError, match="no IVF index"):
        api.index_delete(str(tmp_path / "nope"), [1])
    with pytest.raises(KeyError, match="no IVF index"):
        api.index_compact(str(tmp_path / "nope"))
    with pytest.raises(ValueError, match="non-empty"):
        api.index_delete(idx, [])


def test_index_recluster_api(spark, tmp_path):
    """r11 verdict item 4 on the service surface: recluster is a no-op
    below threshold, rebuilds when forced (threshold=0), preserves the
    vector count, and 404s/400s cleanly on bad input."""
    import os

    from correlationapi_spark.api import CorrelationAPI

    api = CorrelationAPI(spark)
    api.register_dataset(
        "emb", os.path.join(SF_SMOKE, "embeddings.parquet")
    )
    idx = str(tmp_path / "idx")
    built = api.index_build("emb", "vec_id", "embedding", idx, n_cells=4)

    res = api.index_recluster(idx, threshold=1e9)
    assert res["reclustered"] is False
    assert res["n_vectors"] == built["n_vectors"]

    before = api.index_probe(idx, [1, 2], k=3, n_probe=4)
    res = api.index_recluster(idx, threshold=0.0)
    assert res["reclustered"] is True
    assert res["n_vectors"] == built["n_vectors"]
    assert res["n_cells"] == 4
    # same quantizer family retrained on the same live vectors: the
    # index still answers, and every neighbor id is a live corpus id
    after = api.index_probe(idx, [1, 2], k=3, n_probe=4)
    assert set(after["neighbors"]) == set(before["neighbors"])
    assert all(len(hits) > 0 for hits in after["neighbors"].values())

    with pytest.raises(KeyError, match="no IVF index"):
        api.index_recluster(str(tmp_path / "nope"))
    with pytest.raises(ValueError, match="threshold"):
        api.index_recluster(idx, threshold=-1)
    with pytest.raises(ValueError, match="n_cells"):
        api.index_recluster(idx, n_cells=0)
    with pytest.raises(ValueError, match="train_fraction"):
        api.index_recluster(idx, train_fraction=0.0)


def test_psi_repin_lifecycle_and_parity(spark, tmp_path):
    """round 11 (r10 verdict item 6): the PSI reference becomes a
    versioned persisted artifact. Pinning the original first-week
    window must reproduce the oracled batch key exactly; a re-pin on
    a later window must match an independent DuckDB computation of
    the same smoothed PSI at 6 dp; the latest version always wins."""
    import os

    from correlationapi_spark.api import CorrelationAPI
    from correlationapi_spark.registry import load_registry

    api = CorrelationAPI(spark)
    api.register_dataset(
        "events", os.path.join(SF_SMOKE, "events.parquet")
    )
    store = str(tmp_path / "psi_ref")

    # nothing pinned yet -> clean 404s
    with pytest.raises(KeyError, match="no PSI reference"):
        api.psi_status(store)
    with pytest.raises(KeyError, match="no PSI reference"):
        api.psi_drift("events", "ts", "value", store)

    # v1 = the declared key's own window: psi_drift must equal the
    # oracled batch key row-for-row (the re-pin machinery is a strict
    # generalization, not a second engine)
    res = api.psi_repin(
        "events", "ts", "value", store, end="2024-01-08 00:00:00"
    )
    assert res["version"] == 1 and res["n_ref"] > 0
    want = {
        str(r.window_start): (r.psi, r.n_window)
        for r in load_registry()["q_stream_drift_psi"]
        .fn(spark, SF_SMOKE)
        .collect()
    }
    got = api.psi_drift("events", "ts", "value", store)
    assert got["reference_version"] == 1
    assert {
        k: (v["psi"], v["n"]) for k, v in got["windows"].items()
    } == want

    # v2 = re-pin on week 2; expected values computed INDEPENDENTLY in
    # DuckDB with the same fixed bins + Laplace smoothing
    res = api.psi_repin(
        "events", "ts", "value", store,
        start="2024-01-08 00:00:00", end="2024-01-15 00:00:00",
    )
    assert res["version"] == 2
    st = api.psi_status(store)
    assert st["version"] == 2 and st["win_start"] == "2024-01-08 00:00:00"
    assert sum(st["bins"].values()) == st["n_ref"] == res["n_ref"]

    con = duckdb_connect(SF_SMOKE)
    bin_sql = "least(greatest(CAST(floor(value / 10.0) AS BIGINT), 0), 9)"
    ref_where = ("ts >= TIMESTAMP '2024-01-08 00:00:00' AND "
                 "ts < TIMESTAMP '2024-01-15 00:00:00' AND value IS NOT NULL")
    ref = dict(con.execute(
        f"SELECT {bin_sql} AS b, count(*) FROM events "
        f"WHERE {ref_where} GROUP BY 1"
    ).fetchall())
    nref = sum(ref.values())
    cur = con.execute(
        f"SELECT date_trunc('day', ts) AS w, {bin_sql} AS b, count(*) "
        "FROM events WHERE value IS NOT NULL GROUP BY 1, 2"
    ).fetchall()
    per_win: dict = {}
    for w, b, c in cur:
        # duckdb's date_trunc('day') yields DATE; Spark's window start
        # stringifies with a time part — compare on the date prefix
        per_win.setdefault(str(w)[:10], {})[b] = c
    got2 = api.psi_drift("events", "ts", "value", store)
    assert got2["reference_version"] == 2
    import math

    for w, payload in got2["windows"].items():
        counts = per_win[w[:10]]
        nd = sum(counts.values())
        assert payload["n"] == nd
        psi = 0.0
        for b in range(10):
            p = (counts.get(b, 0) + 1) / (nd + 10)
            q = (ref.get(b, 0) + 1) / (nref + 10)
            psi += (p - q) * math.log(p / q)
        assert abs(payload["psi"] - round(psi, 6)) <= 2e-6, (w, payload, psi)

    # an empty window is refused, and the pinned state is untouched
    with pytest.raises(ValueError, match="empty PSI reference"):
        api.psi_repin(
            "events", "ts", "value", store,
            start="2030-01-01 00:00:00", end="2030-01-02 00:00:00",
        )
    assert api.psi_status(store)["version"] == 2


def test_psi_repin_lock_single_writer(spark, tmp_path):
    """review r11: the version-allocation critical section takes the
    same lock-file discipline as the IVF store — a held lock fails
    fast instead of racing to a duplicate version."""
    import os

    from correlationapi_spark.api import CorrelationAPI

    api = CorrelationAPI(spark)
    api.register_dataset(
        "events", os.path.join(SF_SMOKE, "events.parquet")
    )
    store = str(tmp_path / "psi_ref")
    api.psi_repin("events", "ts", "value", store, end="2024-01-08 00:00:00")

    lock = os.path.join(store, "_repin.lock")
    open(lock, "w").close()
    with pytest.raises(ValueError, match="mutation is in flight"):
        api.psi_repin(
            "events", "ts", "value", store, end="2024-01-15 00:00:00"
        )
    os.remove(lock)  # the documented recovery
    res = api.psi_repin(
        "events", "ts", "value", store, end="2024-01-15 00:00:00"
    )
    assert res["version"] == 2
    assert not os.path.exists(lock)


def test_index_pq_attach_and_probe_api(spark, tmp_path):
    """round 14: the persisted-PQ service surface. Attach trains the
    codebook and publishes the code column atomically; probe
    method=pq/ivfpq scores STORED codes (adc_l2 ascending, never
    cosine) with no per-call training; an un-attached store 404s the
    pq probe with a pointer to the attach call; append-after-attach
    encodes its delta (the appended id probes through stored codes);
    a rebuild drops the attachment."""
    import os

    from correlationapi_spark.api import CorrelationAPI

    api = CorrelationAPI(spark)
    api.register_dataset(
        "emb", os.path.join(SF_SMOKE, "embeddings.parquet")
    )
    idx = str(tmp_path / "pqidx")
    api.index_build(
        "emb", "vec_id", "embedding", idx, n_cells=8,
        where="vec_id % 5 != 0",
    )

    with pytest.raises(KeyError, match="pq_attach"):
        api.index_probe(idx, [1], k=3, method="pq")
    with pytest.raises(ValueError, match="ivf | pq | ivfpq"):
        api.index_probe(idx, [1], k=3, method="bogus")

    res = api.index_pq_attach(idx)
    assert res["n_codes"] == res["n_vectors"] > 0

    got = api.index_probe(idx, [1, 2], k=3, method="pq")
    assert got["method"] == "pq" and got["n_probe"] is None
    for hits in got["neighbors"].values():
        assert len(hits) == 3
        assert all("adc_l2" in h and "cosine" not in h for h in hits)
        adcs = [h["adc_l2"] for h in hits]
        assert adcs == sorted(adcs)  # ascending code-space L2

    got_iv = api.index_probe(idx, [1, 2], k=3, method="ivfpq", n_probe=4)
    assert got_iv["method"] == "ivfpq" and got_iv["n_probe"] == 4
    assert all(len(v) <= 3 for v in got_iv["neighbors"].values())

    # append encodes its delta with the stored book; the appended id
    # probes and answers through the STORED codes
    api.index_append("emb", "vec_id", "embedding", idx,
                     where="vec_id % 5 = 0")
    got2 = api.index_probe(idx, [0], k=3, method="pq")
    assert len(got2["neighbors"]["0"]) == 3

    # rebuild drops PQ (new corpus, book must retrain)
    api.index_build("emb", "vec_id", "embedding", idx, n_cells=8)
    with pytest.raises(KeyError, match="pq_attach"):
        api.index_probe(idx, [1], k=3, method="pq")


def test_pq_refine_names_a_missing_raw_vector(spark, tmp_path, monkeypatch):
    """The driver-side refine looks every ADC candidate's raw vector up
    by id. When one is missing (the corpus object changed under the
    probe), the probe says the index is torn and names the id instead
    of failing with a bare KeyError."""
    import os

    import correlationapi_spark.llm.similarity as sim
    from correlationapi_spark.api import CorrelationAPI

    api = CorrelationAPI(spark)
    api.register_dataset(
        "emb", os.path.join(SF_SMOKE, "embeddings.parquet")
    )
    idx = str(tmp_path / "pqidx")
    api.index_build("emb", "vec_id", "embedding", idx, n_cells=8)
    api.index_pq_attach(idx)
    lost: list = []
    fetch = sim._candidate_vectors

    def fetch_losing_one(raw, vids):
        vectors = fetch(raw, vids)
        lost.append(vids[0])
        del vectors[vids[0]]
        return vectors

    monkeypatch.setattr(sim, "_candidate_vectors", fetch_losing_one)
    with pytest.raises(ValueError, match="torn") as e:
        sim.pq_probe_stored(spark, idx, [1, 2], k=3, refine=10)
    assert f"vec_id {lost[0]} has no raw vector" in str(e.value)


def test_index_recover_api(spark, tmp_path):
    """review r12: recover on the service surface — mutations heal a
    pending publish on their own, but probe/status are read-only, so
    an operator watching a torn index needs a recover call. Idempotent
    no-op on a healthy index; rolls a mid-swap crash forward; 404s on
    a bogus path."""
    import os

    from correlationapi_spark.api import CorrelationAPI
    from correlationapi_spark.llm.similarity import ivf_recluster

    api = CorrelationAPI(spark)
    api.register_dataset(
        "emb", os.path.join(SF_SMOKE, "embeddings.parquet")
    )
    idx = str(tmp_path / "idx")
    built = api.index_build("emb", "vec_id", "embedding", idx, n_cells=4)

    res = api.index_recover(idx)  # nothing pending
    assert res["recovered"] is False
    assert res["n_vectors"] == built["n_vectors"]

    class Boom(Exception):
        pass

    def crash(stage):
        if stage == "staged":
            raise Boom(str(stage))

    with pytest.raises(Boom):
        ivf_recluster(spark, idx, threshold=0.0, _crash=crash)
    # the store is never broken under the pointer protocol (round 14):
    # status still answers on the old version; recover reclaims the
    # crashed stage's orphan objects
    assert api.index_status(idx)["n_vectors"] == built["n_vectors"]
    res = api.index_recover(idx)
    assert res["recovered"] is True
    assert res["n_vectors"] == built["n_vectors"]
    res = api.index_recover(idx)  # idempotent again afterwards
    assert res["recovered"] is False

    with pytest.raises(KeyError, match="no IVF index"):
        api.index_recover(str(tmp_path / "nope"))


def _scd2_events_split(spark):
    """(base, delta) event-log frames for an SCD2 store: history before
    a cut, and the strictly-newer rows of a sparse user cohort."""
    import pyspark.sql.functions as F

    from correlationapi_spark.io import load_tables

    ev = load_tables(spark, SF_SMOKE)["events"]
    cut = F.lit("2024-01-25 00:00:00").cast("timestamp")
    delta = ev.filter((F.col("ts") >= cut) & (F.col("user_id") % 19 == 0))
    return ev.filter(F.col("ts") < cut), delta.select(
        "user_id", "event_type", "ts", "event_id"
    )


def _pointer_files(path):
    return sorted(
        n for n in os.listdir(path)
        if n.startswith("_layout-v") and n.endswith(".json")
    )


def test_recover_reports_gc_skipped_pointer_files(spark, tmp_path,
                                                  monkeypatch):
    """A superseded pointer file whose stat fails is kept by the GC
    (its age cannot be checked against the reader grace); both recover
    surfaces name it in ``gc_skipped`` instead of leaving it to pile up
    silently, and a recover with a working stat reclaims it."""
    import pyspark.sql.functions as F

    from correlationapi_spark.operators.analytics import scd2_merge
    from correlationapi_spark.storeio import StoreIO

    api = CorrelationAPI(spark)
    api.register_dataset(
        "emb", os.path.join(SF_SMOKE, "embeddings.parquet")
    )
    idx = str(tmp_path / "idx")
    api.index_build("emb", "vec_id", "embedding", idx, n_cells=4)
    api.index_delete(idx, [1])  # first tombstone: a pointer bump
    api.index_compact(idx)      # a pointer swap: three pointer files

    base, delta = _scd2_events_split(spark)
    store = str(tmp_path / "scd2")
    # an empty batch commits nothing, so each build leaves one pointer
    # file: build, then rebuild
    scd2_merge(spark, base, F.lit(False), _store_path=store)
    scd2_merge(spark, base, F.lit(False), _store_path=store)  # two
    api.register_dataset("delta", delta)
    api.scd2_merge("delta", "user_id", "event_type", "ts", "event_id",
                   store)  # a third pointer file

    real_mtime = StoreIO.mtime
    for path, recover in ((idx, api.index_recover),
                          (store, api.scd2_recover_store)):
        ptrs = _pointer_files(path)
        assert len(ptrs) == 3, ptrs
        stuck = ptrs[0]

        def flaky_mtime(self, p, stuck=stuck):
            if os.path.basename(p) == stuck:
                raise OSError(f"cannot stat: {p}")
            return real_mtime(self, p)

        monkeypatch.setattr(StoreIO, "mtime", flaky_mtime)
        res = recover(path)
        assert res["gc_skipped"] == [stuck]
        assert _pointer_files(path) == ptrs
        monkeypatch.setattr(StoreIO, "mtime", real_mtime)
        res = recover(path)
        assert res["gc_skipped"] == []
        assert _pointer_files(path) == ptrs[1:]


def test_stores_hold_only_the_one_format(spark, tmp_path):
    """After a full lifecycle through the service surface, each store
    directory holds only the one on-disk format: ``_layout-v*.json``
    pointer files, version-named object directories and the Hadoop
    ``.crc`` siblings of those files — no marker, manifest, trash,
    stage or metadata file of any other layout."""
    import pyspark.sql.functions as F

    from correlationapi_spark.operators.analytics import scd2_merge
    from correlationapi_spark.storeio import OBJECT_RE, POINTER_RE

    def stray(path):
        def allowed(n):
            return bool(POINTER_RE.match(n) or OBJECT_RE.match(n))

        return sorted(
            n for n in os.listdir(path)
            if not allowed(n)
            and not (n.startswith(".") and n.endswith(".crc")
                     and allowed(n[1:-len(".crc")]))
        )

    api = CorrelationAPI(spark)
    api.register_dataset(
        "emb", os.path.join(SF_SMOKE, "embeddings.parquet")
    )
    idx = str(tmp_path / "idx")
    api.index_build("emb", "vec_id", "embedding", idx, n_cells=4,
                    where="vec_id % 5 != 0")
    api.index_append("emb", "vec_id", "embedding", idx,
                     where="vec_id % 5 = 0")
    api.index_delete(idx, [1, 2])
    api.index_compact(idx)
    api.index_pq_attach(idx)
    assert api.index_recluster(idx, threshold=0.0)["reclustered"] is True
    api.index_recover(idx)
    assert stray(idx) == []

    base, delta = _scd2_events_split(spark)
    store = str(tmp_path / "scd2")
    scd2_merge(spark, base, F.lit(False), _store_path=store)
    api.register_dataset("delta", delta)
    res = api.scd2_merge("delta", "user_id", "event_type", "ts",
                         "event_id", store)
    assert res["touched"] >= 1
    snap = api.scd2_snapshot(store, "2024-01-28 00:00:00")
    assert snap["n_rows"] >= 1
    api.scd2_recover_store(store)
    assert stray(store) == []


def test_only_storeio_mutates_stores():
    """storeio.py owns the store-mutation protocol: no other module in
    the package takes a lock file, runs the preamble GC or writes a
    layout pointer itself."""
    import re

    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "correlationapi_spark",
    )
    pattern = re.compile(r"createNewFile|pointer_gc\(|pointer_write\(")
    allowed = os.path.join(pkg, "storeio.py")
    offenders = []
    for root, _, files in os.walk(pkg):
        for name in sorted(files):
            path = os.path.join(root, name)
            if not name.endswith(".py") or path == allowed:
                continue
            with open(path) as f:
                for i, line in enumerate(f, 1):
                    if pattern.search(line):
                        offenders.append(f"{os.path.relpath(path, pkg)}:{i}")
    assert not offenders, f"store protocol outside storeio.py: {offenders}"


def _job_names(spark, fn) -> list:
    """Status-store names of the Spark jobs ``fn`` runs on this thread."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job-name probe")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    status = sc._jsc.sc().statusStore()
    return [
        status.job(j).name()
        for j in sc.statusTracker().getJobIdsForGroup(group)
    ]


def test_index_reads_run_no_schema_inference_job(spark, tmp_path):
    """index_status and index_probe open the base corpus, the append
    delta, the centroids and the tombstones with their known schemas,
    so neither runs a ``parquet at …`` schema-inference job."""
    api = CorrelationAPI(spark)
    api.register_dataset(
        "emb", os.path.join(SF_SMOKE, "embeddings.parquet")
    )
    idx = str(tmp_path / "idx")
    api.index_build("emb", "vec_id", "embedding", idx, n_cells=4,
                    where="vec_id >= 10")
    api.index_append("emb", "vec_id", "embedding", idx,
                     where="vec_id < 10")
    api.index_delete(idx, [11])
    for call in (
        lambda: api.index_status(idx),
        lambda: api.index_probe(idx, [1, 12], k=3, n_probe=2),
    ):
        names = _job_names(spark, call)
        assert names, "the call ran no Spark job at all"
        assert not [n for n in names if n.startswith("parquet at")], names
