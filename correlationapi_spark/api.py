"""Service-facing correlation API — the surface a user of the reference
would call.

BigDataGrapes-EU/CorrelationAPI exposes correlation analysis over named
datasets to an HTTP consumer (SURVEY.md §1.1/§3.1, capability-level): a
dataset registry, variable discovery, pairwise/matrix correlation with
Pearson and rank methods, and time-series (lagged) correlation, returning
JSON. This module is that contract re-expressed over Spark:

* datasets are named DataFrames (registered from parquet/CSV/JSON paths or
  passed directly); variables are their numeric columns;
* every result is a plain JSON-able dict; the HTTP layer (the reference's
  REST routing) lives in http_api.py — a stdlib http.server listener over
  these methods (``python -m correlationapi_spark serve``);
* all statistics run as single-pass Spark aggregations (SURVEY.md §4.2):
  a k-variable matrix is k(k-1)/2 corr aggregates in ONE job, never k²
  jobs, never a driver-side matrix build over collected data.

Round-8 additions widen the surface beyond the numeric correlation
core: ``association()`` (Cramér's V / Theil's U / mutual information /
η² over category-sized contingency reductions), ``distribution()``
(moments + sort-free Gini), ``compare()`` (exact two-sample KS +
tie-corrected Mann-Whitney via operators.stats.two_sample_stats),
``drift()`` (per-period KS + PSI vs the full-period reference via
operators.stats.drift_frame), and ``mixed_matrix()`` (the profiling
matrix: type-appropriate measure per pair). The iterative/ML tier:
``kmeans()`` (spherical Lloyd to convergence via
llm.similarity.kmeans_lloyd), ``pagerank()`` (weighted power iteration
over a registered edge table via graph.pagerank), ``transitions()``
(Markov matrix over per-user chains) and ``attribution()``
(last-touch conversion credit), both via operators.analytics engines.
"""

from __future__ import annotations

import math
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from .io import read_parquet_any
from .ordering import materialize, pinned
from .session import ensure_conf

_NUMERIC = (
    T.IntegerType, T.LongType, T.FloatType, T.DoubleType,
    T.ShortType, T.ByteType, T.DecimalType,
)

# grains date_trunc actually supports; an unknown literal would silently
# yield NULL buckets (no error even under ANSI) rather than failing
_GRAINS = (
    "year", "quarter", "month", "week", "day",
    "hour", "minute", "second",
)

# Epoch-grain integer index over a date_trunc(grain) bucket column `_t`:
# consecutive grain buckets differ by EXACTLY 1, so an equi-join on
# `_i + k` is a true k-step time lag (q_corr_xcorr's alignment rule —
# no row_number, which silently renumbers across calendar holes).
_SECONDS_PER = {"second": 1, "minute": 60, "hour": 3600, "day": 86400}


def _epoch_grain_index(grain: str):
    t = F.col("_t")
    if grain in _SECONDS_PER:
        # integer `div`, never `/`: float division routes the int64
        # through a double (exact only to 2^53) and truncates toward
        # zero — io.py's precision rule applies to arbitrary user data
        us = _SECONDS_PER[grain] * 1_000_000
        return F.expr(f"unix_micros(_t) div {us}")
    if grain == "week":
        # all week buckets share one weekday (Monday), so floor(days/7)
        # is adjacency-preserving and collision-free; FLOOR (not div,
        # which truncates toward zero) keeps pre-1970 weeks distinct —
        # |days| is small enough that the double is exact
        days = F.expr("unix_micros(_t) div 86400000000")
        return F.floor(days / 7).cast("bigint")
    if grain == "month":
        return (F.year(t) * 12 + F.month(t) - 1).cast("bigint")
    if grain == "quarter":
        return (F.year(t) * 4 + F.quarter(t) - 1).cast("bigint")
    if grain == "year":
        return F.year(t).cast("bigint")
    raise ValueError(f"unknown grain: {grain!r}")


def _safe_corr(x, y):
    """Pearson corr over PAIRWISE-COMPLETE rows, NULL on zero variance.

    Spark 4's ANSI default makes F.corr THROW DIVIDE_BY_ZERO when either
    input is constant; covar_samp/(sx·sy) is algebraically the same
    quantity (the (n−1) factors cancel) and the when() guard turns the
    degenerate case into NULL instead of a crashed job.

    Both operands are null-masked to rows where BOTH are non-null:
    covar_samp already skips mixed-null rows, but stddev_samp over each
    full marginal sample would divide by the WRONG spread whenever nulls
    are asymmetric (|r| could exceed 1 — e.g. lag() rows where _prev is
    null). Masking makes every moment share the same pairwise sample,
    which is exactly Pearson's pairwise-deletion definition.
    """
    both = x.isNotNull() & y.isNotNull()
    xm, ym = F.when(both, x), F.when(both, y)
    sx, sy = F.stddev_samp(xm), F.stddev_samp(ym)
    return F.round(
        F.when((sx > 0) & (sy > 0), F.covar_samp(xm, ym) / (sx * sy)), 6
    )


def _make_tau_b():
    """Exact Kendall tau-b as a nested function (pickled by value into
    executors — the make_extract_meta rule).

    Merge-sort discordant-pair counting over the (x, y)-sorted sample —
    the classic O(n log n) formulation (Knight 1966; the same shape
    scipy.stats.kendalltau uses, reimplemented here from the published
    algebra): sort by (x, y); discordant pairs are exactly the
    y-inversions across distinct x; tie terms come from run lengths.

        tau_b = (n0 − n1 − n2 + n3 − 2·dis) / √((n0 − n1)(n0 − n2))

    with n0 = n(n−1)/2, n1/n2 = Σt(t−1)/2 over x/y tie runs, n3 the same
    over joint (x, y) runs, dis = counted inversions. Returns None when
    either variable is constant (denominator 0).
    """

    # ONE counting kernel shared with the distributed path — the
    # "same integer counts -> same tau to the last bit" parity between
    # the two paths rests on this being literally the same code. Both
    # factories produce closures, so by-value pickling is preserved.
    from .operators.kendall import make_inversion_counter

    count_inversions = make_inversion_counter()

    def tie_sums(vals: list) -> tuple[int, int, int]:
        # over each tie run of length t: (Σt(t-1)/2, Σt(t-1)(2t+5),
        # Σt(t-1)(t-2)) — the pair count and the two variance terms of
        # the ties-adjusted normal approximation (Kendall 1945; the same
        # correction scipy.stats.kendalltau applies asymptotically)
        pairs = v25 = v012 = 0
        run = 0
        prev = object()
        for v in vals:
            if v == prev:
                run += 1
            else:
                pairs += run * (run - 1) // 2
                v25 += run * (run - 1) * (2 * run + 5)
                v012 += run * (run - 1) * (run - 2)
                prev, run = v, 1
        pairs += run * (run - 1) // 2
        v25 += run * (run - 1) * (2 * run + 5)
        v012 += run * (run - 1) * (run - 2)
        return pairs, v25, v012

    def tie_term(vals: list) -> int:
        return tie_sums(vals)[0]

    def tau_b(xs: list, ys: list) -> tuple[float, float | None] | None:
        """(tau_b, z) or None when either variable is constant. z is the
        ties-adjusted normal-approximation statistic S/√var(S) under
        H0: independence — None when var(S) ≤ 0 (degenerate sample)."""
        n = len(xs)
        if n < 2:
            return None
        pairs = sorted(zip(xs, ys))
        n0 = n * (n - 1) // 2
        n1, vtx, vtx3 = tie_sums([p[0] for p in pairs])
        n2, vty, vty3 = tie_sums(sorted(ys))
        n3 = tie_term(pairs)
        if n0 == n1 or n0 == n2:
            return None  # constant variable
        dis = count_inversions([p[1] for p in pairs])
        s = n0 - n1 - n2 + n3 - 2 * dis
        tau = s / ((n0 - n1) * (n0 - n2)) ** 0.5
        var = (n * (n - 1) * (2 * n + 5) - vtx - vty) / 18.0
        if n > 2:
            var += (vtx3 * vty3) / (9.0 * n * (n - 1) * (n - 2))
        var += (2.0 * n1) * (2.0 * n2) / (2.0 * n * (n - 1))
        z = s / var**0.5 if var > 0 else None
        return tau, z

    return tau_b


def parse_control_arg(raw: str) -> str | list[str]:
    """Shared CLI/HTTP rule for the partial-correlation control argument:
    comma-separated names select the higher-order precision-matrix form
    (a 1-element split falls back to the scalar path inside
    partial_correlation); whitespace is trimmed either way; an empty
    value raises — ``control=','`` must be a user error, never a
    zero-control call that serves plain corr labeled as a partial."""
    if "," in raw:
        controls = [c.strip() for c in raw.split(",") if c.strip()]
        if not controls:
            raise ValueError("control must name at least one variable")
        return controls
    c = raw.strip()
    if not c:
        raise ValueError("control must name at least one variable")
    return c


def _durbin_levinson(rho: list) -> list:
    """PACF phi_kk for k = 1..m from ACF values rho[0..m] (rho[0] = 1),
    via the Durbin-Levinson recursion — O(m²) driver-side arithmetic on
    ≤max_lag floats (never a Spark job; the lag sweep already ran).

    A None rho (degenerate lag: no pairs, or zero variance) poisons that
    lag and every later one — the recursion consumes all earlier lags,
    so a hole makes deeper coefficients undefined, and emitting a number
    anyway would silently misstate the AR structure. The |phi_kk| = 1
    boundary (a deterministic process: the prediction-error variance
    den = prod(1 - phi_jj^2) hits zero) poisons every LATER lag the same
    way — the boundary coefficient itself is still emitted. Both the
    den and phi_kk checks are eps-tolerant, not exact-zero: on float
    noise an exactly-singular step can evaluate den to ~1e-16 instead of
    0, and dividing by it emits confidently wrong ~1e15 coefficients
    (falsified by Hypothesis on rho = [1, -1/3, -1/3, -1/3, 0, 0, 0],
    where phi_33 = -1 exactly). Outputs round to 6 dp; the recursion
    itself carries unrounded values (the t_stat rounding rule)."""
    eps = 1e-12
    m = len(rho) - 1
    out: list[float | None] = []
    phi: list[float] = []  # phi_{k-1, j}, unrounded
    dead = False
    for k in range(1, m + 1):
        if dead or rho[k] is None:
            out.append(None)
            dead = True
            continue
        if k == 1:
            phikk = rho[1]
            phi = [phikk]
        else:
            num = rho[k] - sum(phi[j] * rho[k - 1 - j] for j in range(k - 1))
            den = 1.0 - sum(phi[j] * rho[j + 1] for j in range(k - 1))
            if abs(den) <= eps:
                out.append(None)
                dead = True
                continue
            phikk = num / den
            phi = [
                phi[j] - phikk * phi[k - 2 - j] for j in range(k - 1)
            ] + [phikk]
        out.append(round(phikk, 6))
        if abs(phikk) >= 1.0 - eps:
            dead = True
    return out


def _chi2_sf(x: float, df: int) -> float:
    """Upper tail P(χ²_df > x) = regularized upper incomplete gamma
    Q(df/2, x/2) — stdlib math only, driver-side (ADVICE/verdict r05:
    the Ljung-Box Q previously shipped without its p-value and users
    compared against a χ² table by hand).

    The textbook two-regime evaluation of the incomplete gamma (series
    for x < s+1, Lentz-style continued fraction otherwise — the public
    gammp/gammq algebra in Abramowitz & Stegun §6.5 / Numerical Recipes
    §6.2, reimplemented from the formulas): both converge to ~1e-15
    relative, far tighter than the 6-dp rounding of the JSON surface."""
    import math

    if x <= 0.0:
        return 1.0
    s, xx = df / 2.0, x / 2.0
    log_pref = -xx + s * math.log(xx) - math.lgamma(s)
    if xx < s + 1.0:
        # lower series: P(s,x) = x^s e^{-x}/Γ(s) · Σ x^n / (s)_{n+1}
        term = 1.0 / s
        total = term
        n = 0
        while abs(term) > abs(total) * 1e-16 and n < 10_000:
            n += 1
            term *= xx / (s + n)
            total += term
        return min(1.0, max(0.0, 1.0 - total * math.exp(log_pref)))
    # upper continued fraction (modified Lentz):
    # Q(s,x) = x^s e^{-x}/Γ(s) · 1/(x+1−s− 1·(1−s)/(x+3−s− …))
    tiny = 1e-300
    b = xx + 1.0 - s
    c = 1.0 / tiny
    d = 1.0 / b if b != 0.0 else 1.0 / tiny
    h = d
    for i in range(1, 10_000):
        an = -i * (i - s)
        b += 2.0
        d = an * d + b
        if abs(d) < tiny:
            d = tiny
        c = b + an / c
        if abs(c) < tiny:
            c = tiny
        d = 1.0 / d
        delta = d * c
        h *= delta
        if abs(delta - 1.0) < 1e-16:
            break
    return min(1.0, max(0.0, math.exp(log_pref) * h))


def _nan_to_none(c):
    """A NaN double (possible when an input column itself contains NaN —
    Spark's NaN > 0 is TRUE, so the variance guard passes) must surface
    as JSON null: json.dumps would otherwise emit a bare NaN literal,
    which strict JSON parsers reject."""
    return None if isinstance(c, float) and c != c else c


def _safe_corr_raw(x, y):
    """_safe_corr WITHOUT the presentation round(6) — for downstream
    arithmetic (t_stat) where rounding first distorts 1−r² near |r|→1
    (at n=10⁶ a 6-dp round can shift t by ~20%, or trip the |r|≥1 guard
    on a legitimately finite t)."""
    both = x.isNotNull() & y.isNotNull()
    xm, ym = F.when(both, x), F.when(both, y)
    sx, sy = F.stddev_samp(xm), F.stddev_samp(ym)
    return F.when((sx > 0) & (sy > 0), F.covar_samp(xm, ym) / (sx * sy))


class CorrelationAPI:
    """Named-dataset correlation service over a SparkSession."""

    def __init__(self, spark: SparkSession):
        self.spark = ensure_conf(spark)
        self._datasets: dict[str, DataFrame] = {}

    # -- dataset registry ---------------------------------------------------

    def register_dataset(
        self, name: str, source: DataFrame | str, fmt: str = "parquet"
    ) -> dict[str, Any]:
        """Register a DataFrame or a parquet/csv/json path under a name."""
        if isinstance(source, DataFrame):
            df = source
        elif fmt == "parquet":
            df = read_parquet_any(self.spark, source)  # tolerates ns timestamps
        elif fmt == "csv":
            df = self.spark.read.option("header", "true").option(
                "inferSchema", "true"
            ).csv(source)
        elif fmt == "json":
            df = self.spark.read.json(source)
        else:
            raise ValueError(f"unsupported format: {fmt}")
        self._datasets[name] = df
        return {"dataset": name, "columns": df.columns}

    def list_datasets(self) -> list[str]:
        return sorted(self._datasets)

    def variables(self, dataset: str) -> list[str]:
        """Numeric columns — the unit of correlation (SURVEY.md §1.1)."""
        df = self._get(dataset)
        return [f.name for f in df.schema.fields if isinstance(f.dataType, _NUMERIC)]

    def _get(self, dataset: str, *columns: str | None) -> DataFrame:
        """The registered frame; KeyError (HTTP 404) for an unknown
        dataset or for any named column it lacks (a None column is an
        optional one the caller left out)."""
        if dataset not in self._datasets:
            raise KeyError(f"unknown dataset: {dataset!r}; registered: {self.list_datasets()}")
        df = self._datasets[dataset]
        for c in columns:
            if c is not None and c not in df.columns:
                raise KeyError(f"unknown variable: {c!r}")
        return df

    # -- statistics ----------------------------------------------------------

    def correlate(
        self,
        dataset: str,
        var_x: str,
        var_y: str,
        method: str = "pearson",
        group_by: str | None = None,
    ) -> dict[str, Any]:
        """Pairwise correlation; optionally per group. JSON-able result.

        Every result carries ``t_stat``. For pearson/spearman it is the
        test statistic t = r·√((n−2)/(1−r²)) under H0: ρ=0 (Student-t
        with n−2 df), the number a correlation-service consumer feeds a
        significance lookup — NULL when the correlation is degenerate,
        |r| = 1, or n ≤ 2; computed from the same single aggregation
        pass. For kendall no t-distribution applies: ``t_stat`` is NULL
        (kept for shape-compatibility) and the significance statistic is
        ``z_stat`` — the ties-adjusted normal approximation S/√var(S)
        (Kendall 1945).

        Pearson/spearman results also carry ``ci_95`` — the Fisher-z
        95% confidence interval [tanh(atanh(r) ∓ 1.96·SE)], NULL
        when n ≤ 3 or the coefficient is degenerate/|r| = 1 (atanh
        diverges). SE = 1/√(n−3) for Pearson; for Spearman the
        conventional Fieller-Hartley-Pearson variance inflation
        var(z) ≈ 1.06/(n−3) applies, i.e. SE = √1.06/√(n−3) — the
        naive Pearson SE is anti-conservative for rank correlation.
        Computed driver-side from the unrounded r."""
        df = self._get(dataset)
        x, y = self._num(df, var_x), self._num(df, var_y)
        if method == "kendall":
            return self._kendall(df, dataset, var_x, var_y, group_by)
        if method == "bicor":
            return self._bicor(df, dataset, var_x, var_y, group_by)
        if method == "spearman":
            df = self._avg_ranks(df, var_x, var_y, group_by)
            x, y = F.col("_rx"), F.col("_ry")
        elif method != "pearson":
            raise ValueError(
                f"unknown method: {method!r} "
                "(pearson|spearman|kendall|bicor)"
            )
        agg = [
            _safe_corr(x, y).alias("correlation"),
            _safe_corr_raw(x, y).alias("_corr_raw"),
            F.count(F.when(x.isNotNull() & y.isNotNull(), 1)).alias("n"),
        ]
        base = {"dataset": dataset, "x": var_x, "y": var_y, "method": method}

        def t_stat(r) -> float | None:
            # UNROUNDED r (rounding first distorts 1−r² near |r|→1);
            # c != c catches NaN (Spark's NaN > 0 is TRUE, so a NaN
            # input column yields corr = NaN, which must surface as
            # JSON null, not a non-JSON NaN literal)
            c, n = r._corr_raw, r.n
            if c is None or c != c or n <= 2 or abs(c) >= 1.0:
                return None
            return round(c * ((n - 2) / (1.0 - c * c)) ** 0.5, 6)

        def ci_95(r) -> list[float] | None:
            # Fisher z: atanh(r) is ~normal with SE 1/sqrt(n-3); back-
            # transform the bounds with tanh. UNROUNDED r, same rule as
            # t_stat; atanh diverges at |r| = 1. For SPEARMAN the
            # Fisher-z VARIANCE is inflated — the naive Pearson SE is
            # anti-conservative for rank correlation — per the
            # conventional Fieller-Hartley-Pearson result
            # var(z) ≈ 1.06/(n−3), i.e. SE = sqrt(1.06)/sqrt(n-3)
            # (ADVICE r05; review r06 fixed the variance factor being
            # mistakenly applied to the SE).
            import math

            c, n = r._corr_raw, r.n
            if c is None or c != c or n <= 3 or abs(c) >= 1.0:
                return None
            se_scale = 1.06 ** 0.5 if method == "spearman" else 1.0
            half = 1.96 * se_scale / (n - 3) ** 0.5
            zr = math.atanh(c)
            return [round(math.tanh(zr - half), 6),
                    round(math.tanh(zr + half), 6)]

        if group_by:
            rows = df.groupBy(group_by).agg(*agg).collect()
            return base | {
                "groups": {
                    str(r[group_by]): {
                        "correlation": _nan_to_none(r.correlation),
                        "n": r.n,
                        "t_stat": t_stat(r),
                        "ci_95": ci_95(r),
                    }
                    for r in rows
                }
            }
        r = df.agg(*agg).collect()[0]
        return base | {
            "correlation": _nan_to_none(r.correlation),
            "n": r.n,
            "t_stat": t_stat(r),
            "ci_95": ci_95(r),
        }

    def _bicor(
        self,
        df: DataFrame,
        dataset: str,
        var_x: str,
        var_y: str,
        group_by: str | None,
    ) -> dict[str, Any]:
        """correlate(method='bicor'): the q_corr_bicor engine
        (operators.stats.bicor_frame) over micro-unit-quantized pairs.
        t_stat follows the WGCNA convention — the same Student-t
        formula as Pearson on the UNROUNDED coefficient; ci_95 is NULL
        (no standard Fisher-z result for the biweight)."""
        from .operators.stats import bicor_frame

        x, y = self._num(df, var_x), self._num(df, var_y)
        g = (
            F.col(group_by).cast("string")
            if group_by is not None
            else F.lit("_all")
        )
        data = df.select(
            g.alias("g"),
            F.round(x * 1000000, 0).cast("long").alias("xc"),
            F.round(y * 1000000, 0).cast("long").alias("yc"),
        ).filter(F.col("xc").isNotNull() & F.col("yc").isNotNull())
        rows = bicor_frame(data).collect()
        base = {"dataset": dataset, "x": var_x, "y": var_y,
                "method": "bicor"}

        def t_stat(r) -> float | None:
            c, n = r.bicor_raw, r.n_rows
            if c is None or c != c or n <= 2 or abs(c) >= 1.0:
                return None
            return round(c * ((n - 2) / (1.0 - c * c)) ** 0.5, 6)

        cells = {
            r.g: {
                "correlation": _nan_to_none(r.bicor),
                "n": r.n_rows,
                "t_stat": t_stat(r),
                "ci_95": None,
            }
            for r in rows
        }
        if group_by:
            return base | {"groups": cells}
        return base | cells["_all"]

    #: Routing threshold, not a refusal (round 5): samples/groups within
    #: it run the sequential O(n log n) tau-b counter inside one executor
    #: task (applyInPandas — the fast path); anything bigger routes to
    #: the fully distributed exact algorithm (operators.kendall:
    #: block/bucket-decomposed inversion counting over range-partitioned
    #: positions), which computes the same integer counts and therefore
    #: the same tau to the last bit. The limit is per-GROUP rows, not
    #: dataset rows.
    KENDALL_MAX_ROWS = 1_000_000

    def _kendall(
        self,
        df: DataFrame,
        dataset: str,
        var_x: str,
        var_y: str,
        group_by: str | None,
    ) -> dict[str, Any]:
        """Kendall tau-b per group via executor-side merge-sort counting
        (see _make_tau_b). NaN/NULL rows are pairwise-deleted like the
        other methods."""
        x, y = self._num(df, var_x), self._num(df, var_y)
        g = (
            F.col(group_by).cast("string") if group_by else F.lit("_all")
        ).alias("_g")
        data = df.select(g, x.alias("_x"), y.alias("_y")).filter(
            F.col("_x").isNotNull() & F.col("_y").isNotNull()
            & ~F.isnan("_x") & ~F.isnan("_y")
        )
        # the size-routing count plus the compute jobs all scan this
        # filtered frame — pin it so the common under-cap case pays one
        # source scan, not two (and the distributed path, which consumes
        # it many times, reads the pinned blocks)
        with pinned():
            data = materialize(data)
            return self._kendall_routed(data, dataset, var_x, var_y, group_by)

    def _kendall_routed(
        self,
        data: DataFrame,
        dataset: str,
        var_x: str,
        var_y: str,
        group_by: str | None,
    ) -> dict[str, Any]:
        tau_b = _make_tau_b()
        cap = self.KENDALL_MAX_ROWS
        base = {"dataset": dataset, "x": var_x, "y": var_y, "method": "kendall"}

        def dist_cell(tz: tuple) -> dict[str, Any]:
            tau, z, n = tz
            return {
                "correlation": None if tau is None else round(tau, 6),
                "n": n,
                "t_stat": None,
                "z_stat": None if z is None else round(z, 6),
            }

        if not group_by:
            n_rows = data.count()
            if n_rows > cap:
                # distributed exact path — no row bound (KENDALL_MAX_ROWS
                # docstring); same tau/z algebra from the same integer
                # counts, D decomposed across executors
                from .operators.kendall import kendall_tau_distributed

                return base | dist_cell(
                    kendall_tau_distributed(data.select("_x", "_y"))
                )

        # per-group routing by size: groups within the sequential bound
        # run the single-task O(n log n) counter; bigger groups go
        # through the distributed decomposition (operators.kendall),
        # same integer counts -> same tau to the last bit
        big: list = []
        if group_by:
            sizes = {
                r._g: r.c
                for r in data.groupBy("_g").agg(F.count("*").alias("c")).collect()
            }
            big = [gk for gk, c in sizes.items() if c > cap]

        dist_groups: dict = {}
        if big:
            from .operators.kendall import kendall_tau_by_group

            is_big = F.lit(False)
            for gk in big:  # eqNullSafe: a NULL group key is a group
                is_big = is_big | F.col("_g").eqNullSafe(F.lit(gk))
            dist_groups = kendall_tau_by_group(
                data.filter(is_big).select(F.col("_g").alias("_grp"), "_x", "_y")
            )
            data = data.filter(~is_big)
            if len(big) == len(sizes):  # nothing left for the fast path
                return base | {
                    "groups": {
                        str(gk): dist_cell(tz) for gk, tz in dist_groups.items()
                    }
                }

        def per_group(pdf):
            import pandas as _pd

            if len(pdf) > cap:
                raise ValueError(  # unreachable: big groups routed above
                    f"kendall: group of {len(pdf)} rows exceeds the "
                    f"{cap}-row sequential bound"
                )
            t = tau_b(pdf["_x"].tolist(), pdf["_y"].tolist())
            tau, z = (None, None) if t is None else t
            return _pd.DataFrame(
                {
                    "_g": [pdf["_g"].iloc[0]],
                    "tau": [None if tau is None else round(tau, 6)],
                    "z": [None if z is None else round(z, 6)],
                    "n": [len(pdf)],
                }
            )

        rows = (
            data.groupBy("_g")
            .applyInPandas(per_group, "_g string, tau double, z double, n long")
            .collect()
        )

        def cell(r) -> dict[str, Any]:
            # t_stat: None keeps the documented result shape (pearson/
            # spearman carry a Student-t); kendall's significance is the
            # ties-adjusted normal approximation, reported as z_stat
            return {
                "correlation": _nan_to_none(r.tau),
                "n": r.n,
                "t_stat": None,
                "z_stat": _nan_to_none(r.z),
            }

        if group_by:
            # str(r._g) — a NULL group key arrives as Python None; the
            # pearson/spearman grouped paths name that group str(None) ==
            # 'None', so kendall must too (same dataset, same group names
            # across methods — json would otherwise render it 'null')
            groups = {str(r._g): cell(r) for r in rows}
            groups |= {str(gk): dist_cell(tz) for gk, tz in dist_groups.items()}
            return base | {"groups": groups}
        r = rows[0] if rows else None
        if r is None:
            return base | {
                "correlation": None, "n": 0, "t_stat": None, "z_stat": None,
            }
        return base | cell(r)

    def covariance(
        self, dataset: str, var_x: str, var_y: str, sample: bool = True
    ) -> dict[str, Any]:
        df = self._get(dataset)
        fn = F.covar_samp if sample else F.covar_pop
        r = df.agg(F.round(fn(self._num(df, var_x), self._num(df, var_y)), 6).alias("c")).collect()[0]
        return {
            "dataset": dataset, "x": var_x, "y": var_y,
            "kind": "sample" if sample else "population",
            "covariance": _nan_to_none(r.c),
        }

    #: contingency cells the association endpoint will collect to the
    #: driver — a bound on CATEGORY CARDINALITY (distinct a × b pairs),
    #: never on data size: 1e5 cells is ~a 300×300 factor table, far
    #: beyond any real categorical pair, and the reduction itself is
    #: exact integer counts (the kendall.py bounded-collect precedent)
    ASSOC_MAX_CELLS = 100_000

    def association(
        self,
        dataset: str,
        var_a: str,
        var_b: str,
        method: str = "cramer",
    ) -> dict[str, Any]:
        """Categorical / mixed-type association — the measures Pearson
        leaves open (the declared keys q_corr_cramer / q_theil_u /
        q_mutual_info / q_corr_eta, as a service endpoint).

        methods over two DISCRETE variables (values used as labels;
        NULL rows pairwise-deleted like correlate()):
          * ``cramer`` — chi² + Cramér's V + dof,
          * ``theil``  — Theil's U both directions (asymmetric),
          * ``mi``     — mutual information (nats) + sqrt-normalized NMI;
        and for a categorical factor vs a NUMERIC value:
          * ``eta``    — correlation ratio η² (var_a = factor,
            var_b = numeric).

        Scale shape: ONE map-side-combinable contingency aggregate
        (category-sized shuffle); the driver sees only the cell counts
        — bounded by ASSOC_MAX_CELLS, which measures category
        cardinality, not rows — and finishes with exact-integer math
        (python ints + math.log), so a 100 TB fact table costs the same
        driver work as a 100-row one."""
        import math

        df = self._get(dataset, var_a, var_b)
        base = {"dataset": dataset, "a": var_a, "b": var_b, "method": method}

        if method == "eta":
            x = self._num(df, var_b)
            g = (
                df.select(F.col(var_a).cast("string").alias("_g"), x.alias("_x"))
                .filter(F.col("_x").isNotNull() & ~F.isnan("_x")
                        & F.col("_g").isNotNull())
                .groupBy("_g")
                .agg(
                    F.sum("_x").alias("s"),
                    F.sum(F.col("_x") * F.col("_x")).alias("q"),
                    F.count("*").alias("m"),
                )
                .collect()
            )
            n = sum(r.m for r in g)
            if n == 0 or len(g) < 2:
                return base | {"eta2": None, "eta": None, "n": n,
                               "levels": len(g)}
            st = sum(r.s for r in g)
            qt = sum(r.q for r in g)
            ssb = sum(r.s * r.s / r.m for r in g) - st * st / n
            sst = qt - st * st / n
            eta2 = None if sst <= 0 else max(0.0, min(1.0, ssb / sst))
            return base | {
                "eta2": None if eta2 is None else round(eta2, 6),
                "eta": None if eta2 is None else round(eta2 ** 0.5, 6),
                "n": n,
                "levels": len(g),
            }

        if method not in ("cramer", "theil", "mi"):
            raise ValueError(
                f"unknown method: {method!r} (cramer|theil|mi|eta)"
            )
        cap = self.ASSOC_MAX_CELLS
        cells = (
            df.select(
                F.col(var_a).cast("string").alias("_a"),
                F.col(var_b).cast("string").alias("_b"),
            )
            .filter(F.col("_a").isNotNull() & F.col("_b").isNotNull())
            .groupBy("_a", "_b")
            .agg(F.count("*").alias("_c"))
            .limit(cap + 1)
            .collect()
        )
        if len(cells) > cap:
            raise ValueError(
                f"contingency table exceeds {cap} cells — "
                "variables are not categorical at this cardinality"
            )
        n = sum(r._c for r in cells)
        if n == 0:
            return base | {"n": 0}
        ra: dict[str, int] = {}
        cb: dict[str, int] = {}
        for r in cells:
            ra[r._a] = ra.get(r._a, 0) + r._c
            cb[r._b] = cb.get(r._b, 0) + r._c
        out: dict[str, Any] = {
            "n": n, "levels_a": len(ra), "levels_b": len(cb),
        }
        if method == "cramer":
            chi2 = sum(
                (r._c * n - ra[r._a] * cb[r._b]) ** 2
                / (n * ra[r._a] * cb[r._b])
                for r in cells
            )
            k = min(len(ra), len(cb)) - 1
            out |= {
                "chi2": round(chi2, 6),
                "cramers_v": None if k <= 0 else round((chi2 / (n * k)) ** 0.5, 6),
                "dof": (len(ra) - 1) * (len(cb) - 1),
            }
        elif method == "theil":
            h_a = -sum(c / n * math.log(c / n) for c in ra.values())
            h_b = -sum(c / n * math.log(c / n) for c in cb.values())
            h_ab = -sum(r._c / n * math.log(r._c / cb[r._b]) for r in cells)
            h_ba = -sum(r._c / n * math.log(r._c / ra[r._a]) for r in cells)
            out |= {
                "u_a_given_b": None if h_a == 0 else round((h_a - h_ab) / h_a, 6),
                "u_b_given_a": None if h_b == 0 else round((h_b - h_ba) / h_b, 6),
                "h_a": round(h_a, 6),
                "h_b": round(h_b, 6),
            }
        else:  # mi
            h_a = -sum(c / n * math.log(c / n) for c in ra.values())
            h_b = -sum(c / n * math.log(c / n) for c in cb.values())
            mi = sum(
                r._c / n * math.log(r._c * n / (ra[r._a] * cb[r._b]))
                for r in cells
            )
            hh = h_a * h_b
            out |= {
                "mi_nats": round(mi, 6),
                "nmi": None if hh <= 0 else round(mi / hh ** 0.5, 6),
                "h_a": round(h_a, 6),
                "h_b": round(h_b, 6),
            }
        return base | out

    def distribution(
        self,
        dataset: str,
        var: str,
        group_by: str | None = None,
        gini: bool = False,
        percentiles: list[float] | None = None,
        method: str = "exact",
        normality: bool = False,
    ) -> dict[str, Any]:
        """Distribution-shape profile of a numeric variable: mean,
        sample stddev, skewness, excess kurtosis, n — optionally per
        group — plus (opt-in) the Jarque-Bera normality test
        (normality=True: JB = n/6·(S² + K²/4) from the same moments;
        p-value is the exact χ²(2) tail exp(−JB/2) — the q_jarque_bera
        engine, scalar math on the already-collected group rows),
        (opt-in) the Gini concentration coefficient and
        (opt-in) percentiles, exact (F.percentile: sort-per-group,
        right at category cardinality) or 'sketch' (KLL k=200,
        mergeable, the 100 TB path — q_agg_quantile_merge's engine
        with ~1.65% certified rank error).

        Moments use Spark's population-moment aggregates (the same
        m3/m2^1.5 and m4/m2²−3 definitions as the declared
        q_agg_moments key); everything rides ONE map-side-combinable
        aggregate. Gini quantizes to exact micro-units and reuses the
        range-partitioned average-rank table (q_agg_gini's sort-free
        plan; grouped via grouped_avg_rank_table) — it requires
        non-negative values and errors otherwise."""
        from .operators.stats import avg_rank_table, grouped_avg_rank_table

        df = self._get(dataset)
        x = self._num(df, var)
        g = (
            F.col(group_by).cast("string") if group_by else F.lit("_all")
        ).alias("_g")
        if method not in ("exact", "sketch"):
            raise ValueError("method must be 'exact' or 'sketch'")
        ps = list(percentiles or [])
        if any(not (0.0 <= p <= 1.0) for p in ps):
            raise ValueError("percentiles must be in [0, 1]")
        data = df.select(g, x.alias("_x")).filter(
            F.col("_x").isNotNull() & ~F.isnan("_x")
        )
        pct_aggs = []
        if ps:
            if method == "exact":
                pct_aggs = [
                    F.round(F.percentile("_x", p), 6).alias(f"_p{i}")
                    for i, p in enumerate(ps)
                ]
            else:
                # one micro-unit KLL sketch per group, queried per p
                sk = F.kll_sketch_agg_bigint(
                    F.round(F.col("_x") * 1000000, 0).cast("long"), 200
                )
                pct_aggs = [
                    (
                        F.kll_sketch_get_quantile_bigint(
                            sk, F.lit(p)
                        ).cast("double")
                        / 1000000.0
                    ).alias(f"_p{i}")
                    for i, p in enumerate(ps)
                ]
        rows = (
            data.groupBy("_g")
            .agg(
                F.round(F.avg("_x"), 6).alias("mean"),
                F.round(F.stddev_samp("_x"), 6).alias("stddev"),
                F.round(F.skewness("_x"), 6).alias("skewness"),
                F.round(F.kurtosis("_x"), 6).alias("kurtosis_excess"),
                F.count("*").alias("n"),
                *pct_aggs,
            )
            .collect()
        )
        gini_by: dict[str, float] = {}
        if gini:
            neg = data.filter(F.col("_x") < 0).limit(1).count()
            if neg:
                raise ValueError(
                    "gini requires non-negative values "
                    f"(variable {var!r} has negatives)"
                )
            q = data.select(
                "_g",
                F.round(F.col("_x") * 1000000, 0).cast("long").alias("_m"),
            )
            if group_by:
                ranks = grouped_avg_rank_table(q, "_g", "_m", "_ar")
                joined = q.join(ranks, ["_g", "_m"])
            else:
                ranks = avg_rank_table(q.select("_m"), "_m", "_ar")
                joined = q.join(ranks, "_m")
            r2 = F.round(F.col("_ar") * 2, 0).cast("long")
            gs = (
                joined.groupBy("_g")
                .agg(
                    F.sum(F.col("_m").cast("decimal(38,0)") * r2).alias("t"),
                    F.sum(F.col("_m").cast("decimal(38,0)")).alias("s"),
                    F.count("*").alias("n"),
                )
                .collect()
            )
            for r in gs:
                if r.s and int(r.s) > 0:
                    gini_by[r._g] = round(
                        float(
                            (int(r.t) - (r.n + 1) * int(r.s))
                            / (r.n * int(r.s))
                        ),
                        6,
                    )

        def cell(r) -> dict[str, Any]:
            d = {
                "mean": _nan_to_none(r.mean),
                "stddev": _nan_to_none(r.stddev),
                "skewness": _nan_to_none(r.skewness),
                "kurtosis_excess": _nan_to_none(r.kurtosis_excess),
                "n": r.n,
            }
            if normality:
                s, k = _nan_to_none(r.skewness), _nan_to_none(r.kurtosis_excess)
                if s is not None and k is not None:
                    jb = r.n / 6.0 * (s * s + k * k / 4.0)
                    d["jb_stat"] = round(jb, 6)
                    d["jb_p_value"] = round(math.exp(-jb / 2.0), 6)
                else:
                    d["jb_stat"] = d["jb_p_value"] = None
            if gini:
                d["gini"] = gini_by.get(r._g)
            if ps:
                d["percentiles"] = {
                    str(p): _nan_to_none(r[f"_p{i}"])
                    for i, p in enumerate(ps)
                }
            return d

        base = {"dataset": dataset, "var": var}
        if group_by:
            return base | {
                "group_by": group_by,
                "groups": {str(r._g): cell(r) for r in rows},
            }
        return base | (cell(rows[0]) if rows else {"n": 0})

    def compare(
        self,
        dataset: str,
        var: str,
        group_by: str,
        group_a: str,
        group_b: str,
    ) -> dict[str, Any]:
        """Two-sample distribution comparison between two groups of a
        numeric variable: exact Kolmogorov-Smirnov D (+ the
        √(n1n2/(n1+n2))-scaled statistic), tie-corrected Mann-Whitney
        U/z, and per-group mean/stddev/n — the q_ks_test /
        q_mannwhitney engine (operators.stats.two_sample_stats) as a
        service endpoint. Values quantize to exact integer micro-units
        first (the engine's integer-ECDF machinery needs integers; 1e-6
        resolution, documented).

        Scale shape: one conditional-count shuffle to the distinct-
        value grain, one range-partitioned running-sum shuffle, one
        reduction — never a global sort."""
        from .operators.stats import two_sample_stats

        df = self._get(dataset, group_by)
        x = self._num(df, var)
        g = F.col(group_by).cast("string")
        data = df.select(
            F.when(g == group_a, "A").when(g == group_b, "B").alias("g"),
            F.round(x * 1000000, 0).cast("long").alias("cents"),
        ).filter(
            F.col("g").isNotNull() & F.col("cents").isNotNull()
        )
        r = two_sample_stats(data).collect()[0]
        if r.n1 == 0 or r.n2 == 0:
            raise ValueError(
                f"empty sample: {group_a!r} has {r.n1} rows, "
                f"{group_b!r} has {r.n2}"
            )
        means = (
            data.groupBy("g")
            .agg(
                F.round(F.avg(F.col("cents") / 1000000), 6).alias("mean"),
                F.round(F.stddev_samp(F.col("cents") / 1000000), 6)
                .alias("stddev"),
            )
            .collect()
        )
        mstats = {m.g: m for m in means}
        return {
            "dataset": dataset, "var": var, "group_by": group_by,
            "groups": {
                group_a: {
                    "n": r.n1,
                    "mean": _nan_to_none(mstats["A"].mean),
                    "stddev": _nan_to_none(mstats["A"].stddev),
                },
                group_b: {
                    "n": r.n2,
                    "mean": _nan_to_none(mstats["B"].mean),
                    "stddev": _nan_to_none(mstats["B"].stddev),
                },
            },
            "ks_d": _nan_to_none(r.ks_d),
            "ks_stat": _nan_to_none(r.ks_stat),
            "mw_u1": _nan_to_none(r.u1),
            "mw_u2": _nan_to_none(r.u2),
            "mw_z": _nan_to_none(r.z),
        } | self._effect_size(
            r.n1, _nan_to_none(mstats["A"].mean), _nan_to_none(mstats["A"].stddev),
            r.n2, _nan_to_none(mstats["B"].mean), _nan_to_none(mstats["B"].stddev),
        )

    @staticmethod
    def _effect_size(n1, m1, s1, n2, m2, s2) -> dict[str, Any]:
        """Cohen's d (pooled sd) + Hedges' g small-sample correction —
        the q_cohens_d engine's formulas on the per-group moments the
        compare() aggregate already produced; scalar driver math."""
        if None in (m1, s1, m2, s2) or n1 < 2 or n2 < 2:
            return {"cohens_d": None, "hedges_g": None}
        sp2 = ((n1 - 1) * s1 * s1 + (n2 - 1) * s2 * s2) / (n1 + n2 - 2)
        if sp2 <= 0:
            return {"cohens_d": None, "hedges_g": None}
        d = (m1 - m2) / math.sqrt(sp2)
        return {
            "cohens_d": round(d, 6),
            "hedges_g": round(d * (1 - 3.0 / (4 * (n1 + n2) - 9)), 6),
        }

    def anova(
        self,
        dataset: str,
        var: str,
        group_by: str,
        center: str = "mean",
    ) -> dict[str, Any]:
        """k-sample comparison of a numeric variable across ALL levels
        of a factor — the q_anova / q_levene engine
        (operators.stats.f_oneway) as a service endpoint.

        center='mean' is classic one-way ANOVA (F on the values);
        center='median' is the Brown-Forsythe variance-equality test
        (F on |x − median_g|, kept exact via the 2×-scale integer
        trick — the statistic is scale-invariant). Values quantize to
        exact integer micro-units first, same 1e-6 lattice as
        compare().

        Scale shape: one factor shuffle (+ for median centering, a
        group-percentile pass and a broadcast join of the k-row median
        table), then a k-row reduction."""
        from .operators.stats import f_oneway, group_moments

        if center not in ("mean", "median"):
            raise ValueError(f"unknown center: {center!r}")
        df = self._get(dataset, group_by)
        x = self._num(df, var)
        data = df.select(
            F.col(group_by).cast("string").alias("grp"),
            F.round(x * 1000000, 0).cast("long").alias("v"),
        ).filter(F.col("grp").isNotNull() & F.col("v").isNotNull())
        if center == "median":
            med = data.groupBy("grp").agg(
                F.round(2 * F.percentile(F.col("v"), F.lit(0.5)), 0)
                .cast("long")
                .alias("m2")
            )
            data = data.join(F.broadcast(med), "grp").select(
                "grp", F.abs(2 * F.col("v") - F.col("m2")).alias("v")
            )
        with pinned():
            g = materialize(group_moments(data, "v"))
            r = f_oneway(g).collect()[0]
            if r.df_between < 1 or r.df_within < 1:
                raise ValueError(
                    f"need >=2 groups and n > k: k={r.df_between + 1}, "
                    f"n={r.n_rows}"
                )
            # center='median' moments are of |2x − 2·median|, so the
            # per-group location is the mean absolute deviation (÷2 to
            # undo the exactness scaling), not the group mean
            loc_key = "mean_absdev" if center == "median" else "mean"
            loc_div = 2000000.0 if center == "median" else 1000000.0
            groups = {
                m.grp: {
                    "n": m.m,
                    loc_key: _nan_to_none(round(m.s / m.m / loc_div, 6)),
                }
                for m in g.collect()
            }
        stat = "w_stat" if center == "median" else "f_stat"
        return {
            "dataset": dataset, "var": var, "group_by": group_by,
            "center": center,
            stat: _nan_to_none(r.f_stat),
            "df_between": r.df_between, "df_within": r.df_within,
            "eta2": _nan_to_none(r.eta2),
            "groups": groups,
        }

    def tukey(
        self,
        dataset: str,
        var: str,
        group_by: str,
    ) -> dict[str, Any]:
        """Tukey-Kramer HSD post-hoc — the q_tukey_hsd engine
        (operators.stats.tukey_pairs) parameterized: after anova()'s
        omnibus F, the pairwise studentized-range q statistic for
        every factor-level pair, with the mean difference in var
        units. Values quantize to the same 1e-6 lattice as anova();
        compare q against the studentized-range critical value for
        (k, df_within) downstream."""
        from .operators.stats import group_moments, tukey_pairs

        df = self._get(dataset, group_by)
        x = self._num(df, var)
        data = df.select(
            F.col(group_by).cast("string").alias("grp"),
            F.round(x * 1000000, 0).cast("long").alias("v"),
        ).filter(F.col("grp").isNotNull() & F.col("v").isNotNull())
        rows = tukey_pairs(
            group_moments(data, "v"), unit_div=1000000.0
        ).collect()
        if not rows:
            raise ValueError("need >= 2 groups with data")
        return {
            "dataset": dataset, "var": var, "group_by": group_by,
            "df_within": rows[0].df_within,
            "n_pairs": len(rows),
            "pairs": [
                {
                    "a": r.grp_a, "b": r.grp_b,
                    "mean_diff": _nan_to_none(r.mean_diff),
                    "q_stat": _nan_to_none(r.q_stat),
                    "n_a": r.n_a, "n_b": r.n_b,
                }
                for r in sorted(rows, key=lambda r: (r.grp_a, r.grp_b))
            ],
        }

    def integrity(
        self,
        child: str,
        fk: str,
        parent: str,
        pk: str,
    ) -> dict[str, Any]:
        """Referential-integrity audit of one FK edge between two
        registered datasets — the q_fk_integrity engine
        (operators.analytics.fk_edge_audit) parameterized: child rows,
        NULL foreign keys, orphans (non-NULL FK with no parent), and
        the orphan share."""
        from .operators.analytics import fk_edge_audit

        c = self._get(child, fk)
        p = self._get(parent, pk)
        r = fk_edge_audit(c, fk, p, pk, f"{child}->{parent}").collect()[0]
        present = r.n_child - r.n_null_fk
        return {
            "relation": r.relation, "fk": fk, "pk": pk,
            "n_child": r.n_child,
            "n_null_fk": r.n_null_fk,
            "n_orphans": r.n_orphans,
            "orphan_share": (
                round(r.n_orphans / present, 6) if present else None
            ),
        }

    def basket(
        self,
        dataset: str,
        basket: str,
        item: str,
        min_count: int = 10,
        limit: int = 50,
    ) -> dict[str, Any]:
        """Market-basket association rules over a registered dataset —
        the q_basket_lift engine (operators.analytics.basket_rules)
        parameterized by the basket and item columns: support /
        confidence / lift per co-occurring item pair, top pairs by
        lift (ties broken by the pair key for determinism)."""
        from .operators.analytics import basket_rules

        df = self._get(dataset, basket, item)
        baskets = df.select(
            F.col(basket).alias("ok"),
            F.col(item).cast("string").alias("b"),
        ).filter(
            F.col("ok").isNotNull() & F.col("b").isNotNull()
        ).distinct()
        rows = (
            basket_rules(baskets, min_count=min_count)
            .orderBy(F.desc("lift"), "b1", "b2")
            .limit(limit)
            .collect()
        )
        return {
            "dataset": dataset, "basket": basket, "item": item,
            "min_count": min_count,
            "pairs": [
                {
                    "a": r.b1, "b": r.b2, "n_baskets": r.n_orders,
                    "support": _nan_to_none(r.support),
                    "confidence": _nan_to_none(r.confidence),
                    "lift": _nan_to_none(r.lift),
                }
                for r in rows
            ],
        }

    def changepoint(
        self,
        dataset: str,
        var: str,
        time: str,
        grain: str = "day",
    ) -> dict[str, Any]:
        """CUSUM changepoint curve per period — the q_drift_cusum
        engine (operators.stats.cusum_frame) parameterized: the
        cumulative deviation from the full-period mean per period,
        plus the estimated changepoint (the period of max |CUSUM| —
        the Page / binary-segmentation split point). Values quantize
        to exact integer micro-units first (1e-6 lattice)."""
        from .operators.stats import cusum_frame

        df = self._get(dataset, time)
        x = self._num(df, var)
        data = df.select(
            F.date_trunc(grain, F.col(time).cast("timestamp")).alias("d"),
            F.round(x * 1000000, 0).cast("long").alias("micro"),
        ).filter(F.col("d").isNotNull() & F.col("micro").isNotNull())
        rows = cusum_frame(data).orderBy("d").collect()
        if not rows:
            raise ValueError("no usable rows")
        peak = max(rows, key=lambda r: (abs(r.cusum), str(r.d)))
        return {
            "dataset": dataset, "var": var, "time": time, "grain": grain,
            "changepoint": str(peak.d),
            "peak_cusum": _nan_to_none(peak.cusum),
            "periods": {
                str(r.d): {"cusum": _nan_to_none(r.cusum),
                           "n": r.n_events}
                for r in rows
            },
        }

    def trend(
        self,
        dataset: str,
        var: str,
        time: str,
        group_by: str | None = None,
        grain: str = "day",
    ) -> dict[str, Any]:
        """Per-group OLS trend of period totals on the period index —
        the q_ols_daily engine (operators.stats.ols_trend)
        parameterized: slope (var units per period), intercept, R²,
        and period count per group. Values quantize to exact integer
        micro-units first (1e-6 lattice). The nonparametric sibling
        (Mann-Kendall z + Sen's slope) stays with the q_ts_trend key;
        this service is the parametric line fit."""
        from .operators.stats import ols_trend

        df = self._get(dataset, time, group_by)
        x = self._num(df, var)
        g = (
            F.col(group_by).cast("string")
            if group_by is not None
            else F.lit("_all")
        )
        daily = (
            df.select(
                g.alias("grp"),
                F.date_trunc(grain, F.col(time).cast("timestamp"))
                .alias("d"),
                F.round(x * 1000000, 0).cast("long").alias("micro"),
            )
            .filter(F.col("d").isNotNull() & F.col("micro").isNotNull())
            .groupBy("grp", "d")
            .agg(F.sum("micro").cast("bigint").alias("y"))
        )
        rows = ols_trend(daily).collect()
        if not rows:
            raise ValueError("no usable rows")
        return {
            "dataset": dataset, "var": var, "time": time,
            "group_by": group_by, "grain": grain,
            "groups": {
                r.grp: {
                    "slope": _nan_to_none(r.slope),
                    "intercept": _nan_to_none(r.intercept),
                    "r2": _nan_to_none(r.r2),
                    "n_periods": r.n_days,
                }
                for r in rows
            },
        }

    def decompose(
        self,
        dataset: str,
        var: str,
        time: str,
        grain: str = "day",
        period: int = 7,
    ) -> dict[str, Any]:
        """Classical additive seasonal decomposition of the per-period
        mean series — the q_ts_decompose engine (operators.stats
        .decompose_frame) parameterized: centered ``period``-point MA
        trend, per-phase (index % period) seasonal index of the
        detrended residual. Values quantize to exact integer
        micro-units first (1e-6 lattice); ``period`` must be odd so
        the MA window is symmetric."""
        from .operators.stats import decompose_frame

        if grain not in ("hour", "day", "week", "month"):
            raise ValueError(f"unknown grain: {grain!r}")
        if period < 3 or period % 2 == 0:
            raise ValueError("period must be odd and >= 3")
        df = self._get(dataset, time)
        x = self._num(df, var)
        daily = (
            df.select(
                F.col(time).cast("timestamp").alias("_t"),
                F.round(x * 1000000, 0).cast("long").alias("micro"),
            )
            .filter(F.col("_t").isNotNull() & F.col("micro").isNotNull())
            .groupBy(_epoch_grain_index(grain).alias("dn"))
            .agg(F.round(F.avg("micro")).cast("bigint").alias("vu"))
        )
        rows = decompose_frame(daily, period=period).collect()
        if not rows:
            raise ValueError(
                "no fully-windowed periods (need >= period contiguous "
                "periods of data)"
            )
        return {
            "dataset": dataset, "var": var, "time": time, "grain": grain,
            "period": period,
            "phases": {
                int(r.dow): {
                    "seasonal": _nan_to_none(r.seasonal),
                    "trend_mean": _nan_to_none(r.trend_mean),
                    "n_periods": r.n_days,
                }
                for r in rows
            },
        }

    def weighted_quantile(
        self,
        dataset: str,
        var: str,
        weight: str,
        group_by: str | None = None,
        quantiles: str = "0.25,0.5,0.75",
    ) -> dict[str, Any]:
        """Weighted percentiles per group — the q_percentile_weighted
        engine (operators.aggregates.weighted_quantiles)
        parameterized: for each requested q the smallest value whose
        running weight reaches q·W, decided by an exact INTEGER
        inequality (den·cw ≥ num·tw from q's reduced fraction at the
        1e-6 lattice). Values and weights quantize to exact integer
        micro-units; rows with NULL or non-positive weight are
        excluded (surfaced as n_excluded)."""
        from fractions import Fraction

        from .operators.aggregates import weighted_quantiles

        df = self._get(dataset, group_by)
        x = self._num(df, var)
        w = self._num(df, weight)
        qs: list[tuple[str, int, int]] = []
        for tok in quantiles.split(","):
            tok = tok.strip()
            if not tok:
                continue
            frac = Fraction(tok).limit_denominator(1000000)
            if not 0 < frac < 1:
                raise ValueError(f"quantile out of range (0,1): {tok!r}")
            qs.append((f"q{tok}", frac.numerator, frac.denominator))
        if not qs:
            raise ValueError("no quantiles requested")
        g = (
            F.col(group_by).cast("string")
            if group_by is not None
            else F.lit("_all")
        )
        base_all = df.select(
            g.alias("g"),
            F.round(x * 1000000, 0).cast("long").alias("v"),
            F.round(w * 1000000, 0).cast("long").alias("w"),
        )
        base = base_all.filter(
            F.col("v").isNotNull() & (F.col("w") > 0)
        ).select(
            "g", "v", "w",
            F.col("v").alias("o1"), F.lit(0).alias("o2"),
        )
        counts = base_all.agg(
            F.count("*").alias("n_all"),
            F.sum(
                (F.col("v").isNotNull() & (F.col("w") > 0)).cast("long")
            ).alias("n_used"),
        ).collect()[0]
        rows = weighted_quantiles(base, qs).collect()
        if not rows:
            raise ValueError("no usable rows")
        return {
            "dataset": dataset, "var": var, "weight": weight,
            "group_by": group_by,
            "n_excluded": int(counts.n_all - (counts.n_used or 0)),
            "groups": {
                r.g: {
                    **{
                        name: _nan_to_none(r[name] / 1000000.0)
                        for name, _, _ in qs
                    },
                    "total_weight": _nan_to_none(
                        r.total_weight / 1000000.0
                    ),
                    "n_rows": r.n_rows,
                }
                for r in rows
            },
        }

    def gopher(
        self,
        dataset: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        limit: int = 100,
    ) -> dict[str, Any]:
        """Gopher-rule quality report over a caller-chosen (id, text)
        table — the q_text_gopher engine (llm.text.gopher_frame)
        parameterized: corpus-level pass counts per rule, the pass
        rate, and up to ``limit`` failing doc ids with their fired
        rules (totals are computed engine-side, so a truncated listing
        still reports true counts)."""
        if limit < 0:
            raise ValueError("limit must be >= 0")
        from .llm.text import gopher_frame

        docs_all, docs = self._docs_view(dataset, id_col, text_col)
        gf = gopher_frame(docs)
        tot = gf.agg(
            F.count("*").alias("n_docs"),
            F.sum("r_ntok").alias("p_ntok"),
            F.sum("r_wordlen").alias("p_wordlen"),
            F.sum("r_alpha").alias("p_alpha"),
            F.sum("r_stop").alias("p_stop"),
            F.sum("passes_gopher").alias("n_pass"),
        ).collect()[0]
        if not tot.n_docs:
            raise ValueError("no usable rows")
        failing = (
            gf.filter(F.col("passes_gopher") == 0)
            .orderBy("doc_id")
            .limit(limit)
            .collect()
        )
        rule_names = ("r_ntok", "r_wordlen", "r_alpha", "r_stop")
        return {
            "dataset": dataset,
            "n_docs": tot.n_docs,
            "n_excluded": docs_all.count() - tot.n_docs,
            "n_pass": int(tot.n_pass),
            "pass_rate": round(tot.n_pass / tot.n_docs, 6),
            "rule_pass_counts": {
                "ntok": int(tot.p_ntok),
                "wordlen": int(tot.p_wordlen),
                "alpha": int(tot.p_alpha),
                "stop": int(tot.p_stop),
            },
            "failing": [
                {
                    "doc_id": r.doc_id,
                    "failed_rules": [
                        n[2:] for n in rule_names if not r[n]
                    ],
                }
                for r in failing
            ],
        }

    def forecast(
        self,
        dataset: str,
        var: str,
        time: str,
        group_by: str | None = None,
        grain: str = "day",
        method: str = "holt",
        season: int = 7,
        alpha: float = 0.3,
        beta: float = 0.1,
        gamma: float = 0.2,
    ) -> dict[str, Any]:
        """Forecasting service over period totals per group.

        method='holt': Holt's linear smoothing (operators.stats
        .holt_linear) — level/trend state + the one-step-ahead
        forecast. method='holtwinters': additive seasonal Holt-Winters
        (operators.stats.holt_winters_additive) — level/trend plus an
        m=season circular seasonal state, one-step-ahead forecast
        includes the next seasonal term. method='naive': the
        seasonal-naive backtest (forecast(t) = actual(t − season
        periods)) scored with WAPE/MAE from exact integer sums — the
        q_forecast_naive engine parameterized by grain and season
        length."""
        from .operators.stats import holt_linear, holt_winters_additive

        if method not in ("holt", "naive", "holtwinters"):
            raise ValueError(
                f"unknown method: {method!r} (holt|holtwinters|naive)"
            )
        if grain not in ("hour", "day", "week", "month"):
            raise ValueError(f"unknown grain: {grain!r}")
        df = self._get(dataset, time, group_by)
        x = self._num(df, var)
        g = (
            F.col(group_by).cast("string")
            if group_by is not None
            else F.lit("_all")
        )
        daily = (
            df.select(
                g.alias("grp"),
                F.date_trunc(grain, F.col(time).cast("timestamp"))
                .alias("d"),
                F.round(x * 1000000, 0).cast("long").alias("micro"),
            )
            .filter(F.col("d").isNotNull() & F.col("micro").isNotNull())
            .groupBy("grp", "d")
            .agg(F.sum("micro").cast("bigint").alias("y"))
        )
        base = {"dataset": dataset, "var": var, "time": time,
                "group_by": group_by, "grain": grain, "method": method}
        if method in ("holt", "holtwinters"):
            pts = daily.select(
                "grp",
                F.row_number()
                .over(Window.partitionBy("grp").orderBy("d"))
                .cast("long")
                .alias("t"),
                (F.col("y").cast("double") / 1000000.0).alias("y"),
            )
            if method == "holtwinters":
                rows = holt_winters_additive(
                    pts, alpha=alpha, beta=beta, gamma=gamma,
                    m=int(season),
                ).collect()
                return base | {
                    "alpha": alpha, "beta": beta, "gamma": gamma,
                    "season": int(season),
                    "groups": {
                        r.grp: {
                            "level": _nan_to_none(r.level),
                            "trend": _nan_to_none(r.trend),
                            "season_next": _nan_to_none(r.season_next),
                            "forecast_1": _nan_to_none(r.forecast_1),
                            "n_periods": r.n_periods,
                        }
                        for r in rows
                    },
                }
            rows = holt_linear(pts, alpha=alpha, beta=beta).collect()
            return base | {
                "alpha": alpha, "beta": beta,
                "groups": {
                    r.grp: {
                        "level": _nan_to_none(r.level),
                        "trend": _nan_to_none(r.trend),
                        "forecast_1": _nan_to_none(r.forecast_1),
                        "n_periods": r.n_periods,
                    }
                    for r in rows
                },
            }
        fc = daily.select(
            "grp",
            (F.col("d") + F.expr(f"INTERVAL {int(season)} {grain}"))
            .alias("d"),
            F.col("y").alias("fc"),
        )
        scored = daily.join(fc, ["grp", "d"])
        rows = scored.groupBy("grp").agg(
            F.count("*").alias("n_forecasts"),
            F.round(
                F.sum(F.abs(F.col("y") - F.col("fc"))).cast("double")
                / F.sum("y"),
                6,
            ).alias("wape"),
            F.round(
                F.sum(F.abs(F.col("y") - F.col("fc"))).cast("double")
                / F.count("*")
                / 1000000.0,
                6,
            ).alias("mae"),
        ).collect()
        return base | {
            "season": season,
            "groups": {
                r.grp: {
                    "n_forecasts": r.n_forecasts,
                    "wape": _nan_to_none(r.wape),
                    "mae": _nan_to_none(r.mae),
                }
                for r in rows
            },
        }

    def pca(
        self,
        dataset: str,
        id_col: str,
        vector: str,
        k: int = 8,
    ) -> dict[str, Any]:
        """PCA spectrum of a registered embedding table — the
        q_embed_pca engine (llm.similarity.pca_spectrum)
        parameterized: top-k covariance eigenvalues with explained-
        variance ratios, from one Arrow-batched Gram-partial pass."""
        from .llm.similarity import corpus_view, pca_spectrum

        df = self._get(dataset)
        rows = pca_spectrum(
            corpus_view(df, id_col, vector), k=k
        ).collect()
        return {
            "dataset": dataset, "vector": vector, "k": len(rows),
            "components": [
                {
                    "component": r.component,
                    "eigenvalue": _nan_to_none(r.eigenvalue),
                    "explained_var": _nan_to_none(r.explained_var),
                    "cum_explained_var": _nan_to_none(
                        r.cum_explained_var
                    ),
                }
                for r in rows
            ],
        }

    def drift(
        self,
        dataset: str,
        var: str,
        time_col: str,
        grain: str = "day",
    ) -> dict[str, Any]:
        """Distribution-drift monitor. NUMERIC var: per-period exact
        KS distance, Laplace-smoothed PSI, and KL + Jensen-Shannon
        divergence against the full-period reference — the
        q_drift_daily / q_drift_psi / q_drift_js engines as one
        service endpoint. STRING var: per-period chi-square of the
        category distribution vs the pooled reference (the
        q_drift_chi2 engine) — the response carries kind =
        numeric|categorical (values quantize to exact
        integer micro-units; KS sup is evaluated over the GLOBAL value
        domain via the period×domain spine; PSI/KL/JS share 10
        equal-width integer bins).

        Scale shape: the fact scan reduces to (period, value) cells
        once; every later step is bounded by time × value-domain, with
        the reference cumulative from the range-partitioned running
        sum — no global sort, no data-sized window."""
        from .operators.stats import chi2_drift_frame, drift_frame

        df = self._get(dataset, time_col)
        if grain not in ("hour", "day", "week", "month"):
            raise ValueError(f"unsupported grain: {grain!r}")
        if var in df.columns and isinstance(
            df.schema[var].dataType, T.StringType
        ):
            # categorical column: per-period chi-square vs the pooled
            # category distribution (the q_drift_chi2 engine)
            data = df.select(
                F.date_trunc(grain, F.col(time_col)).alias("d"),
                F.col(var).alias("t"),
            ).filter(F.col("d").isNotNull() & F.col("t").isNotNull())
            rows = chi2_drift_frame(data).collect()
            return {
                "dataset": dataset, "var": var, "time": time_col,
                "grain": grain, "kind": "categorical",
                "periods": {
                    str(r.d): {
                        "chi2": _nan_to_none(r.chi2),
                        "dof": r.dof,
                        "n": r.n_day,
                    }
                    for r in rows
                },
            }
        x = self._num(df, var)
        data = df.select(
            F.date_trunc(grain, F.col(time_col)).alias("d"),
            F.round(x * 1000000, 0).cast("long").alias("v"),
        ).filter(F.col("d").isNotNull() & F.col("v").isNotNull())
        rows = drift_frame(data, js=True).collect()
        return {
            "dataset": dataset, "var": var, "time": time_col,
            "grain": grain, "kind": "numeric",
            "periods": {
                str(r.d): {
                    "ks_d": _nan_to_none(r.ks_d),
                    "psi": _nan_to_none(r.psi),
                    "kl": _nan_to_none(r.kl),
                    "js": _nan_to_none(r.js),
                    "n": r.n_period,
                }
                for r in rows
            },
        }

    # -- streaming-PSI reference lifecycle (round 11) -----------------------
    #
    # The fixed-bin streaming drift monitor (q_stream_drift_psi) froze
    # its reference to the first week forever; these three calls make
    # the reference a persisted, VERSIONED artifact (r10 verdict item
    # 6): re-pin over a caller-chosen window when the world
    # legitimately moved, read what is pinned, and score per-window
    # PSI against the latest pin — ivf_imbalance's gauge-then-retrain
    # discipline applied to drift baselines.

    def _psi_events(self, dataset: str, time_col: str, value_col: str):
        df = self._get(dataset, time_col, value_col)
        return df.select(
            F.col(time_col).alias("ts"),
            F.col(value_col).cast("double").alias("value"),
        )

    def psi_repin(
        self, dataset: str, time_col: str, value_col: str, path: str,
        end: str, start: str | None = None,
    ) -> dict[str, Any]:
        """Recompute the PSI reference over [start, end) (start=None =
        open) and append it as a new version under ``path``. One
        windowed ≤10-bin aggregate, one ≤10-row append — rotating a
        year-long stream's baseline never replays the stream."""
        from .streaming.queries import psi_repin

        ev = self._psi_events(dataset, time_col, value_col)
        return {
            "dataset": dataset, "path": path,
            **psi_repin(self.spark, path, ev, start, end),
        }

    def psi_status(self, path: str) -> dict[str, Any]:
        """The latest pinned reference: version, window, total mass,
        per-bin counts. 404s (KeyError) when nothing is pinned."""
        from .streaming.queries import psi_pinned

        cur = psi_pinned(self.spark, path)
        if cur is None:
            raise KeyError(f"no PSI reference pinned at {path!r}")
        return {
            "path": path, "version": cur["version"],
            "win_start": cur["win_start"], "win_end": cur["win_end"],
            "n_ref": sum(cur["ref"].values()),
            "bins": {str(b): c for b, c in sorted(cur["ref"].items())},
        }

    def psi_drift(
        self, dataset: str, time_col: str, value_col: str, path: str
    ) -> dict[str, Any]:
        """Per-day-window Laplace-smoothed PSI of the dataset against
        the LATEST pinned reference — the batch twin of running
        drift_psi_builder under readStream with the same pin (parity
        pinned in tests/test_streaming.py)."""
        from .streaming.queries import drift_psi_builder, psi_pinned

        cur = psi_pinned(self.spark, path)
        if cur is None:
            raise KeyError(f"no PSI reference pinned at {path!r}")
        ev = self._psi_events(dataset, time_col, value_col)
        rows = drift_psi_builder(cur["ref"])(ev).collect()
        return {
            "dataset": dataset, "path": path,
            "reference_version": cur["version"],
            "windows": {
                str(r.window_start): {
                    "psi": _nan_to_none(r.psi), "n": r.n_window,
                }
                for r in sorted(rows, key=lambda r: str(r.window_start))
            },
        }

    def mixed_matrix(
        self, dataset: str, variables: list[str] | None = None
    ) -> dict[str, Any]:
        """Mixed-type association matrix — the profiling-library
        hallmark: for every variable pair the TYPE-appropriate measure,
        so one call profiles a heterogeneous table end to end.

          * numeric × numeric → Pearson r           (signed, [-1, 1])
          * categorical × categorical → Cramér's V  ([0, 1])
          * categorical × numeric → correlation ratio η ([0, 1],
            factor = the categorical side; symmetric by convention)

        Cells carry {"value", "measure"} so consumers never mistake a V
        for an r. Numeric pairs ride ONE aggregation pass (the
        correlation_matrix machinery); each categorical pair is one
        category-sized contingency aggregate and each mixed pair one
        per-level aggregate (the association() engines) — at 100 TB
        every job is a map-side-combinable reduction, never a sort or
        an n² join. String/bool columns classify as categorical,
        numerics as numeric; other types are rejected."""
        df = self._get(dataset, *(variables or ()))
        explicit = variables is not None
        cols = variables if explicit else df.columns
        num_cols, cat_cols, kept = [], [], []
        for c in cols:
            dt = df.schema[c].dataType
            if isinstance(dt, _NUMERIC):
                num_cols.append(c)
            elif dt.simpleString() in ("string", "boolean"):
                cat_cols.append(c)
            elif explicit:
                # an explicitly requested column must classify — but the
                # all-columns default silently skips timestamps/arrays/
                # structs instead of failing the whole profile
                raise TypeError(
                    f"variable {c!r} is {dt.simpleString()}: neither "
                    "numeric nor categorical"
                )
            else:
                continue
            kept.append(c)
        cols = kept
        if len(cols) < 2:
            raise ValueError("need at least two classifiable variables")
        cells: dict[tuple[str, str], dict[str, Any]] = {}
        if len(num_cols) >= 2:
            cm = self.correlation_matrix(dataset, num_cols)
            for i, a in enumerate(num_cols):
                for j, b in enumerate(num_cols):
                    if i < j:
                        cells[(a, b)] = {
                            "value": cm["matrix"][i][j],
                            "measure": "pearson",
                        }
        for i, a in enumerate(cat_cols):
            for b in cat_cols[i + 1:]:
                r = self.association(dataset, a, b, method="cramer")
                cells[(a, b)] = {
                    "value": r["cramers_v"], "measure": "cramers_v",
                }
        for a in cat_cols:
            for b in num_cols:
                r = self.association(dataset, a, b, method="eta")
                cells[(a, b)] = {"value": r["eta"], "measure": "eta"}
        matrix = {}
        for a in cols:
            row = {}
            for b in cols:
                if a == b:
                    row[b] = {"value": 1.0, "measure": "self"}
                else:
                    row[b] = cells.get((a, b)) or cells.get((b, a))
            matrix[a] = row
        return {
            "dataset": dataset,
            "variables": cols,
            "numeric": num_cols,
            "categorical": cat_cols,
            "matrix": matrix,
        }

    def survival(
        self,
        dataset: str,
        start: str,
        end: str,
        group_by: str | None = None,
        group_a: str | None = None,
        group_b: str | None = None,
    ) -> dict[str, Any]:
        """Kaplan-Meier conversion analysis over two timestamp columns:
        duration = days from ``start`` to ``end`` (rows with NULL end
        are right-CENSORED at the observed horizon, max(end) — they
        leave the risk set without an event). Returns the survival
        curve; with ``group_by``/``group_a``/``group_b`` it additionally
        runs the log-rank comparison between the two named cohorts
        (q_survival_km / q_survival_logrank's engines,
        operators.analytics.km_curve / logrank_test).

        Scale shape: one row-level projection, then strictly
        duration-domain state (range-partitioned risk-set running
        sums) — no global sort."""
        from .operators.analytics import km_curve, logrank_test

        df = self._get(dataset, start, end, group_by or None)
        horizon = df.agg(F.max(F.col(end)).alias("tmax"))
        ev = F.col(end).isNotNull() & (F.col(end) >= F.col(start))
        dur = F.when(
            ev,
            F.datediff(F.col(end).cast("date"), F.col(start).cast("date")),
        ).otherwise(
            F.datediff(F.col("tmax").cast("date"), F.col(start).cast("date"))
        )
        base = df.filter(F.col(start).isNotNull()).crossJoin(
            F.broadcast(horizon)
        )
        out: dict[str, Any] = {
            "dataset": dataset, "start": start, "end": end,
        }
        durations = base.select(
            dur.alias("dur"), F.when(ev, 1).otherwise(0).alias("ev")
        )
        curve = km_curve(durations).collect()
        out["curve"] = [
            {
                "duration_days": r.duration,
                "d_events": r.d_events,
                "n_at_risk": r.n_at_risk,
                "survival": _nan_to_none(r.survival),
            }
            for r in curve
        ]
        if group_by:
            if group_a is None or group_b is None:
                raise ValueError(
                    "group_by needs group_a and group_b values"
                )
            g = F.col(group_by).cast("string")
            gdur = base.filter(g.isin(group_a, group_b)).select(
                F.when(g == group_a, "A").otherwise("B").alias("g"),
                dur.alias("dur"),
                F.when(ev, 1).otherwise(0).alias("ev"),
            )
            r = logrank_test(gdur).collect()[0]
            out["logrank"] = {
                "group_by": group_by, "a": group_a, "b": group_b,
                "z": _nan_to_none(r.z), "chi2": _nan_to_none(r.chi2),
                "observed_a": _nan_to_none(r.observed_a),
                "expected_a": _nan_to_none(r.expected_a),
            }
        return out

    def correlation_matrix(
        self, dataset: str, variables: list[str] | None = None, method: str = "pearson"
    ) -> dict[str, Any]:
        """All-pairs matrix. pearson/spearman run k(k-1)/2 corr
        aggregates in ONE pass (right up to dashboard widths); kendall
        routes through the pair-count engine; ``gram`` (round 10) is
        the WIDE path — one Arrow-batched gram reduction, measured 20×
        the aggregate route at d=64 (SCALING.md) and flat in d."""
        df = self._get(dataset)
        cols = variables or self.variables(dataset)
        if len(cols) < 2:
            raise ValueError("need at least two numeric variables")
        for c in cols:
            self._num(df, c)  # clear KeyError/TypeError before the job runs
        # listwise deletion for BOTH methods: a row missing ANY selected
        # variable is excluded so every matrix cell is computed over the
        # same sample (otherwise cells silently mix samples when nulls
        # are asymmetric across variables)
        df = df.filter(
            F.lit(True) if not cols else
            F.expr(" AND ".join(f"`{c}` IS NOT NULL" for c in cols))
        )
        if method == "kendall":
            return self._kendall_matrix(df, dataset, cols)
        if method == "gram":
            # the WIDE path (round 10): one Arrow-batched gram pass +
            # closed-form pair projection — measured crossover vs the
            # aggregate route at d≈16, 20× faster at d=64 and immune to
            # the quadratic aggregation state that OOMs the JVM
            # (SCALING.md round-10 table; engine: stats.corr_matrix_gram).
            # Like the kendall path it is listwise over NaN as well as
            # NULL (in-batch drop), so every cell shares one sample.
            from .operators.stats import corr_matrix_gram

            rows = corr_matrix_gram(df, cols, dataset).collect()
            idx = {c: k for k, c in enumerate(cols)}
            matrix = [[1.0] * len(cols) for _ in cols]
            for r in rows:
                i, j = idx[r.col_x], idx[r.col_y]
                matrix[i][j] = matrix[j][i] = _nan_to_none(r.corr_xy)
            return {
                "dataset": dataset,
                "method": "gram",
                "variables": cols,
                "matrix": matrix,
            }
        if method == "spearman":
            df = self._rank_all(df, cols)
        elif method != "pearson":
            # round 4: an unknown method previously fell through to
            # pearson SILENTLY — validate like correlate() does
            raise ValueError(
                f"unknown method: {method!r} (pearson|spearman|kendall|gram)"
            )
        aggs = [
            _safe_corr(F.col(a).cast("double"), F.col(b).cast("double")).alias(f"{i}_{j}")
            for i, a in enumerate(cols)
            for j, b in enumerate(cols)
            if i < j
        ]
        row = df.agg(*aggs).collect()[0]
        matrix = [[1.0] * len(cols) for _ in cols]
        for i in range(len(cols)):
            for j in range(i + 1, len(cols)):
                matrix[i][j] = matrix[j][i] = _nan_to_none(row[f"{i}_{j}"])
        return {"dataset": dataset, "method": method, "variables": cols, "matrix": matrix}

    def _kendall_matrix(
        self, df: DataFrame, dataset: str, cols: list[str]
    ) -> dict[str, Any]:
        """All-pairs tau-b: within KENDALL_MAX_ROWS the listwise-complete
        sample ships to a single applyInPandas task (same fast-path
        rationale as _kendall) computing every k(k-1)/2 pair with the
        merge-sort counter; above it, each pair runs through the
        distributed decomposition (operators.kendall) over the persisted
        listwise sample — k(k-1)/2 distributed jobs, no row bound."""
        data = df.select(
            F.lit("_all").alias("_g"),
            *[F.col(c).cast("double").alias(c) for c in cols],
        )
        # listwise NaN deletion to match the caller's listwise NULL
        # filter: NaN passes IS NOT NULL, and tau_b's integer pair
        # counting would fold NaN comparisons into a finite but WRONG
        # tau (NaN sorts high and never equals itself) — the pairwise
        # _kendall path already filters ~isnan; mirror it here so every
        # matrix cell shares one NaN-free sample
        nan_any = F.isnan(cols[0])
        for c in cols[1:]:
            nan_any = nan_any | F.isnan(c)
        data = data.filter(~nan_any)
        # pin BEFORE the routing count: the under-cap case then pays one
        # source scan (count + worker both read the pin), and the
        # distributed per-pair path consumes it k(k-1)/2 times
        with pinned():
            data = materialize(data)
            return self._kendall_matrix_routed(data, dataset, cols)

    def _kendall_matrix_routed(
        self, data: DataFrame, dataset: str, cols: list[str]
    ) -> dict[str, Any]:
        tau_b = _make_tau_b()
        cap = self.KENDALL_MAX_ROWS
        pair_list = [
            (i, j) for i in range(len(cols)) for j in range(len(cols)) if i < j
        ]
        names = list(cols)

        if data.count() > cap:
            from .operators.kendall import kendall_tau_distributed

            matrix = [[1.0] * len(cols) for _ in cols]
            for i, j in pair_list:
                tau, _, _ = kendall_tau_distributed(
                    data.select(
                        F.col(names[i]).alias("_x"),
                        F.col(names[j]).alias("_y"),
                    )
                )
                matrix[i][j] = matrix[j][i] = (
                    None if tau is None else round(tau, 6)
                )
            return {
                "dataset": dataset, "method": "kendall",
                "variables": cols, "matrix": matrix,
            }

        def worker(pdf):
            import pandas as _pd

            if len(pdf) > cap:
                raise ValueError(
                    f"kendall: {len(pdf)} rows exceeds the {cap}-row "
                    "sequential bound; use method='spearman'"
                )
            out = {"i": [], "j": [], "tau": []}
            for i, j in pair_list:
                t = tau_b(pdf[names[i]].tolist(), pdf[names[j]].tolist())
                out["i"].append(i)
                out["j"].append(j)
                out["tau"].append(None if t is None else round(t[0], 6))
            return _pd.DataFrame(out)

        rows = (
            data.groupBy("_g")
            .applyInPandas(worker, "i int, j int, tau double")
            .collect()
        )
        matrix = [[1.0] * len(cols) for _ in cols]
        for r in rows:
            matrix[r.i][r.j] = matrix[r.j][r.i] = _nan_to_none(r.tau)
        return {
            "dataset": dataset, "method": "kendall",
            "variables": cols, "matrix": matrix,
        }

    def _series(
        self, dataset: str, time_col: str, values: list[tuple[Any, str]],
        grain: str, fill_gaps: bool,
    ) -> DataFrame:
        """Grain-aggregated (_t, *aliases) series, optionally gap-filled.

        ``values`` is a list of (value_column, output_alias) — one
        grouped-avg per entry in a SINGLE aggregation pass, so callers
        needing two aligned series (cross_correlation) don't scan twice.
        With fill_gaps, missing grain buckets are materialized from a
        min/max spine and every value column forward-filled — lag-k
        against a series with silent holes misaligns every subsequent lag
        (see operators.stats.resample_daily). Spine/join/fill all run on
        the tiny grain-level series."""
        df = self._get(dataset, time_col)
        if grain not in _GRAINS:
            raise ValueError(f"unknown grain: {grain!r} (one of {_GRAINS})")
        aliases = [a for _, a in values]
        series = df.groupBy(
            F.date_trunc(grain, F.col(time_col)).alias("_t")
        ).agg(*[F.avg(self._num(df, c)).alias(a) for c, a in values])
        if fill_gaps:
            rng = series.agg(F.min("_t").alias("lo"), F.max("_t").alias("hi"))
            # Spark's interval literal has no QUARTER unit — spell it as
            # 3 months (date_trunc('quarter') buckets are month-aligned,
            # so the spine lands exactly on them)
            step = "interval 3 month" if grain == "quarter" else f"interval 1 {grain}"
            spine = rng.select(
                F.explode(F.sequence("lo", "hi", F.expr(step))).alias("_t")
            )
            w = Window.orderBy("_t").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
            series = spine.join(series, "_t", "left").select(
                "_t",
                *[
                    F.last(a, ignorenulls=True).over(w).alias(a)
                    for a in aliases
                ],
            )
        return series

    def lagged_correlation(
        self,
        dataset: str,
        time_col: str,
        value_col: str,
        lag: int = 1,
        grain: str = "day",
        fill_gaps: bool = False,
    ) -> dict[str, Any]:
        """Autocorrelation of the grain-aggregated series at the given lag.

        The grain aggregation shrinks the series BEFORE any alignment, so
        everything below runs on ~one row per grain bucket regardless of
        raw volume (SURVEY.md stats module). Alignment is the epoch-grain
        equi-join (round 4, same fix as cross_correlation): "lag k" pairs
        buckets exactly k TRUE time steps apart — a row-based lag window
        paired across calendar holes when fill_gaps=False."""
        series = self._series(
            dataset, time_col, [(value_col, "_v")], grain, fill_gaps
        )
        indexed = series.withColumn("_i", _epoch_grain_index(grain))
        a, b = indexed.alias("a"), indexed.alias("b")
        r = (
            a.join(b, F.col("a._i") == F.col("b._i") + lag)
            .agg(
                _safe_corr(F.col("a._v"), F.col("b._v")).alias("c"),
                F.count(
                    F.when(
                        F.col("a._v").isNotNull() & F.col("b._v").isNotNull(), 1
                    )
                ).alias("n"),
            )
            .collect()[0]
        )
        return {
            "dataset": dataset, "time": time_col, "value": value_col,
            "grain": grain, "lag": lag, "fill_gaps": fill_gaps,
            "correlation": _nan_to_none(r.c), "n_pairs": r.n,
        }

    def partial_correlation(
        self,
        dataset: str,
        var_x: str,
        var_y: str,
        control: str | list[str],
        group_by: str | None = None,
    ) -> dict[str, Any]:
        """Partial correlation corr(x, y | controls).

        One control (string or 1-list): the first-order closed form
        (rxy − rxz·ryz)/√((1−rxz²)(1−ryz²)). All three r's come from ONE
        aggregation pass (q_corr_partial's shape) over listwise-complete
        rows (a row missing ANY of the three variables is excluded, so
        the three coefficients share one sample); NULL when any input
        correlation is degenerate or the denominator vanishes
        (|rxz| or |ryz| = 1 — the control explains x or y exactly).

        Multiple controls (round 5): the precision-matrix form — the
        full pairwise correlation matrix over [x, y, *controls] comes
        from the SAME single aggregation pass (k(k−1)/2 corr aggregates,
        the correlation_matrix rule), then driver-side
        r = −P₀₁/√(P₀₀·P₁₁) with P = R⁻¹ (Gauss-Jordan on a k×k float
        matrix — constant work). NULL when R is singular (a control is
        an exact linear combination). t_stat uses n − 2 − g df with g
        controls partialled out."""
        if isinstance(control, (list, tuple)):
            if len(control) == 1:
                control = control[0]
            else:
                return self._partial_multi(
                    dataset, var_x, var_y, list(control), group_by
                )
        df = self._get(dataset)
        x, y = self._num(df, var_x), self._num(df, var_y)
        z = self._num(df, control)
        df = df.filter(
            F.col(var_x).isNotNull()
            & F.col(var_y).isNotNull()
            & F.col(control).isNotNull()
        )
        aggs = [
            _safe_corr(x, y).alias("rxy"),
            _safe_corr(x, z).alias("rxz"),
            _safe_corr(y, z).alias("ryz"),
            # raw twins feed t_stat only (same single aggregation pass)
            _safe_corr_raw(x, y).alias("rxy_raw"),
            _safe_corr_raw(x, z).alias("rxz_raw"),
            _safe_corr_raw(y, z).alias("ryz_raw"),
            F.count("*").alias("n"),
        ]

        def _partial(rxy, rxz, ryz) -> float | None:
            if rxy is None or rxz is None or ryz is None:
                return None
            if any(v != v for v in (rxy, rxz, ryz)):  # NaN inputs
                return None
            denom = (1 - rxz**2) * (1 - ryz**2)
            if denom <= 0:
                return None
            return (rxy - rxz * ryz) / denom**0.5

        def formula(r) -> float | None:
            # presentation value: 6-dp constituents (matches the declared
            # q_corr_partial key), rounded output
            c = _partial(r.rxy, r.rxz, r.ryz)
            return None if c is None else round(c, 6)

        def formula_raw(r) -> float | None:
            # UNROUNDED partial r from UNROUNDED constituents — t_stat
            # must not consume any rounded form (same rule as
            # correlate()/_safe_corr_raw: rounding first distorts 1−r²
            # near |r|→1 and can trip the |c|>=1 guard on a legitimately
            # finite t)
            return _partial(r.rxy_raw, r.rxz_raw, r.ryz_raw)

        def t_stat(r) -> float | None:
            # partial corr significance: t = r_p*sqrt((n-3)/(1-r_p^2)),
            # Student-t with n-3 df (one control variable partialled out)
            c, n = formula_raw(r), r.n
            if c is None or n <= 3 or abs(c) >= 1.0:
                return None
            return round(c * ((n - 3) / (1.0 - c * c)) ** 0.5, 6)

        base = {
            "dataset": dataset, "x": var_x, "y": var_y, "control": control,
        }
        if group_by:
            rows = df.groupBy(group_by).agg(*aggs).collect()
            return base | {
                "groups": {
                    str(r[group_by]): {
                        "partial_correlation": formula(r),
                        "n": r.n,
                        "t_stat": t_stat(r),
                    }
                    for r in rows
                }
            }
        r = df.agg(*aggs).collect()[0]
        return base | {
            "partial_correlation": formula(r),
            "n": r.n,
            "t_stat": t_stat(r),
        }

    def _partial_multi(
        self,
        dataset: str,
        var_x: str,
        var_y: str,
        controls: list[str],
        group_by: str | None,
    ) -> dict[str, Any]:
        """Higher-order partial correlation via the precision matrix
        (partial_correlation docstring). Spark does ONE pass computing
        the k(k−1)/2 pairwise raw correlations over the listwise-complete
        sample; the k×k inversion is driver-side constant work."""
        import numpy as np

        df = self._get(dataset)
        names = [var_x, var_y, *controls]
        if len(set(names)) != len(names):
            raise ValueError("x, y and controls must be distinct variables")
        cols = {c: self._num(df, c) for c in names}
        listwise = F.lit(True)
        for c in names:
            listwise = listwise & F.col(c).isNotNull()
        df = df.filter(listwise)
        k = len(names)
        aggs = [
            _safe_corr_raw(cols[names[i]], cols[names[j]]).alias(f"r_{i}_{j}")
            for i in range(k)
            for j in range(k)
            if i < j
        ] + [F.count("*").alias("n")]

        def partial(row) -> float | None:
            rm = np.eye(k)
            for i in range(k):
                for j in range(i + 1, k):
                    v = row[f"r_{i}_{j}"]
                    if v is None or v != v:  # degenerate / NaN pair
                        return None
                    rm[i, j] = rm[j, i] = v
            try:
                p = np.linalg.inv(rm)
            except np.linalg.LinAlgError:
                return None  # a control is an exact linear combination
            den = p[0, 0] * p[1, 1]
            if den <= 0:
                return None
            c = float(-p[0, 1] / den**0.5)
            # near-singular R inverts to numerical garbage — refuse
            # rather than report an out-of-range coefficient
            return c if -1.0 <= c <= 1.0 else None

        def present(row) -> dict[str, Any]:
            c, n = partial(row), row.n
            dfree = n - 2 - len(controls)
            t = (
                None
                if c is None or dfree <= 0 or abs(c) >= 1.0
                else round(c * (dfree / (1.0 - c * c)) ** 0.5, 6)
            )
            return {
                "partial_correlation": None if c is None else round(c, 6),
                "n": n,
                "t_stat": t,
            }

        base = {
            "dataset": dataset, "x": var_x, "y": var_y, "control": controls,
        }
        if group_by:
            rows = df.groupBy(group_by).agg(*aggs).collect()
            return base | {
                "groups": {str(r[group_by]): present(r) for r in rows}
            }
        r = df.agg(*aggs).collect()[0]
        return base | present(r)

    def cross_correlation(
        self,
        dataset: str,
        time_col: str,
        var_x: str,
        var_y: str,
        max_lag: int = 3,
        grain: str = "day",
        fill_gaps: bool = False,
    ) -> dict[str, Any]:
        """Lead-lag cross-correlation: corr(x_t, y_{t+k}) for every lag
        k in [-max_lag, max_lag] over the grain-aggregated series — the
        "does x lead y?" question (positive-lag peak: x moves first).

        Both series come from ONE grouped aggregation pass (two
        conditional avgs — never two scans of the raw table); alignment
        is an EPOCH-GRAIN integer equi-join (q_corr_xcorr's rule): each
        bucket maps to an integer index where consecutive grain buckets
        differ by exactly 1, so "lag k" ALWAYS means k true time steps.
        (Round 4 fix: row_number indexing made a calendar hole pair
        non-adjacent buckets as "lag 1" when fill_gaps=False.) With
        fill_gaps=False a missing bucket now yields no pair at that
        offset instead of a silently shifted one. All 2·max_lag+1
        shifted joins come from a tiny exploded lag array. Everything
        after the raw scan runs on ~|buckets| rows, so raw volume only
        affects the first aggregation — the q_corr_lagged scale rule."""
        if max_lag < 1:
            raise ValueError("max_lag must be >= 1")
        by_lag = self._xcorr_lags(
            dataset, time_col, var_x, var_y,
            -max_lag, max_lag, grain, fill_gaps,
        )
        return {
            "dataset": dataset, "time": time_col, "x": var_x, "y": var_y,
            "grain": grain, "max_lag": max_lag, "fill_gaps": fill_gaps,
            "lags": {str(k): by_lag.get(k, {"correlation": None, "n": 0})
                     for k in range(-max_lag, max_lag + 1)},
        }

    def _xcorr_lags(
        self,
        dataset: str,
        time_col: str,
        var_x: str,
        var_y: str,
        lag_lo: int,
        lag_hi: int,
        grain: str,
        fill_gaps: bool,
    ) -> dict[int, dict[str, Any]]:
        """Shared lag-sweep engine for cross_correlation ([-m, m]) and
        acf ([0, m] — ACF is symmetric, so computing the negative half
        just to discard it doubled the lag rows; round 5 threads the
        range through instead)."""
        series = self._series(
            dataset, time_col, [(var_x, "_x"), (var_y, "_y")], grain, fill_gaps
        )
        indexed = series.withColumn("_i", _epoch_grain_index(grain))
        lags = self.spark.range(lag_lo, lag_hi + 1).select(
            F.col("id").alias("_lag")
        )
        a, b = indexed.alias("a"), indexed.alias("b")
        # the ≤2m+1-row lag spine must ALWAYS be the broadcast side:
        # explicit hint so no AQE/statistics change can ever flip this
        # crossJoin into a shuffle (verdict r05; plan canary in
        # tests/test_plans.py)
        rows = (
            F.broadcast(lags).crossJoin(a)
            .join(b, F.col("b._i") == F.col("a._i") + F.col("_lag"))
            .groupBy("_lag")
            .agg(
                _safe_corr(F.col("a._x"), F.col("b._y")).alias("c"),
                F.count(
                    F.when(
                        F.col("a._x").isNotNull() & F.col("b._y").isNotNull(), 1
                    )
                ).alias("n"),
            )
            .collect()
        )
        return {
            int(r._lag): {"correlation": _nan_to_none(r.c), "n": r.n}
            for r in rows
        }

    def acf(
        self,
        dataset: str,
        time_col: str,
        value_col: str,
        max_lag: int = 10,
        grain: str = "day",
        fill_gaps: bool = False,
    ) -> dict[str, Any]:
        """Autocorrelation function: corr(x_t, x_{t+k}) for k in
        [0, max_lag] — the seasonality/memory profile of one series.
        Exactly cross_correlation of the series with itself restricted
        to non-negative lags (ACF is symmetric; round 5: the negative
        half is no longer computed at all), same epoch-grain alignment
        and scale shape.

        Round 5 additions, both O(max_lag) driver-side arithmetic over
        the already-collected ACF values (the q_pacf declared key pins
        the same recursion against a closed-form DuckDB oracle):

        * ``pacf`` — partial autocorrelation phi_kk per lag via the
          Durbin-Levinson recursion (AR-order diagnostics);
        * ``significance`` — the ±1.96/√n white-noise band (n = series
          length): lags whose |acf| exceeds it are significant at 5%;
          plus the Ljung-Box portmanteau statistic
          Q = n(n+2)·Σ_{k=1..m} ρ_k²/(n−k) (χ² with m df under H0:
          white noise) over the lags that produced a coefficient,
          with its p-value P(χ²_df > Q) (round 6, _chi2_sf — stdlib
          incomplete-gamma tail, no table lookup needed).
        """
        if max_lag < 1:
            raise ValueError("max_lag must be >= 1")
        by_lag = self._xcorr_lags(
            dataset, time_col, value_col, value_col,
            0, max_lag, grain, fill_gaps,
        )
        lags_out = {
            str(k): by_lag.get(k, {"correlation": None, "n": 0})
            for k in range(0, max_lag + 1)
        }
        rho = [lags_out[str(k)]["correlation"] for k in range(0, max_lag + 1)]
        pacf = _durbin_levinson(rho)
        n = lags_out["0"]["n"]  # series length (lag-0 pairs the series with itself)
        band = round(1.96 / n**0.5, 6) if n > 0 else None
        # Ljung-Box over the lags that produced a coefficient (a gapped
        # series can have empty lags; k = n would divide by zero)
        lb_terms = [
            rho[k] * rho[k] / (n - k)
            for k in range(1, max_lag + 1)
            if rho[k] is not None and n > k
        ]
        # p-value from the UNROUNDED Q (the t_stat rounding rule): χ²_df
        # upper tail via the stdlib incomplete-gamma evaluation above —
        # round 6 closes the "compare Q to a table by hand" gap.
        lb_q = n * (n + 2) * sum(lb_terms) if lb_terms else None
        ljung_box = (
            {
                "q": round(lb_q, 6),
                "df": len(lb_terms),
                "p_value": round(_chi2_sf(lb_q, len(lb_terms)), 6),
            }
            if lb_terms else None
        )
        return {
            "dataset": dataset, "time": time_col, "value": value_col,
            "grain": grain, "max_lag": max_lag, "fill_gaps": fill_gaps,
            "lags": lags_out,
            "pacf": {str(k): pacf[k - 1] for k in range(1, max_lag + 1)},
            "significance": {"band": band, "n": n, "ljung_box": ljung_box},
        }

    def rolling_correlation(
        self,
        dataset: str,
        time_col: str,
        value_col: str,
        window: int = 14,
        lag: int = 1,
        grain: str = "day",
        fill_gaps: bool = False,
    ) -> dict[str, Any]:
        """Time-varying autocorrelation: lag-k coefficient over a rolling
        window of the grain series (q_corr_rolling's shape, parameterized).

        Round 4: both the lag pairing and the rolling frame are TRUE-TIME
        aligned via the epoch-grain integer index — pairs come from the
        equi-join on ``_i`` (never a row-based lag that slips across
        calendar holes) and the frame is ``rangeBetween`` on ``_i``, so a
        "14-day window" spans 14 calendar days, not 14 surviving rows.
        Only full windows are emitted (count == window) — partial frames
        are unstable warm-up rows, and near a hole a frame can't be full.
        All windows run on the grain-level series."""
        if window < 2:
            raise ValueError("window must be >= 2")
        series = self._series(
            dataset, time_col, [(value_col, "_v")], grain, fill_gaps
        )
        indexed = series.withColumn("_i", _epoch_grain_index(grain))
        a, b = indexed.alias("a"), indexed.alias("b")
        complete = a.join(b, F.col("a._i") == F.col("b._i") + lag).select(
            F.col("a._t").alias("_t"),
            F.col("a._i").alias("_i"),
            F.col("a._v").alias("_v"),
            F.col("b._v").alias("_prev"),
        ).filter(F.col("_prev").isNotNull() & F.col("_v").isNotNull())
        w = Window.orderBy("_i").rangeBetween(-(window - 1), 0)
        sx, sy = F.stddev_samp("_v").over(w), F.stddev_samp("_prev").over(w)
        rolling = F.when(
            (sx > 0) & (sy > 0),
            F.round(F.covar_samp("_v", "_prev").over(w) / (sx * sy), 6),
        )
        rows = (
            complete.select(
                "_t", rolling.alias("_c"), F.count("*").over(w).alias("_n")
            )
            .filter(F.col("_n") >= window)
            .orderBy("_t")
            .collect()
        )
        return {
            "dataset": dataset, "time": time_col, "value": value_col,
            "grain": grain, "lag": lag, "window": window,
            "fill_gaps": fill_gaps,
            "series": [
                {"t": str(r._t), "correlation": _nan_to_none(r._c), "n": r._n}
                for r in rows
            ],
        }

    # -- LLM-pipeline surface (round 6: parameterized service access) --------

    def similar(
        self,
        dataset: str,
        id_col: str,
        vector_col: str,
        probe_ids: list[int] | None = None,
        k: int = 5,
        method: str = "exact",
        n_cells: int = 16,
        n_probe: int = 6,
        query_vectors: list[list[float]] | None = None,
    ) -> dict[str, Any]:
        """Top-k cosine neighbors of the given probe rows over a
        caller-chosen (id, embedding-array) table — the parameterized
        twin of q_sim_topk / q_sim_topk_ivf (verdict r05: the similarity
        family ran only as canned fixture-bound keys; a user wanting
        top-k over their own table had to edit code).

        Probes are EITHER ``probe_ids`` (rows of the dataset itself) OR
        ``query_vectors`` (raw embeddings that need not exist in the
        corpus — the classic "find neighbors of THIS vector" service
        call; response keys are q0, q1, … in argument order). Exactly
        one of the two must be given.

        ``method='exact'`` is the brute-force broadcast-probe engine
        (every score exact, corpus scan embarrassingly parallel);
        ``'ivf'`` is the sub-quadratic inverted-file path (exact scores,
        approximate recall — n_cells/n_probe are the dials). The driver
        sees ≤ k rows per probe, never the corpus."""
        from .llm.similarity import (
            corpus_view,
            ivf_index,
            ivf_probe,
            topk_neighbors_exact,
            topk_neighbors_exact_probes,
            topk_neighbors_ivf,
        )

        if (not probe_ids) == (not query_vectors):
            raise ValueError(
                "provide exactly one of probe_ids / query_vectors"
            )
        if k < 1:
            raise ValueError("k must be >= 1")
        if method not in ("exact", "ivf", "pq", "ivfpq"):
            raise ValueError(
                f"unknown method: {method!r} (exact|ivf|pq|ivfpq)"
            )
        if method in ("ivf", "ivfpq") and (n_cells < 1 or n_probe < 1):
            # caught here as a user error (HTTP 400), not a stack trace
            # at 500 (review r06)
            raise ValueError("n_cells and n_probe must be >= 1")
        if method in ("pq", "ivfpq"):
            # PQ scores CODES: probes must be corpus rows (their raw
            # subvectors build the lookup table engine-side)
            if not probe_ids:
                raise ValueError(
                    "pq/ivfpq probes must be dataset rows (probe_ids)"
                )
            from .llm.similarity import (
                PQ_M,
                PQ_SUB_D,
                ivfpq_topk,
                pq_adc_topk,
            )

            df = self._get(dataset, id_col, vector_col)
            raw = df.select(
                F.col(id_col).cast("long").alias("vec_id"),
                F.col(vector_col).alias("embedding"),
                F.lit(0).alias("label"),
            )
            first = raw.select(F.size("embedding").alias("d")).first()
            if first is None or first.d != PQ_M * PQ_SUB_D:
                raise ValueError(
                    f"pq methods require {PQ_M * PQ_SUB_D}-dim vectors "
                    f"(PQ_M x PQ_SUB_D), got "
                    f"{None if first is None else first.d}"
                )
            pf = F.col("vec_id").isin([int(p) for p in probe_ids])
            res = (
                pq_adc_topk(raw, pf, k)
                if method == "pq"
                else ivfpq_topk(raw, pf, k, n_probe=n_probe)
            )
            neighbors_pq: dict[str, list[dict[str, Any]]] = {
                str(int(p)): [] for p in probe_ids
            }
            for r in res.collect():
                neighbors_pq[str(r.probe_id)].append(
                    {"id": r.vec_id, "adc_l2": _nan_to_none(r.adc_l2),
                     "rank": r.rank}
                )
            return {
                "dataset": dataset, "id": id_col, "vector": vector_col,
                "method": method, "k": k,
                **({"n_cells": n_cells, "n_probe": n_probe}
                   if method == "ivfpq" else {}),
                "neighbors": neighbors_pq,
            }
        corpus = corpus_view(self._get(dataset), id_col, vector_col)
        if probe_ids:
            pf = F.col("vec_id").isin([int(p) for p in probe_ids])
            if method == "exact":
                res = topk_neighbors_exact(corpus, pf, k)
            else:
                res = topk_neighbors_ivf(
                    corpus, pf, k, n_cells=n_cells, n_probe=n_probe
                )
            label = {int(p): str(int(p)) for p in probe_ids}
        else:
            vecs = [[float(x) for x in v] for v in query_vectors]
            norms = [sum(x * x for x in v) ** 0.5 for v in vecs]
            if any(n == 0.0 for n in norms):
                raise ValueError("query vector has zero norm (no direction)")
            # synthetic NEGATIVE probe ids: disjoint from any corpus id,
            # so the self-match filter stays a no-op
            # single-slice probe frames (round 12): a handful of query
            # vectors over 32 python slices pays per-partition worker
            # round-trips on every downstream action — see
            # similarity._one_slice_df
            from .llm.similarity import _one_slice_df

            if method == "exact":
                probes = _one_slice_df(
                    self.spark,
                    [(-(i + 1), v) for i, v in enumerate(vecs)],
                    "probe_id long, pv array<double>",
                )
                res = topk_neighbors_exact_probes(corpus, probes, k)
            else:
                assigned, cents = ivf_index(corpus, n_cells=n_cells)
                probes = _one_slice_df(
                    self.spark,
                    [
                        (-(i + 1), v, [x / n for x in v])
                        for i, (v, n) in enumerate(zip(vecs, norms))
                    ],
                    "probe_id long, pv array<double>, pna array<double>",
                )
                res = ivf_probe(assigned, cents, probes, k, n_probe=n_probe)
            label = {-(i + 1): f"q{i}" for i in range(len(vecs))}
        neighbors: dict[str, list[dict[str, Any]]] = {
            name: [] for name in label.values()
        }
        for r in res.collect():
            neighbors[label[r.probe_id]].append(
                {"id": r.neighbor_id, "cosine": _nan_to_none(r.cosine),
                 "rank": r.rn}
            )
        return {
            "dataset": dataset, "id": id_col, "vector": vector_col,
            "method": method, "k": k,
            **({"n_cells": n_cells, "n_probe": n_probe}
               if method == "ivf" else {}),
            "neighbors": neighbors,
        }

    # -- persisted ANN index lifecycle (round 10) ---------------------------
    #
    # The maintenance trio over the cell-partitioned IVF layout
    # (llm.similarity ivf_write/ivf_append/ivf_imbalance): build once,
    # append deltas without re-training (base cell files byte-untouched),
    # and read the drift gauge that says when to rebuild. Probing a
    # persisted index rides similar()'s engines via index_probe.

    def index_build(
        self, dataset: str, id_col: str, vector_col: str, path: str,
        n_cells: int = 16, train_fraction: float = 1.0,
        where: str | None = None,
    ) -> dict[str, Any]:
        """Train + assign + persist an IVF index for a registered
        embedding table under ``path`` (cell-partitioned corpus +
        centroid table). Optional SQL ``where`` selects the build
        slice (e.g. build on history, index_append the rest). Refuses
        to clobber any existing non-empty directory that does not bear
        the layout pointer ivf_write commits — build is the ONLY
        destructive write on this surface, so it only ever overwrites
        a layout this engine certified as its own (advice r10: the old
        "has a corpus/ subdir" heuristic overwrote arbitrary
        directories, and its os.path checks were silently vacuous for
        hdfs://-style paths — the pointer check runs on the filesystem
        Spark resolves the path to). A
        directory whose every entry is store-protocol residue (a
        crashed first build that never published a pointer) counts as
        clobberable too — round 14. The response carries ``rebuilt``:
        true when an existing index was replaced (HTTP maps it to 200
        vs 201-created), and ``pq_dropped``: true when the replaced
        index had a PQ attachment — a rebuild retrains cells from
        scratch, so the old codes/books/anchors do not survive it and
        the operator must run index-pq-attach again (r14 verdict item
        5: previously the attachment vanished silently)."""
        from .llm.similarity import (
            corpus_view,
            ivf_dir_state,
            ivf_index,
            ivf_write,
        )

        if n_cells < 1:
            raise ValueError("n_cells must be >= 1")
        if not (0.0 < train_fraction <= 1.0):
            # caught here as a user error (HTTP 400), not a stack
            # trace at 500
            raise ValueError("train_fraction must be in (0, 1]")
        state = ivf_dir_state(self.spark, path)
        if state == "other":
            raise ValueError(
                f"refusing to overwrite non-index directory: {path!r} "
                "(no _layout-v*.json pointer; remove it by hand or "
                "build elsewhere)"
            )
        df = self._get(dataset)
        if where is not None:
            df = self._filtered(df, where)
        corpus = corpus_view(df, id_col, vector_col)
        assigned, cents = ivf_index(
            corpus, n_cells=n_cells, train_fraction=train_fraction
        )
        # pq_dropped comes from ivf_write itself, sampled UNDER the
        # mutation lock (round-15 review: a pre-lock layout read let a
        # pq_attach racing in between be dropped but reported kept)
        replaced = ivf_write(assigned, cents, path)
        return {
            **self.index_status(path),
            "built_from": dataset,
            "rebuilt": state == "index",
            "pq_dropped": bool(replaced.get("replaced_pq")),
        }

    @staticmethod
    def _filtered(df: DataFrame, where: str) -> DataFrame:
        from pyspark.errors import AnalysisException, ParseException

        try:
            return df.filter(where)
        except (AnalysisException, ParseException) as e:
            # user error (HTTP 400), not a Py4J stack trace at 500
            raise ValueError(f"bad where predicate: {e}") from e

    @staticmethod
    def _no_index(path: str, e: Exception) -> KeyError:
        # missing/garbage index path -> 404, not a Py4J 500 (review r10)
        return KeyError(f"no IVF index at {path!r}: {e}")

    def index_append(
        self, dataset: str, id_col: str, vector_col: str, path: str,
        where: str | None = None,
    ) -> dict[str, Any]:
        """Assign ONLY the given rows (optional SQL ``where`` over the
        dataset) against the persisted centroids and add them to the
        index's append delta — no re-train, the base untouched. Returns the
        post-append drift gauge so callers see the recluster signal in
        the same round trip."""
        from pyspark.errors import AnalysisException

        from .llm.similarity import corpus_view, ivf_append

        delta = self._get(dataset)
        if where is not None:
            delta = self._filtered(delta, where)
        try:
            ivf_append(
                self.spark, path, corpus_view(delta, id_col, vector_col)
            )
        except AnalysisException as e:
            raise self._no_index(path, e) from e
        return {**self.index_status(path), "appended_from": dataset}

    def index_status(self, path: str) -> dict[str, Any]:
        """Cell-balance drift gauge of a persisted index — one
        n_cells-row aggregate, recluster trips at max/avg > 3.
        ``pq_attached`` (round 15) tells an operator whether pq/ivfpq
        probes will answer here — one pointer read, no extra scan."""
        from pyspark.errors import AnalysisException

        from .llm.similarity import ivf_imbalance
        from .storeio import StoreIO, pointer_require

        try:
            r = ivf_imbalance(self.spark, path).collect()[0]
        except AnalysisException as e:
            raise self._no_index(path, e) from e
        return {
            "path": path,
            "n_cells": r.n_cells,
            "n_vectors": r.n_vectors,
            "max_cell": r.max_cell,
            "avg_cell": r.avg_cell,
            "imbalance": r.imbalance,
            "recluster": bool(r.recluster),
            "pq_attached": "pqbooks" in pointer_require(
                StoreIO(path, self.spark), path
            ).get("objects", {}),
        }

    def index_probe(
        self, path: str, probe_ids: list[int], k: int = 5,
        n_probe: int = 6, method: str = "ivf",
        refine: "int | None" = None,
    ) -> dict[str, Any]:
        """Top-k over a PERSISTED index. ``method="ivf"`` (default):
        ivf_live → ivf_probe — the candidate read prunes to each
        probe's n_probe cells at the parquet scan, exact cosine refine
        on raw vectors. ``method="pq"`` / ``"ivfpq"`` (round 14):
        pq_probe_stored over the attached PQ code column — no per-call
        training or encoding, the scan reads vec_id/cell/pq_code only;
        "pq" scores every live code, "ivfpq" prunes to each probe's
        n_probe cells first; neighbors carry ``adc_l2`` (code-space L2,
        ascending) instead of ``cosine``. ``refine=R`` (round 15, PQ
        methods only) exactly re-ranks the ADC top-R per probe —
        neighbors then carry the exact ``l2`` instead of ``adc_l2``
        (the FAISS IVFPQR composition; the candidate ids push into
        the refine scan as an IN filter, so the float read is
        row-group-pruned to ~R rows per probe). Requires pq_attach — a
        404-style error names it otherwise. In every mode tombstoned
        ids are masked out (a deleted id neither probes nor answers)
        and probes are corpus row ids."""
        from pyspark.errors import AnalysisException

        from .llm.similarity import ivf_live, ivf_probe, pq_probe_stored

        if k < 1 or n_probe < 1:
            raise ValueError("k and n_probe must be >= 1")
        if not probe_ids:
            raise ValueError("probe_ids must be non-empty")
        if method not in ("ivf", "pq", "ivfpq"):
            raise ValueError(
                f"unknown probe method {method!r}: ivf | pq | ivfpq"
            )
        if refine is not None:
            if method not in ("pq", "ivfpq"):
                raise ValueError("refine applies to pq/ivfpq probes only")
            if int(refine) < k:
                raise ValueError("refine must be >= k")
        neighbors: dict[str, list[dict[str, Any]]] = {
            str(p): [] for p in probe_ids
        }
        if method in ("pq", "ivfpq"):
            try:
                res = pq_probe_stored(
                    self.spark, path, probe_ids, k=k,
                    n_probe=n_probe if method == "ivfpq" else None,
                    refine=None if refine is None else int(refine),
                )
            except AnalysisException as e:
                raise self._no_index(path, e) from e
            except ValueError as e:
                if "pq_attach" in str(e):
                    raise KeyError(str(e)) from e  # 404: not attached
                raise
            score = "adc_l2" if refine is None else "l2"
            for r in res.collect():
                neighbors[str(r.probe_id)].append(
                    {"id": r.vec_id, score: _nan_to_none(r[score]),
                     "rank": r.rank}
                )
            return {"path": path, "k": k, "method": method,
                    "n_probe": n_probe if method == "ivfpq" else None,
                    "refine": None if refine is None else int(refine),
                    "neighbors": neighbors}
        try:
            corpus, cents = ivf_live(self.spark, path)
        except AnalysisException as e:
            raise self._no_index(path, e) from e
        probes = corpus.filter(F.col("vec_id").isin(probe_ids)).select(
            F.col("vec_id").alias("probe_id"),
            F.col("v").alias("pv"),
            F.col("na").alias("pna"),
        )
        res = ivf_probe(corpus, cents, probes, k, n_probe=n_probe)
        for r in res.collect():
            neighbors[str(r.probe_id)].append(
                {"id": r.neighbor_id, "cosine": _nan_to_none(r.cosine),
                 "rank": r.rn}
            )
        return {"path": path, "k": k, "method": method,
                "n_probe": n_probe, "neighbors": neighbors}

    def index_pq_attach(self, path: str) -> dict[str, Any]:
        """Attach product quantization to a persisted index (round 14
        — the service face of pq_attach): train the codebook from the
        stored corpus, rewrite the corpus with the 6-bit code column,
        publish books + corpus in one atomic pointer swap. From then
        on index_probe(method="pq"/"ivfpq") scores stored codes with
        no per-call training, and appends encode only their delta. A
        rebuild (index_build) drops the attachment — re-attach to
        retrain."""
        from pyspark.errors import AnalysisException

        from .llm.similarity import pq_attach

        try:
            stats = pq_attach(self.spark, path)
        except AnalysisException as e:
            raise self._no_index(path, e) from e
        return {**self.index_status(path), **stats}

    def index_delete(self, path: str, ids: list[int]) -> dict[str, Any]:
        """Tombstone ids out of a persisted index (round 11 — the
        delete half of the CRUD surface). Deleted ids stop answering
        probes immediately; bytes are reclaimed by index_compact;
        index_append of a deleted id re-admits it. Absent ids are
        no-ops (SQL DELETE semantics) — ``deleted`` counts the ids
        that were actually live."""
        from pyspark.errors import AnalysisException

        from .llm.similarity import ivf_delete

        if not ids:
            raise ValueError("ids must be non-empty")
        try:
            n = ivf_delete(self.spark, path, [int(i) for i in ids])
        except AnalysisException as e:
            raise self._no_index(path, e) from e
        return {**self.index_status(path), "deleted": n}

    def index_compact(self, path: str) -> dict[str, Any]:
        """Physically drop tombstoned rows, clear the tombstone set,
        and rebuild the id Bloom right-sized — the reclamation end of
        the delete/compact lifecycle. Only the append delta is
        rewritten when every deleted id was appended since the last
        base rewrite; a deleted base id rewrites the whole live corpus.
        ``base_rewritten`` says which one this compact paid."""
        from pyspark.errors import AnalysisException

        from .llm.similarity import ivf_compact

        try:
            stats = ivf_compact(self.spark, path)
        except AnalysisException as e:
            raise self._no_index(path, e) from e
        return {**self.index_status(path), **stats}

    def index_recluster(
        self, path: str, threshold: float = 3.0,
        n_cells: int | None = None, train_fraction: float = 1.0,
    ) -> dict[str, Any]:
        """Act on the drift gauge (r11 verdict item 4): re-train the
        coarse quantizer from the live vectors and rebuild the cell
        layout when max/avg cell size exceeds ``threshold`` (pass 0 to
        force). The new version is staged as unreferenced sibling
        objects and committed by ONE atomic layout-pointer swap (round
        14), so the index stays readable AND consistent throughout —
        a racing reader sees the old version or the new one, never a
        mixture; tombstoned rows are dropped by construction
        (recluster implies compact)."""
        from pyspark.errors import AnalysisException

        from .llm.similarity import ivf_recluster

        if threshold < 0:
            raise ValueError("threshold must be >= 0")
        if n_cells is not None and n_cells < 1:
            raise ValueError("n_cells must be >= 1")
        if not (0.0 < train_fraction <= 1.0):
            raise ValueError("train_fraction must be in (0, 1]")
        try:
            stats = ivf_recluster(
                self.spark, path, threshold=threshold,
                n_cells=n_cells, train_fraction=train_fraction,
            )
        except AnalysisException as e:
            raise self._no_index(path, e) from e
        return {**self.index_status(path), **stats}

    def index_recover(self, path: str) -> dict[str, Any]:
        """Reclaim the index's garbage now (round 14: under the
        versioned-pointer layout a crash never tears the store, so
        recovery degenerates to GC of expired retired objects and
        crashed-stage orphans — every mutation also does this in its
        preamble; this surface exists for operators who want the disk
        back without mutating). Idempotent: returns ``recovered:
        False`` plus the status when there was nothing to reclaim.
        ``gc_skipped`` lists the superseded pointer files the GC could
        not reclaim (normally empty; see storeio.recover). A
        crashed writer's leftover mutation lock surfaces as the
        documented ValueError (HTTP 400) naming the lock file to
        clear."""
        from pyspark.errors import AnalysisException

        from .llm.similarity import _ivf_lock
        from .storeio import recover

        try:
            report = recover(self.spark, path, _ivf_lock(path))
            return {**self.index_status(path), **report}
        except AnalysisException as e:
            raise self._no_index(path, e) from e

    def scd2_merge(
        self,
        dataset: str,
        user_col: str,
        event_col: str,
        time_col: str,
        order_col: str,
        path: str,
    ) -> dict[str, Any]:
        """Merge a staged CDC batch (a registered dataset of
        observations) into an EXISTING bucketed SCD2 store — the
        service face of operators.analytics.scd2_merge_into (round 12:
        the incremental path; the library-level scd2_merge is the
        self-contained exhibit that rebuilds its base store). Column
        mapping mirrors the event-log commands: user/event/time/order →
        business key / state / valid-from / lineage tie-break. The
        bucketing modulus comes from the store's own layout pointer
        (advice r12). The batch is appended as one delta object (no
        bucket is rewritten); once the store holds ``n_buckets``
        deltas, the next merge folds them into the buckets. Returns
        ``touched`` (the batch's buckets), ``total`` (occupied bucket
        objects before the merge) and ``rows_touched``: the post-merge
        row count of the touched buckets ONLY, counted INSIDE the
        merge's critical section (advice r13: the old post-lock
        re-read could be inflated by a concurrent merge landing
        between release and count)."""
        from .operators.analytics import scd2_merge_into

        df = self._get(dataset, user_col, event_col, time_col, order_col)
        delta = df.select(
            F.col(user_col).alias("user_id"),
            F.col(event_col).alias("event_type"),
            F.col(time_col).alias("ts"),
            F.col(order_col).alias("event_id"),
        )
        _, stats = scd2_merge_into(self.spark, path, delta)
        return {
            "path": path,
            "touched": stats["touched"],
            "total": stats["total"],
            "rows_touched": stats["rows_touched"],
        }

    def scd2_recover_store(self, path: str) -> dict[str, Any]:
        """Reclaim an SCD2 store's retired and orphan objects now (the
        store twin of index_recover — every merge does this in its
        preamble; this surface gives an operator the disk back without
        merging). Idempotent: ``recovered: False`` when there is
        nothing to reclaim. ``gc_skipped`` lists the superseded pointer
        files the GC could not reclaim (normally empty)."""
        from .operators.analytics import _scd2_lock
        from .storeio import recover

        return {"path": path, **recover(self.spark, path, _scd2_lock(path))}

    def scd2_snapshot(
        self,
        path: str,
        ts: str,
        users: "list | None" = None,
        limit: int = 1000,
    ) -> dict[str, Any]:
        """Point-in-time read of an SCD2 store — the as-of query the
        dimension exists to answer (r13: merge/recover shipped in r12
        with no read surface). With ``users`` the scan prunes to their
        hash buckets via the store's persisted modulus; without, it is
        a full-store predicate scan capped at ``limit`` rows (the
        library call scd2_snapshot_at returns the unlimited frame).
        Timestamps serialize as ISO strings — the HTTP layer's
        json.dumps has no datetime fallback by design."""
        from pyspark.errors import AnalysisException

        from .operators.analytics import scd2_snapshot_at

        if limit < 1:
            raise ValueError("limit must be >= 1")
        try:
            snap = scd2_snapshot_at(self.spark, path, ts, user_ids=users)
        except AnalysisException as e:
            # a missing store is a 404, as on the index routes
            raise KeyError(f"no SCD2 store at {path!r}: {e}") from e
        rows = snap.orderBy("user_id", "valid_from").limit(limit).collect()
        return {
            "path": path,
            "ts": ts,
            "n_rows": len(rows),
            "rows": [
                {
                    "user_id": r.user_id,
                    "state": r.state,
                    "valid_from": r.valid_from.isoformat(sep=" "),
                    "valid_to": (
                        None if r.valid_to is None
                        else r.valid_to.isoformat(sep=" ")
                    ),
                    "is_current": bool(r.is_current),
                }
                for r in rows
            ],
        }

    def _docs_view(
        self, dataset: str, id_col: str, text_col: str
    ) -> tuple[DataFrame, DataFrame]:
        """Shared (docs_all, docs) projection for the LLM text-table
        service calls (dedup/pack — review r06 second pass: the
        validation block was copy-pasted per method): column existence,
        integral-id enforcement (a silent cast('long') turned string
        ids into NULLs), and exclusion of NULL-id/NULL-text rows (no
        identity / no content to process — callers surface the count
        as n_excluded)."""
        df = self._get(dataset, id_col, text_col)
        id_type = df.schema[id_col].dataType
        if not isinstance(
            id_type, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
        ):
            raise TypeError(
                f"id column {id_col!r} must be integral, got "
                f"{id_type.simpleString()}"
            )
        docs_all = df.select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.col(text_col).cast("string").alias("text"),
        )
        docs = docs_all.filter(
            F.col("doc_id").isNotNull() & F.col("text").isNotNull()
        )
        return docs_all, docs

    def assign(
        self,
        dataset: str,
        id_col: str,
        vector_col: str,
        centroid_ids: list[int],
        limit: int = 1000,
    ) -> dict[str, Any]:
        """Nearest-centroid assignment over a caller-chosen
        (id, embedding-array) table — the parameterized twin of
        q_sim_assign (round 7). Centroids are rows of the dataset
        itself, chosen by id; every non-zero-norm vector is labeled with
        its best cell by cosine (the k-means E-step / shard-routing
        primitive). Returns per-cell counts computed engine-side plus a
        ``limit``-bounded assignment listing — totals stay exact when
        the listing truncates.

        Routing (round 8): k ≤ 32 runs the expression path (the exact
        float sequence the q_sim_assign oracle mirrors); larger k runs
        the Arrow/numpy matmul twin — same contract, measured 31× at
        1M×256 (SCALING.md "Centroid assignment") where the expression
        path's k-row-per-vector expansion dominates."""
        from .llm.similarity import (
            corpus_view,
            nearest_centroid_assign,
            nearest_centroid_assign_np,
        )

        if limit < 1:
            raise ValueError("limit must be >= 1")
        if not centroid_ids:
            raise ValueError("centroid_ids must be non-empty")
        corpus = corpus_view(self._get(dataset), id_col, vector_col)
        # validate the centroid set up front (review r07, confirmed
        # live: a typo'd id silently vanished and every vector routed
        # among the REMAINING cells — a wrong partitioning with no
        # error). One pushdown-filtered scan of k ids; zero-norm
        # centroids are invalid for the same reason the engine skips
        # them (no direction).
        from .llm.similarity import dot as _dot

        usable = {
            r.vec_id
            for r in corpus.filter(
                F.col("vec_id").isin(list(centroid_ids))
            )
            .select("vec_id", _dot(F.col("v"), F.col("v")).alias("_n2"))
            .filter(F.col("_n2") > 0)
            .collect()
        }
        missing = sorted(set(int(c) for c in centroid_ids) - usable)
        if missing:
            raise ValueError(
                f"unknown or zero-norm centroid ids: {missing}"
            )
        assign_fn = (
            nearest_centroid_assign
            if len(centroid_ids) <= 32
            else nearest_centroid_assign_np
        )
        with pinned():
            assigned = materialize(assign_fn(corpus, centroid_ids))
            cells = {
                int(r.cell): int(r.n)
                for r in assigned.groupBy("cell")
                .agg(F.count("*").alias("n"))
                .collect()
            }
            total = sum(cells.values())
            # (vec_id, cell, cosine): duplicate caller ids each keep
            # their row (engine contract since review r07); cosine joins
            # the tiebreak (ADVICE r07) because duplicate ids can map
            # two DISTINCT vectors to the same cell — without it the
            # limit boundary could pick different rows across runs
            rows = (
                assigned.orderBy("vec_id", "cell", "cosine")
                .limit(limit)
                .collect()
            )
        return {
            "dataset": dataset, "id": id_col, "vector": vector_col,
            "centroid_ids": [int(c) for c in centroid_ids],
            "n_assigned": total,
            "cells": cells,
            "truncated": total > len(rows),
            "assignments": [
                {"id": r.vec_id, "cell": r.cell, "cosine": r.cosine}
                for r in rows
            ],
        }

    def knn_graph(
        self,
        dataset: str,
        id_col: str,
        vector_col: str,
        k: int = 5,
        limit: int = 100,
    ) -> dict[str, Any]:
        """Mutual k-NN graph over a caller-chosen (id, embedding-array)
        table — the parameterized twin of q_embed_knn_graph
        (llm.similarity.mutual_knn_edges): directed cosine top-k lists
        symmetrized to the edges present in BOTH directions, the
        neighborhood-graph construction graph clustering consumes.
        Returns engine-side totals (edge count, node count, degree
        min/mean/max of the mutual graph) plus a ``limit``-bounded
        strongest-edge listing — totals stay exact when the listing
        truncates."""
        from .llm.similarity import corpus_view, mutual_knn_edges

        if k < 1:
            raise ValueError("k must be >= 1")
        if limit < 1:
            raise ValueError("limit must be >= 1")
        corpus = corpus_view(self._get(dataset), id_col, vector_col)
        edges = mutual_knn_edges(corpus, k=int(k))
        deg = (
            edges.select(F.col("id_a").alias("node"))
            .unionAll(edges.select(F.col("id_b").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias("d"))
        )
        tot = deg.agg(
            F.count("*").alias("n_nodes"),
            F.sum("d").alias("d2"),
            F.min("d").alias("dmin"),
            F.max("d").alias("dmax"),
        ).collect()[0]
        n_edges = int(tot.d2 or 0) // 2
        top = (
            edges.orderBy(F.desc("cosine"), "id_a", "id_b")
            .limit(int(limit))
            .collect()
        )
        return {
            "dataset": dataset, "id": id_col, "vector": vector_col,
            "k": int(k),
            "n_nodes": int(tot.n_nodes or 0),
            "n_edges": n_edges,
            "degree": {
                "min": int(tot.dmin) if tot.dmin is not None else None,
                "mean": round(2 * n_edges / tot.n_nodes, 6)
                if tot.n_nodes else None,
                "max": int(tot.dmax) if tot.dmax is not None else None,
            },
            "truncated": n_edges > len(top),
            "edges": [
                {"id_a": r.id_a, "id_b": r.id_b, "cosine": r.cosine}
                for r in top
            ],
        }

    def kmeans(
        self,
        dataset: str,
        id_col: str,
        vector_col: str,
        k: int = 8,
        n_iter: int = 10,
        tol: float = 1e-4,
        include_centroids: bool = False,
    ) -> dict[str, Any]:
        """Iterative spherical k-means over a caller-chosen
        (id, embedding-array) table — the convergence loop whose single
        round is the oracle-checked q_cluster_kmeans_step. Deterministic
        seeding (k lowest non-zero-norm ids, no RNG), cells labeled
        0..k-1 in seed order; stops at ``n_iter`` rounds or when the max
        L2 shift between successive normalized centroids is ≤ ``tol``.

        Each iteration is ONE fused mapInPandas pass (E-step matmul +
        batch-local M-step partials) plus a k×(d+1)-row aggregate — the
        corpus is never shuffled; driver state is the k×d float64
        centroid matrix (engine: llm.similarity.kmeans_lloyd, measured
        at 1M vectors in SCALING.md "Iterative k-means"). The response
        carries per-cell sizes and mean cosines plus the per-iteration
        objective/shift trace; set ``include_centroids`` for the final
        k×d means (rounded 6 dp) when k·d is response-sized."""
        from .llm.similarity import corpus_view, kmeans_lloyd

        if k < 1:
            raise ValueError("k must be >= 1")
        if n_iter < 1:
            raise ValueError("n_iter must be >= 1")
        corpus = corpus_view(self._get(dataset), id_col, vector_col)
        res = kmeans_lloyd(corpus, k=k, n_iter=n_iter, tol=tol)
        out: dict[str, Any] = {
            "dataset": dataset, "id": id_col, "vector": vector_col,
            "k": k, "iterations": res["iterations"],
            "converged": res["converged"],
            "n_assigned": sum(res["cells"].values()),
            "cells": res["cells"],
            "mean_cosine": {
                c: (round(m, 6) if m is not None else None)
                for c, m in res["mean_cosine"].items()
            },
            "objective": [round(o, 6) for o in res["objective"]],
            "shifts": [round(s, 6) for s in res["shifts"]],
        }
        if include_centroids:
            out["centroids"] = [
                [round(float(x), 6) for x in row]
                for row in res["centroids"]
            ]
        return out

    def transitions(
        self,
        dataset: str,
        user: str,
        event: str,
        time: str,
        order: str,
    ) -> dict[str, Any]:
        """First-order Markov transition matrix over per-``user`` event
        chains — the parameterized twin of q_event_transitions (engine:
        operators.analytics.transition_matrix). The matrix is at most
        |types|² rows, so it returns whole; p_next rows sum to 1 within
        each prev state."""
        from .operators.analytics import transition_matrix

        rows = transition_matrix(
            self._get(dataset), user, event, time, order
        ).collect()
        return {
            "dataset": dataset, "user": user, "event": event,
            "n_transitions": sum(r.n_trans for r in rows),
            "matrix": [
                {
                    "prev": r.prev_type, "next": r.next_type,
                    "n": r.n_trans, "p": r.p_next,
                }
                for r in sorted(
                    rows, key=lambda r: (r.prev_type, r.next_type)
                )
            ],
        }

    def stationary(
        self,
        dataset: str,
        user: str,
        event: str,
        time: str,
        order: str,
        n_iter: int = 50,
    ) -> dict[str, Any]:
        """Stationary distribution of the per-``user`` event chain —
        the q_event_markov_stationary engine
        (operators.analytics.markov_stationary) parameterized: power
        iteration over the transitions() matrix with dangling-mass
        redistribution and in-plan renormalization; answers 'where
        does the process spend its time in the long run'."""
        from .operators.analytics import (
            markov_stationary,
            transition_matrix,
        )

        tm = transition_matrix(
            self._get(dataset), user, event, time, order
        ).select(
            F.col("prev_type").alias("s"),
            F.col("next_type").alias("d"),
            F.col("p_next").alias("p"),
        )
        rows = markov_stationary(tm, n_iter=n_iter).collect()
        if not rows:
            raise ValueError("no transitions (need >= 2 events per user)")
        return {
            "dataset": dataset, "user": user, "event": event,
            "n_rounds": rows[0].n_rounds,
            "pi": {
                r.state: _nan_to_none(r.pi)
                for r in sorted(rows, key=lambda r: r.state)
            },
        }

    def attribution(
        self,
        dataset: str,
        user: str,
        event: str,
        time: str,
        order: str,
        target: str,
    ) -> dict[str, Any]:
        """Last-touch conversion attribution — the parameterized twin of
        q_attribution (engine: operators.analytics
        .last_touch_attribution): each ``target`` event credits the
        user's most recent preceding non-target event; conversions with
        no prior touch land in the 'none' bucket."""
        from .operators.analytics import last_touch_attribution

        rows = last_touch_attribution(
            self._get(dataset), user, event, time, order, target
        ).collect()
        return {
            "dataset": dataset, "target": target,
            "n_conversions": sum(r.n_purchases for r in rows),
            "buckets": [
                {
                    "touch": r.touch_type,
                    "n": r.n_purchases,
                    "share": r.share,
                }
                for r in sorted(rows, key=lambda r: -r.n_purchases)
            ],
        }

    def attribution_multi(
        self,
        dataset: str,
        user: str,
        event: str,
        time: str,
        order: str,
        target: str,
        horizon_days: int = 30,
    ) -> dict[str, Any]:
        """Multi-touch conversion attribution — the parameterized twin
        of q_attribution_multi (engine: operators.analytics
        .multi_touch_attribution): linear, position-based (U-shaped),
        and time-decay credit over each conversion's journey, exact
        integer micro-unit credit per model."""
        from .operators.analytics import multi_touch_attribution

        rows = multi_touch_attribution(
            self._get(dataset), user, event, time, order, target,
            horizon_days=horizon_days,
        ).collect()
        models: dict[str, list[dict[str, Any]]] = {}
        for r in sorted(rows, key=lambda r: (r.model, -r.credit_micro)):
            models.setdefault(r.model, []).append(
                {
                    "touch": r.touch_type,
                    "credit_micro": r.credit_micro,
                    "share": r.share,
                }
            )
        return {
            "dataset": dataset, "target": target,
            "horizon_days": horizon_days, "models": models,
        }

    def pagerank(
        self,
        dataset: str,
        src: str,
        dst: str,
        weight: str | None = None,
        damping: float = 0.85,
        n_iter: int = 20,
        limit: int = 100,
    ) -> dict[str, Any]:
        """Weighted PageRank over a registered EDGE table — the
        parameterized twin of q_graph_pagerank (engine: graph.pagerank,
        fixed power iterations, dangling-mass redistribution). Returns
        the top-``limit`` nodes by rank (ties broken by node id) plus
        the engine-side node count — totals stay exact when the listing
        truncates."""
        from .graph import pagerank as _pagerank

        if limit < 1:
            raise ValueError("limit must be >= 1")
        df = self._get(dataset, src, dst, weight or None)
        # graph.pagerank's result is already an eager pin; the scope
        # releases it and every per-round pin before returning
        with pinned():
            ranks = _pagerank(
                df, src=src, dst=dst, weight=weight,
                damping=damping, n_iter=n_iter,
            )
            n_nodes = ranks.count()
            rows = (
                ranks.orderBy(F.desc("rank"), "node").limit(limit).collect()
            )
        return {
            "dataset": dataset, "src": src, "dst": dst,
            "weight": weight, "damping": damping, "n_iter": n_iter,
            "n_nodes": n_nodes,
            "truncated": n_nodes > len(rows),
            "ranks": [
                {"node": r.node, "rank": round(r.rank, 6)} for r in rows
            ],
        }

    def dedup(
        self,
        dataset: str,
        id_col: str,
        text_col: str,
        method: str = "exact",
        threshold: float = 0.5,
        limit: int = 1000,
    ) -> dict[str, Any]:
        """Duplicate report over a caller-chosen (id, text) table — the
        parameterized twin of q_dedup_exact / q_dedup_ngram.

        ``method='exact'``: normalized-sha256 groups; each returned row
        is a non-survivor pointing at its deterministic canonical
        (lowest id); ``'keep_best'``: same clusters, but the canonical
        is the HIGHEST-QUALITY copy (q_dedup_keep_best's survivor rule —
        lexical-diversity/length score, id tie-break). ``'ngram'``: 3-shingle Jaccard pairs ≥ threshold
        via the inverted-index postings join (never all-pairs; the
        'auto' hot-shingle cap guards skewed corpora). ``'minhash'``:
        the sub-quadratic MinHash-LSH twin of ngram — same ≥ threshold
        similarity contract (converted to the engine's distance bound),
        approximate recall, candidates bounded by band-bucket
        collisions. ``limit`` bounds the driver transfer — totals are
        computed engine-side either way, so a truncated listing still
        reports true counts."""
        if limit < 1:
            raise ValueError("limit must be >= 1")
        docs_all, docs = self._docs_view(dataset, id_col, text_col)
        if method == "exact":
            from .llm.dedup import exact_duplicates

            result = exact_duplicates(docs)
        elif method == "keep_best":
            from .llm.dedup import keep_best_duplicates

            result = keep_best_duplicates(docs)
        elif method in ("ngram", "minhash"):
            if not 0.0 < threshold <= 1.0:
                raise ValueError("threshold must be in (0, 1]")
            if method == "ngram":
                from .llm.dedup import ngram_jaccard_pairs

                pairs = ngram_jaccard_pairs(docs, threshold=threshold)
            else:
                from .llm.dedup import minhash_near_dup_pairs

                # the service contract is similarity ≥ threshold; the
                # LSH engine bounds Jaccard DISTANCE
                pairs = minhash_near_dup_pairs(
                    docs, max_distance=1.0 - threshold
                ).withColumn(
                    "jaccard", F.round(1.0 - F.col("jaccard_dist"), 6)
                )
            result = pairs.select("doc_a", "doc_b", "jaccard")
        else:
            raise ValueError(
                f"unknown method: {method!r} (exact|keep_best|ngram|minhash)"
            )
        # pin across the two actions (review r06: count + listing re-ran
        # the whole shingle/LSH/window plan twice — the _kendall pin
        # pattern halves every /dedup call)
        with pinned():
            result = materialize(result)
            total = result.count()
            if method in ("exact", "keep_best"):
                rows = result.orderBy("doc_id").limit(limit).collect()
                listing = [
                    {"id": r.doc_id, "canonical_id": r.canonical_id}
                    for r in rows
                ]
            else:
                rows = result.orderBy("doc_a", "doc_b").limit(limit).collect()
                listing = [
                    {"id_a": r.doc_a, "id_b": r.doc_b, "jaccard": r.jaccard}
                    for r in rows
                ]
            n_excluded = docs_all.count() - docs.count()
        return {
            "dataset": dataset, "id": id_col, "text": text_col,
            "method": method,
            **({"threshold": threshold}
               if method in ("ngram", "minhash") else {}),
            "n_duplicates": total,
            "n_excluded": n_excluded,
            "truncated": total > len(listing),
            "duplicates": listing,
        }

    def pack(
        self,
        dataset: str,
        id_col: str,
        text_col: str,
        capacity: int = 2048,
        limit: int = 1000,
        tokenizer: str = "ws",
    ) -> dict[str, Any]:
        """Concat-and-chunk packing layout over a caller-chosen
        (id, text) table — the parameterized twin of q_pack_chunks:
        concatenate in deterministic id order and cut into fixed
        ``capacity``-token training chunks. Returns corpus-level totals
        (token count, chunk count, tail padding of the final chunk) and
        a ``limit``-bounded per-document layout listing; totals are
        computed engine-side, so a truncated listing stays exact.
        Same input contract as dedup(): integral id column, NULL-id /
        NULL-text rows excluded and counted. ``tokenizer`` picks the
        counter (round 7): 'ws' = whitespace splits (engine-portable),
        'bpeish' = the BPE-ish pre-tokenizer regex (the
        q_text_tokens_bpeish segmenter - far closer to real tokenizer
        budgets on punctuation-heavy text)."""
        from .llm.text import pack_chunks_layout

        if limit < 1:
            raise ValueError("limit must be >= 1")
        if tokenizer not in ("ws", "bpeish"):
            raise ValueError("tokenizer must be 'ws' or 'bpeish'")
        # the counter column must reference the _docs_view PROJECTION's
        # column name ('text'), not the caller's raw name — review r07:
        # F.col(text_col) raised UNRESOLVED_COLUMN for any text column
        # not literally named 'text'
        n_tok = (
            F.size(
                F.regexp_extract_all(
                    F.col("text"), F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), 0
                )
            )
            if tokenizer == "bpeish"
            else None
        )
        docs_all, docs = self._docs_view(dataset, id_col, text_col)
        # capacity >= 1 is enforced by pack_chunks_layout itself
        with pinned():
            layout = materialize(
                pack_chunks_layout(docs, capacity, n_tok=n_tok)
            )
            agg = layout.agg(
                F.count("*").alias("n_docs"),
                F.sum("n_tok").alias("n_tokens"),
                F.max("last_chunk").alias("last_chunk"),
            ).collect()[0]
            rows = layout.orderBy("doc_id", "n_tok").limit(limit).collect()
            # one scan computes the exclusion count (review r06):
            # docs_all - layout rows = NULL-id/NULL-text rows plus (round
            # 7, bpeish only) zero-token docs the layout excludes
            n_excluded = docs_all.count() - int(agg.n_docs)
        n_tokens = int(agg.n_tokens or 0)
        n_chunks = int(agg.last_chunk) + 1 if agg.n_docs else 0
        return {
            "dataset": dataset, "id": id_col, "text": text_col,
            "capacity": capacity, "tokenizer": tokenizer,
            "n_docs": int(agg.n_docs),
            "n_excluded": n_excluded,
            "n_tokens": n_tokens,
            "n_chunks": n_chunks,
            # tokens the final chunk still has room for (what a
            # dataloader would pad or drop)
            "tail_padding": n_chunks * capacity - n_tokens,
            "truncated": int(agg.n_docs) > len(rows),
            "documents": [
                {
                    "id": r.doc_id, "n_tok": r.n_tok, "off": r.off,
                    "first_chunk": r.first_chunk,
                    "last_chunk": r.last_chunk,
                    "n_chunks": r.n_chunks,
                }
                for r in rows
            ],
        }

    def bpe_train(
        self,
        dataset: str,
        id_col: str,
        text_col: str,
        n_merges: int = 24,
        vocab_cap: int = 5000,
    ) -> dict[str, Any]:
        """Train a real BPE merges table on a registered corpus — the
        parameterized twin of q_text_bpe_train (engine: llm.text
        .bpe_train; iterative pair-argmax + fold-merge rounds over the
        word-type table, deterministic tie-break). Returns the ordered
        rules plus corpus token totals before/after merging — the
        compression the learned vocabulary buys."""
        from .llm.text import bpe_train

        _, docs = self._docs_view(dataset, id_col, text_col)
        merges, words = bpe_train(
            docs, n_merges=n_merges, vocab_cap=vocab_cap
        )
        tot = words.agg(
            F.sum(F.col("freq") * F.length("w")).alias("chars"),
            F.sum(F.col("freq") * F.col("n_syms")).alias("toks"),
            F.count("*").alias("n_types"),
        ).collect()[0]
        return {
            "dataset": dataset, "id": id_col, "text": text_col,
            "n_merges": len(merges), "vocab_cap": vocab_cap,
            "n_word_types": int(tot.n_types),
            "corpus_chars": int(tot.chars or 0),
            "corpus_tokens_after_merges": int(tot.toks or 0),
            "merges": [
                {"rank": r, "left": l, "right": rr, "merged": m,
                 "pair_freq": f}
                for r, l, rr, m, f in merges
            ],
        }

    # -- helpers --------------------------------------------------------------

    @staticmethod
    def _num(df: DataFrame, col: str):
        if col not in df.columns:
            raise KeyError(f"unknown variable: {col!r}")
        dtype = df.schema[col].dataType
        if not isinstance(dtype, _NUMERIC):
            # fail here with a clear message instead of a runtime
            # CAST_INVALID_INPUT from deep inside a Spark job
            raise TypeError(f"variable {col!r} is {dtype.simpleString()}, not numeric")
        return F.col(col).cast("double")

    @staticmethod
    def _avg_ranks(df: DataFrame, var_x: str, var_y: str, group_by: str | None) -> DataFrame:
        """Average-rank columns (_rx, _ry) — the ONE Spearman definition
        shared with q_corr_spearman's oracle (stats.py).

        Rows where either variable is NULL are dropped FIRST: rank() would
        otherwise order NULLs lowest and hand them real ranks, silently
        corrupting the coefficient (Pearson drops null pairs natively —
        this keeps the two methods consistent).

        Ungrouped ranks go through stats.avg_rank_table (range-partitioned
        two-pass — no single-partition sort); grouped ranks keep the
        per-group window, which is already partitioned by the group key
        and therefore parallel at scale."""
        from .operators.stats import avg_rank_table

        df = df.filter(F.col(var_x).isNotNull() & F.col(var_y).isNotNull())
        if not group_by:
            return (
                df.select(var_x, var_y)
                .join(avg_rank_table(df, var_x, "_rx"), var_x)
                .join(avg_rank_table(df, var_y, "_ry"), var_y)
                .select("_rx", "_ry")
            )

        def avg_rank(col: str):
            w = Window.partitionBy(group_by).orderBy(col)
            ties = Window.partitionBy(group_by, col)
            return F.rank().over(w) + (F.count("*").over(ties) - 1) / 2.0

        return df.select(
            group_by, avg_rank(var_x).alias("_rx"), avg_rank(var_y).alias("_ry")
        )

    @staticmethod
    def _rank_all(df: DataFrame, cols: list[str]) -> DataFrame:
        # matrix ranks share the caller's listwise-deleted sample; each
        # variable's rank column comes from its avg_rank_table joined back
        # on the value — k small joins instead of k single-partition sorts
        from .operators.stats import avg_rank_table

        out = df.select(*cols)
        rank_cols = []
        for c in cols:
            rc = f"_rank_{c}"
            out = out.join(avg_rank_table(df, c, rc), c)
            rank_cols.append(rc)
        return out.select(*[F.col(rc).alias(c) for c, rc in zip(cols, rank_cols)])
