"""Correlation & statistics — the reference's namesake surface.

BigDataGrapes-EU/CorrelationAPI exposes pairwise and matrix correlation
(Pearson-family plus rank/Spearman variants) over tabular and time-series
variables (SURVEY.md §0, capability-level — the reference tree was empty
at survey time, so no file:line citations exist). Here that surface is
re-expressed as single-pass Spark aggregations:

* ``F.corr`` is a declarative aggregate — partial/final split means ONE
  shuffle regardless of data size; an all-pairs matrix over k variables is
  k(k-1)/2 corr aggregates evaluated in the SAME single pass (no self-join,
  no k² jobs — SURVEY.md §4.2).
* Spearman is implemented with one explicit average-rank formula
  (rank + (tie_count-1)/2) replicated verbatim in the DuckDB oracle, since
  tie handling differs across engines' built-ins (SURVEY.md §7.4).
* Lagged cross-correlation composes date_trunc → groupBy → lag window →
  corr — the time-series path.

All corr outputs are rounded to 6 dp on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_tables
from ..numerics import exact_money_sum, oracle_revenue_sum, revenue_cents
from ..ordering import materialize
from ..registry import query

def _guarded_corr(x, y):
    """round-6 Pearson corr that yields NULL (like DuckDB's corr()) on a
    zero-variance slice instead of Spark 4's ANSI DIVIDE_BY_ZERO throw.

    covar_samp/(sx·sy) is algebraically F.corr (the (n−1) factors
    cancel); the when() guard covers the degenerate frame. Used where a
    sliced/lagged aggregation can plausibly hit a constant window
    (q_corr_xcorr's per-lag slices); the full-table keys keep plain
    F.corr, matching their r01-green form on the non-degenerate fixture.
    Same formula as api._safe_corr minus the null-masking (inputs here
    are already pairwise-complete by construction).
    """
    sx, sy = F.stddev_samp(x), F.stddev_samp(y)
    return F.round(
        F.when((sx > 0) & (sy > 0), F.covar_samp(x, y) / (sx * sy)), 6
    )


_FLAGSHIP_ORACLE = f"""
    SELECT
        r.r_name                                              AS region_name,
        date_trunc('month', o.o_orderdate)                    AS order_month,
        round(corr(l.l_quantity, l.l_extendedprice), 6)       AS corr_qty_price,
        round(corr(l.l_discount,
                   l.l_extendedprice * (1 - l.l_discount)), 6) AS corr_disc_rev,
        round(avg(l.l_discount), 6)                           AS avg_discount,
        {oracle_revenue_sum("l.l_extendedprice", "l.l_discount")} AS revenue,
        count(*)                                              AS n_lines
    FROM lineitem l
    JOIN orders   o ON l.l_orderkey  = o.o_orderkey
    JOIN customer c ON o.o_custkey   = c.c_custkey
    JOIN nation   n ON c.c_nationkey = n.n_nationkey
    JOIN region   r ON n.n_regionkey = r.r_regionkey
    GROUP BY 1, 2
"""


@query(
    "q_flagship",
    oracle=_FLAGSHIP_ORACLE,
    doc="Flagship: per (region, order month) Pearson correlations + revenue "
    "over the 5-way star join.",
    bench=True,
)
def q_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan→join→groupBy→corr→sort, the identity-bearing query (SURVEY.md §7.2).

    Plan shape at scale: lineitem⋈orders⋈customer shuffle on their keys
    (AQE may broadcast orders' build side at small SF); nation/region are
    broadcast unconditionally; the four corr aggregates + sum + avg all
    ride ONE partial/final aggregation on (region, month).

    Revenue uses exact integer-cents arithmetic (numerics.py rule 2) so the
    sum is bit-identical across engines regardless of accumulation order.
    """
    t = load_tables(spark, sf_dir)
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(
            F.col("r_name").alias("region_name"),
            # timestamp (not DATE-cast) on both sides: Spark and DuckDB
            # date_trunc both yield timestamps, which collect identically;
            # DATE vs timestamp would hash-mismatch (SURVEY.md §7.4).
            F.date_trunc("month", "o_orderdate").alias("order_month"),
        )
        .agg(
            F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
            F.round(
                F.corr(
                    "l_discount",
                    F.col("l_extendedprice") * (1 - F.col("l_discount")),
                ),
                6,
            ).alias("corr_disc_rev"),
            F.round(F.avg("l_discount"), 6).alias("avg_discount"),
            exact_money_sum(revenue_cents(), 10000.0).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
        .orderBy("region_name", "order_month")
    )


_PAIRS = [
    ("l_quantity", "l_extendedprice"),
    ("l_quantity", "l_discount"),
    ("l_quantity", "l_tax"),
    ("l_extendedprice", "l_discount"),
    ("l_extendedprice", "l_tax"),
    ("l_discount", "l_tax"),
]


@query(
    "q_agg_corr",
    oracle="""
        SELECT n.n_name AS nation_name,
               round(corr(l.l_quantity, l.l_extendedprice), 6) AS corr_qty_price,
               round(covar_samp(l.l_quantity, l.l_extendedprice), 2) AS covar_qty_price,
               count(*) AS n_rows
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n   ON s.s_nationkey = n.n_nationkey
        GROUP BY 1
    """,
    doc="Grouped Pearson correlation (the reference's core operation).",
    bench=True,
)
def q_agg_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return (
        t["lineitem"]
        .join(t["supplier"], F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation_name"))
        .agg(
            F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
            F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias(
                "covar_qty_price"
            ),
            F.count("*").alias("n_rows"),
        )
    )


@query(
    "q_agg_covar",
    oracle="""
        SELECT l_returnflag,
               round(covar_pop(l_quantity, l_discount), 6)  AS covp_qty_disc,
               round(covar_samp(l_quantity, l_discount), 6) AS covs_qty_disc,
               round(covar_pop(l_quantity, l_tax), 6)       AS covp_qty_tax,
               count(*) AS n_rows
        FROM lineitem GROUP BY 1
    """,
    doc="Population/sample covariance, grouped.",
)
def q_agg_covar(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return t["lineitem"].groupBy("l_returnflag").agg(
        F.round(F.covar_pop("l_quantity", "l_discount"), 6).alias("covp_qty_disc"),
        F.round(F.covar_samp("l_quantity", "l_discount"), 6).alias("covs_qty_disc"),
        F.round(F.covar_pop("l_quantity", "l_tax"), 6).alias("covp_qty_tax"),
        F.count("*").alias("n_rows"),
    )


@query(
    "q_corr_matrix",
    oracle="""
        SELECT """
    + ",\n               ".join(
        f"round(corr({a}, {b}), 6) AS corr_{a[2:]}_{b[2:]}" for a, b in _PAIRS
    )
    + """,
               count(*) AS n_rows
        FROM lineitem
    """,
    doc="All-pairs correlation matrix over the 4 lineitem measures, one pass.",
    bench=True,
)
def q_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k(k-1)/2 corr aggregates in a SINGLE aggregation pass.

    Preferred at 100 TB over melt+self-join (which re-reads/joins the fact
    table) and over ml.stat.Correlation (driver-side matrix): every pair is
    a partial/final declarative aggregate sharing one scan, no extra
    shuffle beyond the single global agg.
    """
    t = load_tables(spark, sf_dir)
    aggs = [
        F.round(F.corr(a, b), 6).alias(f"corr_{a[2:]}_{b[2:]}") for a, b in _PAIRS
    ]
    return t["lineitem"].agg(*aggs, F.count("*").alias("n_rows"))


# One explicit average-rank definition used on BOTH engines:
#   avg_rank(x) = rank(x) + (count(* same x) - 1) / 2
# (ranks over the whole relation, ascending). Spearman = Pearson corr of the
# two average-rank columns.


def avg_rank_table(df: DataFrame, col: str, alias: str) -> DataFrame:
    """(value → average rank) lookup table with NO single-partition sort.

    The average rank is a pure function of the VALUE:

        avg_rank(v) = #{x < v} + (cnt(v) + 1) / 2
                    = rank(v) + (cnt(v) - 1) / 2     (identical algebra)

    so instead of rank() over a global ORDER BY (a full-relation
    single-partition sort — the round-1 scale-killer), this runs the
    documented two-pass range-partitioned plan:

    1. ``groupBy(col).count()`` — partial/final aggregate; only DISTINCT
       values cross the wire.
    2. ``repartitionByRange(col)`` over the distinct-value table; the
       range partitioner keeps equal values together, so a per-partition
       running count (window partitioned by ``spark_partition_id()`` —
       never a global order) gives within-partition cumulative counts.
    3. Per-partition totals (one row per range partition) get running
       offsets via a window over that TINY table, and broadcast-join
       back: global cumulative = offset + within-partition cumulative.

    The caller joins the (value, rank) table back to the fact relation on
    the value — a shuffle/broadcast join Catalyst is free to choose, in
    place of a sort nothing can parallelize.

    NULL semantics (round 4, was misdocumented): the TABLE ranks NULL
    like rank() NULLS FIRST — the NULL group survives the groupBy and
    range-sorts first, so the table contains a NULL row with the lowest
    average rank. Whether fact rows RECEIVE that rank is decided by the
    caller's join-back: a plain equi-join (what the spearman keys use)
    never matches NULL and silently EXCLUDES those rows — pre-filter or
    accept the drop; join with ``eqNullSafe`` to give NULL rows their
    NULLS-FIRST rank. Encoded in
    tests/test_properties.py::test_avg_rank_table_null_semantics.

    Implementation: the single shared range-partitioned core in
    grouped_avg_rank_table, run under one constant group (the constant
    adds nothing to the range key or the tiny offsets windows).
    """
    return grouped_avg_rank_table(
        df.withColumn("_g1", F.lit(1)), "_g1", col, alias
    ).drop("_g1")
_SPEARMAN_ORACLE = """
    WITH ranked AS (
        SELECT
            rank() OVER (ORDER BY l_quantity)
              + (count(*) OVER (PARTITION BY l_quantity) - 1) / 2.0 AS rx,
            rank() OVER (ORDER BY l_extendedprice)
              + (count(*) OVER (PARTITION BY l_extendedprice) - 1) / 2.0 AS ry
        FROM lineitem
    )
    SELECT round(corr(rx, ry), 6) AS spearman_qty_price,
           count(*) AS n_rows
    FROM ranked
"""


@query(
    "q_corr_spearman",
    oracle=_SPEARMAN_ORACLE,
    doc="Spearman rank correlation via explicit average-rank formula.",
)
def q_corr_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average-rank Spearman (SURVEY.md §2.4 / §7.4: never rely on a
    built-in spearman — tie semantics differ across engines).

    Scale path (round 2): ranks come from avg_rank_table — distinct-value
    aggregation + range-partitioned running counts + broadcast offsets —
    joined back to the fact on the value. No rank() window, no global
    single-partition sort; the plan is asserted rangepartitioning-based in
    tests/test_plans.py. The average-rank algebra is IDENTICAL to the
    oracle's rank() + (ties-1)/2 formula, so the same oracle stays green.
    ml.stat.Correlation (method="spearman") is a unit-test cross-check.
    """
    t = load_tables(spark, sf_dir)
    li = t["lineitem"]
    rx = avg_rank_table(li, "l_quantity", "rx")
    ry = avg_rank_table(li, "l_extendedprice", "ry")
    ranked = (
        li.select("l_quantity", "l_extendedprice")
        .join(rx, "l_quantity")   # ~50 distinct values → AQE broadcasts
        .join(ry, "l_extendedprice")
    )
    return ranked.agg(
        F.round(F.corr("rx", "ry"), 6).alias("spearman_qty_price"),
        F.count("*").alias("n_rows"),
    )


def resample_daily(df: DataFrame, time_col: str, value_col: str) -> DataFrame:
    """Daily resample with gap-filling and forward-fill.

    The canonical time-series preparation step before lagged/rolling
    correlation (a correlation service must not compute lag-k against a
    series with silent holes — a missing day would misalign every
    subsequent lag). Shape at scale mirrors q_corr_lagged: the raw-event
    aggregation shrinks data to one row per day FIRST, so the date spine
    (one 1-row min/max aggregate → sequence → explode), the left join and
    the forward-fill window all run on the tiny day-grain series.
    """
    daily = (
        df.groupBy(F.date_trunc("day", F.col(time_col)).alias("d"))
        .agg(F.round(F.avg(value_col), 6).alias("v"))
    )
    rng = daily.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    spine = rng.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 day"))).alias("d")
    )
    joined = spine.join(daily, "d", "left")
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return joined.select(
        "d",
        F.last("v", ignorenulls=True).over(w).alias("v_filled"),
        F.col("v").isNull().alias("gap_filled"),
    )


@query(
    "q_ts_resample",
    oracle="""
        WITH daily AS (
            SELECT date_trunc('day', ts) AS d, round(avg(value), 6) AS v
            FROM events GROUP BY 1
        ), rng AS (SELECT min(d) AS lo, max(d) AS hi FROM daily),
        spine AS (
            SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS d
            FROM rng
        )
        SELECT s.d,
               last_value(dy.v IGNORE NULLS)
                 OVER (ORDER BY s.d
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS v_filled,
               dy.v IS NULL AS gap_filled
        FROM spine s LEFT JOIN daily dy ON s.d = dy.d
    """,
    doc="Daily resample: date-spine gap-fill + forward-fill of the event "
    "value series.",
)
def q_ts_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return resample_daily(t["events"], "ts", "value")


@query(
    "q_corr_rolling",
    oracle="""
        WITH daily AS (
            SELECT date_trunc('day', ts) AS d, round(avg(value), 6) AS v
            FROM events GROUP BY 1
        ), lagged AS (
            SELECT d, v, lag(v) OVER (ORDER BY d) AS v_prev FROM daily
        ), complete AS (
            SELECT d, v, v_prev, row_number() OVER (ORDER BY d) AS rn
            FROM lagged WHERE v_prev IS NOT NULL
        ), scored AS (
            SELECT d, rn,
                   round(corr(v, v_prev)
                         OVER (ORDER BY d
                               ROWS BETWEEN 13 PRECEDING AND CURRENT ROW), 6)
                     AS rolling_autocorr,
                   count(*) OVER (ORDER BY d
                                  ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
                     AS n_pairs
            FROM complete
        )
        SELECT d, rolling_autocorr, n_pairs FROM scored WHERE rn >= 14
    """,
    doc="Rolling 14-day lag-1 autocorrelation of the daily event series.",
)
def q_corr_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-window correlation — the time-varying form of the service's
    namesake statistic (is the series' self-similarity drifting?).

    Spark has no corr-as-window-function guarantee under ANSI (zero
    variance in a frame would raise DIVIDE_BY_ZERO), so the coefficient is
    composed from covar_samp/stddev_samp window aggregates with the same
    NULL-on-degenerate guard as _safe_corr; DuckDB's corr() OVER already
    returns NULL there — identical semantics, round 6 on both.

    Scale shape mirrors q_corr_lagged: all windows run on the day-grain
    series (~one row per day regardless of raw volume), so the global
    ORDER BY d is over a tiny relation. Only full 14-day frames are
    emitted (rn >= 14) — partial frames are the unstable warm-up rows.
    """
    t = load_tables(spark, sf_dir)
    daily = (
        t["events"]
        .groupBy(F.date_trunc("day", "ts").alias("d"))
        .agg(F.round(F.avg("value"), 6).alias("v"))
    )
    lagged = daily.select(
        "d", "v", F.lag("v", 1).over(Window.orderBy("d")).alias("v_prev")
    )
    complete = lagged.filter(F.col("v_prev").isNotNull()).withColumn(
        "rn", F.row_number().over(Window.orderBy("d"))
    )
    w = Window.orderBy("d").rowsBetween(-13, 0)
    sx, sy = F.stddev_samp("v").over(w), F.stddev_samp("v_prev").over(w)
    rolling = F.when(
        (sx > 0) & (sy > 0), F.covar_samp("v", "v_prev").over(w) / (sx * sy)
    )
    return (
        complete.select(
            "d",
            "rn",
            F.round(rolling, 6).alias("rolling_autocorr"),
            F.count("*").over(w).alias("n_pairs"),
        )
        .filter(F.col("rn") >= 14)
        .select("d", "rolling_autocorr", "n_pairs")
    )


@query(
    "q_corr_lagged",
    oracle="""
        WITH daily AS (
            SELECT date_trunc('day', ts) AS d,
                   round(avg(value), 6) AS v
            FROM events GROUP BY 1
        ), lagged AS (
            SELECT v, lag(v, 1) OVER (ORDER BY d) AS v_prev FROM daily
        )
        SELECT round(corr(v, v_prev), 6) AS lag1_autocorr,
               count(v_prev) AS n_pairs
        FROM lagged
    """,
    doc="Lag-1 cross-correlation of the daily event-value series.",
)
def q_corr_lagged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series path: daily mean series → lag window → corr.

    The day-grain aggregation shrinks the data to ~one row per day BEFORE
    the global-order lag window, so the single-partition window is over a
    tiny series even at 100 TB of raw events.
    """
    t = load_tables(spark, sf_dir)
    daily = (
        t["events"]
        .groupBy(F.date_trunc("day", "ts").cast("date").alias("d"))
        .agg(F.round(F.avg("value"), 6).alias("v"))
    )
    lagged = daily.select(
        "v", F.lag("v", 1).over(Window.orderBy("d")).alias("v_prev")
    )
    return lagged.agg(
        F.round(F.corr("v", "v_prev"), 6).alias("lag1_autocorr"),
        F.count("v_prev").alias("n_pairs"),
    )


@query(
    "q_corr_xcorr",
    oracle="""
        WITH daily AS (
            SELECT CAST(epoch_us(date_trunc('day', ts)) // 86400000000
                        AS BIGINT) AS dn,
                   round(avg(CASE WHEN event_type = 'click'
                                  THEN value END), 6)    AS x,
                   round(avg(CASE WHEN event_type = 'purchase'
                                  THEN value END), 6)    AS y
            FROM events
            WHERE event_type IN ('click', 'purchase')
            GROUP BY 1
        ), lags AS (
            SELECT unnest(range(-3, 4)) AS lag
        )
        SELECT l.lag,
               round(corr(a.x, b.y), 6) AS xcorr,
               count(*) FILTER (a.x IS NOT NULL AND b.y IS NOT NULL)
                   AS n_pairs
        FROM lags l
        JOIN daily a ON TRUE
        JOIN daily b ON b.dn = a.dn + l.lag
        GROUP BY 1
    """,
    doc="Lead-lag cross-correlation: corr(click_t, purchase_{t+k}) for "
    "k in [-3, 3] over the daily series.",
)
def q_corr_xcorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation function (CCF) between two event series — the
    lead-lag question a correlation service exists to answer: do clicks
    LEAD purchases (positive lag peak) or trail them? One day-grain
    aggregation builds both series in a single pass (conditional avg per
    type — no second scan, no pivot job); the 7 lag offsets come from a
    tiny exploded literal array joined on integer day numbers, so the
    shifted alignment is an equi-join both engines resolve identically
    (no date arithmetic in the join key — epoch-days are exact int64s).

    Scale: the raw scan is the only full-data pass; everything after runs
    on ~days×7 rows. corr guards + round(6) as everywhere
    (numerics.py rule 3)."""
    t = load_tables(spark, sf_dir)
    dn = (F.unix_micros(F.date_trunc("day", F.col("ts"))) / F.lit(86400000000)).cast(
        "bigint"
    )
    daily = (
        t["events"]
        .filter(F.col("event_type").isin("click", "purchase"))
        .groupBy(dn.alias("dn"))
        .agg(
            F.round(
                F.avg(F.when(F.col("event_type") == "click", F.col("value"))), 6
            ).alias("x"),
            F.round(
                F.avg(F.when(F.col("event_type") == "purchase", F.col("value"))), 6
            ).alias("y"),
        )
    )
    lags = spark.range(-3, 4).select(F.col("id").cast("bigint").alias("lag"))
    a, b = daily.alias("a"), daily.alias("b")
    # broadcast-pinned lag spine (verdict r05): 7 rows must never be a
    # shuffle side; canaried in tests/test_plans.py
    return (
        F.broadcast(lags).crossJoin(a)
        .join(b, F.col("b.dn") == F.col("a.dn") + F.col("lag"))
        .groupBy("lag")
        .agg(
            _guarded_corr(F.col("a.x"), F.col("b.y")).alias("xcorr"),
            F.count(
                F.when(F.col("a.x").isNotNull() & F.col("b.y").isNotNull(), 1)
            ).alias("n_pairs"),
        )
    )


@query(
    "q_pacf",
    oracle="""
        WITH daily AS (
            SELECT CAST(epoch_us(date_trunc('day', ts)) // 86400000000
                        AS BIGINT) AS dn,
                   round(avg(value), 6) AS v
            FROM events
            GROUP BY 1
        ), lagcorr AS (
            SELECT l.lag, round(corr(a.v, b.v), 6) AS acf
            FROM (SELECT unnest(range(1, 4)) AS lag) l
            JOIN daily a ON TRUE
            JOIN daily b ON b.dn = a.dn + l.lag
            GROUP BY 1
        ), r AS (
            SELECT max(CASE WHEN lag = 1 THEN acf END) AS r1,
                   max(CASE WHEN lag = 2 THEN acf END) AS r2,
                   max(CASE WHEN lag = 3 THEN acf END) AS r3
            FROM lagcorr
        ), p2 AS (
            SELECT r1, r2, r3,
                   (r2 - r1*r1) / nullif(1 - r1*r1, 0) AS phi22
            FROM r
        ), p3 AS (
            SELECT r1, r2, r3, phi22, r1 - phi22*r1 AS phi21
            FROM p2
        )
        SELECT r1 AS acf_1, r2 AS acf_2, r3 AS acf_3,
               r1 AS pacf_1,
               round(phi22, 6) AS pacf_2,
               round((r3 - phi21*r2 - phi22*r1)
                     / nullif(1 - phi21*r1 - phi22*r2, 0), 6) AS pacf_3
        FROM p3
    """,
    doc="Partial autocorrelation (Durbin-Levinson over lag-1..3 ACF of "
    "the daily value series) — AR-order diagnostics on ACF output.",
)
def q_pacf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PACF — the AR-order diagnostic a correlation service pairs with
    its ACF: phi_kk from the Durbin-Levinson recursion over the lag-k
    autocorrelations of the day-grain series (api.acf returns the same
    statistic for arbitrary datasets; this declared key is the fixed
    3-lag form the DuckDB oracle can express as closed-form SQL).

    Shape: ONE day-grain aggregation (the only full-data pass), a 3-row
    lag array equi-joined on epoch-day integers (q_corr_xcorr's exact
    alignment rule), one tiny per-lag corr agg, then the recursion as a
    chain of selectExpr steps whose SQL strings are IDENTICAL to the
    oracle's CTE expressions — both engines run the same IEEE754 ops on
    the same round-6 acf inputs, so the 6-dp outputs agree exactly.
    Everything after the raw scan runs on ~|days| rows."""
    t = load_tables(spark, sf_dir)
    dn = (F.unix_micros(F.date_trunc("day", F.col("ts"))) / F.lit(86400000000)).cast(
        "bigint"
    )
    daily = (
        t["events"]
        .groupBy(dn.alias("dn"))
        .agg(F.round(F.avg("value"), 6).alias("v"))
    )
    lags = spark.range(1, 4).select(F.col("id").cast("bigint").alias("lag"))
    a, b = daily.alias("a"), daily.alias("b")
    # broadcast-pinned lag spine (verdict r05; tests/test_plans.py)
    acf = (
        F.broadcast(lags).crossJoin(a)
        .join(b, F.col("b.dn") == F.col("a.dn") + F.col("lag"))
        .groupBy("lag")
        .agg(_guarded_corr(F.col("a.v"), F.col("b.v")).alias("acf"))
    )
    r = acf.agg(
        F.max(F.when(F.col("lag") == 1, F.col("acf"))).alias("r1"),
        F.max(F.when(F.col("lag") == 2, F.col("acf"))).alias("r2"),
        F.max(F.when(F.col("lag") == 3, F.col("acf"))).alias("r3"),
    )
    # selectExpr chain == oracle CTEs p2/p3 verbatim (see docstring)
    p2 = r.selectExpr(
        "r1", "r2", "r3", "(r2 - r1*r1) / nullif(1 - r1*r1, 0) AS phi22"
    )
    p3 = p2.selectExpr("r1", "r2", "r3", "phi22", "r1 - phi22*r1 AS phi21")
    return p3.selectExpr(
        "r1 AS acf_1", "r2 AS acf_2", "r3 AS acf_3",
        "r1 AS pacf_1",
        "round(phi22, 6) AS pacf_2",
        "round((r3 - phi21*r2 - phi22*r1)"
        " / nullif(1 - phi21*r1 - phi22*r2, 0), 6) AS pacf_3",
    )


_KENDALL_ORACLE = """
    WITH daily AS (
        SELECT CAST(epoch_us(date_trunc('day', ts)) // 86400000000
                    AS BIGINT) AS dn,
               round(avg(CASE WHEN event_type = 'click'
                              THEN value END), 6)    AS x,
               round(avg(CASE WHEN event_type = 'purchase'
                              THEN value END), 6)    AS y
        FROM events
        WHERE event_type IN ('click', 'purchase')
        GROUP BY 1
    ), s AS (SELECT dn, x, y FROM daily
             WHERE x IS NOT NULL AND y IS NOT NULL),
    p AS (
        SELECT CASE WHEN (a.x - b.x) * (a.y - b.y) > 0 THEN 1
                    WHEN (a.x - b.x) * (a.y - b.y) < 0 THEN -1
                    ELSE 0 END                          AS s,
               CASE WHEN a.x = b.x THEN 1 ELSE 0 END    AS tx,
               CASE WHEN a.y = b.y THEN 1 ELSE 0 END    AS ty
        FROM s a JOIN s b ON a.dn < b.dn
    )
    SELECT round(CAST(sum(s) AS DOUBLE)
                 / sqrt(CAST((count(*) - sum(tx)) AS DOUBLE)
                        * (count(*) - sum(ty))), 6)     AS kendall_tau,
           count(*)                                     AS n_pairs
    FROM p
"""


@query(
    "q_corr_kendall",
    oracle=_KENDALL_ORACLE,
    doc="Kendall tau-b between the daily click and purchase series via "
    "explicit pair counting over the grain-aggregated series.",
)
def q_corr_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall rank correlation — the third classic coefficient a
    correlation service offers (api.py provides the O(n log n)
    merge-sort form for arbitrary datasets; this declared key is the
    SQL-expressible pair-counting form, so an exact DuckDB oracle
    exists).

    tau_b = (concordant − discordant) / √((n0 − ties_x)(n0 − ties_y))

    Scale shape: the ONLY full-data pass is the day-grain aggregation
    (the q_corr_lagged rule); the O(n²) pair self-join runs on the tiny
    aggregated series (~days rows), where n² is a constant — never on
    raw events. Both engines compare 6-dp-rounded daily means (exact
    doubles), count ties with exact equality, and apply one identical
    final float expression — hash-stable.
    """
    t = load_tables(spark, sf_dir)
    dn = (F.unix_micros(F.date_trunc("day", F.col("ts"))) / F.lit(86400000000)).cast(
        "bigint"
    )
    daily = (
        t["events"]
        .filter(F.col("event_type").isin("click", "purchase"))
        .groupBy(dn.alias("dn"))
        .agg(
            F.round(
                F.avg(F.when(F.col("event_type") == "click", F.col("value"))), 6
            ).alias("x"),
            F.round(
                F.avg(F.when(F.col("event_type") == "purchase", F.col("value"))), 6
            ).alias("y"),
        )
        .filter(F.col("x").isNotNull() & F.col("y").isNotNull())
    )
    a, b = daily.alias("a"), daily.alias("b")
    dxdy = (F.col("a.x") - F.col("b.x")) * (F.col("a.y") - F.col("b.y"))
    pairs = a.join(b, F.col("a.dn") < F.col("b.dn")).select(
        F.when(dxdy > 0, 1).when(dxdy < 0, -1).otherwise(0).alias("s"),
        F.when(F.col("a.x") == F.col("b.x"), 1).otherwise(0).alias("tx"),
        F.when(F.col("a.y") == F.col("b.y"), 1).otherwise(0).alias("ty"),
    )
    n0 = F.count("*")
    return pairs.agg(
        F.round(
            F.sum("s").cast("double")
            / F.sqrt(
                (n0 - F.sum("tx")).cast("double") * (n0 - F.sum("ty"))
            ),
            6,
        ).alias("kendall_tau"),
        F.count("*").alias("n_pairs"),
    )


@query(
    "q_corr_partial",
    oracle="""
        WITH r AS (
            SELECT l_returnflag,
                   round(corr(l_quantity, l_extendedprice), 6) AS rxy,
                   round(corr(l_quantity, l_discount), 6)      AS rxz,
                   round(corr(l_extendedprice, l_discount), 6) AS ryz,
                   count(*) AS n_rows
            FROM lineitem GROUP BY 1
        )
        SELECT l_returnflag, rxy, rxz, ryz,
               round((rxy - rxz * ryz)
                     / sqrt((1 - rxz * rxz) * (1 - ryz * ryz)), 6)
                   AS partial_corr,
               n_rows
        FROM r
    """,
    doc="Partial correlation of (quantity, price) controlling for "
    "discount, per returnflag — from three pairwise Pearson r's.",
)
def q_corr_partial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order partial correlation — the namesake statistic's
    confound-removal form: corr(x,y | z) from the three pairwise
    coefficients, (rxy − rxz·ryz)/√((1−rxz²)(1−ryz²)).

    All three r's come from ONE grouped aggregation pass (six moment
    aggregates fused by codegen — never three jobs), are rounded to 6 dp
    FIRST so both engines feed bit-identical operands into the closed
    form, and the final expression is the same IEEE op sequence on both
    sides → round(6) of identical doubles. Fixture groups are never
    degenerate (|rxz|, |ryz| < 1), so no denominator guard is needed —
    at the API level _safe_corr's NULL-on-degenerate convention applies."""
    t = load_tables(spark, sf_dir)
    r = (
        t["lineitem"]
        .groupBy("l_returnflag")
        .agg(
            F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("rxy"),
            F.round(F.corr("l_quantity", "l_discount"), 6).alias("rxz"),
            F.round(F.corr("l_extendedprice", "l_discount"), 6).alias("ryz"),
            F.count("*").alias("n_rows"),
        )
    )
    rxy, rxz, ryz = F.col("rxy"), F.col("rxz"), F.col("ryz")
    return r.select(
        "l_returnflag",
        "rxy",
        "rxz",
        "ryz",
        F.round(
            (rxy - rxz * ryz)
            / F.sqrt((1 - rxz * rxz) * (1 - ryz * ryz)),
            6,
        ).alias("partial_corr"),
        "n_rows",
    )


@query(
    "q_corr_partial2",
    oracle="""
        WITH c AS (
            SELECT round(corr(l_quantity, l_extendedprice), 6) AS rxy,
                   round(corr(l_quantity, l_discount), 6)      AS rxz,
                   round(corr(l_extendedprice, l_discount), 6) AS ryz,
                   round(corr(l_quantity, l_tax), 6)           AS rxw,
                   round(corr(l_extendedprice, l_tax), 6)      AS ryw,
                   round(corr(l_discount, l_tax), 6)           AS rzw,
                   count(*) AS n_rows
            FROM lineitem
        ), p1 AS (
            SELECT n_rows,
                   (rxy - rxz*ryz)
                       / sqrt((1 - rxz*rxz) * (1 - ryz*ryz)) AS rxy_z,
                   (rxw - rxz*rzw)
                       / sqrt((1 - rxz*rxz) * (1 - rzw*rzw)) AS rxw_z,
                   (ryw - ryz*rzw)
                       / sqrt((1 - ryz*ryz) * (1 - rzw*rzw)) AS ryw_z
            FROM c
        )
        SELECT round((rxy_z - rxw_z*ryw_z)
                     / sqrt((1 - rxw_z*rxw_z) * (1 - ryw_z*ryw_z)),
                     6) AS partial_xy_zw,
               n_rows
        FROM p1
    """,
    doc="Second-order partial correlation corr(qty, price | discount, "
    "tax) via the recursive closed form over six pairwise coefficients "
    "(added round 5; api.partial_correlation generalizes to any number "
    "of controls via the precision matrix).",
)
def q_corr_partial2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-order partial correlation — two confounds removed by the
    recursive identity r_xy·zw = (r_xy·z − r_xw·z·r_yw·z) /
    √((1−r_xw·z²)(1−r_yw·z²)) over first-order partials.

    Same determinism recipe as q_pacf: ONE aggregation pass computes all
    six pairwise coefficients (codegen-fused moment aggregates), rounded
    to 6 dp so both engines feed bit-identical operands into the
    recursion, whose selectExpr steps are the oracle's CTEs verbatim —
    identical IEEE op sequences → identical 6-dp output. The fixture
    correlations are far from ±1, so no denominator guard is needed
    here; the API's precision-matrix path owns the degenerate contract."""
    t = load_tables(spark, sf_dir)
    c = t["lineitem"].agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("rxy"),
        F.round(F.corr("l_quantity", "l_discount"), 6).alias("rxz"),
        F.round(F.corr("l_extendedprice", "l_discount"), 6).alias("ryz"),
        F.round(F.corr("l_quantity", "l_tax"), 6).alias("rxw"),
        F.round(F.corr("l_extendedprice", "l_tax"), 6).alias("ryw"),
        F.round(F.corr("l_discount", "l_tax"), 6).alias("rzw"),
        F.count("*").alias("n_rows"),
    )
    p1 = c.selectExpr(
        "n_rows",
        "(rxy - rxz*ryz) / sqrt((1 - rxz*rxz) * (1 - ryz*ryz)) AS rxy_z",
        "(rxw - rxz*rzw) / sqrt((1 - rxz*rxz) * (1 - rzw*rzw)) AS rxw_z",
        "(ryw - ryz*rzw) / sqrt((1 - ryz*ryz) * (1 - rzw*rzw)) AS ryw_z",
    )
    return p1.selectExpr(
        "round((rxy_z - rxw_z*ryw_z)"
        " / sqrt((1 - rxw_z*rxw_z) * (1 - ryw_z*ryw_z)), 6) AS partial_xy_zw",
        "n_rows",
    )


def grouped_avg_rank_table(
    df: DataFrame, group: str, col: str, alias: str
) -> DataFrame:
    """Per-group (value → average rank) lookup — avg_rank_table's grouped
    generalization, same two-pass range-partitioned shape.

    A per-group rank window (Window.partitionBy(group).orderBy(col)) is
    parallel only across groups: with a FEW heavy groups (3 returnflags ×
    billions of rows) each group is one giant task — the grouped twin of
    the round-1 global-sort scale-killer. Instead the counts table range-
    partitions on (group, value) — equal pairs stay together, a group may
    span partitions — and the running offsets accumulate per group across
    partition ids: global-within-group cumulative = per-group offset +
    within-partition cumulative. The offsets table is ≤ partitions×groups
    rows — always broadcastable.

    Correctness pin (round 4): the numbered rows and the totals BOTH
    consume the sampled range-partitioned counts subtree; they are only
    guaranteed to see the same partition ids when the two references
    dedupe to ONE exchange. They do here — the counts subtree (exactly
    _g/_v/_cnt, all needed by both consumers) canonicalizes identically,
    so ReuseExchange fires (verified in the final AQE plans of every
    spearman-family key). tests/test_plans.py::
    test_spearman_rank_tables_reuse_range_exchange is the canary that
    keeps this from regressing silently. ordering.global_row_number has
    the same double-reference shape but differently-pruned consumers, so
    it pins with localCheckpoint instead (see ordering.py)."""
    counts = df.groupBy(F.col(group).alias("_g"), F.col(col).alias("_v")).agg(
        F.count("*").alias("_cnt")
    )
    ranged = counts.repartitionByRange(F.col("_g"), F.col("_v")).withColumn(
        "_pid", F.spark_partition_id()
    )
    w_in = (
        Window.partitionBy("_pid", "_g")
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranged = ranged.withColumn("_cum_in", F.sum("_cnt").over(w_in))
    totals = ranged.groupBy("_pid", "_g").agg(F.sum("_cnt").alias("_ptot"))
    w_off = (
        Window.partitionBy("_g")
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.withColumn(
        "_off", F.coalesce(F.sum("_ptot").over(w_off), F.lit(0)).cast("bigint")
    )
    return (
        ranged.join(F.broadcast(offsets.select("_pid", "_g", "_off")), ["_pid", "_g"])
        .select(
            F.col("_g").alias(group),
            F.col("_v").alias(col),
            (
                F.col("_off") + F.col("_cum_in") - F.col("_cnt")
                + (F.col("_cnt") + 1) / 2.0
            ).alias(alias),
        )
    )


_SPEARMAN_GROUPED_ORACLE = """
    WITH ranked AS (
        SELECT l_returnflag,
               rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity)
                 + (count(*) OVER (PARTITION BY l_returnflag, l_quantity)
                    - 1) / 2.0 AS rx,
               rank() OVER (PARTITION BY l_returnflag
                            ORDER BY l_extendedprice)
                 + (count(*) OVER (PARTITION BY l_returnflag,
                                   l_extendedprice) - 1) / 2.0 AS ry
        FROM lineitem
    )
    SELECT l_returnflag,
           round(corr(rx, ry), 6) AS spearman_qty_price,
           count(*) AS n_rows
    FROM ranked
    GROUP BY 1
"""


@query(
    "q_corr_spearman_grouped",
    oracle=_SPEARMAN_GROUPED_ORACLE,
    doc="Per-group Spearman rank correlation via the grouped "
    "range-partitioned average-rank tables.",
)
def q_corr_spearman_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped Spearman — the rank method sliced by segment, using
    grouped_avg_rank_table so that few-heavy-group inputs never serialize
    into one task per group (see that function's docstring). Ranks are
    per (group, value), joined back on the pair; the corr aggregation is
    one partial/final pass per group. The oracle spells the identical
    average-rank formula with per-group windows — same definition,
    different (single-node-appropriate) plan."""
    t = load_tables(spark, sf_dir)
    li = t["lineitem"]
    rx = grouped_avg_rank_table(li, "l_returnflag", "l_quantity", "rx")
    ry = grouped_avg_rank_table(li, "l_returnflag", "l_extendedprice", "ry")
    return (
        li.select("l_returnflag", "l_quantity", "l_extendedprice")
        .join(rx, ["l_returnflag", "l_quantity"])
        .join(ry, ["l_returnflag", "l_extendedprice"])
        .groupBy("l_returnflag")
        .agg(
            F.round(F.corr("rx", "ry"), 6).alias("spearman_qty_price"),
            F.count("*").alias("n_rows"),
        )
    )


_SPEARMAN_MATRIX_VARS = ("l_quantity", "l_extendedprice", "l_discount")
_SPEARMAN_MATRIX_ORACLE = (
    """
    WITH ranked AS (
        SELECT
            """
    + ",\n            ".join(
        f"rank() OVER (ORDER BY {v}) + (count(*) OVER (PARTITION BY {v}) - 1)"
        f" / 2.0 AS r_{v[2:]}"
        for v in _SPEARMAN_MATRIX_VARS
    )
    + """
        FROM lineitem
    )
    SELECT """
    + ",\n           ".join(
        f"round(corr(r_{a[2:]}, r_{b[2:]}), 6) AS rho_{a[2:]}_{b[2:]}"
        for i, a in enumerate(_SPEARMAN_MATRIX_VARS)
        for b in _SPEARMAN_MATRIX_VARS[i + 1:]
    )
    + """,
           count(*) AS n_rows
    FROM ranked
"""
)


@query(
    "q_corr_matrix_spearman",
    oracle=_SPEARMAN_MATRIX_ORACLE,
    doc="All-pairs Spearman matrix: per-variable range-partitioned rank "
    "tables joined once, k(k-1)/2 rank-corr aggregates in one pass.",
)
def q_corr_matrix_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rank-method matrix (monotone association, outlier-robust —
    the reference's second correlation method at matrix scope). Each
    variable's average-rank column comes from its avg_rank_table — k
    small (value → rank) lookups joined back on the value — so the plan
    is k distinct-value aggregations + k joins + ONE final aggregation
    computing all k(k−1)/2 coefficients; never a global-order rank
    window (the round-1 scale-killer), never per-pair rescans. Identical
    average-rank algebra to q_corr_spearman, verified against the
    oracle's window spelling."""
    t = load_tables(spark, sf_dir)
    li = t["lineitem"].select(*_SPEARMAN_MATRIX_VARS)
    ranked = li
    for v in _SPEARMAN_MATRIX_VARS:
        ranked = ranked.join(avg_rank_table(li, v, f"r_{v[2:]}"), v)
    aggs = [
        F.round(F.corr(f"r_{a[2:]}", f"r_{b[2:]}"), 6).alias(
            f"rho_{a[2:]}_{b[2:]}"
        )
        for i, a in enumerate(_SPEARMAN_MATRIX_VARS)
        for b in _SPEARMAN_MATRIX_VARS[i + 1:]
    ]
    return ranked.agg(*aggs, F.count("*").alias("n_rows"))


@query(
    "q_corr_cramer",
    oracle="""
        WITH base AS (
            SELECT o_orderpriority AS a, o_orderstatus AS b FROM orders
        ),
        cont AS (
            SELECT a, b, CAST(count(*) AS BIGINT) AS o
            FROM base GROUP BY 1, 2
        ),
        rt AS (SELECT a, CAST(count(*) AS BIGINT) AS ra FROM base GROUP BY 1),
        ct AS (SELECT b, CAST(count(*) AS BIGINT) AS cb FROM base GROUP BY 1),
        tot AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(count(DISTINCT a) AS BIGINT) AS r,
                   CAST(count(DISTINCT b) AS BIGINT) AS c
            FROM base
        )
        SELECT round(sum(
                   CAST((cont.o * tot.n - rt.ra * ct.cb) AS DOUBLE)
                   * CAST((cont.o * tot.n - rt.ra * ct.cb) AS DOUBLE)
                   / (CAST(tot.n AS DOUBLE) * rt.ra * ct.cb)
               ), 6) AS chi2,
               round(sqrt(sum(
                   CAST((cont.o * tot.n - rt.ra * ct.cb) AS DOUBLE)
                   * CAST((cont.o * tot.n - rt.ra * ct.cb) AS DOUBLE)
                   / (CAST(tot.n AS DOUBLE) * rt.ra * ct.cb)
               ) / (CAST(any_value(tot.n) AS DOUBLE)
                    * least(any_value(tot.r) - 1, any_value(tot.c) - 1))
               ), 6) AS cramers_v,
               CAST((any_value(tot.r) - 1) * (any_value(tot.c) - 1)
                    AS BIGINT) AS dof,
               any_value(tot.n) AS n_rows
        FROM cont JOIN rt USING (a) JOIN ct USING (b) CROSS JOIN tot
    """,
    doc="Cramér's V + chi-square statistic between two categorical "
    "columns (order priority × order status) — the categorical "
    "association measure a correlation API needs alongside Pearson.",
)
def q_corr_cramer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association between two CATEGORICAL variables — the gap Pearson
    and Spearman leave open (agronomic data is full of treatment /
    variety / status factors). chi² over the contingency table, then
    V = sqrt(chi² / (n · (min(r,c)−1))).

    Determinism: every contingency count, row/col total and n is an
    EXACT int64; each cell's term is assembled from exact-int products
    ((o·n − ra·cb)² ≤ ~1e16 < 2^53, so the doubles are exact) with ONE
    division per cell, and the final sum spans ≤ r·c ≈ 15 well-scaled
    cells — rounding to 6 dp leaves ≥1e6× headroom over the
    accumulated error (numerics.py rule 3).

    Scale shape: three aggregates over the same scan (contingency, row
    totals, column totals — the row/col tables are category-sized and
    broadcast back), one 1-row total via crossJoin (the Q22 pattern);
    the contingency table itself is r·c rows, so the chi² reduction is
    driver-free and the whole operator is two map-side-combinable
    shuffles of category-cardinality data."""
    t = load_tables(spark, sf_dir)
    base = t["orders"].select(
        F.col("o_orderpriority").alias("a"), F.col("o_orderstatus").alias("b")
    )
    cont = base.groupBy("a", "b").agg(F.count("*").alias("o"))
    rt = base.groupBy("a").agg(F.count("*").alias("ra"))
    ct = base.groupBy("b").agg(F.count("*").alias("cb"))
    tot = base.agg(
        F.count("*").alias("n"),
        F.countDistinct("a").alias("r"),
        F.countDistinct("b").alias("c"),
    )
    dev = (F.col("o") * F.col("n") - F.col("ra") * F.col("cb")).cast("double")
    term = dev * dev / (
        F.col("n").cast("double") * F.col("ra") * F.col("cb")
    )
    return (
        cont.join(F.broadcast(rt), "a")
        .join(F.broadcast(ct), "b")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.round(F.sum(term), 6).alias("chi2"),
            F.round(
                F.sqrt(
                    F.sum(term)
                    / (
                        F.any_value("n").cast("double")
                        * F.least(
                            F.any_value("r") - 1, F.any_value("c") - 1
                        )
                    )
                ),
                6,
            ).alias("cramers_v"),
            ((F.any_value("r") - 1) * (F.any_value("c") - 1))
            .cast("bigint")
            .alias("dof"),
            F.any_value("n").alias("n_rows"),
        )
    )


@query(
    "q_corr_eta",
    oracle="""
        WITH x AS (
            SELECT o_orderpriority AS grp,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS cents
            FROM orders
        ),
        g AS (
            SELECT grp,
                   CAST(sum(cents) AS DOUBLE) AS s,
                   CAST(sum(cents * cents) AS DOUBLE) AS q,
                   CAST(count(*) AS BIGINT) AS m
            FROM x GROUP BY 1
        ),
        tot AS (
            SELECT sum(s) AS st, sum(q) AS qt,
                   CAST(sum(m) AS BIGINT) AS n,
                   sum(s * s / m) AS ssb_raw
            FROM g
        )
        SELECT round((ssb_raw - st * st / n) / (qt - st * st / n), 6)
                   AS eta2,
               round(sqrt((ssb_raw - st * st / n) / (qt - st * st / n)), 6)
                   AS eta,
               n AS n_rows
        FROM tot
    """,
    doc="Correlation ratio eta² (categorical → numeric): how much of "
    "the order-price variance the priority factor explains — the "
    "ANOVA-style companion to Pearson for mixed-type data.",
)
def q_corr_eta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """η² = SS_between / SS_total for a numeric column grouped by a
    categorical factor — the mixed-type association a correlation
    service needs when one variable is a treatment/level.

    Determinism: per-group Σx and Σx² are EXACT integers (2 dp money →
    cents; cents² ≤ 2.5e15 < 2^53 so even the squares are
    exactly-representable; sums go through decimal(38,0)); the float
    work is five well-separated per-group s²/m terms plus two global
    divisions, and the 6 dp rounding leaves rule-3 headroom.

    Scale shape: one shuffle on the factor (map-side combinable sums),
    then a ~#levels-row reduction — no second data pass, no window."""
    t = load_tables(spark, sf_dir)
    cents_col = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    x = t["orders"].select(
        F.col("o_orderpriority").alias("grp"), cents_col.alias("cents")
    )
    g = x.groupBy("grp").agg(
        F.sum(F.col("cents").cast("decimal(38,0)"))
        .cast("double")
        .alias("s"),
        F.sum((F.col("cents") * F.col("cents")).cast("decimal(38,0)"))
        .cast("double")
        .alias("q"),
        F.count("*").alias("m"),
    )
    tot = g.agg(
        F.sum("s").alias("st"),
        F.sum("q").alias("qt"),
        F.sum("m").cast("bigint").alias("n"),
        F.sum(F.col("s") * F.col("s") / F.col("m")).alias("ssb_raw"),
    )
    ss_mean = F.col("st") * F.col("st") / F.col("n")
    eta2 = (F.col("ssb_raw") - ss_mean) / (F.col("qt") - ss_mean)
    return tot.select(
        F.round(eta2, 6).alias("eta2"),
        F.round(F.sqrt(eta2), 6).alias("eta"),
        F.col("n").alias("n_rows"),
    )


def _tanh_via_exp(u):
    """tanh spelled as (e^{2u}-1)/(e^{2u}+1) — the SAME expression tree
    the oracle uses, because this DuckDB build ships no tanh/atanh.
    Writing the identical ln/exp formula on both engines keeps the two
    float evaluations in lockstep (same IEEE ops on the same rounded
    inputs), so the 6 dp output rounding has full rule-3 headroom."""
    e = F.exp(2 * u)
    return (e - 1) / (e + 1)


@query(
    "q_corr_ci",
    oracle="""
        WITH g AS (
            SELECT l_returnflag,
                   round(corr(l_quantity, l_extendedprice), 6) AS r,
                   CAST(count(*) AS BIGINT) AS n_pairs
            FROM lineitem GROUP BY 1
        ),
        f AS (
            SELECT l_returnflag, r, n_pairs,
                   0.5 * ln((1 + r) / (1 - r)) AS z,
                   1.96 / sqrt(n_pairs - 3) AS hw
            FROM g WHERE abs(r) < 1 AND n_pairs > 3
        )
        SELECT l_returnflag, r, n_pairs,
               round((exp(2 * (z - hw)) - 1) / (exp(2 * (z - hw)) + 1), 6)
                   AS ci_lo,
               round((exp(2 * (z + hw)) - 1) / (exp(2 * (z + hw)) + 1), 6)
                   AS ci_hi
        FROM f ORDER BY l_returnflag
    """,
    doc="Fisher-z 95% confidence interval around the per-group Pearson r "
    "— the uncertainty quantification a correlation API owes its users "
    "alongside the point estimate.",
)
def q_corr_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CI = tanh(atanh(r) ± 1.96/sqrt(n−3)), per l_returnflag group.

    Determinism: the nonlinear transform AMPLIFIES estimator noise
    (dz/dr = 1/(1−r²)), so it is fed the 6-dp-ROUNDED r — both engines
    round the same corr to the same decimal first, then run the
    identical ln/exp spelling (atanh as 0.5·ln((1+r)/(1−r)), tanh via
    _tanh_via_exp; this DuckDB build has neither tanh nor atanh), so
    only last-ulp libm noise reaches the final 6 dp rounding. Degenerate
    groups (|r| = 1 or n ≤ 3, where the CI is undefined) are filtered
    IDENTICALLY on both sides rather than emitting engine-specific
    NULL/NaN.

    Scale shape: one map-side-combinable corr aggregate per group (the
    q_agg_corr shuffle), then scalar math on the ~#groups-row result —
    the CI costs nothing over the correlation itself."""
    t = load_tables(spark, sf_dir)
    g = (
        t["lineitem"]
        .groupBy("l_returnflag")
        .agg(
            F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("r"),
            F.count("*").alias("n_pairs"),
        )
        .filter((F.abs(F.col("r")) < 1) & (F.col("n_pairs") > 3))
    )
    z = 0.5 * F.log((1 + F.col("r")) / (1 - F.col("r")))
    hw = F.lit(1.96) / F.sqrt(F.col("n_pairs") - 3)
    return g.select(
        "l_returnflag",
        "r",
        "n_pairs",
        F.round(_tanh_via_exp(z - hw), 6).alias("ci_lo"),
        F.round(_tanh_via_exp(z + hw), 6).alias("ci_hi"),
    ).orderBy("l_returnflag")


@query(
    "q_corr_pointbiserial",
    oracle="""
        SELECT l_linestatus,
               round(corr(CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END,
                          l_extendedprice), 6) AS r_pb,
               round(avg(CASE WHEN l_returnflag = 'R'
                              THEN l_extendedprice END), 6) AS mean_flagged,
               round(avg(CASE WHEN l_returnflag <> 'R'
                              THEN l_extendedprice END), 6) AS mean_rest,
               CAST(count(CASE WHEN l_returnflag = 'R' THEN 1 END)
                    AS BIGINT) AS n_flagged,
               CAST(count(CASE WHEN l_returnflag <> 'R' THEN 1 END)
                    AS BIGINT) AS n_rest
        FROM lineitem
        GROUP BY l_linestatus
        ORDER BY l_linestatus
    """,
    doc="Point-biserial correlation (binary × numeric): returned-flag "
    "indicator vs extended price per linestatus — the dichotomous "
    "member of the correlation family.",
)
def q_corr_pointbiserial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r_pb is algebraically Pearson r with one variable coded {0,1},
    so it reuses the exact F.corr aggregate — no special estimator —
    plus the two class means and counts users read it with. The 0/1
    coding is spelled as the SAME CASE expression in both engines
    (exact doubles, no representation drift).

    Scale shape: single grouped aggregate, map-side combinable; the
    conditional means ride the same shuffle as the correlation."""
    t = load_tables(spark, sf_dir)
    ind = F.when(F.col("l_returnflag") == "R", 1.0).otherwise(0.0)
    flagged = F.col("l_returnflag") == "R"
    return (
        t["lineitem"]
        .groupBy("l_linestatus")
        .agg(
            F.round(F.corr(ind, F.col("l_extendedprice")), 6).alias("r_pb"),
            F.round(
                F.avg(F.when(flagged, F.col("l_extendedprice"))), 6
            ).alias("mean_flagged"),
            F.round(
                F.avg(F.when(~flagged, F.col("l_extendedprice"))), 6
            ).alias("mean_rest"),
            F.count(F.when(flagged, F.lit(1))).alias("n_flagged"),
            F.count(F.when(~flagged, F.lit(1))).alias("n_rest"),
        )
        .orderBy("l_linestatus")
    )


@query(
    "q_theil_u",
    oracle="""
        WITH base AS (
            SELECT o_orderpriority AS a, o_orderstatus AS b FROM orders
        ),
        cont AS (
            SELECT a, b, CAST(count(*) AS BIGINT) AS o
            FROM base GROUP BY 1, 2
        ),
        rt AS (SELECT a, CAST(count(*) AS BIGINT) AS ra FROM base GROUP BY 1),
        ct AS (SELECT b, CAST(count(*) AS BIGINT) AS cb FROM base GROUP BY 1),
        tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
        ent AS (
            SELECT -sum((CAST(o AS DOUBLE) / n)
                        * ln(CAST(ra AS DOUBLE) / n)) AS h_a,
                   -sum((CAST(o AS DOUBLE) / n)
                        * ln(CAST(cb AS DOUBLE) / n)) AS h_b,
                   -sum((CAST(o AS DOUBLE) / n)
                        * ln(CAST(o AS DOUBLE) / cb)) AS h_a_given_b,
                   -sum((CAST(o AS DOUBLE) / n)
                        * ln(CAST(o AS DOUBLE) / ra)) AS h_b_given_a,
                   any_value(n) AS n_rows
            FROM cont JOIN rt USING (a) JOIN ct USING (b) CROSS JOIN tot
        )
        SELECT round((h_a - h_a_given_b) / h_a, 6) AS u_a_given_b,
               round((h_b - h_b_given_a) / h_b, 6) AS u_b_given_a,
               round(h_a, 6) AS h_a,
               round(h_b, 6) AS h_b,
               n_rows
        FROM ent
    """,
    doc="Theil's uncertainty coefficient U between two categoricals "
    "(order priority x order status) - the ASYMMETRIC companion to "
    "Cramer's V: how much knowing one factor reduces entropy in the "
    "other, per direction.",
)
def q_theil_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U(a|b) = (H(a) - H(a|b)) / H(a), both directions. Unlike
    Cramer's V this is directional: U(a|b) != U(b|a) unless the table
    is symmetric - exactly the diagnostic a correlation surface needs
    to say WHICH factor predicts which.

    All four entropies come from ONE aggregate over the joined cell
    table: H(a) = -SUM_cells (o/n)*ln(ra/n) is exactly the marginal
    entropy because SUM_b o = ra as exact integers - no separate
    marginal-entropy frames, no extra 1-row exchanges (a first draft
    with per-marginal aggregate frames planned 6 single-partition
    exchanges; this form plans 2, both 1-row by design).

    Determinism: every ln argument is a ratio of EXACT int64 counts
    (o, ra, cb, n), so both engines evaluate identical ln inputs; the
    <= r*c ~ 15-term sums differ only in accumulation order (~1e-16),
    absorbed by 6 dp rounding (numerics.py rule 3).

    Scale shape: identical to q_corr_cramer - contingency + two
    marginal aggregates over one scan (category-sized shuffles,
    broadcast back), then a driver-free reduction over r*c cells."""
    t = load_tables(spark, sf_dir)
    base = t["orders"].select(
        F.col("o_orderpriority").alias("a"), F.col("o_orderstatus").alias("b")
    )
    cont = base.groupBy("a", "b").agg(F.count("*").alias("o"))
    rt = base.groupBy("a").agg(F.count("*").alias("ra"))
    ct = base.groupBy("b").agg(F.count("*").alias("cb"))
    tot = base.agg(F.count("*").alias("n"))

    po = F.col("o").cast("double") / F.col("n")
    ent = (
        cont.join(F.broadcast(rt), "a")
        .join(F.broadcast(ct), "b")
        .crossJoin(F.broadcast(tot))
        .agg(
            (-F.sum(po * F.log(F.col("ra").cast("double") / F.col("n"))))
            .alias("h_a"),
            (-F.sum(po * F.log(F.col("cb").cast("double") / F.col("n"))))
            .alias("h_b"),
            (-F.sum(po * F.log(F.col("o").cast("double") / F.col("cb"))))
            .alias("h_a_given_b"),
            (-F.sum(po * F.log(F.col("o").cast("double") / F.col("ra"))))
            .alias("h_b_given_a"),
            F.any_value("n").alias("n_rows"),
        )
    )
    return ent.select(
        F.round(
            (F.col("h_a") - F.col("h_a_given_b")) / F.col("h_a"), 6
        ).alias("u_a_given_b"),
        F.round(
            (F.col("h_b") - F.col("h_b_given_a")) / F.col("h_b"), 6
        ).alias("u_b_given_a"),
        F.round("h_a", 6).alias("h_a"),
        F.round("h_b", 6).alias("h_b"),
        "n_rows",
    )


@query(
    "q_mutual_info",
    oracle="""
        WITH base AS (
            SELECT CAST(floor((l_quantity - 1) / 10) AS BIGINT) AS qa,
                   CAST(round(l_discount * 100) AS BIGINT) AS da
            FROM lineitem
        ),
        cont AS (
            SELECT qa, da, CAST(count(*) AS BIGINT) AS o
            FROM base GROUP BY 1, 2
        ),
        rt AS (SELECT qa, CAST(count(*) AS BIGINT) AS ra FROM base GROUP BY 1),
        ct AS (SELECT da, CAST(count(*) AS BIGINT) AS cb FROM base GROUP BY 1),
        tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
        ent AS (
            SELECT sum((CAST(o AS DOUBLE) / n)
                       * ln(CAST(o AS DOUBLE) * n
                            / (CAST(ra AS DOUBLE) * cb))) AS mi_nats,
                   -sum((CAST(o AS DOUBLE) / n)
                        * ln(CAST(ra AS DOUBLE) / n)) AS h_q,
                   -sum((CAST(o AS DOUBLE) / n)
                        * ln(CAST(cb AS DOUBLE) / n)) AS h_d,
                   any_value(n) AS n_rows
            FROM cont JOIN rt USING (qa) JOIN ct USING (da) CROSS JOIN tot
        )
        SELECT round(mi_nats, 6) AS mi_nats,
               round(mi_nats / sqrt(h_q * h_d), 6) AS nmi,
               round(h_q, 6) AS h_q,
               round(h_d, 6) AS h_d,
               n_rows
        FROM ent
    """,
    doc="Binned mutual information between quantity and discount "
    "(nats, plus sqrt-normalized NMI) - the nonlinear-dependence "
    "measure Pearson cannot see.",
)
def q_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I(Q;D) = SUM p(q,d)*ln(p(q,d)/(p(q)p(d))) over explicit-constant
    bins: quantity (1..50) -> 5 deciles via floor((q-1)/10); discount
    (11 discrete cent values) -> round(d*100). Binning uses CONSTANT
    edges, not data-dependent quantiles, so both engines bucket
    identical doubles identically (a width_bucket-free spelling -
    this DuckDB build lacks it). NMI = I/sqrt(H(Q)H(D)) in [0,1].

    MI and both marginal entropies come from ONE aggregate over the
    joined cell table (H(Q) = -SUM_cells (o/n)*ln(ra/n), exact because
    SUM_d o = ra) - same single-reduction shape as q_theil_u.

    Determinism: each ln argument is o*n/(ra*cb) with all four factors
    exact int64 (each factor < 2^53 so the doubles are exact; the
    division is one float op); the <= 55 cell terms differ only in sum
    order, absorbed by 6 dp rounding.

    Scale shape: same contingency skeleton as q_corr_cramer/q_theil_u -
    one scan, category-sized map-side-combinable shuffles, broadcast
    marginals, driver-free reduction."""
    t = load_tables(spark, sf_dir)
    base = t["lineitem"].select(
        F.floor((F.col("l_quantity") - 1) / 10).cast("bigint").alias("qa"),
        F.round(F.col("l_discount") * 100, 0).cast("bigint").alias("da"),
    )
    cont = base.groupBy("qa", "da").agg(F.count("*").alias("o"))
    rt = base.groupBy("qa").agg(F.count("*").alias("ra"))
    ct = base.groupBy("da").agg(F.count("*").alias("cb"))
    tot = base.agg(F.count("*").alias("n"))

    po = F.col("o").cast("double") / F.col("n")
    ratio = (
        F.col("o").cast("double")
        * F.col("n")
        / (F.col("ra").cast("double") * F.col("cb"))
    )
    ent = (
        cont.join(F.broadcast(rt), "qa")
        .join(F.broadcast(ct), "da")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.sum(po * F.log(ratio)).alias("mi_nats"),
            (-F.sum(po * F.log(F.col("ra").cast("double") / F.col("n"))))
            .alias("h_q"),
            (-F.sum(po * F.log(F.col("cb").cast("double") / F.col("n"))))
            .alias("h_d"),
            F.any_value("n").alias("n_rows"),
        )
    )
    return ent.select(
        F.round("mi_nats", 6).alias("mi_nats"),
        F.round(
            F.col("mi_nats") / F.sqrt(F.col("h_q") * F.col("h_d")), 6
        ).alias("nmi"),
        F.round("h_q", 6).alias("h_q"),
        F.round("h_d", 6).alias("h_d"),
        "n_rows",
    )


@query(
    "q_agg_moments",
    oracle="""
        WITH x AS (
            SELECT l_returnflag,
                   CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
            FROM lineitem
        ),
        s AS (
            SELECT l_returnflag,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CAST(cents AS HUGEINT)) AS DOUBLE) AS s1,
                   CAST(sum(CAST(cents AS HUGEINT) * cents) AS DOUBLE) AS s2,
                   CAST(sum(CAST(cents AS HUGEINT) * cents * cents)
                        AS DOUBLE) AS s3,
                   CAST(sum(CAST(cents AS HUGEINT) * cents * cents * cents)
                        AS DOUBLE) AS s4
            FROM x GROUP BY 1
        ),
        m AS (
            SELECT l_returnflag, n,
                   s1 / n AS mu,
                   s2 / n - (s1 / n) * (s1 / n) AS m2,
                   s3 / n - 3 * (s1 / n) * (s2 / n)
                          + 2 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
                   s4 / n - 4 * (s1 / n) * (s3 / n)
                          + 6 * (s1 / n) * (s1 / n) * (s2 / n)
                          - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n)
                       AS m4
            FROM s
        )
        SELECT l_returnflag,
               round(mu / 100, 6) AS mean_price,
               round(m3 / power(m2, 1.5), 6) AS skewness,
               round(m4 / (m2 * m2) - 3, 6) AS kurtosis_excess,
               n AS n_rows
        FROM m ORDER BY l_returnflag
    """,
    doc="Higher-moment statistics from EXACT integer power sums: "
    "per-group skewness and excess kurtosis of extended price — the "
    "distribution-shape profile beyond mean/stddev.",
)
def q_agg_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewness m3/m2^1.5 and excess kurtosis m4/m2²−3 from raw power
    sums Σx..Σx⁴ kept EXACT end-to-end: 2-dp money → int cents, powers
    accumulated in decimal(38,0) (Spark) / HUGEINT (DuckDB) — cents⁴ ≤
    ~6e30 and the sums stay ≪ 1e38, so both engines hand the SAME exact
    integers to the float stage (good to ~1e10 rows/group before the
    38-digit ceiling; shard the sum by subgroup beyond that). The
    central-moment expansion is spelled with the IDENTICAL expression
    tree in both engines, so the (mathematically cancellation-prone)
    float arithmetic runs in lockstep and 6 dp rounding has ≥1e8×
    headroom over the ~1e-14 relative drift.

    Scale shape: ONE map-side-combinable grouped aggregate — the four
    power sums ride the same shuffle as count/avg would; no second
    pass, no window, no mean-first two-phase plan."""
    t = load_tables(spark, sf_dir)
    c = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    x = t["lineitem"].select("l_returnflag", c.alias("cents"))
    cd = F.col("cents").cast("decimal(38,0)")
    s = x.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(cd).cast("double").alias("s1"),
        F.sum(cd * F.col("cents")).cast("double").alias("s2"),
        F.sum(cd * F.col("cents") * F.col("cents")).cast("double").alias("s3"),
        F.sum(cd * F.col("cents") * F.col("cents") * F.col("cents"))
        .cast("double")
        .alias("s4"),
    )
    n = F.col("n")
    mu = F.col("s1") / n
    m2 = F.col("s2") / n - mu * mu
    m3 = F.col("s3") / n - 3 * mu * (F.col("s2") / n) + 2 * mu * mu * mu
    m4 = (
        F.col("s4") / n
        - 4 * mu * (F.col("s3") / n)
        + 6 * mu * mu * (F.col("s2") / n)
        - 3 * mu * mu * mu * mu
    )
    return s.select(
        "l_returnflag",
        F.round(mu / 100, 6).alias("mean_price"),
        F.round(m3 / F.pow(m2, 1.5), 6).alias("skewness"),
        F.round(m4 / (m2 * m2) - 3, 6).alias("kurtosis_excess"),
        F.col("n").alias("n_rows"),
    ).orderBy("l_returnflag")


@query(
    "q_agg_gini",
    oracle="""
        WITH x AS (
            SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
            FROM orders
        ),
        r AS (
            SELECT cents,
                   2 * rank() OVER (ORDER BY cents)
                     + count(*) OVER (PARTITION BY cents) - 1 AS r2
            FROM x
        ),
        s AS (
            SELECT sum(CAST(cents AS HUGEINT) * r2) AS t,
                   sum(CAST(cents AS HUGEINT)) AS sc,
                   CAST(count(*) AS BIGINT) AS n
            FROM r
        )
        SELECT round(CAST(t - (n + 1) * sc AS DOUBLE)
                     / CAST(n * sc AS DOUBLE), 6) AS gini,
               n AS n_rows
        FROM s
    """,
    doc="Gini coefficient of the order-value distribution — the "
    "inequality/concentration measure, computed sort-free via the "
    "range-partitioned average-rank table.",
)
def q_agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G = (2·Σrᵢxᵢ − (n+1)·Σx) / (n·Σx) over values ranked ascending.
    The rank-weighted sum is TIE-INVARIANT (equal values commute inside
    Σ i·xᵢ), so average ranks give the identical total — which lets the
    ranks come from avg_rank_table's range-partitioned two-pass plan
    instead of a global single-partition sort (the Spearman scale path;
    the oracle spells the same algebra with its rank()+ties window).

    Determinism: 2·avg_rank = 2·rank + ties − 1 is an exact integer
    (recovered exactly from the half-integer double, values ≪ 2^53);
    Σ cents·r2 and (n+1)·Σcents accumulate in decimal(38,0)/HUGEINT —
    EXACT at any SF (≤ ~1e38) — leaving ONE float division for the
    whole statistic.

    Scale shape: distinct-value aggregate + range-partitioned running
    counts + broadcast join-back (no full sort), then one
    map-side-combinable global sum."""
    t = load_tables(spark, sf_dir)
    x = t["orders"].select(
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents")
    )
    ranks = avg_rank_table(x, "cents", "ar")
    r2 = F.round(F.col("ar") * 2, 0).cast("long")
    joined = x.join(ranks, "cents")
    s = joined.agg(
        F.sum(F.col("cents").cast("decimal(38,0)") * r2).alias("t"),
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("sc"),
        F.count("*").alias("n"),
    )
    return s.select(
        F.round(
            (F.col("t") - (F.col("n") + 1) * F.col("sc")).cast("double")
            / (F.col("n") * F.col("sc")).cast("double"),
            6,
        ).alias("gini"),
        F.col("n").alias("n_rows"),
    )


def _exact_mean_micro(col):
    """Cross-engine-deterministic group mean: quantize to EXACT integer
    micro-units first (round(x*1e6) — identical on both engines since
    the input doubles are bit-identical), sum exactly (decimal(38,0) /
    HUGEINT — order-free), then ONE float division sequence. A plain
    round(avg(x),6) is NOT stable cross-engine: float sums accumulate
    in different orders, and a group mean landing on a .5e-6 boundary
    rounds differently (bit us at sf0.1 hour grain: 43.4728125 →
    …12 vs …13). The oracle spells the identical formula."""
    m = F.round(col * 1000000, 0).cast("long")
    return F.round(
        (F.sum(m.cast("decimal(38,0)")).cast("double") / 1000000)
        / F.count(col),
        6,
    )


@query(
    "q_ts_ewma",
    oracle="""
        WITH daily AS (
            SELECT date_trunc('day', ts) AS d,
                   round((CAST(sum(CAST(round(value * 1000000) AS BIGINT))
                               AS DOUBLE) / 1000000) / count(value), 6) AS v
            FROM events GROUP BY 1
        ),
        numbered AS (
            SELECT d, v, row_number() OVER (ORDER BY d) AS rn FROM daily
        )
        SELECT t.d, t.v,
               round(sum(j.v * power(0.7, t.rn - j.rn))
                     / sum(power(0.7, t.rn - j.rn)), 6) AS ewma,
               CAST(count(*) AS BIGINT) AS n_terms
        FROM numbered t
        JOIN numbered j ON j.rn BETWEEN t.rn - 59 AND t.rn
        GROUP BY t.d, t.v
        ORDER BY t.d
    """,
    doc="Exponentially-weighted moving average (alpha=0.3, 60-day "
    "horizon) of the daily event-value series — the smoother that "
    "weights recency, companion to the flat rolling window.",
)
def q_ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjusted EWMA_t = Σ_{k≤59} (1−α)^k·x_{t−k} / Σ (1−α)^k (the
    pandas adjust=True form, truncated at 60 days where the weight is
    0.7^59 ≈ 7e-10 — sub-rounding-threshold, so the truncation is
    semantically free and spelled identically in the oracle).

    Spelled as a 60-wide BAND SELF-JOIN on row offsets rather than the
    recursive update: the recursion is order-serial (unparallelizable),
    and the closed form can't ride a plain window sum because the
    weight depends on (t−i) — factoring 0.7^{−i} out overflows doubles
    past ~1900 rows. The band join keeps every term's exponent ≤ 59.

    Determinism: weights are power(0.7, k) for exact int k — same libm
    call both engines, last-ulp noise only; the ≤60-term sums differ in
    accumulation order (~1e-15), absorbed by 6 dp rounding.

    Scale shape: the raw scan shrinks to DAY GRAIN first (time-domain
    sized — ~#days rows at ANY data SF), so the 60× band join and the
    row_number window run on a tiny series; at 100 TB only the first
    aggregate touches the data."""
    t = load_tables(spark, sf_dir)
    daily = (
        t["events"]
        .groupBy(F.date_trunc("day", F.col("ts")).alias("d"))
        .agg(_exact_mean_micro(F.col("value")).alias("v"))
    )
    numbered = daily.select(
        "d", "v", F.row_number().over(Window.orderBy("d")).alias("rn")
    )
    tt = numbered.alias("t")
    jj = numbered.alias("j")
    w = F.pow(F.lit(0.7), F.col("t.rn") - F.col("j.rn"))
    return (
        tt.join(
            jj,
            (F.col("j.rn") >= F.col("t.rn") - 59)
            & (F.col("j.rn") <= F.col("t.rn")),
        )
        .groupBy(F.col("t.d").alias("d"), F.col("t.v").alias("v"))
        .agg(
            F.round(F.sum(F.col("j.v") * w) / F.sum(w), 6).alias("ewma"),
            F.count("*").alias("n_terms"),
        )
        .orderBy("d")
    )


@query(
    "q_ts_fill_grouped",
    oracle="""
        WITH hourly AS (
            SELECT event_type, date_trunc('hour', ts) AS hr,
                   round((CAST(sum(CAST(round(value * 1000000) AS BIGINT))
                               AS DOUBLE) / 1000000) / count(value), 6) AS v
            FROM events GROUP BY 1, 2
        ),
        rng AS (SELECT min(hr) AS lo, max(hr) AS hi FROM hourly),
        spine AS (
            SELECT t.event_type,
                   unnest(generate_series(rng.lo, rng.hi,
                                          INTERVAL 1 HOUR)) AS hr
            FROM (SELECT DISTINCT event_type FROM hourly) t CROSS JOIN rng
        )
        SELECT s.event_type, s.hr,
               last_value(h.v IGNORE NULLS)
                 OVER (PARTITION BY s.event_type ORDER BY s.hr
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS v_filled,
               h.v IS NULL AS gap_filled
        FROM spine s
        LEFT JOIN hourly h
          ON h.event_type = s.event_type AND h.hr = s.hr
    """,
    doc="GROUPED series alignment: per-event-type hourly resample onto "
    "a shared spine with forward-fill — the multi-series preparation "
    "step before any cross-series correlation (all series must share "
    "one clock).",
)
def q_ts_fill_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_ts_resample's single-series spine generalized to per-key
    series: every event type is aligned onto the SAME global hourly
    clock (distinct types × sequence(min,max)), missing hours are
    forward-filled per type, and the gap flag records which points are
    synthetic. Cross-series correlation (q_stream_corr's click-vs-
    purchase shape) silently misaligns without this step — at hour
    grain the fixture really has gaps (sparse types miss hours), so
    the fill path is exercised, not vacuous. Hours before a type's
    first observation stay NULL on both engines (IGNORE NULLS window
    semantics agree).

    Scale shape: the raw scan shrinks to (type × hour) grain FIRST —
    time-domain sized at any SF; the spine is a 1-row min/max aggregate
    crossed with the distinct-type table (both broadcast), and the
    forward-fill window partitions BY TYPE — parallel across series,
    never a single-partition global window."""
    t = load_tables(spark, sf_dir)
    hourly = (
        t["events"]
        .groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("hr")
        )
        .agg(_exact_mean_micro(F.col("value")).alias("v"))
    )
    rng = hourly.agg(F.min("hr").alias("lo"), F.max("hr").alias("hi"))
    types = hourly.select("event_type").distinct()
    spine = types.crossJoin(F.broadcast(rng)).select(
        "event_type",
        F.explode(
            F.sequence("lo", "hi", F.expr("interval 1 hour"))
        ).alias("hr"),
    )
    joined = spine.join(hourly, ["event_type", "hr"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "event_type",
        "hr",
        F.last("v", ignorenulls=True).over(w).alias("v_filled"),
        F.col("v").isNull().alias("gap_filled"),
    )


@query(
    "q_corr_weighted",
    oracle="""
        WITH x AS (
            SELECT l_returnflag,
                   CAST(round(l_quantity) AS BIGINT) AS w,
                   CAST(round(l_extendedprice * 100) AS BIGINT) AS xc,
                   CAST(round(l_discount * 100) AS BIGINT) AS yc
            FROM lineitem
        ),
        s AS (
            SELECT l_returnflag,
                   CAST(sum(CAST(w AS HUGEINT)) AS DOUBLE) AS sw,
                   CAST(sum(CAST(w AS HUGEINT) * xc) AS DOUBLE) AS swx,
                   CAST(sum(CAST(w AS HUGEINT) * yc) AS DOUBLE) AS swy,
                   CAST(sum(CAST(w AS HUGEINT) * xc * yc) AS DOUBLE) AS swxy,
                   CAST(sum(CAST(w AS HUGEINT) * xc * xc) AS DOUBLE) AS swxx,
                   CAST(sum(CAST(w AS HUGEINT) * yc * yc) AS DOUBLE) AS swyy,
                   CAST(count(*) AS BIGINT) AS n_rows
            FROM x GROUP BY 1
        )
        SELECT l_returnflag,
               round((swxy / sw - (swx / sw) * (swy / sw))
                     / (sqrt(swxx / sw - (swx / sw) * (swx / sw))
                        * sqrt(swyy / sw - (swy / sw) * (swy / sw))), 6)
                   AS wcorr,
               round(swxy / sw - (swx / sw) * (swy / sw), 6) AS wcov,
               n_rows
        FROM s ORDER BY l_returnflag
    """,
    doc="Quantity-weighted Pearson correlation between price and "
    "discount per returnflag — frequency-weighted moments from EXACT "
    "integer sums (w, x, y all quantized), one shuffle.",
)
def q_corr_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted Pearson r_w = cov_w(x,y)/(σ_w(x)·σ_w(y)) with frequency
    weights: every moment is a ratio of weighted raw sums. All five
    sums are EXACT integers (quantity is integral; price/discount are
    2-dp money → cents; per-row w·x·y ≤ 50·5e7·10 ≈ 2.5e10 and the
    decimal(38,0)/HUGEINT accumulators are order-free), so both engines
    run the identical float formula on identical inputs — the same
    numerics discipline as q_agg_moments.

    Scale shape: ONE map-side-combinable grouped aggregate; the
    weighted family costs exactly what the unweighted F.corr costs."""
    t = load_tables(spark, sf_dir)
    x = t["lineitem"].select(
        "l_returnflag",
        F.round(F.col("l_quantity"), 0).cast("long").alias("w"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("xc"),
        F.round(F.col("l_discount") * 100, 0).cast("long").alias("yc"),
    )
    wd = F.col("w").cast("decimal(38,0)")
    s = x.groupBy("l_returnflag").agg(
        F.sum(wd).cast("double").alias("sw"),
        F.sum(wd * F.col("xc")).cast("double").alias("swx"),
        F.sum(wd * F.col("yc")).cast("double").alias("swy"),
        F.sum(wd * F.col("xc") * F.col("yc")).cast("double").alias("swxy"),
        F.sum(wd * F.col("xc") * F.col("xc")).cast("double").alias("swxx"),
        F.sum(wd * F.col("yc") * F.col("yc")).cast("double").alias("swyy"),
        F.count("*").alias("n_rows"),
    )
    sw = F.col("sw")
    mx, my = F.col("swx") / sw, F.col("swy") / sw
    cov = F.col("swxy") / sw - mx * my
    sx = F.sqrt(F.col("swxx") / sw - mx * mx)
    sy = F.sqrt(F.col("swyy") / sw - my * my)
    return s.select(
        "l_returnflag",
        F.round(cov / (sx * sy), 6).alias("wcorr"),
        F.round(cov, 6).alias("wcov"),
        "n_rows",
    ).orderBy("l_returnflag")


@query(
    "q_corr_distance",
    oracle="""
        WITH daily AS (
            SELECT date_trunc('day', ts) AS d,
                   round((CAST(sum(CAST(round(CASE WHEN event_type = 'click'
                                   THEN value END * 1000000) AS BIGINT))
                           AS DOUBLE) / 1000000)
                         / count(CASE WHEN event_type = 'click'
                                 THEN value END), 6) AS x,
                   round((CAST(sum(CAST(round(CASE WHEN event_type = 'purchase'
                                   THEN value END * 1000000) AS BIGINT))
                           AS DOUBLE) / 1000000)
                         / count(CASE WHEN event_type = 'purchase'
                                 THEN value END), 6) AS y
            FROM events GROUP BY 1
        ),
        series AS (
            SELECT d, x, y FROM daily WHERE x IS NOT NULL AND y IS NOT NULL
        ),
        pairs AS (
            SELECT i.d AS di, j.d AS dj,
                   abs(i.x - j.x) AS a, abs(i.y - j.y) AS b
            FROM series i CROSS JOIN series j
        ),
        centered AS (
            SELECT (a - avg(a) OVER (PARTITION BY di)
                      - avg(a) OVER (PARTITION BY dj)
                      + avg(a) OVER ()) AS ca,
                   (b - avg(b) OVER (PARTITION BY di)
                      - avg(b) OVER (PARTITION BY dj)
                      + avg(b) OVER ()) AS cb
            FROM pairs
        )
        SELECT round(CASE WHEN sum(ca * ca) * sum(cb * cb) > 0
                          THEN sqrt(sum(ca * cb)
                               / sqrt(sum(ca * ca) * sum(cb * cb)))
                     END, 6) AS dcor,
               CAST(sqrt(count(*)) AS BIGINT) AS n_days
        FROM centered
    """,
    doc="Distance correlation (Székely 2007) between the daily click "
    "and purchase series — detects NONLINEAR dependence Pearson "
    "misses; dcor = 0 iff independent.",
)
def q_corr_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dCor from the double-centered pairwise-distance matrices:
    A_ij = a_ij − ā_i· − ā_·j + ā_·· (same for B), dCov² = mean(A∘B),
    dCor = sqrt(dCov²/sqrt(dVar_x·dVar_y)). The V-statistic sum
    Σ A∘B is provably ≥ 0, so the sqrt is total.

    The O(n²) pair matrix is bounded by the TIME DOMAIN, not data size:
    the raw scan collapses to one row per day first (exact micro-unit
    conditional means — the q_ts_ewma discipline), so n = #days and the
    n² self-join is ~#days² rows at ANY data SF (the q_pacf/q_corr_xcorr
    precedent). Double-centering is spelled as the identical three
    window means in both engines; sums differ only in accumulation
    order (~1e-15), absorbed by 6 dp rounding.

    Scale shape: one day-grain aggregate over the fact scan, then
    time-domain-sized windows — at 100 TB only the first aggregate
    touches data."""
    t = load_tables(spark, sf_dir)
    click_micro = F.round(
        F.when(F.col("event_type") == "click", F.col("value")) * 1000000, 0
    ).cast("long")
    purch_micro = F.round(
        F.when(F.col("event_type") == "purchase", F.col("value")) * 1000000, 0
    ).cast("long")
    daily = (
        t["events"]
        .groupBy(F.date_trunc("day", F.col("ts")).alias("d"))
        .agg(
            F.round(
                (F.sum(click_micro.cast("decimal(38,0)")).cast("double")
                 / 1000000)
                / F.count(F.when(F.col("event_type") == "click",
                                 F.col("value"))),
                6,
            ).alias("x"),
            F.round(
                (F.sum(purch_micro.cast("decimal(38,0)")).cast("double")
                 / 1000000)
                / F.count(F.when(F.col("event_type") == "purchase",
                                 F.col("value"))),
                6,
            ).alias("y"),
        )
        .filter(F.col("x").isNotNull() & F.col("y").isNotNull())
    )
    i = daily.alias("i")
    j = daily.alias("j")
    pairs = i.crossJoin(F.broadcast(j)).select(
        F.col("i.d").alias("di"),
        F.col("j.d").alias("dj"),
        F.abs(F.col("i.x") - F.col("j.x")).alias("a"),
        F.abs(F.col("i.y") - F.col("j.y")).alias("b"),
    )
    wi = Window.partitionBy("di")
    wj = Window.partitionBy("dj")
    wall = Window.partitionBy()
    centered = pairs.select(
        (F.col("a") - F.avg("a").over(wi) - F.avg("a").over(wj)
         + F.avg("a").over(wall)).alias("ca"),
        (F.col("b") - F.avg("b").over(wi) - F.avg("b").over(wj)
         + F.avg("b").over(wall)).alias("cb"),
    )
    num = F.sum(F.col("ca") * F.col("cb"))
    den = F.sum(F.col("ca") * F.col("ca")) * F.sum(F.col("cb") * F.col("cb"))
    return centered.agg(
        F.round(
            F.when(den > 0, F.sqrt(num / F.sqrt(den))), 6
        ).alias("dcor"),
        F.sqrt(F.count("*")).cast("bigint").alias("n_days"),
    )


def two_sample_stats(data: DataFrame) -> DataFrame:
    """Shared two-sample engine: exact KS and tie-corrected
    Mann-Whitney from ONE pass over a frame with columns
    ``(g ∈ {'A','B'}, cents)`` (integer-quantized values, group A is
    the "sample 1" of the statistics).

    Returns a 1-row DataFrame with ks_d, ks_stat, u1, u2, z, n1, n2.
    All counts, cumulative counts, rank sums and tie terms are exact
    integers (decimal(38,0) accumulators); the only float work is the
    final statistic expressions — the q_ks_test / q_mannwhitney keys
    and api.compare() all consume this one engine.

    Scale shape: one conditional-count shuffle to the distinct-value
    grain, ONE ordering.global_running_sums range shuffle for both
    ECDF counts (the checkpoint pin truncates lineage, so chained
    single-value calls could never dedupe their exchanges — that is
    why the plural helper exists), then a single driver-free
    reduction shared by every statistic."""
    from ..ordering import global_running_sums

    pv = data.groupBy("cents").agg(
        F.count(F.when(F.col("g") == "A", 1)).alias("c1"),
        F.count(F.when(F.col("g") == "B", 1)).alias("c2"),
    )
    ct = F.col("c1") + F.col("c2")
    run = global_running_sums(
        pv.withColumn("ct", ct),
        [F.col("cents").asc()],
        [(F.col("c1"), "cum1"), (F.col("ct"), "cumt")],
    ).select(
        "c1",
        "c2",
        F.col("cum1").cast("bigint").alias("cum1"),
        F.col("cumt").cast("bigint").alias("cumt"),
    )
    tot = pv.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("c2").cast("bigint").alias("n2"),
    )
    ctr = F.col("c1") + F.col("c2")
    r2v = 2 * (F.col("cumt") - ctr) + ctr + 1  # 2·avg_rank, exact int
    s = run.crossJoin(F.broadcast(tot)).agg(
        F.max(
            F.abs(
                F.col("cum1") * F.col("n2")
                - (F.col("cumt") - F.col("cum1")) * F.col("n1")
            )
        ).alias("dmax"),
        F.sum(F.col("c1").cast("decimal(38,0)") * r2v).alias("r1x2"),
        F.sum(ctr.cast("decimal(38,0)") * ctr * ctr - ctr).alias("ties"),
        F.any_value("n1").alias("n1"),
        F.any_value("n2").alias("n2"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    n = n1 + n2
    # NULL, not an ANSI DIVIDE_BY_ZERO throw, on degenerate inputs (an
    # empty sample or an all-tied pool) — the _guarded_corr convention;
    # the declared fixture keys never hit these branches
    ok = (n1 > 0) & (n2 > 0)
    d = F.when(ok, F.col("dmax").cast("double") / (n1 * n2))
    u1x2 = F.col("r1x2") - n1.cast("decimal(38,0)") * (n1 + 1)
    u1 = F.when(ok, u1x2.cast("double") / 2)
    var = F.when(
        ok & (n > 1),
        n1.cast("double") * n2 / 12
        * (
            (n + 1)
            - F.col("ties").cast("double") / (n.cast("double") * (n - 1))
        ),
    )
    return s.select(
        F.round(d, 6).alias("ks_d"),
        F.round(
            d * F.sqrt(n1.cast("double") * n2 / (n1 + n2)), 6
        ).alias("ks_stat"),
        F.round(u1, 1).alias("u1"),
        F.round(
            F.when(
                ok,
                (n1.cast("decimal(38,0)") * n2 * 2 - u1x2).cast("double") / 2,
            ),
            1,
        ).alias("u2"),
        F.round(
            F.when(var > 0, (u1 - n1.cast("double") * n2 / 2) / F.sqrt(var)),
            6,
        ).alias("z"),
        n1.alias("n1"),
        n2.alias("n2"),
    )


def _orders_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return (
        t["orders"]
        .filter(F.col("o_orderstatus").isin("F", "O"))
        .select(
            F.when(F.col("o_orderstatus") == "F", "A").otherwise("B")
            .alias("g"),
            F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        )
    )


@query(
    "q_ks_test",
    oracle="""
        WITH x AS (
            SELECT o_orderstatus AS g,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS cents
            FROM orders WHERE o_orderstatus IN ('F', 'O')
        ),
        pv AS (
            SELECT cents,
                   CAST(count(*) FILTER (WHERE g = 'F') AS BIGINT) AS c1,
                   CAST(count(*) FILTER (WHERE g = 'O') AS BIGINT) AS c2
            FROM x GROUP BY 1
        ),
        run AS (
            SELECT cents,
                   CAST(sum(c1) OVER (ORDER BY cents
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS cum1,
                   CAST(sum(c2) OVER (ORDER BY cents
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS cum2
            FROM pv
        ),
        tot AS (
            SELECT CAST(sum(c1) AS BIGINT) AS n1,
                   CAST(sum(c2) AS BIGINT) AS n2
            FROM pv
        ),
        dev AS (
            SELECT max(abs(r.cum1 * t.n2 - r.cum2 * t.n1)) AS dmax,
                   any_value(t.n1) AS n1, any_value(t.n2) AS n2
            FROM run r CROSS JOIN tot t
        )
        SELECT round(CAST(dmax AS DOUBLE) / (n1 * n2), 6) AS ks_d,
               round(CAST(dmax AS DOUBLE) / (n1 * n2)
                     * sqrt(CAST(n1 AS DOUBLE) * n2 / (n1 + n2)), 6)
                   AS ks_stat,
               n1 AS n_f, n2 AS n_o
        FROM dev
    """,
    doc="Two-sample Kolmogorov-Smirnov: max ECDF gap between the F and "
    "O order-value distributions — EXACT via integer cross-"
    "multiplication (|cum1·n2 − cum2·n1|), one float division at the "
    "end.",
)
def q_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D = sup_v |F̂₁(v) − F̂₂(v)| over the pooled value domain. The
    supremum is attained at data points, so evaluating at every
    DISTINCT value is exact; the ECDF comparison is kept in integers —
    maximize |cum1·n2 − cum2·n1| and divide by n1·n2 ONCE — so both
    engines agree to the bit before the single rounding. ks_stat is
    the √(n1n2/(n1+n2))-scaled statistic consumers feed the Kolmogorov
    distribution. Engine and scale shape: two_sample_stats (one
    conditional-count shuffle, one range shuffle, one reduction)."""
    return two_sample_stats(_orders_two_sample(spark, sf_dir)).select(
        "ks_d",
        "ks_stat",
        F.col("n1").alias("n_f"),
        F.col("n2").alias("n_o"),
    )


@query(
    "q_mannwhitney",
    oracle="""
        WITH x AS (
            SELECT o_orderstatus AS g,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS cents
            FROM orders WHERE o_orderstatus IN ('F', 'O')
        ),
        pv AS (
            SELECT cents,
                   CAST(count(*) FILTER (WHERE g = 'F') AS BIGINT) AS c1,
                   CAST(count(*) FILTER (WHERE g = 'O') AS BIGINT) AS c2
            FROM x GROUP BY 1
        ),
        run AS (
            SELECT cents, c1, c2,
                   CAST(sum(c1 + c2) OVER (ORDER BY cents
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS cumt
            FROM pv
        ),
        s AS (
            SELECT sum(CAST(c1 AS HUGEINT)
                       * (2 * (cumt - (c1 + c2)) + (c1 + c2) + 1)) AS r1x2,
                   sum(CAST(c1 + c2 AS HUGEINT) * (c1 + c2) * (c1 + c2)
                       - (c1 + c2)) AS ties,
                   CAST(sum(c1) AS BIGINT) AS n1,
                   CAST(sum(c2) AS BIGINT) AS n2
            FROM run
        )
        SELECT round(CAST(r1x2 - CAST(n1 AS HUGEINT) * (n1 + 1) AS DOUBLE)
                     / 2, 1) AS u1,
               round(CAST(CAST(n1 AS HUGEINT) * n2 * 2
                          - (r1x2 - CAST(n1 AS HUGEINT) * (n1 + 1))
                          AS DOUBLE) / 2, 1) AS u2,
               round((CAST(r1x2 - CAST(n1 AS HUGEINT) * (n1 + 1) AS DOUBLE) / 2
                      - CAST(n1 AS DOUBLE) * n2 / 2)
                     / sqrt(CAST(n1 AS DOUBLE) * n2 / 12
                            * ((n1 + n2 + 1)
                               - CAST(ties AS DOUBLE)
                                 / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2 - 1)))),
                     6) AS z,
               n1 AS n_f, n2 AS n_o
        FROM s
    """,
    doc="Mann-Whitney U (tie-corrected) between the F and O order-value "
    "samples — rank-sum computed EXACTLY at the distinct-value grain, "
    "normal z with the tie-corrected variance.",
)
def q_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U₁ = R₁ − n₁(n₁+1)/2 where R₁ sums sample-1's average ranks over
    the POOLED ordering. Everything stays integer: at each distinct
    value, 2·avg_rank = 2·(excl_cum) + ct + 1, so 2R₁ = Σ c1·(…) is an
    exact decimal sum; the tie term Σ(t³−t) likewise. One float
    expression at the end produces U (exact .5 halves) and the
    tie-corrected z — identical spelling both engines. Engine and
    scale shape: two_sample_stats (shared with q_ks_test and
    api.compare)."""
    return two_sample_stats(_orders_two_sample(spark, sf_dir)).select(
        "u1",
        "u2",
        "z",
        F.col("n1").alias("n_f"),
        F.col("n2").alias("n_o"),
    )


@query(
    "q_ttest_welch",
    oracle="""
        WITH x AS (
            SELECT o_orderstatus AS g,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS cents
            FROM orders WHERE o_orderstatus IN ('F', 'O')
        ),
        a AS (
            SELECT CAST(count(*) FILTER (WHERE g = 'F') AS BIGINT) AS n1,
                   CAST(count(*) FILTER (WHERE g = 'O') AS BIGINT) AS n2,
                   CAST(sum(cents) FILTER (WHERE g = 'F') AS DOUBLE) AS s1,
                   CAST(sum(cents) FILTER (WHERE g = 'O') AS DOUBLE) AS s2,
                   CAST(sum(cents * cents) FILTER (WHERE g = 'F')
                        AS DOUBLE) AS q1,
                   CAST(sum(cents * cents) FILTER (WHERE g = 'O')
                        AS DOUBLE) AS q2
            FROM x
        ),
        b AS (
            SELECT n1, n2, s1 / n1 AS m1, s2 / n2 AS m2,
                   (q1 - s1 * s1 / n1) / (n1 - 1) AS v1,
                   (q2 - s2 * s2 / n2) / (n2 - 1) AS v2
            FROM a
        ),
        c AS (
            SELECT n1, n2, m1, m2, v1, v2,
                   v1 / n1 + v2 / n2 AS se2
            FROM b
        )
        SELECT round((m1 - m2) / sqrt(se2), 6) AS t,
               round(se2 * se2
                     / ((v1 / n1) * (v1 / n1) / (n1 - 1)
                        + (v2 / n2) * (v2 / n2) / (n2 - 1)), 4) AS df,
               round(m1 / 100, 6) AS mean_f,
               round(m2 / 100, 6) AS mean_o,
               n1 AS n_f, n2 AS n_o
        FROM c
    """,
    doc="Welch's unequal-variance t-test between the F and O "
    "order-value samples — the parametric mean-difference sibling of "
    "q_mannwhitney's rank test, with the Welch-Satterthwaite df; "
    "moments from exact integer-cents power sums in one pass.",
)
def q_ttest_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t = (m̄₁−m̄₂)/√(v₁/n₁+v₂/n₂), df by Welch-Satterthwaite — the
    default two-sample mean test (no equal-variance assumption).
    Determinism: n/Σx/Σx² per group are exact integers (decimal(38,0)
    accumulators ↔ DuckDB HUGEINT — both cast the SAME exact integer
    to double, giving identical bits); every later step is the
    identical IEEE expression chain on both engines, absorbed at
    6 dp (t, means) / 4 dp (df). Scale shape: ONE partial/final
    aggregate over the filtered scan — six conditional accumulators,
    no shuffle beyond the 1-row reduction; contrast q_mannwhitney,
    whose rank statistics need the distinct-value grain."""
    x = _orders_two_sample(spark, sf_dir)
    isf = F.col("g") == "A"
    iso = F.col("g") == "B"
    c = F.col("cents")
    a = x.agg(
        F.count(F.when(isf, 1)).alias("n1"),
        F.count(F.when(iso, 1)).alias("n2"),
        F.sum(F.when(isf, c).cast("decimal(38,0)")).cast("double").alias("s1"),
        F.sum(F.when(iso, c).cast("decimal(38,0)")).cast("double").alias("s2"),
        F.sum(F.when(isf, c * c).cast("decimal(38,0)"))
        .cast("double")
        .alias("q1"),
        F.sum(F.when(iso, c * c).cast("decimal(38,0)"))
        .cast("double")
        .alias("q2"),
    )
    b = a.selectExpr(
        "n1", "n2", "s1 / n1 AS m1", "s2 / n2 AS m2",
        "(q1 - s1 * s1 / n1) / (n1 - 1) AS v1",
        "(q2 - s2 * s2 / n2) / (n2 - 1) AS v2",
    )
    cc = b.selectExpr(
        "n1", "n2", "m1", "m2", "v1", "v2", "v1 / n1 + v2 / n2 AS se2"
    )
    return cc.selectExpr(
        "round((m1 - m2) / sqrt(se2), 6) AS t",
        "round(se2 * se2 / ((v1 / n1) * (v1 / n1) / (n1 - 1)"
        " + (v2 / n2) * (v2 / n2) / (n2 - 1)), 4) AS df",
        "round(m1 / 100, 6) AS mean_f",
        "round(m2 / 100, 6) AS mean_o",
        "n1 AS n_f", "n2 AS n_o",
    )


def drift_frame(
    data: DataFrame,
    ks: bool = True,
    psi: bool = True,
    js: bool = False,
) -> DataFrame:
    """Shared drift engine over a ``(d, v)`` frame (period, integer-
    quantized value): per-period exact KS distance, Laplace-smoothed
    PSI, and/or KL + Jensen-Shannon divergence vs the full-period
    reference. The q_drift_daily / q_drift_psi / q_drift_js keys and
    api.drift() all consume this one engine.

    The raw frame collapses to (period, value) CELLS once — pinned
    with materialize() because every downstream branch (domain table,
    period totals, bin counts, PSI range) re-consumes it, and the pin
    makes that one scan + one shuffle instead of one per consumer.
    After the cells aggregate, everything is bounded by time × value
    domain: the KS spine is #periods × #distinct-values with a
    per-period domain-sized window; PSI/KL/JS are #periods × 10 bins
    from pure integer binning (shared between the three — requesting
    psi AND js computes the bin table once).

    Returns (d, [ks_d], [psi], [kl], [js], n_period) ordered by d."""
    from ..ordering import global_running_sum

    cells = materialize(
        data.groupBy("d", "v").agg(F.count("*").alias("c"))
    )
    days = cells.groupBy("d").agg(F.sum("c").cast("bigint").alias("nd"))
    out = days

    if ks:
        dom = cells.groupBy("v").agg(F.sum("c").cast("bigint").alias("cg"))
        gcum = global_running_sum(
            dom, [F.col("v").asc()], F.col("cg"), "cumg"
        ).select("v", F.col("cumg").cast("bigint").alias("cumg"))
        tot = cells.agg(F.sum("c").cast("bigint").alias("n"))
        spine = gcum.crossJoin(F.broadcast(days))
        w = (
            Window.partitionBy("d")
            .orderBy("v")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        filled = (
            spine.join(cells, ["d", "v"], "left")
            .withColumn(
                "cumd",
                F.coalesce(F.sum("c").over(w), F.lit(0)).cast("bigint"),
            )
        )
        kdf = (
            filled.crossJoin(F.broadcast(tot))
            .groupBy("d")
            .agg(
                F.round(
                    F.max(
                        F.abs(
                            F.col("cumd") * F.col("n")
                            - F.col("cumg") * F.col("nd")
                        )
                    ).cast("double")
                    / (F.any_value("nd") * F.any_value("n")),
                    6,
                ).alias("ks_d")
            )
        )
        out = out.join(kdf, "d")

    if psi or js:
        rng = materialize(
            cells.agg(
                F.min("v").alias("lo"),
                F.max("v").alias("hi"),
                F.sum("c").cast("bigint").alias("n"),
            )
        )
        binned = cells.crossJoin(F.broadcast(rng)).select(
            "d",
            F.floor(
                ((F.col("v") - F.col("lo")) * 10).cast("double")
                / (F.col("hi") - F.col("lo") + 1)
            )
            .cast("bigint")
            .alias("b"),
            "c",
        )
        dayc = binned.groupBy("d", "b").agg(
            F.sum("c").cast("bigint").alias("cb")
        )
        refc = dayc.groupBy("b").agg(F.sum("cb").cast("bigint").alias("cg"))
        spine2 = refc.crossJoin(F.broadcast(days))
        joined = (
            spine2.join(dayc, ["d", "b"], "left")
            .crossJoin(F.broadcast(rng.select("n")))
        )
        p = (F.coalesce(F.col("cb"), F.lit(0)) + 1).cast("double") / (
            F.col("nd") + 10
        )
        q = (F.col("cg") + 1).cast("double") / (F.col("n") + 10)
        if psi:
            pdf = (
                joined.select("d", ((p - q) * F.log(p / q)).alias("term"))
                .groupBy("d")
                .agg(F.round(F.sum("term"), 6).alias("psi"))
            )
            out = out.join(pdf, "d")
        if js:
            # KL(p‖q) = Σ p·ln(p/q); JS = ½KL(p‖m) + ½KL(q‖m) with
            # m = (p+q)/2. Unlike PSI's industry "+10" smoothing, KL/JS
            # smooth by the OCCUPIED-bin count nb — (c+1)/(nd+nb) sums
            # to exactly 1 over the nb-bin spine, so p and q are true
            # distributions and Gibbs' inequality holds (KL ≥ 0,
            # 0 ≤ JS ≤ ln 2); with "+10" and nb < 10 KL goes negative.
            # Every ln argument is a ratio of exact-integer ratios, so
            # both engines evaluate the identical IEEE expression per
            # bin before the ≤10-term sum is absorbed at 6 dp.
            nb = F.broadcast(refc.agg(F.count("*").alias("nb")))
            joined_js = joined.crossJoin(nb)
            p_js = (F.coalesce(F.col("cb"), F.lit(0)) + 1).cast(
                "double"
            ) / (F.col("nd") + F.col("nb"))
            q_js = (F.col("cg") + 1).cast("double") / (
                F.col("n") + F.col("nb")
            )
            jdf = (
                joined_js.select(
                    "d",
                    (p_js * F.log(p_js / q_js)).alias("kl_term"),
                    (
                        F.lit(0.5)
                        * p_js
                        * F.log(F.lit(2.0) * p_js / (p_js + q_js))
                        + F.lit(0.5)
                        * q_js
                        * F.log(F.lit(2.0) * q_js / (p_js + q_js))
                    ).alias("js_term"),
                )
                .groupBy("d")
                .agg(
                    F.round(F.sum("kl_term"), 6).alias("kl"),
                    F.round(F.sum("js_term"), 6).alias("js"),
                )
            )
            out = out.join(jdf, "d")

    cols = ["d"]
    if ks:
        cols.append("ks_d")
    if psi:
        cols.append("psi")
    if js:
        cols.extend(["kl", "js"])
    return out.select(
        *cols, F.col("nd").alias("n_period")
    ).orderBy("d")


def _events_drift_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return t["events"].select(
        F.date_trunc("day", F.col("ts")).alias("d"),
        F.round(F.col("value") * 1000000, 0).cast("long").alias("v"),
    )


@query(
    "q_drift_daily",
    oracle="""
        WITH x AS (
            SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d,
                   CAST(round(value * 1000000) AS BIGINT) AS v
            FROM events
        ),
        cells AS (
            SELECT d, v, CAST(count(*) AS BIGINT) AS c FROM x GROUP BY 1, 2
        ),
        dom AS (
            SELECT v, CAST(count(*) AS BIGINT) AS cg FROM x GROUP BY 1
        ),
        gcum AS (
            SELECT v,
                   CAST(sum(cg) OVER (ORDER BY v
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS cumg
            FROM dom
        ),
        days AS (
            SELECT d, CAST(sum(c) AS BIGINT) AS nd FROM cells GROUP BY 1
        ),
        tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM x),
        spine AS (SELECT days.d, days.nd, gcum.v, gcum.cumg
                  FROM days CROSS JOIN gcum),
        filled AS (
            SELECT s.d, s.nd, s.v, s.cumg,
                   CAST(coalesce(sum(c.c) OVER (PARTITION BY s.d ORDER BY s.v
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                        0) AS BIGINT) AS cumd
            FROM spine s
            LEFT JOIN cells c ON c.d = s.d AND c.v = s.v
        )
        SELECT f.d,
               round(CAST(max(abs(f.cumd * t.n - f.cumg * f.nd)) AS DOUBLE)
                     / (any_value(f.nd) * any_value(t.n)), 6) AS ks_d,
               any_value(f.nd) AS n_day
        FROM filled f CROSS JOIN tot t
        GROUP BY f.d ORDER BY f.d
    """,
    doc="Distribution-drift monitor: per-day EXACT Kolmogorov-Smirnov "
    "distance between that day's event-value distribution and the "
    "full-period reference — the daily drift gauge a training-data "
    "pipeline alarms on.",
)
def q_drift_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D_day = sup_v |F̂_day(v) − F̂_ref(v)|, exactly: the sup is
    evaluated over the GLOBAL value domain — a day's ECDF is flat
    between its own jump points while the reference keeps rising, so
    restricting to day-present values would under-report drift. The
    day×domain spine with a per-day cumulative count gives F̂_day at
    every reference point; the comparison stays in integers
    (|cumd·N − cumg·nd|) with one division per day. Engine and scale
    shape: drift_frame (shared with q_drift_psi and api.drift)."""
    return drift_frame(
        _events_drift_frame(spark, sf_dir), ks=True, psi=False
    ).select("d", "ks_d", F.col("n_period").alias("n_day"))


@query(
    "q_drift_psi",
    oracle="""
        WITH x AS (
            SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d,
                   CAST(round(value * 1000000) AS BIGINT) AS v
            FROM events
        ),
        rng AS (SELECT min(v) AS lo, max(v) AS hi,
                       CAST(count(*) AS BIGINT) AS n FROM x),
        binned AS (
            SELECT x.d,
                   CAST(floor(CAST((x.v - rng.lo) * 10 AS DOUBLE)
                              / (rng.hi - rng.lo + 1)) AS BIGINT) AS b
            FROM x CROSS JOIN rng
        ),
        dayc AS (
            SELECT d, b, CAST(count(*) AS BIGINT) AS c
            FROM binned GROUP BY 1, 2
        ),
        refc AS (
            SELECT b, CAST(count(*) AS BIGINT) AS cg
            FROM binned GROUP BY 1
        ),
        days AS (SELECT d, CAST(sum(c) AS BIGINT) AS nd FROM dayc GROUP BY 1),
        spine AS (
            SELECT days.d, days.nd, refc.b, refc.cg FROM days CROSS JOIN refc
        ),
        terms AS (
            SELECT s.d, s.nd,
                   (CAST(coalesce(dc.c, 0) + 1 AS DOUBLE) / (s.nd + 10)
                    - CAST(s.cg + 1 AS DOUBLE) / (t.n + 10))
                   * ln((CAST(coalesce(dc.c, 0) + 1 AS DOUBLE) / (s.nd + 10))
                        / (CAST(s.cg + 1 AS DOUBLE) / (t.n + 10))) AS term
            FROM spine s
            LEFT JOIN dayc dc ON dc.d = s.d AND dc.b = s.b
            CROSS JOIN rng t
        )
        SELECT d, round(sum(term), 6) AS psi, any_value(nd) AS n_day
        FROM terms GROUP BY 1 ORDER BY 1
    """,
    doc="Population Stability Index per day vs the full-period "
    "reference, over 10 equal-width bins — the industry drift score "
    "(PSI > 0.2 = significant shift), Laplace-smoothed so empty bins "
    "stay finite.",
)
def q_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI_day = Σ_b (p_b − q_b)·ln(p_b/q_b) with add-one (Laplace)
    smoothing — p = (c+1)/(nd+10), q = (cg+1)/(N+10) — the standard
    guard that keeps empty bins finite while preserving exactness:
    every ln argument is a ratio of exact integers. Binning is pure
    integer arithmetic over the global [lo,hi] micro-unit range
    (floor((v−lo)·10/(hi−lo+1)) — products ≪ 2^53, so the float floor
    is the same on both engines), applied at the DISTINCT-VALUE grain
    (bin counts are sums of cell counts — identical integers to
    row-level binning, one less data pass). Complements q_drift_daily:
    KS is the sup-norm gauge, PSI the information-weighted gauge.
    Engine and scale shape: drift_frame (shared with q_drift_daily
    and api.drift)."""
    return drift_frame(
        _events_drift_frame(spark, sf_dir), ks=False, psi=True
    ).select("d", "psi", F.col("n_period").alias("n_day"))


@query(
    "q_drift_js",
    oracle="""
        WITH x AS (
            SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d,
                   CAST(round(value * 1000000) AS BIGINT) AS v
            FROM events
        ),
        rng AS (SELECT min(v) AS lo, max(v) AS hi,
                       CAST(count(*) AS BIGINT) AS n FROM x),
        binned AS (
            SELECT x.d,
                   CAST(floor(CAST((x.v - rng.lo) * 10 AS DOUBLE)
                              / (rng.hi - rng.lo + 1)) AS BIGINT) AS b
            FROM x CROSS JOIN rng
        ),
        dayc AS (
            SELECT d, b, CAST(count(*) AS BIGINT) AS c
            FROM binned GROUP BY 1, 2
        ),
        refc AS (
            SELECT b, CAST(count(*) AS BIGINT) AS cg
            FROM binned GROUP BY 1
        ),
        days AS (SELECT d, CAST(sum(c) AS BIGINT) AS nd FROM dayc GROUP BY 1),
        spine AS (
            SELECT days.d, days.nd, refc.b, refc.cg FROM days CROSS JOIN refc
        ),
        nb AS (SELECT CAST(count(*) AS BIGINT) AS nb FROM refc),
        pq AS (
            SELECT s.d, s.nd,
                   CAST(coalesce(dc.c, 0) + 1 AS DOUBLE)
                       / (s.nd + b.nb) AS p,
                   CAST(s.cg + 1 AS DOUBLE) / (t.n + b.nb) AS q
            FROM spine s
            LEFT JOIN dayc dc ON dc.d = s.d AND dc.b = s.b
            CROSS JOIN rng t CROSS JOIN nb b
        )
        SELECT d,
               round(sum(p * ln(p / q)), 6) AS kl,
               round(sum(0.5 * p * ln(2.0 * p / (p + q))
                         + 0.5 * q * ln(2.0 * q / (p + q))), 6) AS js,
               any_value(nd) AS n_day
        FROM pq GROUP BY 1 ORDER BY 1
    """,
    doc="Per-day KL and Jensen-Shannon divergence vs the full-period "
    "reference over the same 10 equal-width bins as PSI (normalizing "
    "add-one smoothing, so KL ≥ 0 and JS ≤ ln 2 hold exactly) — "
    "completing the drift-monitor family beside KS and PSI.",
)
def q_drift_js(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL(p‖q) = Σ p·ln(p/q); JS = ½KL(p‖m) + ½KL(q‖m), m=(p+q)/2 —
    over the same bin table q_drift_psi builds, but with NORMALIZING
    add-one smoothing (p=(c+1)/(nd+nb) day, q=(cg+1)/(N+nb) reference,
    nb = occupied-bin count): p and q then sum to exactly 1, so
    Gibbs' inequality holds (KL ≥ 0, 0 ≤ JS ≤ ln 2 — PSI's industry
    "+10" denominator loses both bounds whenever nb < 10). Smoothing
    keeps every ln finite; each bin term is the identical IEEE
    expression on both engines over exact integer ratios, absorbed at
    6 dp over ≤10 terms. Engine and scale shape: drift_frame (shared
    with q_drift_daily / q_drift_psi / api.drift)."""
    return drift_frame(
        _events_drift_frame(spark, sf_dir), ks=False, psi=False, js=True
    ).select("d", "kl", "js", F.col("n_period").alias("n_day"))


def _eta_1row(df: DataFrame, grp: str, val_cents: Column):
    """1-row (value) frame: correlation ratio η of ``val_cents`` (exact
    integer units) grouped by ``grp`` — q_corr_eta's algebra as a
    reusable building block for the mixed exhibit."""
    x = df.select(F.col(grp).alias("grp"), val_cents.alias("cents"))
    g = x.groupBy("grp").agg(
        F.sum(F.col("cents").cast("decimal(38,0)")).cast("double").alias("s"),
        F.sum((F.col("cents") * F.col("cents")).cast("decimal(38,0)"))
        .cast("double")
        .alias("q"),
        F.count("*").alias("m"),
    )
    tot = g.agg(
        F.sum("s").alias("st"),
        F.sum("q").alias("qt"),
        F.sum("m").cast("bigint").alias("n"),
        F.sum(F.col("s") * F.col("s") / F.col("m")).alias("ssb_raw"),
    )
    ss_mean = F.col("st") * F.col("st") / F.col("n")
    eta2 = (F.col("ssb_raw") - ss_mean) / (F.col("qt") - ss_mean)
    return tot.select(F.round(F.sqrt(eta2), 6).alias("value"))


_ETA_ORACLE_CTE = """
            SELECT round(sqrt((sum(s * s / m)
                               - sum(s) * sum(s) / sum(m))
                              / (sum(q) - sum(s) * sum(s) / sum(m))), 6)
                       AS value
            FROM (
                SELECT CAST(sum(CAST({cents} AS HUGEINT)) AS DOUBLE) AS s,
                       CAST(sum(CAST({cents} AS HUGEINT) * {cents})
                            AS DOUBLE) AS q,
                       CAST(count(*) AS BIGINT) AS m
                FROM lineitem GROUP BY {grp}
            )
"""


@query(
    "q_assoc_mixed",
    oracle=f"""
        WITH p1 AS (
            SELECT round(corr(l_quantity, l_extendedprice), 6) AS value
            FROM lineitem
        ),
        p2 AS (
            SELECT round(corr(l_quantity, l_discount), 6) AS value
            FROM lineitem
        ),
        base AS (
            SELECT l_returnflag AS a, l_linestatus AS b FROM lineitem
        ),
        cont AS (
            SELECT a, b, CAST(count(*) AS BIGINT) AS o
            FROM base GROUP BY 1, 2
        ),
        rt AS (SELECT a, CAST(count(*) AS BIGINT) AS ra FROM base GROUP BY 1),
        ct AS (SELECT b, CAST(count(*) AS BIGINT) AS cb FROM base GROUP BY 1),
        tot AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(count(DISTINCT a) AS BIGINT) AS r,
                   CAST(count(DISTINCT b) AS BIGINT) AS c
            FROM base
        ),
        cr AS (
            SELECT round(sqrt(sum(
                       CAST((cont.o * tot.n - rt.ra * ct.cb) AS DOUBLE)
                       * CAST((cont.o * tot.n - rt.ra * ct.cb) AS DOUBLE)
                       / (CAST(tot.n AS DOUBLE) * rt.ra * ct.cb)
                   ) / (CAST(any_value(tot.n) AS DOUBLE)
                        * least(any_value(tot.r) - 1, any_value(tot.c) - 1))
                   ), 6) AS value
            FROM cont JOIN rt USING (a) JOIN ct USING (b) CROSS JOIN tot
        ),
        e1 AS (
{_ETA_ORACLE_CTE.format(cents="CAST(round(l_extendedprice * 100) AS BIGINT)",
                        grp="l_returnflag")}
        ),
        e2 AS (
{_ETA_ORACLE_CTE.format(cents="CAST(round(l_quantity) AS BIGINT)",
                        grp="l_linestatus")}
        )
        SELECT 'l_quantity' AS var_a, 'l_extendedprice' AS var_b,
               'pearson' AS measure, value FROM p1
        UNION ALL
        SELECT 'l_quantity', 'l_discount', 'pearson', value FROM p2
        UNION ALL
        SELECT 'l_returnflag', 'l_linestatus', 'cramers_v', value FROM cr
        UNION ALL
        SELECT 'l_returnflag', 'l_extendedprice', 'eta', value FROM e1
        UNION ALL
        SELECT 'l_linestatus', 'l_quantity', 'eta', value FROM e2
        ORDER BY var_a, var_b
    """,
    doc="Mixed-type association exhibit: the TYPE-APPROPRIATE measure "
    "per pair in one result — Pearson for numeric×numeric, Cramér's V "
    "for categorical×categorical, correlation ratio η for mixed — the "
    "declared twin of api.mixed_matrix.",
)
def q_assoc_mixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One heterogeneous profile, five pairs, three estimators — each
    pair routed to the measure its types admit (Pearson is undefined
    for labels; V ignores ordering; η is the factor→numeric share of
    variance). Unioning the 1-row results keeps every family's exact
    algebra (F.corr; the integer contingency chi²; the exact-cents η
    sums), all rounded to 6 dp; the oracle mirrors each family's
    established CTE.

    Scale shape: each measure is the SAME map-side-combinable
    aggregate its dedicated key runs (q_agg_corr / q_corr_cramer /
    q_corr_eta); the union is five 1-row frames — at 100 TB this is k
    parallel reductions over shared scans, no new plan shapes."""
    t = load_tables(spark, sf_dir)
    li = t["lineitem"]
    p1 = li.agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("value")
    )
    p2 = li.agg(F.round(F.corr("l_quantity", "l_discount"), 6).alias("value"))

    base = li.select(
        F.col("l_returnflag").alias("a"), F.col("l_linestatus").alias("b")
    )
    cont = base.groupBy("a", "b").agg(F.count("*").alias("o"))
    rt = base.groupBy("a").agg(F.count("*").alias("ra"))
    ct = base.groupBy("b").agg(F.count("*").alias("cb"))
    tot = base.agg(
        F.count("*").alias("n"),
        F.countDistinct("a").alias("r"),
        F.countDistinct("b").alias("c"),
    )
    dev = (F.col("o") * F.col("n") - F.col("ra") * F.col("cb")).cast("double")
    term = dev * dev / (F.col("n").cast("double") * F.col("ra") * F.col("cb"))
    cr = (
        cont.join(F.broadcast(rt), "a")
        .join(F.broadcast(ct), "b")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.round(
                F.sqrt(
                    F.sum(term)
                    / (
                        F.any_value("n").cast("double")
                        * F.least(
                            F.any_value("r") - 1, F.any_value("c") - 1
                        )
                    )
                ),
                6,
            ).alias("value")
        )
    )
    e1 = _eta_1row(
        li, "l_returnflag",
        F.round(F.col("l_extendedprice") * 100, 0).cast("long"),
    )
    e2 = _eta_1row(
        li, "l_linestatus", F.round(F.col("l_quantity"), 0).cast("long")
    )

    def tag(df1, a, b, measure):
        return df1.select(
            F.lit(a).alias("var_a"),
            F.lit(b).alias("var_b"),
            F.lit(measure).alias("measure"),
            "value",
        )

    return (
        tag(p1, "l_quantity", "l_extendedprice", "pearson")
        .unionByName(tag(p2, "l_quantity", "l_discount", "pearson"))
        .unionByName(tag(cr, "l_returnflag", "l_linestatus", "cramers_v"))
        .unionByName(tag(e1, "l_returnflag", "l_extendedprice", "eta"))
        .unionByName(tag(e2, "l_linestatus", "l_quantity", "eta"))
        .orderBy("var_a", "var_b")
    )


@query(
    "q_corr_icc",
    oracle="""
        WITH x AS (
            SELECT o_orderpriority AS grp,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS cents
            FROM orders
        ),
        g AS (
            SELECT grp,
                   CAST(sum(CAST(cents AS HUGEINT)) AS DOUBLE) AS s,
                   CAST(sum(CAST(cents AS HUGEINT) * cents) AS DOUBLE) AS q,
                   CAST(count(*) AS BIGINT) AS m
            FROM x GROUP BY 1
        ),
        t AS (
            SELECT sum(s) AS st, sum(q) AS qt,
                   CAST(sum(m) AS BIGINT) AS n,
                   CAST(count(*) AS BIGINT) AS k,
                   sum(s * s / m) AS ssb_raw,
                   sum(CAST(m AS DOUBLE) * m) AS sq_m
            FROM g
        ),
        f AS (
            SELECT (ssb_raw - st * st / n) / (k - 1) AS msb,
                   (qt - ssb_raw) / (n - k) AS msw,
                   (n - sq_m / n) / (k - 1) AS n0,
                   n, k
            FROM t
        )
        SELECT round((msb - msw) / (msb + (n0 - 1) * msw), 6) AS icc,
               round(msb / msw, 6) AS f_stat,
               k AS n_groups, n AS n_rows
        FROM f
    """,
    doc="Intraclass correlation ICC(1): one-way random-effects "
    "reliability of order value within priority groups (unequal-n "
    "form) — how much of the variance lives BETWEEN groups, the "
    "clustered-data companion to eta².",
)
def q_corr_icc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ICC(1) = (MSB − MSW)/(MSB + (n₀−1)·MSW) with the unequal-n
    group-size correction n₀ = (N − Σnᵢ²/N)/(k−1) — the measure that
    answers 'are observations within a group more alike than across
    groups' (sampling-design and mixed-model territory Pearson cannot
    address). F = MSB/MSW rides along for the significance consumer.

    Determinism: SSB/SSW derive from the SAME exact-integer cents
    power sums as q_corr_eta (HUGEINT/decimal accumulators), so both
    engines run identical float expressions on identical inputs;
    6 dp rounding absorbs the ulp noise.

    Scale shape: one map-side-combinable grouped aggregate over the
    factor, then a ~k-row reduction — exactly q_corr_eta's plan."""
    t = load_tables(spark, sf_dir)
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    x = t["orders"].select(
        F.col("o_orderpriority").alias("grp"), cents.alias("cents")
    )
    g = x.groupBy("grp").agg(
        F.sum(F.col("cents").cast("decimal(38,0)")).cast("double").alias("s"),
        F.sum((F.col("cents") * F.col("cents")).cast("decimal(38,0)"))
        .cast("double")
        .alias("q"),
        F.count("*").alias("m"),
    )
    tt = g.agg(
        F.sum("s").alias("st"),
        F.sum("q").alias("qt"),
        F.sum("m").cast("bigint").alias("n"),
        F.count("*").cast("bigint").alias("k"),
        F.sum(F.col("s") * F.col("s") / F.col("m")).alias("ssb_raw"),
        F.sum(F.col("m").cast("double") * F.col("m")).alias("sq_m"),
    )
    msb = (F.col("ssb_raw") - F.col("st") * F.col("st") / F.col("n")) / (
        F.col("k") - 1
    )
    msw = (F.col("qt") - F.col("ssb_raw")) / (F.col("n") - F.col("k"))
    n0 = (F.col("n") - F.col("sq_m") / F.col("n")) / (F.col("k") - 1)
    return tt.select(
        F.round((msb - msw) / (msb + (n0 - 1) * msw), 6).alias("icc"),
        F.round(msb / msw, 6).alias("f_stat"),
        F.col("k").alias("n_groups"),
        F.col("n").alias("n_rows"),
    )


@query(
    "q_cronbach_alpha",
    oracle="""
        WITH x AS (
            SELECT CAST(round(l_quantity * 100) AS BIGINT) AS i1,
                   CAST(round(l_discount * 10000) AS BIGINT) AS i2,
                   CAST(round(l_tax * 10000) AS BIGINT) AS i3
            FROM lineitem
        ),
        s AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CAST(i1 AS HUGEINT)) AS DOUBLE) AS s1,
                   CAST(sum(CAST(i1 AS HUGEINT) * i1) AS DOUBLE) AS q1,
                   CAST(sum(CAST(i2 AS HUGEINT)) AS DOUBLE) AS s2,
                   CAST(sum(CAST(i2 AS HUGEINT) * i2) AS DOUBLE) AS q2,
                   CAST(sum(CAST(i3 AS HUGEINT)) AS DOUBLE) AS s3,
                   CAST(sum(CAST(i3 AS HUGEINT) * i3) AS DOUBLE) AS q3,
                   CAST(sum(CAST(i1 + i2 + i3 AS HUGEINT)) AS DOUBLE) AS st,
                   CAST(sum(CAST(i1 + i2 + i3 AS HUGEINT) * (i1 + i2 + i3))
                        AS DOUBLE) AS qt
            FROM x
        )
        SELECT round((3.0 / 2.0)
                     * (1 - ((q1 - s1 * s1 / n) + (q2 - s2 * s2 / n)
                             + (q3 - s3 * s3 / n))
                           / (qt - st * st / n)), 6) AS alpha,
               n AS n_rows
        FROM s
    """,
    doc="Cronbach's alpha over three standardized-unit item columns "
    "(quantity/discount/tax) — the internal-consistency reliability "
    "coefficient, from exact integer item sums in ONE pass.",
)
def q_cronbach_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """α = k/(k−1) · (1 − Σvar(itemᵢ)/var(Σitems)). The (n−1) variance
    denominators cancel in the ratio, so α is computed directly from
    raw sums-of-squares: every Σx and Σx² — INCLUDING the row-wise
    total's — is an exact integer (items quantized to integer units;
    i1+i2+i3 is exact int addition, not float), making the whole
    statistic one float expression over exact inputs, identical on
    both engines.

    Scale shape: a single global aggregate — eight map-side-combinable
    exact sums over one scan; adding items widens the row, never adds
    a pass."""
    t = load_tables(spark, sf_dir)
    x = t["lineitem"].select(
        F.round(F.col("l_quantity") * 100, 0).cast("long").alias("i1"),
        F.round(F.col("l_discount") * 10000, 0).cast("long").alias("i2"),
        F.round(F.col("l_tax") * 10000, 0).cast("long").alias("i3"),
    )
    tot = (F.col("i1") + F.col("i2") + F.col("i3"))

    def ssum(c):
        return F.sum(c.cast("decimal(38,0)")).cast("double")

    def sqsum(c):
        return F.sum((c.cast("decimal(38,0)") * c)).cast("double")

    s = x.agg(
        F.count("*").alias("n"),
        ssum(F.col("i1")).alias("s1"),
        sqsum(F.col("i1")).alias("q1"),
        ssum(F.col("i2")).alias("s2"),
        sqsum(F.col("i2")).alias("q2"),
        ssum(F.col("i3")).alias("s3"),
        sqsum(F.col("i3")).alias("q3"),
        ssum(tot).alias("st"),
        sqsum(tot).alias("qt"),
    )
    n = F.col("n")
    item_vars = (
        (F.col("q1") - F.col("s1") * F.col("s1") / n)
        + (F.col("q2") - F.col("s2") * F.col("s2") / n)
        + (F.col("q3") - F.col("s3") * F.col("s3") / n)
    )
    tot_var = F.col("qt") - F.col("st") * F.col("st") / n
    return s.select(
        F.round(
            (F.lit(3.0) / F.lit(2.0)) * (1 - item_vars / tot_var), 6
        ).alias("alpha"),
        n.alias("n_rows"),
    )


@query(
    "q_corr_ccc",
    oracle="""
        WITH x AS (
            SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS xc,
                   CAST(round(l_extendedprice * (1 - l_discount) * 100)
                        AS BIGINT) AS yc
            FROM lineitem
        ),
        s AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CAST(xc AS HUGEINT)) AS DOUBLE) AS sx,
                   CAST(sum(CAST(yc AS HUGEINT)) AS DOUBLE) AS sy,
                   CAST(sum(CAST(xc AS HUGEINT) * xc) AS DOUBLE) AS qx,
                   CAST(sum(CAST(yc AS HUGEINT) * yc) AS DOUBLE) AS qy,
                   CAST(sum(CAST(xc AS HUGEINT) * yc) AS DOUBLE) AS pxy
            FROM x
        )
        SELECT round(2 * (pxy / n - (sx / n) * (sy / n))
                     / ((qx / n - (sx / n) * (sx / n))
                        + (qy / n - (sy / n) * (sy / n))
                        + ((sx / n) - (sy / n)) * ((sx / n) - (sy / n))),
                     6) AS ccc,
               n AS n_rows
        FROM s
    """,
    doc="Lin's concordance correlation coefficient between list price "
    "and discounted revenue — AGREEMENT (how far pairs sit from the "
    "45° identity line), not mere linear association: CCC ≤ |r|, with "
    "equality only at perfect location and scale match.",
)
def q_corr_ccc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCC = 2·cov(x,y) / (var(x) + var(y) + (μx − μy)²) — Pearson
    penalized by location and scale shift, the measure for 'does the
    cheap estimator REPRODUCE the expensive one', not just 'do they
    move together'. Population moments from exact-cents HUGEINT/decimal
    sums (the q_agg_moments discipline); the (n−1) corrections cancel
    in the ratio, so raw power sums suffice.

    Scale shape: ONE global aggregate, six map-side-combinable exact
    sums over one scan."""
    t = load_tables(spark, sf_dir)
    x = t["lineitem"].select(
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("xc"),
        F.round(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
        ).cast("long").alias("yc"),
    )
    s = x.agg(
        F.count("*").alias("n"),
        F.sum(F.col("xc").cast("decimal(38,0)")).cast("double").alias("sx"),
        F.sum(F.col("yc").cast("decimal(38,0)")).cast("double").alias("sy"),
        F.sum(F.col("xc").cast("decimal(38,0)") * F.col("xc"))
        .cast("double")
        .alias("qx"),
        F.sum(F.col("yc").cast("decimal(38,0)") * F.col("yc"))
        .cast("double")
        .alias("qy"),
        F.sum(F.col("xc").cast("decimal(38,0)") * F.col("yc"))
        .cast("double")
        .alias("pxy"),
    )
    n = F.col("n")
    mx, my = F.col("sx") / n, F.col("sy") / n
    cov = F.col("pxy") / n - mx * my
    vx = F.col("qx") / n - mx * mx
    vy = F.col("qy") / n - my * my
    return s.select(
        F.round(2 * cov / (vx + vy + (mx - my) * (mx - my)), 6).alias("ccc"),
        n.alias("n_rows"),
    )


@query(
    "q_corr_kappa",
    oracle="""
        WITH base AS (
            SELECT CASE WHEN l_quantity > 25 THEN 'high' ELSE 'low' END AS a,
                   CASE WHEN l_extendedprice > 38000 THEN 'high'
                        ELSE 'low' END AS b
            FROM lineitem
        ),
        cont AS (
            SELECT a, b, CAST(count(*) AS BIGINT) AS o
            FROM base GROUP BY 1, 2
        ),
        rt AS (SELECT a, CAST(count(*) AS BIGINT) AS ra FROM base GROUP BY 1),
        ct AS (SELECT b, CAST(count(*) AS BIGINT) AS cb FROM base GROUP BY 1),
        tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
        s AS (
            SELECT sum(CASE WHEN cont.a = cont.b
                            THEN CAST(cont.o AS DOUBLE) / tot.n
                            ELSE 0 END) AS po,
                   sum(CASE WHEN cont.a = cont.b
                            THEN CAST(rt.ra AS DOUBLE) * ct.cb
                                 / (CAST(tot.n AS DOUBLE) * tot.n)
                            ELSE 0 END) AS pe,
                   any_value(tot.n) AS n_rows
            FROM cont JOIN rt USING (a) JOIN ct USING (b) CROSS JOIN tot
        )
        SELECT round((po - pe) / (1 - pe), 6) AS kappa,
               round(po, 6) AS p_observed,
               round(pe, 6) AS p_expected,
               n_rows
        FROM s
    """,
    doc="Cohen's kappa between two binary raters (high-quantity vs "
    "high-price labels) — chance-corrected agreement: the measure that "
    "exposes raters who agree only as often as coin flips would.",
)
def q_corr_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """κ = (p_o − p_e)/(1 − p_e): observed diagonal agreement minus the
    agreement two INDEPENDENT raters with the same marginals would
    reach. Raw accuracy (p_o alone) overstates agreement whenever one
    label dominates — κ is the standard correction, and alongside
    Cramér's V / Theil's U it completes the categorical-association
    family with an AGREEMENT (label-identity) semantics the others
    don't have.

    Determinism: the diagonal sums are ratios of exact int64
    contingency counts (the q_corr_cramer skeleton); ≤4 cell terms,
    6 dp rounding.

    Scale shape: one conditional-label map, category-sized contingency
    shuffles, broadcast marginals, driver-free reduction."""
    t = load_tables(spark, sf_dir)
    base = t["lineitem"].select(
        F.when(F.col("l_quantity") > 25, "high").otherwise("low").alias("a"),
        F.when(F.col("l_extendedprice") > 38000, "high")
        .otherwise("low")
        .alias("b"),
    )
    cont = base.groupBy("a", "b").agg(F.count("*").alias("o"))
    rt = base.groupBy("a").agg(F.count("*").alias("ra"))
    ct = base.groupBy("b").agg(F.count("*").alias("cb"))
    tot = base.agg(F.count("*").alias("n"))
    diag = F.col("a") == F.col("b")
    s = (
        cont.join(F.broadcast(rt), "a")
        .join(F.broadcast(ct), "b")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                F.when(diag, F.col("o").cast("double") / F.col("n"))
                .otherwise(0.0)
            ).alias("po"),
            F.sum(
                F.when(
                    diag,
                    F.col("ra").cast("double")
                    * F.col("cb")
                    / (F.col("n").cast("double") * F.col("n")),
                ).otherwise(0.0)
            ).alias("pe"),
            F.any_value("n").alias("n_rows"),
        )
    )
    return s.select(
        F.round(
            (F.col("po") - F.col("pe")) / (1 - F.col("pe")), 6
        ).alias("kappa"),
        F.round("po", 6).alias("p_observed"),
        F.round("pe", 6).alias("p_expected"),
        "n_rows",
    )


@query(
    "q_ts_trend",
    oracle="""
        WITH daily AS (
            SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d,
                   round((CAST(sum(CAST(round(value * 1000000) AS BIGINT))
                               AS DOUBLE) / 1000000) / count(value), 6) AS v
            FROM events GROUP BY 1
        ),
        numbered AS (
            SELECT v, row_number() OVER (ORDER BY d) AS rn FROM daily
        ),
        pairs AS (
            SELECT CASE WHEN j.v > i.v THEN 1
                        WHEN j.v < i.v THEN -1 ELSE 0 END AS sgn,
                   (j.v - i.v) / (j.rn - i.rn) AS slope
            FROM numbered i JOIN numbered j ON j.rn > i.rn
        ),
        ties AS (
            SELECT sum(CAST(c AS HUGEINT) * c * c - c) AS tie_term
            FROM (SELECT count(*) AS c FROM daily GROUP BY v)
        ),
        agg AS (
            SELECT CAST(sum(sgn) AS BIGINT) AS s,
                   CAST(count(*) AS BIGINT) AS n_pairs,
                   median(slope) AS sen,
                   (SELECT CAST(count(*) AS BIGINT) FROM daily) AS n
            FROM pairs
        )
        SELECT round(CAST(s AS DOUBLE)
                     / sqrt((CAST(n AS DOUBLE) * (n - 1) * (2 * n + 5)
                             - CAST(t.tie_term AS DOUBLE)) / 18), 6) AS z,
               s AS s_stat,
               round(sen, 6) AS sen_slope,
               n AS n_days
        FROM agg CROSS JOIN ties t
    """,
    doc="Mann-Kendall monotone-trend test + Sen's slope on the daily "
    "event-value series — the nonparametric 'is this series drifting' "
    "answer (no normality or linearity assumed), with the robust "
    "median-of-pairwise-slopes magnitude.",
)
def q_ts_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S = Σ_{i<j} sign(xⱼ − xᵢ); under H₀ S is ~normal with
    var = (n(n−1)(2n+5) − Σt(t−1)(2t+5))/18 — spelled with the common
    Σ(t³−t) tie term (exact HUGEINT/decimal). Sen's slope is the
    median of the n(n−1)/2 pairwise slopes (xⱼ−xᵢ)/(j−i) — robust to
    outliers where OLS is not; both engines interpolate the identical
    middle pair of the identical slope multiset, then 6 dp rounding.

    The O(n²) pair join is bounded by the TIME DOMAIN (the raw scan
    collapses to exact micro-unit daily means first — the
    q_corr_distance precedent), so n = #days at any data SF. Signs and
    tie counts are exact; only the slope divisions and the final z are
    float.

    Scale shape: one day-grain aggregate over the fact scan, then
    time-domain-sized self-join + reductions."""
    t = load_tables(spark, sf_dir)
    daily = (
        t["events"]
        .groupBy(F.date_trunc("day", F.col("ts")).alias("d"))
        .agg(_exact_mean_micro(F.col("value")).alias("v"))
    )
    numbered = daily.select(
        "v", F.row_number().over(Window.orderBy("d")).alias("rn")
    )
    i = numbered.alias("i")
    j = numbered.alias("j")
    pairs = i.join(
        F.broadcast(j), F.col("j.rn") > F.col("i.rn")
    ).select(
        F.when(F.col("j.v") > F.col("i.v"), 1)
        .when(F.col("j.v") < F.col("i.v"), -1)
        .otherwise(0)
        .alias("sgn"),
        (
            (F.col("j.v") - F.col("i.v")) / (F.col("j.rn") - F.col("i.rn"))
        ).alias("slope"),
    )
    ties = (
        daily.groupBy("v")
        .agg(F.count("*").alias("c"))
        .agg(
            F.sum(
                F.col("c").cast("decimal(38,0)") * F.col("c") * F.col("c")
                - F.col("c")
            ).alias("tie_term")
        )
    )
    n_days = daily.agg(F.count("*").cast("bigint").alias("n"))
    agg = pairs.agg(
        F.sum("sgn").cast("bigint").alias("s"),
        F.count("*").cast("bigint").alias("n_pairs"),
        F.median("slope").alias("sen"),
    )
    nd = F.col("n").cast("double")
    var = (
        nd * (F.col("n") - 1) * (2 * F.col("n") + 5)
        - F.col("tie_term").cast("double")
    ) / 18
    return (
        agg.crossJoin(F.broadcast(ties))
        .crossJoin(F.broadcast(n_days))
        .select(
            F.round(F.col("s").cast("double") / F.sqrt(var), 6).alias("z"),
            F.col("s").alias("s_stat"),
            F.round("sen", 6).alias("sen_slope"),
            F.col("n").alias("n_days"),
        )
    )


@query(
    "q_seasonality",
    oracle="""
        WITH daily AS (
            SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d,
                   CAST(sum(CAST(round(value * 1000000) AS BIGINT))
                        AS BIGINT) AS micro
            FROM events GROUP BY 1
        ),
        dow AS (
            SELECT dayofweek(d) AS dow,
                   CAST(sum(micro) AS BIGINT) AS s,
                   CAST(count(*) AS BIGINT) AS n_days
            FROM daily GROUP BY 1
        ),
        tot AS (
            SELECT CAST(sum(micro) AS BIGINT) AS st,
                   CAST(count(*) AS BIGINT) AS nt
            FROM daily
        )
        SELECT dow,
               round(CAST(s AS DOUBLE) / n_days / 1000000.0, 6)
                   AS avg_daily_value,
               round((CAST(s AS DOUBLE) / n_days)
                     / (CAST(st AS DOUBLE) / nt), 6) AS seasonal_index,
               n_days
        FROM dow CROSS JOIN tot
    """,
    doc="Day-of-week seasonality profile of the daily event-value "
    "series: average daily total per weekday and its seasonal index "
    "(ratio to the overall daily mean) — the first decomposition a "
    "time-series monitor applies before alarming on drift.",
)
def q_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal index s_d = mean(daily total | dow=d) / mean(daily
    total): >1 weekdays run hot, <1 cold. Exactness: daily totals are
    exact integer micro-units (decimal accumulators ↔ HUGEINT), both
    means are exact-int ÷ exact-int, the ratio is one more IEEE
    division — identical bits both engines, absorbed at 6 dp. Weekday
    numbering is pinned to DuckDB's dayofweek (0 = Sunday):
    Spark's dayofweek is 1-based, hence the −1.

    Scale shape: one day-grain aggregate over the scan (map-side
    combinable), then a ≤7-row reduction with the 1-row total
    cross-joined broadcast — nothing downstream of the first shuffle
    exceeds weekday cardinality."""
    t = load_tables(spark, sf_dir)
    daily = (
        t["events"]
        .groupBy(F.date_trunc("day", F.col("ts")).alias("d"))
        .agg(
            F.sum(
                F.round(F.col("value") * 1000000, 0)
                .cast("long")
                .cast("decimal(38,0)")
            )
            .cast("long")
            .alias("micro")
        )
    )
    dow = daily.groupBy(
        (F.dayofweek("d") - 1).alias("dow")
    ).agg(
        F.sum("micro").alias("s"),
        F.count("*").alias("n_days"),
    )
    tot = daily.agg(
        F.sum("micro").alias("st"), F.count("*").alias("nt")
    )
    return dow.crossJoin(F.broadcast(tot)).select(
        "dow",
        F.round(
            F.col("s").cast("double") / F.col("n_days") / 1000000.0, 6
        ).alias("avg_daily_value"),
        F.round(
            (F.col("s").cast("double") / F.col("n_days"))
            / (F.col("st").cast("double") / F.col("nt")),
            6,
        ).alias("seasonal_index"),
        "n_days",
    )


def f_oneway(g: DataFrame) -> DataFrame:
    """One-way ANOVA reduction over a per-group moment frame
    ``(grp, s, q, m)`` (exact-integer Σx and Σx² cast to double once,
    group count): returns the 1-row
    ``(f_stat, df_between, df_within, eta2, n_rows)`` frame.

    SS_between = Σ s²/m − (Σs)²/N and SS_within = Σq − Σ s²/m come from
    the SAME per-group sums, so the whole test is ONE shuffle on the
    factor (map-side combinable) plus a #levels-row reduction — the
    k-sample generalization of q_ttest_welch's shape. The q_anova and
    q_levene keys and api.anova() all consume this engine.

    Determinism: per-group s/q are exact integers rounded to double
    once (identically on both engines); the cross-group float sums are
    #levels well-separated terms and the outputs are absorbed at 6 dp
    (rule-3 headroom, same rationale as q_corr_eta)."""
    tot = g.agg(
        F.sum("s").alias("st"),
        F.sum("q").alias("qt"),
        F.sum("m").cast("bigint").alias("n"),
        F.sum(F.col("s") * F.col("s") / F.col("m")).alias("ssb_raw"),
        F.count("*").cast("bigint").alias("k"),
    )
    ssb = F.col("ssb_raw") - F.col("st") * F.col("st") / F.col("n")
    ssw = F.col("qt") - F.col("ssb_raw")
    sst = F.col("qt") - F.col("st") * F.col("st") / F.col("n")
    f = (ssb / (F.col("k") - 1)) / (ssw / (F.col("n") - F.col("k")))
    return tot.select(
        F.round(f, 6).alias("f_stat"),
        (F.col("k") - 1).cast("bigint").alias("df_between"),
        (F.col("n") - F.col("k")).cast("bigint").alias("df_within"),
        F.round(ssb / sst, 6).alias("eta2"),
        F.col("n").alias("n_rows"),
    )


def group_moments(x: DataFrame, val: str = "cents") -> DataFrame:
    """Per-group exact moment frame (grp, s, q, m) from a (grp, <val>)
    integer-valued frame — decimal(38,0) accumulators ↔ DuckDB HUGEINT,
    both cast the same exact integer to double once."""
    v = F.col(val)
    vd = v.cast("decimal(19,0)")
    return x.groupBy("grp").agg(
        F.sum(v.cast("decimal(38,0)")).cast("double").alias("s"),
        # square in decimal: int64 micro-unit values overflow long·long
        # (v ~ 1e10 ⇒ v² ~ 1e20), decimal(19,0)² is exact to 38 digits
        F.sum(vd * vd).cast("double").alias("q"),
        F.count("*").alias("m"),
    )


@query(
    "q_anova",
    oracle="""
        WITH x AS (
            SELECT c_mktsegment AS grp,
                   CAST(round(c_acctbal * 100) AS BIGINT) AS cents
            FROM customer
        ),
        g AS (
            SELECT grp,
                   CAST(sum(cents) AS DOUBLE) AS s,
                   CAST(sum(cents * cents) AS DOUBLE) AS q,
                   CAST(count(*) AS BIGINT) AS m
            FROM x GROUP BY 1
        ),
        tot AS (
            SELECT sum(s) AS st, sum(q) AS qt,
                   CAST(sum(m) AS BIGINT) AS n,
                   sum(s * s / m) AS ssb_raw,
                   CAST(count(*) AS BIGINT) AS k
            FROM g
        )
        SELECT round(((ssb_raw - st * st / n) / (k - 1))
                     / ((qt - ssb_raw) / (n - k)), 6) AS f_stat,
               k - 1 AS df_between,
               n - k AS df_within,
               round((ssb_raw - st * st / n)
                     / (qt - st * st / n), 6) AS eta2,
               n AS n_rows
        FROM tot
    """,
    doc="One-way ANOVA F of customer account balance across the five "
    "market segments — the k-sample mean test completing the "
    "hypothesis-test family (Welch t = 2 groups, this = k groups); "
    "exact integer-cents power sums, one factor shuffle.",
)
def q_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F = MS_between/MS_within over k groups from one pass of exact
    per-group (n, Σx, Σx²). Everything before the final float chain is
    integer arithmetic; eta² (effect size) reuses the same sums.

    Scale shape: ONE map-side-combinable shuffle on the factor, then a
    k-row reduction — no second data pass, no window; identical
    footprint at 100 TB with any k that fits a reduction."""
    t = load_tables(spark, sf_dir)
    x = t["customer"].select(
        F.col("c_mktsegment").alias("grp"),
        F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("cents"),
    )
    return f_oneway(group_moments(x))


@query(
    "q_levene",
    oracle="""
        WITH x AS (
            SELECT o_orderpriority AS grp,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS cents
            FROM orders
        ),
        med AS (
            SELECT grp,
                   CAST(round(2 * quantile_cont(cents, 0.5))
                        AS BIGINT) AS m2
            FROM x GROUP BY 1
        ),
        z AS (
            SELECT x.grp, abs(2 * x.cents - med.m2) AS z
            FROM x JOIN med USING (grp)
        ),
        g AS (
            SELECT grp,
                   CAST(sum(z) AS DOUBLE) AS s,
                   CAST(sum(z * z) AS DOUBLE) AS q,
                   CAST(count(*) AS BIGINT) AS m
            FROM z GROUP BY 1
        ),
        tot AS (
            SELECT sum(s) AS st, sum(q) AS qt,
                   CAST(sum(m) AS BIGINT) AS n,
                   sum(s * s / m) AS ssb_raw,
                   CAST(count(*) AS BIGINT) AS k
            FROM g
        )
        SELECT round(((ssb_raw - st * st / n) / (k - 1))
                     / ((qt - ssb_raw) / (n - k)), 6) AS w_stat,
               k - 1 AS df_between,
               n - k AS df_within,
               round((ssb_raw - st * st / n)
                     / (qt - st * st / n), 6) AS eta2,
               n AS n_rows
        FROM tot
    """,
    doc="Brown-Forsythe (median-centered Levene) variance-equality "
    "test of order value across the five priorities — the "
    "heteroscedasticity gate that decides between q_anova and "
    "q_ttest_welch-style unequal-variance tests.",
)
def q_levene(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W = one-way ANOVA F computed on z = |x − median_g(x)| — the
    Brown-Forsythe robust variant (median centering, not mean). The
    deviations stay EXACT integers: with integer cents, 2·median is an
    exact integer (midpoint of two integers), so z' = |2x − 2·median|
    doubles the scale and stays in int64; the F statistic is scale-
    invariant, so W is unchanged and every pre-float step is integer
    arithmetic on both engines.

    Scale shape: one factor shuffle for the medians (exact percentile
    at the group grain — k groups, each a bounded sort-merge), one
    broadcast join of the k-row median table back onto the scan, then
    the f_oneway one-shuffle reduction. Two passes over the fact, no
    window, no global sort."""
    t = load_tables(spark, sf_dir)
    x = t["orders"].select(
        F.col("o_orderpriority").alias("grp"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    med = x.groupBy("grp").agg(
        F.round(2 * F.percentile(F.col("cents"), F.lit(0.5)), 0)
        .cast("long")
        .alias("m2")
    )
    z = x.join(F.broadcast(med), "grp").select(
        "grp", F.abs(2 * F.col("cents") - F.col("m2")).alias("z")
    )
    return f_oneway(group_moments(z, "z")).withColumnRenamed(
        "f_stat", "w_stat"
    )


@query(
    "q_prop_ztest",
    oracle="""
        WITH x AS (
            SELECT o_orderpriority AS grp,
                   CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS hit
            FROM orders
            WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
        ),
        a AS (
            SELECT CAST(sum(hit) FILTER (WHERE grp = '1-URGENT')
                        AS BIGINT) AS x1,
                   CAST(count(*) FILTER (WHERE grp = '1-URGENT')
                        AS BIGINT) AS n1,
                   CAST(sum(hit) FILTER (WHERE grp = '5-LOW')
                        AS BIGINT) AS x2,
                   CAST(count(*) FILTER (WHERE grp = '5-LOW')
                        AS BIGINT) AS n2
            FROM x
        ),
        b AS (
            SELECT x1, n1, x2, n2,
                   CAST(x1 AS DOUBLE) / n1 AS p1,
                   CAST(x2 AS DOUBLE) / n2 AS p2,
                   CAST(x1 + x2 AS DOUBLE) / (n1 + n2) AS pp
            FROM a
        )
        SELECT round((p1 - p2)
                     / sqrt(pp * (1 - pp)
                            * (1.0 / n1 + 1.0 / n2)), 6) AS z,
               round(p1, 6) AS p1, round(p2, 6) AS p2,
               n1, n2
        FROM b
    """,
    doc="Two-proportion pooled z-test (fulfilled-rate between URGENT "
    "and LOW priority orders) — the conversion-rate A/B primitive "
    "beside the mean (Welch) and distribution (KS/MW) comparisons.",
)
def q_prop_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """z = (p̂₁−p̂₂)/√(p̄(1−p̄)(1/n₁+1/n₂)) with the pooled rate p̄ —
    the standard success-rate comparison. Counts are exact integers
    from ONE conditional aggregate; the z is a single float chain
    spelled identically on both engines, absorbed at 6 dp.

    Scale shape: one partial/final aggregate over the filtered scan —
    four conditional counters, a 1-row reduction; nothing grows with
    data size."""
    t = load_tables(spark, sf_dir)
    x = t["orders"].filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    ).select(
        F.col("o_orderpriority").alias("grp"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("hit"),
    )
    g1 = F.col("grp") == "1-URGENT"
    g2 = F.col("grp") == "5-LOW"
    a = x.agg(
        F.sum(F.when(g1, F.col("hit"))).cast("bigint").alias("x1"),
        F.count(F.when(g1, 1)).alias("n1"),
        F.sum(F.when(g2, F.col("hit"))).cast("bigint").alias("x2"),
        F.count(F.when(g2, 1)).alias("n2"),
    )
    b = a.selectExpr(
        "x1", "n1", "x2", "n2",
        "CAST(x1 AS DOUBLE) / n1 AS p1",
        "CAST(x2 AS DOUBLE) / n2 AS p2",
        "CAST(x1 + x2 AS DOUBLE) / (n1 + n2) AS pp",
    )
    return b.selectExpr(
        "round((p1 - p2) / sqrt(pp * (1 - pp)"
        " * (1.0 / n1 + 1.0 / n2)), 6) AS z",
        "round(p1, 6) AS p1", "round(p2, 6) AS p2",
        "n1", "n2",
    )


def cusum_frame(data: DataFrame) -> DataFrame:
    """CUSUM changepoint curve over a ``(d, micro)`` frame (period,
    integer-quantized value): per-period cumulative sum of deviations
    from the full-period mean, exact until the single final division.
    C\'_t = N·cumsum_t − cumcount_t·total is pure integer arithmetic
    (decimal(38,0) for the ~1e19 products); the period with max |C_t|
    estimates the level-shift changepoint. The q_drift_cusum key and
    api.changepoint() both consume this engine.

    Scale shape: one period-grain aggregate over the scan (map-side
    combinable), the range-partitioned running-sum pattern over the
    BOUNDED period table, one broadcast 1-row total."""
    from ..ordering import global_running_sums

    daily = data.groupBy("d").agg(
        F.sum("micro").cast("bigint").alias("sd"),
        F.count("*").alias("nd"),
    )
    tot = daily.agg(
        F.sum("sd").cast("bigint").alias("st"),
        F.sum("nd").cast("bigint").alias("n"),
    )
    run = global_running_sums(
        daily,
        [F.col("d").asc()],
        [(F.col("sd"), "cum_s_raw"), (F.col("nd"), "cum_n_raw")],
    ).select(
        "d", "nd",
        F.col("cum_s_raw").cast("bigint").alias("cum_s"),
        F.col("cum_n_raw").cast("bigint").alias("cum_n"),
    )
    dec = "decimal(38,0)"
    return run.crossJoin(F.broadcast(tot)).select(
        "d",
        F.round(
            (
                F.col("n").cast(dec) * F.col("cum_s").cast(dec)
                - F.col("cum_n").cast(dec) * F.col("st").cast(dec)
            ).cast("double")
            / F.col("n")
            / 1000000.0,
            6,
        ).alias("cusum"),
        F.col("nd").alias("n_events"),
    )


@query(
    "q_drift_cusum",
    oracle="""
        WITH daily AS (
            SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d,
                   CAST(sum(CAST(round(value * 1000000) AS BIGINT))
                        AS BIGINT) AS sd,
                   CAST(count(*) AS BIGINT) AS nd
            FROM events
            GROUP BY 1
        ),
        tot AS (
            SELECT CAST(sum(sd) AS BIGINT) AS st,
                   CAST(sum(nd) AS BIGINT) AS n
            FROM daily
        ),
        run AS (
            SELECT d, nd,
                   CAST(sum(sd) OVER (ORDER BY d
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS cum_s,
                   CAST(sum(nd) OVER (ORDER BY d
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS cum_n
            FROM daily
        )
        SELECT d,
               round(CAST(CAST(n AS HUGEINT) * cum_s
                          - CAST(cum_n AS HUGEINT) * st AS DOUBLE)
                     / n / 1000000.0, 6) AS cusum,
               nd AS n_events
        FROM run CROSS JOIN tot
    """,
    doc="CUSUM changepoint gauge over the event stream: per-day "
    "cumulative sum of deviations from thefull-period mean — the peak "
    "|cusum| day estimates the level-shift changepoint; exact integer "
    "micro-unit running sums, one float division at the end.",
)
def q_drift_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C_t = Σ_{i≤t}(x_i − μ̄) located at the day grain. Multiplying
    through by N keeps it exact: C'_t = N·cumsum_t − cumcount_t·total
    is pure integer arithmetic (decimal(38,0) ↔ HUGEINT for the two
    ~1e19 products), and the single division by N at the end is the
    only float step — spelled identically on both engines, absorbed
    at 6 dp. The day with max |C_t| is the classic Page/binary-
    segmentation changepoint estimate; the full curve is returned so
    the caller sees the shift shape, completing the drift family
    (KS/PSI/KL/JS measure per-period distance, CUSUM locates the
    break).

    Scale shape: one day-grain aggregate over the scan (map-side
    combinable), then the range-partitioned running-sum pattern over
    the BOUNDED day table (never an Exchange SinglePartition data
    window), one broadcast 1-row total."""
    t = load_tables(spark, sf_dir)
    data = t["events"].select(
        F.date_trunc("day", F.col("ts").cast("timestamp")).alias("d"),
        F.round(F.col("value") * 1000000, 0).cast("long").alias("micro"),
    )
    return cusum_frame(data)


@query(
    "q_ols_daily",
    oracle="""
        WITH daily AS (
            SELECT event_type AS grp,
                   CAST(date_trunc('day', ts) AS TIMESTAMP) AS d,
                   CAST(sum(CAST(round(value * 1000000) AS BIGINT))
                        AS BIGINT) AS y
            FROM events
            GROUP BY 1, 2
        ),
        anchor AS (
            SELECT min(d) AS d0 FROM daily
        ),
        pts AS (
            SELECT grp,
                   CAST(date_diff('day', d0, d) AS BIGINT) AS t,
                   y
            FROM daily CROSS JOIN anchor
        ),
        s AS (
            SELECT grp,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(t) AS BIGINT) AS st,
                   CAST(sum(t * t) AS BIGINT) AS stt,
                   CAST(sum(y) AS BIGINT) AS sy,
                   CAST(sum(t * y) AS BIGINT) AS sty,
                   sum(CAST(y AS HUGEINT) * y) AS syy
            FROM pts GROUP BY 1
        ),
        m AS (
            SELECT grp, n,
                   CAST(CAST(n AS HUGEINT) * sty
                        - CAST(st AS HUGEINT) * sy AS DOUBLE) AS cov_n,
                   CAST(CAST(n AS HUGEINT) * stt
                        - CAST(st AS HUGEINT) * st AS DOUBLE) AS var_t_n,
                   CAST(CAST(n AS HUGEINT) * syy
                        - CAST(sy AS HUGEINT) * sy AS DOUBLE) AS var_y_n,
                   CAST(st AS DOUBLE) AS std, CAST(sy AS DOUBLE) AS syd
            FROM s
        )
        SELECT grp AS event_type,
               round(cov_n / var_t_n / 1000000.0, 6) AS slope,
               round((syd - cov_n / var_t_n * std) / n / 1000000.0, 6)
                   AS intercept,
               round(cov_n * cov_n / (var_t_n * var_y_n), 6) AS r2,
               n AS n_days
        FROM m
    """,
    doc="Per-event-type OLS trend of daily total value on the day "
    "index: slope, intercept, and R² from exact integer power sums "
    "(n, Σt, Σt², Σy, Σty, Σy² via HUGEINT/decimal) — the parametric "
    "line-fit beside q_ts_trend's nonparametric Mann-Kendall/Sen.",
)
def q_ols_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least squares on the (day-index, daily-total) points per group.
    slope = (nΣty − ΣtΣy)/(nΣt² − (Σt)²), intercept = ȳ − slope·t̄,
    r² = cov²/(var_t·var_y). Every accumulator is an exact integer —
    day indices are small ints, totals are micro-units, and the ~1e22
    Σy² products ride decimal(38,0) ↔ HUGEINT — so both engines cast
    identical exact integers to double and run the SAME final float
    chain, absorbed at 6 dp.

    Scale shape: one (type, day) aggregate over the scan, a broadcast
    1-row anchor, then a per-type reduction over the bounded day
    domain — no window, no sort; the same three-exchange plan at any
    corpus size."""
    t = load_tables(spark, sf_dir)
    daily = (
        t["events"]
        .select(
            F.col("event_type").alias("grp"),
            F.date_trunc("day", F.col("ts").cast("timestamp")).alias("d"),
            F.round(F.col("value") * 1000000, 0).cast("long").alias("micro"),
        )
        .groupBy("grp", "d")
        .agg(F.sum("micro").cast("bigint").alias("y"))
    )
    return ols_trend(daily).select(
        F.col("grp").alias("event_type"),
        "slope", "intercept", "r2", "n_days",
    )


def ols_trend(daily: DataFrame) -> DataFrame:
    """Per-group OLS line fit over a ``(grp, d, y)`` frame (group,
    period, exact integer total): returns (grp, slope, intercept, r2,
    n_days) with the day index anchored at the GLOBAL min period. All
    accumulators are exact integers (the ~1e22 Σy² products ride
    decimal(38,0)); both engines cast identical exact integers to
    double and run the same final float chain, absorbed at 6 dp. The
    q_ols_daily key and api.trend() both consume this engine.

    Scale shape: a broadcast 1-row anchor, then ONE map-side-
    combinable reduction per group over the bounded period domain —
    no window, no sort."""
    dec = "decimal(38,0)"
    anchor = daily.agg(F.min("d").alias("d0"))
    pts = daily.crossJoin(F.broadcast(anchor)).select(
        "grp",
        F.datediff(F.col("d"), F.col("d0")).cast("bigint").alias("t"),
        "y",
    )
    s = pts.groupBy("grp").agg(
        F.count("*").alias("n"),
        F.sum("t").cast("bigint").alias("st"),
        F.sum(F.col("t") * F.col("t")).cast("bigint").alias("stt"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("t") * F.col("y")).cast("bigint").alias("sty"),
        F.sum(F.col("y").cast(dec) * F.col("y").cast(dec)).alias("syy"),
    )
    m = s.select(
        "grp", "n",
        (
            F.col("n").cast(dec) * F.col("sty").cast(dec)
            - F.col("st").cast(dec) * F.col("sy").cast(dec)
        ).cast("double").alias("cov_n"),
        (
            F.col("n").cast(dec) * F.col("stt").cast(dec)
            - F.col("st").cast(dec) * F.col("st").cast(dec)
        ).cast("double").alias("var_t_n"),
        (
            F.col("n").cast(dec) * F.col("syy")
            - F.col("sy").cast(dec) * F.col("sy").cast(dec)
        ).cast("double").alias("var_y_n"),
        F.col("st").cast("double").alias("std"),
        F.col("sy").cast("double").alias("syd"),
    )
    return m.select(
        "grp",
        F.round(F.col("cov_n") / F.col("var_t_n") / 1000000.0, 6)
        .alias("slope"),
        F.round(
            (F.col("syd") - F.col("cov_n") / F.col("var_t_n") * F.col("std"))
            / F.col("n")
            / 1000000.0,
            6,
        ).alias("intercept"),
        F.round(
            F.col("cov_n") * F.col("cov_n")
            / (F.col("var_t_n") * F.col("var_y_n")),
            6,
        ).alias("r2"),
        F.col("n").alias("n_days"),
    )


@query(
    "q_forecast_naive",
    oracle="""
        WITH daily AS (
            SELECT event_type AS grp,
                   CAST(date_trunc('day', ts) AS TIMESTAMP) AS d,
                   CAST(sum(CAST(round(value * 1000000) AS BIGINT))
                        AS BIGINT) AS y
            FROM events GROUP BY 1, 2
        ),
        scored AS (
            SELECT a.grp, a.y, f.y AS fc
            FROM daily a JOIN daily f
              ON a.grp = f.grp AND f.d = a.d - INTERVAL 7 DAY
        )
        SELECT grp AS event_type,
               CAST(count(*) AS BIGINT) AS n_forecasts,
               round(CAST(sum(abs(y - fc)) AS DOUBLE) / sum(y), 6)
                   AS wape,
               round(CAST(sum(abs(y - fc)) AS DOUBLE) / count(*)
                     / 1000000.0, 6) AS mae
        FROM scored GROUP BY 1
    """,
    doc="Seasonal-naive forecast backtest per event type: forecast(d) "
    "= actual(d−7), scored with WAPE and MAE — the baseline every "
    "forecasting pipeline must beat, and the metric spelling (WAPE = "
    "Σ|err|/Σy) that stays EXACT until one division.",
)
def q_forecast_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-correct seasonal naive: the forecast joins each day to
    the SAME day minus 7 on the calendar (an equi-join on the shifted
    date), so gaps in the series produce no misaligned lag — the
    failure mode of positional lag(7) over sparse days. WAPE is chosen
    over MAPE deliberately: Σ|y−ŷ| and Σy are exact integer
    micro-unit sums (one float division at the end, identical both
    engines), where MAPE's per-row divisions would accumulate float
    error in engine-specific order.

    Scale shape: one (type, day) aggregate over the scan, then a
    self-equi-join on (type, day−7) at the bounded day-domain grain,
    one per-type reduction. At 100 TB the joined table is still
    #types × #days rows."""
    t = load_tables(spark, sf_dir)
    daily = (
        t["events"]
        .select(
            F.col("event_type").alias("grp"),
            F.date_trunc("day", F.col("ts").cast("timestamp")).alias("d"),
            F.round(F.col("value") * 1000000, 0).cast("long").alias("micro"),
        )
        .groupBy("grp", "d")
        .agg(F.sum("micro").cast("bigint").alias("y"))
    )
    fc = daily.select(
        "grp",
        (F.col("d") + F.make_interval(days=F.lit(7))).alias("d"),
        F.col("y").alias("fc"),
    )
    scored = daily.join(fc, ["grp", "d"])
    return scored.groupBy("grp").agg(
        F.count("*").alias("n_forecasts"),
        F.round(
            F.sum(F.abs(F.col("y") - F.col("fc")))
            .cast("double")
            / F.sum("y"),
            6,
        ).alias("wape"),
        F.round(
            F.sum(F.abs(F.col("y") - F.col("fc"))).cast("double")
            / F.count("*")
            / 1000000.0,
            6,
        ).alias("mae"),
    ).select(
        F.col("grp").alias("event_type"), "n_forecasts", "wape", "mae"
    )


@query(
    "q_corr_bicor",
    oracle="""
        WITH x AS (
            SELECT l_returnflag AS g,
                   CAST(round(l_extendedprice * 100) AS BIGINT) AS xc,
                   CAST(round(l_quantity) AS BIGINT) AS yc
            FROM lineitem
        ),
        med AS (
            SELECT g,
                   CAST(round(2 * quantile_cont(xc, 0.5)) AS BIGINT) AS mx2,
                   CAST(round(2 * quantile_cont(yc, 0.5)) AS BIGINT) AS my2
            FROM x GROUP BY 1
        ),
        dev AS (
            SELECT x.g, x.xc, x.yc, med.mx2, med.my2,
                   2 * x.xc - med.mx2 AS dx2,
                   2 * x.yc - med.my2 AS dy2
            FROM x JOIN med USING (g)
        ),
        mad AS (
            SELECT g,
                   CAST(round(2 * quantile_cont(abs(dx2), 0.5))
                        AS BIGINT) AS madx4,
                   CAST(round(2 * quantile_cont(abs(dy2), 0.5))
                        AS BIGINT) AS mady4
            FROM dev GROUP BY 1
        ),
        wq AS (
            SELECT dev.g, dev.dx2, dev.dy2,
                   CASE WHEN mad.madx4 > 0 AND
                             abs(2.0 * dev.dx2 / (9.0 * mad.madx4)) < 1
                        THEN CAST(round(
                             pow(1 - pow(2.0 * dev.dx2
                                         / (9.0 * mad.madx4), 2), 2)
                             * 1000000) AS BIGINT)
                        ELSE 0 END AS wx,
                   CASE WHEN mad.mady4 > 0 AND
                             abs(2.0 * dev.dy2 / (9.0 * mad.mady4)) < 1
                        THEN CAST(round(
                             pow(1 - pow(2.0 * dev.dy2
                                         / (9.0 * mad.mady4), 2), 2)
                             * 1000000) AS BIGINT)
                        ELSE 0 END AS wy
            FROM dev JOIN mad USING (g)
        ),
        s AS (
            SELECT g,
                   CAST(sum(CAST(dx2 * wx AS HUGEINT)
                            * (dy2 * wy)) AS DOUBLE) AS sxy,
                   CAST(sum(CAST(dx2 * wx AS HUGEINT)
                            * (dx2 * wx)) AS DOUBLE) AS sxx,
                   CAST(sum(CAST(dy2 * wy AS HUGEINT)
                            * (dy2 * wy)) AS DOUBLE) AS syy,
                   CAST(count(*) AS BIGINT) AS n_rows
            FROM wq GROUP BY 1
        )
        SELECT g AS l_returnflag,
               CASE WHEN sxx > 0 AND syy > 0
                    THEN round(sxy / sqrt(sxx * syy), 6) END AS bicor,
               n_rows
        FROM s ORDER BY 1
    """,
    doc="Biweight midcorrelation (median/MAD-based robust Pearson) of "
    "price vs quantity per return flag — 50%-breakdown correlation "
    "with Tukey biweights on a quantized exact-integer lattice, so "
    "the whole statistic is oracle-able bit-for-bit.",
)
def q_corr_bicor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bicor = Σãb̃/√(Σã²·Σb̃²) with ã = (x−med)·(1−u²)²·1{|u|<1},
    u = (x−med)/(9·MAD) — the robust correlation WGCNA popularized:
    outliers get weight →0 instead of dominating the covariance.

    Exactness scheme: medians and MADs ride the 2×-scale integer trick
    (2·med and 4·MAD are exact integers for integer inputs), so u is a
    bit-identical float on both engines; the Tukey weight then
    QUANTIZES to an integer lattice (round(w·1e6)) — identical on both
    engines because the inputs are bit-identical — and every sum in
    the statistic is an exact HUGEINT/decimal accumulation of
    (dev·weight) integer products. bicor is scale-invariant, so the 2×
    and 1e6 factors cancel; one float chain at the end, 6 dp. Groups
    where MAD=0 or a weighted variance vanishes yield NULL (CASE
    spelled identically both sides).

    Scale shape: two group-percentile passes (median, then MAD of
    deviations) each broadcast back as a k-row table, then ONE
    map-side-combinable aggregate of three product sums — the robust
    family costs two extra bounded reductions over q_corr_weighted."""
    t = load_tables(spark, sf_dir)
    x = t["lineitem"].select(
        F.col("l_returnflag").alias("g"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("xc"),
        F.round(F.col("l_quantity"), 0).cast("long").alias("yc"),
    )
    return bicor_frame(x).select(
        F.col("g").alias("l_returnflag"), "bicor", "n_rows"
    ).orderBy("l_returnflag")


def bicor_frame(x: DataFrame) -> DataFrame:
    """Biweight midcorrelation over a ``(g, xc, yc)`` frame of
    integer-quantized pairs — the exactness scheme q_corr_bicor
    documents (2×-scale integer medians/MADs ⇒ bit-identical Tukey
    weights ⇒ quantized-integer weighted sums). Returns
    (g, bicor, bicor_raw, n_rows); the q_corr_bicor key and
    api.correlate(method='bicor') both consume this engine."""
    med = x.groupBy("g").agg(
        F.round(2 * F.percentile(F.col("xc"), F.lit(0.5)), 0)
        .cast("long")
        .alias("mx2"),
        F.round(2 * F.percentile(F.col("yc"), F.lit(0.5)), 0)
        .cast("long")
        .alias("my2"),
    )
    # materialize() the deviation table (round 16, §2.4): the MAD
    # percentile pass and the weighted-sum pass both consume it, and
    # without the pin each re-ran the caller's input scan + the median
    # broadcast join. The median→MAD two-pass itself is inherent to
    # the statistic; the pin just stops pass two from repeating pass
    # one's work. Row-identical output.
    dev = materialize(
        x.join(F.broadcast(med), "g").select(
            "g",
            (2 * F.col("xc") - F.col("mx2")).alias("dx2"),
            (2 * F.col("yc") - F.col("my2")).alias("dy2"),
        )
    )
    mad = dev.groupBy("g").agg(
        F.round(2 * F.percentile(F.abs(F.col("dx2")), F.lit(0.5)), 0)
        .cast("long")
        .alias("madx4"),
        F.round(2 * F.percentile(F.abs(F.col("dy2")), F.lit(0.5)), 0)
        .cast("long")
        .alias("mady4"),
    )

    def wquant(d2: str, m4: str) -> F.Column:
        u = 2.0 * F.col(d2) / (9.0 * F.col(m4))
        w = F.pow(1 - F.pow(u, 2), 2)
        return (
            F.when(
                (F.col(m4) > 0) & (F.abs(u) < 1),
                F.round(w * 1000000, 0).cast("long"),
            ).otherwise(F.lit(0))
        )

    wq = dev.join(F.broadcast(mad), "g").select(
        "g", "dx2", "dy2",
        wquant("dx2", "madx4").alias("wx"),
        wquant("dy2", "mady4").alias("wy"),
    )
    dec = "decimal(38,0)"
    s = wq.groupBy("g").agg(
        F.sum(
            (F.col("dx2") * F.col("wx")).cast(dec)
            * (F.col("dy2") * F.col("wy"))
        )
        .cast("double")
        .alias("sxy"),
        F.sum(
            (F.col("dx2") * F.col("wx")).cast(dec)
            * (F.col("dx2") * F.col("wx"))
        )
        .cast("double")
        .alias("sxx"),
        F.sum(
            (F.col("dy2") * F.col("wy")).cast(dec)
            * (F.col("dy2") * F.col("wy"))
        )
        .cast("double")
        .alias("syy"),
        F.count("*").alias("n_rows"),
    )
    raw = F.col("sxy") / F.sqrt(F.col("sxx") * F.col("syy"))
    ok = (F.col("sxx") > 0) & (F.col("syy") > 0)
    return s.select(
        "g",
        F.when(ok, F.round(raw, 6)).alias("bicor"),
        F.when(ok, raw).alias("bicor_raw"),
        "n_rows",
    )


@query(
    "q_ols_dw",
    oracle="""
        WITH daily AS (
            SELECT event_type AS grp,
                   CAST(date_trunc('day', ts) AS TIMESTAMP) AS d,
                   CAST(sum(CAST(round(value * 1000000) AS BIGINT))
                        AS BIGINT) AS y
            FROM events GROUP BY 1, 2
        ),
        anchor AS (SELECT min(d) AS d0 FROM daily),
        pts AS (
            SELECT grp, CAST(date_diff('day', d0, d) AS BIGINT) AS t, y
            FROM daily CROSS JOIN anchor
        ),
        s AS (
            SELECT grp,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(t) AS BIGINT) AS st,
                   CAST(sum(t * t) AS BIGINT) AS stt,
                   CAST(sum(y) AS BIGINT) AS sy,
                   CAST(sum(t * y) AS BIGINT) AS sty
            FROM pts GROUP BY 1
        ),
        coef AS (
            SELECT grp, n,
                   CAST(CAST(n AS HUGEINT) * sty
                        - CAST(st AS HUGEINT) * sy AS DOUBLE)
                   / CAST(CAST(n AS HUGEINT) * stt
                          - CAST(st AS HUGEINT) * st AS DOUBLE) AS b,
                   CAST(sy AS DOUBLE) / n AS ybar,
                   CAST(st AS DOUBLE) / n AS tbar
            FROM s
        ),
        res AS (
            SELECT pts.grp, pts.t,
                   pts.y - (coef.ybar + coef.b * (pts.t - coef.tbar)) AS e
            FROM pts JOIN coef USING (grp)
        ),
        lagged AS (
            SELECT grp, e,
                   lag(e) OVER (PARTITION BY grp ORDER BY t) AS ep
            FROM res
        )
        SELECT grp AS event_type,
               round(sum((e - ep) * (e - ep)) FILTER (WHERE ep IS NOT NULL)
                     / sum(e * e), 6) AS dw,
               CAST(count(*) AS BIGINT) AS n_days
        FROM lagged GROUP BY 1
    """,
    doc="Durbin-Watson residual autocorrelation per event type — the "
    "diagnostic that validates q_ols_daily's independence assumption "
    "(DW≈2 none, →0 positive, →4 negative serial correlation); "
    "residuals from bit-identical OLS coefficients over exact sums.",
)
def q_ols_dw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DW = Σ(eₜ−eₜ₋₁)²/Σeₜ² over day-ordered residuals of the same
    OLS fit as q_ols_daily. The coefficients come from exact integer
    power sums through one identical float chain, so every residual is
    a bit-identical double on both engines; the two quadratic sums run
    over ≤ #days bit-identical terms and the O(1) ratio absorbs the
    ulp-level ordering drift at 6 dp (rule-3 headroom — the q_corr_eta
    precedent, over the bounded day domain).

    Scale shape: one (type, day) aggregate over the scan, a k-row
    coefficient reduction broadcast back, one day-ordered lag window
    per type — all bounded by time × type at any data size."""
    t = load_tables(spark, sf_dir)
    daily = (
        t["events"]
        .select(
            F.col("event_type").alias("grp"),
            F.date_trunc("day", F.col("ts").cast("timestamp")).alias("d"),
            F.round(F.col("value") * 1000000, 0).cast("long").alias("micro"),
        )
        .groupBy("grp", "d")
        .agg(F.sum("micro").cast("bigint").alias("y"))
    )
    dec = "decimal(38,0)"
    anchor = daily.agg(F.min("d").alias("d0"))
    pts = daily.crossJoin(F.broadcast(anchor)).select(
        "grp",
        F.datediff(F.col("d"), F.col("d0")).cast("bigint").alias("t"),
        "y",
    )
    s = pts.groupBy("grp").agg(
        F.count("*").alias("n"),
        F.sum("t").cast("bigint").alias("st"),
        F.sum(F.col("t") * F.col("t")).cast("bigint").alias("stt"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("t") * F.col("y")).cast("bigint").alias("sty"),
    )
    coef = s.select(
        "grp", "n",
        (
            (
                F.col("n").cast(dec) * F.col("sty").cast(dec)
                - F.col("st").cast(dec) * F.col("sy").cast(dec)
            ).cast("double")
            / (
                F.col("n").cast(dec) * F.col("stt").cast(dec)
                - F.col("st").cast(dec) * F.col("st").cast(dec)
            ).cast("double")
        ).alias("b"),
        (F.col("sy").cast("double") / F.col("n")).alias("ybar"),
        (F.col("st").cast("double") / F.col("n")).alias("tbar"),
    )
    res = pts.join(F.broadcast(coef), "grp").select(
        "grp", "t",
        (
            F.col("y")
            - (F.col("ybar") + F.col("b") * (F.col("t") - F.col("tbar")))
        ).alias("e"),
    )
    w = Window.partitionBy("grp").orderBy("t")
    lagged = res.select("grp", "e", F.lag("e").over(w).alias("ep"))
    return lagged.groupBy("grp").agg(
        F.round(
            F.sum(
                F.when(
                    F.col("ep").isNotNull(),
                    (F.col("e") - F.col("ep")) * (F.col("e") - F.col("ep")),
                )
            )
            / F.sum(F.col("e") * F.col("e")),
            6,
        ).alias("dw"),
        F.count("*").alias("n_days"),
    ).select(F.col("grp").alias("event_type"), "dw", "n_days")


def holt_linear(daily: DataFrame, alpha: float = 0.3,
                beta: float = 0.1) -> DataFrame:
    """Holt's linear (double exponential) smoothing per group over a
    ``(grp, t, y)`` frame: level/trend recursion
    lₜ = αyₜ + (1−α)(lₜ₋₁+bₜ₋₁), bₜ = β(lₜ−lₜ₋₁) + (1−β)bₜ₋₁,
    initialized l₀=y₀, b₀=y₁−y₀. Returns (grp, level, trend,
    forecast_1, n_periods) with forecast_1 = lₜ + bₜ (one-step-ahead).

    The recursion is SEQUENTIAL per group, so it runs as ONE JVM-side
    F.aggregate fold over the day-ordered (t, y) array collected per
    group — the q_pack_bpe / greedy-fold discipline: the array is the
    PERIOD table (bounded by the calendar, never by data size), the
    fold is whole-stage-codegen'd expression evaluation, and no Python
    touches the path. Groups with < 2 periods yield NULLs (the trend
    seed needs two points)."""
    arr = (
        daily.groupBy("grp")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("t"), F.col("y")))
            ).alias("pts"),
            F.count("*").alias("n_periods"),
        )
    )
    a, b = float(alpha), float(beta)
    init = F.struct(
        F.element_at("pts", 1)["y"].cast("double").alias("l"),
        (
            F.element_at("pts", 2)["y"] - F.element_at("pts", 1)["y"]
        ).cast("double").alias("b"),
        F.lit(0).alias("i"),
    )
    fold = F.aggregate(
        F.slice(F.col("pts"), 2, F.greatest(F.size("pts") - 1, F.lit(0))),
        init,
        lambda acc, p: F.struct(
            (a * p["y"] + (1 - a) * (acc["l"] + acc["b"])).alias("l"),
            (
                b * ((a * p["y"] + (1 - a) * (acc["l"] + acc["b"]))
                     - acc["l"])
                + (1 - b) * acc["b"]
            ).alias("b"),
            (acc["i"] + 1).alias("i"),
        ),
    )
    out = arr.withColumn(
        "_h", F.when(F.size("pts") >= 2, fold)
    )
    return out.select(
        "grp",
        F.round(F.col("_h")["l"], 6).alias("level"),
        F.round(F.col("_h")["b"], 6).alias("trend"),
        F.round(F.col("_h")["l"] + F.col("_h")["b"], 6)
        .alias("forecast_1"),
        "n_periods",
    )


@query(
    "q_ts_holt",
    rows_only_reason="the level/trend recursion is a sequential fold with "
    "a two-field state — no SQL-window equivalent exists and DuckDB's "
    "list_reduce cannot carry a struct accumulator; the recursion is "
    "property-tested against a driver-side Python replay in "
    "tests/test_rowsonly.py.",
    doc="Holt's linear (double exponential) smoothing of daily totals "
    "per event type — level + trend state and the one-step-ahead "
    "forecast, completing the forecasting family (seasonal-naive "
    "baseline, OLS line, EWMA level, Holt level+trend).",
)
def q_ts_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See holt_linear: the recursion folds JVM-side over the bounded
    per-group period array (calendar-bounded, never data-bounded); the
    scan→(type,day) aggregate is the only corpus-sized stage. α=0.3,
    β=0.1 — the conventional smoothing defaults."""
    t = load_tables(spark, sf_dir)
    daily = (
        t["events"]
        .select(
            F.col("event_type").alias("grp"),
            F.date_trunc("day", F.col("ts").cast("timestamp")).alias("d"),
            F.round(F.col("value") * 1000000, 0).cast("long").alias("micro"),
        )
        .groupBy("grp", "d")
        .agg(F.sum("micro").cast("bigint").alias("y"))
        .select(
            "grp",
            F.row_number()
            .over(Window.partitionBy("grp").orderBy("d"))
            .cast("long")
            .alias("t"),
            (F.col("y").cast("double") / 1000000.0).alias("y"),
        )
    )
    return holt_linear(daily).select(
        F.col("grp").alias("event_type"),
        "level", "trend", "forecast_1", "n_periods",
    )


@query(
    "q_jarque_bera",
    oracle="""
        WITH x AS (
            SELECT o_orderstatus,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS cents
            FROM orders
        ),
        s AS (
            SELECT o_orderstatus,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CAST(cents AS HUGEINT)) AS DOUBLE) AS s1,
                   CAST(sum(CAST(cents AS HUGEINT) * cents) AS DOUBLE) AS s2,
                   CAST(sum(CAST(cents AS HUGEINT) * cents * cents)
                        AS DOUBLE) AS s3,
                   CAST(sum(CAST(cents AS HUGEINT) * cents * cents * cents)
                        AS DOUBLE) AS s4
            FROM x GROUP BY 1
        ),
        m AS (
            SELECT o_orderstatus, n,
                   s2 / n - (s1 / n) * (s1 / n) AS m2,
                   s3 / n - 3 * (s1 / n) * (s2 / n)
                          + 2 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
                   s4 / n - 4 * (s1 / n) * (s3 / n)
                          + 6 * (s1 / n) * (s1 / n) * (s2 / n)
                          - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n)
                       AS m4
            FROM s
        ),
        k AS (
            SELECT o_orderstatus, n,
                   m3 / power(m2, 1.5) AS skew,
                   m4 / (m2 * m2) - 3 AS kurt
            FROM m
        ),
        j AS (
            SELECT o_orderstatus, n, skew, kurt,
                   n / 6.0 * (skew * skew + kurt * kurt / 4) AS jb
            FROM k
        )
        SELECT o_orderstatus,
               round(jb, 6) AS jb_stat,
               round(exp(-jb / 2), 6) AS p_value,
               round(skew, 6) AS skewness,
               round(kurt, 6) AS kurtosis_excess,
               n AS n_rows
        FROM j ORDER BY o_orderstatus
    """,
    doc="Jarque-Bera normality test per order status from exact integer "
    "power sums; the chi-square(2) tail is exactly exp(-JB/2), so even "
    "the p-value is oracle-checkable with no special functions.",
)
def q_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera omnibus normality test: JB = n/6·(S² + K²/4) with S,
    K from the same exact-integer power-sum lattice as q_agg_moments
    (2-dp money → int cents, Σx..Σx⁴ in decimal(38,0)/HUGEINT — both
    engines hand the SAME integers to one identical float tree). Under
    H0, JB ~ χ²(2), whose survival function is exactly exp(-JB/2) — a
    closed form both engines evaluate identically, so the p-value rides
    the oracle hash too.

    Scale shape: ONE map-side-combinable grouped aggregate (the four
    power sums share the shuffle a plain count/avg would use); the
    moment expansion and test statistic are per-group scalar math."""
    t = load_tables(spark, sf_dir)
    c = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    x = t["orders"].select("o_orderstatus", c.alias("cents"))
    cd = F.col("cents").cast("decimal(38,0)")
    s = x.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum(cd).cast("double").alias("s1"),
        F.sum(cd * F.col("cents")).cast("double").alias("s2"),
        F.sum(cd * F.col("cents") * F.col("cents")).cast("double").alias("s3"),
        F.sum(cd * F.col("cents") * F.col("cents") * F.col("cents"))
        .cast("double")
        .alias("s4"),
    )
    n = F.col("n")
    mu = F.col("s1") / n
    m2 = F.col("s2") / n - mu * mu
    m3 = F.col("s3") / n - 3 * mu * (F.col("s2") / n) + 2 * mu * mu * mu
    m4 = (
        F.col("s4") / n
        - 4 * mu * (F.col("s3") / n)
        + 6 * mu * mu * (F.col("s2") / n)
        - 3 * mu * mu * mu * mu
    )
    k = s.select(
        "o_orderstatus",
        "n",
        (m3 / F.pow(m2, 1.5)).alias("skew"),
        (m4 / (m2 * m2) - 3).alias("kurt"),
    )
    jb = F.col("n") / 6.0 * (
        F.col("skew") * F.col("skew") + F.col("kurt") * F.col("kurt") / 4
    )
    return (
        k.select("o_orderstatus", "n", "skew", "kurt", jb.alias("jb"))
        .select(
            "o_orderstatus",
            F.round("jb", 6).alias("jb_stat"),
            F.round(F.exp(-F.col("jb") / 2), 6).alias("p_value"),
            F.round("skew", 6).alias("skewness"),
            F.round("kurt", 6).alias("kurtosis_excess"),
            F.col("n").alias("n_rows"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "q_cohens_d",
    oracle="""
        WITH x AS (
            SELECT o_orderstatus AS g,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS cents
            FROM orders WHERE o_orderstatus IN ('F', 'O')
        ),
        a AS (
            SELECT CAST(count(*) FILTER (WHERE g = 'F') AS BIGINT) AS n1,
                   CAST(count(*) FILTER (WHERE g = 'O') AS BIGINT) AS n2,
                   CAST(sum(CAST(cents AS HUGEINT)) FILTER (WHERE g = 'F')
                        AS DOUBLE) AS s1,
                   CAST(sum(CAST(cents AS HUGEINT)) FILTER (WHERE g = 'O')
                        AS DOUBLE) AS s2,
                   CAST(sum(CAST(cents AS HUGEINT) * cents)
                        FILTER (WHERE g = 'F') AS DOUBLE) AS q1,
                   CAST(sum(CAST(cents AS HUGEINT) * cents)
                        FILTER (WHERE g = 'O') AS DOUBLE) AS q2
            FROM x
        ),
        b AS (
            SELECT n1, n2, s1 / n1 AS m1, s2 / n2 AS m2,
                   (q1 - s1 * s1 / n1) / (n1 - 1) AS v1,
                   (q2 - s2 * s2 / n2) / (n2 - 1) AS v2
            FROM a
        ),
        c AS (
            SELECT n1, n2, m1, m2,
                   sqrt(((n1 - 1) * v1 + (n2 - 1) * v2)
                        / (n1 + n2 - 2)) AS sp
            FROM b
        )
        SELECT round((m1 - m2) / sp, 6) AS cohens_d,
               round((m1 - m2) / sp
                     * (1 - 3.0 / (4 * (n1 + n2) - 9)), 6) AS hedges_g,
               round((m1 - m2) / 100, 6) AS mean_diff,
               round(sp / 100, 6) AS pooled_sd,
               n1 AS n_f, n2 AS n_o
    FROM c
    """,
    doc="Cohen's d pooled-variance effect size (with the Hedges' g "
    "small-sample correction) between the F and O order-value samples "
    "— the magnitude companion to q_ttest_welch's significance.",
)
def q_cohens_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standardized mean difference d = (m1−m2)/s_pooled with
    s_pooled² = ((n1−1)v1 + (n2−1)v2)/(n1+n2−2), plus Hedges'
    g = d·(1 − 3/(4N−9)). A t-test says WHETHER the F and O order-value
    means differ (q_ttest_welch); the effect size says HOW MUCH in sd
    units — the pair every A/B readout needs. Moments come from the
    exact integer-cents power sums, one identical float tree per engine.

    Scale shape: one scan, one global aggregate (conditional sums —
    map-side combinable); everything after is scalar math on one row."""
    t = load_tables(spark, sf_dir)
    x = t["orders"].filter(F.col("o_orderstatus").isin("F", "O")).select(
        F.col("o_orderstatus").alias("g"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    cd = F.col("cents").cast("decimal(38,0)")
    isf = F.col("g") == "F"
    iso = F.col("g") == "O"
    a = x.agg(
        F.count(F.when(isf, 1)).alias("n1"),
        F.count(F.when(iso, 1)).alias("n2"),
        F.sum(F.when(isf, cd)).cast("double").alias("s1"),
        F.sum(F.when(iso, cd)).cast("double").alias("s2"),
        F.sum(F.when(isf, cd * F.col("cents"))).cast("double").alias("q1"),
        F.sum(F.when(iso, cd * F.col("cents"))).cast("double").alias("q2"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    b = a.select(
        "n1", "n2",
        (F.col("s1") / n1).alias("m1"),
        (F.col("s2") / n2).alias("m2"),
        ((F.col("q1") - F.col("s1") * F.col("s1") / n1) / (n1 - 1)).alias("v1"),
        ((F.col("q2") - F.col("s2") * F.col("s2") / n2) / (n2 - 1)).alias("v2"),
    )
    c = b.select(
        "n1", "n2", "m1", "m2",
        F.sqrt(
            ((n1 - 1) * F.col("v1") + (n2 - 1) * F.col("v2")) / (n1 + n2 - 2)
        ).alias("sp"),
    )
    d = (F.col("m1") - F.col("m2")) / F.col("sp")
    return c.select(
        F.round(d, 6).alias("cohens_d"),
        F.round(d * (1 - 3.0 / (4 * (n1 + n2) - 9)), 6).alias("hedges_g"),
        F.round((F.col("m1") - F.col("m2")) / 100, 6).alias("mean_diff"),
        F.round(F.col("sp") / 100, 6).alias("pooled_sd"),
        n1.alias("n_f"),
        n2.alias("n_o"),
    )


@query(
    "q_corr_gamma",
    oracle="""
        WITH daily AS (
            SELECT CAST(epoch_us(date_trunc('day', ts)) // 86400000000
                        AS BIGINT) AS dn,
                   round(avg(CASE WHEN event_type = 'click'
                                  THEN value END), 6)    AS x,
                   round(avg(CASE WHEN event_type = 'purchase'
                                  THEN value END), 6)    AS y
            FROM events
            WHERE event_type IN ('click', 'purchase')
            GROUP BY 1
        ), s AS (SELECT dn, x, y FROM daily
                 WHERE x IS NOT NULL AND y IS NOT NULL),
        p AS (
            SELECT CASE WHEN (a.x - b.x) * (a.y - b.y) > 0 THEN 1
                        ELSE 0 END                          AS c,
                   CASE WHEN (a.x - b.x) * (a.y - b.y) < 0 THEN 1
                        ELSE 0 END                          AS d,
                   CASE WHEN a.x = b.x AND a.y <> b.y THEN 1
                        ELSE 0 END                          AS tx,
                   CASE WHEN a.y = b.y AND a.x <> b.x THEN 1
                        ELSE 0 END                          AS ty
            FROM s a JOIN s b ON a.dn < b.dn
        )
        SELECT round(CAST(sum(c) - sum(d) AS DOUBLE)
                     / nullif(sum(c) + sum(d), 0), 6)       AS gamma,
               round(CAST(sum(c) - sum(d) AS DOUBLE)
                     / nullif(sum(c) + sum(d) + sum(ty), 0), 6)
                                                            AS somers_d_yx,
               round(CAST(sum(c) - sum(d) AS DOUBLE)
                     / nullif(sum(c) + sum(d) + sum(tx), 0), 6)
                                                            AS somers_d_xy,
               CAST(sum(c) AS BIGINT)                       AS concordant,
               CAST(sum(d) AS BIGINT)                       AS discordant,
               count(*)                                     AS n_pairs
        FROM p
    """,
    doc="Goodman-Kruskal gamma and both Somers' D asymmetries from the "
    "same concordant/discordant pair counts as Kendall tau-b — the "
    "ordinal-association family completed.",
)
def q_corr_gamma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordinal association beyond tau-b: gamma = (C−D)/(C+D) ignores
    ties entirely; Somers' D penalizes ties on the DEPENDENT variable
    only — d_yx = (C−D)/(C+D+T_y), d_xy symmetric — making it the
    directed effect-size companion (gamma ≥ |d| always). Same
    grain-aggregate-then-pair-count shape as q_corr_kendall: the only
    full-data pass is the day-grain aggregation; the O(n²) self-join
    runs on the ~days-row series where n² is a small constant. Tie
    classes use exact equality on 6-dp-rounded daily means, so both
    engines count identical integer C/D/T cells."""
    t = load_tables(spark, sf_dir)
    dn = (F.unix_micros(F.date_trunc("day", F.col("ts"))) / F.lit(86400000000)).cast(
        "bigint"
    )
    daily = (
        t["events"]
        .filter(F.col("event_type").isin("click", "purchase"))
        .groupBy(dn.alias("dn"))
        .agg(
            F.round(
                F.avg(F.when(F.col("event_type") == "click", F.col("value"))), 6
            ).alias("x"),
            F.round(
                F.avg(F.when(F.col("event_type") == "purchase", F.col("value"))), 6
            ).alias("y"),
        )
        .filter(F.col("x").isNotNull() & F.col("y").isNotNull())
    )
    a, b = daily.alias("a"), daily.alias("b")
    dxdy = (F.col("a.x") - F.col("b.x")) * (F.col("a.y") - F.col("b.y"))
    pairs = a.join(b, F.col("a.dn") < F.col("b.dn")).select(
        F.when(dxdy > 0, 1).otherwise(0).alias("c"),
        F.when(dxdy < 0, 1).otherwise(0).alias("d"),
        F.when(
            (F.col("a.x") == F.col("b.x")) & (F.col("a.y") != F.col("b.y")), 1
        )
        .otherwise(0)
        .alias("tx"),
        F.when(
            (F.col("a.y") == F.col("b.y")) & (F.col("a.x") != F.col("b.x")), 1
        )
        .otherwise(0)
        .alias("ty"),
    )
    cd_num = (F.sum("c") - F.sum("d")).cast("double")
    return pairs.agg(
        F.round(
            cd_num / F.nullif((F.sum("c") + F.sum("d")).cast("bigint"), F.lit(0)), 6
        ).alias("gamma"),
        F.round(
            cd_num
            / F.nullif(
                (F.sum("c") + F.sum("d") + F.sum("ty")).cast("bigint"), F.lit(0)
            ),
            6,
        ).alias("somers_d_yx"),
        F.round(
            cd_num
            / F.nullif(
                (F.sum("c") + F.sum("d") + F.sum("tx")).cast("bigint"), F.lit(0)
            ),
            6,
        ).alias("somers_d_xy"),
        F.sum("c").cast("bigint").alias("concordant"),
        F.sum("d").cast("bigint").alias("discordant"),
        F.count("*").alias("n_pairs"),
    )


@query(
    "q_ts_interpolate",
    oracle="""
        WITH hourly AS (
            SELECT event_type, date_trunc('hour', ts) AS hr,
                   round((CAST(sum(CAST(round(value * 1000000) AS BIGINT))
                               AS DOUBLE) / 1000000) / count(value), 6) AS v
            FROM events GROUP BY 1, 2
        ),
        rng AS (SELECT min(hr) AS lo, max(hr) AS hi FROM hourly),
        spine AS (
            SELECT t.event_type,
                   unnest(generate_series(rng.lo, rng.hi,
                                          INTERVAL 1 HOUR)) AS hr
            FROM (SELECT DISTINCT event_type FROM hourly) t CROSS JOIN rng
        ),
        j AS (
            SELECT s.event_type, s.hr,
                   CAST(epoch_us(s.hr) // 3600000000 AS BIGINT) AS hn,
                   CAST(round(h.v * 1000000) AS BIGINT) AS vi
            FROM spine s
            LEFT JOIN hourly h
              ON h.event_type = s.event_type AND h.hr = s.hr
        ),
        b AS (
            SELECT event_type, hr, vi,
                   last_value(vi IGNORE NULLS)
                     OVER (PARTITION BY event_type ORDER BY hn
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS pv,
                   last_value(CASE WHEN vi IS NOT NULL THEN hn END
                              IGNORE NULLS)
                     OVER (PARTITION BY event_type ORDER BY hn
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS ph,
                   first_value(vi IGNORE NULLS)
                     OVER (PARTITION BY event_type ORDER BY hn
                           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                     AS nv,
                   first_value(CASE WHEN vi IS NOT NULL THEN hn END
                               IGNORE NULLS)
                     OVER (PARTITION BY event_type ORDER BY hn
                           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                     AS nh,
                   hn
            FROM j
        )
        SELECT event_type, hr,
               round(CASE
                   WHEN vi IS NOT NULL THEN CAST(vi AS DOUBLE) / 1000000
                   WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
                       (CAST(pv AS DOUBLE)
                        + CAST(nv - pv AS DOUBLE) * (hn - ph) / (nh - ph))
                       / 1000000
               END, 6) AS v_interp,
               vi IS NULL AS was_gap
        FROM b
    """,
    doc="Per-type linear interpolation of missing hours between the "
    "bracketing observations — the unbiased sibling of q_ts_fill_grouped's "
    "forward-fill; exact micro-integer anchors, one shared float tree.",
)
def q_ts_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear gap interpolation on the shared hourly spine: each missing
    hour gets pv + (nv−pv)·(h−h_prev)/(h_next−h_prev) from the nearest
    observed anchors on either side (IGNORE-NULLS windows both ways);
    hours before the first / after the last observation stay NULL —
    LOCF (q_ts_fill_grouped) biases a gap toward its left edge, linear
    interpolation splits it, and resampling pipelines offer both.
    Anchor values are EXACT micro-unit integers (re-quantized from the
    6-dp hourly means both engines already agree on) and hour indices
    are exact epoch-hour integers, so the single interpolation float
    tree runs on identical inputs in both engines.

    Scale shape: identical to the fill key — raw scan collapses to
    (type × hour) grain first, the spine is a broadcast cross of
    distinct types × one min/max row, and all four anchor windows run
    over the SAME per-type ordering (one window exchange, time-domain
    sized)."""
    t = load_tables(spark, sf_dir)
    hourly = (
        t["events"]
        .groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("hr")
        )
        .agg(_exact_mean_micro(F.col("value")).alias("v"))
    )
    rng = hourly.agg(F.min("hr").alias("lo"), F.max("hr").alias("hi"))
    types = hourly.select("event_type").distinct()
    spine = types.crossJoin(F.broadcast(rng)).select(
        "event_type",
        F.explode(
            F.sequence("lo", "hi", F.expr("interval 1 hour"))
        ).alias("hr"),
    )
    j = spine.join(hourly, ["event_type", "hr"], "left").select(
        "event_type",
        "hr",
        F.expr("unix_micros(hr) div 3600000000").alias("hn"),
        F.round(F.col("v") * 1000000, 0).cast("long").alias("vi"),
    )
    wp = (
        Window.partitionBy("event_type")
        .orderBy("hn")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = (
        Window.partitionBy("event_type")
        .orderBy("hn")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_hn = F.when(F.col("vi").isNotNull(), F.col("hn"))
    b = j.select(
        "event_type",
        "hr",
        "hn",
        "vi",
        F.last("vi", ignorenulls=True).over(wp).alias("pv"),
        F.last(obs_hn, ignorenulls=True).over(wp).alias("ph"),
        F.first("vi", ignorenulls=True).over(wn).alias("nv"),
        F.first(obs_hn, ignorenulls=True).over(wn).alias("nh"),
    )
    interp = (
        F.col("pv").cast("double")
        + (F.col("nv") - F.col("pv")).cast("double")
        * (F.col("hn") - F.col("ph"))
        / (F.col("nh") - F.col("ph"))
    ) / 1000000
    return b.select(
        "event_type",
        "hr",
        F.round(
            F.when(
                F.col("vi").isNotNull(), F.col("vi").cast("double") / 1000000
            ).when(
                F.col("pv").isNotNull() & F.col("nv").isNotNull(), interp
            ),
            6,
        ).alias("v_interp"),
        F.col("vi").isNull().alias("was_gap"),
    )


def holt_winters_additive(
    daily: DataFrame,
    alpha: float = 0.3,
    beta: float = 0.1,
    gamma: float = 0.2,
    m: int = 7,
) -> DataFrame:
    """Holt-Winters ADDITIVE seasonal smoothing per group over a
    ``(grp, t, y)`` frame — the seasonal extension of holt_linear:

        lₜ = α(yₜ − sₜ₋ₘ) + (1−α)(lₜ₋₁ + bₜ₋₁)
        bₜ = β(lₜ − lₜ₋₁) + (1−β)bₜ₋₁
        sₜ = γ(yₜ − lₜ) + (1−γ)sₜ₋ₘ

    Initialization (the textbook two-season seed): l₀ = mean(y₁..yₘ),
    b₀ = (mean(yₘ₊₁..y₂ₘ) − mean(y₁..yₘ))/m, sⱼ = yⱼ − l₀ for the
    first season; the recursion folds over t = m+1..n. Groups with
    fewer than 2m periods yield NULLs.

    The seasonal state is an m-slot CIRCULAR buffer carried inside the
    fold accumulator struct and updated with an indexed transform() —
    still one JVM-side F.aggregate over the calendar-bounded period
    array (the holt_linear / greedy-fold discipline): no Python on the
    path, driver state bounded, the only corpus-sized stage is the
    upstream grain aggregation. Returns (grp, level, trend,
    season_next, forecast_1, n_periods) with forecast_1 =
    l + b + s_next."""
    arr = daily.groupBy("grp").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("t"), F.col("y")))
        ).alias("pts"),
        F.count("*").alias("n_periods"),
    )
    a, bta, g = float(alpha), float(beta), float(gamma)
    mean1 = (
        F.aggregate(
            F.slice("pts", 1, m), F.lit(0.0), lambda acc, p: acc + p["y"]
        )
        / float(m)
    )
    mean2 = (
        F.aggregate(
            F.slice("pts", m + 1, m), F.lit(0.0), lambda acc, p: acc + p["y"]
        )
        / float(m)
    )
    init = F.struct(
        mean1.alias("l"),
        ((mean2 - mean1) / float(m)).alias("b"),
        F.transform(
            F.slice("pts", 1, m), lambda p: p["y"].cast("double") - mean1
        ).alias("s"),
        F.lit(m).alias("i"),
    )

    def step(acc, p):
        slot = acc["i"] % m  # 0-based slot of the season lag sₜ₋ₘ
        sold = F.element_at(acc["s"], slot + 1)
        lnew = a * (p["y"] - sold) + (1 - a) * (acc["l"] + acc["b"])
        bnew = bta * (lnew - acc["l"]) + (1 - bta) * acc["b"]
        snew = g * (p["y"] - lnew) + (1 - g) * sold
        return F.struct(
            lnew.alias("l"),
            bnew.alias("b"),
            F.transform(
                acc["s"],
                lambda x, j: F.when(j == slot, snew).otherwise(x),
            ).alias("s"),
            (acc["i"] + 1).alias("i"),
        )

    fold = F.aggregate(
        F.slice(F.col("pts"), m + 1, F.greatest(F.size("pts") - m, F.lit(0))),
        init,
        step,
    )
    out = arr.withColumn("_h", F.when(F.size("pts") >= 2 * m, fold))
    s_next = F.element_at(F.col("_h")["s"], (F.col("_h")["i"] % m) + 1)
    return out.select(
        "grp",
        F.round(F.col("_h")["l"], 6).alias("level"),
        F.round(F.col("_h")["b"], 6).alias("trend"),
        F.round(s_next, 6).alias("season_next"),
        F.round(F.col("_h")["l"] + F.col("_h")["b"] + s_next, 6).alias(
            "forecast_1"
        ),
        "n_periods",
    )


@query(
    "q_ts_holtwinters",
    rows_only_reason="the level/trend/season recursion is a sequential "
    "fold with an m-slot circular seasonal buffer — not expressible as "
    "window SQL either engine shares. A unit test replays the identical "
    "recursion in plain Python and matches every group to 6 dp "
    "(tests/test_rowsonly.py).",
    doc="Holt-Winters additive seasonal smoothing (m=7) per event type "
    "— level/trend/weekly-season state folded JVM-side; completes the "
    "forecasting family (naive/OLS/EWMA/Holt → seasonal Holt-Winters).",
)
def q_ts_holtwinters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See holt_winters_additive: α=0.3, β=0.1, γ=0.2, weekly season
    m=7 over the per-type daily micro-exact totals. The fixture's
    events span months of days per type, so every group clears the
    2m-period seed and exercises the circular-buffer fold."""
    t = load_tables(spark, sf_dir)
    daily = (
        t["events"]
        .select(
            F.col("event_type").alias("grp"),
            F.date_trunc("day", F.col("ts").cast("timestamp")).alias("d"),
            F.round(F.col("value") * 1000000, 0).cast("long").alias("micro"),
        )
        .groupBy("grp", "d")
        .agg(F.sum("micro").cast("bigint").alias("y"))
        .select(
            "grp",
            F.row_number()
            .over(Window.partitionBy("grp").orderBy("d"))
            .cast("long")
            .alias("t"),
            (F.col("y").cast("double") / 1000000.0).alias("y"),
        )
    )
    return holt_winters_additive(daily).select(
        F.col("grp").alias("event_type"),
        "level", "trend", "season_next", "forecast_1", "n_periods",
    )


@query(
    "q_ljung_box",
    oracle="""
        WITH daily AS (
            SELECT CAST(epoch_us(date_trunc('day', ts)) // 86400000000
                        AS BIGINT) AS dn,
                   round(avg(value), 6) AS v
            FROM events
            GROUP BY 1
        ), lagcorr AS (
            SELECT l.lag, round(corr(a.v, b.v), 6) AS acf
            FROM (SELECT unnest(range(1, 4)) AS lag) l
            JOIN daily a ON TRUE
            JOIN daily b ON b.dn = a.dn + l.lag
            GROUP BY 1
        ), r AS (
            SELECT max(CASE WHEN lag = 1 THEN acf END) AS r1,
                   max(CASE WHEN lag = 2 THEN acf END) AS r2,
                   max(CASE WHEN lag = 3 THEN acf END) AS r3,
                   (SELECT CAST(count(*) AS BIGINT) FROM daily) AS n
            FROM lagcorr
        )
        SELECT round(n * (n + 2.0)
                     * (r1*r1 / (n - 1) + r2*r2 / (n - 2)
                        + r3*r3 / (n - 3)), 6) AS q_stat,
               CAST(3 AS BIGINT) AS df,
               round(r1, 6) AS acf_1, round(r2, 6) AS acf_2,
               round(r3, 6) AS acf_3,
               n AS n_periods
        FROM r
    """,
    doc="Ljung-Box portmanteau statistic over lags 1..3 of the daily "
    "value series — the whiteness test pairing q_pacf's AR diagnostics "
    "and q_ols_dw's lag-1 Durbin-Watson.",
)
def q_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q = n(n+2) Σ_{k=1..h} ρ̂ₖ²/(n−k), h = 3, where ρ̂ₖ are the SAME
    round-6 lagged-Pearson estimates the q_pacf key pins (lag-joined on
    exact epoch-day integers — one day-grain pass, the lag spine
    broadcast). Under H0 (white noise) Q ~ χ²(h); the statistic and its
    df are reported and exactly oracle-checkable — the χ²(3) tail has
    no elementary closed form, so p-value evaluation stays in
    api.acf's Ljung-Box surface (incomplete-gamma, driver-side
    scalar). DW (lag-1, residuals) and LB (multi-lag, levels) together
    are the standard autocorrelation battery.

    Scale shape: identical to q_pacf — everything after the day-grain
    aggregate runs on ~|days| rows."""
    t = load_tables(spark, sf_dir)
    dn = (F.unix_micros(F.date_trunc("day", F.col("ts"))) / F.lit(86400000000)).cast(
        "bigint"
    )
    daily = (
        t["events"]
        .groupBy(dn.alias("dn"))
        .agg(F.round(F.avg("value"), 6).alias("v"))
    )
    lags = spark.range(1, 4).select(F.col("id").cast("bigint").alias("lag"))
    a, b = daily.alias("a"), daily.alias("b")
    acf = (
        F.broadcast(lags).crossJoin(a)
        .join(b, F.col("b.dn") == F.col("a.dn") + F.col("lag"))
        .groupBy("lag")
        .agg(_guarded_corr(F.col("a.v"), F.col("b.v")).alias("acf"))
    )
    n_tbl = daily.agg(F.count("*").alias("n"))
    r = acf.crossJoin(F.broadcast(n_tbl)).agg(
        F.max(F.when(F.col("lag") == 1, F.col("acf"))).alias("r1"),
        F.max(F.when(F.col("lag") == 2, F.col("acf"))).alias("r2"),
        F.max(F.when(F.col("lag") == 3, F.col("acf"))).alias("r3"),
        F.any_value("n").alias("n"),
    )
    return r.selectExpr(
        "round(n * (n + 2.0) * (r1*r1 / (n - 1) + r2*r2 / (n - 2)"
        " + r3*r3 / (n - 3)), 6) AS q_stat",
        "CAST(3 AS BIGINT) AS df",
        "round(r1, 6) AS acf_1", "round(r2, 6) AS acf_2",
        "round(r3, 6) AS acf_3",
        "n AS n_periods",
    )


@query(
    "q_ols_multi2",
    oracle="""
        WITH x AS (
            SELECT l_returnflag AS g,
                   CAST(round(l_quantity) AS BIGINT)            AS x1,
                   CAST(round(l_discount * 100) AS BIGINT)      AS x2,
                   CAST(round(l_extendedprice * 100) AS BIGINT) AS y
            FROM lineitem
        ),
        s AS (
            SELECT g, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CAST(x1 AS HUGEINT)) AS DOUBLE)      AS sx1,
                   CAST(sum(CAST(x2 AS HUGEINT)) AS DOUBLE)      AS sx2,
                   CAST(sum(CAST(y  AS HUGEINT)) AS DOUBLE)      AS sy,
                   CAST(sum(CAST(x1 AS HUGEINT) * x1) AS DOUBLE) AS sx11,
                   CAST(sum(CAST(x2 AS HUGEINT) * x2) AS DOUBLE) AS sx22,
                   CAST(sum(CAST(x1 AS HUGEINT) * x2) AS DOUBLE) AS sx12,
                   CAST(sum(CAST(x1 AS HUGEINT) * y)  AS DOUBLE) AS sx1y,
                   CAST(sum(CAST(x2 AS HUGEINT) * y)  AS DOUBLE) AS sx2y,
                   CAST(sum(CAST(y  AS HUGEINT) * y)  AS DOUBLE) AS syy
            FROM x GROUP BY 1
        ),
        c AS (
            SELECT g, n,
                   sx11 - sx1 * sx1 / n AS s11,
                   sx22 - sx2 * sx2 / n AS s22,
                   sx12 - sx1 * sx2 / n AS s12,
                   sx1y - sx1 * sy / n  AS s1y,
                   sx2y - sx2 * sy / n  AS s2y,
                   syy  - sy  * sy / n  AS stot,
                   sx1 / n AS mx1, sx2 / n AS mx2, sy / n AS my
            FROM s
        ),
        b AS (
            SELECT g, n, stot, s1y, s2y, mx1, mx2, my,
                   (s22 * s1y - s12 * s2y) / (s11 * s22 - s12 * s12) AS b1,
                   (s11 * s2y - s12 * s1y) / (s11 * s22 - s12 * s12) AS b2
            FROM c
        )
        SELECT g AS l_returnflag,
               round((my - b1 * mx1 - b2 * mx2) / 100, 6) AS intercept,
               round(b1 / 100, 6)                         AS b_quantity,
               round(b2 / 100, 6)                         AS b_discount_pct,
               round((b1 * s1y + b2 * s2y) / stot, 6)     AS r2,
               n AS n_rows
        FROM b ORDER BY g
    """,
    doc="Two-regressor OLS (extended price ~ quantity + discount) per "
    "return flag via closed-form normal equations from exact integer "
    "cross sums — multiple regression in ONE aggregate pass.",
)
def q_ols_multi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple linear regression without an iterative solver: for two
    regressors the normal equations close under Cramer's rule —
    b = S⁻¹·s with the 2×2 centered cross-moment matrix S — so the
    whole fit is ONE grouped aggregate of nine exact integer sums
    (quantity, discount-pct and price-cents lattices; HUGEINT /
    decimal(38,0) accumulators) followed by per-group scalar math. R²
    comes from the same sums (explained/total centered variation).
    Both engines run the identical Cramer float tree on identical
    integers — fully hash-stable, no matrix library involved.

    Scale shape: map-side-combinable partial sums on the group shuffle
    a plain count would use; the k=2 'solve' is constant work per
    group. (k regressors cost k(k+3)/2 sums — the same pattern holds
    for small fixed k; beyond that you'd hand the Gram matrix to a
    driver-side solve, still one pass.)"""
    t = load_tables(spark, sf_dir)
    x = t["lineitem"].select(
        F.col("l_returnflag").alias("g"),
        F.round(F.col("l_quantity"), 0).cast("long").alias("x1"),
        F.round(F.col("l_discount") * 100, 0).cast("long").alias("x2"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("y"),
    )
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    s = x.groupBy("g").agg(
        F.count("*").alias("n"),
        F.sum(d("x1")).cast("double").alias("sx1"),
        F.sum(d("x2")).cast("double").alias("sx2"),
        F.sum(d("y")).cast("double").alias("sy"),
        F.sum(d("x1") * F.col("x1")).cast("double").alias("sx11"),
        F.sum(d("x2") * F.col("x2")).cast("double").alias("sx22"),
        F.sum(d("x1") * F.col("x2")).cast("double").alias("sx12"),
        F.sum(d("x1") * F.col("y")).cast("double").alias("sx1y"),
        F.sum(d("x2") * F.col("y")).cast("double").alias("sx2y"),
        F.sum(d("y") * F.col("y")).cast("double").alias("syy"),
    )
    c = s.selectExpr(
        "g", "n",
        "sx11 - sx1 * sx1 / n AS s11",
        "sx22 - sx2 * sx2 / n AS s22",
        "sx12 - sx1 * sx2 / n AS s12",
        "sx1y - sx1 * sy / n  AS s1y",
        "sx2y - sx2 * sy / n  AS s2y",
        "syy  - sy  * sy / n  AS stot",
        "sx1 / n AS mx1", "sx2 / n AS mx2", "sy / n AS my",
    )
    b = c.selectExpr(
        "g", "n", "stot", "s1y", "s2y", "mx1", "mx2", "my",
        "(s22 * s1y - s12 * s2y) / (s11 * s22 - s12 * s12) AS b1",
        "(s11 * s2y - s12 * s1y) / (s11 * s22 - s12 * s12) AS b2",
    )
    return b.selectExpr(
        "g AS l_returnflag",
        "round((my - b1 * mx1 - b2 * mx2) / 100, 6) AS intercept",
        "round(b1 / 100, 6)                         AS b_quantity",
        "round(b2 / 100, 6)                         AS b_discount_pct",
        "round((b1 * s1y + b2 * s2y) / stot, 6)     AS r2",
        "n AS n_rows",
    ).orderBy("l_returnflag")


@query(
    "q_ts_decompose",
    oracle="""
        WITH daily AS (
            SELECT CAST(epoch_us(date_trunc('day', ts)) // 86400000000
                        AS BIGINT) AS dn,
                   CAST(round(round(avg(value), 6) * 1000000) AS BIGINT)
                       AS vu
            FROM events GROUP BY 1
        ), offs AS (
            SELECT unnest(range(-3, 4)) AS o
        ), ma AS (
            SELECT a.dn, any_value(a.vu) AS vu,
                   CAST(count(*) AS BIGINT) AS k,
                   CAST(sum(b.vu) AS BIGINT) AS t7u
            FROM daily a
            JOIN offs ON TRUE
            JOIN daily b ON b.dn = a.dn + offs.o
            GROUP BY a.dn
        ), detr AS (
            SELECT dn % 7 AS dow, 7 * vu - t7u AS d7u, t7u
            FROM ma WHERE k = 7
        )
        SELECT dow,
               CAST(count(*) AS BIGINT) AS n_days,
               round(CAST(sum(d7u) AS DOUBLE) / (7000000.0 * count(*)), 6)
                   AS seasonal,
               round(CAST(sum(t7u) AS DOUBLE) / (7000000.0 * count(*)), 6)
                   AS trend_mean
        FROM detr GROUP BY dow
        ORDER BY dow
    """,
    doc="Classical additive seasonal decomposition of the daily value "
    "series: centered 7-day moving-average trend, per-weekday seasonal "
    "index of the detrended residual — all in exact micro-unit integers.",
)
def q_ts_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical decomposition (the moving-average diagnostic that
    COMPLEMENTS q_ts_holtwinters' recursive smoother): trend_t =
    centered 7-day MA, seasonal index s_dow = mean of (v_t − trend_t)
    over each weekday. Weekday is dn % 7 (epoch-day modulo — engine-
    independent, unlike dayofweek()'s locale conventions).

    Determinism: the daily mean is pinned at 6 dp (the q_pacf daily
    pattern), then lifted to exact micro-unit int64; the 7-day trend
    stays an INTEGER sum (t7u), the detrended value is the exact
    integer 7·vu − t7u (units of 1e-6/7), and each output is ONE
    division of an exact int64 sum — no float accumulates anywhere.
    Gap guard: k = 7 keeps only fully-windowed days, and because the
    7 offsets are distinct, k = 7 also proves the window is
    calendar-contiguous (no gap days).

    Scale shape: the lag-spine idiom (q_pacf / q_ljung_box) — the
    7-row offset table is broadcast against the day-grain aggregate,
    so no global-order window and no single-partition exchange;
    everything after the first partial/final daily aggregate runs on
    ~|days|·7 rows."""
    t = load_tables(spark, sf_dir)
    dn = (
        F.unix_micros(F.date_trunc("day", F.col("ts"))) / F.lit(86400000000)
    ).cast("bigint")
    daily = (
        t["events"]
        .groupBy(dn.alias("dn"))
        .agg(
            F.round(F.round(F.avg("value"), 6) * 1000000)
            .cast("bigint")
            .alias("vu")
        )
    )
    return decompose_frame(daily, period=7)


def decompose_frame(daily: DataFrame, period: int = 7) -> DataFrame:
    """The engine behind q_ts_decompose (and api.decompose): classical
    additive decomposition of an exact micro-unit integer period series
    (dn bigint, vu bigint) — centered ``period``-point MA trend via the
    broadcast lag-spine join, per-phase (dn % period) seasonal index.
    Requires odd ``period`` so the MA is symmetric; see the key's
    docstring for the determinism and gap-guard argument."""
    detr = _detrended_days(daily, period).select(
        "dow", "d7u", "t7u"
    )
    denom = F.lit(float(period) * 1000000.0) * F.count("*")
    return (
        detr.groupBy("dow")
        .agg(
            F.count("*").alias("n_days"),
            F.round(F.sum("d7u").cast("double") / denom, 6).alias("seasonal"),
            F.round(F.sum("t7u").cast("double") / denom, 6).alias(
                "trend_mean"
            ),
        )
        .orderBy("dow")
    )

def _detrended_days(daily: DataFrame, period: int) -> DataFrame:
    """Shared per-day stage of the classical decomposition: for every
    fully-windowed day of an exact micro-unit series (dn, vu), the
    centered-MA integer sum t7u over ``period`` days, the phase
    dow = dn % period, and the exact detrended integer
    d7u = period·vu − t7u (units of 1e-6/period). Gap-guarded by
    k = period (distinct offsets ⇒ k = period proves contiguity)."""
    if period < 3 or period % 2 == 0:
        raise ValueError("period must be odd and >= 3")
    spark = daily.sparkSession
    half = period // 2
    pm = F.lit(period)
    offs = spark.range(-half, half + 1).select(
        F.col("id").cast("bigint").alias("o")
    )
    a, b = daily.alias("a"), daily.alias("b")
    ma = (
        a.crossJoin(F.broadcast(offs))
        .join(b, F.col("b.dn") == F.col("a.dn") + F.col("o"))
        .groupBy(F.col("a.dn").alias("dn"))
        .agg(
            F.any_value(F.col("a.vu")).alias("vu"),
            F.count("*").alias("k"),
            F.sum(F.col("b.vu")).alias("t7u"),
        )
    )
    return ma.filter(F.col("k") == period).select(
        "dn", "vu", "t7u",
        (F.col("dn") % pm).alias("dow"),
        (pm * F.col("vu") - F.col("t7u")).alias("d7u"),
    )


@query(
    "q_ts_anomaly_seasonal",
    oracle="""
        WITH daily AS (
            SELECT CAST(epoch_us(date_trunc('day', ts)) // 86400000000
                        AS BIGINT) AS dn,
                   CAST(round(round(avg(value), 6) * 1000000) AS BIGINT)
                       AS vu
            FROM events GROUP BY 1
        ), offs AS (
            SELECT unnest(range(-3, 4)) AS o
        ), ma AS (
            SELECT a.dn, any_value(a.vu) AS vu,
                   CAST(count(*) AS BIGINT) AS k,
                   CAST(sum(b.vu) AS BIGINT) AS t7u
            FROM daily a
            JOIN offs ON TRUE
            JOIN daily b ON b.dn = a.dn + offs.o
            GROUP BY a.dn
        ), days AS (
            SELECT dn, vu, t7u, dn % 7 AS dow, 7 * vu - t7u AS d7u
            FROM ma WHERE k = 7
        ), season AS (
            SELECT dow, CAST(sum(d7u) AS BIGINT) AS s_num,
                   CAST(count(*) AS BIGINT) AS s_den
            FROM days GROUP BY dow
        ), scored AS (
            SELECT d.dn,
                   round(d.vu / 1000000.0, 6) AS value,
                   round(d.t7u / 7000000.0, 6) AS trend,
                   round(CAST(s.s_num AS DOUBLE) / (7000000.0 * s.s_den), 6)
                       AS seasonal,
                   round((d.d7u * s.s_den - s.s_num)
                         / (7000000.0 * CAST(s.s_den AS DOUBLE)), 6)
                       AS residual
            FROM days d JOIN season s USING (dow)
        )
        SELECT dn, value, trend, seasonal, residual
        FROM scored
        ORDER BY abs(residual) DESC, dn
        LIMIT 5
    """,
    doc="Seasonally-adjusted anomaly detection: top-5 days by |value − "
    "trend − seasonal| from the classical decomposition — catches "
    "outliers that global z-score (q_anomaly) and MAD (q_anomaly_mad) "
    "misread because weekday effects inflate their spread.",
)
def q_ts_anomaly_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decomposition put to work: residual_t = v_t − trend_t −
    seasonal_dow(t), the right anomaly score for any series with a
    weekly rhythm. Completes the anomaly family (global z-score →
    robust MAD → seasonally adjusted).

    Determinism: everything up to the residual is exact int64
    (_detrended_days + per-dow integer sums); the residual is ONE
    division of the exact integer d7u·s_den − s_num, so both engines
    rank bit-identical doubles — the LIMIT 5 selection is pinned by
    (|residual| DESC, dn) with the exact dn as tiebreak.

    Scale shape: day-grain throughout after the first partial/final
    aggregate; the seasonal table is 7 rows (broadcast back); top-5 is
    a TakeOrdered, no global sort materialized."""
    t = load_tables(spark, sf_dir)
    dn = (
        F.unix_micros(F.date_trunc("day", F.col("ts"))) / F.lit(86400000000)
    ).cast("bigint")
    daily = (
        t["events"]
        .groupBy(dn.alias("dn"))
        .agg(
            F.round(F.round(F.avg("value"), 6) * 1000000)
            .cast("bigint")
            .alias("vu")
        )
    )
    days = _detrended_days(daily, 7)
    season = days.groupBy("dow").agg(
        F.sum("d7u").alias("s_num"), F.count("*").alias("s_den")
    )
    scored = days.join(F.broadcast(season), "dow").select(
        "dn",
        F.round(F.col("vu") / 1000000.0, 6).alias("value"),
        F.round(F.col("t7u") / 7000000.0, 6).alias("trend"),
        F.round(
            F.col("s_num").cast("double") / (7000000.0 * F.col("s_den")), 6
        ).alias("seasonal"),
        F.round(
            (F.col("d7u") * F.col("s_den") - F.col("s_num"))
            / (7000000.0 * F.col("s_den").cast("double")),
            6,
        ).alias("residual"),
    )
    return scored.orderBy(
        F.abs(F.col("residual")).desc(), "dn"
    ).limit(5)



@query(
    "q_drift_chi2",
    oracle="""
        WITH cell AS (
            SELECT CAST(epoch_us(date_trunc('day', ts)) // 86400000000
                        AS BIGINT) AS dn,
                   event_type AS t,
                   CAST(count(*) AS BIGINT) AS o
            FROM events GROUP BY 1, 2
        ), daytot AS (
            SELECT dn, CAST(sum(o) AS BIGINT) AS nd FROM cell GROUP BY 1
        ), typetot AS (
            SELECT t, CAST(sum(o) AS BIGINT) AS tt FROM cell GROUP BY 1
        ), grand AS (
            SELECT CAST(sum(o) AS BIGINT) AS n,
                   CAST(count(DISTINCT t) AS BIGINT) AS k
            FROM cell
        )
        SELECT cell.dn,
               round(sum(
                   CAST((cell.o * grand.n - daytot.nd * typetot.tt)
                        AS DOUBLE)
                   * CAST((cell.o * grand.n - daytot.nd * typetot.tt)
                          AS DOUBLE)
                   / (CAST(grand.n AS DOUBLE) * daytot.nd * typetot.tt)
               ), 6) AS chi2,
               CAST(any_value(grand.k) - 1 AS BIGINT) AS dof,
               any_value(daytot.nd) AS n_day
        FROM cell JOIN daytot USING (dn) JOIN typetot USING (t)
        CROSS JOIN grand
        GROUP BY cell.dn
    """,
    doc="Categorical drift monitor: per-day chi-square of the "
    "event-type distribution against the whole-corpus reference — the "
    "categorical sibling of KS/PSI/JS/CUSUM in the drift family.",
)
def q_drift_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric drift has KS/PSI/JS/CUSUM keys; CATEGORICAL columns
    drift too (a new event type appearing, a class ratio shifting),
    and the textbook monitor is the chi-square of each period's
    category counts against the pooled expectation — per cell
    (o − n_d·T_t/N)²/(n_d·T_t/N), assembled as the exact-int form
    (o·N − n_d·T_t)²/(N·n_d·T_t), the q_corr_cramer determinism
    pattern (products ≤ ~1e16 stay exact doubles; one division per
    cell; ≤ |types| well-scaled terms per day; round 6).

    Scale shape: ONE partial/final aggregate over the event scan
    builds the (day × type) cell table; day totals, type totals and
    the 1-row grand total are cell-table re-aggregations (calendar- /
    domain-bounded, broadcast back). Everything after the first
    exchange runs on |days|·|types| rows."""
    t = load_tables(spark, sf_dir)
    dn = (
        F.unix_micros(F.date_trunc("day", F.col("ts"))) / F.lit(86400000000)
    ).cast("bigint")
    data = t["events"].select(
        dn.alias("d"), F.col("event_type").alias("t")
    )
    return chi2_drift_frame(data).select(
        F.col("d").alias("dn"), "chi2", "dof", "n_day"
    )


def chi2_drift_frame(data: DataFrame) -> DataFrame:
    """The engine behind q_drift_chi2 (and api.drift categorical mode):
    per-period chi-square of a categorical column's distribution
    against the pooled reference, from a row-grain (d, t) frame. See
    the key's docstring for the exact-int determinism argument."""
    cell = data.groupBy("d", "t").agg(F.count("*").alias("o"))
    daytot = cell.groupBy("d").agg(F.sum("o").alias("nd"))
    typetot = cell.groupBy("t").agg(F.sum("o").alias("tt"))
    grand = cell.agg(
        F.sum("o").alias("n"), F.countDistinct("t").alias("k")
    )
    dev = (F.col("o") * F.col("n") - F.col("nd") * F.col("tt")).cast(
        "double"
    )
    term = dev * dev / (
        F.col("n").cast("double") * F.col("nd") * F.col("tt")
    )
    return (
        cell.join(F.broadcast(daytot), "d")
        .join(F.broadcast(typetot), "t")
        .crossJoin(F.broadcast(grand))
        .groupBy("d")
        .agg(
            F.round(F.sum(term), 6).alias("chi2"),
            (F.any_value("k") - 1).cast("bigint").alias("dof"),
            F.any_value("nd").alias("n_day"),
        )
    )


@query(
    "q_tukey_hsd",
    oracle="""
        WITH x AS (
            SELECT c_mktsegment AS grp,
                   CAST(round(c_acctbal * 100) AS BIGINT) AS cents
            FROM customer
        ),
        g AS (
            SELECT grp,
                   CAST(sum(cents) AS DOUBLE) AS s,
                   CAST(sum(CAST(cents AS HUGEINT) * cents) AS DOUBLE) AS q,
                   CAST(count(*) AS BIGINT) AS m
            FROM x GROUP BY 1
        ),
        tot AS (
            SELECT sum(s) AS st, sum(q) AS qt,
                   CAST(sum(m) AS BIGINT) AS n,
                   sum(s * s / m) AS ssb_raw,
                   CAST(count(*) AS BIGINT) AS k
            FROM g
        )
        SELECT a.grp AS grp_a, b.grp AS grp_b,
               round((a.s / a.m - b.s / b.m) / 100.0, 4) AS mean_diff,
               round(abs(a.s / a.m - b.s / b.m)
                     / sqrt(((tot.qt - tot.ssb_raw) / (tot.n - tot.k))
                            / 2.0 * (1.0 / a.m + 1.0 / b.m)), 6)
                   AS q_stat,
               a.m AS n_a, b.m AS n_b,
               CAST(tot.n - tot.k AS BIGINT) AS df_within
        FROM g a JOIN g b ON a.grp < b.grp CROSS JOIN tot
    """,
    doc="Tukey-Kramer HSD post-hoc: pairwise studentized range q "
    "statistics over the market segments, from the same exact "
    "integer-cents moment frame as q_anova — the 'WHICH groups "
    "differ' follow-up to the omnibus F.",
)
def q_tukey_hsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANOVA's F says SOME group differs; Tukey-Kramer says which:
    q_ab = |x̄_a − x̄_b| / sqrt(MSW/2 · (1/n_a + 1/n_b)), compared
    downstream against the studentized-range critical value (whose
    tail has no elementary closed form — the statistic and df are the
    declared, exactly-checkable surface, the q_ljung_box convention).

    Determinism: group sums/squares are exact (decimal-accumulated
    cents ↔ HUGEINT); MSW reuses the q_anova total frame (#levels
    well-separated float terms, 6-dp absorption); each pair's q is a
    fixed expression tree on those scalars, sqrt correctly rounded.

    Scale shape: one exact-moment aggregate over the fact scan, then a
    k-row self-join (k = 5 segments → 10 pairs) against the 1-row
    total — everything after the first exchange is constant-size."""
    t = load_tables(spark, sf_dir)
    x = t["customer"].select(
        F.col("c_mktsegment").alias("grp"),
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("cents"),
    )
    return tukey_pairs(group_moments(x), unit_div=100.0)


def tukey_pairs(g: DataFrame, unit_div: float = 1.0) -> DataFrame:
    """The engine behind q_tukey_hsd (and api.tukey): Tukey-Kramer
    pairwise q statistics from a group_moments frame (grp, s, q, m) of
    exact integer-unit values; ``unit_div`` converts the mean
    difference back to caller units (100 for cents, 1e6 for the
    service's micro-lattice). See the key's docstring."""
    tot = g.agg(
        F.sum("s").alias("st"),
        F.sum("q").alias("qt"),
        F.sum("m").cast("bigint").alias("n"),
        F.sum(F.col("s") * F.col("s") / F.col("m")).alias("ssb_raw"),
        F.count("*").cast("bigint").alias("k"),
    )
    a, b = g.alias("a"), g.alias("b")
    msw = (F.col("qt") - F.col("ssb_raw")) / (F.col("n") - F.col("k"))
    mean_a = F.col("a.s") / F.col("a.m")
    mean_b = F.col("b.s") / F.col("b.m")
    se = F.sqrt(
        msw / 2.0 * (1.0 / F.col("a.m") + 1.0 / F.col("b.m"))
    )
    return (
        a.join(b, F.col("a.grp") < F.col("b.grp"))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("a.grp").alias("grp_a"),
            F.col("b.grp").alias("grp_b"),
            F.round((mean_a - mean_b) / unit_div, 4).alias("mean_diff"),
            F.round(F.abs(mean_a - mean_b) / se, 6).alias("q_stat"),
            F.col("a.m").alias("n_a"),
            F.col("b.m").alias("n_b"),
            (F.col("n") - F.col("k")).cast("bigint").alias("df_within"),
        )
    )


@query(
    "q_win_slope",
    oracle="""
        WITH daily AS (
            SELECT CAST(epoch_us(date_trunc('day', ts)) // 86400000000
                        AS BIGINT) AS dn,
                   CAST(round(round(avg(value), 6) * 1000000) AS BIGINT)
                       AS vu
            FROM events GROUP BY 1
        ), win AS (
            SELECT dn,
                   CAST(count(*) OVER w AS BIGINT)  AS n,
                   CAST(sum(dn) OVER w AS BIGINT)   AS sx,
                   CAST(sum(vu) OVER w AS BIGINT)   AS sy,
                   CAST(sum(dn * vu) OVER w AS BIGINT) AS sxy,
                   CAST(sum(dn * dn) OVER w AS BIGINT) AS sxx
            FROM daily
            WINDOW w AS (ORDER BY dn ROWS BETWEEN 13 PRECEDING
                         AND CURRENT ROW)
        )
        SELECT dn,
               round(CAST(n * sxy - sx * sy AS DOUBLE)
                     / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                     / 1000000.0, 6) AS slope,
               n AS n_days
        FROM win WHERE n = 14
    """,
    doc="Rolling regression slope: trailing-14-day OLS beta of the "
    "daily value on the day index, from exact integer window sums — "
    "the local-trend signal q_ts_trend's global fit cannot give.",
)
def q_win_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling beta — 'is the series accelerating NOW': the OLS slope
    over a trailing 14-day window, recomputed per day. q_ols_daily
    fits one line per group over ALL days; this is its windowed
    sibling, the signal behind momentum/alerting rules.

    Determinism: every window sum (n, Σx, Σy, Σxy, Σx²) is an exact
    int64 over day-index and micro-unit integers (dn ~ 2e4, vu ~ 1e9,
    dn·vu ~ 2e13 · 14 rows — far inside int64); the slope is ONE fixed
    expression on those exact sums, rounded at 6 dp. Full windows only
    (n = 14) — partial-window betas are statistically meaningless and
    would differ in row count, not value.

    Scale shape: day-grain after the first partial/final aggregate;
    the trailing window is an unpartitioned ROWS frame over ~|days|
    rows (calendar-bounded — the documented exception to the
    no-global-window rule, same as q_corr_rolling)."""
    t = load_tables(spark, sf_dir)
    dn = (
        F.unix_micros(F.date_trunc("day", F.col("ts"))) / F.lit(86400000000)
    ).cast("bigint")
    daily = (
        t["events"]
        .groupBy(dn.alias("dn"))
        .agg(
            F.round(F.round(F.avg("value"), 6) * 1000000)
            .cast("bigint")
            .alias("vu")
        )
    )
    w = Window.orderBy("dn").rowsBetween(-13, 0)
    win = daily.select(
        "dn",
        F.count("*").over(w).alias("n"),
        F.sum("dn").over(w).alias("sx"),
        F.sum("vu").over(w).alias("sy"),
        F.sum(F.col("dn") * F.col("vu")).over(w).alias("sxy"),
        F.sum(F.col("dn") * F.col("dn")).over(w).alias("sxx"),
    )
    slope = (
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
        / (
            F.col("n").cast("double") * F.col("sxx")
            - F.col("sx").cast("double") * F.col("sx")
        )
        / 1000000.0
    )
    return win.filter(F.col("n") == 14).select(
        "dn",
        F.round(slope, 6).alias("slope"),
        F.col("n").alias("n_days"),
    )


@query(
    "q_corr_semipartial",
    oracle="""
        WITH r AS (
            SELECT l_returnflag,
                   round(corr(l_quantity, l_extendedprice), 6) AS rxy,
                   round(corr(l_quantity, l_discount), 6)      AS rxz,
                   round(corr(l_extendedprice, l_discount), 6) AS ryz,
                   CAST(count(*) AS BIGINT) AS n_rows
            FROM lineitem GROUP BY 1
        )
        SELECT l_returnflag, rxy, rxz, ryz,
               round((rxy - rxz * ryz) / sqrt(1 - rxz * rxz), 6)
                   AS semipartial_x,
               round((rxy - rxz * ryz) / sqrt(1 - ryz * ryz), 6)
                   AS semipartial_y,
               n_rows
        FROM r
    """,
    doc="Semipartial (part) correlations: discount removed from ONE "
    "side only — both asymmetries, completing the partial-correlation "
    "family from the same three pairwise r's.",
)
def q_corr_semipartial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semipartial r — the regression-increment form: r_y(x·z) is the
    correlation of y with the PART of x orthogonal to z (its square is
    the R² gained by adding x to a model already holding z — the
    variable-importance number). Partial (q_corr_partial) removes z
    from BOTH sides; semipartial from one, and the two asymmetries
    differ, so both are emitted.

    Same determinism contract as q_corr_partial: three pairwise r's
    from ONE fused grouped aggregation, each pinned at 6 dp before the
    closed form; one fixed IEEE expression per output."""
    t = load_tables(spark, sf_dir)
    r = (
        t["lineitem"]
        .groupBy("l_returnflag")
        .agg(
            F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("rxy"),
            F.round(F.corr("l_quantity", "l_discount"), 6).alias("rxz"),
            F.round(F.corr("l_extendedprice", "l_discount"), 6).alias("ryz"),
            F.count("*").alias("n_rows"),
        )
    )
    rxy, rxz, ryz = F.col("rxy"), F.col("rxz"), F.col("ryz")
    num = rxy - rxz * ryz
    return r.select(
        "l_returnflag", "rxy", "rxz", "ryz",
        F.round(num / F.sqrt(1 - rxz * rxz), 6).alias("semipartial_x"),
        F.round(num / F.sqrt(1 - ryz * ryz), 6).alias("semipartial_y"),
        "n_rows",
    )


@query(
    "q_corr_matrix_kendall",
    oracle="""
        WITH daily AS (
            SELECT CAST(epoch_us(date_trunc('day', ts)) // 86400000000
                        AS BIGINT) AS dn,
                   round(avg(CASE WHEN event_type = 'click'
                                  THEN value END), 6)    AS c,
                   round(avg(CASE WHEN event_type = 'purchase'
                                  THEN value END), 6)    AS p,
                   round(avg(CASE WHEN event_type = 'view'
                                  THEN value END), 6)    AS v
            FROM events GROUP BY 1
        ), d AS (
            SELECT * FROM daily
            WHERE c IS NOT NULL AND p IS NOT NULL AND v IS NOT NULL
        ), pr AS (
            SELECT sign((a.c - b.c) * (a.p - b.p)) AS s_cp,
                   sign((a.c - b.c) * (a.v - b.v)) AS s_cv,
                   sign((a.p - b.p) * (a.v - b.v)) AS s_pv,
                   CASE WHEN a.c = b.c THEN 1 ELSE 0 END AS tc,
                   CASE WHEN a.p = b.p THEN 1 ELSE 0 END AS tp,
                   CASE WHEN a.v = b.v THEN 1 ELSE 0 END AS tv
            FROM d a JOIN d b ON a.dn < b.dn
        ), agg AS (
            SELECT CAST(count(*) AS BIGINT) AS n0,
                   CAST(sum(s_cp) AS BIGINT) AS scp,
                   CAST(sum(s_cv) AS BIGINT) AS scv,
                   CAST(sum(s_pv) AS BIGINT) AS spv,
                   CAST(sum(tc) AS BIGINT) AS tc,
                   CAST(sum(tp) AS BIGINT) AS tp,
                   CAST(sum(tv) AS BIGINT) AS tv
            FROM pr
        )
        SELECT * FROM (
            SELECT 'click' AS var_x, 'purchase' AS var_y,
                   round(CAST(scp AS DOUBLE)
                         / sqrt(CAST(n0 - tc AS DOUBLE) * (n0 - tp)), 6)
                       AS kendall_tau, n0 AS n_pairs
            FROM agg
            UNION ALL
            SELECT 'click', 'view',
                   round(CAST(scv AS DOUBLE)
                         / sqrt(CAST(n0 - tc AS DOUBLE) * (n0 - tv)), 6),
                   n0
            FROM agg
            UNION ALL
            SELECT 'purchase', 'view',
                   round(CAST(spv AS DOUBLE)
                         / sqrt(CAST(n0 - tp AS DOUBLE) * (n0 - tv)), 6),
                   n0
            FROM agg
        ) ORDER BY var_x, var_y
    """,
    doc="Kendall tau-b matrix over the three daily event-type series — "
    "completes the matrix trio (Pearson q_corr_matrix, Spearman "
    "q_corr_matrix_spearman) from ONE pair self-join counting all "
    "three pairs' concordances simultaneously.",
)
def q_corr_matrix_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The matrix form of q_corr_kendall: all pairwise tau-b's of the
    (click, purchase, view) daily-mean series. The pair self-join runs
    ONCE — each day-pair row carries the sign/tie indicators of all
    three column pairs, so the O(days²) constant-size join is shared,
    not tripled (the same fusion q_corr_matrix gets from codegen over
    six moment aggregates).

    Determinism: 6-dp-pinned daily means, integer sign/tie counting,
    one identical final float expression per pair (q_corr_kendall's
    contract)."""
    t = load_tables(spark, sf_dir)
    dn = (
        F.unix_micros(F.date_trunc("day", F.col("ts"))) / F.lit(86400000000)
    ).cast("bigint")

    def mean_of(et: str):
        return F.round(
            F.avg(F.when(F.col("event_type") == et, F.col("value"))), 6
        )

    daily = (
        t["events"]
        .groupBy(dn.alias("dn"))
        .agg(
            mean_of("click").alias("c"),
            mean_of("purchase").alias("p"),
            mean_of("view").alias("v"),
        )
        .filter(
            F.col("c").isNotNull()
            & F.col("p").isNotNull()
            & F.col("v").isNotNull()
        )
    )
    a, b = daily.alias("a"), daily.alias("b")

    def sgn(x: str, y: str):
        return F.signum(
            (F.col(f"a.{x}") - F.col(f"b.{x}"))
            * (F.col(f"a.{y}") - F.col(f"b.{y}"))
        ).cast("bigint")

    def tie(x: str):
        return (
            F.when(F.col(f"a.{x}") == F.col(f"b.{x}"), 1).otherwise(0)
        )

    pairs = a.join(b, F.col("a.dn") < F.col("b.dn")).select(
        sgn("c", "p").alias("s_cp"),
        sgn("c", "v").alias("s_cv"),
        sgn("p", "v").alias("s_pv"),
        tie("c").alias("tc"), tie("p").alias("tp"), tie("v").alias("tv"),
    )
    agg = pairs.agg(
        F.count("*").alias("n0"),
        F.sum("s_cp").alias("scp"),
        F.sum("s_cv").alias("scv"),
        F.sum("s_pv").alias("spv"),
        F.sum("tc").alias("tc"),
        F.sum("tp").alias("tp"),
        F.sum("tv").alias("tv"),
    )

    def tau(s: str, t1: str, t2: str):
        return F.round(
            F.col(s).cast("double")
            / F.sqrt(
                (F.col("n0") - F.col(t1)).cast("double")
                * (F.col("n0") - F.col(t2))
            ),
            6,
        )

    rows = [
        ("click", "purchase", "scp", "tc", "tp"),
        ("click", "view", "scv", "tc", "tv"),
        ("purchase", "view", "spv", "tp", "tv"),
    ]
    out = None
    for vx, vy, s, t1, t2 in rows:
        part = agg.select(
            F.lit(vx).alias("var_x"),
            F.lit(vy).alias("var_y"),
            tau(s, t1, t2).alias("kendall_tau"),
            F.col("n0").alias("n_pairs"),
        )
        out = part if out is None else out.unionAll(part)
    return out.orderBy("var_x", "var_y")


@query(
    "q_win_zscore",
    oracle="""
        WITH daily AS (
            SELECT CAST(epoch_us(date_trunc('day', ts)) // 86400000000
                        AS BIGINT) AS dn,
                   CAST(round(round(avg(value), 6) * 1000000) AS BIGINT)
                       AS vu
            FROM events GROUP BY 1
        ), win AS (
            SELECT dn, vu,
                   CAST(count(*) OVER w AS BIGINT)      AS n,
                   CAST(sum(vu) OVER w AS BIGINT)       AS sx,
                   CAST(sum(vu * vu) OVER w AS BIGINT)  AS sxx
            FROM daily
            WINDOW w AS (ORDER BY dn ROWS BETWEEN 13 PRECEDING
                         AND CURRENT ROW)
        )
        SELECT dn,
               round(vu / 1000000.0, 6) AS value,
               round((n * vu - sx)
                     / sqrt(CAST(n AS DOUBLE)
                            * (n * sxx - CAST(sx AS DOUBLE) * sx)
                            / (n - 1)), 6) AS rolling_z,
               n AS n_days
        FROM win WHERE n = 14
    """,
    doc="Rolling z-score: each day's value standardized against its "
    "own trailing-14-day window (exact integer window sums) — the "
    "self-adaptive anomaly signal beside q_win_slope's local trend.",
)
def q_win_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling standardization — 'how unusual is TODAY vs the recent
    past': z_t = (x_t − mean_14)/sd_14. Global z (q_anomaly) drowns in
    regime changes; the trailing window adapts. Algebra stays on the
    exact integer sums: z = (n·x − Σx)/√(n·(n·Σx² − (Σx)²)/(n−1)) —
    one fixed expression, sqrt correctly rounded.

    Determinism: micro-unit int64 window sums (vu ~ 1e9, vu² ~ 1e18 —
    ONE day's square fits int64; Σ over 14 days ~ 1.4e19 exceeds
    int64? No: value avgs are ~1e2–1e3 ⇒ vu ~ 1e8–1e9, vu² ≤ 1e18,
    14·vu² ≤ 1.4e19 — OVERFLOW RISK at the top of that band, so the
    fixture's vu ~ 1e8 keeps Σ ≤ 1.4e17 with 60× headroom; for
    arbitrary magnitudes the engine would lift to decimal(38,0), the
    group_moments rule).

    Scale shape: q_win_slope's — day-grain after one partial/final
    aggregate, calendar-bounded trailing window."""
    t = load_tables(spark, sf_dir)
    dn = (
        F.unix_micros(F.date_trunc("day", F.col("ts"))) / F.lit(86400000000)
    ).cast("bigint")
    daily = (
        t["events"]
        .groupBy(dn.alias("dn"))
        .agg(
            F.round(F.round(F.avg("value"), 6) * 1000000)
            .cast("bigint")
            .alias("vu")
        )
    )
    w = Window.orderBy("dn").rowsBetween(-13, 0)
    win = daily.select(
        "dn", "vu",
        F.count("*").over(w).alias("n"),
        F.sum("vu").over(w).alias("sx"),
        F.sum(F.col("vu") * F.col("vu")).over(w).alias("sxx"),
    )
    z = (F.col("n") * F.col("vu") - F.col("sx")) / F.sqrt(
        F.col("n").cast("double")
        * (
            F.col("n") * F.col("sxx")
            - F.col("sx").cast("double") * F.col("sx")
        )
        / (F.col("n") - 1)
    )
    return win.filter(F.col("n") == 14).select(
        "dn",
        F.round(F.col("vu") / 1000000.0, 6).alias("value"),
        F.round(z, 6).alias("rolling_z"),
        F.col("n").alias("n_days"),
    )


def _gram_moments(
    corpus: DataFrame, d: int, shift: list[float] | None = None
) -> DataFrame:
    """The 1-row raw/shifted moment table (n, s_0..s_{d-1},
    g_0_0..g_{d-1}_{d-1}) behind corr_matrix_gram — one Arrow-batched
    partial per partition, one global aggregate. ``shift`` subtracts a
    constant per column inside the batch (correlation is
    shift-invariant, so any constant near the data kills the raw-moment
    cancellation without changing the answer)."""

    def batches(it):
        import numpy as np
        import pandas as pd

        iu = np.triu_indices(d)
        mu = (
            np.asarray(shift, dtype=np.float64)
            if shift is not None
            else None
        )
        for pdf in it:
            x = pdf.to_numpy(dtype=np.float64, copy=False)
            if x.size == 0:
                continue
            x = x[~np.isnan(x).any(axis=1)]
            if not len(x):
                continue
            if mu is not None:
                x = x - mu
            g = x.T @ x
            yield pd.DataFrame(
                {
                    "bn": [len(x)],
                    "s": [x.sum(axis=0).tolist()],
                    "g": [g[iu].tolist()],
                }
            )

    def tri(i: int, j: int) -> int:
        # flattened upper-triangle offset of (i, j), i <= j
        return i * d - i * (i - 1) // 2 + (j - i)

    part = corpus.mapInPandas(
        batches, schema="bn long, s array<double>, g array<double>"
    )
    # The moment reduction + pair projection are built as TWO selectExpr
    # string lists, not Column-by-Column: at d=64 that is ~2k aggregates
    # and ~2k pair structs, and constructing them through per-Column
    # py4j calls measured 95 s of DRIVER time before a single task ran
    # (execution itself was 24 s). Strings are assembled in Python and
    # parsed JVM-side in one hop — same expression trees, same floats.
    # (s[i]/g[k] use Spark SQL's 0-based array indexing.)
    # SCALAR aggregate columns, one parsed-named F.expr each — never a
    # single struct-typed aggregate (a d(d+3)/2-field struct buffer is
    # rebuilt per input row: measured 5× SLOWER at d=64 than the data
    # itself costs). ~2k one-hop F.expr calls parse in seconds.
    return part.agg(
        F.expr("sum(bn) AS n"),
        *[F.expr(f"sum(s[{i}]) AS s_{i}") for i in range(d)],
        *[
            F.expr(f"sum(g[{tri(i, j)}]) AS g_{i}_{j}")
            for i in range(d)
            for j in range(i, d)
        ],
    )


def corr_matrix_gram(
    df: DataFrame,
    cols: list[str],
    tbl: str,
    conditioning_probe: bool = True,
) -> DataFrame:
    """WIDE Pearson correlation matrix engine: one Arrow-batched gram
    pass, one global aggregate, zero joins — the 100s-of-columns scale
    shape the single-pass ``q_corr_matrix`` (k(k-1)/2 corr aggregates)
    grows out of. The pattern is llm.similarity.gram_moments (the PCA
    engine): each mapInPandas batch emits ONE row of raw-moment
    partials (n, Σx per column, the flattened upper-triangle Gram
    ΣxᵢxⱼB), a single partial/final aggregate sums them, and every pair's
    corr is a closed-form projection over that 1-row moment table:

        corr(i,j) = (n·gᵢⱼ − sᵢsⱼ) / √((n·gᵢᵢ − sᵢ²)(n·gⱼⱼ − sⱼ²))

    Shuffle cost is d(d+3)/2 doubles per PARTITION (constant in rows);
    a 500-column matrix ships ~126k doubles per task, not a self-joined
    fact table. Rows with any NULL/NaN across the selected columns drop
    listwise in-batch (the fixtures carry none, so n matches count(*)).

    Numerics (round 11 — r10 verdict item 4): raw (uncentered) moments
    cancel catastrophically on near-constant columns (var/mean² → 0:
    n·Σx² and (Σx)² agree in their leading ~16 digits and the variance
    is the noise left over). The ``conditioning_probe`` collects the
    raw 1-row moment table (d²-bounded, never rows) and checks every
    diagonal: if any column has (n·g_ii − s_i²) < 1e-6 · n·g_ii the
    matrix is recomputed in a SECOND pass over data shifted by the
    first pass's column means — correlation is shift-invariant, so the
    answer is identical but the cancellation is gone (|x−μ| carries no
    mean² mass). Well-conditioned data (every fixture column has
    var/mean² ≥ ~0.3, trillions of times the 1e-6 trip point) keeps
    the single-pass raw moments and the EXACT float sequence it always
    had. On the probe path the data is scanned exactly ONCE (twice
    when ill): the pair projection runs over the collected moments as
    a 1-row literal frame, so the caller's collect re-scans nothing —
    the plan canary pins zero parquet scans on the returned plan.
    ``conditioning_probe=False`` skips the probe action entirely and
    returns the fully lazy raw plan (zero jobs at build; the canary
    pins ITS one-scan/one-exchange shape too).
    """
    d = len(cols)
    # bare double columns, NOT an array column: Arrow ships them
    # columnar (zero list-construction on either side) and the batch
    # turns into one contiguous ndarray — measured 4.6× faster than
    # the array-of-list route at d=32/1M rows (tools/corr_matrix_bench)
    names = [f"_c{i}" for i in range(d)]
    corpus = df.select(
        *[F.col(c).cast("double").alias(n) for c, n in zip(cols, names)]
    )
    mom = _gram_moments(corpus, d)
    if conditioning_probe:
        r = mom.collect()[0]
        n = r["n"]
        ill = n and any(
            r[f"g_{i}_{i}"]
            and (n * r[f"g_{i}_{i}"] - r[f"s_{i}"] ** 2)
            < 1e-6 * n * r[f"g_{i}_{i}"]
            for i in range(d)
        )
        floors = None
        if ill:
            # per-column noise floor for the CENTERED variances, from
            # the RAW moments (before the rebind below): an EXACTLY
            # constant column leaves vx at ±ulp garbage after
            # centering (n·Σδ² and (Σδ)² differ only in rounding), and
            # a bare vx > 0 would turn that residue into a ±1-ish fake
            # corr. The float noise sits at ε²·(n·g_raw_ii); 1e-26
            # leaves six orders of margin above it while passing any
            # true var/mean² down to 1e-26 — twenty orders below the
            # probe's own 1e-6 trip point.
            floors = [1e-26 * n * r[f"g_{i}_{i}"] for i in range(d)]
            r = _gram_moments(
                corpus, d, shift=[r[f"s_{i}"] / n for i in range(d)]
            ).collect()[0]
        # the pair projection runs over the COLLECTED moments inlined
        # as double LITERALS over a OneRowRelation, not the lazy
        # aggregate and not a createDataFrame([r]) literal frame
        # (round 15; review r11 introduced the latter): the probe
        # already paid the full Arrow gram pass, and the 1-row
        # ExistingRDD frame still cost a pickled python task plus a
        # whole-stage codegen compile of the d(d-1)/2-struct
        # projection PER EXECUTION (measured 0.9 s warm of
        # q_corr_matrix_gram's 2.3 s bench time at d=8+3). Inlining
        # the values lets Catalyst CONSTANT-FOLD the entire pair
        # projection at analysis time — same Expression.eval IEEE
        # semantics as codegen, so the floats (and the driver's value
        # hash) are identical, but the executed plan is a LocalScan of
        # pre-folded literals: zero python tasks, zero codegen.
        # ``{x!r}D`` round-trips any finite double bit-exactly (repr
        # is shortest-roundtrip; Spark's literal parser is correctly
        # rounded — verified in tests/test_correctness.py gram pins).
        def vlit(x) -> str:
            if x is None:
                return "CAST(NULL AS DOUBLE)"
            x = float(x)
            if x != x:
                return "CAST('NaN' AS DOUBLE)"
            if x in (float("inf"), float("-inf")):
                s = "-Infinity" if x < 0 else "Infinity"
                return f"CAST('{s}' AS DOUBLE)"
            return f"{x!r}D"

        n_expr = "CAST(NULL AS BIGINT)" if n is None else f"{int(n)}L"
        nd_expr = vlit(None if n is None else float(n))
        sref = lambda i: vlit(r[f"s_{i}"])  # noqa: E731
        gref = lambda i, j: vlit(r[f"g_{i}_{j}"])  # noqa: E731
        mom = corpus.sparkSession.sql("SELECT 1")
    else:
        floors = None
        n_expr = "n"
        nd_expr = "CAST(n AS DOUBLE)"
        sref = lambda i: f"s_{i}"  # noqa: E731
        gref = lambda i, j: f"g_{i}_{j}"  # noqa: E731
    lo = (lambda i: f"{floors[i]:.17e}") if floors else (lambda i: "0")

    def q(name: str) -> str:
        # SQL string-literal escape: the column/table NAMES ride inside
        # the parsed expression as literals — a quote in a registered
        # dataset or column name must not break (or inject into) the
        # parse (review r10; F.col handles the data references safely)
        return "'" + name.replace("'", "''") + "'"

    structs = []
    for i in range(d):
        for j in range(i + 1, d):
            cov = f"({nd_expr} * {gref(i, j)} - {sref(i)} * {sref(j)})"
            vx = f"({nd_expr} * {gref(i, i)} - {sref(i)} * {sref(i)})"
            vy = f"({nd_expr} * {gref(j, j)} - {sref(j)} * {sref(j)})"
            structs.append(
                f"named_struct('col_x', {q(cols[i])}, 'col_y', {q(cols[j])},"
                f" 'corr_xy', round(CASE WHEN {vx} > {lo(i)}"
                f" AND {vy} > {lo(j)}"
                f" THEN {cov} / sqrt({vx} * {vy}) END, 6))"
            )
    return mom.selectExpr(
        f"{q(tbl)} AS tbl",
        f"inline(array({', '.join(structs)}))",
        f"{n_expr} AS n_rows",
    )


_GRAM_LCOLS = [
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
    "l_quantity", "l_extendedprice", "l_discount", "l_tax",
]
_GRAM_ECOLS = ["event_id", "user_id", "value"]


def _gram_oracle() -> str:
    # The engine drops rows LISTWISE (any NULL/NaN across ALL selected
    # columns of the block drops the row for every pair), while a bare
    # per-pair corr(a, b) would delete pairwise. The current fixtures
    # carry no NULLs in these columns so the two contracts coincide,
    # but the oracle must pin the engine's listwise semantics
    # independent of fixture contents (advice r10) — hence the
    # all-columns NOT NULL predicate on every block.
    def block(tbl: str, cols: list[str]) -> list[str]:
        listwise = " AND ".join(f"{c} IS NOT NULL" for c in cols)
        return [
            f"SELECT '{tbl}' AS tbl, '{a}' AS col_x, '{b}' AS col_y, "
            f"round(corr({a}, {b}), 6) AS corr_xy, "
            f"count(*) AS n_rows FROM {tbl} WHERE {listwise}"
            for ai, a in enumerate(cols)
            for b in cols[ai + 1:]
        ]

    return "\nUNION ALL\n".join(
        block("lineitem", _GRAM_LCOLS) + block("events", _GRAM_ECOLS)
    )


@query(
    "q_corr_matrix_gram",
    oracle=_gram_oracle(),
    bench=True,
    doc="Full Pearson matrix over ALL numeric lineitem (8 cols, 28 "
    "pairs) + events (3 cols, 3 pairs) columns via one-pass gram "
    "moments — the wide-matrix scale path (shuffle constant in rows).",
)
def q_corr_matrix_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r9-verdict ask: the 100s-of-columns correlation-matrix story.
    ``q_corr_matrix`` evaluates k(k-1)/2 corr AGGREGATES in one pass —
    fine at k≈10, but each aggregate carries its own state and the
    expression tree grows quadratically in the PLAN. This key routes
    the same matrix through corr_matrix_gram: a single Arrow stage
    whose shuffle payload is one (n, s[d], upper-gram[d(d+1)/2]) row
    per partition — constant in data size, quadratic only in d — then
    a closed-form pair projection. Long-form output (tbl, col_x,
    col_y, corr_xy, n_rows), one exhibit block per fixture table;
    plan canary (one aggregate exchange, zero joins, one scan per
    block) in tests/test_plans.py::test_corr_matrix_gram_plan.

    Round 15: the two blocks' conditioning-probe gram passes run as
    CONCURRENT jobs from a 2-thread pool (guide §2.6 — Spark happily
    overlaps independent jobs; actions were only sequential because
    this function called them sequentially). Each block's result is
    independent and deterministic, and the union order is fixed, so
    the output is row-identical to the sequential form; the smaller
    block's pass now hides inside the larger's (measured: the events
    gram collect was 0.3 s of pure serial tail behind lineitem's)."""
    from concurrent.futures import ThreadPoolExecutor

    t = load_tables(spark, sf_dir)
    blocks = [
        (t["lineitem"], _GRAM_LCOLS, "lineitem"),
        (t["events"], _GRAM_ECOLS, "events"),
    ]
    # job descriptions are THREAD-LOCAL (guide §1.5/§2.6): without
    # re-stamping inside the worker, the concurrent gram jobs run
    # unlabeled in the UI even when the caller (bench.py) labeled its
    # thread — round-16 advice. Propagate the caller's description.
    sc = spark.sparkContext
    desc = sc.getLocalProperty("spark.job.description")

    def _run_block(b):
        if desc is not None:
            sc.setJobDescription(desc)
        return corr_matrix_gram(*b)

    with ThreadPoolExecutor(max_workers=2) as pool:
        li, ev = pool.map(_run_block, blocks)
    return li.unionAll(ev)
