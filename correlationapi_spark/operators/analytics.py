"""Event-stream product analytics: funnel, cohort retention, mode.

The reference's events surface (SURVEY.md §2.9 fixtures) feeds the same
questions every product-analytics engine answers: how many users progress
through an ordered sequence of actions (funnel), how cohorts decay over
time (retention), and what the typical value per segment is (mode). All
three are expressed as plain aggregations/joins keyed on ``user_id`` —
the natural partitioning key of an event stream — so every shuffle in the
plan is the one a 1000-executor cluster would want anyway.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..io import load_tables
from ..ordering import materialize
from ..registry import query
from ..storeio import (
    StoreIO,
    commit,
    mutation,
    object_dir,
    pointer_require,
    recover,
)

_FUNNEL_ORACLE = """
    WITH s AS (
        SELECT user_id, min(ts) AS t0 FROM events
        WHERE event_type = 'signup' GROUP BY 1
    ), c AS (
        SELECT e.user_id, min(e.ts) AS t1
        FROM events e JOIN s ON e.user_id = s.user_id
        WHERE e.event_type = 'click' AND e.ts > s.t0
        GROUP BY 1
    ), p AS (
        SELECT e.user_id, min(e.ts) AS t2
        FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.t1
        GROUP BY 1
    )
    SELECT 1 AS step, 'signup' AS stage, (SELECT count(*) FROM s) AS users
    UNION ALL
    SELECT 2, 'click',    (SELECT count(*) FROM c)
    UNION ALL
    SELECT 3, 'purchase', (SELECT count(*) FROM p)
"""


@query(
    "q_funnel",
    oracle=_FUNNEL_ORACLE,
    doc="Strict sequential funnel signup→click→purchase: users whose "
    "first click follows their first signup, first purchase follows "
    "that click.",
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRICT funnel — each stage's timestamp must come AFTER the user's
    previous-stage timestamp (min-per-type ordering alone over-counts: a
    user who purchased before ever clicking is not a conversion).

    Shape: one aggregation per stage, each a join of events against the
    previous stage's (user_id, ts) frontier. Every join and groupBy keys
    on user_id, so after the first exchange the stages reuse the same
    hash partitioning (Spark's EnsureRequirements sees matching
    distributions — no re-shuffle between stages), and the frontier side
    is one row per converted user, shrinking monotonically down the
    funnel. At 100 TB this is k passes over a co-partitioned event log —
    the canonical distributed-funnel plan — versus a single-pass
    state-machine that would force every user's full history through one
    task's memory.
    """
    ev = load_tables(spark, sf_dir)["events"]

    def first_after(prev: DataFrame, etype: str) -> DataFrame:
        return (
            ev.join(prev, "user_id")
            .filter((F.col("event_type") == etype) & (F.col("ts") > F.col("_t")))
            .groupBy("user_id")
            .agg(F.min("ts").alias("_t"))
        )

    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("_t"))
    )
    c = first_after(s, "click")
    p = first_after(c, "purchase")

    def stage(step: int, name: str, frontier: DataFrame) -> DataFrame:
        return frontier.agg(F.count("*").alias("users")).select(
            F.lit(step).alias("step"), F.lit(name).alias("stage"), "users"
        )

    return (
        stage(1, "signup", s)
        .unionAll(stage(2, "click", c))
        .unionAll(stage(3, "purchase", p))
    )


_RETENTION_ORACLE = """
    WITH cohort AS (
        SELECT user_id, min(date_trunc('day', ts)) AS cohort_day
        FROM events GROUP BY 1
    )
    SELECT c.cohort_day,
           (epoch_us(date_trunc('day', e.ts)) - epoch_us(c.cohort_day))
               // 86400000000 AS day_offset,
           count(DISTINCT e.user_id) AS active_users
    FROM events e JOIN cohort c ON e.user_id = c.user_id
    GROUP BY 1, 2
"""


@query(
    "q_retention",
    oracle=_RETENTION_ORACLE,
    doc="Cohort retention: users grouped by first-active day, distinct "
    "actives per (cohort, day-offset) cell.",
)
def q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The retention triangle: cohort = each user's first active DAY,
    cell (cohort_day, k) = distinct users of that cohort active k days
    later. Two aggregations, both on keys the data is naturally dense in:
    the cohort build groups by user_id, the cell count groups by
    (cohort_day, offset) — a few thousand cells regardless of event
    volume, so the second shuffle is tiny. The join is user_id⋈user_id
    against a one-row-per-user build side: at 100 TB the cohort table is
    ~1e9 × 12 bytes — a plain shuffle join co-partitioned with the
    groupBy that follows (count(DISTINCT user_id) re-keys by cell, its
    partial distinct runs map-side). Days stay date_trunc TIMESTAMPS and
    the offset is integer epoch-micros division — DATE casts diverge in
    pandas dtype between engines (numerics.py / cross-engine rules)."""
    ev = load_tables(spark, sf_dir)["events"]
    day = F.date_trunc("day", F.col("ts"))
    cohort = ev.groupBy("user_id").agg(F.min(day).alias("cohort_day"))
    offset = (
        (F.unix_micros(day) - F.unix_micros(F.col("cohort_day")))
        / F.lit(86400000000)
    ).cast("long")
    return (
        ev.join(cohort, "user_id")
        .groupBy("cohort_day", offset.alias("day_offset"))
        .agg(F.count_distinct("user_id").alias("active_users"))
    )


_MODE_ORACLE = """
    SELECT l_returnflag, l_quantity AS mode_qty, cnt FROM (
        SELECT l_returnflag, l_quantity, count(*) AS cnt,
               row_number() OVER (
                   PARTITION BY l_returnflag
                   ORDER BY count(*) DESC, l_quantity
               ) AS rn
        FROM lineitem GROUP BY 1, 2
    ) WHERE rn = 1
"""


@query(
    "q_agg_mode",
    oracle=_MODE_ORACLE,
    doc="Per-group mode (most frequent value), ties broken by smallest "
    "value — deterministic on both engines.",
)
def q_agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mode = argmax of the (group, value) count table. Spark 4 has
    F.mode() but its tie choice is unspecified — a cross-engine hash
    compare needs the tie RULE in the query, so the argmax is spelled as
    a row_number over the count table ordered by (cnt DESC, value ASC).

    Scale: the expensive part is the partial/final count over (group,
    value) — one shuffle over distinct pairs only. The window then runs
    over AT MOST |distinct values| rows per group (~50 here), so the
    'sort' the window needs is microscopic; WindowGroupLimit prunes it
    to a running top-1 per group anyway."""
    t = load_tables(spark, sf_dir)
    counts = (
        t["lineitem"]
        .groupBy("l_returnflag", "l_quantity")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy("l_returnflag").orderBy(
        F.desc("cnt"), F.col("l_quantity")
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "l_returnflag", F.col("l_quantity").alias("mode_qty"), "cnt"
        )
    )


_ANOMALY_ORACLE = """
    WITH scored AS (
        SELECT event_id, event_type, ts, value,
               avg(value)         OVER w AS mu,
               stddev_samp(value) OVER w AS sigma,
               count(*)           OVER w AS n_win
        FROM events
        WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                     ROWS BETWEEN 50 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id, event_type, ts,
           round(value, 2) AS value,
           round((value - mu) / sigma, 4) AS zscore
    FROM scored
    WHERE n_win >= 30 AND sigma > 0
      AND abs(round((value - mu) / sigma, 4)) > 3.0
"""


@query(
    "q_anomaly",
    oracle=_ANOMALY_ORACLE,
    doc="Rolling z-score anomaly detection: events whose value deviates "
    ">3 sigma from the trailing 50-event window of their type.",
)
def q_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-shaped monitoring over the batch table: each event is
    scored against the TRAILING window of its own type (frame ends at
    1 PRECEDING — the current value must not contaminate its own
    baseline), flagged when |z| > 3. The 30-row warm-up floor keeps the
    unstable early frames out, and sigma > 0 guards constant runs (the
    _safe_corr convention).

    One window partitioned by event_type over a (ts, event_id) total
    order — parallel across types; within a type the frame is bounded
    (51 rows of state per task), so the operator is the batch twin of a
    per-key streaming aggregation and scales with partition count, not
    history length. z is rounded to 4 dp BEFORE the threshold compare on
    BOTH engines, so the emitted row set is decided on identical values
    (memory: never threshold raw accumulated floats across engines)."""
    ev = load_tables(spark, sf_dir)["events"]
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-50, -1)
    )
    z = F.round(
        (F.col("value") - F.avg("value").over(w)) / F.stddev_samp("value").over(w),
        4,
    )
    return (
        ev.select(
            "event_id",
            "event_type",
            "ts",
            F.round("value", 2).alias("value"),
            z.alias("zscore"),
            F.count("*").over(w).alias("_n"),
            F.stddev_samp("value").over(w).alias("_sigma"),
        )
        .filter(
            (F.col("_n") >= 30) & (F.col("_sigma") > 0) & (F.abs("zscore") > 3.0)
        )
        .drop("_n", "_sigma")
    )


_PROFILE_ORACLE = """
    SELECT 'l_quantity' AS column_name, count(*) AS n_rows,
           count(*) - count(l_quantity)    AS n_null,
           count(DISTINCT l_quantity)      AS n_distinct,
           round(min(l_quantity), 2)       AS vmin,
           round(max(l_quantity), 2)       AS vmax,
           round(avg(l_quantity), 6)       AS vavg
    FROM lineitem
    UNION ALL
    SELECT 'l_extendedprice', count(*),
           count(*) - count(l_extendedprice),
           count(DISTINCT l_extendedprice),
           round(min(l_extendedprice), 2), round(max(l_extendedprice), 2),
           round(avg(l_extendedprice), 6)
    FROM lineitem
    UNION ALL
    SELECT 'l_discount', count(*),
           count(*) - count(l_discount),
           count(DISTINCT l_discount),
           round(min(l_discount), 2), round(max(l_discount), 2),
           round(avg(l_discount), 6)
    FROM lineitem
"""


@query(
    "q_profile",
    oracle=_PROFILE_ORACLE,
    doc="Column profiling (ANALYZE primitive): nulls / distinct / min / "
    "max / mean per numeric column, long format, one scan.",
)
def q_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data-profiling pass every ingestion pipeline runs first:
    per-column null count, exact distinct, min/max/mean — in ONE scan of
    the table, not one scan per column (the oracle's UNION ALL re-scans
    because SQL has no better spelling; Spark fuses all 3×5 aggregates
    into a single partial/final pass — Catalyst plans the multi-distinct
    via one Expand of ×3, still one scan). The wide 1-row aggregate is
    then stacked to the long (column, stats...) profile shape — a free
    projection of a 1-row relation."""
    li = load_tables(spark, sf_dir)["lineitem"]
    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    aggs = [F.count("*").alias("n_rows")]
    for c in cols:
        aggs += [
            (F.count("*") - F.count(c)).alias(f"{c}__nn"),
            F.count_distinct(F.col(c)).alias(f"{c}__nd"),
            F.round(F.min(c), 2).alias(f"{c}__mn"),
            F.round(F.max(c), 2).alias(f"{c}__mx"),
            F.round(F.avg(c), 6).alias(f"{c}__av"),
        ]
    wide = li.agg(*aggs)
    stack = ", ".join(
        f"'{c}', {c}__nn, {c}__nd, {c}__mn, {c}__mx, {c}__av" for c in cols
    )
    return wide.selectExpr(
        f"stack({len(cols)}, {stack}) AS "
        "(column_name, n_null, n_distinct, vmin, vmax, vavg)",
        "n_rows",
    ).select(
        "column_name", "n_rows", "n_null", "n_distinct", "vmin", "vmax", "vavg"
    )


_SESSION_STATS_ORACLE = """
    WITH ordered AS (
        SELECT user_id, ts, event_id,
               CASE WHEN epoch(ts)
                      - epoch(lag(ts) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id)) > 1800
                      OR lag(ts) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ), islands AS (
        SELECT user_id, ts,
               sum(new_session) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                               AND CURRENT ROW) AS sid
        FROM ordered
    ), sessions AS (
        SELECT user_id, sid, count(*) AS n_events,
               epoch_us(max(ts)) - epoch_us(min(ts)) AS dur_us
        FROM islands GROUP BY 1, 2
    )
    SELECT user_id,
           count(*) AS n_sessions,
           round(avg(CAST(n_events AS DOUBLE)), 4) AS avg_events,
           round(avg(CAST(dur_us AS DOUBLE)) / 1000000, 4)
               AS avg_duration_sec
    FROM sessions GROUP BY 1
"""


@query(
    "q_session_stats",
    oracle=_SESSION_STATS_ORACLE,
    doc="Per-user session statistics: 30-min-gap sessionization rolled "
    "up to session count, mean events and mean duration.",
)
def q_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization rolled up to per-user engagement metrics — the
    batch analytics consumer of the same 30-minute-gap session definition
    q_stream_session declares (gaps-and-islands: a session break is a
    >1800 s gap; session id = running count of breaks).

    Everything is keyed on user_id: both windows and both groupBys share
    one hash partitioning, so the plan is one exchange of the events
    relation followed by co-partitioned windows/aggregations — per-user
    history is processed within a task but a TASK holds many users, so
    parallelism comes from the user-key space, not history length.
    Durations stay integer epoch-micros until one final /1e6 (cast to
    double before avg on BOTH engines; round 4)."""
    ev = load_tables(spark, sf_dir)["events"]
    w_ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w_ord))
    new_session = F.when(
        gap.isNull() | (gap > 1800 * 1000000), 1
    ).otherwise(0)
    islands = ev.select(
        "user_id",
        "ts",
        F.sum(new_session)
        .over(w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("sid"),
    )
    sessions = islands.groupBy("user_id", "sid").agg(
        F.count("*").alias("n_events"),
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias("dur_us"),
    )
    return sessions.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"),
        F.round(F.avg(F.col("n_events").cast("double")), 4).alias("avg_events"),
        F.round(F.avg(F.col("dur_us").cast("double")) / 1000000, 4).alias(
            "avg_duration_sec"
        ),
    )


_CDC_ORACLE = """
    WITH old AS (
        SELECT o_orderkey, o_totalprice AS price FROM orders
        WHERE o_orderkey <= 3000
    ), new AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 10.00
                    ELSE o_totalprice END AS price
        FROM orders WHERE o_orderkey BETWEEN 1001 AND 4000
    )
    SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'insert'
                WHEN n.o_orderkey IS NULL THEN 'delete'
                WHEN n.price <> o.price   THEN 'update'
                ELSE 'unchanged' END AS op,
           o.price AS old_price,
           n.price AS new_price
    FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
"""


@query(
    "q_cdc_merge",
    oracle=_CDC_ORACLE,
    doc="Snapshot-diff / MERGE INTO classification: full outer join of "
    "old vs new snapshot into insert/update/delete/unchanged rows.",
)
def q_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lakehouse merge primitive: what Delta/Iceberg `MERGE INTO`
    compiles to — a key-partitioned FULL OUTER join of the current
    snapshot against the incoming batch, each row classified
    insert / update / delete / unchanged. Both snapshots derive from the
    fixture in-plan (old = keys ≤3000 at current prices; new = keys
    1001–4000 with every 7th price bumped), so the change set is a pure
    function of the data.

    Scale: ONE shuffle per side on the merge key — the minimum the
    semantics allow; the classification is a projection. The 100 TB
    refinement (join only partitions the batch touches) is partition
    pruning on the same plan, not a different algorithm. Price equality
    compares bit-identical doubles (same parquet values ± the same
    literal addition on both engines)."""
    orders = load_tables(spark, sf_dir)["orders"]
    old = orders.filter(F.col("o_orderkey") <= 3000).select(
        "o_orderkey", F.col("o_totalprice").alias("price")
    )
    new = orders.filter(F.col("o_orderkey").between(1001, 4000)).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 10.00
        ).otherwise(F.col("o_totalprice")).alias("price"),
    )
    o, n = old.alias("o"), new.alias("n")
    return (
        o.join(n, F.col("o.o_orderkey") == F.col("n.o_orderkey"), "full_outer")
        .select(
            F.coalesce(F.col("o.o_orderkey"), F.col("n.o_orderkey")).alias(
                "o_orderkey"
            ),
            F.when(F.col("o.o_orderkey").isNull(), "insert")
            .when(F.col("n.o_orderkey").isNull(), "delete")
            .when(F.col("n.price") != F.col("o.price"), "update")
            .otherwise("unchanged")
            .alias("op"),
            F.col("o.price").alias("old_price"),
            F.col("n.price").alias("new_price"),
        )
    )


_EVENT_PATH_ORACLE = """
    WITH seq AS (
        SELECT user_id, event_type AS e1,
               lead(event_type, 1) OVER w AS e2,
               lead(event_type, 2) OVER w AS e3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT e1, e2, e3, count(*) AS n_paths
    FROM seq WHERE e3 IS NOT NULL
    GROUP BY e1, e2, e3
    ORDER BY n_paths DESC, e1, e2, e3
    LIMIT 10
"""


@query(
    "q_event_path",
    oracle=_EVENT_PATH_ORACLE,
    doc="Path mining (round 7): top-10 most frequent 3-step event "
    "sequences across user journeys (lead-window trigrams).",
)
def q_event_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 'what do users do next' query every product-analytics stack
    ships: per-user event trigrams via two lead() calls over ONE
    per-user window (a single shuffle on user_id; both leads share the
    sort), then a count-per-path aggregate and a top-10. The (ts,
    event_id) window order is the repo's total-order rule for the
    events table — sub-µs components don't exist in the fixture (the
    io.py nanos note), and event_id breaks exact-timestamp ties the
    same way on both engines. n_paths is count(*) (bigint everywhere);
    the top-10 frontier tie-breaks on the full path triple."""
    ev = load_tables(spark, sf_dir)["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            F.col("event_type").alias("e1"),
            F.lead("event_type", 1).over(w).alias("e2"),
            F.lead("event_type", 2).over(w).alias("e3"),
        )
        .filter(F.col("e3").isNotNull())
        .groupBy("e1", "e2", "e3")
        .agg(F.count("*").alias("n_paths"))
        .orderBy(F.desc("n_paths"), "e1", "e2", "e3")
        .limit(10)
    )


@query(
    "q_benford",
    oracle="""
        WITH x AS (
            SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
            FROM orders
            WHERE o_totalprice > 0
        ),
        digits AS (
            SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT)
                       AS digit,
                   CAST(count(*) AS BIGINT) AS n_obs
            FROM x GROUP BY 1
        ),
        tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM digits)
        SELECT d.digit,
               coalesce(g.n_obs, 0) AS n_obs,
               round(CAST(coalesce(g.n_obs, 0) AS DOUBLE) / tot.n, 6)
                   AS freq,
               round(log10(1 + 1.0 / d.digit), 6) AS expected_freq,
               round((CAST(coalesce(g.n_obs, 0) AS DOUBLE) / tot.n
                      - log10(1 + 1.0 / d.digit))
                     * (CAST(coalesce(g.n_obs, 0) AS DOUBLE) / tot.n
                        - log10(1 + 1.0 / d.digit))
                     / log10(1 + 1.0 / d.digit) * tot.n, 6) AS chi2_term,
               tot.n AS n_rows
        FROM (SELECT unnest(generate_series(1, 9)) AS digit) d
        LEFT JOIN digits g ON g.digit = d.digit
        CROSS JOIN tot
        ORDER BY d.digit
    """,
    doc="Benford first-digit deviation of the order-value distribution "
    "— the fraud/data-quality screen: observed vs log10(1+1/d) "
    "frequency per leading digit, with per-digit chi-square terms.",
)
def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit profile vs Benford's law. The digit is
    taken from the INTEGER cents value as a string head — exact on
    both engines (int-to-string is locale-free), and scale-free like
    Benford itself (×100 shifts no leading digit distribution). A
    floor(log10(x)) spelling would hinge on libm at power-of-ten
    boundaries; string-of-int doesn't. The digit spine is explicit
    1..9 so absent digits surface as 0-count rows instead of
    disappearing.

    Determinism: counts are exact int64; expected = log10(1+1/d) of
    nine constants; each chi² term is one float expression of exact
    inputs, identical both engines, 6 dp rounded.

    Scale shape: a 9-group map-side-combinable aggregate over one
    pushed-down scan; the spine join and total are broadcast
    (category-sized) — scan-bound at any SF."""
    t = load_tables(spark, sf_dir)
    x = t["orders"].filter(F.col("o_totalprice") > 0).select(
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents")
    )
    digits = (
        x.select(
            F.substring(F.col("cents").cast("string"), 1, 1)
            .cast("bigint")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count("*").alias("n_obs"))
    )
    tot = digits.agg(F.sum("n_obs").cast("bigint").alias("n"))
    spine = spark.range(1, 10).select(F.col("id").alias("digit"))
    joined = (
        spine.join(F.broadcast(digits), "digit", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.coalesce(F.col("n_obs"), F.lit(0)).alias("n_obs"),
            "n",
        )
    )
    freq = F.col("n_obs").cast("double") / F.col("n")
    exp_f = F.log10(1 + 1.0 / F.col("digit"))
    return joined.select(
        "digit",
        "n_obs",
        F.round(freq, 6).alias("freq"),
        F.round(exp_f, 6).alias("expected_freq"),
        F.round((freq - exp_f) * (freq - exp_f) / exp_f * F.col("n"), 6)
        .alias("chi2_term"),
        F.col("n").alias("n_rows"),
    ).orderBy("digit")


def km_curve(durations: DataFrame) -> DataFrame:
    """Kaplan-Meier product-limit curve over a ``(dur, ev)`` frame
    (integer duration, event flag 1/0 — censored rows carry ev = 0):
    returns (duration, d_events, n_at_risk, survival) for event
    durations with d < n. The shared engine behind q_survival_km and
    api.survival(); see the key docstring for the estimator notes.

    Scale shape: duration-domain tables only — one grouped count, ONE
    ordering.global_running_sum range shuffle for the risk set, and a
    domain-sized cumulative ln-sum window."""
    from ..ordering import global_running_sum

    pv = durations.groupBy("dur").agg(
        F.count("*").alias("m"), F.sum("ev").cast("bigint").alias("d")
    )
    tot = pv.agg(F.sum("m").cast("bigint").alias("nn"))
    run = global_running_sum(pv, [F.col("dur").asc()], F.col("m"), "cum")
    risk = run.crossJoin(F.broadcast(tot)).select(
        "dur",
        "d",
        (
            F.col("nn") - (F.col("cum").cast("bigint") - F.col("m"))
        ).alias("n_at_risk"),
    )
    eligible = risk.filter(
        (F.col("d") > 0) & (F.col("d") < F.col("n_at_risk"))
    )
    w = Window.orderBy("dur").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # the eligible event-day table is duration-domain sized (≤ #days in
    # the observation window), so the cumulative ln-sum window is tiny
    km = eligible.withColumn(
        "s",
        F.exp(
            F.sum(
                F.log(
                    (F.col("n_at_risk") - F.col("d")).cast("double")
                    / F.col("n_at_risk")
                )
            ).over(w)
        ),
    )
    return km.select(
        F.col("dur").alias("duration"),
        F.col("d").alias("d_events"),
        "n_at_risk",
        F.round("s", 6).alias("survival"),
    ).orderBy("duration")


def logrank_test(durations: DataFrame) -> DataFrame:
    """Log-rank z / chi² over a ``(g, dur, ev)`` frame with two groups
    labeled 'A'/'B' — the shared engine behind q_survival_logrank and
    api.survival(group_by=...); see the key docstring for the
    statistic. Both cohorts' risk sets come from ONE
    ordering.global_running_sums range shuffle."""
    from ..ordering import global_running_sums

    pv = durations.groupBy("dur").agg(
        F.count(F.when(F.col("g") == "A", 1)).alias("m1"),
        F.count("*").alias("mt"),
        F.sum(F.when(F.col("g") == "A", F.col("ev")).otherwise(0))
        .cast("bigint")
        .alias("d1"),
        F.sum("ev").cast("bigint").alias("dt"),
    )
    tot = pv.agg(
        F.sum("m1").cast("bigint").alias("nn1"),
        F.sum("mt").cast("bigint").alias("nnt"),
    )
    run = global_running_sums(
        pv,
        [F.col("dur").asc()],
        [(F.col("m1"), "cum1"), (F.col("mt"), "cumt")],
    )
    risk = run.crossJoin(F.broadcast(tot)).select(
        "dur",
        "d1",
        "dt",
        (F.col("nn1") - (F.col("cum1").cast("bigint") - F.col("m1")))
        .alias("n1"),
        (F.col("nnt") - (F.col("cumt").cast("bigint") - F.col("mt")))
        .alias("nt"),
    )
    nt, n1, dt = F.col("nt"), F.col("n1"), F.col("dt")
    s = risk.filter(dt > 0).agg(
        F.sum("d1").cast("double").alias("o1"),
        F.sum(dt.cast("double") * n1 / nt).alias("e1"),
        F.sum(
            F.when(
                nt > 1,
                dt.cast("double")
                * (n1.cast("double") / nt)
                * ((nt - n1).cast("double") / nt)
                * (nt - dt)
                / (nt - 1),
            ).otherwise(0.0)
        ).alias("v"),
    )
    diff = F.col("o1") - F.col("e1")
    return s.select(
        F.round(F.when(F.col("v") > 0, diff / F.sqrt(F.col("v"))), 6)
        .alias("z"),
        F.round(F.when(F.col("v") > 0, diff * diff / F.col("v")), 6)
        .alias("chi2"),
        F.round("o1", 1).alias("observed_a"),
        F.round("e1", 6).alias("expected_a"),
    )


def _signup_purchase_durations(
    spark: SparkSession, sf_dir: str, with_group: bool = False
) -> DataFrame:
    t = load_tables(spark, sf_dir)
    users = (
        t["events"]
        .groupBy("user_id")
        .agg(
            F.min(
                F.when(F.col("event_type") == "signup", F.col("ts"))
            ).alias("t0"),
            F.min(
                F.when(F.col("event_type") == "purchase", F.col("ts"))
            ).alias("t1"),
        )
        .filter(F.col("t0").isNotNull())
    )
    horizon = t["events"].agg(F.max("ts").alias("tmax"))
    ev = F.col("t1").isNotNull() & (F.col("t1") >= F.col("t0"))
    cols = [
        F.when(
            ev, F.datediff(F.col("t1").cast("date"), F.col("t0").cast("date"))
        )
        .otherwise(
            F.datediff(F.col("tmax").cast("date"), F.col("t0").cast("date"))
        )
        .alias("dur"),
        F.when(ev, 1).otherwise(0).alias("ev"),
    ]
    if with_group:
        cols.insert(
            0,
            F.when(F.col("user_id") % 2 == 0, "A").otherwise("B").alias("g"),
        )
    return users.crossJoin(F.broadcast(horizon)).select(*cols)


@query(
    "q_survival_km",
    oracle="""
        WITH users AS (
            SELECT user_id,
                   min(CASE WHEN event_type = 'signup' THEN ts END) AS t0,
                   min(CASE WHEN event_type = 'purchase' THEN ts END) AS t1
            FROM events GROUP BY 1
        ),
        horizon AS (SELECT max(ts) AS tmax FROM events),
        durations AS (
            SELECT CASE WHEN u.t1 IS NOT NULL AND u.t1 >= u.t0
                        THEN date_diff('day', CAST(u.t0 AS DATE),
                                       CAST(u.t1 AS DATE))
                        ELSE date_diff('day', CAST(u.t0 AS DATE),
                                       CAST(h.tmax AS DATE))
                   END AS dur,
                   CASE WHEN u.t1 IS NOT NULL AND u.t1 >= u.t0
                        THEN 1 ELSE 0 END AS ev
            FROM users u CROSS JOIN horizon h
            WHERE u.t0 IS NOT NULL
        ),
        pv AS (
            SELECT dur, CAST(count(*) AS BIGINT) AS m,
                   CAST(sum(ev) AS BIGINT) AS d
            FROM durations GROUP BY 1
        ),
        tot AS (SELECT CAST(sum(m) AS BIGINT) AS nn FROM pv),
        risk AS (
            SELECT pv.dur, pv.d,
                   tot.nn - (CAST(sum(pv.m) OVER (ORDER BY pv.dur
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                             AS BIGINT) - pv.m) AS n_at_risk
            FROM pv CROSS JOIN tot
        ),
        km AS (
            SELECT dur, d, n_at_risk,
                   exp(sum(ln(CAST(n_at_risk - d AS DOUBLE) / n_at_risk))
                       OVER (ORDER BY dur
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW)) AS s
            FROM risk WHERE d > 0 AND d < n_at_risk
        )
        SELECT dur AS duration_days, d AS d_events, n_at_risk,
               round(s, 6) AS survival
        FROM km ORDER BY dur
    """,
    doc="Kaplan-Meier survival curve for signup→purchase conversion "
    "time with right-censoring — S(t) = Π(1 − dᵢ/nᵢ) over event days, "
    "users who never purchase censored at the observation horizon.",
)
def q_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The product-limit estimator, spelled as exp(Σ ln((n−d)/n)) so the
    cumulative product becomes a running SUM of ln's of EXACT integer
    ratios — at-risk counts nᵢ and event counts dᵢ are int64 built from
    one per-user reduction, so both engines feed ln identical doubles
    and only accumulation order differs (6 dp rounding headroom).
    Right-censoring is the textbook treatment: never-purchasers leave
    the risk set at the horizon without an event. Rows are emitted for
    event days with d < n (a terminal day where everyone at risk
    converts would put ln(0) in the tail — excluded identically on
    both engines; its S is 0 by definition). Engine: km_curve (shared
    with api.survival); scale shape recorded there."""
    return km_curve(_signup_purchase_durations(spark, sf_dir)).select(
        F.col("duration").alias("duration_days"),
        "d_events",
        "n_at_risk",
        "survival",
    )


@query(
    "q_survival_logrank",
    oracle="""
        WITH users AS (
            SELECT user_id,
                   min(CASE WHEN event_type = 'signup' THEN ts END) AS t0,
                   min(CASE WHEN event_type = 'purchase' THEN ts END) AS t1
            FROM events GROUP BY 1
        ),
        horizon AS (SELECT max(ts) AS tmax FROM events),
        durations AS (
            SELECT CASE WHEN u.user_id % 2 = 0 THEN 'A' ELSE 'B' END AS g,
                   CASE WHEN u.t1 IS NOT NULL AND u.t1 >= u.t0
                        THEN date_diff('day', CAST(u.t0 AS DATE),
                                       CAST(u.t1 AS DATE))
                        ELSE date_diff('day', CAST(u.t0 AS DATE),
                                       CAST(h.tmax AS DATE))
                   END AS dur,
                   CASE WHEN u.t1 IS NOT NULL AND u.t1 >= u.t0
                        THEN 1 ELSE 0 END AS ev
            FROM users u CROSS JOIN horizon h
            WHERE u.t0 IS NOT NULL
        ),
        pv AS (
            SELECT dur,
                   CAST(count(*) FILTER (WHERE g = 'A') AS BIGINT) AS m1,
                   CAST(count(*) AS BIGINT) AS mt,
                   CAST(sum(CASE WHEN g = 'A' THEN ev ELSE 0 END)
                        AS BIGINT) AS d1,
                   CAST(sum(ev) AS BIGINT) AS dt
            FROM durations GROUP BY 1
        ),
        tot AS (
            SELECT CAST(sum(m1) AS BIGINT) AS nn1,
                   CAST(sum(mt) AS BIGINT) AS nnt
            FROM pv
        ),
        risk AS (
            SELECT pv.dur, pv.d1, pv.dt,
                   tot.nn1 - (CAST(sum(pv.m1) OVER (ORDER BY pv.dur
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                              AS BIGINT) - pv.m1) AS n1,
                   tot.nnt - (CAST(sum(pv.mt) OVER (ORDER BY pv.dur
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                              AS BIGINT) - pv.mt) AS nt
            FROM pv CROSS JOIN tot
        ),
        s AS (
            SELECT CAST(sum(d1) AS DOUBLE) AS o1,
                   sum(CAST(dt AS DOUBLE) * n1 / nt) AS e1,
                   sum(CASE WHEN nt > 1
                            THEN CAST(dt AS DOUBLE)
                                 * (CAST(n1 AS DOUBLE) / nt)
                                 * (CAST(nt - n1 AS DOUBLE) / nt)
                                 * (nt - dt) / (nt - 1)
                            ELSE 0 END) AS v
            FROM risk WHERE dt > 0
        )
        SELECT round((o1 - e1) / sqrt(v), 6) AS z,
               round((o1 - e1) * (o1 - e1) / v, 6) AS chi2,
               round(o1, 1) AS observed_a,
               round(e1, 6) AS expected_a
        FROM s
    """,
    doc="Log-rank test between the A/B user cohorts' conversion-time "
    "curves — observed-vs-expected events over the shared risk sets "
    "(hypergeometric variance), the standard 'do the survival curves "
    "differ' statistic for experiment analysis.",
)
def q_survival_logrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z = Σ(d₁ₜ − dₜ·n₁ₜ/nₜ) / sqrt(Σ hypergeometric Vₜ) over pooled
    event days — the censoring-aware comparison of two conversion
    curves (a naive conversion-rate z-test ignores WHO was still at
    risk when). Cohorts split by user parity (the A/B assignment
    shape). Per-day at-risk and event counts are exact int64; the
    observed/expected/variance reduction is three float sums over
    duration-domain rows, mirrored term-for-term in the oracle.
    Engine: logrank_test (shared with api.survival); both cohorts'
    running totals share a single range shuffle."""
    return logrank_test(
        _signup_purchase_durations(spark, sf_dir, with_group=True)
    )


def transition_matrix(
    ev: DataFrame,
    user_col: str,
    type_col: str,
    time_col: str,
    order_col: str,
) -> DataFrame:
    """Shared engine for q_event_transitions and api.transitions: the
    first-order Markov transition matrix over per-``user_col`` chains
    ordered by (``time_col``, ``order_col``) — the order_col tie-break
    makes the lag a total order. One per-user window shuffle + a
    category-sized aggregate; output (prev_type, next_type, n_trans,
    n_from, p_next round 6)."""
    for c in (user_col, type_col, time_col, order_col):
        if c not in ev.columns:
            raise KeyError(f"unknown variable: {c!r}")
    w = Window.partitionBy(user_col).orderBy(time_col, order_col)
    seq = ev.select(
        F.col(type_col).alias("_type"),
        F.lag(type_col).over(w).alias("prev_type"),
    )
    tr = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("_type").alias("next_type"))
        .agg(F.count("*").alias("n_trans"))
    )
    m = tr.groupBy("prev_type").agg(F.sum("n_trans").alias("n_from"))
    return tr.join(F.broadcast(m), "prev_type").select(
        "prev_type",
        "next_type",
        "n_trans",
        "n_from",
        F.round(
            F.col("n_trans").cast("double") / F.col("n_from"), 6
        ).alias("p_next"),
    )


def last_touch_attribution(
    ev: DataFrame,
    user_col: str,
    type_col: str,
    time_col: str,
    order_col: str,
    target: str,
) -> DataFrame:
    """Shared engine for q_attribution and api.attribution: credit each
    ``target`` event to the user's most recent preceding non-target
    event via an IGNORE NULLS running last over the per-user chain;
    no-prior-touch conversions land in an explicit 'none' bucket.
    Output (touch_type, n_purchases, share round 6)."""
    for c in (user_col, type_col, time_col, order_col):
        if c not in ev.columns:
            raise KeyError(f"unknown variable: {c!r}")
    w = (
        Window.partitionBy(user_col)
        .orderBy(time_col, order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(F.col(type_col) != target, F.col(type_col)),
        ignorenulls=True,
    ).over(w)
    a = (
        ev.withColumn("touch", touch)
        .filter(F.col(type_col) == target)
        .groupBy(F.coalesce("touch", F.lit("none")).alias("touch_type"))
        .agg(F.count("*").alias("n_purchases"))
    )
    tot = a.agg(F.sum("n_purchases").alias("t"))
    return a.crossJoin(F.broadcast(tot)).select(
        "touch_type",
        "n_purchases",
        F.round(
            F.col("n_purchases").cast("double") / F.col("t"), 6
        ).alias("share"),
    )


@query(
    "q_event_transitions",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type,
                   lag(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS prev_type
            FROM events
        ),
        tr AS (
            SELECT prev_type, event_type AS next_type,
                   CAST(count(*) AS BIGINT) AS n_trans
            FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
        ),
        m AS (
            SELECT prev_type, CAST(sum(n_trans) AS BIGINT) AS n_from
            FROM tr GROUP BY 1
        )
        SELECT tr.prev_type, tr.next_type, tr.n_trans, m.n_from,
               round(CAST(tr.n_trans AS DOUBLE) / m.n_from, 6) AS p_next
        FROM tr JOIN m USING (prev_type)
    """,
    doc="First-order Markov transition matrix over per-user event "
    "sequences: count and conditional probability of each "
    "(previous event -> next event) step — the behavioral-model "
    "primitive under next-action prediction and anomaly scoring.",
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each user's events form one chain ordered by (ts, event_id) —
    the event_id tie-break makes the lag a total order, so both
    engines see identical chains even on equal timestamps. One
    per-user window (the event stream's natural partitioning — the
    same single shuffle q_event_path rides), then a category-sized
    groupBy: the transition matrix is at most |types|² rows, so the
    second exchange is map-side-combined and trivially broadcastable
    back. p_next divides exact int64 counts once per output row —
    one float op, 6 dp rounding absorbs nothing but the division.

    Scale shape: at 100 TB this stays one hash shuffle on user_id
    (AQE-coalesced) + a 25-row aggregate; no driver collection, no
    state beyond the window's per-partition sort."""
    t = load_tables(spark, sf_dir)
    return transition_matrix(
        t["events"], "user_id", "event_type", "ts", "event_id"
    )


@query(
    "q_graph_pagerank",
    oracle="""
        WITH RECURSIVE seq AS (
            SELECT user_id, event_type,
                   lag(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS prev_type
            FROM events
        ),
        tr AS (
            SELECT prev_type AS s, event_type AS d,
                   CAST(count(*) AS DOUBLE) AS w
            FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
        ),
        nodes AS (
            -- NOT a top-level UNION: inside WITH RECURSIVE, DuckDB
            -- treats "a UNION b" CTE bodies as seed/step pairs and
            -- skips the dedup (observed live: 25+25=50 rows) — nest
            -- the union and dedup explicitly instead
            SELECT DISTINCT node FROM (
                SELECT s AS node FROM tr
                UNION ALL SELECT d AS node FROM tr
            )
        ),
        nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
        outw AS (SELECT s, sum(w) AS ow FROM tr GROUP BY 1),
        ew AS (
            SELECT tr.s, tr.d, tr.w / outw.ow AS p
            FROM tr JOIN outw USING (s)
        ),
        pr(it, node, r) AS (
            SELECT 0, node, 1.0 / n FROM nodes CROSS JOIN nn
            UNION ALL
            SELECT base.it + 1, base.node,
                   (1.0 - 0.85) / base.n
                   + 0.85 * (coalesce(inf.inflow, 0) + base.dang / base.n)
            FROM (
                SELECT a.it, a.node, nn.n,
                       (SELECT coalesce(sum(b.r), 0) FROM pr b
                        WHERE b.node NOT IN (SELECT s FROM outw)) AS dang
                FROM pr a CROSS JOIN nn
                WHERE a.it < 20
            ) base
            LEFT JOIN (
                SELECT ew.d AS node, sum(c.r * ew.p) AS inflow
                FROM pr c JOIN ew ON c.node = ew.s
                GROUP BY 1
            ) inf USING (node)
        )
        SELECT node AS event_type, round(r, 6) AS pagerank
        FROM pr WHERE it = 20
    """,
    doc="Weighted PageRank over the event-type transition graph "
    "(20 damped power iterations, d=0.85) — which actions the user "
    "stream keeps flowing back to; the iterative graph algorithm "
    "declared against a recursive-CTE oracle.",
)
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The transition counts q_event_transitions declares become edge
    weights; graph.pagerank runs 20 fixed power iterations with
    dangling-mass redistribution (engine docstring has the recurrence
    and the per-iteration plan shape: one edges⋈ranks join + one dst
    sum, lineage truncated per round). The DuckDB oracle mirrors the
    recurrence as a recursive CTE whose working table is exactly the
    previous iteration's rank vector — identical float recurrence,
    order-varying ≤5-term sums absorbed at 6 dp after 20 rounds.

    A FIXED iteration count (not a convergence test) keeps the two
    engines step-identical — convergence-raced results would diverge
    by one iteration's drift at the tolerance boundary."""
    from ..graph import pagerank

    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    edges = (
        t["events"]
        .select(
            "event_type",
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .filter(F.col("prev_type").isNotNull())
        .groupBy(
            F.col("prev_type").alias("s"),
            F.col("event_type").alias("d"),
        )
        .agg(F.count("*").cast("double").alias("w"))
    )
    ranks = pagerank(edges, src="s", dst="d", weight="w",
                     damping=0.85, n_iter=20)
    return ranks.select(
        F.col("node").alias("event_type"),
        F.round("rank", 6).alias("pagerank"),
    )


@query(
    "q_attribution",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type,
                   last_value(CASE WHEN event_type <> 'purchase'
                                   THEN event_type END IGNORE NULLS)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING) AS touch
            FROM events
        ),
        a AS (
            SELECT coalesce(touch, 'none') AS touch_type,
                   CAST(count(*) AS BIGINT) AS n_purchases
            FROM seq WHERE event_type = 'purchase' GROUP BY 1
        ),
        tot AS (SELECT CAST(sum(n_purchases) AS BIGINT) AS t FROM a)
        SELECT touch_type, n_purchases,
               round(CAST(n_purchases AS DOUBLE) / t, 6) AS share
        FROM a CROSS JOIN tot
    """,
    doc="Last-touch conversion attribution: each purchase credits the "
    "user's most recent preceding non-purchase event — the "
    "marketing-analytics primitive behind channel-credit reports; "
    "purchases with no prior touch land in an explicit 'none' bucket.",
)
def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """last(non-purchase type, ignorenulls) over ROWS UNBOUNDED
    PRECEDING..1 PRECEDING per user — the same (ts, event_id)
    total-order chain contract as q_event_transitions, so equal
    timestamps cannot flip the attributed touch cross-engine. The
    IGNORE NULLS running last is the declarative spelling of 'carry
    the latest touch forward'; no self-join, no per-row subquery.

    Scale shape: one per-user window shuffle (the event stream's
    natural key), then a ≤|types|+1-row aggregate; the share division
    is one float op per output row. At 100 TB: identical plan, the
    window state is one string per user-partition row."""
    t = load_tables(spark, sf_dir)
    return last_touch_attribution(
        t["events"], "user_id", "event_type", "ts", "event_id", "purchase"
    )


def multi_touch_attribution(
    ev: DataFrame,
    user_col: str,
    type_col: str,
    time_col: str,
    order_col: str,
    target: str,
    horizon_days: int = 30,
) -> DataFrame:
    """Shared engine for q_attribution_multi and api.attribution_multi:
    position-based (U-shaped), linear, and time-decay credit over each
    conversion's journey.

    Journey = the non-target events between consecutive ``target``
    events in the user's (time, order) chain: every row's journey id is
    the count of targets STRICTLY before it, so touch rows with j = k
    belong to conversion #k and touches after the user's last conversion
    are orphaned (dropped by the inner join — no conversion to credit).

    Credit is exact integer micro-units so cross-engine sums are
    order-independent (numerics.py rule 2; floor() instead of round()
    because 1e6/n CAN land exactly on .5 — n=128 → 7812.5 — where the
    engines' round() semantics diverge):

      * linear:   floor(1e6 / n) per touch
      * position: n=1 → 1e6; n=2 → 5e5 each; else 4e5 for first and
                  last, floor(2e5/(n-2)) for each middle touch
      * time_decay: weight 2^(horizon - dd) with dd = whole days from
                  touch to conversion (capped at ``horizon_days``) —
                  an EXACT integer power of two via shiftleft, so the
                  per-journey weight sum is exact and the single
                  normalizing division is IEEE-identical cross-engine.
                  Day age from exact epoch-microsecond integers
                  (fixture timestamps carry microseconds; second-level
                  truncation would diverge between engines).

    Output (model, touch_type, credit_micro BIGINT, share round 6).
    Conversions with an empty journey receive no credit in any model
    (multi-touch credits touches; the 'none' bucket is last-touch
    semantics — see last_touch_attribution).

    Scale shape: one per-user window shuffle for the journey ids, one
    (user, journey) window/aggregation — a strict refinement of the
    user partitioning, so AQE coalesces it onto the same exchange
    footprint — then a co-keyed conversions⋈touches join on
    (user, journey) and a ≤3·|types|-row final aggregate. No
    self-join over the event stream, no driver-side state."""
    for c in (user_col, type_col, time_col, order_col):
        if c not in ev.columns:
            raise KeyError(f"unknown variable: {c!r}")
    horizon = int(horizon_days)
    chain = (
        Window.partitionBy(user_col)
        .orderBy(time_col, order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # materialize() the journey-stamped stream (round 15): conv and
    # touch both consume ``seq``, and Catalyst cannot share a diamond —
    # each side re-ran the scan + the user-partitioned window shuffle
    # (the two most expensive operators in the plan, verified in
    # plans/r15/q_attribution_multi_before.txt: two Scan parquet, two
    # Exchange hashpartitioning(user_id)). The lazy localCheckpoint
    # computes the chain window ONCE; both filters then read the same
    # executor-local blocks. Row-identical output (the subtree is
    # deterministic); only the needed columns are pinned.
    seq = materialize(
        ev.select(user_col, type_col, time_col, order_col).withColumn(
            "j",
            F.count(F.when(F.col(type_col) == target, F.lit(1))).over(
                chain
            ),
        )
    )
    conv = seq.filter(F.col(type_col) == target).select(
        F.col(user_col).alias("u"),
        "j",
        # cast-to-timestamp first: a no-op for TimestampType, and a
            # value-preserving reinterpretation for TIMESTAMP_NTZ inputs
            # (session tz is pinned UTC) — unix_micros rejects NTZ outright
            F.unix_micros(F.col(time_col).cast("timestamp")).alias("conv_us"),
    )
    wj = Window.partitionBy(user_col, "j").orderBy(time_col, order_col)
    touch = (
        seq.filter(F.col(type_col) != target)
        .withColumn("pos", F.row_number().over(wj))
        .withColumn("n", F.count("*").over(Window.partitionBy(user_col, "j")))
        .select(
            F.col(user_col).alias("u"),
            "j",
            F.col(type_col).alias("touch_type"),
            F.unix_micros(F.col(time_col).cast("timestamp")).alias("touch_us"),
            "pos",
            "n",
        )
    )
    joined = touch.join(conv, ["u", "j"]).withColumn(
        "dd",
        F.least(
            F.floor((F.col("conv_us") - F.col("touch_us")) / F.lit(86400e6)),
            F.lit(horizon),
        ).cast("int"),
    )
    # exact power-of-two decay weight + its exact per-journey sum
    decayed = joined.withColumn(
        "wgt", F.expr(f"shiftleft(CAST(1 AS BIGINT), {horizon} - dd)")
    ).withColumn("wsum", F.sum("wgt").over(Window.partitionBy("u", "j")))
    linear = F.floor(F.lit(1000000.0) / F.col("n")).cast("long")
    position = (
        F.when(F.col("n") == 1, F.lit(1000000))
        .when(F.col("n") == 2, F.lit(500000))
        .when((F.col("pos") == 1) | (F.col("pos") == F.col("n")), F.lit(400000))
        .otherwise(F.floor(F.lit(200000.0) / (F.col("n") - 2)))
        .cast("long")
    )
    decay = F.floor(
        F.lit(1000000.0) * F.col("wgt") / F.col("wsum")
    ).cast("long")
    per_touch = decayed.select(
        "touch_type",
        F.explode(
            F.map_from_arrays(
                F.array(F.lit("linear"), F.lit("position"), F.lit("time_decay")),
                F.array(linear, position, decay),
            )
        ).alias("model", "credit"),
    )
    agg = per_touch.groupBy("model", "touch_type").agg(
        F.sum("credit").alias("credit_micro")
    )
    tot = Window.partitionBy("model")
    return agg.select(
        "model",
        "touch_type",
        "credit_micro",
        F.round(
            F.col("credit_micro").cast("double")
            / F.sum("credit_micro").over(tot).cast("double"),
            6,
        ).alias("share"),
    )


@query(
    "q_attribution_multi",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type, ts, event_id,
                   count(CASE WHEN event_type = 'purchase' THEN 1 END)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING) AS j
            FROM events
        ),
        conv AS (
            SELECT user_id, j, epoch_us(ts) AS conv_us
            FROM seq WHERE event_type = 'purchase'
        ),
        touch AS (
            SELECT user_id, j, event_type AS touch_type, epoch_us(ts) AS touch_us,
                   row_number() OVER (PARTITION BY user_id, j
                                      ORDER BY ts, event_id) AS pos,
                   count(*) OVER (PARTITION BY user_id, j) AS n
            FROM seq WHERE event_type <> 'purchase'
        ),
        joined AS (
            SELECT t.touch_type, t.pos, t.n, t.user_id, t.j,
                   CAST(least(floor((c.conv_us - t.touch_us) / 86400e6),
                              30) AS INT) AS dd
            FROM touch t JOIN conv c
              ON t.user_id = c.user_id AND t.j = c.j
        ),
        decayed AS (
            SELECT touch_type, pos, n,
                   (CAST(1 AS BIGINT) << (30 - dd)) AS wgt,
                   CAST(sum(CAST(1 AS BIGINT) << (30 - dd))
                        OVER (PARTITION BY user_id, j) AS BIGINT) AS wsum
            FROM joined
        ),
        per_touch AS (
            SELECT touch_type, 'linear' AS model,
                   CAST(floor(1000000.0 / n) AS BIGINT) AS credit
            FROM decayed
            UNION ALL
            SELECT touch_type, 'position',
                   CAST(CASE WHEN n = 1 THEN 1000000
                             WHEN n = 2 THEN 500000
                             WHEN pos = 1 OR pos = n THEN 400000
                             ELSE floor(200000.0 / (n - 2)) END AS BIGINT)
            FROM decayed
            UNION ALL
            SELECT touch_type, 'time_decay',
                   CAST(floor(1000000.0 * wgt / wsum) AS BIGINT)
            FROM decayed
        ),
        agg AS (
            SELECT model, touch_type,
                   CAST(sum(credit) AS BIGINT) AS credit_micro
            FROM per_touch GROUP BY 1, 2
        )
        SELECT model, touch_type, credit_micro,
               round(CAST(credit_micro AS DOUBLE)
                     / CAST(CAST(sum(credit_micro)
                            OVER (PARTITION BY model) AS BIGINT)
                            AS DOUBLE), 6) AS share
        FROM agg
    """,
    doc="Multi-touch conversion attribution: linear, position-based "
    "(U-shaped 40/20/40), and time-decay (exact power-of-two half-... "
    "per-day weights) credit over each conversion's journey — the "
    "standard marketing-science siblings of last-touch, with exact "
    "integer micro-unit credit so cross-engine sums are "
    "order-independent.",
    bench=True,
)
def q_attribution_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Journeys are delimited by a running count of purchases strictly
    before each row (the same (ts, event_id) total-order chain contract
    as q_attribution); three credit models are emitted per touch via a
    single map_from_arrays explode so the journey frame is scanned
    once. All credit arithmetic is exact-integer micro-units with
    floor() division (1e6/n CAN land exactly on .5 where engine round()
    semantics diverge — numerics.py rule 2 territory); time-decay
    weights are exact powers of two from whole-day ages measured on
    epoch-microsecond integers."""
    t = load_tables(spark, sf_dir)
    return multi_touch_attribution(
        t["events"], "user_id", "event_type", "ts", "event_id", "purchase"
    )


@query(
    "q_anomaly_mad",
    oracle="""
        WITH med AS (
            SELECT event_type, median(value) AS med
            FROM events GROUP BY 1
        ),
        j AS (
            SELECT e.event_type, e.value, m.med
            FROM events e JOIN med m USING (event_type)
        ),
        mad AS (
            SELECT event_type, median(abs(value - med)) AS mad
            FROM j GROUP BY 1
        ),
        jj AS (
            SELECT j.event_type, j.value, j.med, d.mad
            FROM j JOIN mad d USING (event_type)
        )
        SELECT event_type,
               round(any_value(med), 6) AS med,
               round(any_value(mad), 6) AS mad,
               CAST(count(*) FILTER (
                   WHERE 0.6745 * abs(value - med) / mad > 3.5
               ) AS BIGINT) AS n_outliers,
               CAST(count(*) AS BIGINT) AS n
        FROM jj GROUP BY 1
    """,
    doc="Robust MAD outlier detection per event type: modified z-score "
    "0.6745·|v−med|/MAD > 3.5 (Iglewicz-Hoaglin) — the "
    "median-based sibling of q_anomaly's rolling mean/stddev score, "
    "immune to the outliers it hunts.",
)
def q_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean/stddev anomaly scores (q_anomaly) are themselves dragged by
    the outliers they score; median/MAD break that circularity (50%
    breakdown point). Determinism: both engines interpolate the exact
    same h=(n−1)p median over identical doubles, so med, |v−med|, the
    second median and the threshold comparison are bit-identical —
    rounding only on the two reported centers.

    Scale shape: two category-sized median aggregates with the
    category-keyed broadcast joined back (events co-partitioned by
    type for both), then one counting pass — exact per-group medians
    are sort-per-group at category cardinality, the right trade at
    ≤ thousands of groups (the sketch path is q_agg_approx_percentile
    / q_agg_quantile_merge)."""
    t = load_tables(spark, sf_dir)
    ev = t["events"]
    med = ev.groupBy("event_type").agg(F.median("value").alias("med"))
    j = ev.join(F.broadcast(med), "event_type")
    mad = j.groupBy("event_type").agg(
        F.median(F.abs(F.col("value") - F.col("med"))).alias("mad")
    )
    jj = j.join(F.broadcast(mad), "event_type")
    score = F.lit(0.6745) * F.abs(F.col("value") - F.col("med")) / F.col("mad")
    return jj.groupBy("event_type").agg(
        F.round(F.any_value("med"), 6).alias("med"),
        F.round(F.any_value("mad"), 6).alias("mad"),
        F.count(F.when(score > 3.5, 1)).alias("n_outliers"),
        F.count("*").alias("n"),
    )


@query(
    "q_scd2",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type, ts, event_id,
                   lag(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS prev_type
            FROM events
        ),
        changes AS (
            SELECT user_id, event_type AS state, ts AS valid_from,
                   event_id
            FROM seq
            WHERE prev_type IS NULL OR event_type <> prev_type
        )
        SELECT user_id, state, valid_from,
               lead(valid_from) OVER (
                   PARTITION BY user_id ORDER BY valid_from, event_id
               ) AS valid_to,
               lead(valid_from) OVER (
                   PARTITION BY user_id ORDER BY valid_from, event_id
               ) IS NULL AS is_current
        FROM changes
    """,
    doc="SCD type-2 dimension build from the event stream: collapse "
    "consecutive same-state events per user into validity intervals "
    "[valid_from, valid_to) with an open-ended current row — the "
    "warehouse history-tracking primitive, from two per-user windows.",
)
def q_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The slowly-changing-dimension builder every warehouse needs on
    top of a CDC/event feed: a state row starts when the observed
    state DIFFERS from the previous observation (lag over the
    (ts, event_id) chain — consecutive duplicates collapse into one
    interval) and closes at the next change (lead over the surviving
    change rows); the open interval is the current state. Both windows
    partition on user_id, so the change detection and the interval
    close ride ONE user-keyed exchange — at 100 TB this is the same
    shuffle the event stream's natural key always pays, with no
    self-join and no driver state. Ties on ts break on event_id (the
    chain contract shared with q_event_transitions/q_attribution).
    Engine: scd2_intervals (shared with q_scd2_merge since round 10)."""
    t = load_tables(spark, sf_dir)
    return scd2_intervals(
        t["events"].select(
            "user_id",
            F.col("event_type").alias("state"),
            F.col("ts").alias("valid_from"),
            "event_id",
        )
    ).drop("event_id")


def scd2_intervals(rows: DataFrame) -> DataFrame:
    """Collapse an observation chain (user_id, state, valid_from,
    event_id) into SCD2 validity intervals. Collapsing consecutive
    duplicates is a left fold that drops elements equal to their
    predecessor, so collapse(A ++ B) = collapse(collapse(A) ++ B) —
    the algebraic fact q_scd2_merge leans on: an already-collapsed
    base prefix plus newer raw observations re-collapses to exactly
    the full-history answer. Keeps event_id in the output (the change
    row's lineage anchor / tie-break key); callers drop it from
    user-facing projections."""
    chain = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
    changes = (
        rows.withColumn("prev_state", F.lag("state").over(chain))
        .filter(
            F.col("prev_state").isNull()
            | (F.col("state") != F.col("prev_state"))
        )
        .select("user_id", "state", "valid_from", "event_id")
    )
    iw = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
    valid_to = F.lead("valid_from").over(iw)
    return changes.select(
        "user_id",
        "state",
        "valid_from",
        "event_id",
        valid_to.alias("valid_to"),
        valid_to.isNull().alias("is_current"),
    )


@query(
    "q_gaps_islands",
    oracle="""
        WITH days AS (
            SELECT DISTINCT user_id,
                   CAST(date_trunc('day', ts) AS TIMESTAMP) AS d
            FROM events
        ),
        anch AS (
            SELECT user_id, d,
                   d - INTERVAL (row_number() OVER (
                       PARTITION BY user_id ORDER BY d
                   )) DAY AS anchor
            FROM days
        )
        SELECT user_id, min(d) AS island_start, max(d) AS island_end,
               CAST(count(*) AS BIGINT) AS n_days
        FROM anch GROUP BY user_id, anchor
    """,
    doc="Gaps-and-islands: maximal runs of consecutive active days per "
    "user (streak detection) via the classic row_number-offset anchor "
    "— one window + one aggregate on the user key, no self-join.",
)
def q_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaks ('islands') of consecutive activity: subtracting each
    active day's per-user rank from the day itself maps every maximal
    consecutive run onto ONE anchor date (consecutive days advance
    day and rank in lockstep), so islands fall out of a plain groupBy
    — the textbook gaps-and-islands reduction, no self-join, no
    recursive walk. Dates stay date_trunc TIMESTAMPS end-to-end
    (cross-engine DATE dtype hazard, numerics.py notes); day
    arithmetic is an exact INTERVAL subtraction on both engines.

    Scale shape: the distinct-day reduction and the window share the
    user_id exchange; the island aggregate groups (user, anchor) — a
    strict refinement AQE coalesces onto the same footprint. State
    per task = one user's active-day list at most."""
    t = load_tables(spark, sf_dir)
    days = (
        t["events"]
        .select(
            "user_id", F.date_trunc("day", F.col("ts")).alias("d")
        )
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("d")
    anch = days.withColumn(
        "anchor",
        F.col("d") - F.make_interval(days=F.row_number().over(w)),
    )
    return anch.groupBy("user_id", "anchor").agg(
        F.min("d").alias("island_start"),
        F.max("d").alias("island_end"),
        F.count("*").alias("n_days"),
    ).drop("anchor")


def fk_edge_audit(child: DataFrame, fk: str, parent: DataFrame,
                  pk: str, name: str) -> DataFrame:
    """One FK edge of a referential-integrity audit: LEFT join the
    child's FK column onto the parent key, reduce to (relation,
    n_child, n_null_fk, n_orphans). A LEFT join + conditional count
    beats a separate anti-join pass — one probe of the parent per
    relation, dim-sized parents broadcast, fact-sized ones shuffle on
    the join key. The q_fk_integrity key and api.integrity() both
    consume this engine."""
    j = child.select(F.col(fk).alias("_fk")).join(
        parent.select(F.col(pk).alias("_pk")),
        F.col("_fk") == F.col("_pk"),
        "left",
    )
    return j.agg(
        F.lit(name).alias("relation"),
        F.count("*").alias("n_child"),
        F.count(F.when(F.col("_fk").isNull(), 1)).alias("n_null_fk"),
        F.count(
            F.when(F.col("_fk").isNotNull() & F.col("_pk").isNull(), 1)
        ).alias("n_orphans"),
    )


@query(
    "q_fk_integrity",
    oracle="""
        SELECT 'lineitem->orders' AS relation,
               CAST(count(*) AS BIGINT) AS n_child,
               CAST(count(*) FILTER (WHERE c.l_orderkey IS NULL)
                    AS BIGINT) AS n_null_fk,
               CAST(count(*) FILTER (WHERE c.l_orderkey IS NOT NULL
                                       AND p.o_orderkey IS NULL)
                    AS BIGINT) AS n_orphans
        FROM lineitem c LEFT JOIN orders p ON c.l_orderkey = p.o_orderkey
        UNION ALL
        SELECT 'lineitem->part',
               CAST(count(*) AS BIGINT),
               CAST(count(*) FILTER (WHERE c.l_partkey IS NULL) AS BIGINT),
               CAST(count(*) FILTER (WHERE c.l_partkey IS NOT NULL
                                       AND p.p_partkey IS NULL) AS BIGINT)
        FROM lineitem c LEFT JOIN part p ON c.l_partkey = p.p_partkey
        UNION ALL
        SELECT 'lineitem->supplier',
               CAST(count(*) AS BIGINT),
               CAST(count(*) FILTER (WHERE c.l_suppkey IS NULL) AS BIGINT),
               CAST(count(*) FILTER (WHERE c.l_suppkey IS NOT NULL
                                       AND p.s_suppkey IS NULL) AS BIGINT)
        FROM lineitem c LEFT JOIN supplier p ON c.l_suppkey = p.s_suppkey
        UNION ALL
        SELECT 'orders->customer',
               CAST(count(*) AS BIGINT),
               CAST(count(*) FILTER (WHERE c.o_custkey IS NULL) AS BIGINT),
               CAST(count(*) FILTER (WHERE c.o_custkey IS NOT NULL
                                       AND p.c_custkey IS NULL) AS BIGINT)
        FROM orders c LEFT JOIN customer p ON c.o_custkey = p.c_custkey
    """,
    doc="Referential-integrity audit over the star schema's four FK "
    "edges: child rows, NULL foreign keys, and orphans (non-NULL FK "
    "with no parent) per relation — the data-quality gate a pipeline "
    "runs before trusting joins.",
)
def q_fk_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One LEFT join per FK edge, reduced to three counters — child
    count, NULL-FK count, orphan count (FK present, parent missing).
    A LEFT join + conditional count beats a separate anti-join pass:
    one probe of the parent per relation, and the dim-sized parents
    (part/supplier/customer) broadcast while the fact-sized one
    (orders) shuffles on the join key — exactly the plan the same
    audit wants at 100 TB. The four 1-row reductions union into a
    fixed 4-row result."""
    t = load_tables(spark, sf_dir)
    return (
        fk_edge_audit(t["lineitem"], "l_orderkey", t["orders"],
                      "o_orderkey", "lineitem->orders")
        .unionAll(fk_edge_audit(t["lineitem"], "l_partkey", t["part"],
                                "p_partkey", "lineitem->part"))
        .unionAll(fk_edge_audit(t["lineitem"], "l_suppkey", t["supplier"],
                                "s_suppkey", "lineitem->supplier"))
        .unionAll(fk_edge_audit(t["orders"], "o_custkey", t["customer"],
                                "c_custkey", "orders->customer"))
    )


def basket_rules(baskets: DataFrame, min_count: int = 10) -> DataFrame:
    """Association rules over a distinct (ok, b) basket-membership
    frame: support/confidence/lift for every item pair co-occurring in
    >= min_count baskets. The pair self-join is an equi-join on the
    basket key with b1 < b2, so candidates are bounded by basket
    width, never the catalog; the item marginals and 1-row basket
    total broadcast back onto the pair counts; every statistic is a
    single float chain over exact integer counts, rounded at 6 dp.
    The q_basket_lift key and api.basket() both consume this engine."""
    # materialize() the basket-membership frame and the marginals
    # (round 16, §2.4): five consumers (tot, both self-join sides, and
    # nb behind both broadcast marginals) each re-ran the caller's
    # basket build — for q_basket_lift a lineitem⋈part + distinct per
    # consumer. One pin computes the baskets once; pinning nb keeps
    # the small marginal aggregate from running twice on top of it.
    baskets = materialize(baskets)
    nb = materialize(
        baskets.groupBy("b").agg(F.count("*").alias("cb"))
    )
    tot = baskets.agg(F.countDistinct("ok").alias("n"))
    x = baskets.select("ok", F.col("b").alias("b1"))
    y = baskets.select("ok", F.col("b").alias("b2"))
    pairs = (
        x.join(y, "ok")
        .filter(F.col("b1") < F.col("b2"))
        .groupBy("b1", "b2")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= min_count)
    )
    n1 = nb.select(F.col("b").alias("b1"), F.col("cb").alias("cb1"))
    n2 = nb.select(F.col("b").alias("b2"), F.col("cb").alias("cb2"))
    return (
        pairs.join(F.broadcast(n1), "b1")
        .join(F.broadcast(n2), "b2")
        .crossJoin(F.broadcast(tot))
        .select(
            "b1", "b2", F.col("c").alias("n_orders"),
            F.round(F.col("c").cast("double") / F.col("n"), 6)
            .alias("support"),
            F.round(F.col("c").cast("double") / F.col("cb1"), 6)
            .alias("confidence"),
            F.round(
                F.col("c").cast("double") * F.col("n")
                / (F.col("cb1") * F.col("cb2")),
                6,
            ).alias("lift"),
        )
    )


@query(
    "q_basket_lift",
    oracle="""
        WITH baskets AS (
            SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS b
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        ),
        nb AS (
            SELECT b, CAST(count(*) AS BIGINT) AS cb FROM baskets GROUP BY 1
        ),
        tot AS (
            SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n FROM baskets
        ),
        pairs AS (
            SELECT x.b AS b1, y.b AS b2,
                   CAST(count(*) AS BIGINT) AS c
            FROM baskets x JOIN baskets y
              ON x.ok = y.ok AND x.b < y.b
            GROUP BY 1, 2
        )
        SELECT b1, b2, c AS n_orders,
               round(CAST(c AS DOUBLE) / n, 6) AS support,
               round(CAST(c AS DOUBLE) / n1.cb, 6) AS confidence,
               round(CAST(c AS DOUBLE) * n / (n1.cb * n2.cb), 6) AS lift
        FROM pairs
        JOIN nb n1 ON pairs.b1 = n1.b
        JOIN nb n2 ON pairs.b2 = n2.b
        CROSS JOIN tot
        WHERE c >= 10
    """,
    doc="Market-basket association rules at the brand grain: "
    "support/confidence/lift for every co-ordered brand pair with "
    ">=10 co-occurrences — the affinity-analysis primitive (the "
    "statistics are ratios of exact co-occurrence counts).",
)
def q_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lift(A,B) = N·c(A,B)/(c(A)·c(B)) over order baskets. The
    self-join runs INSIDE each basket (equi-join on the order key with
    b1 < b2), so candidate pairs are bounded by the per-order line
    count (≤ a dozen in this schema), never by the catalog — work is
    linear in orders at any scale. The brand marginals (bounded brand
    domain) and the 1-row basket total broadcast back onto the pair
    counts; every statistic is a single float chain over exact integer
    counts, rounded at 6 dp on both engines.

    Scale shape: one distinct shuffle on (order, brand) — reused by
    the pair self-join's two sides via the same key — one pair
    groupBy, two broadcast joins, one broadcast scalar."""
    t = load_tables(spark, sf_dir)
    baskets = (
        t["lineitem"]
        .join(t["part"], F.col("l_partkey") == F.col("p_partkey"))
        .select(F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("b"))
        .distinct()
    )
    return basket_rules(baskets, min_count=10)


@query(
    "q_graph_degree",
    oracle="""
        WITH deg AS (
            SELECT l_suppkey,
                   CAST(count(*) AS BIGINT) AS degree
            FROM (SELECT DISTINCT l_suppkey, l_partkey FROM lineitem)
            GROUP BY 1
        )
        SELECT degree, CAST(count(*) AS BIGINT) AS n_suppliers
        FROM deg GROUP BY 1
    """,
    doc="Degree distribution of the supplier-part bipartite graph "
    "(distinct parts shipped per supplier, histogrammed) — the "
    "first-look structural profile of any graph-shaped dataset.",
)
def q_graph_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level reduction: distinct edges → per-node degree → degree
    histogram. Each step is a map-side-combinable groupBy whose key
    set only shrinks (edges → nodes → distinct degrees), so the plan
    is three collapsing exchanges with no window, no join — the shape
    degree profiling keeps at any scale, and the companion to
    q_graph_pagerank's structural view."""
    t = load_tables(spark, sf_dir)
    deg = (
        t["lineitem"]
        .select("l_suppkey", "l_partkey")
        .distinct()
        .groupBy("l_suppkey")
        .agg(F.count("*").alias("degree"))
    )
    return deg.groupBy("degree").agg(F.count("*").alias("n_suppliers"))


@query(
    "q_rfm",
    oracle="""
        WITH cust AS (
            SELECT o_custkey,
                   CAST(date_diff('day', max(o_orderdate),
                        TIMESTAMP '2001-08-01') AS BIGINT) AS recency,
                   CAST(count(*) AS BIGINT) AS frequency,
                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS monetary
            FROM orders GROUP BY 1
        ),
        n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM cust),
        scored AS (
            SELECT o_custkey, monetary,
                   CAST(1 + ((row_number() OVER (
                        ORDER BY recency ASC, o_custkey) - 1) * 5) // n
                        AS BIGINT) AS r_score,
                   CAST(1 + ((row_number() OVER (
                        ORDER BY frequency ASC, o_custkey) - 1) * 5) // n
                        AS BIGINT) AS f_score,
                   CAST(1 + ((row_number() OVER (
                        ORDER BY monetary ASC, o_custkey) - 1) * 5) // n
                        AS BIGINT) AS m_score
            FROM cust CROSS JOIN n
        )
        SELECT r_score, f_score, m_score,
               CAST(count(*) AS BIGINT) AS n_customers,
               round(CAST(sum(monetary) AS DOUBLE) / count(*) / 100, 6)
                   AS avg_monetary
        FROM scored GROUP BY 1, 2, 3
    """,
    doc="RFM customer segmentation: quintile scores for recency ("
    "days before the horizon), frequency (orders), monetary (exact "
    "cents) with deterministic rank math, aggregated to segment "
    "counts — the classic marketing segmentation grid.",
)
def q_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quintiles via EXPLICIT rank arithmetic — score = 1 +
    ⌊(rank−1)·5/n⌋ over a TOTAL order (metric, custkey) — because
    ntile()'s remainder distribution is engine-defined; this spelling
    is pure integer math (explicit floor / `//`, never a double→int
    cast, which truncates on Spark but rounds on DuckDB) and identical
    everywhere. Recency anchors at
    the fixture's max order date (a constant, so the key is pure);
    monetary stays exact cents until the final display division.

    Scale shape: one customer-grain aggregate over orders, then three
    global_row_number range-partitioned rankings over the CUSTOMER
    table — never an Exchange SinglePartition over data (the ~1e9-row
    customer table at 100 TB ranks with the same two-pass pattern as
    every running sum in this repo) — then a 125-cell segment
    aggregate."""
    t = load_tables(spark, sf_dir)
    cust = t["orders"].groupBy("o_custkey").agg(
        F.datediff(
            F.lit("2001-08-01").cast("timestamp"), F.max("o_orderdate")
        )
        .cast("bigint")
        .alias("recency"),
        F.count("*").alias("frequency"),
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
        .cast("bigint")
        .alias("monetary"),
    )
    from ..ordering import global_row_number

    n = cust.agg(F.count("*").cast("bigint").alias("n"))
    ranked = cust
    for metric, alias in (
        ("recency", "_rr"), ("frequency", "_rf"), ("monetary", "_rm")
    ):
        ranked = global_row_number(
            ranked,
            [F.col(metric).asc(), F.col("o_custkey").asc()],
            alias,
        )

    def score(rank_col: str) -> F.Column:
        return (
            1 + F.floor(((F.col(rank_col) - 1) * 5) / F.col("n"))
        ).cast("bigint")

    scored = ranked.crossJoin(F.broadcast(n)).select(
        "o_custkey", "monetary",
        score("_rr").alias("r_score"),
        score("_rf").alias("f_score"),
        score("_rm").alias("m_score"),
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count("*").alias("n_customers"),
        F.round(
            F.sum("monetary").cast("double") / F.count("*") / 100, 6
        ).alias("avg_monetary"),
    )


@query(
    "q_graph_triangles",
    oracle="""
        WITH li AS (
            SELECT DISTINCT l_orderkey, l_partkey
            FROM lineitem WHERE l_quantity >= 41
        ),
        e AS (
            SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
            FROM li a
            JOIN li b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
        ),
        deg AS (
            SELECT node, CAST(count(*) AS BIGINT) AS d
            FROM (SELECT u AS node FROM e
                  UNION ALL SELECT v AS node FROM e)
            GROUP BY 1
        ),
        tri AS (
            SELECT CAST(count(*) AS BIGINT) AS t
            FROM e e1
            JOIN e e2 ON e1.v = e2.u
            JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
        ),
        dd AS (
            SELECT CAST(count(*) AS BIGINT) AS n_nodes,
                   CAST(sum(d * (d - 1) // 2) AS BIGINT) AS n_wedges
            FROM deg
        )
        SELECT dd.n_nodes,
               (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
               tri.t AS n_triangles,
               dd.n_wedges,
               round(3.0 * tri.t / dd.n_wedges, 6) AS global_clustering
        FROM dd, tri
    """,
    doc="Triangle count + global clustering coefficient of the part "
    "co-occurrence graph (parts sharing a high-quantity order) — "
    "degree-oriented wedge join on the Spark side, the classic "
    "shuffle-bounded distributed triangle algorithm.",
)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed triangle counting with DEGREE ORIENTATION: orient
    every undirected edge from its lower-(degree, id) endpoint to the
    higher one, then wedge-join out-edges and probe the third edge.
    Orientation caps every node's out-degree at O(√m) regardless of how
    skewed the raw degree distribution is — the wedge join materializes
    Σ outdeg² = O(m^1.5) candidates instead of Σ deg² (hub-quadratic),
    which is WHY this survives power-law graphs at 100 TB. The oracle
    counts the same triangles via the id-ordered triple join (triangle
    count is orientation-invariant). Wedges Σ d(d−1)/2 and the global
    clustering coefficient 3T/W are exact integer math until one final
    division.

    Scale shape: per-order part pairs are bounded by order size (≤7
    lineitems ⇒ ≤21 pairs), so edge building is one orderkey shuffle;
    the wedge join shuffles oriented edges on their source node only."""
    t = load_tables(spark, sf_dir)
    li = (
        t["lineitem"]
        .filter(F.col("l_quantity") >= 41)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    e = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .distinct()
    )
    return triangle_stats(e)


def triangle_stats(e: DataFrame) -> DataFrame:
    """Degree-oriented triangle counting over a distinct undirected
    (u, v) edge list (u < v) — the engine behind q_graph_triangles,
    shared with tools/graph_bench.py's planted-clique scale harness.
    See the key's docstring for the orientation argument (out-degree
    capped at O(√m) ⇒ wedge candidates O(m^1.5), hub-safe)."""
    # materialize() the edge list, the degree table, and the oriented
    # list (round 16, §2.4): ``oriented`` feeds the wedge join TWICE
    # plus the triangle-closing probe, and each evaluation re-ran the
    # caller's edge build + both degree joins — the before plan
    # (plans/r16/q_graph_triangles_before.txt) carries ~36 scan nodes
    # for what is ONE edge list. Pinned, the wedge join's three
    # consumers read the same oriented blocks. Row-identical output.
    e = materialize(e)
    deg = materialize(
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    # Orient each edge from the lexicographically smaller (degree, id)
    # endpoint; carry the head's (degree, id) rank so the wedge join can
    # order the two out-neighbors without a second degree lookup.
    ed = (
        e.join(F.broadcast(deg).withColumnRenamed("node", "u").withColumnRenamed("d", "du"), "u")
        .join(F.broadcast(deg).withColumnRenamed("node", "v").withColumnRenamed("d", "dv"), "v")
    )
    lower_first = F.struct(F.col("du"), F.col("u")) < F.struct(F.col("dv"), F.col("v"))
    oriented = materialize(
        ed.select(
            F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("a"),
            F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("b"),
            F.when(
                lower_first,
                F.struct(F.col("dv").alias("d"), F.col("v").alias("n")),
            )
            .otherwise(F.struct(F.col("du").alias("d"), F.col("u").alias("n")))
            .alias("rb"),
        )
    )
    x, y = oriented.alias("x"), oriented.alias("y")
    wedges = x.join(
        y, (F.col("x.a") == F.col("y.a")) & (F.col("x.rb") < F.col("y.rb"))
    ).select(F.col("x.b").alias("wb"), F.col("y.b").alias("wc"))
    z = oriented.alias("z")
    tri = wedges.join(
        z, (F.col("wb") == F.col("z.a")) & (F.col("wc") == F.col("z.b"))
    ).agg(F.count("*").cast("bigint").alias("t"))
    dd = deg.agg(
        F.count("*").cast("bigint").alias("n_nodes"),
        F.sum(F.expr("d * (d - 1) div 2")).cast("bigint").alias("n_wedges"),
    )
    ne = e.agg(F.count("*").cast("bigint").alias("n_edges"))
    return (
        dd.crossJoin(ne)
        .crossJoin(tri)
        .select(
            "n_nodes",
            "n_edges",
            F.col("t").alias("n_triangles"),
            "n_wedges",
            F.round(
                3.0 * F.col("t").cast("double") / F.col("n_wedges"), 6
            ).alias("global_clustering"),
        )
    )


@query(
    "q_graph_jaccard",
    oracle="""
        WITH e AS (
            SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
        ),
        deg AS (SELECT s, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY 1),
        co AS (
            SELECT a.s AS s_a, b.s AS s_b, CAST(count(*) AS BIGINT) AS co
            FROM e a JOIN e b ON a.p = b.p AND a.s < b.s
            GROUP BY 1, 2
        ),
        j AS (
            SELECT co.s_a, co.s_b, co.co AS co_parts,
                   da.d + db.d - co.co AS union_parts,
                   round(CAST(co.co AS DOUBLE)
                         / (da.d + db.d - co.co), 6) AS jaccard
            FROM co
            JOIN deg da ON da.s = co.s_a
            JOIN deg db ON db.s = co.s_b
        )
        SELECT s_a, s_b, co_parts, union_parts, jaccard
        FROM j ORDER BY jaccard DESC, s_a, s_b LIMIT 50
    """,
    doc="Top-50 most similar supplier pairs by Jaccard of their part "
    "sets — node similarity over the bipartite graph via the inverted "
    "index (pairs generated per shared part, never all-pairs).",
)
def q_graph_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood similarity on the supplier-part bipartite graph:
    J(A,B) = |A∩B| / |A∪B| with intersections counted through the
    PART-keyed inverted index — candidate pairs exist ONLY where two
    suppliers actually share a part, so the work is Σ_part C(df_p, 2)
    (bounded by per-part supplier counts; a hot part would take the
    same df-cap guard as q_dedup_ngram's hot shingles), never the
    all-pairs n². Union sizes come from the two degree lookups
    (broadcast: the degree table is node-sized). Global top-50 runs as
    TakeOrderedAndProject on (rounded jaccard, s_a, s_b) — rank ties at
    the cut are broken by the unique pair key, identically in both
    engines.

    This is the item-item collaborative-filtering primitive ("suppliers
    like this one") and the graph-clustering affinity q_graph_triangles
    complements structurally."""
    t = load_tables(spark, sf_dir)
    # materialize() the distinct edge list and degree table (round 16,
    # §2.4 — the q_graph_triangles family rule): the inverted-index
    # self-join's two sides and the two broadcast degree lookups each
    # re-ran the distinct shuffle. Row-identical output.
    e = materialize(
        t["lineitem"].select(
            F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p")
        ).distinct()
    )
    deg = materialize(e.groupBy("s").agg(F.count("*").alias("d")))
    a, b = e.alias("a"), e.alias("b")
    co = (
        a.join(b, (F.col("a.p") == F.col("b.p")) & (F.col("a.s") < F.col("b.s")))
        .groupBy(F.col("a.s").alias("s_a"), F.col("b.s").alias("s_b"))
        .agg(F.count("*").alias("co"))
    )
    da = F.broadcast(deg.select(F.col("s").alias("s_a"), F.col("d").alias("da")))
    db = F.broadcast(deg.select(F.col("s").alias("s_b"), F.col("d").alias("db")))
    j = (
        co.join(da, "s_a")
        .join(db, "s_b")
        .select(
            "s_a",
            "s_b",
            F.col("co").alias("co_parts"),
            (F.col("da") + F.col("db") - F.col("co")).alias("union_parts"),
            F.round(
                F.col("co").cast("double")
                / (F.col("da") + F.col("db") - F.col("co")),
                6,
            ).alias("jaccard"),
        )
    )
    return j.orderBy(F.desc("jaccard"), "s_a", "s_b").limit(50)


_FUNNEL_WINDOW_US = 7 * 86400000000  # 7-day conversion window


@query(
    "q_funnel_window",
    oracle=f"""
        WITH s AS (
            SELECT user_id, min(epoch_us(ts)) AS t0
            FROM events WHERE event_type = 'signup' GROUP BY 1
        ), c AS (
            SELECT e.user_id, any_value(s.t0) AS t0,
                   min(epoch_us(e.ts)) AS t1
            FROM events e JOIN s USING (user_id)
            WHERE e.event_type = 'click'
              AND epoch_us(e.ts) > s.t0
              AND epoch_us(e.ts) <= s.t0 + {_FUNNEL_WINDOW_US}
            GROUP BY 1
        ), p AS (
            SELECT e.user_id
            FROM events e JOIN c USING (user_id)
            WHERE e.event_type = 'purchase'
              AND epoch_us(e.ts) > c.t1
              AND epoch_us(e.ts) <= c.t0 + {_FUNNEL_WINDOW_US}
            GROUP BY 1
        )
        SELECT * FROM (
            SELECT CAST(1 AS INT) AS step, 'signup' AS stage,
                   (SELECT CAST(count(*) AS BIGINT) FROM s) AS users
            UNION ALL
            SELECT 2, 'click', (SELECT CAST(count(*) AS BIGINT) FROM c)
            UNION ALL
            SELECT 3, 'purchase', (SELECT CAST(count(*) AS BIGINT) FROM p)
        ) ORDER BY step
    """,
    doc="Time-bounded strict funnel: signup→click→purchase where every "
    "later stage must land within 7 days of the user's FIRST signup — "
    "the conversion-window semantics every product-analytics funnel "
    "defaults to (q_funnel is the unbounded sibling).",
)
def q_funnel_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_funnel with the industry-standard conversion window: the
    anchor t0 (first signup, exact epoch-micros) rides down the
    frontier chain, and each stage requires strict order AND
    ts ≤ t0 + 7 days. Without the bound, a purchase months later still
    'converts' — useless for campaign measurement.

    Determinism: all comparisons are exact int64 epoch-micros.

    Scale shape: identical to q_funnel — k user-key-partitioned passes
    with a monotonically shrinking frontier; the anchor column adds 8
    bytes to the frontier rows, nothing to the event scan."""
    ev = load_tables(spark, sf_dir)["events"].select(
        "user_id", "event_type", F.unix_micros("ts").alias("tu")
    )
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("tu").alias("t0"))
    )
    c = (
        ev.join(s, "user_id")
        .filter(
            (F.col("event_type") == "click")
            & (F.col("tu") > F.col("t0"))
            & (F.col("tu") <= F.col("t0") + F.lit(_FUNNEL_WINDOW_US))
        )
        .groupBy("user_id")
        .agg(F.any_value("t0").alias("t0"), F.min("tu").alias("t1"))
    )
    p = (
        ev.join(c, "user_id")
        .filter(
            (F.col("event_type") == "purchase")
            & (F.col("tu") > F.col("t1"))
            & (F.col("tu") <= F.col("t0") + F.lit(_FUNNEL_WINDOW_US))
        )
        .groupBy("user_id")
        .agg(F.lit(1).alias("_one"))
    )

    def stage(step: int, name: str, frontier: DataFrame) -> DataFrame:
        return frontier.agg(F.count("*").alias("users")).select(
            F.lit(step).cast("int").alias("step"),
            F.lit(name).alias("stage"),
            "users",
        )

    return (
        stage(1, "signup", s)
        .unionAll(stage(2, "click", c))
        .unionAll(stage(3, "purchase", p))
        .orderBy("step")
    )


@query(
    "q_graph_assortativity",
    oracle="""
        WITH e AS (
            SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
            FROM lineitem a JOIN lineitem b
              ON a.l_orderkey = b.l_orderkey
             AND a.l_partkey < b.l_partkey
        ), deg AS (
            SELECT node, CAST(count(*) AS BIGINT) AS d
            FROM (SELECT u AS node FROM e
                  UNION ALL SELECT v FROM e)
            GROUP BY 1
        ), ends AS (
            SELECT du.d AS dx, dv.d AS dy
            FROM e JOIN deg du ON du.node = e.u
                   JOIN deg dv ON dv.node = e.v
            UNION ALL
            SELECT dv.d, du.d
            FROM e JOIN deg du ON du.node = e.u
                   JOIN deg dv ON dv.node = e.v
        )
        SELECT round(corr(CAST(dx AS DOUBLE), CAST(dy AS DOUBLE)), 6)
                   AS assortativity,
               CAST(count(*) / 2 AS BIGINT) AS n_edges,
               (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes
        FROM ends
    """,
    doc="Degree assortativity (Newman 2002, public): Pearson "
    "correlation of endpoint degrees over both edge orientations of "
    "the part co-purchase graph — do hubs attach to hubs? Completes "
    "the structural family (degree/pagerank/triangles/jaccard).",
)
def q_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman's r: Pearson over the directed edge list with BOTH
    orientations (the undirected convention — using one orientation
    biases r by the u<v canonicalization). r > 0: hubs link to hubs
    (social nets); r < 0: hubs link to leaves (tech/biological nets).

    Determinism: degrees are exact int64; corr on bit-identical
    int-derived doubles rounds at 6 dp (the q_agg_corr convention).

    Scale shape: the same distinct-edge build as q_graph_triangles
    (co-occurrence self-join bounded by per-order basket size), a
    degree aggregate whose key set shrinks to |nodes|, two hash joins
    keyed on node id to stamp endpoint degrees, one global corr
    aggregate (partial/final, constant state). No window, no driver
    loop."""
    t = load_tables(spark, sf_dir)
    li = t["lineitem"].select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    # materialize() the distinct edge list and the degree table
    # (round 16, the §2.4 diamond rule): without the pins the
    # co-occurrence self-join + distinct re-ran once per consumer —
    # deg's two union branches, the stamp join, and n_nodes through
    # deg's two more — seven evaluations of the most expensive subtree
    # in the plan (the round-16 registry scan measured 1.01 s solo at
    # sf0.01, ~24 lineitem scan nodes). Row-identical output.
    e = materialize(
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("u"),
            F.col("b.l_partkey").alias("v"),
        )
        .distinct()
    )
    deg = materialize(
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("dx"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dy"))
    stamped = e.join(du, "u").join(dv, "v").select("dx", "dy")
    ends = stamped.unionAll(
        stamped.select(F.col("dy").alias("dx"), F.col("dx").alias("dy"))
    )
    n_nodes = deg.agg(F.count("*").alias("n_nodes"))
    return (
        ends.agg(
            F.round(
                F.corr(F.col("dx").cast("double"), F.col("dy").cast("double")),
                6,
            ).alias("assortativity"),
            (F.count("*") / 2).cast("bigint").alias("n_edges"),
        )
        .crossJoin(F.broadcast(n_nodes))
    )


def markov_stationary(
    tm: DataFrame, n_iter: int = 50, tol: float = 1e-9
) -> DataFrame:
    """Stationary distribution of a Markov chain given a transition
    frame (s, d, p) with Σ_d p(s,·) = 1 per source: power iteration
    π ← πP with dangling states' mass (states never seen as a source)
    redistributed uniformly — the PageRank treatment with damping 1.

    Driver protocol (the graph.py discipline): each round is ONE
    join-aggregate at |states|² grain, lineage truncated with
    localCheckpoint, and the driver pulls a single (residual, mass)
    row — bounded state regardless of |states|. Converges
    geometrically for aperiodic irreducible chains; n_iter caps the
    worst case and the emitted n_rounds tells which bound hit.

    The fixture chain has |types| = 5 states, but the engine is the
    one you would run on a million-state URL- or product-transition
    graph — nothing below assumes the matrix fits anywhere."""
    # pin the (tiny, |states|²-row) matrix once: every round's flow
    # join consumes it, and without the checkpoint each round would
    # re-run the fact-scan window that derived it
    tm = materialize(tm, eager=True)
    states = materialize(
        tm.select(F.col("s").alias("state"))
        .unionAll(tm.select(F.col("d").alias("state")))
        .distinct(),
        eager=True,
    )
    n_states = states.count()
    pi = materialize(
        states.select("state", (F.lit(1.0) / n_states).alias("pi")),
        eager=True,
    )
    sources = tm.select(F.col("s").alias("state")).distinct()
    dangling = materialize(
        states.join(sources, "state", "left_anti").select("state"),
        eager=True,
    )
    # driver-pull budget: the dangling mass rides IN-PLAN as a 1-row
    # cross join (never collected) and the residual is pulled only
    # every CHECK_EVERY rounds — a 50-round convergence costs ~10
    # driver round-trips, not 100 (first cut measured 50 s on the
    # 5-state fixture from per-round collects; this shape runs ~6 s)
    check_every = 5
    rounds = 0
    while rounds < n_iter:
        prev = pi
        for _ in range(min(check_every, n_iter - rounds)):
            rounds += 1
            dmass = pi.join(dangling, "state").agg(
                F.coalesce(F.sum("pi"), F.lit(0.0)).alias("dm")
            )
            flow = (
                tm.join(pi.withColumnRenamed("state", "s"), "s")
                .groupBy(F.col("d").alias("state"))
                .agg(F.sum(F.col("p") * F.col("pi")).alias("pi_flow"))
            )
            raw = (
                states.join(flow, "state", "left")
                .crossJoin(F.broadcast(dmass))
                .select(
                    "state",
                    (
                        F.coalesce(F.col("pi_flow"), F.lit(0.0))
                        + F.col("dm") / n_states
                    ).alias("pi_raw"),
                )
            )
            # renormalize in-plan: a transition matrix with ROUNDED
            # probabilities (q_event_transitions emits 6 dp) leaks
            # ~1e-6 mass per application, which floors the residual at
            # ~1e-7 and stalls convergence detection (measured: the
            # un-normalized loop burned all 50 rounds on a chain that
            # mixes in 10)
            z = raw.agg(F.sum("pi_raw").alias("z"))
            pi = materialize(
                raw.crossJoin(F.broadcast(z)).select(
                    "state", (F.col("pi_raw") / F.col("z")).alias("pi")
                )
            )
        resid = (
            pi.join(
                prev.withColumnRenamed("pi", "pi_old"), "state"
            )
            .agg(F.max(F.abs(F.col("pi") - F.col("pi_old"))).alias("r"))
            .collect()[0]
            .r
        )
        if resid is not None and resid < tol:
            break
    return pi.select(
        "state",
        F.round("pi", 6).alias("pi"),
        F.lit(rounds).cast("int").alias("n_rounds"),
    )


@query(
    "q_event_markov_stationary",
    rows_only_reason="iterative fixed-point (power iteration) — not "
    "SQL-expressible; correctness is self-certifying in "
    "tests/test_rowsonly.py::test_markov_stationary_is_fixed_point "
    "(π sums to 1 and satisfies π = πP + dangling redistribution to "
    "1e-6 on the unrounded iterate).",
    doc="Stationary distribution of the event-type Markov chain "
    "(long-run time share per event type) — power iteration over the "
    "q_event_transitions matrix with dangling-mass redistribution; "
    "the PageRank discipline (one bounded pull per round, "
    "localCheckpoint lineage truncation).",
)
def q_event_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Where q_event_transitions answers 'what follows X', the
    stationary π answers 'where does the process SPEND its time' —
    the long-run forecast of event mix, session composition, and cache
    priorities. Engine: markov_stationary over the same per-user
    chain-derived matrix."""
    t = load_tables(spark, sf_dir)
    tm = transition_matrix(
        t["events"], "user_id", "event_type", "ts", "event_id"
    ).select(
        F.col("prev_type").alias("s"),
        F.col("next_type").alias("d"),
        F.col("p_next").alias("p"),
    )
    return markov_stationary(tm)


@query(
    "q_event_dau_wau",
    oracle="""
        WITH active AS (
            SELECT DISTINCT user_id,
                   CAST(epoch_us(date_trunc('day', ts)) // 86400000000
                        AS BIGINT) AS dn
            FROM events
        ), span AS (
            SELECT min(dn) AS lo, max(dn) AS hi FROM active
        ), contrib AS (
            SELECT a.user_id, a.dn + o.o AS d
            FROM active a
            JOIN (SELECT unnest(range(0, 7)) AS o) o ON TRUE
        ), wau AS (
            SELECT d, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
            FROM contrib GROUP BY 1
        ), dau AS (
            SELECT dn AS d, CAST(count(*) AS BIGINT) AS dau
            FROM active GROUP BY 1
        )
        SELECT w.d AS dn, coalesce(dau.dau, 0) AS dau, w.wau,
               round(CAST(coalesce(dau.dau, 0) AS DOUBLE) / w.wau, 6)
                   AS stickiness
        FROM wau w LEFT JOIN dau ON dau.d = w.d
        CROSS JOIN span
        WHERE w.d BETWEEN span.lo + 6 AND span.hi
    """,
    doc="DAU / trailing-7-day WAU / stickiness per day via the "
    "contribution-explosion identity (each active day feeds the 7 "
    "windows it belongs to) — rolling COUNT(DISTINCT) without a "
    "distinct-over-window, which no engine supports.",
)
def q_event_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engagement dashboard triple: daily actives, trailing-weekly
    actives, and DAU/WAU stickiness. Rolling distinct is the classic
    window-function gap; the scalable identity is CONTRIBUTION
    explosion — an active (user, day) row contributes to exactly the 7
    window-end days day..day+6, so WAU is a plain distinct count per
    window-end. Only fully-covered window ends are emitted (the
    q_ts_decompose gap rule).

    Determinism: pure integer counts on exact epoch days; stickiness
    is one int/int division at 6 dp.

    Scale shape: the (user, day) active table is the one data-sized
    reduction (distinct — map-side combinable); the ×7 explosion is
    bounded by actives×window, and the per-day distinct groups on
    (window-end, user) — a strict refinement of the groupBy that
    follows, so AQE coalesces onto one exchange footprint. No window
    function, no driver state; MAU is the same plan with range(0,28)."""
    t = load_tables(spark, sf_dir)
    dn = (
        F.unix_micros(F.date_trunc("day", F.col("ts"))) / F.lit(86400000000)
    ).cast("bigint")
    active = t["events"].select("user_id", dn.alias("dn")).distinct()
    span = active.agg(F.min("dn").alias("lo"), F.max("dn").alias("hi"))
    offs = active.sparkSession.range(0, 7).select(
        F.col("id").cast("bigint").alias("o")
    )
    wau = (
        active.crossJoin(F.broadcast(offs))
        .select("user_id", (F.col("dn") + F.col("o")).alias("d"))
        .groupBy("d")
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    dau = active.groupBy(F.col("dn").alias("d")).agg(
        F.count("*").alias("dau")
    )
    return (
        wau.join(dau, "d", "left")
        .crossJoin(F.broadcast(span))
        .filter(
            (F.col("d") >= F.col("lo") + 6) & (F.col("d") <= F.col("hi"))
        )
        .select(
            F.col("d").alias("dn"),
            F.coalesce(F.col("dau"), F.lit(0)).alias("dau"),
            "wau",
            F.round(
                F.coalesce(F.col("dau"), F.lit(0)).cast("double")
                / F.col("wau"),
                6,
            ).alias("stickiness"),
        )
    )


def kcore(edges: DataFrame, k: int, max_rounds: int = 60) -> DataFrame:
    """k-core decomposition by iterative peeling: repeatedly drop
    nodes with degree < k until none remain; what survives is the
    maximal subgraph where EVERY node keeps ≥ k neighbors inside it.
    ``edges`` is a distinct undirected (u, v) list with u < v.

    The graph.py iterative discipline: the edge set is checkpointed
    once, each round is two degree-grain aggregates + one semi-join
    pair (drop edges touching peeled nodes), lineage truncated per
    round, ONE scalar pulled per round (how many nodes fell below k —
    zero terminates). Rounds are bounded by the degeneracy ordering
    depth, ≤ |V| worst case but tiny in practice (each round peels a
    whole frontier, not one node).

    Output: (node, core_degree) for the surviving k-core."""
    edges = materialize(edges, eager=True)
    for _ in range(max_rounds):
        deg = materialize(
            edges.select(F.col("u").alias("node"))
            .unionAll(edges.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias("d")),
            eager=True,
        )
        weak = deg.filter(F.col("d") < k).select("node")
        n_weak = weak.count()
        if n_weak == 0:
            return deg.select("node", F.col("d").alias("core_degree"))
        edges = materialize(
            edges.join(
                weak.withColumnRenamed("node", "u"), "u", "left_anti"
            )
            .join(weak.withColumnRenamed("node", "v"), "v", "left_anti")
            .select("u", "v"),
            eager=True,
        )
    # max_rounds exhausted: return the current degree view (callers at
    # fixture scale never reach this; at cluster scale raise the cap)
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    return deg.filter(F.col("d") >= k).select(
        "node", F.col("d").alias("core_degree")
    )


@query(
    "q_graph_kcore",
    rows_only_reason="iterative peeling is a fixed-point computation — "
    "not SQL-expressible; correctness is self-certifying in tests/"
    "test_rowsonly.py::test_kcore_is_maximal_and_consistent (every "
    "surviving node has >= k neighbors INSIDE the core, every peeled "
    "node would not, and the core is a fixed point of one more peel).",
    doc="k-core decomposition (k=3) of the part co-purchase graph — "
    "iterative frontier peeling with per-round lineage truncation; "
    "the cohesion filter community detection and spam-graph analysis "
    "start from.",
)
def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The densest-region filter: the 3-core keeps only parts whose
    co-purchase neighborhood is itself cohesive (a high-degree hub
    whose neighbors are all leaves does NOT survive — degree alone
    (q_graph_degree) cannot express that). Same distinct-edge build
    as q_graph_triangles."""
    t = load_tables(spark, sf_dir)
    li = t["lineitem"].select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    e = (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("u"),
            F.col("b.l_partkey").alias("v"),
        )
        .distinct()
    )
    return kcore(e, 3)


@query(
    "q_event_pareto",
    oracle="""
        WITH uc AS (
            SELECT user_id, CAST(count(*) AS BIGINT) AS n
            FROM events GROUP BY 1
        ), tot AS (
            SELECT CAST(count(*) AS BIGINT) AS n_users,
                   CAST(sum(n) AS BIGINT) AS n_events
            FROM uc
        ), ranked AS (
            SELECT n,
                   CAST(row_number() OVER (ORDER BY n DESC, user_id)
                        AS BIGINT) AS r,
                   CAST(sum(n) OVER (ORDER BY n DESC, user_id
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
            FROM uc
        )
        SELECT CAST(d.decile AS BIGINT) AS user_decile,
               max(r.cum) AS cum_events,
               round(CAST(max(r.cum) AS DOUBLE)
                     / any_value(tot.n_events), 6) AS cum_share
        FROM ranked r
        CROSS JOIN tot
        JOIN (SELECT unnest(range(1, 11)) AS decile) d
          ON r.r * 10 <= d.decile * tot.n_users
        GROUP BY d.decile
        ORDER BY user_decile
    """,
    doc="Pareto concentration curve: cumulative event share of the "
    "top-k user deciles (heaviest users first) — 'do 20% of users "
    "produce 80% of events'; exact integer decile cutoffs, the "
    "Lorenz-curve companion to q_agg_gini.",
)
def q_event_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity concentration, the capacity-planning and abuse-triage
    number: rank users by event count (descending, id tiebreak), take
    the cumulative share at each user decile. Decile membership is the
    INTEGER inequality r·10 ≤ decile·n_users — no float percentile to
    disagree on (the q_percentile_weighted rule).

    Scale shape: user-grain aggregate, then the ranking machinery runs
    on |users| rows; the ranking is ordering.global_row_number +
    global_running_sum territory at cluster scale — here the
    user-grain table is the same reduction every engagement key
    shares. One 1-row total broadcast; deciles are a 10-row spine.

    Determinism: all integers until the final single-division share."""
    from ..ordering import global_running_sums

    t = load_tables(spark, sf_dir)
    uc = t["events"].groupBy("user_id").agg(F.count("*").alias("n"))
    tot = uc.agg(
        F.count("*").alias("n_users"), F.sum("n").alias("n_events")
    )
    ranked = global_running_sums(
        uc,
        [F.col("n").desc(), F.col("user_id")],
        [(F.lit(1), "r"), (F.col("n"), "cum")],
    )
    deciles = uc.sparkSession.range(1, 11).select(
        F.col("id").cast("bigint").alias("user_decile")
    )
    return (
        ranked.crossJoin(F.broadcast(tot))
        .join(
            F.broadcast(deciles),
            F.col("r") * 10 <= F.col("user_decile") * F.col("n_users"),
        )
        .groupBy("user_decile")
        .agg(
            F.max("cum").cast("bigint").alias("cum_events"),
            F.round(
                F.max("cum").cast("double") / F.any_value("n_events"), 6
            ).alias("cum_share"),
        )
        .orderBy("user_decile")
    )


# ---------------------------------------------------------------------------
# SCD2 MERGE upsert (round 10 — the r9 verdict's Delta-style CDC ask).
# q_scd2 rebuilds the whole dimension from the full history; a 100 TB
# pipeline cannot rewrite a 100 TB dimension for a 0.1% delta. The
# store is hash-bucketed on the business key and maintained
# merge-on-read, the Delta Lake / Iceberg / LSM shape: a staged CDC
# batch (scd2_merge_into) is written ONCE as one new delta object of
# raw observations and no bucket is rewritten; readers re-collapse the
# selected buckets ∪ the deltas' rows of those buckets on read
# (scd2_intervals' fold property makes that the rows a rewrite would
# write). Once the pointer names n_buckets deltas, the next merge FOLDS:
# it identifies the buckets the batch or any delta touches (a
# ≤n_buckets bounded collect), reads ONLY those (directory-level
# pruning), re-collapses them with every delta and the batch, writes
# them back as new bucket objects and drops the deltas — so a full
# scan never opens more than 2·n_buckets objects. scd2_merge, the
# library exhibit that rebuilds its base, folds its batch at once.
# Touched-partition count ≪ total is canaried in tests/test_plans.py.

def _scd2_store_dir() -> str:
    # the shared per-call mkdtemp + exit-time cleanup helper (the
    # joins.py _BUCKET_DIRS lesson) — review r10: don't re-implement it
    from .scans import _roundtrip_dir

    return _roundtrip_dir("scd2")


def _scd2_lock(path: str) -> str:
    """The store's lock file (storeio.lock): a SIBLING of the store,
    ``<store>.mutate.lock``, not inside it — a first build publishes
    the store directory's initial object set, and keeping the lock
    outside means no mutation ever has to special-case it."""
    return path.rstrip("/") + ".mutate.lock"


def _bucket_logical(b: int) -> str:
    """Logical object name for hash bucket ``b`` in the layout pointer
    (zero-padded so listings sort; the version suffix comes from
    storeio.object_dir)."""
    return f"b{int(b):05d}"


def _scd2_bucket(n_buckets: int):
    """The bucket id of a row: pmod(xxhash64(user_id), n_buckets) —
    the one bucketing rule every writer and reader of the store
    shares."""
    return F.pmod(F.xxhash64(F.col("user_id")), F.lit(int(n_buckets)))


def _scd2_obs(events: DataFrame) -> DataFrame:
    """An event-log frame (user_id, event_type, ts, event_id) as the
    observation chain scd2_intervals collapses."""
    return events.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.col("ts").alias("valid_from"),
        "event_id",
    )


# The live SCD2 layout: the versioned pointer (storeio.py). On top of
# the storeio contract it carries the store facts a later merge must not
# trust the caller for (advice r12): ``n_buckets`` (the bucketing
# modulus), ``key_type`` (the business-key type the delta must cast to)
# and the dimension's ``schema`` json (every object is read with it, so
# no read infers a schema and an empty selection still has the right
# columns). ``buckets`` maps bucket id (string) → object directory of
# collapsed dimension rows; ``deltas`` maps the committing version
# (string) → object directory of one appended batch's raw observations
# (the schema's first four columns, one file sorted by user_id), empty
# or absent right after a fold.


def _scd2_schema(lay: dict):
    """The dimension's StructType, as the layout pointer records it."""
    import json

    from pyspark.sql.types import StructType

    return StructType.fromJson(json.loads(lay["schema"]))


def _scd2_buckets(
    spark: SparkSession, path: str, lay: dict, buckets=None
) -> DataFrame:
    """The stored (collapsed) rows of the layout's bucket objects,
    PATH-LEVEL pruned to ``buckets`` when given — the 100 TB read
    shape: unaffected buckets are never even LISTED, which is strictly
    stronger than partition pruning. The bucket id is not a data
    column; it lives only in the pointer's map."""
    import os

    sel = lay["buckets"]
    if buckets is not None:
        want = {str(int(b)) for b in buckets}
        sel = {k: v for k, v in sel.items() if k in want}
    dirs = [os.path.join(path, v) for v in sorted(sel.values())]
    schema = _scd2_schema(lay)
    if dirs:
        return spark.read.schema(schema).parquet(*dirs)
    return spark.createDataFrame([], schema)


def _scd2_deltas(spark: SparkSession, path: str, lay: dict):
    """The raw observations of every delta object the layout names, or
    None when it names none."""
    import os

    from pyspark.sql.types import StructType

    names = sorted((lay.get("deltas") or {}).values())
    if not names:
        return None
    schema = _scd2_schema(lay)
    cols = ("user_id", "state", "valid_from", "event_id")
    return spark.read.schema(
        StructType([schema[c] for c in cols])
    ).parquet(*[os.path.join(path, n) for n in names])


def _scd2_read(
    spark: SparkSession, path: str, lay: dict, buckets=None, where=None
) -> DataFrame:
    """Open the dimension rows of the given layout, pruned to
    ``buckets`` when given (``_scd2_buckets``). With no delta objects
    these are the stored rows. Otherwise the answer is scd2_intervals
    over the selected buckets' stored observations ∪ the delta rows of
    those buckets (pmod(xxhash64(user_id), n_buckets) recomputed on
    the deltas, so a user new since the last fold, who may have no
    bucket object yet, is still found) — by collapse(collapse(A) ++ B)
    = collapse(A ++ B) exactly the rows a fold writes. ``where`` is a
    predicate on user_id only, the collapse's partition key, so it
    filters the rows BEFORE the collapse."""
    stored = _scd2_buckets(spark, path, lay, buckets)
    rows = _scd2_deltas(spark, path, lay)
    if rows is None:
        return stored if where is None else stored.filter(where)
    if buckets is not None:
        rows = rows.filter(
            _scd2_bucket(lay["n_buckets"]).isin(
                sorted(int(b) for b in buckets)
            )
        )
    rows = stored.select(*rows.columns).unionByName(rows)
    return scd2_intervals(rows if where is None else rows.filter(where))


def _scd2_stage_publish(
    spark: SparkSession,
    io: StoreIO,
    path: str,
    frame_with_bucket: DataFrame,
    version: int,
) -> dict:
    """Stage half of every SCD2 publish: write the bucket-stamped
    frame ``partitionBy("bucket")`` into the store's hidden ``.stage``
    directory, then rename each staged bucket directory to its
    version-named object in the store root. The objects are still
    UNREFERENCED — the caller's pointer write is the commit — so a
    racing reader never sees them and a crash here leaves orphans the
    next mutation's preamble GCs. Returns {bucket_id: object_name}.
    Name collisions with a previous crashed attempt of the same
    version are cleared dir-by-dir (safe: unreferenced by the live
    pointer, and the caller holds the lock)."""
    import os

    stage = os.path.join(path, ".stage")
    io.rmtree(stage)  # a crashed writer's leftover stage
    # Cluster by bucket before the partitioned write (round 16, guide
    # §6 small files): the merge/build frames arrive hash-partitioned
    # by user_id (the interval window's exchange), so EVERY write task
    # held rows of nearly every bucket and each staged bucket dir got
    # one tiny file per task (~32 files/bucket/publish at the fixture —
    # paid again by every subsequent pruned read's listing + footer
    # pass). One narrow-row exchange on the deterministic bucket column
    # makes each bucket land whole in one task: one file per bucket.
    # Row values are unchanged; per-bucket file order is not part of
    # any contract (the oracle compares sorted rows).
    frame_with_bucket.repartition("bucket").write.mode(
        "overwrite"
    ).partitionBy("bucket").parquet(stage)
    out: dict = {}
    if not io.isdir(stage):
        return out  # zero-row frame: nothing staged (empty base/delta)
    for d in io.list_names(stage):
        if not d.startswith("bucket="):
            continue
        b = d.split("=", 1)[1]
        obj = object_dir(_bucket_logical(int(b)), version)
        io.rmtree(os.path.join(path, obj))
        io.rename(os.path.join(stage, d), os.path.join(path, obj))
        out[b] = obj
    io.rmtree(stage)
    return out


def scd2_merge(
    spark: SparkSession,
    events: DataFrame,
    delta_pred,
    n_buckets: int = 32,
    _store_path: str | None = None,
    _crash=None,
) -> tuple[DataFrame, dict]:
    """MERGE a staged CDC batch (``events`` rows matching
    ``delta_pred``) into a bucketed SCD2 dimension built from the
    rest. Returns (read-back dimension, stats) where stats records
    the touched/total partition counts the scale story rests on plus
    ``rows_touched`` (the staged slice's rows, counted inside the
    critical section — advice r13).

    Crash safety (round 14 — r13 verdict item 1; this replaces the
    round-11 journaled per-bucket rename protocol): the store is a
    versioned-pointer layout (storeio.py). The base build stages every
    bucket as unreferenced version-1 objects and commits them with ONE
    atomic pointer commit; the batch is then FOLDED at once (this
    exhibit rebuilds its base on every call, so it never appends a
    delta object): only the affected buckets' rewritten slices are
    staged as version-2 objects and a second pointer swap names new
    objects for touched buckets and the existing ones for the rest. A
    reader racing either swap resolves the pointer once and sees the
    complete pre- or post-merge store — never the half-published
    bucket mix the old protocol's own docstring documented. Crash
    before a swap: readers on the old version, orphan objects GC'd at
    the next mutation's preamble. Crash after: readers on the new
    version, replaced objects retired in the pointer (reclaimed at the
    next preamble — a full mutation cycle of reader grace). On HDFS
    the pointer rename is atomic; object stores without atomic rename
    need a conditional-put — the honest raw-parquet limit. ``_crash``
    hooks the merge publish's two protocol points ("staged",
    "swapped"); ``_store_path`` pins the store directory so tests can
    crash one merge and rerun against the same store."""
    import json

    path = _store_path or _scd2_store_dir()
    # NULL business keys have no correct merge (advice r10): Spark's
    # xxhash64 folds a NULL input to the SEED (42) — null-tolerant,
    # not null-propagating (verified round 13) — so the row would
    # silently bucket to pmod(42, n) while the equi-joins on user_id
    # drop it on the floor (NULL never equi-matches). Fail fast with a
    # clear contract error instead. One column-pruned limit-1 probe.
    if events.filter(F.col("user_id").isNull()).take(1):
        raise ValueError(
            "scd2_merge requires a non-NULL business key: events with "
            "user_id IS NULL cannot be bucketed or merged"
        )
    # a path with no pointer is a first build
    with mutation(spark, path, _scd2_lock(path), build=True) as (io, old):
        # three-valued-logic guard (review r10): a NULL delta_pred row
        # would otherwise vanish from BOTH sides (filter(p) and
        # filter(~p) each reject NULL) — coalesce pins NULL to "not
        # staged", so every event lands in exactly one of base/delta
        delta_pred = F.coalesce(delta_pred, F.lit(False))
        base = scd2_intervals(_scd2_obs(events.filter(~delta_pred)))
        v = old["version"] + 1
        new_buckets = _scd2_stage_publish(
            spark, io, path,
            base.withColumn("bucket", _scd2_bucket(n_buckets)), v,
        )
        # a rebuild over an existing store retires its deltas too
        lay = commit(
            io, path, old,
            buckets=new_buckets,
            deltas={},
            n_buckets=n_buckets,
            key_type=events.schema["user_id"].dataType.simpleString(),
            schema=json.dumps(base.schema.jsonValue()),
        )
        total = len(new_buckets)
        out, affected, rows_touched = _scd2_apply(
            spark, io, path, lay, events.filter(delta_pred), fold=True,
            _crash=_crash,
        )
    return out, {"touched": len(affected), "total": total,
                 "buckets": affected, "rows_touched": rows_touched}


def _scd2_apply(
    spark: SparkSession,
    io: StoreIO,
    path: str,
    lay: dict,
    delta: DataFrame,
    fold: bool,
    _crash=None,
) -> tuple[DataFrame, list, int]:
    """The merge phase shared by scd2_merge (which builds the base
    store first and always folds) and scd2_merge_into (which merges
    into an EXISTING store): cast the staged event-log rows to the
    store's types, refuse NULL keys, find the batch's affected buckets
    (the bucketing modulus is the pointer's ``n_buckets``), then either

    * append (``fold`` False): write the batch's observations as ONE
      new ``delta`` object and commit it into the pointer's ``deltas``
      map — no bucket is rewritten, so nothing is retired; or
    * fold: re-collapse, in one pass, the buckets the batch or any
      delta touches (PATH-level pruned read: untouched buckets are
      never listed) with every delta and the batch, stage them as
      unreferenced version-N+1 objects and commit with one pointer
      swap that also empties ``deltas`` (retiring the rewritten
      buckets' old objects and every delta).

    Returns (read-back dimension, the batch's affected bucket ids,
    rows_touched) where rows_touched is the post-merge row count of
    those buckets, counted INSIDE the critical section (advice r13:
    the old count re-read the store after the lock was released, so a
    concurrent merge could inflate the number). Callers hold the
    per-store mutation lock."""
    import os

    # Cast the delta to the store's column types BEFORE anything that
    # depends on the key bytes (advice r12): xxhash64 hashes int and
    # long differently, so computing the affected-bucket set on the
    # delta's own key type while the staged write recomputes buckets
    # after unionByName's coercion would stage rows into buckets
    # outside `affected` — which the pointer update would then skip.
    # A lossy cast (overflow, unparseable string) yields NULL: refuse
    # rather than mis-bucket. The types come from the pointer's schema:
    # opening every bucket directory just for it would list them all
    # (one Spark listing job once a store has more than 32 buckets).
    types = {f.name: f.dataType for f in _scd2_schema(lay).fields}
    delta = delta.select(
        # _raw_null distinguishes "key was NULL on entry" from "key
        # nulled by a lossy cast" so ONE probe job serves both contract
        # errors (round 16 — the entry raw-null take(1) was its own job
        # on every scd2_merge_into call)
        F.col("user_id").isNull().alias("_raw_null"),
        # try_cast, not cast: under ANSI a lossy key cast (overflow,
        # unparseable) THROWS a bare CAST_* error mid-job — the NULL
        # probe below turns it into the contract error instead
        F.col("user_id").try_cast(types["user_id"]).alias("user_id"),
        F.col("event_type").cast(types["state"]).alias("event_type"),
        F.col("ts").cast(types["valid_from"]).alias("ts"),
        F.col("event_id").cast(types["event_id"]).alias("event_id"),
    )
    # materialize() the cast delta (round 15): the merge consumes it
    # TWICE (the fused probe/affected aggregate and the write), and
    # each consumer re-ran the caller's full delta subtree — for the
    # bench/CDC shape that is a filtered fact-table scan per consumer.
    # One lazy localCheckpoint computes the delta once (it is small by
    # the CDC contract); every consumer reads the same executor-local
    # blocks. Row-identical output.
    delta = materialize(delta)
    bucket = _scd2_bucket(lay["n_buckets"])
    # ONE O(delta) aggregate serves three former jobs (round 16): the
    # entry raw-NULL probe, the lossy-cast NULL probe, and the
    # affected-bucket distinct. The NULL-key checks cannot ride the
    # bucket value alone — Spark's xxhash64 folds a NULL input to the
    # SEED (null-tolerant, not null-propagating), so a NULLed key
    # silently buckets to pmod(42, n) — hence the explicit flags;
    # _raw_null picks the right contract error. A fold also rewrites
    # every bucket an earlier delta touched: the deltas' keys ride the
    # same aggregate with the flags off. Output is bounded by
    # n_buckets, never by data.
    keys = delta.select(
        bucket.alias("b"),
        F.col("user_id").isNull().alias("_null"),
        "_raw_null",
        F.lit(True).alias("_batch"),
    )
    earlier = _scd2_deltas(spark, path, lay) if fold else None
    if earlier is not None:
        keys = keys.unionByName(
            earlier.select(
                bucket.alias("b"),
                F.lit(False).alias("_null"),
                F.lit(False).alias("_raw_null"),
                F.lit(False).alias("_batch"),
            )
        )
    probe_rows = (
        keys.groupBy("b")
        .agg(
            F.max("_null").alias("any_null"),
            F.max("_raw_null").alias("any_raw"),
            F.max("_batch").alias("in_batch"),
        )
        .collect()
    )
    if any(r.any_null for r in probe_rows):
        if any(r.any_raw for r in probe_rows):
            raise ValueError(
                "scd2 merge requires a non-NULL business key: events "
                "with user_id IS NULL cannot be bucketed or merged"
            )
        raise ValueError(
            "scd2 merge: casting the delta's user_id to the store's "
            f"key type ({types['user_id'].simpleString()}) produced "
            "NULL — the delta's key type does not fit the store's"
        )
    obs = _scd2_obs(delta.drop("_raw_null"))
    affected = sorted(r.b for r in probe_rows if r.in_batch)
    v = lay["version"] + 1

    def publish(**fields) -> dict:
        if _crash is not None:
            _crash("staged")
        new_lay = commit(io, path, lay, **fields)
        if _crash is not None:
            _crash("swapped")
        return new_lay

    if not affected and earlier is None:
        # a batch that touches no bucket, with no delta to fold, changes
        # nothing: no stage write, no pointer commit
        new_lay, rows_touched = lay, 0
    elif not fold:
        # the batch is small by the CDC contract: one file, sorted by
        # the key every reader filters and partitions on. A new object,
        # never files added to an existing one — a reader must see a
        # batch whole or not at all, or it would tear a user's chain.
        name = object_dir("delta", v)
        obs.coalesce(1).sortWithinPartitions(
            "user_id", "valid_from", "event_id"
        ).write.mode("overwrite").parquet(os.path.join(path, name))
        new_lay = publish(deltas={**lay.get("deltas", {}), str(v): name})
        rows_touched = _scd2_read(spark, path, new_lay, affected).count()
    else:
        stored = _scd2_buckets(
            spark, path, lay, buckets=[r.b for r in probe_rows]
        )
        # ONE-PASS merge (round 16 — r15 verdict item 1): the old
        # keep/redo split (left_anti for untouched users, left_semi ∪
        # delta re-collapsed for touched ones) read the pruned buckets
        # TWICE inside the single stage-write job. Re-collapsing the
        # ENTIRE affected read plus the deltas and the batch is
        # byte-identical with ONE pruned scan and no user joins at all,
        # by the two facts scd2_intervals' own docstring pins:
        #   - collapse is idempotent: every stored row was produced by
        #     scd2_intervals (the store's only writer), so per user the
        #     chain has no consecutive duplicate states and
        #     valid_to = lead(valid_from) — re-collapsing an untouched
        #     user's rows keeps every row and recomputes the identical
        #     valid_to/is_current values;
        #   - collapse(collapse(A) ++ B) = collapse(A ++ B): a touched
        #     user's stored prefix plus newer observations re-collapses
        #     to exactly what the old redo branch computed (same input
        #     set, same (valid_from, event_id) window sort).
        # Every delta row lies in a rewritten bucket (their keys fed
        # the probe), so the deltas join the union unfiltered.
        # Plan diff: two pruned-object scans + two joins + union → one
        # scan + one user_id exchange + window (plans/r16/scd2_merge_*).
        # Byte-equality with the full rebuild stays pinned by the
        # merge≡rebuild property tests and the q_scd2_merge oracle hash.
        rows = stored.select(*obs.columns).unionByName(obs)
        if earlier is not None:
            rows = rows.unionByName(earlier)
        merged = scd2_intervals(rows).withColumn("bucket", bucket)
        # rows_touched rides the STAGE WRITE as an observed metric
        # (round 15): every merged row lands in some staged bucket dir,
        # so the rows of the batch's buckets among them ARE the
        # touched-slice row count — a post-swap count would re-read
        # what the write already saw. Still counted inside the critical
        # section (advice r13).
        from pyspark.sql import Observation

        touched_obs = Observation()
        merged = merged.observe(
            touched_obs,
            F.count(F.when(F.col("bucket").isin(affected), True))
            .alias("n"),
        )
        new_objs = _scd2_stage_publish(spark, io, path, merged, v)
        # commit carries the build's retirees forward when scd2_merge
        # commits twice under one lock
        new_lay = publish(
            buckets={**lay["buckets"], **new_objs}, deltas={}
        )
        rows_touched = int(touched_obs.get["n"]) if new_objs else 0
    out = _scd2_read(spark, path, new_lay).select(
        "user_id", "state", "valid_from", "valid_to", "is_current"
    )
    return out, affected, rows_touched


def scd2_merge_into(
    spark: SparkSession,
    path: str,
    delta: DataFrame,
    _crash=None,
) -> tuple[DataFrame, dict]:
    """MERGE a staged CDC batch into an EXISTING bucketed SCD2 store —
    the incremental maintenance path a daily pipeline actually runs
    (round 12; the SCD2 twin of ivf_append). ``delta`` is an event-log
    frame (user_id, event_type, ts, event_id). The batch is APPENDED:
    its observations are written once as one new delta object and
    published with ONE atomic pointer commit; no bucket is rewritten
    and nothing is retired, so the cost is O(|delta|) plus one count
    over the merged view of the affected buckets (``rows_touched``).
    Readers re-collapse buckets ∪ deltas (``_scd2_read``). When the
    pointer already names ``n_buckets`` deltas the merge FOLDS instead:
    it rewrites the buckets the batch or any delta touches (reading
    only those — path-level pruning) and drops every delta, in one
    pointer swap (see scd2_merge), so a read never opens more than
    2·n_buckets objects.

    Contract mirrors scd2_merge: per affected user the staged rows
    are strictly newer than every stored observation (CDC append);
    users new to the store fold into fresh intervals (their buckets —
    possibly previously absent — get objects at the next fold). The
    bucketing modulus comes from the store's own layout pointer, never
    from the caller (advice r12). Mutations serialize under the
    per-store lock; stats carry the batch's affected bucket ids, the
    occupied bucket objects before the merge (``total``) and the
    in-lock ``rows_touched`` count."""
    from pyspark.errors import AnalysisException

    # NULL business keys are refused inside _scd2_apply — the raw-null
    # flag rides the cast-null probe there, so the entry check no
    # longer costs its own job (round 16)
    no_store = ValueError(
        f"scd2_merge_into: no SCD2 store at {path!r} (no bucket "
        "objects) — build one with scd2_merge first"
    )
    try:
        locked = mutation(spark, path, _scd2_lock(path))
    except AnalysisException:
        raise no_store from None
    with locked as (io, lay):
        if not lay["buckets"]:
            raise no_store
        total = len(lay["buckets"])
        fold = len(lay.get("deltas", {})) >= lay["n_buckets"]
        out, affected, rows_touched = _scd2_apply(
            spark, io, path, lay, delta, fold, _crash=_crash
        )
    return out, {
        "touched": len(affected),
        "total": total,
        "buckets": affected,
        "rows_touched": rows_touched,
    }


def scd2_recover(path: str, spark: SparkSession) -> bool:
    """Reclaim an SCD2 store's garbage now: the pointer layout's
    retired objects and crashed-stage orphans — no state ever needs a
    roll-forward, so recovery IS garbage collection (the ivf_recover
    contract). Returns True when anything was reclaimed. Takes the
    per-store mutation lock so recovery cannot race a live merge
    (advice r12). storeio.recover gives the full report."""
    return recover(spark, path, _scd2_lock(path))["recovered"]


def scd2_snapshot_at(
    spark: SparkSession,
    path: str,
    ts,
    user_ids: "list | None" = None,
) -> DataFrame:
    """Point-in-time read of a bucketed SCD2 store: the dimension rows
    valid at ``ts`` (valid_from <= ts < valid_to, with open intervals
    kept via is_current) — the as-of query a dimension store exists to
    answer. Genuinely READ-ONLY: no lock is taken and nothing is
    written.

    Isolation (round 14): the snapshot resolves the layout pointer
    ONCE and reads only the directories that pointer names, so a
    snapshot racing a concurrent merge sees the complete pre- or
    post-merge store — cross-bucket consistency the per-bucket rename
    protocol could not give (its swap was atomic per bucket only;
    retired objects further outlive the swap by a full mutation cycle
    of reader grace).

    Scale shape: with ``user_ids`` the bucket ids are computed from
    the store's persisted modulus via the same JVM xxhash64 the writer
    used — one spark.range(1) row, no data scan — and ONLY those
    buckets' object directories are opened (path-level pruning:
    untouched buckets are never listed, strictly stronger than the old
    partition-column filter), plus the delta objects merged since the
    last fold, whose rows are filtered to those users before the
    re-collapse. Without user_ids the snapshot is a
    full-store predicate scan by design. A path with no store raises
    the reader's AnalysisException. For integer-keyed stores,
    non-integral numeric ids are REJECTED rather than silently
    truncated (advice r13: an int cast would read 1.9 as user 1)."""
    import datetime as _dt

    if isinstance(ts, (_dt.datetime, _dt.date)):
        tcol = F.lit(ts).cast("timestamp")
    else:
        # try_to_timestamp, not cast: under ANSI mode a malformed string
        # THROWS at constant folding (CAST_INVALID_INPUT) — the HTTP
        # surface would 500 on a user typo instead of 400
        tcol = F.try_to_timestamp(F.lit("" if ts is None else str(ts)))
    lay = pointer_require(StoreIO(path, spark), path)
    # one spark.range(1) row, no data scan, answers both the ts parse
    # and the user ids' buckets
    probe = [tcol.alias("t")]
    if user_ids is not None:
        if not user_ids:
            raise ValueError(
                "scd2_snapshot_at: user_ids must be non-empty when given"
            )
        key_t = lay["key_type"]
        if key_t in ("tinyint", "smallint", "int", "bigint"):
            coerced = []
            for u in user_ids:
                if isinstance(u, bool) or (
                    isinstance(u, float) and not u.is_integer()
                ):
                    raise ValueError(
                        "scd2_snapshot_at: non-integral id for an "
                        f"integer-keyed store (key_type={key_t}): {u!r}"
                    )
                try:
                    coerced.append(int(u))
                except (TypeError, ValueError):
                    raise ValueError(
                        "scd2_snapshot_at: unparseable id for an "
                        f"integer-keyed store (key_type={key_t}): {u!r}"
                    ) from None
            user_ids = coerced
        elif key_t == "string":
            user_ids = [str(u) for u in user_ids]
        n = int(lay["n_buckets"])
        lits = [F.lit(u).cast(key_t) for u in user_ids]
        probe.append(
            F.array(*[F.pmod(F.xxhash64(c), F.lit(n)) for c in lits])
            .alias("bs")
        )
    row = spark.range(1).select(*probe).head()
    # an unparseable ts would otherwise silently snapshot to an empty
    # dimension — a user error on the HTTP/CLI surfaces must say so
    if row["t"] is None:
        raise ValueError(f"scd2_snapshot_at: unparseable timestamp {ts!r}")
    sel_buckets = where = None
    if user_ids is not None:
        sel_buckets = sorted(set(row["bs"]))
        # user_id is the collapse's partition key: the read filters the
        # users before re-collapsing buckets ∪ deltas
        where = F.col("user_id").isin(lits)
    snap = _scd2_read(
        spark, path, lay, buckets=sel_buckets, where=where
    ).filter(
        (F.col("valid_from") <= tcol)
        & (F.col("is_current") | (F.col("valid_to") > tcol))
    )
    return snap.select(
        "user_id", "state", "valid_from", "valid_to", "is_current"
    )


@query(
    "q_scd2_merge",
    bench=True,
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type, ts, event_id,
                   lag(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS prev_type
            FROM events
        ),
        changes AS (
            SELECT user_id, event_type AS state, ts AS valid_from,
                   event_id
            FROM seq
            WHERE prev_type IS NULL OR event_type <> prev_type
        )
        SELECT user_id, state, valid_from,
               lead(valid_from) OVER (
                   PARTITION BY user_id ORDER BY valid_from, event_id
               ) AS valid_to,
               lead(valid_from) OVER (
                   PARTITION BY user_id ORDER BY valid_from, event_id
               ) IS NULL AS is_current
        FROM changes
    """,
    doc="MERGE-shaped SCD2 upsert: stage a sparse CDC batch, rewrite "
    "ONLY its hash-bucket partitions (dynamic partition overwrite), "
    "and the post-merge table must equal the full-history rebuild — "
    "the oracle IS q_scd2's full-rebuild SQL over all events.",
)
def q_scd2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared exhibit of scd2_merge: the dimension is built from all
    events EXCEPT a staged batch (the final three days' events for the
    sparse user_id % 37 = 0 cohort — a CDC-realistic late batch), the
    batch is merged via partition-pruned rewrite, and the read-back
    table is hash-compared against the full rebuild over ALL events.
    Byte-equality of the merge path with the rebuild is the whole
    claim; the touched-partitions ≪ total canary is the scale claim
    (at sf0.001: 1 of ~15 occupied buckets rewritten)."""
    ev = load_tables(spark, sf_dir)["events"]
    delta_pred = (
        F.col("ts") >= F.lit("2024-01-28 00:00:00").cast("timestamp")
    ) & (F.col("user_id") % 37 == 0)
    out, _ = scd2_merge(spark, ev, delta_pred)
    return out
