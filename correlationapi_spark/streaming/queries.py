"""Streaming operators, declared in batch-equivalent form (SURVEY.md §2.10).

Oracle strategy: each declared key is the BATCH evaluation of a windowed/
stateful streaming computation over the full events table, so DuckDB can
check values exactly; the streaming execution of the SAME builder
(readStream → window agg → sink) is validated in tests/test_streaming.py
via chunked replay with Trigger.AvailableNow, including watermark/late-data
and dropDuplicatesWithinWatermark variants that have no batch twin.

Each q_stream_* below exposes ``.builder`` — the transformation applied
identically to a batch OR streaming events DataFrame (this is the point:
Structured Streaming's incremental planner runs the same logical plan).

Scale posture: tumbling/sliding aggs are partial-aggregated per microbatch
with state keyed by (window × group) — bounded by watermark expiry;
session windows keep per-key merge state; stream-stream joins bound state
by the watermark + time-range condition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_tables
from ..numerics import money_sum
from ..registry import query

_WEIGHTS = [("click", 1), ("view", 2), ("purchase", 5), ("signup", 3), ("error", 0)]
_WEIGHTS_SQL = ", ".join(f"('{k}', {w})" for k, w in _WEIGHTS)


def _tumbling(ev: DataFrame) -> DataFrame:
    w = F.window("ts", "1 hour")
    return (
        ev.groupBy(w, "event_type")
        .agg(F.count("*").alias("n"), money_sum("value").alias("total_value"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


@query(
    "q_stream_tumbling",
    oracle="""
        -- date_trunc keeps naive TIMESTAMP; to_timestamp() would return
        -- TIMESTAMPTZ and hash-mismatch against Spark's naive collect
        SELECT date_trunc('hour', ts)                   AS window_start,
               date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
               event_type,
               count(*)             AS n,
               round(sum(value), 2) AS total_value
        FROM events
        GROUP BY 1, 2, 3
    """,
    doc="Tumbling 1h windowed aggregation × event_type (batch-equivalent "
    "declared form; streaming execution in test_streaming).",
    bench=True,
)
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return _tumbling(t["events"])


q_stream_tumbling.builder = _tumbling


def _sliding(ev: DataFrame) -> DataFrame:
    w = F.window("ts", "1 hour", "15 minutes")
    return (
        ev.groupBy(w, "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n",
        )
    )


@query(
    "q_stream_sliding",
    oracle="""
        WITH slides(k) AS (VALUES (0), (1), (2), (3))
        -- time_bucket's default origin (2000-01-01) is epoch-aligned for
        -- 15-minute buckets, matching Spark's epoch-aligned window(); stays
        -- naive TIMESTAMP unlike to_timestamp()
        SELECT time_bucket(INTERVAL '15 minutes', ts) - to_seconds(k * 900) AS window_start,
               event_type,
               count(*) AS n
        FROM events CROSS JOIN slides
        GROUP BY 1, 2
    """,
    doc="Sliding 1h/15m window counts — every event lands in exactly 4 "
    "overlapping windows, generated in the oracle via slide offsets.",
)
def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Spark's window(slide) and the oracle's offset expansion both align
    # windows to the epoch, so start timestamps agree exactly.
    t = load_tables(spark, sf_dir)
    return _sliding(t["events"])


q_stream_sliding.builder = _sliding


def _session(ev: DataFrame) -> DataFrame:
    return (
        ev.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


@query(
    "q_stream_session",
    oracle="""
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
        )
        SELECT min(ts)                        AS session_start,
               max(ts) + INTERVAL 30 MINUTE   AS session_end,
               user_id,
               count(*)                       AS n_events
        FROM islands
        GROUP BY user_id, sid
    """,
    doc="Session windows (30min gap) per user — gaps-and-islands oracle "
    "replicates Spark's session_window merge semantics.",
)
def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Spark session end = last event + gap; equal timestamps always share
    # a session (gap 0 < 30min), so the lag tie-break can't split one.
    t = load_tables(spark, sf_dir)
    return _session(t["events"])


q_stream_session.builder = _session


def _dedup_counts(ev: DataFrame) -> DataFrame:
    return (
        ev.dropDuplicates(["event_id"])
        .groupBy("event_type")
        .agg(F.count("*").alias("n_unique"))
    )


@query(
    "q_stream_dedup",
    oracle="""
        SELECT event_type, count(DISTINCT event_id) AS n_unique
        FROM events GROUP BY 1
    """,
    doc="Streaming dedup, batch-equivalent form (event_id is the idempotency "
    "key); dropDuplicatesWithinWatermark is exercised in test_streaming "
    "with injected duplicate chunks.",
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return _dedup_counts(t["events"])


q_stream_dedup.builder = _dedup_counts


@query(
    "q_stream_static_join",
    oracle=f"""
        WITH wts(event_type, weight) AS (VALUES {_WEIGHTS_SQL})
        SELECT e.user_id,
               CAST(sum(CAST(round(e.value*100) AS BIGINT) * w.weight) AS DOUBLE)
                 / 100.0 AS weighted_value,
               count(*) AS n
        FROM events e JOIN wts w ON e.event_type = w.event_type
        GROUP BY 1
    """,
    doc="Stream-static join: events against a broadcast weight dim, "
    "weighted per-user totals (exact integer-cents weighting).",
)
def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # In streaming form the static side is re-broadcast per microbatch —
    # same builder; declared batch form is the oracle-checked one.
    t = load_tables(spark, sf_dir)
    wts = spark.createDataFrame(_WEIGHTS, ["event_type", "weight"])
    cents = F.round(F.col("value") * 100, 0).cast("long")
    return (
        t["events"]
        .join(F.broadcast(wts), "event_type")
        .groupBy("user_id")
        .agg(
            (F.sum(cents * F.col("weight")).cast("double") / 100.0).alias(
                "weighted_value"
            ),
            F.count("*").alias("n"),
        )
    )


@query(
    "q_stream_stream_join",
    oracle="""
        SELECT p.user_id, count(*) AS n_pairs
        FROM events p
        JOIN events c
          ON c.user_id = p.user_id
         AND p.event_type = 'purchase' AND c.event_type = 'view'
         AND c.ts BETWEEN p.ts - INTERVAL 60 MINUTE AND p.ts
        WHERE p.event_type = 'purchase'
        GROUP BY 1
    """,
    doc="Stream-stream join batch form: views within 60min before each "
    "purchase per user (watermarked streaming variant in test_streaming).",
)
def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    p = t["events"].filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    c = t["events"].filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    return (
        p.join(
            c,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 60 MINUTES"))
            & (F.col("c_ts") <= F.col("p_ts")),
        )
        .groupBy(F.col("p_user").alias("user_id"))
        .agg(F.count("*").alias("n_pairs"))
    )


@query(
    "q_stream_stateful",
    oracle="""
        SELECT user_id,
               count(*)                         AS total_events,
               count(DISTINCT event_type)       AS distinct_types,
               max(ts)                          AS last_seen
        FROM events GROUP BY 1
    """,
    doc="Arbitrary-stateful batch form: final per-user state (running "
    "counters); the applyInPandasWithState streaming counter is exercised "
    "in test_streaming and must converge to these values.",
)
def q_stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return t["events"].groupBy("user_id").agg(
        F.count("*").alias("total_events"),
        F.countDistinct("event_type").alias("distinct_types"),
        F.max("ts").alias("last_seen"),
    )


def _corr_sufficient(ev: DataFrame) -> DataFrame:
    """Running Pearson corr(value, hour-of-day) per event_type from
    SUFFICIENT STATISTICS — the streaming form of the namesake.

    Structured Streaming's incremental planner supports sum/count
    aggregates but not corr() itself, so the six raw moments (n, Σx, Σy,
    Σxy, Σx², Σy²) are the STATE — each microbatch merges partial sums,
    and the coefficient is a stateless projection on top:

        corr = (nΣxy − ΣxΣy) / √(nΣx² − (Σx)²) / √(nΣy² − (Σy)²)

    The when() guard yields NULL on zero variance (ANSI-safe), and the
    result is rounded to 6 dp — the raw-moment formula accumulates in a
    different order on each engine/microbatch partitioning, but the
    cancellation error (~1e-10 relative at fixture magnitudes) sits 4
    orders below the rounding cell (numerics.py rule 3). This is exactly
    how an incremental correlation service keeps state bounded: 6 doubles
    per key, independent of history length."""
    x = F.col("value")
    y = F.hour("ts").cast("double")
    m = (
        ev.groupBy("event_type")
        .agg(
            F.count("*").cast("double").alias("n"),
            F.sum(x).alias("sx"),
            F.sum(y).alias("sy"),
            F.sum(x * y).alias("sxy"),
            F.sum(x * x).alias("sxx"),
            F.sum(y * y).alias("syy"),
        )
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    varx = n * sxx - sx * sx
    vary = n * syy - sy * sy
    corr = F.when(
        (varx > 0) & (vary > 0),
        (n * sxy - sx * sy) / (F.sqrt(varx) * F.sqrt(vary)),
    )
    return m.select(
        "event_type",
        F.round(corr, 6).alias("corr_value_hour"),
        n.cast("bigint").alias("n_events"),
    )


@query(
    "q_stream_corr",
    oracle="""
        WITH m AS (
            SELECT event_type,
                   CAST(count(*) AS DOUBLE) AS n,
                   sum(value)                               AS sx,
                   sum(CAST(extract(hour FROM ts) AS DOUBLE)) AS sy,
                   sum(value * CAST(extract(hour FROM ts) AS DOUBLE)) AS sxy,
                   sum(value * value)                       AS sxx,
                   sum(CAST(extract(hour FROM ts) AS DOUBLE)
                       * CAST(extract(hour FROM ts) AS DOUBLE)) AS syy
            FROM events GROUP BY 1
        )
        SELECT event_type,
               round(CASE WHEN n*sxx - sx*sx > 0 AND n*syy - sy*sy > 0
                          THEN (n*sxy - sx*sy)
                               / (sqrt(n*sxx - sx*sx) * sqrt(n*syy - sy*sy))
                     END, 6) AS corr_value_hour,
               CAST(n AS BIGINT) AS n_events
        FROM m
    """,
    doc="Incremental Pearson correlation per event_type from streaming-"
    "mergeable sufficient statistics (batch-equivalent declared form).",
)
def q_stream_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _corr_sufficient(load_tables(spark, sf_dir)["events"])


q_stream_corr.builder = _corr_sufficient


# ---------------------------------------------------------------------------
# Streaming drift: PSI over tumbling windows vs STATIC reference bins
# (round 10 — the r9 verdict's streaming/drift bridge). The batch drift
# family (operators.stats.drift_frame) derives its bin edges from the
# GLOBAL value range — correct for batch, impossible for a stream (the
# range isn't known until the stream ends). The streaming-honest form
# pins FIXED bin edges (width-10 over [0, 100), clamped) and a FIXED
# reference distribution (the first calendar week), so the per-window
# computation is one conditional-count aggregate with the reference
# folded in as constants: no stream-side join, no data-dependent state
# beyond the live windows.

_PSI_CUTOFF = "2024-01-08 00:00:00"
_PSI_BINS = 10


def _psi_bin(col):
    """Fixed-edge bin id: ⌊value/10⌋ clamped to [0, 9] — identical
    integer expression on both engines (floor of an exact /10.0)."""
    return F.least(
        F.greatest(F.floor(col / F.lit(10.0)).cast("long"), F.lit(0)),
        F.lit(_PSI_BINS - 1),
    )


def psi_reference_window(
    ev: DataFrame, start: str | None, end: str
) -> dict[int, int]:
    """Reference bin counts over a caller-chosen [start, end) window —
    a ≤10-row collect (bounded by the bin count, never the data).
    NULL values carry no distribution mass: dropped here AND in the
    builder AND in the oracle's WHERE, so every n is the same non-null
    count (review r10 — an unfiltered NULL would int(None)-crash this
    collect and skew the oracle's count(*) denominators)."""
    pred = (F.col("ts") < F.lit(end).cast("timestamp")) & F.col(
        "value"
    ).isNotNull()
    if start is not None:
        pred = pred & (F.col("ts") >= F.lit(start).cast("timestamp"))
    rows = (
        ev.filter(pred)
        .groupBy(_psi_bin(F.col("value")).alias("b"))
        .agg(F.count("*").alias("c"))
        .collect()
    )
    return {int(r["b"]): int(r["c"]) for r in rows}


def psi_reference(ev: DataFrame) -> dict[int, int]:
    """The declared key's static reference: everything before the
    first-week cutoff (psi_reference_window with an open start)."""
    return psi_reference_window(ev, None, _PSI_CUTOFF)


def drift_psi_builder(ref: dict[int, int]):
    """Builder factory closed over the static reference counts: per
    1-day tumbling window, Laplace-smoothed PSI vs the reference —
    Σ_b (p_b − q_b)·ln(p_b/q_b), p_b = (c_b+1)/(n_d+10), q_b =
    (r_b+1)/(n_ref+10) (the drift_frame smoothing). The whole window
    reduces in ONE streaming aggregate (10 conditional counts + total);
    the PSI is a fixed-order 10-term projection, so batch and stream
    run the identical float sequence."""
    nref = sum(ref.values())

    def build(ev: DataFrame) -> DataFrame:
        b = _psi_bin(F.col("value"))
        ev = ev.filter(F.col("value").isNotNull())  # see psi_reference
        agg = ev.groupBy(F.window("ts", "1 day")).agg(
            *[
                F.count(F.when(b == i, 1)).alias(f"c{i}")
                for i in range(_PSI_BINS)
            ],
            F.count("*").alias("nd"),
        )
        term = None
        for i in range(_PSI_BINS):
            p = (F.col(f"c{i}") + F.lit(1)).cast("double") / (
                F.col("nd") + F.lit(_PSI_BINS)
            ).cast("double")
            q = F.lit(ref.get(i, 0) + 1).cast("double") / F.lit(
                nref + _PSI_BINS
            ).cast("double")
            t = (p - q) * F.log(p / q)
            term = t if term is None else term + t
        return agg.select(
            F.col("window.start").alias("window_start"),
            F.round(term, 6).alias("psi"),
            F.col("nd").alias("n_window"),
        )

    return build


def _psi_oracle() -> str:
    bin_sql = (
        "least(greatest(CAST(floor(value / 10.0) AS BIGINT), 0), 9)"
    )
    nref = (
        "(SELECT count(*) FROM events "
        f"WHERE ts < TIMESTAMP '{_PSI_CUTOFF}' AND value IS NOT NULL)"
    )
    counts = ",\n                   ".join(
        f"count(*) FILTER (WHERE {bin_sql} = {i}) AS c{i}"
        for i in range(_PSI_BINS)
    )
    terms = []
    for i in range(_PSI_BINS):
        r = (
            f"COALESCE((SELECT count(*) FROM events "
            f"WHERE ts < TIMESTAMP '{_PSI_CUTOFF}' AND value IS NOT NULL "
            f"AND {bin_sql} = {i}), 0)"
        )
        p = f"(CAST(c{i} + 1 AS DOUBLE) / CAST(nd + 10 AS DOUBLE))"
        q = f"(CAST({r} + 1 AS DOUBLE) / CAST({nref} + 10 AS DOUBLE))"
        terms.append(f"({p} - {q}) * ln({p} / {q})")
    # fixed-order left-associated sum, mirroring the Spark projection
    psi = terms[0]
    for t in terms[1:]:
        psi = f"({psi} + {t})"
    return f"""
        WITH cur AS (
            SELECT date_trunc('day', ts) AS window_start,
                   {counts},
                   count(*) AS nd
            FROM events WHERE value IS NOT NULL GROUP BY 1
        )
        SELECT window_start,
               round({psi}, 6) AS psi,
               nd AS n_window
        FROM cur
    """


@query(
    "q_stream_drift_psi",
    oracle=_psi_oracle(),
    doc="Streaming drift monitor: per-day tumbling-window PSI vs the "
    "static first-week reference over FIXED bins (batch-equivalent "
    "declared form; streaming parity in test_streaming).",
)
def q_stream_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming bridge for the drift family: where q_drift_psi
    bins over the data-dependent global range (batch-only knowledge),
    this key pins fixed width-10 bins and a fixed reference week, so
    the SAME builder runs under readStream — one windowed aggregate,
    reference constants folded into the projection, state bounded by
    live windows × 11 longs. The reference itself is a ≤10-row
    bounded collect at build time (the stream-static pattern: compute
    the reference batch-side once, close the builder over it)."""
    ev = load_tables(spark, sf_dir)["events"]
    return drift_psi_builder(psi_reference(ev))(ev)


q_stream_drift_psi.builder = None  # built per-reference via drift_psi_builder


# -- PSI reference lifecycle (round 11 — r10 verdict item 6) ----------------
#
# The declared key pins its reference to the static first week, which is
# right for the fixture but freezes a year-long stream's baseline forever.
# The lifecycle below makes the reference a versioned, persisted artifact:
# psi_repin recomputes it over a caller-chosen window and appends a new
# version (never rewriting history — an audit can re-derive any alert
# against the reference that fired it), psi_pinned reads the latest, and
# the monitor builds drift_psi_builder around whatever is pinned. This
# mirrors ivf_imbalance's gauge-then-retrain discipline: re-pin when the
# world legitimately moved, not on a clock.

def psi_repin(
    spark: SparkSession,
    path: str,
    ev: DataFrame,
    start: str | None,
    end: str,
) -> dict:
    """Compute reference bin counts over [start, end) and append them
    as a NEW version under ``path`` (parquet rows: version, win_start,
    win_end, b, c). Returns {version, win_start, win_end, n_ref}.
    The write is one ≤10-row append — reference rotation costs one
    windowed aggregate regardless of stream length. The read-max-
    version-then-append critical section runs under a single-writer
    lock (review r11: two concurrent re-pins would both allocate
    v+1 and psi_pinned would silently merge their bins into a
    chimera baseline — the same race advice r10 flagged on the IVF
    store, same lock-file discipline: storeio.lock on
    ``path/_repin.lock``)."""
    import os

    from ..storeio import lock

    ref = psi_reference_window(ev, start, end)
    if not ref:
        raise ValueError(
            f"empty PSI reference window [{start}, {end}) — refusing "
            "to pin a baseline with no mass"
        )
    with lock(spark, os.path.join(path, "_repin.lock")):
        cur = psi_pinned(spark, path)
        version = (cur["version"] + 1) if cur else 1
        # single slice at source, no coalesce(1): folding the default
        # 32 python slices into one task pays a sequential python-worker
        # round-trip per parent partition (~5 s measured for a sidecar
        # write on local[32] — see similarity._one_slice_df)
        from ..llm.similarity import _one_slice_df

        _one_slice_df(
            spark,
            [(version, start, end, b, c) for b, c in sorted(ref.items())],
            "version long, win_start string, win_end string, b int, c long",
        ).write.mode("append").parquet(path)
    return {
        "version": version,
        "win_start": start,
        "win_end": end,
        "n_ref": sum(ref.values()),
    }


def psi_pinned(spark: SparkSession, path: str) -> dict | None:
    """The LATEST pinned reference: {version, win_start, win_end, ref}
    — or None when nothing is pinned yet. One bounded read (versions ×
    10 bins)."""
    from pyspark.errors import AnalysisException

    try:
        rows = spark.read.parquet(path).collect()
    except AnalysisException:
        return None
    if not rows:
        return None
    v = max(r["version"] for r in rows)
    cur = [r for r in rows if r["version"] == v]
    return {
        "version": int(v),
        "win_start": cur[0]["win_start"],
        "win_end": cur[0]["win_end"],
        "ref": {int(r["b"]): int(r["c"]) for r in cur},
    }
