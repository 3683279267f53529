"""Distributed global-ordering utilities.

``row_number() OVER (ORDER BY ...)`` with no PARTITION BY compiles to an
Exchange SinglePartition + one-task sort — the canonical scale-killer
(WindowExec even warns about it). The scalable equivalent is the same
two-pass shape as the Spearman rank table (operators/stats.py
avg_rank_table):

1. ``repartitionByRange`` on the sort order — the range partitioner puts
   partition boundaries IN sort order, so partition id is monotone in the
   global ordering (including desc / nulls-first|last placement, which
   repartitionByRange honours via the SortOrder of each expression).
2. Per-partition ``row_number`` over a window partitioned by
   ``spark_partition_id()`` — never a global order.
3. Per-partition row counts (one row per range partition) get running
   offsets via a window over that TINY table; broadcast back and add.

Every partition sorts its own range in parallel; only #partitions rows
ever pass through a single task.

Correctness pin (round 4): the numbered rows and the per-partition totals
both consume the range-partitioned subtree. Range partitioning SAMPLES to
pick boundaries, and column pruning makes the two consumers' subtrees
non-identical, so Catalyst's ReuseExchange does NOT dedupe them (verified:
q_sort_multi's final AQE plan had 0 ReusedExchange and 2 separate range
exchanges). Two independent evaluations may sample different boundaries,
assigning different partition ids to the same row — offsets would then
mismatch the numbered rows and ranks would be silently wrong. Invisible at
fixture scale (the sampler sees every row, so both samples agree), fatal at
cluster scale. Fix: ``localCheckpoint`` (lazy) the partition-id-stamped
intermediate — both consumers then reference ONE RDD, i.e. one shuffle
dependency whose map output is computed exactly once, so the sampled
boundaries cannot diverge; lineage truncation additionally makes
re-evaluation impossible (an executor loss fails the job deterministically
instead of silently renumbering). The materialized volume is the same data
the shuffle already wrote, so the cost is one extra read/write of the
ranked relation at action time — and nothing at plan-build time.

Pins: one primitive, one scope. ``materialize(df, eager=...)`` is the
only way the engine pins a subtree (the package's only
``localCheckpoint``), and ``pinned()`` is the only way a pin is
released: on exit it unpersists every pin ``materialize`` made inside
it, on success and on error. Operators pin and never release; the
caller that owns a request opens the scope (``http_api._call`` wraps
every HTTP and CLI operation, so a long-running service holds no pins
between requests). Outside any scope — registry keys, bench.py, the
oracle — a pin is recorded nowhere and lives until Spark's
ContextCleaner drops it with its last reference, exactly as a bare
``localCheckpoint`` would. The active scope lives in a ContextVar, and
each thread starts with an empty context, so every
ThreadingHTTPServer handler thread has its own scope and one request
can never release another request's pins. A scope records RDD ids, not
DataFrames: an iteration round a loop has already superseded stays
collectable mid-request.
"""

from __future__ import annotations

from contextlib import contextmanager
from contextvars import ContextVar
from typing import Iterator

from pyspark import SparkContext
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# RDD ids pinned in the innermost open pinned() scope (None: no scope)
_SCOPE: ContextVar[list[int] | None] = ContextVar("pin_scope", default=None)


def global_row_number(
    df: DataFrame, order: list[Column], alias: str = "pos"
) -> DataFrame:
    """Append ``alias`` = 1-based global row_number under ``order``.

    ``order`` must be a TOTAL order (include a unique tie-break column)
    or the numbering of tied rows is nondeterministic — same contract as
    row_number itself. Output column order: df.columns + [alias].
    """
    ranged = df.repartitionByRange(*order).withColumn(
        "_pid", F.spark_partition_id()
    )
    # Pin the sampled range partitioning (module docstring: the totals and
    # the numbered rows must see identical _pid assignments, and exchange
    # reuse is not guaranteed across the two pruned consumers). LAZY: the
    # pin comes from both consumers referencing ONE RDD — a single shuffle
    # dependency whose map output is computed once — not from eagerness;
    # eager=True would run the full range-shuffle job as a side effect of
    # merely BUILDING the DataFrame (plan-only callers would pay it).
    ranged = materialize(ranged)
    w_in = Window.partitionBy("_pid").orderBy(*order)
    numbered = ranged.withColumn("_rn_in", F.row_number().over(w_in))
    totals = numbered.groupBy("_pid").agg(F.count("*").alias("_ptot"))
    w_off = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.withColumn(
        "_off", F.coalesce(F.sum("_ptot").over(w_off), F.lit(0)).cast("bigint")
    )
    return (
        numbered.join(F.broadcast(offsets.select("_pid", "_off")), "_pid")
        .withColumn(alias, (F.col("_off") + F.col("_rn_in")).cast("bigint"))
        .drop("_pid", "_rn_in", "_off")
    )


def global_running_sum(
    df: DataFrame, order: list[Column], value: Column, alias: str = "run"
) -> DataFrame:
    """Append ``alias`` = INCLUSIVE running sum of ``value`` under
    ``order`` — the same two-pass range-partitioned shape as
    global_row_number (never an Exchange SinglePartition window):
    per-partition window cumsum + per-partition value totals offset via
    a window over the TINY totals table, broadcast back. ``order`` must
    be a TOTAL order (unique tie-break) or tied rows' partial sums are
    nondeterministic. The range-partitioned intermediate is pinned with
    a lazy localCheckpoint for exactly the reasons the module docstring
    records — the totals and the cumsum rows must see identical _pid
    assignments."""
    return global_running_sums(df, order, [(value, alias)])


def global_running_sums(
    df: DataFrame, order: list[Column], values: list[tuple[Column, str]]
) -> DataFrame:
    """global_running_sum for SEVERAL value columns in ONE range
    shuffle: all the per-partition window cumsums share one window
    spec over one ranged/pinned frame, the per-partition totals for
    every value ride one tiny aggregate, and one broadcast join
    attaches all the offsets. A caller needing k running sums under
    the same order (q_ks_test needs the per-group AND pooled ECDF
    counts) would otherwise pay k range shuffles — the checkpoint pin
    truncates lineage, so chained single-value calls can NOT dedupe
    their exchanges."""
    ranged = df.repartitionByRange(*order).withColumn(
        "_pid", F.spark_partition_id()
    )
    ranged = materialize(ranged)
    w_in = (
        Window.partitionBy("_pid")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    summed = ranged
    for i, (value, _) in enumerate(values):
        summed = summed.withColumn(f"_run_in_{i}", F.sum(value).over(w_in))
    totals = ranged.groupBy("_pid").agg(
        *[
            F.sum(value).alias(f"_ptot_{i}")
            for i, (value, _) in enumerate(values)
        ]
    )
    w_off = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "_pid",
        *[
            F.coalesce(F.sum(f"_ptot_{i}").over(w_off), F.lit(0)).alias(
                f"_off_{i}"
            )
            for i in range(len(values))
        ],
    )
    out = summed.join(F.broadcast(offsets), "_pid")
    for i, (_, alias) in enumerate(values):
        out = out.withColumn(
            alias, F.col(f"_off_{i}") + F.col(f"_run_in_{i}")
        )
    return out.drop(
        "_pid",
        *[f"_run_in_{i}" for i in range(len(values))],
        *[f"_off_{i}" for i in range(len(values))],
    )


def materialize(df: DataFrame, eager: bool = False) -> DataFrame:
    """Pin a multi-consumer subtree so it is computed exactly ONCE — the
    engine-side equivalent of TPC-H Q15's ``CREATE VIEW revenue``.

    Catalyst's ReuseExchange only dedupes *identical* physical subtrees;
    two consumers that aggregate or project differently above the same
    expensive aggregate (Q15's max side vs its equality-probe side) each
    recompute it from the scan — at 100 TB that is a second full pass
    over the fact table for a result that is only ~#groups rows. A lazy
    ``localCheckpoint`` collapses the subtree to one RDD: every consumer
    references the same blocks, the DAG scheduler runs the producing
    stage once, and lineage truncation makes silent re-evaluation (with
    possibly different shuffle-sampling, see module docstring)
    impossible.

    Lazy by default so declaring a query stays action-free; the pin
    materializes at first action, executor-local MEMORY_AND_DISK.
    ``eager=True`` computes it now — the iterative loops (graph.py) need
    each round's state before they decide whether to run the next.
    Inside a ``pinned()`` scope the pin is released when the scope
    exits (module docstring).
    On a real cluster the same call is the right shape — blocks live on
    executors, not the driver — with the caveat that executor loss fails
    the job deterministically instead of recomputing; for cross-job /
    cross-session reuse, write the result out (CTAS) instead.

    Evidence (round 8): tools/q15_scan_evidence.py measures local-FS
    bytes read with and without this pin on q_tpch_q15's shape — see
    SCALING.md "Materialized reuse".
    """
    out = df.localCheckpoint(eager=eager)
    scope = _SCOPE.get()
    if scope is not None:
        scope.append(out._jdf.queryExecution().analyzed().rdd().id())
    return out


@contextmanager
def pinned() -> Iterator[None]:
    """Release, on exit, every pin ``materialize`` made inside the
    block in this thread (nested scopes release only their own). A
    DataFrame over a released pin can no longer be evaluated, so the
    block must finish its actions before it ends."""
    ids: list[int] = []
    token = _SCOPE.set(ids)
    try:
        yield
    finally:
        _SCOPE.reset(token)
        sc = SparkContext._active_spark_context
        if ids and sc is not None:
            rdds = sc._jsc.getPersistentRDDs()
            for rid in ids:
                rdd = rdds.get(rid)  # None: already cleaned up
                if rdd is not None:
                    rdd.unpersist(True)
