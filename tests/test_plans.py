"""Physical-plan regression tests (SURVEY.md §5.3 golden-plan canaries).

These assert the plan SHAPES that make the engine scale — pushdown,
pruning, broadcasts, window-group-limit, no accidental cartesian products —
so a refactor that silently loses one fails here, not at 100 TB.
"""

from __future__ import annotations

import pytest

from correlationapi_spark.registry import load_registry

from .conftest import SF_SMOKE

REGISTRY = load_registry()


def plan_of(spark, key: str) -> str:
    df = REGISTRY[key].fn(spark, SF_SMOKE)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_flagship_prunes_and_broadcasts(spark):
    plan = plan_of(spark, "q_flagship")
    # lineitem scan reads only the 4 needed columns of 11
    assert "l_orderkey:bigint,l_quantity:double,l_extendedprice:double,l_discount:double" in plan
    assert "PushedFilters: [IsNotNull(l_orderkey)]" in plan
    # dimension joins broadcast — no shuffle join at fixture scale
    assert plan.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in plan


def test_scan_pruned_pushes_filters(spark):
    plan = plan_of(spark, "q_scan_pruned")
    # scan reads the 2 projected + 1 filter column of lineitem's 11
    assert (
        "ReadSchema: struct<l_orderkey:bigint,l_quantity:double,l_returnflag:string>"
        in plan
    )
    assert "LessThan(l_quantity,3.0)" in plan and "EqualTo(l_returnflag,A)" in plan


def test_topk_group_uses_window_group_limit(spark):
    # Spark ≥3.5 pushes rank<=k below the shuffle: bounded state per task
    assert "WindowGroupLimit" in plan_of(spark, "q_topk_group")


def test_global_topk_avoids_full_sort(spark):
    assert "TakeOrderedAndProject" in plan_of(spark, "q_limit_topk")


def test_sim_topk_broadcasts_probes(spark):
    plan = plan_of(spark, "q_sim_topk")
    assert "BroadcastNestedLoopJoin" in plan  # constant probe side broadcast


def test_no_cartesian_in_declared_joins(spark):
    for key in ("q_join_inner", "q_join_multi", "q_join_range", "q_join_asof"):
        assert "CartesianProduct" not in plan_of(spark, key), key


@pytest.mark.parametrize("key", ["q_agg_group", "q_agg_corr", "q_corr_matrix"])
def test_aggregates_are_partial_final(spark, key):
    # two HashAggregates (partial + final) around one exchange — map-side
    # combine is what keeps these one-shuffle at any scale
    plan = plan_of(spark, key)
    assert plan.count("HashAggregate") >= 2


def test_tfidf_in_plan_count_and_topk(spark):
    plan = plan_of(spark, "q_text_tfidf")
    # N is a one-row aggregate cross-joined IN-PLAN (broadcast nested
    # loop over a 1-row build side), not a driver-side .count() action
    assert "BroadcastNestedLoopJoin" in plan
    # tf / df / N are all partial+final aggregates (map-side combine)
    assert plan.count("HashAggregate") >= 4
    # per-source top-5 pushes the rank limit below the shuffle
    assert "WindowGroupLimit" in plan


def test_dedup_ngram_no_array_crosses_shuffle(spark):
    plan = plan_of(spark, "q_dedup_ngram")
    # postings self-join stays a merge join on the 8-byte hashed shingle
    assert "SortMergeJoin" in plan
    # the shingles ARRAY must be exploded BEFORE any exchange: every
    # Exchange block's Input column list is scalar-only (arrays through
    # a shuffle measured 20x slower in round 1)
    for block in plan.split("\n\n"):
        lines = block.splitlines()
        if lines and "Exchange" in lines[0]:
            assert "shingles" not in block, block
    assert "CartesianProduct" not in plan


def test_sort_multi_has_no_single_partition_sort(spark):
    # global row_number comes from ordering.global_row_number: range
    # partitioning + per-partition numbering + broadcast offsets. Round 4:
    # the range-partitioned intermediate is pinned with a LAZY
    # localCheckpoint (ordering.py module docstring — exchange reuse is
    # NOT guaranteed across the two pruned consumers, and re-evaluating a
    # SAMPLED range partitioning can silently renumber rows), so the final
    # plan consumes the pinned RDD; the range exchange lives in the
    # checkpointed subtree. The only single-partition exchange allowed is
    # the tiny per-partition totals table (one row per range partition),
    # never the sorted relation.
    plan = plan_of(spark, "q_sort_multi")
    assert "Scan ExistingRDD" in plan  # the pinned ranged intermediate
    assert "rangepartitioning" not in plan  # shuffle happened pre-pin
    assert plan.count("Exchange SinglePartition") <= 1


def test_spearman_has_no_global_rank_sort(spark):
    # round-2 scale path: ranks come from the distinct-value range-
    # partitioned avg_rank_table, never a rank() window over a global
    # ORDER BY (which is a full-relation single-partition sort)
    plan = plan_of(spark, "q_corr_spearman")
    assert "rank(" not in plan
    assert "rangepartitioning" in plan
    # the only single-partition exchanges allowed are the two tiny
    # per-range-partition totals tables (one row per partition), never
    # the fact relation
    assert plan.count("Exchange SinglePartition") <= 2


def test_mode_uses_window_group_limit(spark):
    # argmax over the count table: partial/final count + two-phase
    # WindowGroupLimit (running top-1 per group, bounded task state)
    plan = plan_of(spark, "q_agg_mode")
    assert plan.count("HashAggregate") >= 2
    assert "WindowGroupLimit" in plan


def test_tpch_q1_is_one_exchange_scan_agg(spark):
    plan = plan_of(spark, "q_tpch_q1")
    # shipdate predicate reaches the parquet reader
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    # partial+final aggregate around exactly one hash exchange (formatted
    # mode names nodes "Exchange (n)" in the tree; the partitioning is in
    # the node detail)
    assert plan.count("HashAggregate") >= 2
    assert plan.count("Exchange (") == 1
    assert "hashpartitioning(l_returnflag" in plan


def test_funnel_pushes_stage_filters_to_scan(spark):
    # each stage reads events with the event_type predicate IN the scan
    plan = plan_of(spark, "q_funnel")
    for stage in ("signup", "click", "purchase"):
        assert f"EqualTo(event_type,{stage})" in plan, stage
    assert "CartesianProduct" not in plan


def test_repetition_is_pure_map_stage(spark):
    # per-row array math only: no exchange anywhere in the plan
    plan = plan_of(spark, "q_text_repetition")
    assert "Exchange" not in plan


def test_dedup_ngram_reuses_shingle_exchange(spark):
    # the postings self-join must compute the shingle subplan ONCE: AQE
    # dedupes the two identical exchanges at runtime (ReusedExchange in
    # the FINAL plan). NB: inspect the final plan via collect() on the
    # same DataFrame — a write() goes through a separate QueryExecution
    # whose plan string never shows isFinalPlan=true.
    df = REGISTRY["q_dedup_ngram"].fn(spark, SF_SMOKE)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "ReusedExchange" in plan


def test_interval_join_is_bin_equi_join(spark):
    # the interval-overlap join must be the bucketed EQUI-join on
    # (user_id, bin) — never a nested-loop/theta evaluation whose
    # candidate count is |purchases|x|errors| per user
    plan = plan_of(spark, "q_join_interval")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # the equi-join keys include the explode-generated bin column
    assert "bin" in plan
    assert any(j in plan for j in
               ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"))


def test_asof_nearest_is_union_window_not_range_join(spark):
    # nearest-as-of = union + ONE shuffle on user_id + two ordered
    # carries; a range join here would blow up as |clicks| x |purchases|
    # per user
    plan = plan_of(spark, "q_join_asof_nearest")
    for node in ("Join", "CartesianProduct", "BroadcastNestedLoop"):
        assert node not in plan, node
    assert plan.count("Window") >= 1
    assert "hashpartitioning(user_id" in plan


def test_freq_items_runs_one_python_pass(spark):
    # the Misra-Gries stage is the expensive pass: exactly ONE
    # MapInPandas with NO exchange below it (summaries shuffle only
    # <= k rows per batch); N comes from a codegen scan, and top-50 is
    # TakeOrderedAndProject (per-partition heaps), never a global sort
    import re

    plan = plan_of(spark, "q_agg_freq_items")
    assert len(re.findall(r"MapInPandas \(\d+\)", plan)) == 1
    assert "TakeOrderedAndProject" in plan
    # between the Python pass and its parquet scan only narrow nodes
    # (the NULL filter / projections) may appear — never an Exchange
    tree = plan.split("\n\n")[0]
    lines = tree.splitlines()
    start = next(i for i, ln in enumerate(lines) if "MapInPandas" in ln)
    for ln in lines[start + 1:]:
        if "Scan parquet" in ln:
            break
        assert "Exchange" not in ln, ln
    else:
        raise AssertionError("no Scan parquet below MapInPandas")


def test_spearman_rank_tables_reuse_range_exchange(spark):
    """Correctness canary (ADVICE r3): grouped_avg_rank_table references
    the range-partitioned counts subtree twice (numbered rows vs
    per-partition totals). Range partitioning SAMPLES boundaries, so the
    two references are only guaranteed consistent when they resolve to
    ONE exchange — ReuseExchange fires here because the counts subtree
    (3 columns, all needed by both consumers) canonicalizes identically.
    This canary pins that: if a code or Spark change ever breaks reuse,
    this goes red instead of ranks going silently wrong at scale.
    (global_row_number takes the other fix — a lazy localCheckpoint,
    deliberately NOT eager, see ordering.py — because its consumers prune
    differently and never reuse.)"""
    for key, min_reused in [
        ("q_corr_spearman", 2),          # rx + ry rank tables
        ("q_corr_matrix_spearman", 3),   # k=3 rank tables
        ("q_corr_spearman_grouped", 2),  # rx + ry grouped rank tables
    ]:
        df = REGISTRY[key].fn(spark, SF_SMOKE)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan, key
        assert plan.count("ReusedExchange") >= min_reused, (
            key, plan.count("ReusedExchange"))


def test_no_cartesian_or_giant_single_partition_anywhere(spark):
    """Registry-wide safety net: NO key may plan a CartesianProduct, and
    none may exceed 3 single-partition exchanges (the allowance covers
    tiny by-design relations: global-agg results, per-range-partition
    offset tables, 1-row funnel stage counts — never a fact relation;
    the per-key tests above pin the tighter budgets)."""
    # per-key allowances above the default 3 — each extra exchange is a
    # named tiny relation, never a fact table:
    #   q_corr_matrix_spearman: k=3 rank-table offset tables (≤ one row
    #   per range partition each) + the 1-row global corr aggregate
    budget = {
        "q_corr_matrix_spearman": 4,
        # q_assoc_mixed unions FIVE independent 1-row measure reductions
        # (two pearson aggs, the chi²/V cell reduction + its 1-row
        # total, two η totals) — six single-partition exchanges, each
        # carrying exactly one row by construction, never a fact table
        "q_assoc_mixed": 6,
        # q_survival_km: horizon max(ts) (1 row), risk-set total (1
        # row), the running-sum offsets table (≤1 row per range
        # partition), and the cumulative ln-sum window over the
        # DURATION-DOMAIN event-day table (≤ #days rows) — all tiny by
        # construction
        "q_survival_km": 4,
        # q_survival_logrank: same shape minus the KM window plus the
        # final 1-row observed/expected reduction — horizon (1 row),
        # cohort totals (1 row), running-sum offsets (≤1 row per range
        # partition), final statistic (1 row)
        "q_survival_logrank": 4,
        # q_fk_integrity: four 1-row global-aggregate reductions, one
        # per FK edge (the unioned audit counters) — each carries
        # exactly one row by construction, never a fact table
        "q_fk_integrity": 4,
        # q_ts_trend: the day-grain row_number window (≤ #days rows),
        # the S/median pair reduction (1 row), the tie-term aggregate
        # (1 row), and the n_days count (1 row) — all time-domain or
        # 1-row by construction
        "q_ts_trend": 4,
    }
    for key, spec in REGISTRY.items():
        plan = REGISTRY[key].fn(spark, SF_SMOKE)._jdf.queryExecution()\
            .executedPlan().toString()
        assert "CartesianProduct" not in plan, key
        n = plan.count("Exchange SinglePartition")
        assert n <= budget.get(key, 3), (key, n)


def test_limit_offset_is_take_ordered(spark):
    # Spark folds orderBy+offset(40)+limit(20) into ONE
    # TakeOrderedAndProject(limit=60, offset=40): per-partition top-60
    # heaps + driver merge that drops the first 40 — no full sort, no
    # exchange anywhere in the plan
    plan = plan_of(spark, "q_limit_offset")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan


def test_pacf_two_scans_no_cartesian(spark):
    # the day-grain aggregation is the only full-data pass, once per
    # self-join side (formatted mode prints each scan node twice: tree
    # entry + detail block — so 2 physical scans == 4 occurrences); the
    # 3-row lag relation rides a broadcast, never a cartesian product,
    # and the Durbin-Levinson recursion is pure projection
    plan = plan_of(spark, "q_pacf")
    assert plan.count("Scan parquet") <= 4
    assert "CartesianProduct" not in plan
    # lag alignment is the epoch-day EQUI-join, not a theta join
    assert "dn" in plan


def test_lag_spines_always_broadcast(spark):
    """The ≤2m+1-row lag spine crossJoins (q_corr_xcorr, q_pacf, and the
    api lag sweep) must ALWAYS broadcast the spine side: an AQE or
    statistics change that flipped one into a shuffled/cartesian join
    would put the whole series table through it (verdict r05 canary)."""
    for key in ("q_corr_xcorr", "q_pacf"):
        plan = plan_of(spark, key)
        assert "BroadcastNestedLoopJoin" in plan, key
        assert "CartesianProduct" not in plan, key

    # the api-side shared lag sweep (_xcorr_lags): spy on the collect to
    # capture the ACTUAL DataFrame the sweep executes, then assert its
    # physical plan broadcasts the spine
    # PySpark 4 dispatches to the classic subclass, which overrides
    # collect — patch the concrete class, not the abstract facade
    try:
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:  # older pyspark: one concrete class
        from pyspark.sql import DataFrame

    from correlationapi_spark.api import CorrelationAPI
    from correlationapi_spark.io import load_tables

    api = CorrelationAPI(spark)
    api.register_dataset("_ev", load_tables(spark, SF_SMOKE)["events"])
    captured: list = []
    orig_collect = DataFrame.collect

    def spy(self):
        captured.append(self)
        return orig_collect(self)

    DataFrame.collect = spy
    try:
        api.cross_correlation("_ev", "ts", "value", "value", max_lag=2)
    finally:
        DataFrame.collect = orig_collect
    assert captured
    plan = captured[-1]._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_ivf_bucketed_probe_prunes_partitions(spark, tmp_path):
    """The IVF scale story (SCALING.md): persist the cell-stamped corpus
    partitionBy("cell") and a probe's candidate read must PRUNE to its
    n_probe cells at the parquet scan — PartitionFilters in the plan,
    only the probed cells' files touched. If a layout or filter change
    loses the pruning, the probe silently reads the whole corpus."""
    import pyspark.sql.functions as F

    from correlationapi_spark.llm.similarity import corpus_view, ivf_index

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    assigned, _ = ivf_index(
        corpus_view(emb, "vec_id", "embedding"), n_cells=4
    )
    path = str(tmp_path / "by_cell")
    assigned.select("vec_id", "v", "cell").write.partitionBy("cell").parquet(
        path
    )
    on_disk = spark.read.parquet(path)
    pruned = on_disk.filter(F.col("cell").isin([0, 2]))
    plan = pruned._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    # the cell predicate must land in PartitionFilters (metadata-only),
    # NOT PushedFilters (still opens every file) or a post-scan Filter
    assert "PartitionFilters" in plan
    import re

    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert pf and "cell" in pf.group(1), plan
    # and the pruned read really skips the other cells' files
    assert set(
        r.cell for r in pruned.select("cell").distinct().collect()
    ) <= {0, 2}
    files_all = {f for f in on_disk.inputFiles()}
    assert all("cell=" in f for f in files_all)  # layout is partitioned


def test_pack_chunks_has_no_single_partition_window(spark):
    """The packing layout needs a GLOBAL running sum — the naive
    `sum() OVER (ORDER BY doc_id)` compiles to Exchange SinglePartition
    + one-task window (the canonical scale-killer). q_pack_chunks must
    ride the range-partitioned two-pass shape instead: pinned ranged
    RDD, per-partition windows, and at most the tiny totals table
    through a single-partition exchange."""
    plan = plan_of(spark, "q_pack_chunks")
    assert "Scan ExistingRDD" in plan  # the pinned ranged intermediate
    assert "rangepartitioning" not in plan  # shuffle happened pre-pin
    assert plan.count("Exchange SinglePartition") <= 1


def test_round7_tpch_shapes(spark):
    """Round-7 composed shapes keep their declared plan properties:
    Q4's quarter filter reaches the orders parquet scan and the EXISTS
    decorrelates to a LEFT SEMI join (never materializing matches); Q18's
    qualifying-key set joins LEFT SEMI (the >300 filter shrinks it to
    ~1e-3 of orders, declared broadcast); Q14's one-month filter reaches
    the lineitem scan. None may degenerate to a cartesian product."""
    q4 = plan_of(spark, "q_tpch_q4")
    assert "LeftSemi" in q4 and "CartesianProduct" not in q4
    assert "1997-07-01" in q4  # pushed to the scan, not a post-filter

    q18 = plan_of(spark, "q_tpch_q18")
    assert "LeftSemi" in q18 and "CartesianProduct" not in q18

    q14 = plan_of(spark, "q_tpch_q14")
    assert "CartesianProduct" not in q14
    assert "1997-09-01" in q14


def test_round8_tpch_shapes(spark):
    """Round-8 adapted shapes keep their declared plan properties:
    Q2's derived cost relation is pruned by a region semi-join and
    materialized once for both the min side and the probe (two
    ExistingRDD refs, zero duplicate lineitem aggregates); Q9's
    selective part set broadcasts; Q11 materializes the per-part value
    table once; Q16's flagged-supplier NOT IN runs as a broadcast anti
    join; Q20's part-family set semi-prunes lineitem below the
    aggregate; Q21 computes both EXISTS facts in ONE window pass (no
    self-join of lineitem). None may degenerate to a cartesian
    product."""
    def simple_plan(key):
        df = REGISTRY[key].fn(spark, SF_SMOKE)
        return df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "simple"
            )
        )

    q2 = simple_plan("q_tpch_q2")
    assert q2.count("Scan ExistingRDD") == 2  # ps materialized once
    assert "CartesianProduct" not in q2

    q9 = plan_of(spark, "q_tpch_q9")
    assert "CartesianProduct" not in q9
    # the part name filter prunes at the scan, below every shuffle
    assert "StringContains(p_name,red)" in q9

    q11 = simple_plan("q_tpch_q11")
    # pv materialized once; its ASIA semi-prune lives inside the
    # checkpointed lineage, so the consumer plan shows only the two RDD
    # refs (same reason q15's canary counts zero lineitem scans)
    assert q11.count("Scan ExistingRDD") == 2
    assert "lineitem.parquet" not in q11

    q16 = plan_of(spark, "q_tpch_q16")
    assert "LeftAnti" in q16 and "CartesianProduct" not in q16

    q20 = simple_plan("q_tpch_q20")
    # pre-order explain: children print after parents, so the
    # part-family LeftSemi sitting BELOW the pair aggregate means its
    # line comes later than the partial aggregate's
    assert q20.rindex("LeftSemi") > q20.index("partial_sum")
    assert "CartesianProduct" not in q20

    q21 = simple_plan("q_tpch_q21")
    # one window pass over the orderkey join — lineitem appears ONCE
    assert q21.count("lineitem.parquet") == 1
    assert "collect_set" in q21 and "CartesianProduct" not in q21


def test_pack_bpeish_no_single_partition_data_window(spark):
    """q_pack_bpeish rides the same range-partitioned two-pass running
    sum as q_pack_chunks: the only WindowExecs allowed are over the
    per-partition totals table (≤ #partitions rows), never over the
    data-sized relation — the canonical scale-killer this engine
    exists to avoid."""
    plan = plan_of(spark, "q_pack_bpeish")
    assert "CartesianProduct" not in plan
    # same canary shape as q_pack_chunks: pinned ranged RDD, at most the
    # tiny totals table through a single-partition exchange
    assert "Scan ExistingRDD" in plan
    assert plan.count("Exchange SinglePartition") <= 1


def test_q15_materialized_scans_lineitem_once(spark):
    """Q15's reused ``rev`` aggregate is pinned with
    ordering.materialize(): the consumer plan must reference the
    checkpointed RDD (twice — max side + probe side) and contain ZERO
    lineitem FileScans. Before the pin, Spark recomputed the aggregate
    from the scan for each consumer (no ReusedExchange — the consumers
    aggregate differently above the exchange): two full lineitem passes
    at 100 TB for a ~#suppliers-row result."""
    df = REGISTRY["q_tpch_q15"].fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "simple"
        )
    )
    assert plan.count("lineitem.parquet") == 0
    assert plan.count("Scan ExistingRDD") == 2
    # result is still correct: collect and sanity the shape
    rows = df.collect()
    assert len(rows) >= 1
    assert all(r.total_revenue == rows[0].total_revenue for r in rows)


def test_q17_semi_join_below_aggregate(spark):
    """Q17's decorrelated per-part aggregate must be brand-pruned BEFORE
    the groupBy: a broadcast LeftSemi against the Brand#3 partkey set
    below the pq HashAggregate. Without it, 100 TB of lineitem is
    aggregated per-part only for a downstream filter to discard every
    non-Brand#3 part (~2/3 of the fixture brand domain)."""
    df = REGISTRY["q_tpch_q17"].fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "simple"
        )
    )
    # the pq branch's partial aggregate (sums rounded quantities) — the
    # outer revenue aggregate sums extendedprice cents, so the marker is
    # unique to the per-part subtree
    pq_partial = plan.index("partial_sum(cast(round(l_quantity")
    semi = plan.index("LeftSemi")
    # pre-order explain: children print after parents, so the semi-join
    # being BELOW the aggregate means its line comes later
    assert semi > pq_partial, "Brand#3 semi-join must sit below pq groupBy"
    # and the semi-join's build side is the pruned part scan, broadcast
    assert "EqualTo(p_brand,Brand#3)" in plan[semi:]
    assert "CartesianProduct" not in plan


def test_runtime_bloom_filter_join_pruning(spark):
    """100 TB posture exhibit (round 8): when a shuffle join's build
    side is selective, Catalyst injects a RUNTIME bloom filter —
    `bloom_filter_agg` over the build keys, `might_contain` as a
    pre-shuffle filter on the probe side — so the fact table drops
    non-joining rows BEFORE paying the exchange. At cluster scale this
    fires under the default thresholds (creation side ≤ 10 MB, probe
    scan ≥ 10 GB); at fixture scale we lower the probe-side floor to
    demonstrate the plan shape. The configs are runtime SQL confs —
    restored after the assertion so the shared session is untouched."""
    conf = spark.conf
    saved = {
        k: conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.enabled",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        # force a shuffle join: a broadcast join needs no bloom filter
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        from pyspark.sql import functions as F

        from correlationapi_spark.io import load_tables

        t = load_tables(spark, SF_SMOKE)
        sel = t["orders"].filter(F.col("o_totalprice") > 400000)
        j = (
            t["lineitem"]
            .join(sel, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "simple"
            )
        )
        assert "bloom_filter_agg" in plan
        # the probe filter sits on the lineitem side, below its exchange
        assert "might_contain" in plan
        assert plan.index("might_contain") < plan.index("bloom_filter_agg")
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


def test_bucketed_join_has_no_exchange(spark):
    """q_join_bucketed's whole point: both sides CLUSTERED BY the join
    key into 8 buckets → the SortMergeJoin consumes the bucketed scans'
    HashPartitioning directly — ZERO Exchange operators anywhere in the
    plan (shuffle or broadcast). A regression here (bucket-count
    mismatch, dropped sortBy, bucketing read disabled) re-shuffles the
    fact table on every join at 100 TB."""
    plan = plan_of(spark, "q_join_bucketed")
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan
    assert "Bucketed: true" in plan


def test_partition_pruned_scan(spark):
    """The partition-column predicate must reach PartitionFilters on
    the hive-layout scan (directory-level pruning), leaving NO
    o_orderstatus predicate in the post-scan data Filters — at 100 TB
    this is what keeps 2/3 of the corpus unread."""
    df = REGISTRY["q_scan_partition_pruned"].fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "o_orderstatus" in m.group(1), plan[:2000]
    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert pushed is None or "o_orderstatus" not in pushed.group(1)


def test_drift_frame_consumers_scan_zero_parquet(spark):
    """drift_frame pins the (period, value) cells aggregate with
    materialize(): every consumer branch (domain table, period totals,
    KS spine, PSI bins, range) references the ONE checkpointed RDD, so
    the consumer plan holds ZERO parquet FileScans — the events scan
    runs exactly once in the producing stage (the Q15 single-scan
    pattern applied to the drift family)."""
    for key in ("q_drift_daily", "q_drift_psi", "q_drift_js"):
        plan = REGISTRY[key].fn(spark, SF_SMOKE)._jdf.queryExecution()\
            .executedPlan().toString()
        assert plan.count("Scan parquet") == 0, key
        assert "ExistingRDD" in plan, key


def test_ivf_written_index_roundtrip(spark, tmp_path):
    """ivf_write → ivf_read → ivf_probe must (1) reproduce the
    in-memory probe results exactly and (2) keep the probe's candidate
    read cell-pruned on the WRITTEN layout: the equi-join on the
    partition column against the tiny probe-cells side must reach the
    parquet scan as a dynamic partition-pruning filter (or the layout
    has silently regressed to full-corpus reads per probe). The check
    reads the formatted plan for the planned filter
    ``dynamicpruningexpression(cell#N IN dynamicpruning#M)``: at
    fixture scale AQE may fold the executed filter to
    ``dynamicpruningexpression(true)`` once the corpus side becomes
    the broadcast build side, and a bare "dynamicpruning" substring
    would pass on that no-op too."""
    import re

    import pyspark.sql.functions as F

    from correlationapi_spark.llm.similarity import (
        corpus_view,
        ivf_index,
        ivf_probe,
        ivf_read,
        ivf_write,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    assigned, cents = ivf_index(corpus_view(emb, "vec_id", "embedding"),
                                n_cells=4)
    probes = assigned.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("probe_id"),
        F.col("v").alias("pv"),
        F.col("na").alias("pna"),
    )
    want = sorted(
        tuple(r)
        for r in ivf_probe(assigned, cents, probes, k=5, n_probe=2).collect()
    )

    path = str(tmp_path / "ivf_index")
    ivf_write(assigned, cents, path)
    assigned2, cents2 = ivf_read(spark, path)
    probe_df = ivf_probe(assigned2, cents2, probes, k=5, n_probe=2)
    got = sorted(tuple(r) for r in probe_df.collect())
    assert got == want

    plan = probe_df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert re.search(
        r"dynamicpruningexpression\(cell#\d+ IN dynamicpruning#\d+\)", plan
    ), plan[:3000]


def test_ivf_delta_probe_prunes_both_scans(spark, tmp_path):
    """An index with an append delta reads base ∪ delta as two
    cell-partitioned scans under a union (Spark refuses two partitioned
    roots in one read); the probe's cell equi-join must reach EACH scan
    as a dynamic partition-pruning filter, and answer exactly as the
    in-memory union does."""
    import pyspark.sql.functions as F

    from correlationapi_spark.llm.similarity import (
        corpus_view,
        ivf_append,
        ivf_assign,
        ivf_index,
        ivf_probe,
        ivf_read,
        ivf_resolve,
        ivf_write,
    )

    emb = corpus_view(
        spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet"),
        "vec_id", "embedding",
    )
    assigned, cents = ivf_index(emb.filter(F.col("vec_id") % 5 != 0),
                                n_cells=4)
    path = str(tmp_path / "ivf_delta")
    ivf_write(assigned, cents, path)
    delta = emb.filter(F.col("vec_id") % 5 == 0)
    ivf_append(spark, path, delta)
    assert "delta" in ivf_resolve(spark, path)

    def probes_of(c):
        return c.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("probe_id"),
            F.col("v").alias("pv"),
            F.col("na").alias("pna"),
        )

    corpus, cents2 = ivf_read(spark, path)
    probe_df = ivf_probe(corpus, cents2, probes_of(corpus), k=5, n_probe=2)
    union = assigned.select("vec_id", "v", "na", "_vn2", "cell").unionByName(
        ivf_assign(cents, delta)
    )
    want = ivf_probe(union, cents, probes_of(union), k=5, n_probe=2)
    assert sorted(map(tuple, probe_df.collect())) == sorted(
        map(tuple, want.collect())
    )

    import re

    plan = probe_df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    # one cell attribute per corpus scan, each pruned by the probe cells
    pruned = re.findall(
        r"dynamicpruningexpression\((cell#\d+) IN dynamicpruning#\d+\)", plan
    )
    assert len(set(pruned)) == 2, plan


def test_round9_engine_shapes(spark):
    # q_text_keyword: rank<=3 must compile to WindowGroupLimit
    # (bounded per-task heap on the doc-keyed exchange)
    assert "WindowGroupLimit" in plan_of(spark, "q_text_keyword")
    # q_sample_balanced: the quota is DATA-DEPENDENT (min class count),
    # so no static WindowGroupLimit is possible — the 1-row quota must
    # ride a broadcast, and the class window is the only exchange shape
    plan = plan_of(spark, "q_sample_balanced")
    assert "BroadcastNestedLoopJoin" in plan  # 1-row quota build side
    assert "CartesianProduct" not in plan
    # q_basket_lift: marginals and the basket total ride broadcasts;
    # the pair self-join is an equi-join (never a cartesian)
    plan = plan_of(spark, "q_basket_lift")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan
    # q_rfm: the three global rankings are range-partitioned two-pass
    # rankings (pinned checkpointed subtrees, same as q_sort_multi —
    # the range exchange lives pre-pin), never a data-grain
    # single-partition sort; the only SinglePartition exchanges are
    # the tiny per-range-partition totals windows
    plan = plan_of(spark, "q_rfm")
    assert "Scan ExistingRDD" in plan
    assert plan.count("Exchange SinglePartition") <= 3
    # q_embed_pca's distributed half (gram_moments): exactly one
    # Arrow-batched Python stage feeds the d-row moment aggregate —
    # the Gram partials, nothing row-wise. (The KEY's returned frame
    # is the driver-assembled k-row spectrum — dimension-bounded local
    # rows — so the canary pins the engine's plan directly.)
    from correlationapi_spark.io import load_tables
    from correlationapi_spark.llm.similarity import (
        corpus_view, gram_moments,
    )

    corpus = corpus_view(
        load_tables(spark, SF_SMOKE)["embeddings"], "vec_id", "embedding"
    )
    mdf = gram_moments(corpus, 64)
    plan = mdf._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    # formatted mode prints each node in tree + detail: one physical
    # MapInPandas node appears exactly twice
    assert plan.count("MapInPandas") == 2
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python
    assert plan.count("HashAggregate") >= 2  # partial/final moment agg
    # q_forecast_naive: the d-7 backtest is an equi-join (SortMergeJoin
    # or hash), never a range/theta join over the day domain
    plan = plan_of(spark, "q_forecast_naive")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_round9_late_engine_shapes(spark):
    # q_percentile_weighted: the 28x lesson — the running sum must run
    # at VALUE grain (a HashAggregate feeds the range exchange, i.e.
    # the pre-aggregate happens BEFORE the ordering machinery), and the
    # checkpointed ranged frame shows up as an RDD scan; no data-grain
    # single-partition sort (only the tiny per-partition-totals window)
    plan = plan_of(spark, "q_percentile_weighted")
    assert "Scan ExistingRDD" in plan  # pinned range-partitioned frame
    assert plan.count("Exchange SinglePartition") <= 1
    # q_agg_bitmap_distinct: two collapsing hash aggregates, no expand,
    # no distinct-expansion join
    plan = plan_of(spark, "q_agg_bitmap_distinct")
    assert plan.count("HashAggregate") >= 4  # partial/final x 2 levels
    assert "Expand" not in plan
    # q_sample_systematic rides the same range-partitioned numbering
    plan = plan_of(spark, "q_sample_systematic")
    assert "Scan ExistingRDD" in plan
    assert plan.count("Exchange SinglePartition") <= 1
    # q_funnel_window keeps q_funnel's co-partitioned frontier shape:
    # user-keyed hash joins only, never a time-range theta join
    plan = plan_of(spark, "q_funnel_window")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # q_sim_topk_pq (round 16, driver-side bounded refine — r15
    # verdict item 5): the ADC candidate stage and the IN-pushed float
    # gather run as their OWN jobs before the returned frame exists
    # (bit-equality with the distributed join refine is pinned by
    # test_pq_refine_driver_matches_join; the code-pruned ADC scan
    # shape by test_pq_stored_ivfpq_probe_prunes_cells). The RETURNED
    # plan is the in-plan round+rank of the driver-scored candidates:
    # ONE tiny local slice, a WindowGroupLimit top-k, and NO
    # join/parquet-scan/python node of any kind — a join or a parquet
    # scan appearing here means the bounded refine silently fell back
    # to shuffling the corpus.
    plan = plan_of(spark, "q_sim_topk_pq")
    assert "Scan ExistingRDD" in plan, plan  # the driver-scored slice
    assert "Join" not in plan, plan  # covers every join flavor
    assert "Scan parquet" not in plan, plan
    assert "MapInArrow" not in plan, plan  # no per-call encode
    assert "CartesianProduct" not in plan
    assert "WindowGroupLimit" in plan, plan  # bounded per-task heap
    assert plan.count("Exchange (") <= 1, plan  # the P·R-row rank only
    # the refine's float gather itself must stay an IN-pushed,
    # column-pruned scan (the r15 row-group-skip property, now
    # executed as the collect feeding the driver re-rank): pin the
    # exact frame pq_probe_stored builds, on the same memoized store
    import os as _os
    import re as _re

    from pyspark.sql import functions as _F

    from correlationapi_spark.llm.similarity import (
        StoreIO,
        _pq_store_for,
    )
    from correlationapi_spark.storeio import pointer_require

    path = _pq_store_for(spark, SF_SMOKE)
    objs = pointer_require(StoreIO(path, spark), path)["objects"]
    raw = (
        spark.read.parquet(_os.path.join(path, objs["corpus"]))
        .select("vec_id", "v")
        .filter(_F.col("vec_id").isin([0, 1, 2, 3, 4]))
    )
    rplan = raw._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    schemas = _re.findall(r"ReadSchema: struct<([^>]*)>", rplan)
    assert schemas and all(
        "v:" in s and "na:" not in s and "pq_code" not in s
        for s in schemas
    ), rplan  # the gather reads vec_id/v only
    assert _re.search(r"PushedFilters: \[.*In\(vec_id", rplan), rplan


def test_corr_matrix_gram_plan(spark):
    # round-10 (r9 verdict item 3): the wide-matrix gram route must be
    # one Arrow stage + one aggregate exchange per table block, with
    # ZERO joins anywhere — the whole point over melt/self-join shapes.
    # The key unions two blocks (lineitem + events), so per-plan totals
    # double; joins stay zero regardless.
    # round 11: on the default (probed) path the data is scanned ONCE,
    # inside the conditioning probe — the RETURNED plan projects a
    # collected 1-row literal moment frame, so the caller's collect
    # re-scans NOTHING: zero parquet scans, zero exchanges, zero joins.
    plan = plan_of(spark, "q_corr_matrix_gram")
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert "Scan parquet" not in plan
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan

    from correlationapi_spark.io import load_tables
    from correlationapi_spark.operators.stats import (
        _GRAM_LCOLS, corr_matrix_gram,
    )

    # probe=False: the fully LAZY raw plan (zero jobs at build) keeps
    # the pristine gram shape — one Arrow stage, one scan, one
    # aggregate exchange, no joins. Formatted mode prints each node
    # twice (tree + detail).
    one = corr_matrix_gram(
        load_tables(spark, SF_SMOKE)["lineitem"], _GRAM_LCOLS, "lineitem",
        conditioning_probe=False,
    )
    p1 = one._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "Join" not in p1
    assert p1.count("MapInPandas") == 2
    assert p1.count("Scan parquet") == 2
    assert p1.count("Exchange") == 2
    assert p1.count("SinglePartition") == 1

    # and the two routes agree value-for-value (same selectExpr over
    # the same moment bits — the literal frame changes WHERE the
    # projection runs, never what it computes)
    assert sorted(map(tuple, one.collect())) == sorted(
        map(
            tuple,
            corr_matrix_gram(
                load_tables(spark, SF_SMOKE)["lineitem"],
                _GRAM_LCOLS,
                "lineitem",
            ).collect(),
        )
    )


def test_scd2_merge_touches_few_partitions(spark):
    # round-10 (r9 verdict item 5): the MERGE-shaped SCD2 upsert must
    # rewrite only the staged batch's hash-bucket partitions — the
    # 100 TB claim is touched ≪ total, not the fixture-size equality
    # (that's the oracle's job).
    from pyspark.sql import functions as F

    from correlationapi_spark.io import load_tables
    from correlationapi_spark.operators.analytics import scd2_merge

    ev = load_tables(spark, SF_SMOKE)["events"]
    delta_pred = (
        F.col("ts") >= F.lit("2024-01-28 00:00:00").cast("timestamp")
    ) & (F.col("user_id") % 37 == 0)
    out, stats = scd2_merge(spark, ev, delta_pred)
    assert stats["touched"] >= 1
    assert stats["touched"] < stats["total"], stats
    # at smoke scale the staged cohort is ONE user -> exactly one bucket
    assert stats["touched"] == 1, stats
    assert out.count() > 0


def test_scd2_snapshot_prunes_buckets(spark, tmp_path):
    """round 14 (was: PartitionFilters): the as-of read with user_ids
    prunes at the PATH level — the bucket ids come from the store's
    persisted modulus and only those buckets' object directories are
    handed to the reader, so a point lookup never even LISTS the other
    n_buckets-1 directories (strictly stronger than the old
    partition-column filter, which still listed every bucket dir to
    discover partitions). inputFiles() is exact proof here: the
    relation IS the pruned path list."""
    import pyspark.sql.functions as F

    from correlationapi_spark.io import load_tables
    from correlationapi_spark.operators.analytics import (
        _bucket_logical,
        scd2_merge,
        scd2_snapshot_at,
    )

    ev = load_tables(spark, SF_SMOKE)["events"]
    p = str(tmp_path / "snapstore")
    scd2_merge(spark, ev, F.lit(False), _store_path=p)
    uid = ev.select("user_id").head()["user_id"]
    snap = scd2_snapshot_at(
        spark, p, "2024-01-25 00:00:00", user_ids=[uid]
    )
    want_bucket = (
        spark.range(1)
        .select(
            F.pmod(F.xxhash64(F.lit(uid).cast("long")), F.lit(32)).alias("b")
        )
        .head()["b"]
    )
    files = snap.inputFiles()
    assert files, "pruned snapshot must still read the target bucket"
    marker = f"/{_bucket_logical(int(want_bucket))}-v"
    assert all(marker in f for f in files), (marker, files[:3])
    # and it is a strict subset of the store's files
    all_files = scd2_snapshot_at(spark, p, "2024-01-25 00:00:00").inputFiles()
    assert len(files) < len(all_files)
    # and the rows really are just that user's as-of row
    rows = snap.collect()
    assert len(rows) == 1 and rows[0]["user_id"] == uid


def test_scd2_snapshot_prunes_buckets_with_deltas(spark, tmp_path):
    """The same path-level pruning once scd2_merge_into has appended a
    delta object: a user_ids snapshot reads exactly the target
    bucket's object plus the delta objects (whose rows it filters to
    the requested users before re-collapsing), never another bucket's
    files. A user new since the last fold, whose bucket has no object
    yet, is answered from the delta alone."""
    import os

    import pyspark.sql.functions as F

    from correlationapi_spark.io import load_tables
    from correlationapi_spark.operators.analytics import (
        scd2_merge,
        scd2_merge_into,
        scd2_snapshot_at,
    )
    from correlationapi_spark.storeio import StoreIO, pointer_require

    ev = load_tables(spark, SF_SMOKE)["events"]
    cut = F.lit("2024-01-25 00:00:00").cast("timestamp")
    p = str(tmp_path / "snapstore")
    scd2_merge(spark, ev.filter(F.col("ts") < cut), F.lit(False),
               _store_path=p)
    lay = pointer_require(StoreIO(p, spark), p)

    def bucket_of(u):
        return spark.range(1).select(
            F.pmod(F.xxhash64(F.lit(u).cast("long")), F.lit(32)).alias("b")
        ).head()["b"]

    new_uid = next(
        u for u in range(9_999_000, 9_999_999)
        if str(bucket_of(u)) not in lay["buckets"]
    )
    planted = spark.createDataFrame(
        [(new_uid, "planted", "2024-01-26 00:00:00", 900001)],
        "user_id long, event_type string, ts string, event_id long",
    ).select(
        "user_id", "event_type",
        F.col("ts").cast("timestamp").alias("ts"), "event_id",
    )
    batch = ev.filter(F.col("ts") >= cut).select(
        "user_id", "event_type", "ts", "event_id"
    ).unionByName(planted)
    scd2_merge_into(spark, p, batch)
    lay = pointer_require(StoreIO(p, spark), p)
    assert len(lay["deltas"]) == 1
    delta_obj = next(iter(lay["deltas"].values()))

    def object_files(*objs):
        # (object dir, parquet file) of every data file the objects hold
        return {
            (o, n) for o in objs for n in os.listdir(os.path.join(p, o))
            if n.endswith(".parquet")
        }

    def read_files(df):
        return {tuple(f.rsplit("/", 2)[-2:]) for f in df.inputFiles()}

    uid = ev.select("user_id").head()["user_id"]
    snap = scd2_snapshot_at(spark, p, "2024-01-30 00:00:00", user_ids=[uid])
    target = lay["buckets"][str(bucket_of(uid))]
    assert read_files(snap) == object_files(target, delta_obj)
    rows = snap.collect()
    assert len(rows) == 1 and rows[0]["user_id"] == uid

    fresh = scd2_snapshot_at(
        spark, p, "2024-01-30 00:00:00", user_ids=[new_uid]
    )
    assert read_files(fresh) == object_files(delta_obj)
    rows = fresh.collect()
    assert [(r["user_id"], r["state"]) for r in rows] == [
        (new_uid, "planted")
    ]


def test_pq_stored_ivfpq_probe_prunes_cells(spark, tmp_path):
    """round 14: the stored IVF-PQ probe's code scan must prune to the
    probed cells at the parquet scan — the cell filter is a literal
    isin over the partition column of the attached corpus object, so
    PartitionFilters carries it (directory-level skipping), and the
    data columns read are vec_id/pq_code only (the raw float arrays
    are never materialized on the code-scoring scan)."""
    import re

    import pyspark.sql.functions as F

    from correlationapi_spark.io import load_tables
    from correlationapi_spark.llm.similarity import (
        corpus_view,
        ivf_index,
        ivf_write,
        pq_attach,
        pq_probe_stored,
    )

    emb = corpus_view(
        load_tables(spark, SF_SMOKE)["embeddings"], "vec_id", "embedding"
    )
    path = str(tmp_path / "pqplan")
    a, c = ivf_index(emb, n_cells=8)
    ivf_write(a, c, path)
    pq_attach(spark, path)
    res = pq_probe_stored(spark, path, [0, 1], k=3, n_probe=2)
    plan = res._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    pf = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert any("cell" in f and "IN" in f.upper() for f in pf), plan
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    code_scans = [s for s in schemas if "pq_code" in s]
    assert code_scans and all(
        "v:" not in s and "na:" not in s for s in code_scans
    ), schemas
    # the refine-less probe is scan → Arrow scorer → top-k: no join of
    # any kind, no encode stage, map-side partial top-k under the
    # window (these assertions moved here from the q_sim_topk_pq
    # canary when the declared key gained the eager refine stage)
    assert "MapInPandas" in plan, plan
    assert "MapInArrow" not in plan, plan
    assert "WindowGroupLimit" in plan, plan
    assert "Join" not in plan, plan
    assert res.count() > 0


def test_ivf_assign_and_rank_cells_are_shuffle_free(spark):
    """Round 12: ivf_assign's argmin and ivf_probe's rank-cells run as
    per-row array expressions over the broadcast centroid array — no
    k-way row explosion shuffled through a per-id window. The only
    exchanges allowed in the assignment plan are the broadcast of the
    one-row centroid-array fold and the k-row SinglePartition agg that
    builds it (bounded by k·d, never by data). A regression back to
    the exploding window shape re-introduces k copies of every
    vector's arrays crossing an exchange."""
    import pyspark.sql.functions as F

    from correlationapi_spark.llm.similarity import (
        corpus_view,
        ivf_assign,
        ivf_index,
        ivf_probe,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    corpus = corpus_view(emb, "vec_id", "embedding")
    assigned, cents = ivf_index(corpus, n_cells=4)

    import re

    def n_window_ops(plan: str) -> int:
        # operator detail headers: "(24) Window" — the tree line and
        # WindowGroupLimit both contain the substring, so count headers
        return len(re.findall(r"^\(\d+\) Window$", plan, re.M))

    aplan = ivf_assign(cents, corpus)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert n_window_ops(aplan) == 0, aplan[:2000]
    assert "Exchange hashpartitioning" not in aplan, aplan[:2000]
    assert "Exchange rangepartitioning" not in aplan, aplan[:2000]
    # the k-row fold's partial/final agg pair is the only SinglePartition
    assert aplan.count("Exchange SinglePartition") <= 1, aplan[:2000]

    # probe side: the ONLY data-grain exchanges left are the candidate
    # equi-join on cell and the final top-k window — cell ranking itself
    # adds none, so exactly one Window (the top-k) survives
    probes = assigned.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("probe_id"),
        F.col("v").alias("pv"),
        F.col("na").alias("pna"),
    )
    pplan = (
        ivf_probe(assigned, cents, probes, k=5, n_probe=2)
        ._jdf.queryExecution()
        .explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    )
    assert n_window_ops(pplan) == 1, pplan[:2000]
