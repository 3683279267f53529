"""Distributed iterative graph utilities.

The one graph problem a dedup pipeline cannot avoid: pair generators
(exact-hash groups, n-gram Jaccard, MinHash/SimHash/LSH candidates) emit
EDGES, but the unit of deduplication is the transitive CLUSTER — A~B and
B~C must collapse A,B,C together even when A~C was never emitted. That is
connected components.

The implementation is label propagation to the component minimum:
every node starts labeled with itself; each round, every node takes the
min of its own label and its neighbors' labels; fixpoint = components.
Each round is one shuffle join (edges ⋈ labels) + one partial/final
min-aggregate — pure DataFrame ops, no RDDs — and converges in
O(component diameter) rounds. Duplicate clusters are shallow (stars and
short chains: diameter ≤ a handful), so the round count stays small at
any corpus size; the per-round cost is bounded by |E|, never corpus².

Driver-side involvement is ONE convergence check per round (an
intentionally tiny `.limit(1).count()` on the changed-label set) — the
standard shape for iterative fixpoint algorithms; all data movement stays
distributed. An eager ``ordering.materialize`` pin truncates the lineage
each round so the plan does not grow with the iteration count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .ordering import materialize


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 25,
) -> DataFrame:
    """(node, component) for every node appearing in ``edges``.

    ``component`` is the MINIMUM node id reachable from the node —
    deterministic, engine-independent. Edges are treated as undirected;
    self-loops and duplicate edges are tolerated. Node ids must be
    orderable (use bigint ids; strings work but shuffle wider keys).

    Raises RuntimeError if the fixpoint is not reached within
    ``max_iterations`` rounds (component diameter exceeding that bound —
    not a duplicate-cluster shape; raise the cap for general graphs).
    """
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    sym = e.union(e.select(F.col("d").alias("s"), F.col("s").alias("d")))
    # cache the (static) symmetric edge list: it is re-joined every round
    sym = materialize(sym.distinct(), eager=True)

    labels = materialize(
        sym.select(F.col("s").alias("node"))
        .distinct()
        .withColumn("label", F.col("node")),
        eager=True,
    )

    from pyspark.sql import Observation

    for _ in range(max_iterations):
        prop = sym.join(labels, sym["s"] == labels["node"]).select(
            F.col("d").alias("node"), F.col("label")
        )
        # convergence probe rides the checkpoint job (round 15): the
        # old shape ran a SECOND join+limit(1) job per round just to
        # ask "did any label move?" — attaching the previous label
        # in-plan and observing the changed-row count answers it from
        # the same action, halving the per-round job count. Labels are
        # integers, so the observed count is exact and deterministic.
        obs = Observation()
        labels = materialize(
            labels.union(prop)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .join(labels.withColumnRenamed("label", "_old"), "node")
            .observe(
                obs,
                F.count(
                    F.when(F.col("label") != F.col("_old"), F.lit(1))
                ).alias("ch"),
            )
            .select("node", "label"),
            eager=True,
        )
        if int(obs.get["ch"] or 0) == 0:
            return labels.select("node", F.col("label").alias("component"))
    raise RuntimeError(
        f"connected_components did not converge in {max_iterations} rounds"
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    damping: float = 0.85,
    n_iter: int = 20,
) -> DataFrame:
    """(node, rank) after ``n_iter`` weighted power iterations —
    deterministic (fixed iteration count, no convergence race), so the
    result is oracle-comparable cross-engine at 6 dp.

    Semantics: node set = every id appearing as src or dst; transition
    probability u→v = w(u,v)/Σ_v' w(u,v'); dangling nodes (no
    out-edges) redistribute their rank mass uniformly; uniform 1/n
    initialization. r_{i+1}(v) = (1−d)/n + d·(Σ_{u→v} r_i(u)·p(u,v)
    + dang_i/n) — the standard damped random-surfer recurrence.

    Plan shape per iteration (the 100 TB story): one edges⋈ranks hash
    join + one partial/final sum on dst — both shuffles keyed on node
    ids, exactly the partitioning a 1000-executor graph would want;
    the static normalized edge list is localCheckpoint-pinned once.
    Driver involvement is ONE bounded scalar per round (the dangling
    mass), the same bounded-collect discipline as
    connected_components' convergence probe. Round 15: that scalar
    rides each round's checkpoint job as an OBSERVED metric over the
    pre-flagged dangling rows — the per-round anti-join + aggregate
    job it replaces halved the iteration's job count (40 → 21 jobs at
    n_iter=20; same partial/final double sum, whose across-partition
    order was never pinned — the oracle absorbs ulp-order drift at
    6 dp by design). Lineage is truncated every round so the plan
    stays iteration-count-independent.
    """
    if not 0.0 <= damping <= 1.0:
        raise ValueError("damping must be in [0, 1]")
    if n_iter < 1:
        raise ValueError("n_iter must be >= 1")
    # the src∪dst node-set union must NOT coerce: a bigint/string
    # mismatch silently casts ids (observed live: string event types
    # forced through CAST AS BIGINT → runtime NumberFormatException
    # deep in iteration 1). Fail loud at the API boundary instead.
    st, dt = edges.schema[src].dataType, edges.schema[dst].dataType
    if st != dt:
        raise ValueError(
            f"src and dst node id types must match, got {st} vs {dt}; "
            "cast one side before calling pagerank"
        )
    w = (
        F.col(weight).cast("double")
        if weight is not None
        else F.lit(1.0)
    )
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"), w.alias("w"))
    nodes = materialize(
        e.select(F.col("s").alias("node"))
        .union(e.select(F.col("d").alias("node")))
        .distinct(),
        eager=True,
    )
    n = nodes.count()
    outw = e.groupBy("s").agg(F.sum("w").alias("ow"))
    ew = materialize(
        e.join(outw, "s").select(
            "s", "d", (F.col("w") / F.col("ow")).alias("p")
        ),
        eager=True,
    )
    src_nodes = materialize(outw.select(F.col("s").alias("node")), eager=True)
    # dangling flag stamped ONCE (round 15): every iteration needs the
    # rank mass of out-edge-less nodes, and the old per-round
    # anti-join + aggregate was a whole extra job per iteration. The
    # flag is static, so it rides the node table; each round's mass
    # then comes out of the checkpoint job itself (observed metric).
    from pyspark.sql import Observation

    flagged = materialize(
        nodes.join(
            src_nodes.withColumn("_has_out", F.lit(True)), "node", "left"
        ).select(
            "node",
            F.coalesce(F.col("_has_out"), F.lit(False)).alias("_has_out"),
        ),
        eager=True,
    )
    ranks = flagged.withColumn("r", F.lit(1.0 / n))
    # iteration-0 mass: one aggregate over the uniform init (the only
    # per-round job the observe pattern cannot absorb — r_0 never
    # passes through a checkpointing action of its own)
    dang = (
        ranks.filter(~F.col("_has_out")).agg(F.sum("r").alias("m"))
        .collect()[0].m
        or 0.0
    )
    for _ in range(n_iter):
        contrib = (
            ew.join(ranks, ew["s"] == ranks["node"])
            .groupBy("d")
            .agg(F.sum(F.col("r") * F.col("p")).alias("inflow"))
        )
        obs = Observation()
        ranks = materialize(
            flagged.join(contrib, flagged["node"] == contrib["d"], "left")
            .select(
                "node",
                "_has_out",
                (
                    F.lit((1.0 - damping) / n)
                    + damping
                    * (F.coalesce(F.col("inflow"), F.lit(0.0)) + dang / n)
                ).alias("r"),
            )
            .observe(
                obs,
                F.sum(F.when(~F.col("_has_out"), F.col("r"))).alias("m"),
            ),
            eager=True,
        )
        dang = obs.get["m"] or 0.0
    return ranks.select("node", F.col("r").alias("rank"))
