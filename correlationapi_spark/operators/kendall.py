"""Distributed EXACT Kendall tau-b — no row cap, grouped or not.

The sequential bound in api._kendall exists because tau-b has no mergeable
sufficient statistic: the discordant-pair count D is a global property of
the joint order. But D IS decomposable. Sort the sample by (group, x, y);
then within each group D = the number of strict y-descents across
positions (the classic inversion formulation — equal-x pairs contribute
nothing because y is ascending within an x tie run, and equal-y pairs are
never inversions). Partition the POSITION axis into contiguous blocks and
the Y axis into monotone value buckets, and every discordant pair of a
group falls in exactly one of three classes:

* same block                        -> counted inside one (group, block)
                                       task                          (D2)
* different block, same bucket      -> counted inside one (group,
                                       bucket) task, minus its
                                       same-block cells              (D3)
* different block, different bucket -> bucket_i > bucket_j fully
  determines y_i > y_j, so the count needs only the per-group
  (block, bucket) contingency matrix — G·B longs per group,
  prefix-summed driver-side                                          (D1)

All three are exact for ANY monotone bucketing (quantile boundaries are
used only for balance) and every stage is keyed by the group column, so
cross-group pairs are never counted. D = D1 + D2 + D3 per group, with two
applyInPandas passes of vectorized O(m log² m) merge counting over ~n/G
and ~n/B row slices and one contingency collect. Tie terms (n1/n2/n3 and
the variance sums for the ties-adjusted z) come from ONE aggregation pass
over the deduplicated (group, x, y) value table. Global positions come
from ordering.global_row_number over (group, x, y) — range partitioning +
per-partition numbering, never a single-partition sort — whose lazy
localCheckpoint pins one boundary sample across the consumer jobs. A huge
group therefore SPANS partitions instead of landing in one window task
(the failure mode the sequential cap guards).

Job budget (round 6 — was 7+ jobs, measured 33 s at 2M rows): exactly
FIVE actions per invocation. (1) one unioned collect of the per-group
counts AND all three tie-sum families off a pinned (grp, x, y, c)
value table; (2) the numbering's pinned range exchange; (3) the y
approxQuantile; (4) the contingency collect, which now also carries
per-cell min/max y so the single-valued-bucket probe rides it instead of
being its own job; (5) ONE unioned collect of the D2 and D3
applyInPandas passes.

Scale: the widest shuffles carry (group, pos, y, block, bucket) — 5
narrow columns; the driver sees per-group G·B counts plus per-slice
inversion subtotals, never rows. The fan-out follows G ≈ B ≈
max(√(n/250k), n/8M): the sqrt law bounds the driver-collected
contingency to ~n/250k cells up to its crossover with the 8M per-slice
memory cap (n ≈ 1.6e8), beyond which cells grow as (n/8M)² — still
≤ ~141k through the exact path's n ≤ 3e9 integer-safety domain (see
_MAX_SLICE_ROWS). Slices are counted by a NUMPY bottom-up merge
(vectorized argsort + cumsum per level), so multi-million-row slices
cost seconds, not minutes. Intended for the FEW groups that exceed the
sequential bound (api._kendall routes each group by size).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..ordering import global_row_number, materialize

#: Fan-out reference: G and B grow as sqrt(total/this), which bounds the
#: driver-side contingency collect to ~total/this cells (ADVICE r05: a
#: LINEAR law made G·B quadratic — 16M cells per big group at n~1e9).
_TARGET_SLICE_ROWS = 250_000
#: Hard per-slice row cap: a block/bucket slice above this forces a
#: larger fan-out regardless of the sqrt law, so one applyInPandas task
#: never materializes more than ~this many (pos, y) pairs (~1 GB of
#: pandas worst case) no matter how large the counted total. The cap is
#: itself a linear law, so above its crossover with the sqrt law
#: (n ≈ 1.6e8) the contingency grows as (n/8M)² — within the EXACT
#: path's documented integer-safety domain (n ≤ 3e9, see
#: _counts_and_ties) that is ≤ 375² ≈ 141k cells, still driver-trivial;
#: the sqrt law's ~n/250k bound is the binding constraint below the
#: crossover. (Review r06: the old 4M cap crossed over at 6.4e7 and the
#: docstring overclaimed the sqrt bound as unconditional.)
_MAX_SLICE_ROWS = 8_000_000


def make_inversion_counter():
    """Strict-descent (inversion) counter as a NESTED function — pickled
    by value into applyInPandas workers (the make_extract_meta rule).

    Vectorized bottom-up merge counting (round 6; the pure-Python merge
    loop cost ~10 s per million rows — fine at the old 250k slices,
    hopeless at the sqrt-law slice sizes). Pad to a power of two with
    +inf (inf lands only in trailing blocks and never forms a strict
    descent: inf > inf and x > inf are both false), then one pass per
    level: a stable argsort of the (pairs, 2·width) row matrix keeps
    left-half elements ahead of equal right-half elements — exactly the
    strict-> counting rule — and for every right-half element the number
    of left-half elements sorted AFTER it (= its strictly-greater left
    partners) falls out of a cumulative sum. All integer math in int64;
    counts are exact, bit-identical to the sequential formulation."""

    def count_inversions(a) -> int:
        import numpy as np

        arr = np.asarray(a, dtype=np.float64)
        n = arr.size
        if n < 2:
            return 0
        p = 1 << (n - 1).bit_length()
        if p > n:
            arr = np.concatenate([arr, np.full(p - n, np.inf)])
        inv = 0
        width = 1
        while width < p:
            m = arr.reshape(-1, 2 * width)
            idx = np.argsort(m, axis=1, kind="stable")
            is_right = idx >= width
            # left-half elements not yet emitted at each merged position
            # = strictly-greater left partners of a right-half element
            left_after = width - np.cumsum(~is_right, axis=1)
            inv += int(left_after[is_right].sum())
            arr = np.take_along_axis(m, idx, axis=1).ravel()
            width *= 2
        return inv

    return count_inversions


def _counts_and_ties(
    data: DataFrame,
) -> tuple[
    dict[str | None, int],
    dict[str | None, tuple[int, float, float]],
    dict[str | None, tuple[int, float, float]],
    dict[str | None, tuple[int, float, float]],
]:
    """Per group: row count n plus the three tie-sum families
    (Σc(c−1), Σc(c−1)(2c+5), Σc(c−1)(c−2)) over the value-group sizes of
    x, y, and (x, y) — in ONE action.

    One full-data aggregation builds the pinned (grp, x, y, c) value
    table; the x/y/(x,y) polynomials and the group sizes are all derived
    from it (the derived shuffles carry only distinct values) and
    collected through a single tagged union, so the whole tie side costs
    one job instead of four (round-6 job-budget item).

    Overflow posture (ADVICE r05): the Σc(c−1) sum feeds the EXACT
    integer numerator, so it accumulates as decimal(38,0) — past the
    int64 boundary (n ~ 3e9) a long would wrap SILENTLY under non-ANSI
    semantics and corrupt tau; a decimal either holds the value (38
    digits ≫ any physical n²) or nulls, which is promoted to a loud
    ArithmeticError below. The other two sums feed only the float
    variance and accumulate as double."""
    base = materialize(
        data.groupBy("_grp", "_x", "_y").agg(F.count("*").alias("c"))
    )

    def polys(df: DataFrame, side: str) -> DataFrame:
        c = F.col("c")
        return df.groupBy("_grp").agg(
            F.sum(c.cast("decimal(38,0)") * (c - 1)).alias("t2"),
            F.sum((c * (c - 1)).cast("double") * (2 * c + 5)).alias("t25"),
            F.sum((c * (c - 1)).cast("double") * (c - 2)).alias("t3"),
            F.sum(c).alias("n"),
        ).withColumn("_side", F.lit(side))

    unioned = (
        polys(base.groupBy("_grp", "_x").agg(F.sum("c").alias("c")), "x")
        .unionByName(
            polys(base.groupBy("_grp", "_y").agg(F.sum("c").alias("c")), "y")
        )
        .unionByName(polys(base, "xy"))
    )
    rows = unioned.collect()
    ns: dict[str | None, int] = {}
    sides: dict[str, dict] = {"x": {}, "y": {}, "xy": {}}
    for r in rows:
        if r.t2 is None:
            raise ArithmeticError(
                f"kendall tie-sum overflow for group {r._grp!r} "
                "(decimal(38,0) nulled — input beyond any supported n)"
            )
        sides[r._side][r._grp] = (int(r.t2), float(r.t25 or 0.0), float(r.t3 or 0.0))
        if r._side == "xy":
            ns[r._grp] = int(r.n)
    return ns, sides["x"], sides["y"], sides["xy"]


def _assemble(
    n: int,
    tx: tuple[int, float, float],
    ty: tuple[int, float, float],
    t2xy: int,
    dis: int,
) -> tuple[float | None, float | None]:
    """(tau_b, ties-adjusted z) from the exact integer counts — the same
    algebra as api._make_tau_b, so the two paths agree to the last bit."""
    t2x, vtx, vtx3 = tx
    t2y, vty, vty3 = ty
    n0 = n * (n - 1) // 2
    n1, n2, n3 = t2x // 2, t2y // 2, t2xy // 2
    if n < 2 or n0 == n1 or n0 == n2:
        return None, None  # degenerate / constant variable
    s = n0 - n1 - n2 + n3 - 2 * dis
    tau = s / ((n0 - n1) * (n0 - n2)) ** 0.5
    var = (n * (n - 1) * (2 * n + 5) - vtx - vty) / 18.0
    if n > 2:
        var += (vtx3 * vty3) / (9.0 * n * (n - 1) * (n - 2))
    var += (float(t2x) * float(t2y)) / (2.0 * n * (n - 1))
    z = s / var**0.5 if var > 0 else None
    return tau, z


def kendall_tau_by_group(
    data: DataFrame, n_blocks: int = 64, n_buckets: int = 64
) -> dict[str | None, tuple[float | None, float | None, int]]:
    """Exact {group: (tau_b, z, n)} over columns ``_grp``, ``_x``, ``_y``.

    ``data`` must be pre-filtered to non-null, non-NaN doubles (the
    caller owns pairwise deletion, matching api._kendall); ``_grp`` is a
    nullable string (a NULL group is a group). Degenerate groups (n < 2
    or a constant variable) yield (None, None, n)."""
    ns, tx, ty, txy = _counts_and_ties(data)
    if not ns:
        return {}
    total = sum(ns.values())
    # sqrt fan-out law (module docstring): G·B stays ~total/250k cells,
    # and the hard slice cap keeps per-task pandas memory bounded even
    # when the sqrt law alone would let slices grow. Callers may still
    # force a larger fan-out (the tests drive tiny ones).
    sqrt_law = 1
    while sqrt_law * sqrt_law * _TARGET_SLICE_ROWS < total:
        sqrt_law += 1
    mem_law = -(-total // _MAX_SLICE_ROWS)
    n_blocks = max(n_blocks, sqrt_law, mem_law)
    n_buckets = max(n_buckets, sqrt_law, mem_law)

    numbered = global_row_number(
        data.select("_grp", "_x", "_y"),
        [F.col("_grp").asc(), F.col("_x").asc(), F.col("_y").asc()],
        alias="_pos",
    )
    blk = max(1, -(-total // n_blocks))
    # monotone y-bucketing shared by ALL groups (monotone for each, which
    # is all exactness needs); quantile boundaries only for BALANCE.
    # n_buckets <= 1 means ONE bucket (no boundaries — D1 is then 0 and
    # D3 degenerates to whole-sample counting; still exact, just
    # unbalanced — approxQuantile would reject an empty fraction list).
    # Low-cardinality y collapses duplicate boundaries, so a bucket can
    # be ONE y value — those buckets are excluded from the D3 shuffle
    # below (equal-y pairs are never discordant), which keeps e.g.
    # binary-y inputs from funneling n/2 rows into one task.
    fracs = [i / n_buckets for i in range(1, n_buckets)]
    # drop NON-FINITE quantile boundaries (review r06): a y column with
    # enough ±inf mass (ratios with zero denominators…) makes
    # approxQuantile return inf boundaries, which would collide with the
    # Bucketizer's own ±inf outer splits and crash on "splits not
    # strictly increasing". ±inf VALUES stay valid — they land in the
    # outermost buckets, and any monotone bucketing is exact.
    import math

    bounds = (
        sorted(
            {
                b
                for b in data.stat.approxQuantile("_y", fracs, 0.01)
                if math.isfinite(b)
            }
        )
        if fracs else []
    )
    nb = len(bounds) + 1
    # a position block may straddle a group boundary; every stage below
    # keys by (_grp, ...) so each cell is the intersection — exactly the
    # per-group decomposition (module docstring)
    cells = numbered.select(
        "_grp",
        "_pos",
        "_y",
        F.expr(f"CAST((_pos - 1) DIV {blk} AS INT)").alias("_blk"),
    )
    if bounds:
        # JVM-side binary search over the boundary array (Bucketizer).
        # ADVICE r05: the previous chained-F.when sum compiled a
        # B-term Catalyst expression — a ~4000-branch codegen fallback
        # at scale; the Bucketizer is O(log B) per row at any B. Its
        # bucket convention ([lo, hi) vs the old (lo, hi]) differs, but
        # ANY monotone bucketing is exact (module docstring).
        from pyspark.ml.feature import Bucketizer

        splits = [float("-inf")] + [float(b) for b in bounds] + [float("inf")]
        cells = (
            Bucketizer(splits=splits, inputCol="_y", outputCol="_bd")
            .transform(cells)
            .withColumn("_b", F.col("_bd").cast("int"))
            .drop("_bd")
        )
    else:
        cells = cells.withColumn("_b", F.lit(0))

    # three actions consume cells (contingency, then the unioned D2+D3
    # pass reads it twice) — pin it so the numbering join + bucket
    # projection run once (only the pinned ranged RDD below them is
    # otherwise reused)
    cells = materialize(cells)
    # Contingency collect: counts feed D1; per-cell min/max y ride the
    # SAME job so the single-valued-bucket probe (which buckets can be
    # skipped in the D3 shuffle) no longer costs its own pass — a bucket
    # holds ≥2 distinct y values iff min < max across its cells.
    cstats = cells.groupBy("_grp", "_blk", "_b").agg(
        F.count("*").alias("c"),
        F.min("_y").alias("mn"),
        F.max("_y").alias("mx"),
    ).collect()
    by_grp: dict[str | None, dict[int, dict[int, int]]] = {g: {} for g in ns}
    bmin: dict[int, float] = {}
    bmax: dict[int, float] = {}
    for r in cstats:
        by_grp.setdefault(r._grp, {}).setdefault(r._blk, {})[r._b] = r.c
        if r._b not in bmin or r.mn < bmin[r._b]:
            bmin[r._b] = r.mn
        if r._b not in bmax or r.mx > bmax[r._b]:
            bmax[r._b] = r.mx

    # D1 — cross-block cross-bucket, per group, from the contingency
    # matrix: iterate a group's blocks in position order; a row in block
    # g bucket b pairs discordantly with every EARLIER-block row of a
    # STRICTLY HIGHER bucket (higher bucket => strictly greater y).
    # Pre-grouped by_grp structure: the loop is O(total cells), not
    # O(groups · cells) (ADVICE r05).
    d1: dict[str | None, int] = {grp: 0 for grp in ns}
    for grp, blocks in by_grp.items():
        hist_prev = [0] * nb
        for g in sorted(blocks):
            row = blocks[g]
            suff = [0] * (nb + 1)
            for b in range(nb - 1, -1, -1):
                suff[b] = suff[b + 1] + hist_prev[b]
            for b, c in row.items():
                d1[grp] += c * suff[b + 1]
                hist_prev[b] += c
    inv = make_inversion_counter()

    def per_block(pdf):
        import pandas as _pd

        return _pd.DataFrame(
            {
                "_grp": [pdf["_grp"].iloc[0]],
                "d": [inv(pdf.sort_values("_pos")["_y"].to_numpy())],
            }
        )

    def per_bucket(pdf):
        import pandas as _pd

        s = pdf.sort_values("_pos")
        total_inv = inv(s["_y"].to_numpy())
        same = sum(
            inv(grp["_y"].to_numpy())
            for _, grp in s.groupby("_blk", sort=False)
        )
        return _pd.DataFrame(
            {"_grp": [pdf["_grp"].iloc[0]], "d": [total_inv - same]}
        )

    out_schema = "_grp string, d long"
    counted = cells.groupBy("_grp", "_blk").applyInPandas(
        per_block, out_schema
    )
    # D3 ships only buckets holding ≥2 DISTINCT y values: a single-value
    # bucket contributes zero inversions (equal-y pairs are never
    # discordant), and excluding it up front keeps a hot y value
    # (binary/categorical y) from funneling its whole mass into one task
    multi = [b for b in bmin if bmin[b] < bmax[b]]
    if multi:
        counted = counted.unionByName(
            cells.filter(F.col("_b").isin(multi))
            .groupBy("_grp", "_b")
            .applyInPandas(per_bucket, out_schema)
        )
    # ONE action for both pandas passes (round-6 job budget): the D2 and
    # D3 stages run inside a single unioned collect off the pinned
    # cells.
    d23: dict[str | None, int] = {grp: 0 for grp in ns}
    for r in counted.collect():
        d23[r._grp] += r.d

    out: dict[str | None, tuple[float | None, float | None, int]] = {}
    for grp, n in ns.items():
        zero = (0, 0.0, 0.0)
        tau, z = _assemble(
            n,
            tx.get(grp, zero),
            ty.get(grp, zero),
            txy.get(grp, zero)[0],
            d1[grp] + d23[grp],
        )
        out[grp] = (tau, z, n)
    return out


def kendall_tau_distributed(
    data: DataFrame, n_blocks: int = 64, n_buckets: int = 64
) -> tuple[float | None, float | None, int]:
    """Ungrouped convenience wrapper: exact (tau_b, z, n) over columns
    ``_x``, ``_y`` — one constant group through kendall_tau_by_group."""
    grouped = kendall_tau_by_group(
        data.select(F.lit("_all").alias("_grp"), "_x", "_y"),
        n_blocks,
        n_buckets,
    )
    if not grouped:
        return None, None, 0
    return grouped["_all"]
