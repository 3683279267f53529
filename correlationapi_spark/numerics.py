"""Cross-engine float determinism helpers.

The correctness gate hash-compares Spark results with a DuckDB oracle, so
every float column must be bit-identical across two engines that sum in
different orders and implement ``round`` differently (Spark: BigDecimal
HALF_UP on the double's exact expansion; DuckDB: scaled-multiply). Three
rules, derived from the fixtures being 2-decimal money values
(FIXTURES.md "Cross-engine notes"):

1. **Sum of a single 2 dp column** → ``round(sum(x), 2)``. The true sum
   lies ON the 0.01 grid (cell center), accumulation error ~1e-5 ≪ the
   0.005 boundary distance, so both engines round identically.

2. **Sum of a product of two 2 dp columns** (revenue-style) → exact
   integer *cents* arithmetic. The product grid is 1e-4, whose points can
   sit exactly ON the 2 dp rounding boundary (x.xx5), where the engines'
   round() semantics diverge. Instead: scale each operand to an exact
   int64, multiply, sum (exact), divide once at the end. Both engines
   perform identical IEEE operations → identical bits, no rounding needed.

3. **Averages / correlations / other multi-step floats** → round to a
   precision whose cell width is ≥10⁶× the accumulated error (6 dp for
   corr in [-1,1], 4–6 dp for avgs).

At 100 TB the int64 cents sum can overflow (~6e20 > 2^63 for the full
revenue sum of ~6e11 rows); the helpers therefore sum through
``decimal(38,0)`` in Spark, which is exact and overflow-safe at any
realistic scale (DuckDB's BIGINT sum already widens to int128).

4. **Integer aggregates in ORACLES** (round 7, after the r6
   ``q_pack_chunks`` driver hash-FAIL): **no HUGEINT or DECIMAL may
   reach an oracle output projection.** DuckDB widens ``sum(BIGINT)``
   (plain or windowed) to HUGEINT, which pandas materializes as
   float64; the driver's value-hash is type-sensitive, so float64
   ``32.0`` fails against Spark's int64 ``32`` even with identical
   values. Any integer aggregate that is itself an output column — or
   feeds one through arithmetic — must be wrapped
   ``CAST(... AS BIGINT)`` in the oracle SQL. The type-strict local
   comparator (``testing._canon_cell`` class tags +
   ``compare_frames`` dtype-parity) enforces this across the whole
   registry; ``tools/check.py`` fails any key that drifts.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def cents(col: Column | str, scale: int = 100) -> Column:
    """Exact integer scaling of a known-2dp double column."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * scale, 0).cast("long")


def revenue_cents(price: str = "l_extendedprice", discount: str = "l_discount") -> Column:
    """price*(1-discount) in exact 1e-4 dollar units (int64 per row)."""
    return cents(price) * (100 - cents(discount))


def exact_money_sum(unit_expr: Column, denom: float) -> Column:
    """Exact integer sum / denom — bit-identical across engines.

    ``unit_expr`` must be an exact integer column; the sum runs through
    decimal(38,0) (exact, overflow-safe), is cast to double (exact below
    2^53) and divided once (IEEE, deterministic).
    """
    return F.sum(unit_expr.cast("decimal(38,0)")).cast("double") / F.lit(denom)


def oracle_revenue_sum(
    price: str = "l_extendedprice", discount: str = "l_discount"
) -> str:
    """DuckDB SQL fragment mirroring exact_money_sum(revenue_cents())."""
    return (
        f"CAST(sum(CAST(round({price}*100) AS BIGINT) * "
        f"(100 - CAST(round({discount}*100) AS BIGINT))) AS DOUBLE) / 10000.0"
    )


def money_sum(col: str | Column) -> Column:
    """Spark side of rule 1."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(F.sum(c), 2)
