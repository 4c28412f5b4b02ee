"""Cross-engine numeric determinism helpers.

Money columns in the testdata are true 2-decimal values stored as doubles;
their pairwise products have ≤4 (or ≤6 with tax) true decimals. Scaling
the per-row double by 10^scale and rounding to the nearest integer
recovers the exact unscaled decimal value on both Spark and DuckDB (the
binary error ~1e-12 is far below the 0.5-ulp boundary, so `rint` equals
the DECIMAL cast), after which SUM is exact integer arithmetic —
independent of partitioning, shuffle, and summation order. Casting the
exact decimal result back to double is also deterministic.

This is why the engine's aggregates hash-match a single-threaded DuckDB
run even at 32-way (or 1000-way) parallelism: no floating-point
order-dependence survives in any reported aggregate. NEVER round a double
whose true decimal count exceeds the rounding scale — Spark (BigDecimal
HALF_UP on the shortest repr) and DuckDB (scaled binary rounding) disagree
on exact .xx5 boundaries.

Oracle-side equivalents (DuckDB SQL):
    sum:  CAST(SUM(CAST(x AS DECIMAL(18,4))) AS DOUBLE)
    avg:  CAST(SUM(CAST(x AS DECIMAL(18,4))) AS DOUBLE) / COUNT(x)

Integer lanes: the unscaled value u = rint(x * 10^scale) is a bigint, and
the group sum runs on two long lanes, hi = floor(u / 2^20) (an arithmetic
shift) and lo = pmod(u, 2^20), recombined once per group as
decimal(38, scale) = (sum(hi) * 2^20 + sum(lo)) / 10^scale. Bounds: a
row's |u| must fit int64 (|x| < ~9.2e14 at scale 4); the lo lane
overflows past 2^43 (~8.8e12) rows per group and the hi lane once the
group's |sum(u)| passes 2^83 (~9.7e24 unscaled units). Spark's sum and
bigint cast raise on overflow under ANSI (the session default), so an
out-of-range input fails the query; it never wraps into a wrong sum.

Cost note (q01 on a 4-vCPU VM, local[4], min of warm noop runs): with a
per-row double -> decimal(18,s) cast feeding a decimal sum, q01 took
1.23 s at sf0.1 and 2.58 s on the 10x replica; on the integer lanes it
takes 0.29 s and 0.57 s, with identical results.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import Column
from pyspark.sql import functions as F


_LANE_BITS = 20


def exact_sum(expr: Column, scale: int = 4) -> Column:
    """Exact decimal(38, `scale`) sum of a ≤`scale`-decimal expression,
    accumulated on two bigint lanes (see module docstring)."""
    u = F.rint(expr * F.lit(10**scale)).cast("bigint")
    hi = F.sum(F.shiftright(u, _LANE_BITS))
    lo = F.sum(F.pmod(u, F.lit(1 << _LANE_BITS)))
    unscaled = hi.cast("decimal(38,0)") * F.lit(1 << _LANE_BITS) + lo
    return (
        unscaled * F.lit(Decimal(1).scaleb(-scale))
    ).cast(f"decimal(38,{scale})")


def dsum(expr: Column, scale: int = 4) -> Column:
    """Order-independent exact sum of a ≤`scale`-decimal money expression."""
    return exact_sum(expr, scale).cast("double")


def davg(expr: Column, scale: int = 4) -> Column:
    """Deterministic mean: exact decimal sum, then one double division."""
    return dsum(expr, scale) / F.count(expr)
