"""Engine-exact HALF_UP rounding of exact-integer ratios.

``F.round(int_a / int_b, k)`` on a double quotient is midpoint-exposed:
a/b is a small-denominator rational that DOES land exactly on (k+1)-th
decimal midpoints, where Spark's HALF_UP BigDecimal round of the
double's shortest decimal repr and DuckDB's C-double round disagree by
1 ulp of the k-th decimal (the r11 driver gate failed ``cohort_ltv`` on
exactly this: 4/1845 rows at sf0.01). The fix is the integer identity

    round_half_up(a/b, k) = floor((2*a*10^k + b) / (2*b)) / 10^k

for non-negative integer a and positive integer b, evaluated entirely in
exact integer arithmetic (DECIMAL(38,0) / HUGEINT) so both engines
produce the identical value — no double ever carries the unrounded
quotient.

``iround_ratio`` builds the Spark Column (pure JVM expressions: the
integral divide is (x - pmod(x, y)) / y, whose decimal division is exact
because y divides x - pmod(x, y)). The DuckDB side writes the same
identity with ``//`` over HUGEINT operands.

Headroom: 2*a*10^k must stay inside 38 digits — a <= ~5*10^(31-k).
Every converted call site documents its magnitude argument.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "iround_ratio",
    "iround_ratio_signed",
]


def iround_ratio(num: Column, den: Column, k: int) -> Column:
    """round(num/den, k) with HALF_UP midpoints, engine-exact.

    ``num`` must be a non-negative exact integer column, ``den`` a
    positive exact integer column (cast yours first if they carry a
    decimal scale). Returns DOUBLE.
    """
    a = num.cast("decimal(38,0)") * F.lit(2 * 10**k) + den.cast("decimal(38,0)")
    b = den.cast("decimal(38,0)") * F.lit(2)
    q = (a - F.pmod(a, b)) / b  # exact: b divides a - pmod(a, b)
    return (q.cast("double") / float(10**k)).alias(f"iround{k}")


def iround_ratio_signed(num: Column, den: Column, k: int) -> Column:
    """round(num/den, k) for a SIGNED exact-integer numerator (den still
    positive): HALF_AWAY_FROM_ZERO midpoints, matching both Spark's
    BigDecimal HALF_UP-on-negatives and DuckDB/C round conventions —
    sign(num) * iround_ratio(|num|, den, k)."""
    sgn = F.when(num < 0, F.lit(-1.0)).otherwise(F.lit(1.0))
    return sgn * iround_ratio(F.abs(num), den, k)
