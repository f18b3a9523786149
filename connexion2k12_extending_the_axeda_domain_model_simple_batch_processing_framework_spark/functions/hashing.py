"""Deterministic, cross-engine hash expressions.

Spark's native ``xxhash64``/``hash`` have no DuckDB equivalent, so operators
whose results must be oracle-verifiable use md5-derived integers instead:
``conv(substr(md5(s), 1, 15), 16, 10)`` in Spark equals
``('0x' || substr(md5(s), 1, 15))::BIGINT`` in DuckDB — a uniform 60-bit
value. md5 is computed JVM-side per row. Every hash in the engine is
md5-derived (SimHash token hashes, MinHash seeds, LSH plane signs) so each
signature family stays oracle-verifiable end to end.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: modulus for polynomial hashes — large prime < 2^31 so that
#: ``acc * 131 + hash % POLY_MOD`` stays far below 2^63 (no overflow
#: divergence).
POLY_MOD = 1_000_000_007


def hex_hash64(col: Column, seed: int | Column | None = None) -> Column:
    """60-bit integer hash from the md5 hex prefix; seedable.

    DuckDB twin: ``('0x' || substr(md5(s || '#' || seed), 1, 15))::BIGINT``.
    """
    if seed is not None:
        seed_col = F.lit(seed) if isinstance(seed, int) else seed
        col = F.concat(col, F.lit("#"), seed_col.cast("string"))
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def hex_hash64_sql(expr_sql: str, seed: int | None = None) -> str:
    """Spark-SQL text twin of :func:`hex_hash64` for ``F.expr`` call sites.

    Building one seeded hash via the Column API costs ~8 py4j round trips;
    loops of them (k-min signatures, per-bit SimHash sums, CMS rows)
    measured seconds of driver-side time PER QUERY on a slow py4j link.
    Emitting the expression as ONE SQL string is a single parse on the JVM
    — the parsed tree (and therefore every value produced) is identical to
    the Column-API form; the optimizer constant-folds the literal seed
    concat the same way.
    """
    inner = expr_sql if seed is None else f"concat({expr_sql}, '#', '{seed}')"
    return f"CAST(conv(substring(md5({inner}), 1, 15), 16, 10) AS BIGINT)"
