"""Vector math over ``array<float>`` embedding columns.

All arithmetic happens in **double** after an explicit element cast, folded
left-to-right with ``aggregate`` — sequential accumulation in index order,
which the DuckDB oracle mirrors with ``list_reduce`` so dot products are
bit-identical across engines (see SURVEY.md §6). No UDFs: these are
codegen'd JVM expressions, the scale path for 100 TB of embeddings.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Sequential-order dot product in double precision."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine_similarity(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


# --- codegen-able expression variants -------------------------------------
#
# Spark evaluates higher-order functions (aggregate/zip_with) as
# INTERPRETED expressions — outside whole-stage codegen. On a pair join
# that computes 12.5M cosines at sf0.1 that interpretation cost measured
# ~40x slower than the same arithmetic as a flat expression tree. The
# *_expr variants emit the unrolled sum as ONE generated-SQL F.expr
# (single parse; py4j-cheap), which codegen compiles like hand-written
# Java. Fold order is the same left-assoc + chain as the DuckDB oracle's
# list_reduce, so hash parity is preserved. Terms past the array length
# read NULL via get() and fold to 0.0, so shorter vectors still work.


def _dot_sql(a: str, b: str, dim: int) -> str:
    return " + ".join(
        f"coalesce(CAST(get(`{a}`, {i}) AS DOUBLE) * CAST(get(`{b}`, {i}) AS DOUBLE), 0.0D)"
        for i in range(dim)
    )


def dot_expr(a: str, b: str, dim: int) -> Column:
    """Unrolled sequential-order dot product of two named array columns."""
    return F.expr(f"({_dot_sql(a, b, dim)})")


def l2_norm_expr(a: str, dim: int) -> Column:
    return F.expr(f"sqrt({_dot_sql(a, a, dim)})")

