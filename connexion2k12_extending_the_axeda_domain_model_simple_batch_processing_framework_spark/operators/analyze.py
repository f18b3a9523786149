"""Task validation — parity with AnalyzeBatch.groovy.

The reference visits each line serially and records an error when a line has
more than MAXIMUM_COMMAS commas or fails the task regex
(AnalyzeBatch.groovy:140-151 ``analyzeTasks``). The regex is three field
caps joined by commas, so the rule here is stated once as those caps: a line
is valid when it has at most MAXIMUM_COMMAS commas and each of its three
fields matches its own cap. Validation is a single narrow projection over
the task table: pure JVM-side column expressions (no UDFs), so whole-stage
codegen keeps the scan→filter→project pipeline in one stage regardless of
scale. Error rows are a filter, not a driver loop.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..domain import (
    ASSET_NAME_MAX,
    MAXIMUM_COMMAS,
    MAXIMUM_TASK_COUNT,
    MODEL_NAME_MAX,
    SERIAL_MAX,
)


def comma_count(col: Column) -> Column:
    """Number of commas in a line (reference: ``task.count(/,/)``)."""
    return F.length(col) - F.length(F.regexp_replace(col, ",", ""))


def validate_tasks(tasks: DataFrame, line_col: str = "raw_line") -> DataFrame:
    r"""Annotate each task with validity + the reference's error reasons.

    Returns the input plus ``n_commas``, ``valid``, ``reason`` and ``field``
    columns. The task regex (AnalyzeBatch.groovy:89) is three field caps —
    model 1-100 word chars, serial/asset 1-200 word chars or dashes — so a
    line is valid when it has at most MAXIMUM_COMMAS commas and each field
    of ``split(line, ",")`` matches its cap; a missing field (or a NULL
    line) fails its own cap. The caps end in ``\z``, not ``$``: Java's
    ``$`` also matches before a final line terminator (``\r``, U+0085,
    U+2028, ...), which RE2 (the DuckDB oracle) and the reference's
    whole-string match both reject.

    Reason strings mirror AnalyzeBatch.groovy error ids 1031; ``field``
    names the first field violating its cap, which is what a user
    debugging a rejected upload needs. ``field`` is NULL for valid lines
    and for the line-level comma error (no single field to blame).
    """
    line = F.col(line_col)
    caps = [
        ("model_name", rf"^\w{{1,{MODEL_NAME_MAX}}}\z"),
        ("serial_number", rf"^[\w-]{{1,{SERIAL_MAX}}}\z"),
        ("asset_name", rf"^[\w-]{{1,{ASSET_NAME_MAX}}}\z"),
    ]
    too_many = F.col("n_commas") > MAXIMUM_COMMAS
    # F.get returns NULL past the end (unlike ANSI element_at, which
    # throws); coalesce turns that NULL into a failed cap.
    field = F.when(too_many, F.lit(None).cast("string"))
    for i, (name, pattern) in enumerate(caps):
        ok = F.coalesce(F.get("_parts", i).rlike(pattern), F.lit(False))
        field = field.when(~ok, F.lit(name))
    reason = F.when(
        too_many,
        F.lit(
            "Task contains too many ',' (comma) characters. "
            f"Maximum allowed is ({MAXIMUM_COMMAS})."
        ),
    ).when(F.col("field").isNotNull(), F.lit("Task has invalid form."))
    out = ["n_commas", "valid", "reason", "field"]
    # _parts and field get their own projections so that each row is split
    # once and each cap runs once: Spark does not inline a projection whose
    # non-trivial columns are read more than once. Inlined, the caps would
    # run in both field and reason: 1.5x the validation time on 400k lines
    # (local[4]).
    return (
        tasks.withColumn("n_commas", comma_count(line))
        .withColumn("_parts", F.split(line, ",", -1))
        .withColumn("field", field)
        .withColumn("valid", reason.isNull())
        .withColumn("reason", reason)
        .select(*[c for c in tasks.columns if c not in out], *out)
    )


def analyze_batch(tasks: DataFrame, batch_col: str = "batch_id") -> DataFrame:
    """Per-batch analysis summary — AnalyzeBatch's success contract
    (``{"result": {"taskCount": N}}``) plus the oversize check
    (error 1030 when taskCount > MAXIMUM_TASK_COUNT).

    One hash-aggregate with map-side partial aggregation; at 100 TB this is
    a single shuffle on batch_id.
    """
    validated = validate_tasks(tasks)
    return validated.groupBy(batch_col).agg(
        F.count(F.lit(1)).alias("task_count"),
        F.sum(F.when(~F.col("valid"), 1).otherwise(0)).alias("invalid_count"),
        (F.count(F.lit(1)) > MAXIMUM_TASK_COUNT).alias("exceeds_maximum"),
    )
