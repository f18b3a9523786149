"""CSV task-file source.

Parity: CreateBatch.groovy request contract — an uploaded CSV where each line
is ``ModelName,SerialNumber,AssetName[,Properties,AssetGroup]``. The
reference numbers lines as it streams the upload through a
``LineNumberReader`` (AnalyzeBatch.groovy:101-107). Here each upload is
read whole, as one row, by one task, and numbered in that same task: the
scan has no shuffle, window, join or broadcast. Many uploads still read in
parallel, one file per task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: the line terminators Hadoop's line reader splits on
_LINE_SEP = r"\r\n|\r|\n"


def read_task_file(spark: SparkSession, path: str, batch_id: int = 1) -> DataFrame:
    """Read a raw CSV task upload into the TASK_SCHEMA shape.

    Line numbers are 1-based within each file, like the reference's
    LineNumberReader loop (AnalyzeBatch.groovy ``tasks.eachLine { task,
    lineNumber -> ... }`` — one uploaded file per batch). ``path`` may be
    one file or a directory of them; numbering restarts in each file.

    One whole-file scan per upload: ``wholetext`` yields one row per
    file, which is split into lines and ``posexplode``-d, so a file's
    lines are numbered by the one task that read it. Lines end at CRLF,
    lone CR or LF, and a trailing terminator does not start an empty last
    line, as with ``spark.read.text``'s line mode. A file must fit in one
    row (about 2 GB), thousands of times the reference's 1,000-task cap
    per batch.
    """
    files = spark.read.text(path, wholetext=True)
    lines = F.split(F.col("value"), _LINE_SEP, -1)
    lines = F.when(
        F.element_at(lines, -1) == "", F.slice(lines, 1, F.size(lines) - 1)
    ).otherwise(lines)
    numbered = files.select(F.posexplode(lines).alias("_pos", "raw_line")).select(
        (F.col("_pos") + 1).alias("task_number"), "raw_line"
    )
    return parse_task_lines(numbered, batch_id=batch_id)


def parse_task_lines(df: DataFrame, batch_id: int = 1, line_col: str = "raw_line") -> DataFrame:
    """Split raw task lines into typed fields.

    Only the first three comma-separated fields are addressed (``F.get``
    returns NULL past the end for short lines); any trailing
    property/group segments remain visible in ``raw_line``. Matches
    ProcessBatch.groovy's ``task.split(/,/)`` destructuring.
    """
    parts = F.split(F.col(line_col), ",")
    return df.select(
        F.lit(batch_id).cast("long").alias("batch_id"),
        F.col("task_number").cast("long").alias("task_number"),
        F.col(line_col).alias("raw_line"),
        F.get(parts, 0).alias("model_name"),
        F.get(parts, 1).alias("serial_number"),
        F.get(parts, 2).alias("asset_name"),
    )
