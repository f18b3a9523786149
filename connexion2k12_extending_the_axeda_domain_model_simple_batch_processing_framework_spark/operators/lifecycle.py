"""Batch lifecycle operators — GetBatch / GetBatches / GetBatchErrors /
BatchIgniter / BatchFinalizer / DeleteBatch parity, as distributed plans.

The reference keeps mutable state on anchor objects and polls with cron
timers; here every lifecycle fact is *derived* from the batches + task
results tables with one aggregation, which is how you run the same logic
over a million batches on a cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..domain import (
    STATE_COMPLETE_WITH_ERROR,
    STATE_IN_PROCESS,
    STATE_NOT_STARTED,
    STATE_SUCCESS,
)


def batch_status(batches: DataFrame, results: DataFrame, batch_key: str = "batch_id") -> DataFrame:
    """GetBatch.groovy response shape: per-batch completed/success/error
    counts joined to the anchor row.

    results must carry (batch_id, ok). A single shuffle on batch_id for the
    aggregation, then a broadcast-able join when the batch table is small or
    a co-partitioned shuffle join otherwise — both sides keyed identically
    so AQE can pick.
    """
    counts = results.groupBy(batch_key).agg(
        F.count(F.lit(1)).alias("completed_count"),
        F.sum(F.when(F.col("ok"), 1).otherwise(0)).alias("success_count"),
        F.sum(F.when(~F.col("ok"), 1).otherwise(0)).alias("error_count"),
    )
    return (
        batches.join(counts, batch_key, "left")
        .fillna(0, ["completed_count", "success_count", "error_count"])
    )


def list_batches(
    batches: DataFrame,
    state: str | None = None,
    page_number: int = 1,
    page_size: int = 10,
    id_col: str = "batch_id",
    state_col: str = "state",
    include_total: bool = False,
) -> DataFrame:
    """GetBatches.groovy: optional state filter, sort by id ascending, then
    fauxPaginate (GetBatches.groovy:178-188: page/pageSize slicing, with
    page<=0 and pageSize<=0 clamped to 1).

    The page is ORDER BY id, OFFSET (page-1)*pageSize, LIMIT pageSize, which
    Spark plans as one TakeOrderedAndProject(limit, offset): each partition
    keeps its local top page*pageSize rows and one merge of those drops the
    offset — no window, no full global sort materialization.

    With ``include_total`` the pageInfo contract
    (GetBatches.groovy:194 createPageInfo — pageNumber/pageSize/
    totalResults) rides along as constant columns: the total is a count
    aggregate over the same filtered scan, attached with a broadcast cross
    join of its single row — the count leg shares the pushed-down state
    filter, so the scan cost is one extra pass, no extra shuffle.
    """
    page_number = page_number if page_number > 0 else 1
    page_size = page_size if page_size > 0 else 1
    if state is not None:
        batches = batches.filter(F.col(state_col) == state)
    page = (
        batches.orderBy(F.col(id_col).asc())
        .offset((page_number - 1) * page_size)
        .limit(page_size)
    )
    if include_total:
        total = batches.agg(F.count(F.lit(1)).cast("long").alias("total_results"))
        page = (
            page.crossJoin(F.broadcast(total))
            .withColumn("page_number", F.lit(page_number).cast("long"))
            .withColumn("page_size", F.lit(page_size).cast("long"))
        )
    return page


def batch_errors(
    results: DataFrame, batch_key: str = "batch_id", task_col: str = "task_number"
) -> DataFrame:
    """GetBatchErrors.groovy response: per failed task, errorCount and the
    reason list. Reasons are emitted as a deterministically sorted
    comma-joined string so distributed collect order can't leak into
    results."""
    return (
        results.filter(~F.col("ok"))
        .groupBy(batch_key, task_col)
        .agg(
            F.count(F.lit(1)).alias("error_count"),
            F.array_join(F.array_sort(F.collect_list("reason")), "; ").alias("reasons"),
        )
    )


def igniter_pick(
    batches: DataFrame,
    pool_size: int,
    state_col: str = "state",
    inception_col: str = "inception_time",
    id_col: str = "batch_id",
) -> DataFrame:
    """BatchIgniter.groovy: take the ``pool_size`` oldest NOT_STARTED batches
    ordered by inceptionTime (id as tiebreak for determinism).

    TakeOrderedAndProject: each partition keeps its local top-K, the driver
    merges K*partitions rows — no global sort even at a billion batches.
    """
    return (
        batches.filter(F.col(state_col) == STATE_NOT_STARTED)
        .orderBy(F.col(inception_col).asc(), F.col(id_col).asc())
        .limit(pool_size)
    )


def finalize_batches(
    batches: DataFrame,
    results: DataFrame,
    batch_key: str = "batch_id",
    size_col: str = "size",
) -> DataFrame:
    """BatchFinalizer.groovy: a batch is complete when completed==size;
    final state is SUCCESS with zero errors else COMPLETE_WITH_ERROR
    (markBatchSuccess / markBatchCompleteWithErrors). Incomplete batches
    keep their current state.

    Returns the anchor table with derived ``final_state`` and counts.
    """
    status = batch_status(batches, results, batch_key)
    complete = F.col("completed_count") >= F.col(size_col)
    return status.withColumn(
        "final_state",
        F.when(complete & (F.col("error_count") == 0), F.lit(STATE_SUCCESS))
        .when(complete, F.lit(STATE_COMPLETE_WITH_ERROR))
        .otherwise(F.col("state")),
    )


def delete_batches(
    batches: DataFrame,
    criteria_ids: DataFrame,
    id_col: str = "batch_id",
    state_col: str = "state",
) -> DataFrame:
    """DeleteBatch.groovy: only NOT_STARTED batches may be deleted; returns
    the surviving anchor table. Deletable set = criteria ∩ NOT_STARTED,
    removed via LEFT ANTI join (criteria side broadcast when small)."""
    deletable = criteria_ids.join(
        batches.filter(F.col(state_col) == STATE_NOT_STARTED).select(id_col),
        id_col,
        "inner",
    )
    return batches.join(F.broadcast(deletable), id_col, "left_anti")


def delete_batches_rejected(
    batches: DataFrame,
    criteria_ids: DataFrame,
    id_col: str = "batch_id",
    state_col: str = "state",
) -> DataFrame:
    """DeleteBatch.groovy error contract: per requested id that was NOT
    deleted, the error code + message — 1020 when the batch exists in a
    non-NOT_STARTED state (DeleteBatch.groovy:113), 1002 when no batch with
    that id exists (DeleteBatch.groovy:116). Companion to
    ``delete_batches`` (which returns the survivors): a left join of the
    criteria against the anchor table, filtered to the rejections."""
    anchor = batches.select(F.col(id_col), F.col(state_col).alias("_state"))
    return (
        criteria_ids.select(id_col)
        .join(anchor, id_col, "left")
        .filter(F.col("_state").isNull() | (F.col("_state") != STATE_NOT_STARTED))
        .select(
            id_col,
            F.when(F.col("_state").isNull(), F.lit("1002"))
            .otherwise(F.lit("1020"))
            .alias("error_code"),
            F.when(
                F.col("_state").isNull(),
                F.concat(
                    F.lit("Unable to delete batch because the batch with ID = '"),
                    F.col(id_col).cast("string"),
                    F.lit("' could not be found."),
                ),
            )
            .otherwise(
                F.concat(
                    F.lit(
                        "Unable to delete batch because the batch is an "
                        "unacceptable state for deletion: '"
                    ),
                    F.col("_state"),
                    F.lit("'."),
                )
            )
            .alias("message"),
        )
    )


def mark_in_process(batches: DataFrame, ignited_ids: DataFrame, id_col: str = "batch_id") -> DataFrame:
    """ProcessBatch.groovy markBatchInProgress, set-based: batches whose id
    appears in ignited_ids move NOT_STARTED → IN_PROCESS."""
    flagged = ignited_ids.select(F.col(id_col), F.lit(True).alias("_ignite"))
    return (
        batches.join(F.broadcast(flagged), id_col, "left")
        .withColumn(
            "state",
            F.when(
                F.col("_ignite").isNotNull() & (F.col("state") == STATE_NOT_STARTED),
                F.lit(STATE_IN_PROCESS),
            ).otherwise(F.col("state")),
        )
        .drop("_ignite")
    )
