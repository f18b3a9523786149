"""Sinks: anchor-store writes, report exports, finalization notifications.

The reference persists batch state as extended objects on the Axeda platform
(CreateBatch.groovy createBatchAnchor / ProcessBatch.groovy anchor writes)
and notifies by email from the Finalizer (BatchFinalizer.groovy sendEmail).
Here the durable store is partitioned parquet — partitioning the anchor
table by ``state`` makes every state-filtered read (GetBatches' state
parameter, the Igniter's NOT_STARTED scan, the Finalizer's IN_PROCESS scan)
a partition-pruned scan that touches none of the other states' files, which
is the difference between scanning 4 directories and 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_anchor_store(anchors: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Persist batch anchors partitioned by lifecycle state.

    Layout: ``{path}/state=NOT_STARTED/...`` etc. Readers filtering on
    ``state`` (every reference service does) get partition pruning for free.
    """
    anchors.write.mode(mode).partitionBy("state").parquet(path)


def read_anchor_store(spark, path: str) -> DataFrame:
    return spark.read.parquet(path)


def write_batch_report_csv(report: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Export a batch listing/report as headered CSV — the tabular answer
    shape GetBatches.groovy returns to callers."""
    report.write.mode(mode).option("header", "true").csv(path)


def finalization_notifications(finalized: DataFrame) -> DataFrame:
    """Notification rows for finalized batches.

    Parity: BatchFinalizer.groovy's email step — subject carries the batch
    name and terminal state, the body the success/error counts. Transport is
    a separate concern (``send_email``); producing the notification set is a
    distributed projection like any other.

    Expects columns: batch_id, name, state, success_count, error_count,
    notify_email. Batches without a notify_email are dropped (the reference
    only emails when one was supplied at CreateBatch time).
    """
    return finalized.filter(
        F.col("notify_email").isNotNull() & (F.col("notify_email") != "")
    ).select(
        "batch_id",
        "notify_email",
        F.concat(
            F.lit("Batch \""), F.col("name"), F.lit("\" finished: "), F.col("state")
        ).alias("subject"),
        F.concat(
            F.lit("succeeded="),
            F.col("success_count").cast("string"),
            F.lit(" failed="),
            F.col("error_count").cast("string"),
        ).alias("body"),
    )


def write_compacted(
    df: DataFrame, path: str, target_mb: int = 256, fmt: str = "parquet"
) -> int:
    """Write ``df`` with output files sized toward ``target_mb``.

    Small-file proliferation is the classic large-pipeline failure mode
    (every downstream scan pays per-file open cost; a 100 TB table written
    at 1 MB/file is 100M files). File count comes from Catalyst's
    size-in-bytes estimate of the plan — no extra data pass, no collect —
    and a round-robin repartition balances rows across exactly that many
    files. Returns the partition count used.
    """
    est_bytes = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    n = max(1, min(est_bytes // (target_mb * 2**20) + 1, 1_000_000))
    df.repartition(n).write.mode("overwrite").format(fmt).save(path)
    return n


def send_email(notifications: DataFrame) -> None:
    """Email transport stub.

    The container has no SMTP relay; a deployment wires this to
    ``notifications.foreachPartition`` over an SMTP/SES client. Kept as an
    explicit stub (not a silent no-op) so callers cannot mistake it for a
    working transport.
    """
    raise NotImplementedError(
        "email transport is deployment-specific; consume "
        "finalization_notifications() with foreachPartition + an SMTP client"
    )


EXPORT_SHARDS = 16


def export_jsonl(
    df: DataFrame,
    path: str,
    n_shards: int = EXPORT_SHARDS,
    mode: str = "overwrite",
) -> None:
    """Export the finished training corpus as sharded JSONL — the format
    most training loaders consume (one JSON object per line, directory
    per shard).

    Shard assignment is the deterministic md5 of ``doc_id``
    (``sampling.hash_bucket`` — one placement rule engine-wide), and rows
    sort by ``doc_id`` within each shard, so a retried job writes
    byte-identical shards (membership AND order; shuffle-fetch order
    alone is run-dependent). One shuffle on the shard key; each output
    directory is one shard: ``{path}/export_shard=NN/part-*.txt`` (a
    name no input column uses — and not underscore-prefixed, which
    readers would skip as metadata). Null fields serialize explicitly so
    the roundtrip schema is lossless. ``n_shards`` plays the role of a
    target file size at 100 TB (shards ≈ data / loader-chunk-size); at
    that scale this writer and ``write_compacted`` compose: compact,
    then export.
    """
    from ..operators.sampling import hash_bucket

    line = F.to_json(
        F.struct(*df.columns), {"ignoreNullFields": "false"}
    ).alias("line")
    shard = hash_bucket(F.col("doc_id"), n_shards).cast("int").alias("export_shard")
    (
        df.select(shard, F.col("doc_id").alias("__order"), line)
        .repartition(n_shards, "export_shard")
        .sortWithinPartitions("export_shard", "__order")
        .drop("__order")
        .write.mode(mode)
        .partitionBy("export_shard")
        .text(path)
    )


def read_jsonl_export(spark, path: str) -> DataFrame:
    """Read a corpus export back (schema inferred from the JSON lines;
    the shard partition column rides along)."""
    return spark.read.json(path)


def export_sorted(
    df: DataFrame,
    path: str,
    order_col: str = "doc_id",
    n_shards: int = EXPORT_SHARDS,
    mode: str = "overwrite",
) -> None:
    """Globally-ORDERED sharded export — the curriculum/training-order
    materialization: every row of shard i precedes every row of shard
    i+1, and rows inside each shard are sorted, so a loader that reads
    shards in id order streams the corpus in one total order.

    The 100 TB shape: ``repartitionByRange`` builds balanced range bounds
    by SAMPLING the order column (one skew-aware shuffle), then each
    partition sorts locally — a total order with no single-task global
    sort anywhere. Shard boundaries come out of the partition ids of the
    range exchange, so the manifest invariant (max of shard i ≤ min of
    shard i+1) holds by construction; the reader verifies it cheaply from
    parquet footer min/max instead of trusting the writer
    (tests/test_sinks_skew.py).
    """
    out = (
        df.repartitionByRange(n_shards, F.col(order_col))
        .sortWithinPartitions(order_col)
        .withColumn("export_shard", F.spark_partition_id())
    )
    out.write.mode(mode).partitionBy("export_shard").parquet(path)


def sorted_export_manifest(spark, path: str) -> DataFrame:
    """Per-shard manifest of a ``export_sorted`` directory: (export_shard,
    n_rows, min_order, max_order) — what a training loader uses to seek
    into the total order without opening every shard."""
    df = spark.read.parquet(path)
    return (
        df.groupBy("export_shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("doc_id").alias("min_order"),
            F.max("doc_id").alias("max_order"),
        )
        .orderBy("export_shard")
    )
