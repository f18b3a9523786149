"""The engine's public functions the benchmark calls, and the small amount
of storage plumbing around them that the engine leaves to its callers
(task-result files, anchor rows for new uploads)."""

from __future__ import annotations

import datetime as dt
import functools
import os
from collections import Counter, defaultdict

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from connexion2k12_extending_the_axeda_domain_model_simple_batch_processing_framework_spark import (
    queries,
)
from connexion2k12_extending_the_axeda_domain_model_simple_batch_processing_framework_spark.domain import (  # noqa: F401
    BATCH_ANCHOR_SCHEMA,
    STATE_NOT_STARTED,
    TABLES,
)
from connexion2k12_extending_the_axeda_domain_model_simple_batch_processing_framework_spark.functions import (  # noqa: F401
    dfcache,
)
from connexion2k12_extending_the_axeda_domain_model_simple_batch_processing_framework_spark.operators.analyze import (  # noqa: F401
    analyze_batch,
    validate_tasks,
)
from connexion2k12_extending_the_axeda_domain_model_simple_batch_processing_framework_spark.operators.lifecycle import (  # noqa: F401
    batch_errors,
    batch_status,
    finalize_batches,
    igniter_pick,
    list_batches,
    mark_in_process,
)
from connexion2k12_extending_the_axeda_domain_model_simple_batch_processing_framework_spark.operators.process import (  # noqa: F401
    process_tasks,
)
from connexion2k12_extending_the_axeda_domain_model_simple_batch_processing_framework_spark.session import (  # noqa: F401
    get_spark,
)
from connexion2k12_extending_the_axeda_domain_model_simple_batch_processing_framework_spark.sources import (  # noqa: F401
    config,
)
from connexion2k12_extending_the_axeda_domain_model_simple_batch_processing_framework_spark.sources.csv_tasks import (
    read_task_file,
)
from connexion2k12_extending_the_axeda_domain_model_simple_batch_processing_framework_spark.sources.sinks import (  # noqa: F401
    finalization_notifications,
    read_anchor_store,
    write_anchor_store,
    write_batch_report_csv,
)
from connexion2k12_extending_the_axeda_domain_model_simple_batch_processing_framework_spark.streaming.batch_stream import (  # noqa: F401
    TASK_EVENT_SCHEMA,
    batch_lifecycle_stream,
)

from .gen import COMMA_REASON, FORM_REASON

ANCHOR_COLS = [f.name for f in BATCH_ANCHOR_SCHEMA.fields]
#: a live task-result row: the stream's event plus the failure reason
RESULT_EVENT_SCHEMA = T.StructType(
    TASK_EVENT_SCHEMA.fields + [T.StructField("reason", T.StringType(), True)]
)


def read_uploads(spark, tr, batches):
    """CreateBatch's read: one ``read_task_file`` per uploaded file, unioned."""
    frames = [
        tr.df("sources.csv_tasks.read_task_file", read_task_file, spark, b.path, batch_id=b.batch_id)
        for b in batches
    ]
    tr.add("sources.csv_tasks.read_task_file.files", len(frames))
    return functools.reduce(DataFrame.unionByName, frames)


def history_anchors(spark, sf_dir: str):
    """The archived anchor table, mapped from orders by the engine."""
    return queries._batches(spark, sf_dir)


def history_results(spark, sf_dir: str):
    """The archived task results, mapped from lineitem by the engine."""
    return queries._task_results(spark, sf_dir)


def has_email(batch_id: int) -> bool:
    """Every other upload asks for a completion email."""
    return batch_id % 2 == 0


def new_anchors(spark, rows):
    """CreateBatch: NOT_STARTED anchors for ``(batch_id, size, inception
    epoch seconds)`` tuples."""
    return spark.createDataFrame(
        [
            (
                bid,
                f"upload-{bid}",
                STATE_NOT_STARTED,
                dt.datetime.fromtimestamp(t, dt.timezone.utc).replace(tzinfo=None),
                None,
                size,
                f"owner{bid}@example.com" if has_email(bid) else None,
            )
            for bid, size, t in rows
        ],
        BATCH_ANCHOR_SCHEMA,
    )


def terminal_anchors(finalized):
    """Finalized anchors with their terminal state and completion time,
    keeping the counts the notifications quote."""
    return finalized.withColumn("state", F.col("final_state")).withColumn(
        "completion_time", F.current_timestamp()
    )


def write_terminal(tr, terminal, path: str, mode: str) -> None:
    tr.act(
        "sources.sinks.write_anchor_store",
        write_anchor_store,
        terminal.select(*ANCHOR_COLS),
        path,
        mode,
    )
    if tr.enabled:
        files = [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")]
        tr.add("sources.sinks.write_anchor_store.files", len(files))
        tr.add("sources.sinks.write_anchor_store.bytes", sum(os.path.getsize(f) for f in files))


def write_results(results, path: str, mode: str = "overwrite") -> None:
    results.write.mode(mode).parquet(path)


def read_results(spark, path: str):
    return spark.read.parquet(path)


def task_outcomes(spark, path: str) -> tuple[dict, dict]:
    """Per batch, the number of successful task results and
    {task_number: reason} of the failed ones."""
    oks: dict = defaultdict(int)
    errs: dict = defaultdict(dict)
    for r in read_results(spark, path).select("batch_id", "task_number", "ok", "reason").collect():
        if r.ok:
            oks[r.batch_id] += 1
        else:
            errs[r.batch_id][r.task_number] = r.reason
    return oks, errs


def check_reasons(spark, tr, upload) -> set:
    """Batches whose invalid lines are not split by reason as generated."""
    tasks = read_uploads(spark, tr, upload.batches)
    got: dict = defaultdict(Counter)
    for r in validate_tasks(tasks).filter(~F.col("valid")).groupBy("batch_id", "reason").count().collect():
        got[r.batch_id][r.reason] = r["count"]
    bad = set()
    for b in upload.batches:
        expect = Counter({COMMA_REASON: b.invalid_comma, FORM_REASON: b.invalid_form})
        if +got[b.batch_id] != +expect:
            bad.add(b.batch_id)
    return bad
