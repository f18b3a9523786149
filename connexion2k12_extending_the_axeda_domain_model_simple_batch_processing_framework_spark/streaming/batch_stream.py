"""Structured Streaming batch lifecycle.

The reference drives its state machine with two cron jobs polling the
platform: BatchIgniter starts NOT_STARTED batches and BatchFinalizer
(internal/BatchFinalizer.groovy:63-113) scans IN_PROCESS batches until
``successCount + errorCount == size``, then stamps completionTime and the
final SUCCESS / COMPLETE_WITH_ERROR state. Polling a store is how you do it
on a single JVM; on Spark the same contract is a *stateful streaming
operator*: task-outcome events flow in, per-batch counters live in the state
store (checkpointed, partitioned by batch_id across executors), and a batch
emits exactly one finalization row the moment its counts reach its size.

Scale story: state is hash-partitioned on batch_id, so a million concurrent
batches spread across the cluster; each micro-batch touches only the state
of batches present in it.
"""

from __future__ import annotations

from collections.abc import Iterable
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..domain import STATE_COMPLETE_WITH_ERROR, STATE_IN_PROCESS, STATE_SUCCESS

#: one task-outcome event; ``batch_size`` rides along with every event (the
#: reference stores size on the batch anchor at CreateBatch time — a stream
#: producer denormalizes it so the operator needs no side join).
TASK_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("batch_id", T.LongType(), False),
        T.StructField("task_number", T.LongType(), False),
        T.StructField("ok", T.BooleanType(), False),
        T.StructField("batch_size", T.LongType(), False),
        T.StructField("event_time", T.TimestampType(), False),
    ]
)

#: emitted once per batch state transition (IN_PROCESS on first event,
#: SUCCESS / COMPLETE_WITH_ERROR on completion).
LIFECYCLE_SCHEMA = T.StructType(
    [
        T.StructField("batch_id", T.LongType(), False),
        T.StructField("state", T.StringType(), False),
        T.StructField("size", T.LongType(), False),
        T.StructField("success_count", T.LongType(), False),
        T.StructField("error_count", T.LongType(), False),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("size", T.LongType(), False),
        T.StructField("n_success", T.LongType(), False),
        T.StructField("n_error", T.LongType(), False),
        T.StructField("started", T.BooleanType(), False),
    ]
)


def _finalize_group(
    key: tuple[Any, ...], pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    """Per-batch counter update; emits transition rows.

    Mirrors BatchFinalizer.groovy's completion predicate
    (``successCount + errorCount == size``) and ProcessBatch.groovy's
    markBatchInProgress (first task seen ⇒ IN_PROCESS).
    """
    (batch_id,) = key
    if state.exists:
        size, n_success, n_error, started = state.get
    else:
        size, n_success, n_error, started = 0, 0, 0, False

    out = []
    for pdf in pdfs:
        if pdf.empty:
            continue
        size = int(pdf["batch_size"].iloc[0])
        n_success += int(pdf["ok"].sum())
        n_error += int((~pdf["ok"]).sum())
        if not started:
            started = True
            out.append((batch_id, STATE_IN_PROCESS, size, 0, 0))

    done = started and size > 0 and (n_success + n_error) >= size
    if done:
        final = STATE_SUCCESS if n_error == 0 else STATE_COMPLETE_WITH_ERROR
        out.append((batch_id, final, size, n_success, n_error))
        # completed batches leave the store — the reference's Finalizer
        # likewise deletes task data after finalization.
        state.remove()
    else:
        state.update((size, n_success, n_error, started))

    if out:
        yield pd.DataFrame(
            out, columns=["batch_id", "state", "size", "success_count", "error_count"]
        )


def batch_lifecycle_stream(task_events: DataFrame) -> DataFrame:
    """Streaming finalizer: task-outcome events → batch state transitions.

    Input must be a streaming DataFrame in TASK_EVENT_SCHEMA shape. Output
    streams one IN_PROCESS row when a batch's first outcome arrives and one
    terminal row when its counters reach ``batch_size``.
    """
    return task_events.groupBy("batch_id").applyInPandasWithState(
        _finalize_group,
        outputStructType=LIFECYCLE_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
