"""Structured Streaming batch lifecycle (SURVEY §2 #10).

Replays task-outcome events through a file-source stream in availableNow
micro-batches and asserts the stateful finalizer emits the reference's state
transitions (BatchFinalizer.groovy:63-113 semantics)."""

from __future__ import annotations

import json

from connexion2k12_extending_the_axeda_domain_model_simple_batch_processing_framework_spark.domain import (
    STATE_COMPLETE_WITH_ERROR,
    STATE_IN_PROCESS,
    STATE_SUCCESS,
)
from connexion2k12_extending_the_axeda_domain_model_simple_batch_processing_framework_spark.streaming import (
    batch_stream,
)


def _write_events(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _ev(batch_id, task, ok, size, ts):
    return {
        "batch_id": batch_id,
        "task_number": task,
        "ok": ok,
        "batch_size": size,
        "event_time": ts,
    }


def _run_to_memory(stream_df, tmp_path, name):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_lifecycle_stream_finalizes_batches(spark, tmp_path):
    src = tmp_path / "events"
    src.mkdir()
    # batch 1: 2 tasks, all ok  -> SUCCESS
    # batch 2: 3 tasks, 1 error -> COMPLETE_WITH_ERROR
    # batch 3: size 2 but only 1 event arrives -> stays IN_PROCESS (no terminal row)
    _write_events(
        src / "f0.json",
        [
            _ev(1, 1, True, 2, "2026-01-01T10:00:00"),
            _ev(2, 1, True, 3, "2026-01-01T10:00:10"),
            _ev(3, 1, True, 2, "2026-01-01T10:00:20"),
        ],
    )
    _write_events(
        src / "f1.json",
        [
            _ev(1, 2, True, 2, "2026-01-01T10:01:00"),
            _ev(2, 2, False, 3, "2026-01-01T10:01:10"),
            _ev(2, 3, True, 3, "2026-01-01T10:01:20"),
        ],
    )
    events = (
        spark.readStream.schema(batch_stream.TASK_EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    out = batch_stream.batch_lifecycle_stream(events)
    _run_to_memory(out, tmp_path, "lifecycle")

    rows = spark.sql("select * from lifecycle").collect()
    by_batch = {}
    for r in rows:
        by_batch.setdefault(r.batch_id, []).append(r)

    assert [r.state for r in by_batch[1]] == [STATE_IN_PROCESS, STATE_SUCCESS]
    final1 = by_batch[1][-1]
    assert (final1.success_count, final1.error_count, final1.size) == (2, 0, 2)

    assert [r.state for r in by_batch[2]] == [STATE_IN_PROCESS, STATE_COMPLETE_WITH_ERROR]
    final2 = by_batch[2][-1]
    assert (final2.success_count, final2.error_count) == (2, 1)

    # batch 3 never completed: IN_PROCESS only
    assert [r.state for r in by_batch[3]] == [STATE_IN_PROCESS]


def test_lifecycle_stream_single_microbatch_completion(spark, tmp_path):
    src = tmp_path / "events1"
    src.mkdir()
    _write_events(
        src / "all.json",
        [_ev(7, i, i != 2, 3, f"2026-01-01T10:00:0{i}") for i in (1, 2, 3)],
    )
    events = (
        spark.readStream.schema(batch_stream.TASK_EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 10)
        .json(str(src))
    )
    out = batch_stream.batch_lifecycle_stream(events)
    _run_to_memory(out, tmp_path, "lifecycle1")
    rows = sorted(
        spark.sql("select * from lifecycle1").collect(), key=lambda r: r.state
    )
    # both the IN_PROCESS and terminal rows emitted from one micro-batch
    assert [r.state for r in rows] == [STATE_COMPLETE_WITH_ERROR, STATE_IN_PROCESS]
    assert (rows[0].success_count, rows[0].error_count) == (2, 1)
