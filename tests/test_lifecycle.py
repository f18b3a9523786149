"""Batch lifecycle contracts: GetBatch / GetBatches (fauxPaginate) /
GetBatchErrors / BatchIgniter / BatchFinalizer / DeleteBatch parity."""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from datetime import datetime

from pyspark.sql import functions as F

from connexion2k12_extending_the_axeda_domain_model_simple_batch_processing_framework_spark.domain import (
    STATE_COMPLETE_WITH_ERROR,
    STATE_IN_PROCESS,
    STATE_NOT_STARTED,
    STATE_SUCCESS,
)
from connexion2k12_extending_the_axeda_domain_model_simple_batch_processing_framework_spark.operators import (
    lifecycle,
)


def _batches(spark):
    rows = [
        (1, STATE_NOT_STARTED, datetime(2020, 1, 3)),
        (2, STATE_NOT_STARTED, datetime(2020, 1, 1)),
        (3, STATE_IN_PROCESS, datetime(2020, 1, 2)),
        (4, STATE_SUCCESS, datetime(2020, 1, 4)),
        (5, STATE_NOT_STARTED, datetime(2020, 1, 1)),
    ]
    return spark.createDataFrame(
        rows, "batch_id long, state string, inception_time timestamp"
    )


def _results(spark):
    rows = [
        (1, 1, True, None),
        (1, 2, False, "boom"),
        (1, 3, False, "bang"),
        (3, 1, True, None),
    ]
    return spark.createDataFrame(
        rows, "batch_id long, task_number long, ok boolean, reason string"
    )


def test_batch_status_counts_and_zero_fill(spark):
    out = {
        r.batch_id: r
        for r in lifecycle.batch_status(_batches(spark), _results(spark)).collect()
    }
    assert out[1].completed_count == 3
    assert out[1].success_count == 1
    assert out[1].error_count == 2
    # batches with no results keep the anchor row with zeroed counts
    assert out[4].completed_count == 0 and out[4].error_count == 0


def test_list_batches_state_filter_and_order(spark):
    rows = lifecycle.list_batches(_batches(spark), state=STATE_NOT_STARTED, page_size=10).collect()
    assert [r.batch_id for r in rows] == [1, 2, 5]


def test_list_batches_pagination_slices(spark):
    p1 = lifecycle.list_batches(_batches(spark), page_number=1, page_size=2).collect()
    p2 = lifecycle.list_batches(_batches(spark), page_number=2, page_size=2).collect()
    p3 = lifecycle.list_batches(_batches(spark), page_number=3, page_size=2).collect()
    assert [r.batch_id for r in p1] == [1, 2]
    assert [r.batch_id for r in p2] == [3, 4]
    assert [r.batch_id for r in p3] == [5]  # partial last page


def test_list_batches_clamps_nonpositive_page_args(spark):
    # fauxPaginate clamps page<=0 and pageSize<=0 to 1 (GetBatches.groovy)
    rows = lifecycle.list_batches(_batches(spark), page_number=0, page_size=-3).collect()
    assert [r.batch_id for r in rows] == [1]


def test_list_batches_past_end_is_empty(spark):
    assert lifecycle.list_batches(_batches(spark), page_number=99, page_size=10).count() == 0


def test_batch_errors_groups_reasons(spark):
    rows = lifecycle.batch_errors(_results(spark)).collect()
    by_task = {(r.batch_id, r.task_number): r for r in rows}
    assert set(by_task) == {(1, 2), (1, 3)}
    assert by_task[(1, 2)].error_count == 1
    assert by_task[(1, 2)].reasons == "boom"


def test_igniter_pick_oldest_first_with_id_tiebreak(spark):
    rows = lifecycle.igniter_pick(_batches(spark), pool_size=2).collect()
    # two NOT_STARTED share 2020-01-01; id ascending breaks the tie
    assert [r.batch_id for r in rows] == [2, 5]


def test_igniter_pick_only_not_started(spark):
    rows = lifecycle.igniter_pick(_batches(spark), pool_size=10).collect()
    assert {r.batch_id for r in rows} == {1, 2, 5}


def test_finalizer_state_machine(spark):
    batches = _batches(spark).withColumn(
        "size",
        F.when(F.col("batch_id") == 1, F.lit(3))
        .when(F.col("batch_id") == 3, F.lit(2))
        .otherwise(F.lit(1)),
    )
    out = {r.batch_id: r for r in lifecycle.finalize_batches(batches, _results(spark)).collect()}
    # batch 1: complete (3/3) with 2 errors → COMPLETE_WITH_ERROR
    assert out[1].final_state == STATE_COMPLETE_WITH_ERROR
    # batch 3: 1/2 done → keeps its current state
    assert out[3].final_state == STATE_IN_PROCESS
    # a complete batch with zero errors → SUCCESS
    ok_results = spark.createDataFrame(
        [(4, 1, True, None)], "batch_id long, task_number long, ok boolean, reason string"
    )
    out4 = {r.batch_id: r for r in lifecycle.finalize_batches(batches, ok_results).collect()}
    assert out4[4].final_state == STATE_SUCCESS


def test_delete_batches_state_guard(spark):
    # ask to delete 1 (NOT_STARTED → goes) and 3 (IN_PROCESS → guarded)
    criteria = spark.createDataFrame([(1,), (3,)], "batch_id long")
    survivors = {r.batch_id for r in lifecycle.delete_batches(_batches(spark), criteria).collect()}
    assert survivors == {2, 3, 4, 5}


def test_mark_in_process_transitions_only_not_started(spark):
    ignited = spark.createDataFrame([(1,), (4,)], "batch_id long")
    out = {r.batch_id: r.state for r in lifecycle.mark_in_process(_batches(spark), ignited).collect()}
    assert out[1] == STATE_IN_PROCESS  # NOT_STARTED → IN_PROCESS
    assert out[4] == STATE_SUCCESS  # terminal state untouched
    assert out[2] == STATE_NOT_STARTED  # not ignited → unchanged


def test_list_batches_include_total(spark):
    from pyspark.sql import functions as F

    batches = spark.createDataFrame(
        [(i, "NOT_STARTED" if i % 2 == 0 else "SUCCESS") for i in range(1, 21)],
        "batch_id long, state string",
    )
    page = lifecycle.list_batches(
        batches, state="NOT_STARTED", page_number=2, page_size=3, include_total=True
    ).collect()
    # 10 NOT_STARTED rows total; page 2 of size 3 = ids 8, 10, 12
    assert [r.batch_id for r in page] == [8, 10, 12]
    assert all(r.total_results == 10 for r in page)
    assert all(r.page_number == 2 and r.page_size == 3 for r in page)


def test_delete_batches_rejected_codes(spark):
    batches = spark.createDataFrame(
        [(1, "NOT_STARTED"), (2, "IN_PROCESS"), (3, "SUCCESS")],
        "batch_id long, state string",
    )
    criteria = spark.createDataFrame([(1,), (2,), (3,), (99,)], "batch_id long")
    rejected = {
        r.batch_id: (r.error_code, r.message)
        for r in lifecycle.delete_batches_rejected(batches, criteria).collect()
    }
    assert set(rejected) == {2, 3, 99}  # 1 is deletable, not rejected
    assert rejected[2][0] == "1020" and "'IN_PROCESS'" in rejected[2][1]
    assert rejected[3][0] == "1020" and "'SUCCESS'" in rejected[3][1]
    assert rejected[99][0] == "1002" and "ID = '99'" in rejected[99][1]
    # survivors from the companion operator exclude only the deletable id
    survivors = {r.batch_id for r in lifecycle.delete_batches(batches, criteria).collect()}
    assert survivors == {2, 3}


def test_list_batches_pages_match_python_slice_across_partitions(spark):
    batches = spark.range(1, 2000, numPartitions=7).select(
        F.col("id").alias("batch_id"),
        F.when(F.col("id") % 3 == 0, F.lit(STATE_NOT_STARTED))
        .otherwise(F.lit(STATE_SUCCESS))
        .alias("state"),
    )
    ids = {
        None: list(range(1, 2000)),
        STATE_NOT_STARTED: list(range(3, 2000, 3)),
        STATE_IN_PROCESS: [],  # no row has this state
    }
    size = 25
    cases = []
    for state, want in ids.items():
        last = max(-(-len(want) // size), 1)
        pages = {(p, size) for p in (1, 3, 50, last, last + 1)} | {(0, -3)}
        cases += [(state, *page, total) for page in sorted(pages) for total in (False, True)]

    def check(case):
        state, page_number, page_size, include_total = case
        page = lifecycle.list_batches(
            batches,
            state=state,
            page_number=page_number,
            page_size=page_size,
            include_total=include_total,
        )
        rows = page.collect()
        p, n = max(page_number, 1), max(page_size, 1)
        assert [r.batch_id for r in rows] == ids[state][(p - 1) * n : p * n], case
        if include_total:
            assert all(r.total_results == len(ids[state]) for r in rows), case
        assert "Window" not in page._jdf.queryExecution().executedPlan().toString(), case

    # the 34 small jobs run 4 at a time to keep the test short
    with ThreadPoolExecutor(4) as pool:
        list(pool.map(check, cases))
