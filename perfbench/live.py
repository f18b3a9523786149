"""``live_batches``: small uploads arrive open-loop at a fixed rate while
users poll batch status. One driver thread runs a lifecycle tick every
PERIOD seconds, each followed by POLLS_PER_TICK status reads (a fixed,
seeded sequence of GetBatch, GetBatches and GetBatchErrors on the archive
and on the batches already finalized):

tick = BatchIgniter (``igniter_pick`` with K = pool size over the
NOT_STARTED anchors, ``mark_in_process``), ProcessBatch for the picked
uploads (``read_task_file``, ``validate_tasks``, ``process_tasks``, task
results appended to the results store), the streaming finalizer advanced
with ``processAllAvailable()``, BatchFinalizer (``finalize_batches``) and
the terminal anchors appended to the anchor store, where they become
readable.

A batch's turnaround runs from its scheduled arrival to the end of the
store write that made its terminal state readable. Arrival and tick times
are fixed, so it moves with how long the ticks take, and with the reads
when one delays a tick's start.
"""

from __future__ import annotations

import shutil
import time

from pyspark.sql import Window
from pyspark.sql import functions as F

from . import engine as E
from .gen import make_history, make_upload, shuffled_sizes
from .polls import LIVE_BASE, MIX, Poller, Stores

#: open-loop arrival rate (batches/s), about 60% of the POOL / PERIOD the
#: schedule can pick up, and upload sizes (lines per batch), shuffled by the
#: seed in blocks of ten
RATE = 0.35
LINES = [5, 9, 13, 17, 21, 25, 29, 33, 37, 40]
#: BatchIgniter pool size: the reference's default
POOL = E.config.DEFAULTS["igniter_thread_pool_size"]
#: the lifecycle schedule: a tick starts every PERIOD seconds. The
#: reference runs BatchIgniter every 5 minutes; compressed here so that a
#: run sees more than one tick
PERIOD = 9.0
#: status reads after each tick: one round of the read mix, so every run
#: reads the same kinds
POLLS_PER_TICK = len(MIX)
#: status reads on the archive before the run: one round of the read mix
WARM_POLLS = len(MIX)
#: the streaming finalizer's trigger interval
TRIGGER = "250 milliseconds"
#: the archive the reads run against: sf0.1 orders/lineitem
HIST_BATCHES, HIST_RESULTS = 150_000, 600_000
#: warm-up: one tick over this many uploads, all due at once
WARM_UPLOADS = 4


class Lifecycle:
    """The batch lifecycle over one set of uploads."""

    def __init__(self, spark, tr, upload, existing, work: str, result, stores: Stores):
        self.spark, self.tr, self.result, self.stores = spark, tr, result, stores
        self.batches = {b.batch_id: b for b in upload.batches}
        self.order = sorted(self.batches)
        self.existing = existing
        self.anchors, self.results = stores.anchors, stores.results
        self.pending: dict = {}  # batch_id -> due time
        self.arrived = 0
        self.done: dict = {}  # batch_id -> readable time
        self.lag: list = []
        self.backlog_max = 0
        self.transitions: list = []
        self.query = (
            E.batch_lifecycle_stream(
                spark.readStream.schema(E.TASK_EVENT_SCHEMA).parquet(self.results)
            )
            .writeStream.foreachBatch(lambda df, _id: self.transitions.extend(df.collect()))
            .option("checkpointLocation", f"{work}/checkpoint")
            # an idle trigger lists the source directory; at the default
            # (back-to-back micro-batches) it would do so every 10 ms
            .trigger(processingTime=TRIGGER)
            .start()
        )

    def stop(self) -> None:
        self.query.stop()

    def arrive(self, due: list) -> None:
        """CreateBatch for every upload whose scheduled arrival time (``due``,
        in id order) has passed: a NOT_STARTED anchor, stamped with it."""
        now = time.perf_counter()
        while self.arrived < len(due) and due[self.arrived] <= now:
            self.pending[self.order[self.arrived]] = due[self.arrived]
            self.lag.append(now - due[self.arrived])
            self.arrived += 1
        self.backlog_max = max(self.backlog_max, len(self.pending))

    def tick(self) -> None:
        """One scheduled run of the igniter, processing and finalizer."""
        tr, spark = self.tr, self.spark
        if not self.pending:
            return
        pending = E.new_anchors(spark, [(bid, None, t) for bid, t in self.pending.items()])
        picked = [r.batch_id for r in tr.df("operators.lifecycle.igniter_pick", E.igniter_pick, pending, POOL).collect()]
        ids = spark.createDataFrame([(b,) for b in picked], "batch_id long")
        marked = tr.df("operators.lifecycle.mark_in_process", E.mark_in_process, pending, ids)

        tasks = E.read_uploads(spark, tr, [self.batches[b] for b in picked])
        validated = tr.df("operators.analyze.validate_tasks", E.validate_tasks, tasks)
        valid = validated.filter(F.col("valid")).select(
            "batch_id", "task_number", "raw_line", "model_name", "serial_number", "asset_name"
        )
        results = tr.df("operators.process.process_tasks", E.process_tasks, valid, self.existing)
        # the anchor size is the batch's valid task count: every valid task
        # of a picked upload is processed in this tick
        events = results.withColumn(
            "batch_size", F.count(F.lit(1)).over(Window.partitionBy("batch_id"))
        ).withColumn("event_time", F.current_timestamp())
        tr.act("perfbench.results_store", E.write_results, events, self.results, "append")
        tr.act("streaming.batch_stream.batch_lifecycle_stream", self.query.processAllAvailable)

        stored = E.read_results(spark, self.results).filter(F.col("batch_id").isin(picked))
        sizes = stored.groupBy("batch_id").agg(F.first("batch_size").alias("size"))
        in_process = marked.filter(F.col("state") == "IN_PROCESS").drop("size").join(sizes, "batch_id")
        finalized = tr.df("operators.lifecycle.finalize_batches", E.finalize_batches, in_process, stored)
        E.write_terminal(tr, E.terminal_anchors(finalized), self.anchors, "append")
        readable = time.perf_counter()
        for bid in picked:
            self.pending.pop(bid)
            self.done[bid] = readable
            self.stores.readable.append(bid)

    def check(self) -> None:
        """Every terminal anchor in the store, and every terminal transition
        the stream emitted, against the ground truth; one operation per
        batch that arrived."""
        stored = {
            r.batch_id: (r.state, r.size)
            for r in E.read_anchor_store(self.spark, self.anchors).collect()
        }
        oks, errs = E.task_outcomes(self.spark, self.results)
        streamed = {
            r.batch_id: (r.state, r.size, r.success_count, r.error_count)
            for r in self.transitions
            if r.state in ("SUCCESS", "COMPLETE_WITH_ERROR")
        }
        for bid in self.order[: self.arrived]:
            b = self.batches[bid]
            checks = [
                ("anchor", stored.get(bid), (b.state, b.size)),
                ("stream", streamed.get(bid), (b.state, b.size, b.success, b.errors)),
                ("successes", oks.get(bid, 0), b.success),
                ("errors", errs.get(bid, {}), b.error_tasks),
            ]
            err = next((f"batch {bid} {w}: got {h!r}, expected {x!r}" for w, h, x in checks if h != x), None)
            self.result.ops(1, int(err is not None), err)
            size = stored.get(bid, (None, 0))[1] or 0
            self.result.count("lines", b.lines)
            self.result.count("invalid_lines", b.lines - size)
            self.result.count("processed", oks.get(bid, 0) + len(errs.get(bid, {})))
            self.result.count("dup_errors", len(errs.get(bid, {})))


def _simulate(spark, tr, args, result, upload, existing, stores, work, seconds, rate, traced_every, record):
    """Uploads arrive at ``rate`` for ``seconds``; a tick starts every
    PERIOD seconds and is followed by POLLS_PER_TICK status reads, until
    every upload that arrived is terminal."""
    shutil.rmtree(work, ignore_errors=True)
    stores.anchors, stores.results = f"{work}/anchors", f"{work}/results"
    # the stream's file source needs its directory before the first write
    E.write_results(spark.createDataFrame([], E.RESULT_EVENT_SCHEMA), stores.results)
    life = Lifecycle(spark, tr, upload, existing, work, result, stores)
    poller = Poller(spark, tr, args.seed + 17, stores)
    start = time.perf_counter()
    end = start + seconds
    due = [t for t in (start + i / rate for i in range(len(upload.batches))) if t < end]
    k = 0
    try:
        # users keep polling until the last of their batches is terminal
        while k == 0 or time.perf_counter() < end or len(life.done) < len(due):
            # a tick that overran its period starts the next one late
            time.sleep(max(0.0, start + k * PERIOD - time.perf_counter()))
            traced = traced_every and k % 2 == 1
            life.arrive(due)
            with tr.unit("tick" if k else "first_tick", traced):
                life.tick()
            for _ in range(POLLS_PER_TICK):
                poller.run(1, result, traced, record)
                life.arrive(due)
            k += 1
    finally:
        life.stop()
    if record:
        life.check()
        for b, t in zip(life.order, due):
            result.sample("turnaround_s", life.done[b] - t)
        result.count("backlog_max", life.backlog_max)
        result.count("generator_lag_s", max(life.lag))
    result.units = k


def run(spark, tr, args, work: str, result) -> None:
    hist = make_history(args.seed, f"{work}/hist", HIST_BATCHES, HIST_RESULTS)
    n_live = int(RATE * args.seconds) + 1
    sizes = shuffled_sizes(args.seed, LINES * (n_live // len(LINES) + 1), len(LINES))[:n_live]
    upload = make_upload(args.seed, f"{work}/upload", sizes, first_id=LIVE_BASE, oversize=False, cross_batch=False)
    warm = make_upload(args.seed + 7919, f"{work}/warm_upload", LINES[:: len(LINES) // WARM_UPLOADS][:WARM_UPLOADS],
                       first_id=LIVE_BASE, oversize=False, cross_batch=False)
    upload.write_existing(f"{work}/existing.parquet")
    warm.write_existing(f"{work}/warm_existing.parquet")

    warm_stores = Stores(None, None, None, {b.batch_id: b for b in warm.batches})
    _simulate(spark, tr, args, result, warm, spark.read.parquet(f"{work}/warm_existing.parquet"),
              warm_stores, f"{work}/warm_run", 0.01, 1e9, False, False)

    stores = Stores(hist, None, None, {b.batch_id: b for b in upload.batches})
    # the archive is the store users have been reading all along
    Poller(spark, tr, args.seed + 1, stores).run(WARM_POLLS, result, record=False)
    result.setup_done()
    _simulate(spark, tr, args, result, upload, spark.read.parquet(f"{work}/existing.parquet"),
              stores, f"{work}/run", args.seconds, RATE, bool(args.trace), True)
