"""``bulk_ingest``: one large upload of many CSV task files, one per batch,
taken through CreateBatch → AnalyzeBatch → ProcessBatch → BatchFinalizer
and written to the anchor store, then polled by its owners.

One pass is the whole upload; a run repeats passes until its time is up
and reports medians over passes.
"""

from __future__ import annotations

import shutil
import time

from pyspark.sql import functions as F

from . import engine as E
from .gen import make_upload, shuffled_sizes
from .polls import Poller, Stores

#: upload shape: lines per batch, in an order the seed shuffles, plus one
#: oversize batch of 1,100 lines
SIZES = [300 + 138 * i for i in range(6)]
#: warm-up upload: as many batches, a tenth of the lines, and an oversize
#: one, ingested WARM_PASSES times
WARM_SIZES = [s // 10 for s in SIZES]
WARM_PASSES = 1
MIN_PASSES = 2
#: batch ids of pass n start at n * PASS_IDS (an even number: the same
#: batches ask for completion emails in every pass)
PASS_IDS = 1000
#: status reads issued after each pass
POLLS_PER_PASS = 4


def _ingest(spark, tr, upload, existing, out: str):
    """Run one upload through the engine; returns the analysis rows."""
    tasks = E.read_uploads(spark, tr, upload.batches)
    analysis = tr.df("operators.analyze.analyze_batch", E.analyze_batch, tasks).collect()
    accepted = [r.batch_id for r in analysis if not r.exceeds_maximum]
    validated = tr.df("operators.analyze.validate_tasks", E.validate_tasks, tasks)
    valid = validated.filter(F.col("valid") & F.col("batch_id").isin(accepted)).select(
        "batch_id", "task_number", "raw_line", "model_name", "serial_number", "asset_name"
    )
    results = tr.df("operators.process.process_tasks", E.process_tasks, valid, existing)
    tr.act("perfbench.results_store", E.write_results, results, f"{out}/results")
    sizes = {r.batch_id: r.task_count - r.invalid_count for r in analysis}
    anchors = E.new_anchors(spark, [(bid, sizes[bid], time.time()) for bid in accepted])
    stored = E.read_results(spark, f"{out}/results")
    finalized = tr.df("operators.lifecycle.finalize_batches", E.finalize_batches, anchors, stored)
    terminal = E.terminal_anchors(finalized)
    notes = tr.df("sources.sinks.finalization_notifications", E.finalization_notifications, terminal)
    E.write_terminal(tr, terminal, f"{out}/anchors", "overwrite")
    tr.act("sources.sinks.write_batch_report_csv", E.write_batch_report_csv, notes, f"{out}/notifications")
    return analysis


def _check(spark, upload, analysis, out: str, result) -> dict:
    """Compare one pass's outputs with the ground truth; returns
    {batch_id: what is wrong} for the batches whose outcome is wrong."""
    bad: dict = {}
    got = {r.batch_id: (r.task_count, r.invalid_count, bool(r.exceeds_maximum)) for r in analysis}
    anchors = {r.batch_id: r for r in E.read_anchor_store(spark, f"{out}/anchors").collect()}
    notes = {int(r.batch_id): r.body for r in spark.read.option("header", "true").csv(f"{out}/notifications").collect()}
    oks, errs = E.task_outcomes(spark, f"{out}/results")
    result.count("lines", sum(r.task_count for r in analysis))
    result.count("invalid_lines", sum(r.invalid_count for r in analysis))
    result.count("processed", sum(oks.values()) + sum(len(e) for e in errs.values()))
    result.count("dup_errors", sum(len(e) for e in errs.values()))
    for b in upload.batches:
        a = anchors.get(b.batch_id)
        note = f"succeeded={b.success} failed={b.errors}" if E.has_email(b.batch_id) else None
        checks = [
            ("analysis", got.get(b.batch_id), (b.lines, b.invalid, b.oversize)),
            ("anchor", a and (a.size, a.state), None if b.oversize else (b.size, b.state)),
            ("successes", oks.get(b.batch_id, 0), b.success),
            ("errors", errs.get(b.batch_id, {}), b.error_tasks),
            ("notification", notes.get(b.batch_id), None if b.oversize else note),
        ]
        for what, have, want in checks:
            if have != want:
                bad[b.batch_id] = f"{what}: got {have!r}, expected {want!r}"
                break
    return bad


def run(spark, tr, args, work: str, result) -> None:
    existing_path = f"{work}/existing.parquet"
    warm = make_upload(args.seed + 7919, f"{work}/warm_upload", WARM_SIZES)
    upload = make_upload(args.seed, f"{work}/upload", shuffled_sizes(args.seed, SIZES, len(SIZES)))
    upload.write_existing(existing_path)
    warm.write_existing(f"{work}/warm_existing.parquet")
    result.count("upload_lines", sum(b.lines for b in upload.batches))
    poller = Poller(spark, tr, args.seed, None)

    # warm-up: the whole pipeline and its reads, on the small upload
    existing = spark.read.parquet(f"{work}/warm_existing.parquet")
    for n in range(WARM_PASSES):
        out = f"{work}/warm{n}"
        batch = warm.renumbered(PASS_IDS * n)
        analysis = _ingest(spark, tr, batch, existing, out)
        for bid, why in _check(spark, batch, analysis, out, result).items():
            result.fail(1, f"warm-up batch {bid}: {why}")
        Poller(spark, tr, args.seed + n, Stores.bulk(batch, out)).run(POLLS_PER_PASS, result, record=False)
    result.setup_done()

    existing = spark.read.parquet(existing_path)
    # passes start while the last one's length still fits before the
    # deadline, and there are at least MIN_PASSES
    deadline = time.perf_counter() + args.seconds
    n, last = 0, 0.0
    while n < MIN_PASSES or time.perf_counter() + last <= deadline:
        t_loop = time.perf_counter()
        out = f"{work}/pass{n}"
        # every pass is a new upload: fresh batch ids, as a service sees them
        batch = upload.renumbered(PASS_IDS * (n + 1))
        traced = bool(args.trace) and n % 2 == 1
        with tr.unit("pass", traced):
            t0 = time.perf_counter()
            try:
                analysis = _ingest(spark, tr, batch, existing, out)
                wall = time.perf_counter() - t0
            except Exception as exc:  # a failed pass counts every batch
                result.fail(len(upload.batches), f"bulk pass raised: {exc!r}"[:2000])
                analysis = None
        if analysis is not None:
            result.sample("turnaround_s", wall)
            bad = _check(spark, batch, analysis, out, result)
            result.ops(len(upload.batches), len(bad), "; ".join(f"batch {b}: {w}" for b, w in list(bad.items())[:5]) or None)
            poller.stores = Stores.bulk(batch, out)
            poller.run(POLLS_PER_PASS, result, traced)
        shutil.rmtree(out, ignore_errors=True)
        n += 1
        last = time.perf_counter() - t_loop
    result.units = n
    # outside the timed passes: every invalid line failed for its reason
    for bid in E.check_reasons(spark, tr, upload):
        result.fail(1, f"batch {bid}: invalid lines split by reason differently than generated")
