"""Streaming growth accounting — incremental materialization of the
batch ``temporal.growth_accounting`` report, exactly-once by idempotence.

The batch operator classifies every (period, user) grid cell against the
user's own history and charges churn to the first idle period. Under a
live event stream, recomputing the full grid per micro-batch is O(history)
per batch; this twin keeps a compact per-user state table — one row
``(user_id, last_idx, next_period)`` — and splits the report into

- **immutable increments**, decided at arrival time by the user's own
  history alone (never by future knowledge): new / retained / resurrected
  for every newly-seen period, and GAP churn (a user returning after ≥1
  idle period proves the churn at ``last+1`` retroactively — charged the
  moment it becomes provable). Each micro-batch writes its increments to
  its own ``inc/v=<batch_id>`` dir, so replays converge on identical
  bytes — the CDC / streaming-IVF snapshot protocol;
- a **derived overlay**, re-computed at read time from the current state
  table: trailing churn for every user whose last active period is behind
  the global maximum (right-censored exactly like the batch operator — a
  user active at the frontier is unresolved, not churned). The overlay is
  what makes the report RETRACTION-FREE: when a lapsed user returns, their
  trailing churn becomes a gap-churn increment at the same period and the
  recomputed overlay no longer contains them — nothing written ever has
  to be undone.

State snapshots are per-batch ``state/v=<batch_id>`` dirs; the apply step
for batch ``b`` reads the newest COMMITTED state with version < b, so an
at-least-once replay recomputes from the same prior state and overwrites
deterministically. ``_growth_meta.json`` pins the batch-id epoch exactly
as the CDC table's does. ``growth_compact`` prunes superseded
state/inc dirs (increments fold into one ``inc/v=`` dir keyed at the
newest folded version; the state table needs only its newest snapshot),
keeping read-side listing O(1 + batches-since-compact).

Ordering contract: period-monotone arrivals per user — a user's events
for period p must not arrive after one of their events for a LATER period
was already processed in an earlier micro-batch (re-arrivals of
already-counted periods are ignored; intra-batch and intra-period
disorder is fine — classification sorts inside the batch). Event-time
disorder beyond that bound is a reprocessing job for the batch operator,
which is order-insensitive by construction.

At 100 TB: per-batch work is O(batch + |users in batch|), state is one
row per user ever seen, and the report read is O(periods + users) — the
grid never materializes twice.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..operators import temporal

_META = "_growth_meta.json"


def _read_meta(path: str) -> dict:
    p = os.path.join(path, _META)
    if os.path.isfile(p):
        with open(p) as f:
            return json.load(f)
    return {"high_water": -1, "compacted_through": -1}


def _write_meta(path: str, meta: dict) -> None:
    os.makedirs(path, exist_ok=True)
    tmp = os.path.join(path, _META + ".tmp")
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, os.path.join(path, _META))  # atomic on POSIX


def _committed(path: str) -> bool:
    return os.path.isfile(os.path.join(path, "_SUCCESS"))


def _versions(path: str, sub: str) -> list[int]:
    d = os.path.join(path, sub)
    if not os.path.isdir(d):
        return []
    return sorted(
        int(name.split("=", 1)[1])
        for name in os.listdir(d)
        if name.startswith("v=") and _committed(os.path.join(d, name))
    )


_STATE_SCHEMA = "user_id long, last_idx long, next_period date"
_INC_SCHEMA = (
    "period date, n_new long, n_retained long, n_resurrected long, "
    "n_churned long"
)


def _read_state(spark, table_path: str, below: int | None = None) -> DataFrame:
    vs = [
        v for v in _versions(table_path, "state") if below is None or v < below
    ]
    if not vs:
        return spark.createDataFrame([], _STATE_SCHEMA)
    return spark.read.parquet(f"{table_path}/state/v={vs[-1]}")


def growth_apply_batch(
    batch_df: DataFrame,
    batch_id: int,
    table_path: str,
    period: str = "day",
) -> bool:
    """One idempotent apply step (the foreachBatch body, callable directly
    for replay tests). Classifies the batch's newly-seen (period, user)
    cells against the prior state snapshot, writes the increment and the
    new state snapshot to the batch's own ``v=<batch_id>`` dirs, then
    advances the meta high-water. Returns True when the batch changed the
    table (False for empty / already-applied batches)."""
    meta = _read_meta(table_path)
    if batch_id == meta["high_water"]:
        return False  # completed batch replay: both dirs already committed
    if batch_id < meta["high_water"]:
        raise ValueError(
            f"batch_id {batch_id} below table high water {meta['high_water']}: "
            f"the checkpoint driving {table_path!r} was reset or swapped; "
            "table and checkpoint must live and die together"
        )
    if not batch_df.head(1):
        return False
    spark = batch_df.sparkSession

    p_col = F.date_trunc(period, F.col("ts")).cast("date")
    grid = (
        batch_df.select(
            p_col.alias("period"), F.col("user_id")
        )
        .distinct()
        .withColumn("pidx", temporal.growth_period_idx(F.col("period"), period))
        .withColumn(
            "nxt", temporal.growth_next_period(F.col("period"), period)
        )
    )
    state = _read_state(spark, table_path, below=batch_id)

    # drop re-arrivals of already-counted periods (ordering contract);
    # classify the rest with the batch operator's lag logic, seeded by the
    # state row for each user's FIRST new period in this batch
    joined = grid.join(state, "user_id", "left_outer").filter(
        F.col("last_idx").isNull() | (F.col("pidx") > F.col("last_idx"))
    )
    w = Window.partitionBy("user_id").orderBy("pidx")
    tagged = joined.select(
        "user_id",
        "period",
        "pidx",
        "nxt",
        F.coalesce(F.lag("pidx").over(w), F.col("last_idx")).alias("prev_idx"),
        F.coalesce(F.lag("nxt").over(w), F.col("next_period")).alias(
            "prev_next"
        ),
    ).persist()

    classes = tagged.groupBy("period").agg(
        F.sum(F.when(F.col("prev_idx").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_new"),
        F.sum(F.when(F.col("pidx") - F.col("prev_idx") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_retained"),
        F.sum(
            F.when(
                F.col("prev_idx").isNotNull()
                & (F.col("pidx") - F.col("prev_idx") > 1),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_resurrected"),
    )
    # gap churn, provable at arrival: the return after >=1 idle period
    # pins the churn at the predecessor's next_period
    gap = (
        tagged.filter(
            F.col("prev_idx").isNotNull()
            & (F.col("pidx") - F.col("prev_idx") > 1)
        )
        .groupBy(F.col("prev_next").alias("period"))
        .agg(F.count("*").cast("long").alias("n_churned"))
    )
    z = F.lit(0).cast("long")
    inc = (
        classes.join(gap, "period", "full_outer")
        .select(
            "period",
            F.coalesce("n_new", z).alias("n_new"),
            F.coalesce("n_retained", z).alias("n_retained"),
            F.coalesce("n_resurrected", z).alias("n_resurrected"),
            F.coalesce("n_churned", z).alias("n_churned"),
        )
    )
    inc.write.mode("overwrite").parquet(f"{table_path}/inc/v={batch_id}")

    new_state = (
        state.unionByName(
            tagged.select("user_id", F.col("pidx").alias("last_idx"), "nxt")
            .groupBy("user_id")
            .agg(
                F.max("last_idx").alias("last_idx"),
                F.max_by("nxt", "last_idx").alias("next_period"),
            )
        )
        .groupBy("user_id")
        .agg(
            F.max("last_idx").alias("last_idx"),
            F.max_by("next_period", "last_idx").alias("next_period"),
        )
    )
    new_state.write.mode("overwrite").parquet(
        f"{table_path}/state/v={batch_id}"
    )
    tagged.unpersist()
    # meta AFTER both dirs: a crash between leaves high_water conservative
    # and the replay recomputes from the same prior snapshot (overwrite is
    # idempotent)
    meta["high_water"] = max(meta["high_water"], batch_id)
    _write_meta(table_path, meta)
    return True


def _state_ceiling(table_path: str) -> int:
    """Version of the newest COMMITTED state snapshot (−1 if none). An
    increment is only VISIBLE once its paired state snapshot is committed:
    the apply step writes ``inc/v=b`` before ``state/v=b``, so a crash
    between the two leaves a committed increment whose churn the
    read-time overlay (derived from the PRE-b state) would charge a
    second time — a resurrected user's gap churn would appear both as an
    inc row and as trailing churn from the stale state, and gmax would be
    stale. Capping inc visibility at the state version pairs every
    visible increment with the state that superseded it, so every crash
    window reads as if batch b never ran (the replay then overwrites both
    dirs deterministically)."""
    vs = _versions(table_path, "state")
    return vs[-1] if vs else -1


def _resolve_increments(spark, table_path: str) -> DataFrame:
    """Newest committed ``inc_base=`` generation (cumulative fold) plus
    every increment newer than it UP TO the newest committed state
    snapshot — the streaming-IVF/CDC resolution rule plus the
    state-pairing cap (see ``_state_ceiling``): the floor is derived from
    the base DIRECTORY version, so a compaction crash between base-write
    and meta-write never double-counts folded increments; a torn base
    (no ``_SUCCESS``) stays invisible; and an increment whose state write
    crashed stays invisible until its batch replays."""
    bases = _versions(table_path, "inc_base")
    incs = _versions(table_path, "inc")
    floor = bases[-1] if bases else -1
    ceiling = _state_ceiling(table_path)
    parts = [f"{table_path}/inc_base/v={floor}"] if bases else []
    parts += [f"{table_path}/inc/v={v}" for v in incs if floor < v <= ceiling]
    if not parts:
        raise FileNotFoundError(f"no committed increments at {table_path!r}")
    return spark.read.parquet(*parts)


def read_growth_report(spark, table_path: str) -> DataFrame:
    """The materialized report: committed increments + the trailing-churn
    overlay from the newest state snapshot. Drained over a stream, equals
    ``temporal.growth_accounting`` over the same events (column-identical:
    period, n_active, n_new, n_retained, n_resurrected, n_churned)."""
    inc = _resolve_increments(spark, table_path)
    inc_sum = inc.groupBy("period").agg(
        F.sum("n_new").cast("long").alias("n_new"),
        F.sum("n_retained").cast("long").alias("n_retained"),
        F.sum("n_resurrected").cast("long").alias("n_resurrected"),
        F.sum("n_churned").cast("long").alias("n_gap_churned"),
    )
    state = _read_state(spark, table_path)
    gmax = state.agg(F.max("last_idx").alias("gmax"))
    trailing = (
        state.crossJoin(F.broadcast(gmax))
        .filter(F.col("last_idx") < F.col("gmax"))
        .groupBy(F.col("next_period").alias("period"))
        .agg(F.count("*").cast("long").alias("n_trail_churned"))
    )
    z = F.lit(0).cast("long")
    return (
        inc_sum.join(trailing, "period", "full_outer")
        .select(
            "period",
            (
                F.coalesce("n_new", z)
                + F.coalesce("n_retained", z)
                + F.coalesce("n_resurrected", z)
            ).alias("n_active"),
            F.coalesce("n_new", z).alias("n_new"),
            F.coalesce("n_retained", z).alias("n_retained"),
            F.coalesce("n_resurrected", z).alias("n_resurrected"),
            (
                F.coalesce("n_gap_churned", z) + F.coalesce("n_trail_churned", z)
            ).alias("n_churned"),
        )
    )


def growth_compact(spark, table_path: str) -> None:
    """Fold the current increment resolution into one cumulative
    ``inc_base/v=<C>`` generation and prune folded dirs — read-side
    listing back to O(1 + batches-since-compact). Crash-ordering as in
    ``cdc.scd2_compact``: (1) write the new base (old dirs
    still serve reads while it lands; readers derive the fold floor from
    the base VERSION, so even a committed base with stale meta never
    double-counts, and a torn base has no ``_SUCCESS`` and stays
    invisible); (2) meta; (3) prune folded ``inc`` dirs, older bases, and
    state snapshots behind the newest."""
    bases = _versions(table_path, "inc_base")
    floor = bases[-1] if bases else -1
    # fold ONLY state-paired increments (same visibility rule as reads):
    # an inc/v=b whose state write crashed must not be baked into a base —
    # batch b's replay will overwrite it, and a base that had folded the
    # orphan would pair b's churn with the pre-b overlay forever.
    ceiling = _state_ceiling(table_path)
    live = [v for v in _versions(table_path, "inc") if floor < v <= ceiling]
    meta = _read_meta(table_path)
    if not live:
        if floor > meta["compacted_through"]:
            # finish an interrupted compaction: meta catch-up
            meta["compacted_through"] = floor
            _write_meta(table_path, meta)
        # prune unconditionally (idempotent): a replayed batch can have
        # recreated an already-folded inc dir, and snapshots superseded
        # since the last fold are garbage either way
        _prune_folded(table_path, floor, meta["high_water"])
        return
    new_c = max(live)
    folded = (
        _resolve_increments(spark, table_path)
        .groupBy("period")
        .agg(
            F.sum("n_new").cast("long").alias("n_new"),
            F.sum("n_retained").cast("long").alias("n_retained"),
            F.sum("n_resurrected").cast("long").alias("n_resurrected"),
            F.sum("n_churned").cast("long").alias("n_churned"),
        )
    )
    folded.write.mode("overwrite").parquet(f"{table_path}/inc_base/v={new_c}")
    meta["compacted_through"] = new_c
    _write_meta(table_path, meta)
    _prune_folded(table_path, new_c, meta["high_water"])


def _prune_folded(table_path: str, new_c: int, high_water: int) -> None:
    inc_root = os.path.join(table_path, "inc")
    if os.path.isdir(inc_root):
        for name in os.listdir(inc_root):
            if name.startswith("v=") and int(name.split("=", 1)[1]) <= new_c:
                shutil.rmtree(os.path.join(inc_root, name))
    base_root = os.path.join(table_path, "inc_base")
    if os.path.isdir(base_root):
        for name in os.listdir(base_root):
            if name.startswith("v=") and int(name.split("=", 1)[1]) < new_c:
                shutil.rmtree(os.path.join(base_root, name))
    # State retention keys on the META-ACKNOWLEDGED snapshot, not the
    # newest dir: if apply crashed before its meta write, state/v=b is on
    # disk while high_water is still b−1, and batch b's replay must read
    # state/v=b−1 (the newest snapshot BELOW b). Pruning to the single
    # newest dir would delete that replay floor and the replay would
    # recompute from an empty state. Keep the newest snapshot whose
    # version ≤ high_water and everything newer (pending replays
    # overwrite those in place).
    states = _versions(table_path, "state")
    acked = [v for v in states if v <= high_water]
    if not acked:
        return
    keep_floor = acked[-1]
    for v in states:
        if v < keep_floor:
            shutil.rmtree(os.path.join(table_path, "state", f"v={v}"))


def growth_stream_writer(
    events: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    period: str = "day",
    compact_every: int | None = None,
):
    """A configured ``writeStream`` (foreachBatch) that maintains the
    growth-accounting report under a live event stream; the caller picks
    the trigger and calls ``.start()``. Drained ≡ batch is pinned in
    tests/test_streaming_growth.py."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        growth_apply_batch(batch_df, batch_id, table_path, period)
        if compact_every:
            meta = _read_meta(table_path)
            if meta["high_water"] - meta["compacted_through"] >= compact_every:
                growth_compact(batch_df.sparkSession, table_path)

    return (
        events.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
    )
