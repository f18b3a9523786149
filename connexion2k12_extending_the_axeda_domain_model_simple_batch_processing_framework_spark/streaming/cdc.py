"""Streaming SCD2 maintenance — incremental CDC apply.

The batch side (``operators.process.scd2_build`` / ``scd2_point_in_time``)
derives a full SCD2 history from a complete update log. Under a live CDC
feed that recomputation is wasteful: a micro-batch touches a tiny fraction
of keys, and only THOSE keys' interval chains change (SCD2 versioning is
per-key — other keys' rows are byte-identical). This module wires the
partition-rewrite protocol every transactional lakehouse CDC apply uses
into a ``foreachBatch`` sink:

- the maintained table is hash-bucketed on the key (``n_buckets``
  directories, the unit of rewrite);
- each micro-batch rewrites ONLY the buckets containing its keys:
  affected buckets' current rows are read back AS the raw update log
  (an SCD2 interval table is a lossless encoding of its update stream),
  unioned with the batch, and re-versioned with the same ``scd2_build``;
- every rewrite lands under a ``v=<batch_id>`` snapshot directory with
  ``mode=overwrite``, so an at-least-once replay of a micro-batch
  overwrites its own output — **exactly-once by idempotence**;
- readers resolve each bucket to its LATEST version (``read_scd2``) —
  the manifest-resolution step a table format (Delta/Iceberg) performs
  transactionally; the directory protocol here is its minimal stand-in;
- **compaction** (``scd2_compact``) folds every bucket's latest version
  into a ``base=<C>`` generation and expires the superseded ``v=`` dirs,
  so manifest resolution and storage stay O(buckets + batches-since-
  compact) instead of growing with every batch ever applied — the
  checkpoint/vacuum step of the table-format analogy. The stream invokes
  it every ``compact_every`` batches;
- a ``_scd2_meta.json`` high-water mark pins the batch-id epoch: batch
  ids must grow for the table's lifetime (they come from the stream's
  checkpoint), so an apply below the high water — a new/reset checkpoint
  pointed at an old table — is refused instead of silently resolving
  stale higher-versioned snapshots over the new writes. A replay AT the
  high water is the legitimate at-least-once re-delivery and stays
  idempotent; a replay at-or-below ``compacted_through`` is a no-op (its
  effect is already folded into the base).

At 100 TB: per-batch work is O(touched buckets), not O(table) — the
rewrite reads and writes only the key partitions the batch collides with,
and bucket count tunes rewrite granularity exactly like a MERGE INTO
partition pruning its target. Compaction is O(table) but amortized over
``compact_every`` batches, exactly like Delta's OPTIMIZE cadence.

Cf. reference ``internal/ProcessBatch.groovy:142-187``: the reference
versions per-task anchors instead of overwriting — this sink is that
anchor-versioning idea applied continuously to a dimension table.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.process import scd2_build
from ..operators.sampling import hash_bucket

SCD2_BUCKETS = 8

_META = "_scd2_meta.json"


def _bucket_col(key_col: str, n_buckets: int):
    return hash_bucket(F.col(key_col), n_buckets).cast("int").alias("kb")


def _read_meta(table_path: str) -> dict:
    """Table metadata: ``high_water`` = max batch_id ever applied (the
    epoch pin), ``compacted_through`` = max version folded into a base
    generation. Both -1 for a fresh table."""
    p = os.path.join(table_path, _META)
    if os.path.isfile(p):
        with open(p) as f:
            return json.load(f)
    return {"high_water": -1, "compacted_through": -1}


def _write_meta(table_path: str, meta: dict) -> None:
    os.makedirs(table_path, exist_ok=True)
    tmp = os.path.join(table_path, _META + ".tmp")
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, os.path.join(table_path, _META))  # atomic on POSIX


def scd2_stream_writer(
    updates: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    n_buckets: int = SCD2_BUCKETS,
    compact_every: int | None = None,
):
    """A configured ``writeStream`` (foreachBatch) keeping the SCD2 table
    at ``table_path`` current under a CDC update stream; the caller picks
    the trigger and calls ``.start()``.

    The maintained table's schema is the update schema + (dim_version,
    valid_from, valid_to, is_current, kb). Drained-stream equality with
    the batch ``scd2_build`` over the full log, and replay idempotence,
    are asserted in tests/test_streaming_cdc.py.

    ``compact_every=N`` runs ``scd2_compact`` after every Nth applied
    batch, bounding snapshot-dir count and manifest-walk cost for a
    long-running stream (retention); leave None to manage compaction
    externally. ``table_path`` and ``checkpoint_dir`` must live and die
    together — the table's high-water meta refuses a reset checkpoint's
    restarted batch ids rather than serving stale history.
    """

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        scd2_apply_batch(batch_df, batch_id, table_path, n_buckets)
        if compact_every:
            scd2_maybe_compact(batch_df.sparkSession, table_path, compact_every)

    return (
        updates.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
    )


def scd2_apply_batch(
    batch_df: DataFrame,
    batch_id: int,
    table_path: str,
    n_buckets: int = SCD2_BUCKETS,
    op_col: str | None = None,
    delete_value: str = "D",
) -> bool:
    """One CDC apply step (the foreachBatch body, callable directly for
    replay tests): rewrite only the buckets the batch touches, to the
    batch's own overwritten snapshot dir. Returns True when a snapshot
    was written (False for empty / already-compacted batches).

    Epoch guard: batch ids come from the stream's checkpoint and must
    grow for the table's lifetime. ``batch_id <= compacted_through``
    is the legitimate replay of a batch whose snapshot a compaction
    already folded into the base — its effect is present, so the apply
    is an idempotent no-op. ``batch_id < high_water`` otherwise means a
    reset/foreign checkpoint (ids restarted at 0): applying would write
    low-versioned snapshots that every read resolves BELOW the existing
    ones — silently-stale history — so it is refused loudly.
    """
    if not batch_df.head(1):
        return False
    meta = _read_meta(table_path)
    if batch_id <= meta["compacted_through"]:
        return False
    if batch_id < meta["high_water"]:
        raise ValueError(
            f"batch_id {batch_id} below table high water {meta['high_water']}: "
            f"the checkpoint driving {table_path!r} was reset or swapped; "
            "table and checkpoint must live and die together"
        )
    spark = batch_df.sparkSession
    raw_cols = batch_df.columns
    batch = batch_df.withColumn("kb", _bucket_col("user_id", n_buckets))
    touched = [int(r.kb) for r in batch.select("kb").distinct().collect()]
    # resolve the PRE-batch snapshot (versions < batch_id): a replayed
    # batch must not read its own previous output back as prior state, or
    # its rows would double into the log
    current = read_scd2(
        spark, table_path, buckets=touched, max_version=batch_id - 1
    )
    if current is not None:
        # an SCD2 table IS its update log: project the raw update
        # columns back out and re-version together with the batch
        prior = current.select(*raw_cols).withColumn(
            "kb", _bucket_col("user_id", n_buckets)
        )
        log = prior.unionByName(batch)
    else:
        log = batch
    # defensive against an at-least-once SOURCE replaying rows across
    # different batch ids: one (key, ts, tie) update is one version
    log = log.dropDuplicates(["user_id", "valid_from", "event_id"])
    rebuilt = scd2_build(log, op_col=op_col, delete_value=delete_value)
    if op_col is not None:
        # tombstones must SURVIVE in the stored table: the apply protocol
        # reads rows back AS the update log, and without the stored
        # delete a future rewrite would resurrect the pre-delete
        # versions. They ride the version schema with dim_version NULL
        # (how current-readers filter them out); the op column already in
        # raw_cols keeps the read-back log lossless.
        ts_type = dict(zip(rebuilt.schema.names, rebuilt.schema.fields))[
            "valid_to"
        ].dataType
        tombs = (
            log.filter(F.col(op_col) == F.lit(delete_value))
            .withColumn("dim_version", F.lit(None).cast("long"))
            .withColumn("valid_to", F.lit(None).cast(ts_type))
            .withColumn("is_current", F.lit(False))
        )
        rebuilt = rebuilt.unionByName(tombs)
    # overwrite the batch's own snapshot dir: replays converge on
    # identical output instead of appending duplicates
    rebuilt.write.mode("overwrite").partitionBy("kb").parquet(
        f"{table_path}/v={batch_id}"
    )
    # meta AFTER the snapshot: a crash between leaves high_water
    # conservative and the replay converges (overwrite is idempotent)
    meta["high_water"] = max(meta["high_water"], batch_id)
    _write_meta(table_path, meta)
    return True


def scd2_maybe_compact(spark, table_path: str, compact_every: int) -> bool:
    """Compact when the UNCOMPACTED DEPTH (high_water − compacted_through)
    reaches ``compact_every`` — not when a boundary batch id arrives:
    keying the cadence on ``batch_id % compact_every`` skipped a whole
    cycle whenever the boundary batch happened to be empty or an
    already-folded replay, letting snapshot-dir growth exceed the
    retention bound. The meta gap measures exactly the snapshot dirs a
    compact would fold, whoever advanced them. Returns True if a
    compaction ran."""
    meta = _read_meta(table_path)
    if meta["high_water"] - meta["compacted_through"] < compact_every:
        return False
    scd2_compact(spark, table_path)
    return True


def scd2_compact(spark, table_path: str) -> None:
    """Fold every bucket's latest resolved rows into one ``base=<C>``
    generation (C = the max version folded) and expire the superseded
    ``v=`` snapshot dirs and older bases — retention for the snapshot
    protocol. Without it, ``read_scd2``'s manifest walk and the table's
    storage grow with every batch ever applied; after it they are
    O(buckets + batches-since-compact).

    Crash-ordering: (1) write the new base generation to its own dir —
    readers still resolve from the old dirs while it lands; (2) write
    meta (``compacted_through=C``) so replays of folded batches become
    no-ops; (3) prune superseded dirs. A crash between any two steps
    leaves a table that still resolves correctly — at worst with
    not-yet-pruned duplicates a re-compact removes. Reads are
    equivalent before and after (tests/test_streaming_cdc.py)."""
    meta = _read_meta(table_path)
    versions = [
        int(d.split("=", 1)[1])
        for d in os.listdir(table_path)
        if d.startswith("v=")
    ]
    if not versions:
        return
    new_c = max(versions)
    cur = read_scd2(spark, table_path)
    if cur is None:
        return
    cur.write.mode("overwrite").partitionBy("kb").parquet(
        f"{table_path}/base={new_c}"
    )
    meta["compacted_through"] = new_c
    _write_meta(table_path, meta)
    for d in os.listdir(table_path):
        if d.startswith("v=") and int(d.split("=", 1)[1]) <= new_c:
            shutil.rmtree(os.path.join(table_path, d))
        elif d.startswith("base=") and int(d.split("=", 1)[1]) < new_c:
            shutil.rmtree(os.path.join(table_path, d))


def read_scd2_current(
    spark,
    table_path: str,
    buckets: list[int] | None = None,
    max_version: int | None = None,
) -> DataFrame | None:
    """The dimension-consumer view of a maintained table: resolved rows
    WITHOUT the stored tombstone markers (dim_version NULL rows a
    delete-carrying apply keeps for log losslessness — see
    ``scd2_apply_batch``). Use ``read_scd2`` only when you need the raw
    stored rows (the apply's own read-back, audits)."""
    raw = read_scd2(spark, table_path, buckets, max_version)
    if raw is None:
        return None
    return raw.filter(F.col("dim_version").isNotNull())


def read_scd2(
    spark,
    table_path: str,
    buckets: list[int] | None = None,
    max_version: int | None = None,
) -> DataFrame | None:
    """Resolve the current SCD2 table: for each bucket (optionally only
    ``buckets``), the rows from the LATEST snapshot version containing it
    (at most ``max_version`` — the as-of read the apply step uses to see
    the pre-batch state). A ``base=<C>`` generation (``scd2_compact``)
    stands in for every version ≤ C: a bucket resolves to its latest
    ``v=`` dir NEWER than the base, else to the base. Returns None when
    nothing has been written yet. This is the reader half of the snapshot
    protocol — one parquet read per (bucket, its latest version), unioned;
    a real deployment delegates exactly this resolution to the table
    format's manifest."""
    if not os.path.isdir(table_path):
        return None
    # the effective base generation: largest C ≤ max_version (a newer,
    # not-yet-visible base is skipped by as-of reads; a crash can leave
    # an extra older base, superseded here and pruned by the next compact)
    base_c, base_dir = -1, None
    for d in os.listdir(table_path):
        if d.startswith("base="):
            c = int(d.split("=", 1)[1])
            if c > base_c and (max_version is None or c <= max_version):
                base_c, base_dir = c, d
    latest: dict[int, tuple[int, str]] = {}
    if base_dir is not None:
        for bdir in os.listdir(os.path.join(table_path, base_dir)):
            if not bdir.startswith("kb="):
                continue
            kb = int(bdir.split("=", 1)[1])
            if buckets is None or kb in buckets:
                latest[kb] = (base_c, base_dir)
    for vdir in os.listdir(table_path):
        if not vdir.startswith("v="):
            continue
        v = int(vdir.split("=", 1)[1])
        if v <= base_c or (max_version is not None and v > max_version):
            continue
        for bdir in os.listdir(os.path.join(table_path, vdir)):
            if not bdir.startswith("kb="):
                continue
            kb = int(bdir.split("=", 1)[1])
            if buckets is not None and kb not in buckets:
                continue
            if latest.get(kb, (-1, ""))[0] < v:
                latest[kb] = (v, vdir)
    if not latest:
        return None
    parts = [
        spark.read.parquet(f"{table_path}/{vdir}/kb={kb}").withColumn(
            "kb", F.lit(kb)
        )
        for kb, (_v, vdir) in sorted(latest.items())
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
