"""Streaming maintenance of a persisted IVF ANN index — exactly-once by
idempotence.

The batch side builds and persists the index once (``similarity.ivf_build``
→ ``ivf_save``: tiny centroid table + inverted file partitioned by
centroid_id). Under a live ingest pipeline the index goes stale as new
vectors land; retraining per batch is wasteful (the coarse quantizer is
trained on a sample and drifts slowly — faiss's train-once/add-many
design). This module wires ``similarity.ivf_add``'s assignment step into a
Structured Streaming ``foreachBatch`` sink with the same snapshot protocol
``streaming/cdc.py`` uses for SCD2 tables:

- each micro-batch assigns ONLY the arriving vectors against the frozen
  centroids (one Arrow pass over the batch — nothing touches the stored
  corpus) and writes them to its OWN ``deltas/v=<batch_id>`` directory
  with ``mode=overwrite``, still partitioned by centroid_id. The
  checkpoint gives at-least-once ``foreachBatch`` invocations; because a
  replayed batch overwrites its own delta dir instead of appending to the
  shared file, replays converge on identical bytes — **exactly-once by
  idempotence** (the former plain append duplicated a replayed batch's
  vectors in the inverted file);
- readers (``read_ivf_assignments``) resolve the index as the newest
  COMMITTED ``base=<C>`` generation (else the original ``ivf_save``
  file) plus every delta newer than
  ``max(compacted_through, newest base generation)`` — deltas are
  disjoint appends, so resolution is a union, no version arbitration
  needed. The base-derived floor (``_delta_floor``) and the
  ``_SUCCESS``-marker visibility rule (``_committed``) make every
  compaction crash window safe: a base written without its meta update
  never double-resolves its folded deltas, and a torn base dir is
  invisible so readers fall back to the previous generation;
- **compaction** (``ivf_stream_compact``) folds base + deltas into one
  ``base=<C>`` generation and expires the folded delta dirs, keeping
  read-side file listing O(1 + batches-since-compact) instead of growing
  with every batch ever streamed; the stream runs it every
  ``compact_every`` batches (cadence keyed on uncompacted depth, like
  ``cdc.scd2_maybe_compact``);
- an ``_ivf_meta.json`` high-water mark pins the batch-id epoch exactly
  as the CDC table's does: a replay at-or-below ``compacted_through`` is
  a no-op (its vectors are already folded into the base), a replay AT
  the high water legitimately overwrites its own delta, and a batch id
  BELOW the high water (reset/foreign checkpoint) is refused loudly.

At 100 TB: per-batch work is O(batch), reads prune on centroid_id through
every generation (the partition layout survives the delta dirs), and
compaction is O(index) but amortized on the ``compact_every`` cadence —
the OPTIMIZE step of the table-format analogy, same as the CDC twin.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import similarity

_META = "_ivf_meta.json"


def _read_meta(index_path: str) -> dict:
    """``high_water`` = max batch_id ever applied (epoch pin),
    ``compacted_through`` = max delta folded into a base generation.
    Both -1 for an index that has never seen a stream batch."""
    p = os.path.join(index_path, _META)
    if os.path.isfile(p):
        with open(p) as f:
            return json.load(f)
    return {"high_water": -1, "compacted_through": -1}


def _write_meta(index_path: str, meta: dict) -> None:
    os.makedirs(index_path, exist_ok=True)
    tmp = os.path.join(index_path, _META + ".tmp")
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, os.path.join(index_path, _META))  # atomic on POSIX


def _committed(path: str) -> bool:
    """A generation/delta parquet dir is visible only once Spark's job
    committer wrote its ``_SUCCESS`` marker: a crash mid-write leaves a
    torn dir (``_temporary`` only) that readers must skip — they fall
    back to the previous base + deltas instead of failing or silently
    dropping the whole index base."""
    return os.path.isfile(os.path.join(path, "_SUCCESS"))


def _delta_versions(index_path: str, committed_only: bool = True) -> list[int]:
    d = os.path.join(index_path, "deltas")
    if not os.path.isdir(d):
        return []
    return sorted(
        int(name.split("=", 1)[1])
        for name in os.listdir(d)
        if name.startswith("v=")
        and (not committed_only or _committed(os.path.join(d, name)))
    )


def _base_generations(index_path: str, committed_only: bool = True) -> list[int]:
    if not os.path.isdir(index_path):
        return []
    return sorted(
        int(name.split("=", 1)[1])
        for name in os.listdir(index_path)
        if name.startswith("base=")
        and (not committed_only or _committed(os.path.join(index_path, name)))
    )


def _delta_floor(index_path: str, meta: dict) -> int:
    """Deltas at or below this version are already folded into a base and
    must NOT be resolved again. The floor is derived from the newest
    COMMITTED ``base=<C>`` generation, not only from meta: compaction
    writes the base (step 1) before meta (step 2), so a crash between the
    two leaves ``compacted_through`` stale while ``base=<C>`` already
    contains the folded deltas — cutting on meta alone would resolve
    every folded vector TWICE (and the next compact would bake the
    duplicates in). Same convention as ``cdc.read_scd2``, which resolves
    ``v=`` dirs against the base DIRECTORY number."""
    bases = _base_generations(index_path)
    return max(meta["compacted_through"], bases[-1] if bases else -1)


def ivf_append_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_path: str,
) -> bool:
    """One idempotent append step (the foreachBatch body, callable
    directly for replay tests): assign the batch against the frozen
    centroids and overwrite the batch's own delta dir. Returns True when
    a delta was written (False for empty / already-compacted batches).

    Epoch guard: see ``cdc.scd2_apply_batch`` — the identical protocol.
    """
    if not batch_df.head(1):
        return False
    meta = _read_meta(index_path)
    if batch_id <= _delta_floor(index_path, meta):
        return False  # replay of a folded batch: effect already in base
    if batch_id < meta["high_water"]:
        raise ValueError(
            f"batch_id {batch_id} below index high water {meta['high_water']}: "
            f"the checkpoint driving {index_path!r} was reset or swapped; "
            "index and checkpoint must live and die together"
        )
    spark = batch_df.sparkSession
    centroids = spark.read.parquet(f"{index_path}/centroids")
    batch = batch_df.select(
        F.col("vec_id").alias("vid"), F.col("embedding").alias("cv")
    )
    similarity._assign(batch, centroids).write.mode("overwrite").partitionBy(
        "centroid_id"
    ).parquet(f"{index_path}/deltas/v={batch_id}")
    # meta AFTER the delta: a crash between leaves high_water conservative
    # and the replay converges (overwrite is idempotent)
    meta["high_water"] = max(meta["high_water"], batch_id)
    _write_meta(index_path, meta)
    return True


def read_ivf_assignments(spark, index_path: str) -> DataFrame:
    """Resolve the stream-maintained inverted file: newest ``base=<C>``
    generation (else the original ``ivf_save`` file) + every delta newer
    than ``compacted_through``. Deltas are disjoint new-vector appends,
    so resolution is a union — probe-compatible with
    ``similarity.ivf_probe`` (columns vid, cv, centroid_id; the parquet
    partition layout keeps centroid_id pruning through every
    generation)."""
    meta = _read_meta(index_path)
    bases = _base_generations(index_path)
    if bases:
        df = spark.read.parquet(f"{index_path}/base={bases[-1]}")
    else:
        df = spark.read.parquet(f"{index_path}/assignments")
    floor = _delta_floor(index_path, meta)
    for v in _delta_versions(index_path):
        if v > floor:
            df = df.unionByName(
                spark.read.parquet(f"{index_path}/deltas/v={v}")
            )
    return df


def ivf_stream_compact(spark, index_path: str) -> None:
    """Fold the current resolution (base/original + live deltas) into one
    ``base=<C>`` generation and expire the folded delta dirs and older
    bases. Crash-ordering as in ``cdc.scd2_compact``: (1) write the new
    base — readers still resolve from the old dirs while it lands (a
    torn base has no ``_SUCCESS`` and stays invisible); (2) write meta
    (``compacted_through=C``) so replays of folded batches no-op —
    readers are already safe before this lands because the delta floor
    is base-derived; (3) prune. A crash between any two steps leaves an
    index that still resolves correctly, and the next compaction
    finishes the interrupted one (meta catch-up + prune) before folding
    anything new. The original ``assignments`` file from ``ivf_save`` is
    left in place (it is the batch API's artifact; readers ignore it
    once a base exists)."""
    versions = _delta_versions(index_path)
    if not versions:
        return
    meta = _read_meta(index_path)
    floor = _delta_floor(index_path, meta)
    live = [v for v in versions if v > floor]
    if not live:
        # nothing new to fold — but a crash between a prior compaction's
        # base-write and meta-write leaves meta behind the committed base
        # with the folded (now dead) dirs unpruned: finish that compaction
        # (meta catch-up, then prune) instead of re-folding.
        if floor > meta["compacted_through"]:
            meta["compacted_through"] = floor
            _write_meta(index_path, meta)
            _prune_folded(index_path, floor)
        return
    new_c = max(live)
    full = read_ivf_assignments(spark, index_path)
    full.write.mode("overwrite").partitionBy("centroid_id").parquet(
        f"{index_path}/base={new_c}"
    )
    meta["compacted_through"] = new_c
    _write_meta(index_path, meta)
    _prune_folded(index_path, new_c)


def _prune_folded(index_path: str, new_c: int) -> None:
    """Expire every delta folded into ``base=<new_c>`` and every older
    base — including TORN (uncommitted) dirs a crashed write left
    behind, which committed-only listings deliberately hide."""
    for v in _delta_versions(index_path, committed_only=False):
        if v <= new_c:
            shutil.rmtree(os.path.join(index_path, "deltas", f"v={v}"))
    for b in _base_generations(index_path, committed_only=False):
        if b < new_c:
            shutil.rmtree(os.path.join(index_path, f"base={b}"))


def ivf_stream_writer(
    vectors: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    compact_every: int | None = None,
):
    """A configured ``writeStream`` (foreachBatch) that keeps the persisted
    IVF index at ``index_path`` fresh under a vector ingest stream; the
    caller picks the trigger and calls ``.start()``.

    Per micro-batch: ``ivf_append_batch`` (idempotent delta overwrite —
    same assignment math as the batch ``ivf_add``, asserted equal in
    tests), then depth-keyed compaction when ``compact_every`` is set.
    Probe results over ``read_ivf_assignments`` equal the batch
    ``ivf_add`` result for the same vectors, including under micro-batch
    replays (tests/test_zorder_ivfadd.py).
    """

    def _append_batch(batch_df: DataFrame, batch_id: int) -> None:
        ivf_append_batch(batch_df, batch_id, index_path)
        if compact_every:
            meta = _read_meta(index_path)
            if meta["high_water"] - meta["compacted_through"] >= compact_every:
                ivf_stream_compact(batch_df.sparkSession, index_path)

    return (
        vectors.writeStream.foreachBatch(_append_batch)
        .option("checkpointLocation", checkpoint_dir)
    )


def ivf_probe_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_path: str,
    out_path: str,
    k: int = 5,
    nprobe: int | None = None,
) -> bool:
    """One idempotent serving step (the foreachBatch body of
    ``ivf_probe_stream_writer``, callable directly for replay tests):
    probe the arriving query vectors against the index AS CURRENTLY
    MAINTAINED — centroids from the frozen artifact, inverted file
    resolved through ``read_ivf_assignments`` (newest committed base +
    live deltas) — and overwrite the batch's own ``v=<batch_id>`` result
    dir. Returns True when results were written (False for an empty
    batch).

    The probe is ``similarity.ivf_probe`` unchanged — the same
    bucket-pruned broadcast-probe plan the batch API runs, so per-batch
    cost is O(batch × nprobe buckets), never O(corpus). Resolving the
    inverted file at probe time (not writer construction time) is what
    makes this SERVE-WHILE-MAINTAIN: a query batch that arrives after an
    ``ivf_append_batch`` delta (or a compaction) sees the new vectors,
    with no coordination beyond the committed-dir visibility rule the
    maintenance side already provides. Replayed batches overwrite their
    own dir — exactly-once by idempotence, the module's convention.
    """
    meta = _read_probe_meta(out_path)
    if batch_id == meta["high_water"]:
        return False  # completed batch replay: result dir already committed
    if batch_id < meta["high_water"]:
        raise ValueError(
            f"batch_id {batch_id} below probe-output high water "
            f"{meta['high_water']}: the checkpoint driving {out_path!r} was "
            "reset or swapped; output and checkpoint must live and die "
            "together"
        )
    if not batch_df.head(1):
        return False
    if nprobe is None:
        nprobe = similarity.IVF_NPROBE
    spark = batch_df.sparkSession
    centroids = spark.read.parquet(f"{index_path}/centroids")
    inv = read_ivf_assignments(spark, index_path)
    res = similarity.ivf_probe(centroids, inv, batch_df, k, nprobe)
    res.write.mode("overwrite").parquet(f"{out_path}/v={batch_id}")
    # meta AFTER the result dir (the module's write→meta ordering): a
    # crash between the two leaves high_water conservative, the replay
    # re-probes against the index as of replay time and overwrites
    meta["high_water"] = max(meta["high_water"], batch_id)
    _write_probe_meta(out_path, meta)
    return True


_PROBE_META = "_probe_meta.json"


def _read_probe_meta(out_path: str) -> dict:
    """Batch-id epoch pin for the probe OUTPUT, mirroring the maintenance
    and growth sinks: ``high_water`` = max batch_id whose result dir AND
    meta both landed (−1 before the first batch)."""
    p = os.path.join(out_path, _PROBE_META)
    if os.path.isfile(p):
        with open(p) as f:
            return json.load(f)
    return {"high_water": -1}


def _write_probe_meta(out_path: str, meta: dict) -> None:
    os.makedirs(out_path, exist_ok=True)
    tmp = os.path.join(out_path, _PROBE_META + ".tmp")
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, os.path.join(out_path, _PROBE_META))  # atomic on POSIX


def read_probe_results(spark, out_path: str) -> DataFrame:
    """Union of every COMMITTED per-batch result dir at or below the
    meta high-water mark (columns query_id, neighbor_id, cosine, rk —
    ``similarity.ivf_probe``'s schema). Torn dirs from a crashed write
    are invisible, same rule as the index generations; a committed dir
    whose meta write crashed is also invisible until its replay
    re-acknowledges it (the result may be re-probed against a fresher
    index, so only acknowledged dirs are served); the epoch guard in
    ``ivf_probe_batch`` refuses a reset/swapped checkpoint outright, so
    stale higher-version dirs from an abandoned epoch can never silently
    join the union.

    Migration fallback: a sink written before the meta protocol existed
    has committed ``v=`` dirs but no ``_probe_meta.json`` — those stay
    readable (every committed dir acknowledged) until the next streamed
    batch writes the first meta and the high-water rule takes over. Only
    the FILE's absence triggers the fallback; a present meta at -1 (crash
    before the first batch's ack) still hides everything."""
    if not os.path.isdir(out_path):
        raise FileNotFoundError(f"no probe results at {out_path!r}")
    if os.path.isfile(os.path.join(out_path, _PROBE_META)):
        high_water = _read_probe_meta(out_path)["high_water"]
    else:
        high_water = 2**63 - 1  # pre-meta sink: all committed dirs served
    dirs = sorted(
        v
        for name in os.listdir(out_path)
        if name.startswith("v=")
        and (v := int(name.split("=", 1)[1])) <= high_water
        and _committed(os.path.join(out_path, name))
    )
    if not dirs:
        raise FileNotFoundError(f"no committed probe results at {out_path!r}")
    df = spark.read.parquet(f"{out_path}/v={dirs[0]}")
    for v in dirs[1:]:
        df = df.unionByName(spark.read.parquet(f"{out_path}/v={v}"))
    return df


def ivf_probe_stream_writer(
    queries: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint_dir: str,
    k: int = 5,
    nprobe: int | None = None,
):
    """A configured ``writeStream`` (foreachBatch) that serves ANN top-k
    for a STREAM of query vectors against the maintained index — the
    online half of the vector-serving lifecycle (``ivf_stream_writer``
    is the maintenance half; the two can run against the same
    ``index_path`` concurrently, ordered only by dir-commit visibility).
    The caller picks the trigger and calls ``.start()``.

    Drained-stream ≡ batch: over a static index the union of per-batch
    results equals one ``similarity.ivf_probe`` over all queries
    (tests/test_zorder_ivfadd.py); under interleaved maintenance each
    batch sees the index as of its own probe time (freshness test
    ibid.).
    """

    def _probe(batch_df: DataFrame, batch_id: int) -> None:
        ivf_probe_batch(batch_df, batch_id, index_path, out_path, k, nprobe)

    return (
        queries.writeStream.foreachBatch(_probe)
        .option("checkpointLocation", checkpoint_dir)
    )


# ---------------------------------------------------------------------------
# Streamed PQ maintenance: the COMPRESSED half of the IVFPQ index stays
# fresh under the same vector ingest. Codebooks are FROZEN (the faiss
# train-once/add-many design, same as the coarse centroids); each batch's
# residual codes are a pure function of (batch, centroids, codebooks), so
# the per-batch delta is stateless and the whole snapshot protocol of the
# float half applies unchanged — overwrite-own-dir idempotence, epoch
# meta, base-generation compaction with a base-derived delta floor.
# ---------------------------------------------------------------------------

_PQ_META = "_pq_meta.json"


def _read_pq_meta(pq_path: str) -> dict:
    p = os.path.join(pq_path, _PQ_META)
    if os.path.isfile(p):
        with open(p) as f:
            return json.load(f)
    return {"high_water": -1, "compacted_through": -1}


def _write_pq_meta(pq_path: str, meta: dict) -> None:
    os.makedirs(pq_path, exist_ok=True)
    tmp = os.path.join(pq_path, _PQ_META + ".tmp")
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, os.path.join(pq_path, _PQ_META))  # atomic on POSIX


def _pq_base_generations(pq_path: str) -> list[int]:
    if not os.path.isdir(pq_path):
        return []
    return sorted(
        int(name.split("=", 1)[1])
        for name in os.listdir(pq_path)
        if name.startswith("codes_base=")
        and _committed(os.path.join(pq_path, name))
    )


def _pq_delta_versions(pq_path: str) -> list[int]:
    d = os.path.join(pq_path, "codes_deltas")
    if not os.path.isdir(d):
        return []
    return sorted(
        int(name.split("=", 1)[1])
        for name in os.listdir(d)
        if name.startswith("v=") and _committed(os.path.join(d, name))
    )


def _pq_delta_floor(pq_path: str, meta: dict) -> int:
    """Base-derived fold floor — the ``_delta_floor`` convention applied
    to the codes table (a compaction crash between base and meta never
    double-resolves folded codes)."""
    bases = _pq_base_generations(pq_path)
    return max(meta["compacted_through"], bases[-1] if bases else -1)


def ivf_pq_append_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_path: str,
    pq_path: str,
) -> bool:
    """One idempotent append step for the FULL IVFPQ artifact pair: the
    float half first (``ivf_append_batch`` — its own delta dir and epoch
    meta), then the batch's residual codes against the frozen codebooks
    into ``codes_deltas/v=<batch_id>`` under the PQ artifact. Returns
    True when the codes table changed.

    The code delta is stateless — encode(batch, centroids, codebooks) —
    so replays converge on identical bytes with no prior-state read. A
    crash between the assignment write and the code write leaves the new
    vectors float-searchable but invisible to the COMPRESSED probe
    (the shortlist comes from codes alone) until the replay completes:
    the compressed path serves a consistent, slightly older view, never
    a wrong one."""
    ivf_append_batch(batch_df, batch_id, index_path)
    if not batch_df.head(1):
        return False
    meta = _read_pq_meta(pq_path)
    if batch_id <= _pq_delta_floor(pq_path, meta):
        return False  # replay of a folded batch: codes already in base
    if batch_id < meta["high_water"]:
        raise ValueError(
            f"batch_id {batch_id} below PQ high water {meta['high_water']}: "
            f"the checkpoint driving {pq_path!r} was reset or swapped; "
            "artifact and checkpoint must live and die together"
        )
    spark = batch_df.sparkSession
    centroids = spark.read.parquet(f"{index_path}/centroids")
    codebooks = spark.read.parquet(f"{pq_path}/codebooks")
    batch = batch_df.select(
        F.col("vec_id").alias("vid"), F.col("embedding").alias("cv")
    )
    # the same _assign arithmetic ivf_append_batch just ran — recomputed
    # from the batch rather than read back from the float delta so the
    # two halves never couple through each other's compaction state
    assign = similarity._assign(batch, centroids)
    codes = similarity.pq_encode_residual(assign, centroids, codebooks)
    codes.write.mode("overwrite").partitionBy("centroid_id").parquet(
        f"{pq_path}/codes_deltas/v={batch_id}"
    )
    meta["high_water"] = max(meta["high_water"], batch_id)
    _write_pq_meta(pq_path, meta)
    return True


def read_pq_codes(spark, pq_path: str) -> DataFrame:
    """Resolve the stream-maintained codes table: newest
    ``codes_base=<C>`` generation (else the original ``pq_save`` codes)
    + every delta above the base-derived floor. Deltas are disjoint
    new-vector appends — resolution is a union, centroid_id partition
    pruning survives every generation (columns vec_id, centroid_id,
    codes — ``pq_load`` shape, ADC-probe-ready)."""
    meta = _read_pq_meta(pq_path)
    bases = _pq_base_generations(pq_path)
    if bases:
        df = spark.read.parquet(f"{pq_path}/codes_base={bases[-1]}")
    else:
        df = spark.read.parquet(f"{pq_path}/codes")
    floor = _pq_delta_floor(pq_path, meta)
    for v in _pq_delta_versions(pq_path):
        if v > floor:
            df = df.unionByName(
                spark.read.parquet(f"{pq_path}/codes_deltas/v={v}")
            )
    return df


def pq_stream_compact(spark, pq_path: str) -> None:
    """Fold the current codes resolution into one ``codes_base=<C>``
    generation and expire folded delta dirs — the ``ivf_stream_compact``
    crash ordering (base → meta → prune; the base-derived floor keeps
    every window consistent)."""
    meta = _read_pq_meta(pq_path)
    floor = _pq_delta_floor(pq_path, meta)
    live = [v for v in _pq_delta_versions(pq_path) if v > floor]
    if not live:
        if floor > meta["compacted_through"]:
            meta["compacted_through"] = floor
            _write_pq_meta(pq_path, meta)
        # prune unconditionally (growth_compact's shape): a crash between
        # the base write and the meta write leaves folded deltas <= floor
        # and superseded base generations behind; reads were already
        # floor-based so this is garbage collection, not a state change —
        # without it an idle stream never reclaims the folded dirs
        _pq_prune_folded(pq_path, floor)
        return
    new_c = max(live)
    read_pq_codes(spark, pq_path).write.mode("overwrite").partitionBy(
        "centroid_id"
    ).parquet(f"{pq_path}/codes_base={new_c}")
    meta["compacted_through"] = new_c
    _write_pq_meta(pq_path, meta)
    _pq_prune_folded(pq_path, new_c)


def _pq_prune_folded(pq_path: str, new_c: int) -> None:
    """Remove code deltas folded into ``codes_base=<new_c>`` and every
    older base generation; safe after (or without) the meta write because
    resolution reads deltas strictly ABOVE the newest base."""
    for v in _pq_delta_versions(pq_path):
        if v <= new_c:
            shutil.rmtree(os.path.join(pq_path, "codes_deltas", f"v={v}"))
    for c in _pq_base_generations(pq_path):
        if c < new_c:
            shutil.rmtree(os.path.join(pq_path, f"codes_base={c}"))


def ivf_pq_probe_maintained(
    spark,
    index_path: str,
    pq_path: str,
    queries: DataFrame,
    k: int = 5,
    refine: int = 4,
    nprobe: int | None = None,
) -> DataFrame:
    """The deployable two-stage compressed probe over the LIVE index:
    ``similarity.ivf_pq_refine_probe`` with every input resolved from
    the maintained artifacts — centroids and codebooks frozen, inverted
    file and codes resolved through their snapshot protocols, and the
    refine stage's float fetch served by the maintained inverted file
    itself (the floats travel with the assignments). Equals the same
    probe over a batch-encoded index for the same vectors
    (tests/test_streaming_ivfpq.py)."""
    if nprobe is None:
        nprobe = similarity.IVF_NPROBE
    centroids = spark.read.parquet(f"{index_path}/centroids")
    codebooks = spark.read.parquet(f"{pq_path}/codebooks")
    inv = read_ivf_assignments(spark, index_path)
    codes = read_pq_codes(spark, pq_path)
    corpus = inv.select(
        F.col("vid").alias("vec_id"), F.col("cv").alias("embedding")
    )
    return similarity.ivf_pq_refine_probe(
        centroids, inv, codes, codebooks, corpus, queries, k, refine, nprobe
    )


def ivf_pq_stream_writer(
    vectors: DataFrame,
    index_path: str,
    pq_path: str,
    checkpoint_dir: str,
    compact_every: int | None = None,
):
    """A configured ``writeStream`` (foreachBatch) that keeps BOTH halves
    of a deployed IVFPQ index fresh under a vector ingest stream — the
    float inverted file (searchable immediately) and the residual codes
    (the compressed serving path). The caller picks the trigger and
    calls ``.start()``."""

    def _append(batch_df: DataFrame, batch_id: int) -> None:
        ivf_pq_append_batch(batch_df, batch_id, index_path, pq_path)
        if compact_every:
            meta = _read_meta(index_path)
            if meta["high_water"] - meta["compacted_through"] >= compact_every:
                ivf_stream_compact(batch_df.sparkSession, index_path)
            pq_meta = _read_pq_meta(pq_path)
            if (
                pq_meta["high_water"] - pq_meta["compacted_through"]
                >= compact_every
            ):
                pq_stream_compact(batch_df.sparkSession, pq_path)

    return (
        vectors.writeStream.foreachBatch(_append)
        .option("checkpointLocation", checkpoint_dir)
    )
