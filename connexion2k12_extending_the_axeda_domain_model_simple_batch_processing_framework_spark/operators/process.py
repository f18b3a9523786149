"""ProcessBatch parity — entity creation as distributed upsert.

The reference walks tasks serially: ``createModel`` is an idempotent store
(duplicate models swallowed, ProcessBatch.groovy:142-153) and
``createAsset`` fails on duplicate (model, serial) pairs
(ProcessBatch.groovy:175-187), producing one SuccessAnchor or ErrorAnchor
per task. Distributed re-expression: "first writer wins" is a window (or
min-aggregate) over the natural key; later claimants become error rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def distinct_models(tasks: DataFrame) -> DataFrame:
    """The model table ProcessBatch would have created: one row per distinct
    model_name. A single shuffle-dedup with map-side partial aggregation."""
    return tasks.select("model_name").where(F.col("model_name").isNotNull()).distinct()


def _with_claim(tasks: DataFrame) -> DataFrame:
    """Add ``_claim``: the task's 1-based rank among the claimants of its
    (model_name, serial_number), earliest (batch_id, task_number) first."""
    w = Window.partitionBy("model_name", "serial_number").orderBy(
        F.col("batch_id").asc(), F.col("task_number").asc()
    )
    return tasks.withColumn("_claim", F.row_number().over(w))


def process_tasks(tasks: DataFrame, existing_assets: DataFrame | None = None) -> DataFrame:
    """Run every task: first task (lowest task_number) to claim a
    (model_name, serial_number) wins and creates the asset; subsequent tasks
    for the same key produce the reference's duplicate-asset error. Tasks
    joined against ``existing_assets`` (model_name, serial_number) always
    error, mirroring EntityAlreadyExistsException on pre-existing assets.

    Returns TASK_RESULT-shaped rows (batch_id, task_number, ok, reason).
    One shuffle on the natural key for the window; the existing-assets probe
    is a broadcast join for dimension-sized asset registries, shuffle join
    otherwise.
    """
    claimed = _with_claim(tasks)
    dup = F.col("_claim") > 1
    if existing_assets is not None:
        existing = existing_assets.select(
            F.col("model_name"), F.col("serial_number"), F.lit(True).alias("_exists")
        )
        claimed = claimed.join(existing, ["model_name", "serial_number"], "left")
        dup = dup | F.col("_exists").isNotNull()

    reason = F.when(
        dup,
        F.concat(
            F.lit("Asset with model number = '"),
            F.col("model_name"),
            F.lit("' and serial number = '"),
            F.col("serial_number"),
            F.lit("' could not be created."),
        ),
    )
    return claimed.select(
        "batch_id",
        "task_number",
        (~dup).alias("ok"),
        reason.alias("reason"),
    )


def created_assets(tasks: DataFrame) -> DataFrame:
    """The asset table after processing: the winning claimant per key."""
    return (
        _with_claim(tasks)
        .filter(F.col("_claim") == 1)
        .select("model_name", "serial_number", "asset_name")
    )


def latest_wins_merge(
    base: DataFrame,
    updates: DataFrame,
    key_col: str = "doc_id",
    version_col: str = "version",
) -> DataFrame:
    """Snapshot merge with LAST-writer-wins semantics — the CDC-compaction
    twin of ``process_tasks``' first-wins claim: a base snapshot plus an
    updates batch collapse to one row per key, the row with the highest
    (version, is_update) pair. An update at the same version as base wins
    (updates are the newer feed); within a side the highest version wins.

    This is the MERGE INTO / upsert-compaction every incremental corpus
    needs when a crawler re-fetches pages: schema-aligned union, one
    shuffle on the key, max_by per key — no join, so the plan cost is one
    pass over |base| + |updates| however often it runs. Rows keep a
    ``src`` marker ('base' | 'update') so audits can count effective
    overwrites.

    Column contract: both inputs share the same schema (plus key/version);
    output = that schema + src.
    """
    tagged = base.withColumn("src", F.lit("base")).unionByName(
        updates.withColumn("src", F.lit("update"))
    )
    pick = Window.partitionBy(key_col).orderBy(
        F.col(version_col).desc(),
        F.when(F.col("src") == "update", 1).otherwise(0).desc(),
    )
    return (
        tagged.withColumn("_rk", F.row_number().over(pick))
        .filter(F.col("_rk") == 1)
        .drop("_rk")
    )


def scd2_build(
    updates: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "valid_from",
    tie_col: str = "event_id",
    op_col: str | None = None,
    delete_value: str = "D",
) -> DataFrame:
    """Build an SCD2 (slowly-changing-dimension type 2) history from an
    update stream: one validity interval per update, closed by the key's
    next update — the OTHER half of the CDC story ``latest_wins_merge``
    covers (that operator keeps only the latest row; this one keeps every
    version with its validity window, the anchor-versioning shape the
    reference implies by storing per-task anchors instead of overwriting,
    cf. internal/ProcessBatch.groovy:142-187).

    Adds: ``dim_version`` (1-based per key, ordered by (ts, tie)),
    ``valid_from`` (= ts), ``valid_to`` (next version's valid_from; NULL =
    open/current) and ``is_current``. Two updates at the same (key, ts)
    produce a zero-width interval for the lower ``tie_col`` — matched by no
    point-in-time probe, exactly the overwritten-in-same-instant semantics.

    ONE shuffle on the key; version numbering and the interval close are
    chained Window ops over the same partitioning (single Exchange).

    **Deletes (CDC tombstones).** With ``op_col`` set, rows whose op
    equals ``delete_value`` are tombstones: a tombstone closes the
    predecessor's interval at its timestamp and produces NO version row —
    the key has no current version until its next upsert (re-versioning
    then continues the count). Same-instant ties keep the zero-width-
    interval convention: an upsert immediately tombstoned at the same ts
    gets a zero-width interval no point-in-time probe matches. Plan cost
    is unchanged — the interval close sees all events, the version
    numbering windows over the filtered upserts, both on the SAME
    partitioning (one Exchange, one sort).
    """
    w = Window.partitionBy(key_col).orderBy(ts_col, tie_col)
    if op_col is None:
        return (
            updates.withColumn("dim_version", F.row_number().over(w).cast("long"))
            .withColumn("valid_from", F.col(ts_col))
            .withColumn("valid_to", F.lead(ts_col).over(w))
            .withColumn("is_current", F.col("valid_to").isNull())
        )
    # ANY event (upsert or tombstone) closes the previous interval;
    # only upserts become version rows
    closed = updates.withColumn("valid_to", F.lead(ts_col).over(w))
    live = closed.filter(F.col(op_col) != F.lit(delete_value))
    return (
        live.withColumn("dim_version", F.row_number().over(w).cast("long"))
        .withColumn("valid_from", F.col(ts_col))
        .withColumn("is_current", F.col("valid_to").isNull())
    )


def scd2_point_in_time(
    dim_updates: DataFrame,
    facts: DataFrame,
    key_col: str = "user_id",
    dim_ts_col: str = "valid_from",
    dim_tie_col: str = "event_id",
    fact_ts_col: str = "ts",
    fact_tie_col: str = "fact_id",
    attr_cols: tuple[str, ...] = ("score",),
    op_col: str | None = None,
    delete_value: str = "D",
) -> DataFrame:
    """Enrich each fact with the dimension version valid AT the fact's
    timestamp ("the attribute as of the order date") — the point-in-time
    read over the ``scd2_build`` history. With ``op_col`` set, tombstone
    updates (CDC deletes) are honored: a fact falling between a delete
    and the key's next upsert resolves to NULL dimension columns, exactly
    as if the key had never existed in that gap.

    Scale shape: the naive plan joins facts to intervals on key +
    containment (equi-join then per-key interval filter) — fine when
    versions-per-key is small, but it replicates every fact across the
    key's whole history before filtering. This implementation is the
    union/carry-forward construction instead (same family as
    ``temporal.asof_attribute``): tag dim versions 0 and facts 1, sort
    within key by (ts, tag, tie), carry the last dim payload forward with
    an ignore-nulls window ``last``. The fact table — the 100 TB side —
    is shuffled ONCE and never replicated; the dim side pays one extra
    (much smaller) shuffle for version numbering. Equal-timestamp
    semantics match interval containment exactly: dim rows sort before
    facts at the same instant (ASOF ``>=``), and among same-instant dim
    rows the last carried is the highest ``tie_col`` — the one whose
    interval is non-zero-width.

    Facts before the key's first version keep NULL dimension columns
    (LEFT point-in-time join). Output: all ``facts`` columns +
    (dim_version, valid_from, *attr_cols).
    """
    versioned = scd2_build(
        dim_updates, key_col, dim_ts_col, dim_tie_col, op_col, delete_value
    )
    tombstones = (
        dim_updates.filter(F.col(op_col) == F.lit(delete_value))
        if op_col is not None
        else None
    )
    return scd2_point_in_time_from(
        versioned, facts, key_col, dim_ts_col, dim_tie_col,
        fact_ts_col, fact_tie_col, attr_cols, tombstones,
    )


def scd2_point_in_time_from(
    versioned: DataFrame,
    facts: DataFrame,
    key_col: str = "user_id",
    dim_ts_col: str = "valid_from",
    dim_tie_col: str = "event_id",
    fact_ts_col: str = "ts",
    fact_tie_col: str = "fact_id",
    attr_cols: tuple[str, ...] = ("score",),
    tombstones: DataFrame | None = None,
) -> DataFrame:
    """The enrichment half of ``scd2_point_in_time`` over an ALREADY-built
    SCD2 history (``scd2_build`` output, or a maintained table read back
    via ``streaming.cdc.read_scd2``) — the point-in-time read path against
    a live CDC-maintained dimension: the stream keeps the table current,
    batch consumers enrich facts against it without replaying the update
    log. Same union/carry-forward plan (facts shuffle once, never
    replicated across version history).

    ``tombstones`` (rows with at least ``key_col``/``dim_ts_col``/
    ``dim_tie_col``) ride the dim side as carried DELETED markers: a fact
    whose last-carried dim event is a tombstone resolves to NULL
    dimension columns — ignore-nulls ``last`` alone cannot express a
    delete, because a NULL payload would be skipped instead of carried.
    """
    attr_types = {f.name: f.dataType for f in versioned.schema.fields}
    payload = F.struct(
        F.lit(False).alias("__del"),
        F.col("dim_version"),
        F.col("valid_from"),
        *[F.col(c) for c in attr_cols],
    )
    dim_side = versioned.select(
        F.col(key_col).alias("__key"),
        F.col(dim_ts_col).alias("__ts"),
        F.lit(0).alias("__tag"),
        F.col(dim_tie_col).cast("long").alias("__tie"),
        payload.alias("__dim"),
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in facts.schema.fields],
    )
    if tombstones is not None:
        tomb_payload = F.struct(
            F.lit(True).alias("__del"),
            F.lit(None).cast("long").alias("dim_version"),
            F.lit(None).cast(attr_types[dim_ts_col]).alias("valid_from"),
            *[F.lit(None).cast(attr_types[c]).alias(c) for c in attr_cols],
        )
        dim_side = dim_side.unionByName(
            tombstones.select(
                F.col(key_col).alias("__key"),
                F.col(dim_ts_col).alias("__ts"),
                F.lit(0).alias("__tag"),
                F.col(dim_tie_col).cast("long").alias("__tie"),
                tomb_payload.alias("__dim"),
                *[
                    F.lit(None).cast(f.dataType).alias(f.name)
                    for f in facts.schema.fields
                ],
            )
        )
    fact_side = facts.select(
        F.col(key_col).alias("__key"),
        F.col(fact_ts_col).alias("__ts"),
        F.lit(1).alias("__tag"),
        F.col(fact_tie_col).cast("long").alias("__tie"),
        F.lit(None).cast(dim_side.schema["__dim"].dataType).alias("__dim"),
        *[F.col(f.name) for f in facts.schema.fields],
    )
    order = (
        Window.partitionBy("__key")
        .orderBy("__ts", "__tag", "__tie")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = F.last("__dim", ignorenulls=True).over(order)
    # a fact is "covered" only when the last-carried dim event is a live
    # version (no event yet → NULL condition → NULL output; tombstone →
    # explicitly NULL output)
    alive = ~F.col("__carried.__del")
    return (
        dim_side.unionByName(fact_side)
        .withColumn("__carried", carried)
        .filter(F.col("__tag") == 1)
        .select(
            *[F.col(f.name) for f in facts.schema.fields],
            F.when(alive, F.col("__carried.dim_version")).alias("dim_version"),
            F.when(alive, F.col("__carried.valid_from")).alias("valid_from"),
            *[
                F.when(alive, F.col(f"__carried.{c}")).alias(c)
                for c in attr_cols
            ],
        )
    )


def scd2_snapshot_diff(
    updates: DataFrame,
    t1: str,
    t2: str,
    key_col: str = "user_id",
    ts_col: str = "valid_from",
    tie_col: str = "event_id",
    value_col: str = "score",
    op_col: str | None = None,
    delete_value: str = "D",
) -> DataFrame:
    """Per-key change report between the dimension's as-of-``t1`` and
    as-of-``t2`` states — the snapshot-diff a training pipeline runs to
    answer "what changed since the last data cut" before deciding what
    to reprocess. Change taxonomy: ``added`` (no version at t1, one at
    t2), ``changed`` (different versions), ``unchanged`` (same version),
    ``removed`` (version at t1, none at t2 — reachable only with CDC
    tombstones via ``op_col``, since without deletes a key's state never
    disappears).

    Plan: ONE ``scd2_build`` (one keyed shuffle); both as-of states are
    filters over the SAME interval table, so the exchange is reused
    across the two branches, and the full-outer diff join is keyed on
    ``key_col`` — co-partitioned with the build, no extra wide shuffle
    of the history. Zero-width same-instant intervals match neither
    probe, the ``scd2_point_in_time`` convention.
    """
    hist = scd2_build(updates, key_col, ts_col, tie_col, op_col, delete_value)

    def state_at(t: str, side: str) -> DataFrame:
        probe = F.lit(t).cast("timestamp")
        return hist.filter(
            (F.col("valid_from") <= probe)
            & (F.col("valid_to").isNull() | (probe < F.col("valid_to")))
        ).select(
            F.col(key_col),
            F.col("dim_version").alias(f"version_{side}"),
            F.col(value_col).alias(f"value_{side}"),
        )

    joined = state_at(t1, "t1").join(state_at(t2, "t2"), key_col, "full_outer")
    change = (
        F.when(F.col("version_t1").isNull(), F.lit("added"))
        .when(F.col("version_t2").isNull(), F.lit("removed"))
        .when(F.col("version_t1") == F.col("version_t2"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return joined.select(
        key_col,
        change.alias("change"),
        "version_t1",
        "version_t2",
        "value_t1",
        "value_t2",
    )
