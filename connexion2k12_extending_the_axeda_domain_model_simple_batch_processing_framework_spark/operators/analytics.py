"""Relational analytics operators — the engine's general query surface.

TPC-H-shaped plans chosen to exercise the physical strategies that matter at
100 TB: decimal-exact grouped aggregation (Q1), broadcast-dim star joins
(Q3/Q5), window top-k, time-bucketed rollups, semi/anti joins, conditional
pivots. Money math follows SURVEY.md §6: cast to DECIMAL(18,2) *before*
aggregation so sums are exact and oracle-hash-stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.checkpoint import cut_lineage
from ..functions.prefixsum import ordered_cummax_excl, ordered_cumsum
from ..functions.rounding import iround_ratio, iround_ratio_signed

D = "decimal(18,2)"


def q1_pricing_summary(lineitem: DataFrame, cutoff: str = "1998-09-02") -> DataFrame:
    """Pricing summary report. Single scan → partial agg → final agg; the
    shipdate filter is pushed to the parquet scan; no joins, one shuffle on
    the 6-ish distinct group keys (tiny reduce side even at 100 TB)."""
    qty = F.col("l_quantity").cast(D)
    price = F.col("l_extendedprice").cast(D)
    disc = F.col("l_discount").cast(D)
    tax = F.col("l_tax").cast(D)
    disc_price = price * (1 - disc)
    charge = disc_price * (1 + tax)
    return (
        lineitem.filter(F.col("l_shipdate") <= F.lit(cutoff).cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).alias("sum_qty"),
            F.sum(price).alias("sum_base_price"),
            F.sum(disc_price).alias("sum_disc_price"),
            F.sum(charge).alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
            # exact decimal/int ratio => midpoint-exposed; integer round
            # (cents-scale the numerator AND denominator: S/n = 100S/100n)
            iround_ratio(
                F.sum(qty) * F.lit(100), F.count(F.lit(1)) * F.lit(100), 4
            ).alias("avg_qty"),
        )
    )


def q3_shipping_priority(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    segment: str = "BUILDING",
    cutoff: str = "1995-03-15",
) -> DataFrame:
    """Revenue of unshipped orders. The orders⋈lineitem join shuffles on
    orderkey; top-10 via TakeOrderedAndProject (no global sort).

    Join strategy: NO static broadcast hint on customer — customer scales
    with the fact tables (TPC-H: 150k × SF rows; the segment filter keeps
    ~1/5, still linear in SF), so a pinned broadcast OOMs executors at
    100×. AQE picks the build side from actual runtime sizes: under the
    autoBroadcastJoinThreshold the filtered customer set broadcasts, and
    above it the join degrades to a shuffle on custkey. Both regimes are
    pinned by tests/test_plans.py (same treatment as Q18)."""
    revenue = (F.col("l_extendedprice").cast(D) * (1 - F.col("l_discount").cast(D)))
    cut = F.lit(cutoff).cast("timestamp")
    cust = customer.filter(F.col("c_mktsegment") == segment).select("c_custkey")
    return (
        orders.filter(F.col("o_orderdate") < cut)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            lineitem.filter(F.col("l_shipdate") > cut),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(revenue).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderdate").asc(), F.col("l_orderkey").asc())
        .limit(10)
    )


def q5_local_supplier_volume(
    tables: dict[str, DataFrame], region: str = "ASIA"
) -> DataFrame:
    """Star join: region→nation are broadcast dims (constant-size — 5 and
    25 rows at every SF, so the static hints are correct); supplier joins
    on (suppkey, nationkey) to enforce the local-supplier condition; the
    large shuffles are orders⋈lineitem and ⋈customer on their keys.

    Join strategy: NO static broadcast hint on supplier — supplier scales
    with the fact tables (TPC-H: 10k × SF rows), so a pinned broadcast
    OOMs executors at 100×. AQE sizes it at runtime: broadcast under the
    threshold, shuffle join on suppkey above it. Both regimes are pinned
    by tests/test_plans.py (same treatment as Q18/Q3)."""
    t = tables
    nations = (
        t["nation"]
        .join(F.broadcast(t["region"].filter(F.col("r_name") == region)),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .select("n_nationkey", "n_name")
    )
    revenue = F.col("l_extendedprice").cast(D) * (1 - F.col("l_discount").cast(D))
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(t["supplier"], F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nations), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.sum(revenue).alias("revenue"))
    )


def top_orders_per_customer(orders: DataFrame, k: int = 3) -> DataFrame:
    """Top-k orders by totalprice per customer — one shuffle on custkey,
    rank computed within partitions, deterministic orderkey tiebreak."""
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
    )


def events_hourly_rollup(events: DataFrame) -> DataFrame:
    """Tumbling-window rollup: hour bucket × event_type counts + exact sums.
    Equivalent to a Structured Streaming windowed agg in batch form."""
    return (
        events.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(D)).alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


SLIDE_WINDOW = "1 hour"
SLIDE_STEP = "30 minutes"


def events_sliding_rollup(events: DataFrame) -> DataFrame:
    """Sliding-window rollup: 1-hour windows every 30 minutes, so each
    event lands in exactly window/slide = 2 windows. ``F.window`` expands
    the memberships as a generator BEFORE the shuffle — output volume is
    2× the input feeding one groupBy (map-side combined), not a
    self-join of hour buckets.

    Output: window_start, event_type, n_events, sum_value, n_users.
    """
    win = F.window(F.col("ts"), SLIDE_WINDOW, SLIDE_STEP)
    return (
        events.groupBy(win.alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(D)).alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            F.col("n_events").cast("long").alias("n_events"),
            F.col("sum_value").cast("double").alias("sum_value"),
            F.col("n_users").cast("long").alias("n_users"),
        )
    )


def customers_without_orders(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """LEFT ANTI join (NOT EXISTS). At scale: shuffle-partitioned on the
    key; AQE converts to broadcast when the orders key set is small."""
    return customer.join(
        orders.select("o_custkey"), customer.c_custkey == F.col("o_custkey"), "left_anti"
    ).select("c_custkey", "c_name", "c_acctbal")


def events_type_pivot(events: DataFrame) -> DataFrame:
    """Conditional-aggregation pivot: one pass, one shuffle on user_id —
    the classic replacement for N separate filtered joins."""
    def n_of(t: str):
        return F.sum(F.when(F.col("event_type") == t, 1).otherwise(0)).cast("long").alias(f"n_{t}")

    return events.groupBy("user_id").agg(
        *[n_of(t) for t in ["click", "view", "purchase", "signup", "error"]],
        F.sum(F.when(F.col("event_type") == "purchase", F.col("value").cast(D)).otherwise(F.lit(0).cast(D))).alias("purchase_value"),
    )


def events_props_metric(events: DataFrame) -> DataFrame:
    """Semi-structured path: parse the JSON ``props`` column and aggregate
    the embedded metric per event_type. JSON parsing is a JVM-side
    expression (get_json_object) evaluated during the scan projection —
    no UDF, prunes to two columns at the reader."""
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            # avg(k) = sum(k)/count(k) (NULL-skipping) is an exact-int
            # ratio => midpoint-exposed; signed integer round (JSON
            # metric is not guaranteed non-negative)
            iround_ratio_signed(F.sum("k"), F.count("k"), 6).alias("avg_k"),
        )
    )


def orders_rollup(orders: DataFrame) -> DataFrame:
    """Multi-level totals in one pass: ROLLUP over (orderstatus,
    orderpriority) computes per-(status,priority), per-status and grand
    totals in a single shuffle instead of three queries. ``grouping_id``
    disambiguates the NULL-as-total rows."""
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast(D)).alias("sum_price"),
            F.grouping_id().cast("long").alias("gid"),
        )
    )


#: Greenwald-Khanna sketch accuracy for the approx-percentile scale
#: variants: the sketch is fixed-size (O(accuracy·log(εn)) per group,
#: partial-aggregated map-side and MERGED across partitions — no reducer
#: ever buffers raw values), and below `accuracy` rows it stores every
#: sample, so its answer is EXACTLY the discrete percentile (value at
#: rank ceil(p·n)) — which is what lets the DuckDB oracle (quantile_disc)
#: hash-match the scale variants at gate SF while the same plan degrades
#: gracefully (rank error ≤ n/accuracy) at 100 TB.
#:
#: Sizing: the sketch's heap cost GROWS with this constant, so it is a
#: memory knob, not a free accuracy knob. 1e6 looked harmless at sf0.1
#: but OOMed an 8 GiB local[32] heap at sf10 (measured, r11 scale probe:
#: GK worst case ~(1/ε)·log(2εn)/2 entries × ~50 B object × 32
#: concurrent tasks × |groups| ≈ heap). Exactness is NOT "below
#: accuracy rows": GK may drop a sample once its insert delta
#: floor(2n/accuracy) reaches 1, so bit-exactness holds for
#: n < accuracy/2. The largest gate relation (sf0.01 lineitem,
#: ungrouped in `price_bins`) is 60k rows ⇒ accuracy > 120k required;
#: 150k gives margin while bounding the per-task sketch to ~10-20 MB
#: at sf10 — the size that survives a 1000-executor cluster where each
#: core still only gets ~1 GiB (growth above that is log(n) only).
PCTL_ACCURACY = 150_000


def price_quantiles(lineitem: DataFrame, exact: bool = False) -> DataFrame:
    """Quantiles of extendedprice per returnflag — the distribution
    statistics a quality/outlier filter needs.

    Default (``exact=False``) is the scale path: ``approx_percentile``
    with a mergeable fixed-size GK sketch — bounded memory per group,
    map-side partial aggregation, no reducer buffers the column. The
    discrete semantics (value at rank ceil(p·n)) are engine-exact below
    ``PCTL_ACCURACY`` rows per group, so the variant is oracle-checked
    against DuckDB ``quantile_disc``. ``exact=True`` keeps the
    interpolated ``percentile`` reference (buffers each group's values
    on its reducer — the accuracy baseline, not the 100 TB plan)."""
    src = "l_extendedprice" if exact else "CAST(l_extendedprice AS DOUBLE)"
    fn = "percentile" if exact else f"approx_percentile"
    acc = "" if exact else f", {PCTL_ACCURACY}"
    pct = F.expr(f"{fn}({src}, array(0.25D, 0.5D, 0.75D, 0.95D){acc})")
    return (
        lineitem.groupBy("l_returnflag")
        .agg(pct.alias("q"))
        .select(
            "l_returnflag",
            F.round(F.col("q")[0].cast("double"), 4).alias("p25"),
            F.round(F.col("q")[1].cast("double"), 4).alias("p50"),
            F.round(F.col("q")[2].cast("double"), 4).alias("p75"),
            F.round(F.col("q")[3].cast("double"), 4).alias("p95"),
        )
    )


def events_moving_avg(events: DataFrame, window_rows: int = 3) -> DataFrame:
    """Per-user trailing moving average of event values (current row +
    ``window_rows`` preceding), ordered by (ts, event_id).

    Single shuffle on user_id, then a sorted frame scan per partition — the
    canonical streaming-feature backfill (e.g. "user's recent spend") as
    one window plan. Skewed power-users are bounded by AQE skew handling;
    the frame is ROWS-based so memory per group is O(window_rows).
    """
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(-window_rows, 0)
    )
    return events.select(
        "event_id",
        "user_id",
        "ts",
        F.col("value").cast("double").alias("value"),
        # windowed mean of exact cents => midpoint-exposed; integer round
        iround_ratio(
            F.sum((F.col("value").cast(D) * 100).cast("decimal(38,0)")).over(w),
            F.count(F.col("value")).over(w) * F.lit(100),
            6,
        ).alias("moving_avg"),
    )


def value_histogram(events: DataFrame, bucket_width: float = 10.0) -> DataFrame:
    """Fixed-width histogram of event values: one groupBy on the bucket
    index (map-side combine ⇒ shuffle rows = #buckets × partitions no
    matter the input size) — the profiling primitive for choosing filter
    thresholds over a 100 TB column."""
    bucket = F.floor(F.col("value") / bucket_width).cast("long")
    return (
        events.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            # round-ok: min/max of a 2-decimal money column — no 7th
            # decimal digit exists for round(.., 6) to split on
            F.round(F.min("value"), 6).alias("min_value"),
            F.round(F.max("value"), 6).alias("max_value"),
        )
    )


ANOMALY_Z = 3.0


def value_anomalies(events: DataFrame, z_threshold: float = ANOMALY_Z) -> DataFrame:
    """Per-user z-score outliers: events whose value deviates more than
    ``z_threshold`` standard deviations from that user's mean — the basic
    telemetry anomaly screen (the reference's task stream has no numeric
    QA at all; this is the distributed version of "flag weird readings").

    Two-pass shape: pass 1 reduces each user to three EXACT numbers
    (count, sum, sum of squares — value is a 2-decimal reading, so both
    sums run in DECIMAL: order-independent, bit-identical across
    partitionings and engines, unlike a double sum); pass 2 re-joins the
    per-user stats (AQE broadcasts the small side) and flags rows. Sample
    standard deviation (n-1); single-event users have no std and are
    never anomalous. Shuffles: one groupBy on user_id + the stats join —
    both on the same key, co-partitioned.
    """
    d = F.col("value").cast("decimal(18,2)")
    stats = events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(d).alias("__s"),
        F.sum(d * d).alias("__ss"),
    )
    n, s, ss = F.col("__n"), F.col("__s").cast("double"), F.col("__ss").cast("double")
    mean = s / n
    var = F.when(n > 1, (ss - s * s / n) / (n - 1)).otherwise(F.lit(None))
    std = F.sqrt(var)
    z = F.when(std > 0, (F.col("value") - mean) / std)
    return (
        events.select("event_id", "user_id", "value")
        .join(stats, "user_id")
        .select(
            "event_id",
            "user_id",
            "value",
            # exact cents/int ratio => midpoint-exposed; integer round
            iround_ratio(
                F.col("__s") * F.lit(100), F.col("__n") * F.lit(100), 6
            ).alias("user_mean"),
            # round-ok: zscore passes through a correctly-rounded sqrt
            # of a non-square rational — never an exact decimal midpoint
            F.round(z, 6).alias("zscore"),
        )
        .filter(F.abs(F.col("zscore")) > z_threshold)
    )


def table_profile(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Data profiling — the first query anyone runs on 100 TB of new
    data: per column, row count, null count, exact distinct count, and
    the native min/max rendered as strings (one schema for all types).

    ONE aggregation pass computes every column's stats (Spark plans the
    multi-distinct via a single Expand + shuffle — column-count×, not
    pass-count×); the per-column output rows come from inlining a
    struct array over the 1-row aggregate, not from re-scanning. At
    100 TB swap countDistinct for approx_count_distinct (HLL) per the
    engine's documented cardinality policy; exact here for the oracle.
    """
    cols = cols or df.columns
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"__null_{c}"),
            F.countDistinct(F.col(c)).alias(f"__dist_{c}"),
            F.min(F.col(c)).cast("string").alias(f"__min_{c}"),
            F.max(F.col(c)).cast("string").alias(f"__max_{c}"),
        ]
    row = df.agg(*aggs)
    entries = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col("__n").cast("long").alias("n_rows"),
                F.col(f"__null_{c}").cast("long").alias("n_null"),
                F.col(f"__dist_{c}").cast("long").alias("n_distinct"),
                F.col(f"__min_{c}").alias("min_value"),
                F.col(f"__max_{c}").alias("max_value"),
            )
            for c in cols
        ]
    )
    return row.select(F.inline(entries))


def table_profile_scaled(
    df: DataFrame, cols: list[str] | None = None
) -> DataFrame:
    """The 100 TB variant of ``table_profile``: distinct cardinality via
    the engine's deterministic KMV sketch instead of exact countDistinct
    — per-column aggregate state is k hash longs regardless of
    cardinality, where the exact form shuffles EVERY distinct value
    through the multi-distinct Expand. The documented trade made code,
    like the approx-percentile twins (17p): the md5-derived sketch is
    engine-reproducible, so the estimate itself is oracle-checked.

    Plan: one Expand-free base aggregate (counts/nulls/min/max), plus a
    melted (column, value-hash) distinct stream reduced by the salted
    two-phase top-k of ``sketches.kmv_distinct_tokens`` — no column ever
    funnels through one task. Estimate = (k-1)·2⁶⁰ / kth-min hash, exact
    when a column has < k distinct values. Output matches
    ``table_profile`` with ``n_distinct`` replaced by ``distinct_est``
    (double)."""
    from ..functions.hashing import hex_hash64
    from .sketches import HASH_SPACE, KMV_K, KMV_SALT_BUCKETS

    cols = cols or df.columns
    k, salt_buckets = KMV_K, KMV_SALT_BUCKETS
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"__null_{c}"),
            F.min(F.col(c)).cast("string").alias(f"__min_{c}"),
            F.max(F.col(c)).cast("string").alias(f"__max_{c}"),
        ]
    row = df.agg(*aggs)
    entries = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col("__n").cast("long").alias("n_rows"),
                F.col(f"__null_{c}").cast("long").alias("n_null"),
                F.col(f"__min_{c}").alias("min_value"),
                F.col(f"__max_{c}").alias("max_value"),
            )
            for c in cols
        ]
    )
    base = row.select(F.inline(entries))

    pairs = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column"),
                        hex_hash64(F.col(c).cast("string")).alias("h"),
                    )
                    for c in cols
                ]
            )
        ).alias("p")
    ).select("p.column", "p.h").where(F.col("h").isNotNull())
    hs = pairs.distinct()
    w1 = Window.partitionBy("column", "_salt").orderBy(F.col("h").asc())
    w2 = Window.partitionBy("column").orderBy(F.col("h").asc())
    topk = (
        hs.withColumn("_salt", F.col("h") % salt_buckets)
        .withColumn("_rk1", F.row_number().over(w1))
        .filter(F.col("_rk1") <= k)
        .withColumn("_rk", F.row_number().over(w2))
        .filter(F.col("_rk") <= k)
        .groupBy("column")
        .agg(
            F.max("h").alias("__kth"),
            F.count(F.lit(1)).alias("__k_actual"),
        )
    )
    est = F.when(
        F.col("__k_actual") < k, F.col("__k_actual").cast("double")
    ).otherwise(
        # round-ok: KMV estimator — the denominator is a ~2^63 pseudo-random
        # hash, so the quotient's distance to any 5th-decimal midpoint is
        # uniform at ~2^-63 granularity (P[ulp-coincidence] ~ 1e-12); both
        # engines evaluate the identical double DAG
        F.round(F.lit(float(k - 1)) * F.lit(HASH_SPACE) / F.col("__kth"), 4)
    )
    return base.join(topk, "column", "left").select(
        "column",
        "n_rows",
        "n_null",
        F.coalesce(est, F.lit(0.0)).alias("distinct_est"),
        "min_value",
        "max_value",
    )


def q10_returned_items(tables: dict, date_from: str, date_to: str, k: int = 20) -> DataFrame:
    """TPC-H Q10 shape: top-k customers by revenue lost to returned items
    in a quarter — the reference's error-anchor reporting
    (GetBatchErrors.groovy) generalized to a revenue ranking.

    Plan: the orders date filter pushes to the scan; orders ⋈ lineitem
    shuffles on the key (the two fact tables); customer joins the
    aggregated result and nation broadcasts. Decimal-exact revenue; the
    top-k is a TakeOrdered, not a global sort.
    """
    d = "decimal(18,2)"
    li = tables["lineitem"].filter(F.col("l_returnflag") == "R")
    o = tables["orders"].filter(
        (F.col("o_orderdate") >= date_from) & (F.col("o_orderdate") < date_to)
    )
    rev = (F.col("l_extendedprice").cast(d) * (1 - F.col("l_discount").cast(d))).alias(
        "rev"
    )
    per_cust = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("c_custkey"), rev)
        .groupBy("c_custkey")
        .agg(F.sum("rev").alias("revenue"))
    )
    cust = tables["customer"].select("c_custkey", "c_name", "c_nationkey")
    nat = tables["nation"].select("n_nationkey", "n_name")
    return (
        per_cust.join(cust, "c_custkey")
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .select("c_custkey", "c_name", "n_name", F.col("revenue").cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(k)
    )


Q18_MIN_QTY = 300


def q18_large_volume_orders(tables: dict, min_qty: int = Q18_MIN_QTY, k: int = 50) -> DataFrame:
    """TPC-H Q18 shape: orders whose total line quantity exceeds a
    threshold, with customer detail — the HAVING-on-aggregate +
    semi-join-back pattern.

    The qualifying-order set comes from ONE aggregation of lineitem
    (map-side combined, decimal-exact), and both fact tables join it by
    key; the order spine never re-aggregates. Top-k is a TakeOrdered on
    (qty desc, key).

    Join strategy: NO static broadcast hint on customer — customer grows
    with the fact tables (TPC-H: 150k × SF rows), so a pinned broadcast
    OOMs executors at 100×. AQE picks the build side at runtime from
    actual sizes: the qualifying-order set (a >min_qty HAVING over the
    order population — tiny at every SF by selectivity) broadcasts into
    the customer join, and customer degrades to a shuffle join the moment
    it exceeds spark.sql.autoBroadcastJoinThreshold. Both regimes are
    pinned by tests/test_plans.py.
    """
    d = "decimal(18,2)"
    li = tables["lineitem"].select(
        "l_orderkey", F.col("l_quantity").cast(d).alias("qty")
    )
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("qty").alias("total_qty"))
        .filter(F.col("total_qty") > min_qty)
    )
    o = tables["orders"].select("o_orderkey", "o_custkey", "o_orderdate")
    c = tables["customer"].select("c_custkey", "c_name")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            F.col("c_custkey").cast("long").alias("c_custkey"),
            "c_name",
            F.col("o_orderkey").cast("long").alias("o_orderkey"),
            "o_orderdate",
            F.col("total_qty").cast("double").alias("total_qty"),
        )
        .orderBy(F.col("total_qty").desc(), F.col("o_orderkey").asc())
        .limit(k)
    )


def q7_nation_volume(
    tables: dict,
    nation_a: str,
    nation_b: str,
    date_from: str = "1995-01-01",
    date_to: str = "1997-01-01",
) -> DataFrame:
    """TPC-H Q7 shape: bilateral shipping volume between two nations by
    year — the two-role dimension pattern: nation joins the fact pipeline
    TWICE under different roles (supplier's nation, customer's nation),
    each a broadcast; the pair predicate keeps both directions.

    Plan: the date filter pushes to the lineitem scan; lineitem ⋈ orders
    shuffles on the order key (fact-fact); supplier and customer join
    their keys (AQE chooses the side); both nation roles broadcast
    (constant-size dims). One final groupBy on (supp_nation, cust_nation,
    year) — decimal-exact revenue, then double for output.
    """
    d = "decimal(18,2)"
    li = tables["lineitem"].filter(
        (F.col("l_shipdate") >= date_from) & (F.col("l_shipdate") < date_to)
    )
    o = tables["orders"].select("o_orderkey", "o_custkey")
    c = tables["customer"].select("c_custkey", "c_nationkey")
    s = tables["supplier"].select("s_suppkey", "s_nationkey")
    n1 = tables["nation"].select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = tables["nation"].select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    vol = (F.col("l_extendedprice").cast(d) * (1 - F.col("l_discount").cast(d))).alias(
        "vol"
    )
    pair_ok = (
        (F.col("supp_nation") == nation_a) & (F.col("cust_nation") == nation_b)
    ) | ((F.col("supp_nation") == nation_b) & (F.col("cust_nation") == nation_a))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey"))
        .filter(pair_ok)
        .select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
            vol,
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.sum("vol").cast("double").alias("revenue"))
    )


def q16_supplier_diversity(
    tables: dict,
    exclude_brand: str = "Brand#1",
    sizes: tuple[int, ...] = (10, 20, 30, 40),
) -> DataFrame:
    """TPC-H Q16 shape: how many distinct suppliers serve each surviving
    (brand, type, size) part class — the NOT-IN + count-distinct pattern.
    The part-supplier relation comes from observed lineitem pairs (the
    schema has no partsupp table); "complaint" suppliers (negative account
    balance) are excluded with an ANTI join.

    Plan: the (partkey, suppkey) distinct is one map-side-combined
    shuffle of two long columns; the exclusion set is tiny → broadcast
    anti-join; part attributes join on partkey (AQE picks the side); the
    count-distinct groups on (brand, type, size). Filters on part push to
    its scan.
    """
    rel = (
        tables["lineitem"].select(
            F.col("l_partkey").alias("p_key"), F.col("l_suppkey").alias("s_key")
        )
        .distinct()
    )
    bad = tables["supplier"].filter(F.col("s_acctbal") < 0).select(
        F.col("s_suppkey").alias("s_key")
    )
    parts = tables["part"].filter(
        (F.col("p_brand") != exclude_brand) & (F.col("p_size").isin(*sizes))
    ).select(F.col("p_partkey").alias("p_key"), "p_brand", "p_type", "p_size")
    return (
        rel.join(F.broadcast(bad), "s_key", "left_anti")
        .join(parts, "p_key")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct(F.col("s_key")).alias("supplier_cnt"))
        .select(
            "p_brand",
            "p_type",
            F.col("p_size").cast("long").alias("p_size"),
            F.col("supplier_cnt").cast("long").alias("supplier_cnt"),
        )
    )


# ---------------------------------------------------------------------------
# r4 widening: the remaining TPC-H physical shapes expressible on this
# schema (no partsupp / commitdate / shipmode / phone columns — each query
# notes its adaptation). Reference parity: these are the ad-hoc analytics a
# Connexion2k12 operator would run over task/batch history; the reference
# itself has no query engine (CreateBatch.groovy:1 onward is per-row service
# code), so the shapes follow the public TPC-H specification.
# ---------------------------------------------------------------------------


def q6_forecast_revenue(
    lineitem: DataFrame,
    date_from: str = "1996-01-01",
    date_to: str = "1997-01-01",
    disc_lo: float = 0.03,
    disc_hi: float = 0.05,
    max_qty: int = 24,
) -> DataFrame:
    """TPC-H Q6 shape: revenue change from hypothetically eliminating
    small discounts — a pure scan query, zero joins, zero wide shuffles.

    Plan: ALL four predicates (shipdate range, discount band, quantity
    cap) push to the parquet scan as PushedFilters; the aggregation is a
    partial-sum → single-row final. At 100 TB this is the I/O-bound query
    that proves pushdown works: row-group statistics skip most of the
    file before a byte of l_extendedprice is decoded.
    """
    return (
        lineitem.filter(
            (F.col("l_shipdate") >= date_from)
            & (F.col("l_shipdate") < date_to)
            & (F.col("l_discount") >= disc_lo)
            & (F.col("l_discount") <= disc_hi)
            & (F.col("l_quantity") < max_qty)
        )
        .agg(
            F.sum(
                F.col("l_extendedprice").cast(D) * F.col("l_discount").cast(D)
            ).cast("double").alias("revenue")
        )
    )


def q4_order_priority(
    orders: DataFrame,
    lineitem: DataFrame,
    date_from: str = "1996-01-01",
    date_to: str = "1996-04-01",
    late_days: int = 90,
) -> DataFrame:
    """TPC-H Q4 shape: order-priority checking — how many orders per
    priority had at least one late line item. The schema has no
    commitdate/receiptdate pair, so "late" is adapted to a line shipped
    more than ``late_days`` after the order date — preserving the
    defining feature: an EXISTS whose predicate CORRELATES the two
    tables' columns (l_shipdate vs o_orderdate), not a pure key match.

    Plan: a LEFT SEMI hash join on the order key with the inequality as
    a residual join filter — one shuffle, no duplication of orders with
    many late lines; the date-range filter pushes to the orders scan.
    """
    o = orders.filter(
        (F.col("o_orderdate") >= date_from) & (F.col("o_orderdate") < date_to)
    )
    li = lineitem.select("l_orderkey", "l_shipdate")
    cond = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate")
        > F.col("o_orderdate") + F.expr(f"INTERVAL {late_days} DAYS")
    )
    return (
        o.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("order_count"))
    )


def q8_market_share(
    tables: dict,
    region: str = "ASIA",
    nation: str = "NATION_2",
    ptype: str = "ECONOMY",
    date_from: str = "1995-01-01",
    date_to: str = "1997-01-01",
) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of a region's market for one
    part type, by year — the conditional-numerator ratio over a star
    join (CASE inside sum, single pass, no second scan).

    Plan: the two nation-role dims and the region set broadcast
    (constant-size); part and supplier are left to AQE — both GROW with
    the scale factor, so a pinned broadcast would OOM at 100× (the Q18
    lesson); the fact chain lineitem ⋈ orders ⋈ customer shuffles on its
    keys; the share is an exact decimal-sum ratio computed in the final
    single-row-per-year aggregate. No join or scan repeats for the
    numerator.
    """
    t = tables
    vol = (
        F.col("l_extendedprice").cast(D) * (1 - F.col("l_discount").cast(D))
    ).alias("vol")
    region_nations = (
        t["nation"]
        .join(
            F.broadcast(t["region"].filter(F.col("r_name") == region)),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select(F.col("n_nationkey").alias("c_nkey"))
    )
    supp_nation = t["nation"].select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    parts = t["part"].filter(F.col("p_type") == ptype).select("p_partkey")
    li = (
        t["lineitem"]
        .join(parts, F.col("l_partkey") == F.col("p_partkey"))
        .join(
            t["orders"].filter(
                (F.col("o_orderdate") >= date_from)
                & (F.col("o_orderdate") < date_to)
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(region_nations), F.col("c_nationkey") == F.col("c_nkey"))
        .join(
            t["supplier"].select("s_suppkey", "s_nationkey"),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(F.broadcast(supp_nation), F.col("s_nationkey") == F.col("s_nkey"))
        .select(F.year("o_orderdate").cast("long").alias("o_year"), "supp_nation", vol)
    )
    nation_vol = F.sum(F.when(F.col("supp_nation") == nation, F.col("vol"))
                       .otherwise(F.lit(0).cast(D)))
    return (
        li.groupBy("o_year")
        .agg(
            # decimal scale-4 ratio => midpoint-exposed; integer round
            iround_ratio(
                nation_vol * F.lit(10_000), F.sum("vol") * F.lit(10_000), 6
            ).alias("mkt_share"),
            F.sum("vol").cast("double").alias("total_vol"),
        )
    )


def q9_profit_by_nation_year(tables: dict, name_like: str = "ol") -> DataFrame:
    """TPC-H Q9 shape: profit by supplier nation and order year for parts
    whose name contains a substring. The schema has no partsupp, so the
    profit proxy is discounted revenue (the supplycost term is dropped);
    the defining features survive: a LIKE '%..%' part filter that cannot
    push below the join, a 4-table chain, and a (nation, year) rollup.

    Plan: nation broadcasts (constant-size); the name-filtered part set
    and supplier join under AQE sizing — both scale with SF, so no
    pinned broadcast; the only big shuffle is lineitem ⋈ orders on the
    order key, then one groupBy on the two small keys.
    """
    t = tables
    vol = (
        F.col("l_extendedprice").cast(D) * (1 - F.col("l_discount").cast(D))
    ).alias("vol")
    parts = t["part"].filter(F.col("p_name").contains(name_like)).select("p_partkey")
    nations = t["nation"].select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("nation")
    )
    return (
        t["lineitem"]
        .join(parts, F.col("l_partkey") == F.col("p_partkey"))
        .join(
            t["orders"].select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            t["supplier"].select("s_suppkey", "s_nationkey"),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(F.broadcast(nations), F.col("s_nationkey") == F.col("s_nkey"))
        .select("nation", F.year("o_orderdate").cast("long").alias("o_year"), vol)
        .groupBy("nation", "o_year")
        .agg(F.sum("vol").cast("double").alias("sum_profit"))
    )


def q13_order_count_distribution(
    customer: DataFrame, orders: DataFrame, exclude_priority: str = "1-URGENT"
) -> DataFrame:
    """TPC-H Q13 shape: distribution of customers by how many orders they
    placed — including the zero-order customers only an OUTER join can
    see. The spec's o_comment NOT LIKE filter is adapted to an order
    -priority exclusion (no comment column in this schema).

    Plan: two cascaded aggregations — count per customer (shuffle on
    custkey, the LEFT join preserves order-less customers), then the
    tiny count-of-counts (distinct order counts are < 100 even at
    100 TB, so the second shuffle is trivial).
    """
    o = orders.filter(F.col("o_orderpriority") != exclude_priority).select(
        "o_orderkey", "o_custkey"
    )
    per_cust = (
        customer.select("c_custkey")
        .join(o, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("long").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).cast("long").alias("custdist"))
    )


def q14_promo_revenue(
    lineitem: DataFrame,
    part: DataFrame,
    date_from: str = "1996-01-01",
    date_to: str = "1996-02-01",
    promo_type: str = "PROMO",
) -> DataFrame:
    """TPC-H Q14 shape: the share of one month's revenue from promotional
    parts — conditional numerator over a fact⋈dim join, single output
    row.

    Plan: the date filter pushes to the lineitem scan; part joins on
    partkey (AQE sizes the side — part is ~1/30 of lineitem rows and
    broadcastable until very large SF); numerator and denominator come
    out of ONE aggregate pass via CASE.
    """
    promo = F.when(
        F.col("p_type") == promo_type,
        F.col("l_extendedprice").cast(D) * (1 - F.col("l_discount").cast(D)),
    ).otherwise(F.lit(0).cast(D))
    total = F.col("l_extendedprice").cast(D) * (1 - F.col("l_discount").cast(D))
    return (
        lineitem.filter(
            (F.col("l_shipdate") >= date_from) & (F.col("l_shipdate") < date_to)
        )
        .join(part.select("p_partkey", "p_type"),
              F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            # 100*(scale-4 ratio) => midpoint-exposed; integer round
            iround_ratio(
                F.sum(promo) * F.lit(1_000_000),
                F.sum(total) * F.lit(10_000),
                6,
            ).alias("promo_revenue_pct"),
            F.sum(total).cast("double").alias("total_revenue"),
        )
    )


def q15_top_supplier(
    lineitem: DataFrame,
    supplier: DataFrame,
    date_from: str = "1996-01-01",
    date_to: str = "1996-04-01",
) -> DataFrame:
    """TPC-H Q15 shape: the supplier(s) with maximum revenue in a quarter
    — the max-of-aggregate pattern (the spec's CREATE VIEW + scalar
    subquery), kept exact under ties by comparing DECIMAL totals, never
    doubles.

    Plan: one shuffle aggregates revenue per suppkey; the winner filter
    is a scalar max — ``rev.agg(max)`` reduces map-side to one row per
    partition, then one row total, which broadcasts back into an
    equality filter over the aggregate. All rows EQUAL to the max
    survive, which is exactly dense_rank()==1 tie semantics without the
    unpartitioned Window the old plan used (a global Window funnels
    every supplier row — 10k × SF — through ONE task at scale;
    ``WindowExec: No Partition Defined``). The aggregate subtree appears
    under both the max branch and the filter branch, but the shuffle
    exchange is identical in both, so Spark's ReuseExchange rule
    (spark.sql.exchange.reuse, on by default) collapses them — lineitem
    is still scanned ONCE (pinned by tests/test_plans.py).
    Supplier attributes join onto the ≥1 winners under AQE sizing
    (supplier scales with SF; the winner side is tiny, so AQE broadcasts
    THAT side, which no static hint can express).
    """
    rev = (
        lineitem.filter(
            (F.col("l_shipdate") >= date_from)
            & (F.col("l_shipdate") < date_to)
            # explicit, though implied by the supplier join: WITHOUT it the
            # optimizer infers isnotnull(l_suppkey) on the join branch only,
            # the two aggregate subtrees stop canonicalizing identically,
            # and ReuseExchange can no longer collapse them into one scan.
            & F.col("l_suppkey").isNotNull()
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.sum(
                F.col("l_extendedprice").cast(D) * (1 - F.col("l_discount").cast(D))
            ).alias("total_rev")
        )
    )
    mx = rev.agg(F.max("total_rev").alias("max_rev"))
    return (
        rev.join(F.broadcast(mx), rev.total_rev == mx.max_rev)
        .drop("max_rev")
        .join(
            supplier.select("s_suppkey", "s_name"),
            F.col("supplier_no") == F.col("s_suppkey"),
        )
        .select(
            F.col("s_suppkey").cast("long").alias("s_suppkey"),
            "s_name",
            F.col("total_rev").cast("double").alias("total_revenue"),
        )
    )


def q17_small_quantity_revenue(
    lineitem: DataFrame,
    part: DataFrame,
    brand: str = "Brand#4",
    max_size: int = 15,
) -> DataFrame:
    """TPC-H Q17 shape: revenue lost to small-quantity orders — lines of
    a brand's parts with quantity below 20% of that part's average. The
    spec's p_container filter is adapted to p_size < ``max_size``.

    The correlated AVG subquery becomes a per-part aggregate joined back
    to the lines, and the threshold compare is made INTEGER-EXACT by
    clearing the division: qty < 0.2 * (sum/cnt)  ⇔  5·qty·cnt < sum,
    all in decimals — so Spark and any oracle agree bit-for-bit with no
    float rounding at the boundary.

    Plan: the brand+size part set (scales with SF — AQE sizes the join,
    no pinned broadcast) filters lineitem into BOTH the per-part
    aggregate and the line compare; the only other shuffle is the
    groupBy on partkey, a fraction of lineitem after the part filter.
    """
    parts = part.filter(
        (F.col("p_brand") == brand) & (F.col("p_size") < max_size)
    ).select("p_partkey")
    li = lineitem.join(
        parts, F.col("l_partkey") == F.col("p_partkey")
    ).select("l_partkey", "l_quantity", "l_extendedprice")
    per_part = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum(F.col("l_quantity").cast(D)).alias("qty_sum"),
        F.count(F.lit(1)).alias("qty_cnt"),
    )
    small = li.join(per_part, F.col("l_partkey") == F.col("pk")).filter(
        F.lit(5) * F.col("l_quantity").cast(D) * F.col("qty_cnt")
        < F.col("qty_sum")
    )
    return small.agg(
        # round-ok: cents/7 can never be a half-integer (2·cents ≡ 7·odd
        # is unsolvable mod 2), so Σprice/7 has no 3rd-decimal midpoint
        F.round(
            F.sum(F.col("l_extendedprice").cast(D)).cast("double") / 7.0, 2
        ).alias("avg_yearly"),
        F.count(F.lit(1)).cast("long").alias("n_small_lines"),
    )


#: Q19's OR-of-ANDs branches: (brand, qty_lo, qty_hi, size_hi)
Q19_BRANCHES: tuple[tuple[str, int, int, int], ...] = (
    ("Brand#2", 1, 11, 5),
    ("Brand#8", 10, 20, 10),
    ("Brand#19", 20, 30, 15),
)


def q19_discount_revenue(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """TPC-H Q19 shape: revenue from three disjunctive brand/quantity/size
    baskets — the OR-of-ANDs predicate that tests whether the planner
    keeps the disjunction as a residual filter on ONE join rather than
    scanning three times. p_container/l_shipmode are absent from this
    schema; brand + size + quantity carry the disjunction.

    Plan: single lineitem ⋈ part hash join on partkey; the whole OR
    evaluates as a residual filter in the join stage; one partial-sum
    aggregate. The per-branch quantity bounds cannot push to the scan
    (they differ per branch), but the GLOBAL bounds (min lo, max hi) do.
    """
    qty = F.col("l_quantity")
    branch = None
    for b, lo, hi, size_hi in Q19_BRANCHES:
        c = (
            (F.col("p_brand") == b)
            & (qty >= lo)
            & (qty <= hi)
            & (F.col("p_size") >= 1)
            & (F.col("p_size") <= size_hi)
        )
        branch = c if branch is None else (branch | c)
    lo_all = min(b[1] for b in Q19_BRANCHES)
    hi_all = max(b[2] for b in Q19_BRANCHES)
    return (
        lineitem.filter((qty >= lo_all) & (qty <= hi_all))
        .join(
            part.select("p_partkey", "p_brand", "p_size"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .filter(branch)
        .agg(
            F.sum(
                F.col("l_extendedprice").cast(D) * (1 - F.col("l_discount").cast(D))
            ).cast("double").alias("revenue"),
            F.count(F.lit(1)).cast("long").alias("n_lines"),
        )
    )


def q22_dormant_customers(
    customer: DataFrame, orders: DataFrame, cutoff: str = "1999-01-01"
) -> DataFrame:
    """TPC-H Q22 shape: well-funded customers who stopped ordering — the
    double-subquery pattern: a scalar AVG threshold plus a NOT EXISTS
    anti-join. The spec's phone-prefix grouping is adapted to
    c_mktsegment (no phone column); "stopped" means no order since
    ``cutoff``.

    The above-average test is made exact by clearing the division:
    acctbal > sum/cnt  ⇔  acctbal·cnt > sum, in decimals — no float
    boundary disagreement with the oracle.

    Plan: the scalar (sum, cnt) aggregate broadcasts onto the customer
    scan; recent orderers are a LEFT ANTI hash join on custkey; the
    final rollup groups on the handful of segments. No sort anywhere.
    """
    pos = customer.filter(F.col("c_acctbal") > 0.0)
    thresh = pos.agg(
        F.sum(F.col("c_acctbal").cast(D)).alias("bal_sum"),
        F.count(F.lit(1)).alias("bal_cnt"),
    )
    recent = orders.filter(F.col("o_orderdate") >= cutoff).select(
        F.col("o_custkey").alias("rk")
    ).distinct()
    return (
        pos.join(F.broadcast(thresh))
        .filter(
            F.col("c_acctbal").cast(D) * F.col("bal_cnt") > F.col("bal_sum")
        )
        .join(recent, F.col("c_custkey") == F.col("rk"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("numcust"),
            F.sum(F.col("c_acctbal").cast(D)).cast("double").alias("totacctbal"),
        )
    )


def q20_excess_shippers(
    tables: dict,
    name_like: str = "ol",
    date_from: str = "1996-01-01",
    date_to: str = "1997-01-01",
    min_qty: int = 20,
    nation: str = "NATION_2",
) -> DataFrame:
    """TPC-H Q20 shape: suppliers who moved excess volume of a name-matched
    part family — the NESTED-IN pattern (suppkey IN (... partkey IN (...)
    HAVING ...)). The schema has no partsupp/availqty, so "excess" is
    adapted to a shipped-quantity threshold per (supplier, part) in the
    window; the defining nesting survives: an inner LIKE-filtered part
    set feeds a grouped HAVING whose survivors feed a supplier semi-join.

    Plan: the part set semi-filters lineitem (AQE sizes it — part scales
    with SF); one groupBy on (suppkey, partkey); the HAVING survivors
    collapse to a distinct suppkey set that SEMI-joins supplier — never
    a row-multiplying join; the nation filter broadcasts. Output is
    supplier attributes, deterministic order by name.
    """
    t = tables
    parts = t["part"].filter(F.col("p_name").contains(name_like)).select("p_partkey")
    nat = t["nation"].filter(F.col("n_name") == nation).select("n_nationkey")
    movers = (
        t["lineitem"]
        .filter((F.col("l_shipdate") >= date_from) & (F.col("l_shipdate") < date_to))
        .join(parts, F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.col("l_quantity").cast(D)).alias("qty"))
        .filter(F.col("qty") > min_qty)
        .select(F.col("l_suppkey").alias("sk"))
        .distinct()
    )
    return (
        t["supplier"]
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"), "left_semi")
        .join(movers, F.col("s_suppkey") == F.col("sk"), "left_semi")
        .select(
            F.col("s_suppkey").cast("long").alias("s_suppkey"),
            "s_name",
            F.col("s_acctbal").cast("double").alias("s_acctbal"),
        )
    )


def q21_waiting_suppliers(
    tables: dict,
    late_days: int = 90,
    k: int = 20,
) -> DataFrame:
    """TPC-H Q21 shape: suppliers who kept multi-supplier orders waiting —
    the EXISTS + NOT-EXISTS correlated self-join pair, the hardest TPC-H
    plan shape. Adapted lateness (no commit/receipt dates): a line is
    late when it ships more than ``late_days`` after the order date. A
    supplier is counted for an order when: their line is late, ANOTHER
    supplier has a line in the same order (EXISTS), and NO other
    supplier's line is late (NOT EXISTS) — sole blame.

    Plan: lineitem ⋈ orders('F') once into a tagged line set, lineage
    shared by all three roles; the EXISTS is a LEFT SEMI and the
    NOT-EXISTS a LEFT ANTI self-join, both shuffling on the ORDER key
    with a suppkey-inequality residual — no row multiplication; distinct
    (order, supplier) before the count so multi-late-line orders count
    once; TakeOrdered top-k, no global sort.
    """
    t = tables
    lines = (
        t["lineitem"]
        .join(
            t["orders"]
            .filter(F.col("o_orderstatus") == "F")
            .select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            "l_orderkey",
            "l_suppkey",
            (
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr(f"INTERVAL {late_days} DAYS")
            ).alias("late"),
        )
    )
    l1 = lines.filter(F.col("late")).select(
        F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("sk")
    ).distinct()
    others = lines.select(
        F.col("l_orderkey").alias("ok2"), F.col("l_suppkey").alias("sk2")
    )
    other_late = lines.filter(F.col("late")).select(
        F.col("l_orderkey").alias("ok3"), F.col("l_suppkey").alias("sk3")
    )
    blamed = (
        l1.join(
            others,
            (F.col("ok") == F.col("ok2")) & (F.col("sk") != F.col("sk2")),
            "left_semi",
        )
        .join(
            other_late,
            (F.col("ok") == F.col("ok3")) & (F.col("sk") != F.col("sk3")),
            "left_anti",
        )
    )
    return (
        blamed.groupBy("sk")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(t["supplier"], F.col("sk") == F.col("s_suppkey"))
        .select(
            "s_name",
            F.col("numwait").cast("long").alias("numwait"),
        )
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(k)
    )


def key_skew_report(df: DataFrame, exact: bool = False) -> DataFrame:
    """Key-distribution diagnostic — the number every shuffle-sizing and
    salting decision in this engine starts from: per-key row counts
    reduced to (n_rows, n_keys, mean_rows_per_key, max_key_rows,
    skew_factor = max/mean, p50/p90/p99 of rows-per-key). A skew_factor
    near 1 means hash partitioning balances; a large one names the
    hot-key problem `functions/skew.py`'s salting and AQE's skew-join
    handling exist to absorb.

    Plan: ONE map-side-combined groupBy on the key (hot keys combine
    before the shuffle, so the report itself survives the skew it
    measures), then a single 1-row aggregate over the per-key counts.
    Default (``exact=False``) computes the rows-per-key percentiles with
    the fixed-size mergeable ``approx_percentile`` sketch (discrete
    value-at-rank semantics, engine-exact below ``PCTL_ACCURACY`` keys —
    oracle-checked against quantile_disc) so the 1-row reduce never
    buffers |keys| values; ``exact=True`` keeps the interpolated
    ``percentile`` reference, which does buffer every per-key count on
    one reducer — the accuracy baseline, not the >10⁸-key plan.
    """
    counts = df.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    if exact:
        pct = F.expr("percentile(n, array(0.5, 0.9, 0.99))")
    else:
        pct = F.expr(
            "transform("
            f"approx_percentile(n, array(0.5D, 0.9D, 0.99D), {PCTL_ACCURACY}),"
            " x -> CAST(x AS DOUBLE))"
        )
    return counts.agg(
        F.sum("n").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.max("n").cast("long").alias("max_key_rows"),
        pct.alias("__p"),
    ).select(
        "n_rows",
        "n_keys",
        # exact-integer rationals => midpoint-exposed; integer div-round
        (
            F.expr(
                "(2 * cast(n_rows as decimal(38,0)) * 1000000 + n_keys)"
                " div (2 * n_keys)"
            ).cast("double")
            / 1e6
        ).alias("mean_rows_per_key"),
        "max_key_rows",
        (
            F.expr(
                "(2 * cast(max_key_rows as decimal(38,0)) * n_keys"
                " * 1000000 + n_rows) div (2 * n_rows)"
            ).cast("double")
            / 1e6
        ).alias("skew_factor"),
        # round-ok: both percentile paths yield values whose exact form
        # terminates well before the 5th decimal — approx_percentile is
        # value-at-rank (an integer count), and interpolated percentile
        # is (1-g)a + g·b with g a 1-2-decimal rank fraction — so no
        # 5th-decimal midpoint exists for round(.., 4) to split on
        F.round(F.col("__p")[0], 4).alias("p50"),
        F.round(F.col("__p")[1], 4).alias("p90"),
        F.round(F.col("__p")[2], 4).alias("p99"),
    )


MAD_K = 3.0
PCTL_ACC = 1_000_000


def mad_anomalies(events: DataFrame, k: float = MAD_K) -> DataFrame:
    """Robust per-type outlier screen: median + MAD (median absolute
    deviation) instead of mean + std — the screen ``value_anomalies``'s
    z-score cannot provide when the contamination itself inflates the
    std (a handful of 1000x readings can hide themselves by blowing up
    the denominator; the median and MAD are 50%-breakdown estimators and
    don't move).

    Two grouped discrete-percentile passes (median of value, then median
    of |value − median|), both mergeable ``approx_percentile`` at
    accuracy 1e6 — exact below that many rows per group and
    single-reducer-free above (the *_scaled twins' scale argument); the
    deviation pass re-joins the per-type medians (tiny — AQE broadcasts).
    Output is the per-type summary, not the flagged rows: n, median,
    MAD, outliers beyond k·MAD, and the outlier fraction.
    """
    pct = f"approx_percentile(value, 0.5, {PCTL_ACC})"
    med = events.filter(F.col("value").isNotNull()).groupBy("event_type").agg(
        F.expr(pct).alias("med")
    )
    dev = (
        events.filter(F.col("value").isNotNull())
        .join(med, "event_type")
        .select(
            "event_type",
            "med",
            F.abs(F.col("value") - F.col("med")).alias("ad"),
        )
    )
    mad = dev.groupBy("event_type").agg(
        F.expr(f"approx_percentile(ad, 0.5, {PCTL_ACC})").alias("mad")
    )
    return (
        dev.join(mad, "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("med").alias("med_value"),
            F.min("mad").alias("mad_value"),
            F.sum(
                F.when(F.col("ad") > F.lit(k) * F.col("mad"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
        )
        .select(
            "event_type",
            "n",
            "med_value",
            "mad_value",
            "n_outliers",
            # exact-int ratio => midpoint-exposed; integer round
            iround_ratio(F.col("n_outliers"), F.col("n"), 6).alias(
                "outlier_frac"
            ),
        )
    )


def abc_pareto(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """ABC / Pareto revenue classification: parts ranked by revenue,
    class A = the head covering 80 % of cumulative revenue, B = the next
    15 %, C = the tail — the inventory-analysis staple (which 20 % of
    SKUs earn 80 % of the money). Output is one row per class: part
    count, class revenue, revenue share.

    Scale shape: one aggregation reduces lineitem to a part-level
    relation (parts ≪ lineitems), then the cumulative revenue — ordered
    by revenue desc with partkey as the deterministic tie-break — comes
    from the range-partitioned two-phase prefix sum
    (functions/prefixsum.ordered_cumsum): per-bucket window sums run in
    parallel and add a broadcast bucket offset, so NO partition-less
    Window funnels the part relation through one task (the r9 defect —
    Spark warned ``WindowExec: No Partition Defined``; bit-identical to
    the global window because DECIMAL addition is associative). Class
    boundaries compare cumulative DECIMAL
    revenue against scaled total revenue in exact integer-decimal
    arithmetic (5·cum ≤ 4·total ⇔ share ≤ 0.80), so the classification
    is bit-identical across engines — no double thresholds anywhere near
    the boundary. The ``part`` join only proves referential integrity at
    the aggregate level (parts with no lineitem rows are excluded, as in
    the exact twin).
    """
    # revenue stays at the product's natural scale-4 DECIMAL end to end —
    # a post-sum cast back to scale 2 would ROUND, and Spark (HALF_UP)
    # and DuckDB (half-to-even) disagree on the .xx5 midpoints; the only
    # lossy conversion is the final exact-decimal → DOUBLE output cast
    # (the q1 convention)
    d = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)")
    )
    rev = (
        lineitem.groupBy("l_partkey")
        .agg(F.sum(d).alias("revenue"))
        .join(part.select(F.col("p_partkey").alias("l_partkey")), "l_partkey")
    )
    cum = cut_lineage(
        ordered_cumsum(
            rev, "revenue", "revenue", ["l_partkey"], out_col="cum", descending=True
        )
    )  # consumed twice below (grand total + classification)
    # total revenue = max(cum): revenue is strictly positive (price > 0,
    # discount < 1) so the running sum is monotone and its max is the
    # grand total — read from the cum relation instead of re-aggregating
    # the part relation (one fewer full pass; bench-measured 2.4→2.0 s)
    total = cum.agg(F.max("cum").alias("total"))
    classed = (
        cum.crossJoin(F.broadcast(total))
        .select(
            "l_partkey",
            "revenue",
            F.when(F.col("cum") * 5 <= F.col("total") * 4, F.lit("A"))
            .when(F.col("cum") * 20 <= F.col("total") * 19, F.lit("B"))
            .otherwise(F.lit("C"))
            .alias("abc_class"),
            "total",
        )
    )
    return (
        classed.groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.sum("revenue").cast("double").alias("class_revenue"),
            # exact cents ratio => midpoint-exposed; integer round
            iround_ratio(
                F.sum("revenue") * F.lit(100), F.min("total") * F.lit(100), 6
            ).alias("revenue_share"),
        )
        .orderBy("abc_class")
    )


def customer_rfm(orders: DataFrame) -> DataFrame:
    """RFM segmentation summary: per-customer Recency (days from last
    order to the corpus frontier), Frequency (order count), Monetary
    (exact DECIMAL spend), each banded into quartiles, customers rolled
    up per (r, f, m) segment — the marketing-analytics staple the
    reference's GetBatches reporting never had.

    One groupBy reduces orders to the customer level; the three quartile
    cut-points come from ONE mergeable ``approx_percentile`` row
    (discrete value-at-rank — engine-exact below the 1e6 accuracy, no
    single-reducer value buffer above) broadcast back; banding is pure
    comparison against the cuts, so ties land identically in both
    engines. Monetary stays DECIMAL through every sum (order-independent)
    and converts to DOUBLE only at the output edge.

    Output: (segment, n_customers, sum_monetary, mean_recency_days),
    segment = r·100 + f·10 + m with bands ascending by VALUE (so r=1 is
    most recent, f=4/m=4 the heaviest buyers).
    """
    cust = orders.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).cast("long").alias("freq"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("mon"),
    )
    anchor = orders.agg(F.max("o_orderdate").alias("frontier"))
    cust = cust.crossJoin(F.broadcast(anchor)).select(
        "o_custkey",
        F.datediff("frontier", "last_order").cast("long").alias("rec"),
        "freq",
        "mon",  # stays DECIMAL until the output edge
    )
    pct = "approx_percentile(cast({c} as double), array(0.25, 0.5, 0.75), 1000000)"
    cuts = cust.agg(
        F.expr(pct.format(c="rec")).alias("qr"),
        F.expr(pct.format(c="freq")).alias("qf"),
        F.expr(pct.format(c="mon")).alias("qm"),
    )

    def band(col, q):
        v = F.col(col).cast("double")
        return (
            F.lit(1)
            + F.when(v > F.col(q)[0], 1).otherwise(0)
            + F.when(v > F.col(q)[1], 1).otherwise(0)
            + F.when(v > F.col(q)[2], 1).otherwise(0)
        ).cast("long")

    seg = cust.crossJoin(F.broadcast(cuts)).select(
        "o_custkey",
        "rec",
        "mon",
        (
            band("rec", "qr") * 100 + band("freq", "qf") * 10 + band("mon", "qm")
        ).alias("segment"),
    )
    return seg.groupBy("segment").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        # round-ok: sum_monetary is an exact scale-2 decimal cast to
        # double — it has no 5th decimal digit for round(.., 4) to split
        F.round(F.sum("mon").cast("double"), 4).alias("sum_monetary"),
        # exact-int ratio => midpoint-exposed; integer round
        iround_ratio(F.sum("rec"), F.count(F.lit(1)), 4).alias(
            "mean_recency_days"
        ),
    )


def supplier_concentration(
    lineitem: DataFrame, supplier: DataFrame, nation: DataFrame
) -> DataFrame:
    """Per-nation supplier revenue concentration: Herfindahl–Hirschman
    index + top-supplier share — the market-structure diagnostic (a
    nation served by one dominant supplier is a supply-chain risk a mean
    hides). HHI computed as Σrevᵢ² / (Σrevᵢ)² with BOTH sums in exact
    DECIMAL (a double Σshareᵢ² would be partition-order dependent and
    engines would disagree in the last ulp); the single division to
    DOUBLE happens once per nation row. One supplier-level aggregation
    (facts shuffle once), two broadcast dimension joins, one nation
    rollup.

    Output: (n_name, n_suppliers, hhi, top_share).
    """
    d = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)")
    )
    rev = (
        lineitem.groupBy("l_suppkey")
        .agg(F.sum(d).cast("decimal(18,4)").alias("rev"))
        .join(
            F.broadcast(
                supplier.select(
                    F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
                )
            ),
            "l_suppkey",
        )
        .join(
            F.broadcast(
                nation.select(
                    F.col("n_nationkey").alias("s_nationkey"), "n_name"
                )
            ),
            "s_nationkey",
        )
    )
    # integer 10^-4-dollar units: the share ratios are scale-invariant
    # (the 10^8 factors cancel in sum_sq/tot^2), and integer operands let
    # both ratios round at 6 via the engine-exact div-trick instead of a
    # midpoint-exposed double round. Exact regime: per-nation revenue
    # below ~$10^12 keeps 2*sum_sq*10^6 inside DECIMAL(38,0)/HUGEINT;
    # beyond that the column comes back NULL rather than wrong (the
    # user_value_correlation range-assumption contract).
    rev4 = F.expr("cast(rev * 10000 as decimal(38,0))")
    agg = rev.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_suppliers"),
        F.sum(rev4).alias("tot"),
        F.sum(rev4 * rev4).alias("sum_sq"),
        F.max(rev4).alias("top"),
    )
    return agg.select(
        "n_name",
        "n_suppliers",
        (
            F.expr(
                "(2 * sum_sq * 1000000 + tot * tot) div (2 * tot * tot)"
            ).cast("double")
            / 1e6
        ).alias("hhi"),
        (
            F.expr("(2 * top * 1000000 + tot) div (2 * tot)").cast("double")
            / 1e6
        ).alias("top_share"),
    )


def user_value_correlation(events: DataFrame) -> DataFrame:
    """Pearson correlation between a user's event count and their total
    value — the engagement-vs-spend question, computed from the five
    classic sufficient statistics (n, Σx, Σy, Σxy, Σx², Σy²) with EVERY
    sum exact: x is an integer count and y a DECIMAL total, so products
    and squares stay in integer/decimal arithmetic and the result is
    partition-order independent (Spark's built-in ``corr`` accumulates
    doubles and is not reproducible across engines to the last ulp). The
    single lossy step is the final double formula. Two aggregations
    total — one per-user reduce, one 1-row reduce — no window, no join.

    Output (1 row): n_users, mean_events, mean_value, corr.
    """
    per_user = events.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("x"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("decimal(18,2)").alias("y"),
    )
    stats = per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        # y² at decimal(18,2)² = decimal(37,4), so the running Σy² widens
        # to decimal(38,4) with a full spare integer digit of headroom
        # (the earlier (19,2)² cast already produced a (38,4) ELEMENT,
        # leaving the sum zero digits before non-ANSI Spark silently
        # NULLs on overflow). Documented range assumption: per-user
        # totals fit decimal(18,2) and Σy² < 10^34 — beyond that the
        # corr column comes back NULL rather than wrong.
        F.sum(
            F.col("y").cast("decimal(18,2)") * F.col("y").cast("decimal(18,2)")
        ).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    cov = n * F.col("sxy").cast("double") - sx * sy
    vx = n * F.col("sxx").cast("double") - sx * sx
    vy = n * F.col("syy").cast("double") - sy * sy
    return stats.select(
        "n",
        # exact-integer rationals => midpoint-exposed; integer div-round
        # (for mean_value the cents scale cancels one 10^2 of the 10^6)
        (
            F.expr(
                "(2 * cast(sx as decimal(38,0)) * 1000000 + n) div (2 * n)"
            ).cast("double")
            / 1e6
        ).alias("mean_events"),
        (
            F.expr(
                "(2 * cast(sy * 100 as decimal(38,0)) * 10000 + n)"
                " div (2 * n)"
            ).cast("double")
            / 1e6
        ).alias("mean_value"),
        # round-ok: corr passes through a correctly-rounded sqrt of a
        # non-square integer, so the quotient is never an exact decimal
        # midpoint; residual risk is the ~1-ulp midpoint neighborhood
        F.round(cov / F.sqrt(vx * vy), 6).alias("corr"),
    ).withColumnRenamed("n", "n_users")


def repeat_purchase_intervals(orders: DataFrame) -> DataFrame:
    """Distribution of the gap (days) between a customer's consecutive
    orders — the repeat-purchase cadence report. One keyed window pass
    (lag over (customer, orderdate, orderkey) — the orderkey tie-break
    makes same-day reorders a deterministic 0-day gap), then a 1-row
    reduce: exact integer day sums for the mean, mergeable
    ``approx_percentile`` for the quantiles (the 17p scale argument).

    Output (1 row): n_gaps, n_repeat_customers, mean_gap_days,
    p50_gap_days, p90_gap_days.
    """
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        orders.select("o_custkey", "o_orderdate", "o_orderkey")
        .withColumn("prev", F.lag("o_orderdate").over(w))
        .filter(F.col("prev").isNotNull())
        .select(
            "o_custkey",
            F.datediff("o_orderdate", "prev").cast("long").alias("gap"),
        )
    )
    # count_distinct is aggregated SEPARATELY: fused into the same agg it
    # forces a per-customer partial aggregate, which instantiates one
    # 1e6-accuracy percentile sketch PER KEY (measured ~50s at sf0.1 vs
    # sub-second split) — keyless partials keep one sketch per task
    n_repeat = gaps.agg(
        F.count_distinct("o_custkey").cast("long").alias("n_repeat_customers")
    )
    stats = gaps.agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        # exact-int ratio => midpoint-exposed; integer round
        iround_ratio(F.sum("gap"), F.count(F.lit(1)), 6).alias(
            "mean_gap_days"
        ),
        F.expr(
            "cast(approx_percentile(cast(gap as double), 0.5, 1000000) as double)"
        ).alias("p50_gap_days"),
        F.expr(
            "cast(approx_percentile(cast(gap as double), 0.9, 1000000) as double)"
        ).alias("p90_gap_days"),
    )
    out = stats.crossJoin(F.broadcast(n_repeat)).select(
        "n_gaps",
        "n_repeat_customers",
        "mean_gap_days",
        "p50_gap_days",
        "p90_gap_days",
    )
    return out


def customer_revenue_bands(orders: DataFrame) -> DataFrame:
    """Revenue concentration by customer percentile: how much of total
    revenue the top 1 % / 5 % / 10 % / rest of customers contribute — the
    whale-curve report every marketplace asks for (abc_pareto's
    customer-side sibling, banded by POPULATION percentile instead of
    revenue share).

    Scale shape: one aggregation reduces orders to the customer level,
    then the global position AND cumulative revenue both come from ONE
    range-partitioned two-phase prefix pass (functions/prefixsum.
    ordered_cumsum with two value columns — a constant 1 for the rank,
    the DECIMAL revenue for the running total) — no partition-less
    Window anywhere. Band edges are exact integer comparisons
    (100·pos ≤ n ⇔ top 1 %), so ties land identically in both engines;
    revenue stays DECIMAL until the output edge.

    Output: (band, n_customers, band_revenue, revenue_share, cum_share),
    bands ordered top1 < top5 < top10 < rest.
    """
    cust = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev")
    )
    cum = ordered_cumsum(
        cust.withColumn("one", F.lit(1).cast("long")),
        ["one", "rev"],
        "rev",
        ["o_custkey"],
        out_col=["pos", "cum_rev"],
        descending=True,
    )
    cum = cut_lineage(cum)  # consumed twice below (totals + banding)
    # both totals read off the cum relation (max of a positive-running
    # sum = grand total; max(pos) = row count) — no second full pass
    # over the customer relation (the abc_pareto bench lesson)
    totals = cum.agg(
        F.max("pos").cast("long").alias("n_total"),
        F.max("cum_rev").alias("rev_total"),
    )
    banded = cum.crossJoin(F.broadcast(totals)).select(
        "rev",
        "cum_rev",
        "n_total",
        "rev_total",
        F.when(F.col("pos") * 100 <= F.col("n_total"), F.lit("top1"))
        .when(F.col("pos") * 20 <= F.col("n_total"), F.lit("top5"))
        .when(F.col("pos") * 10 <= F.col("n_total"), F.lit("top10"))
        .otherwise(F.lit("rest"))
        .alias("band"),
    )
    return (
        banded.groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("rev").cast("double").alias("band_revenue"),
            # exact cents ratios => midpoint-exposed; integer round
            iround_ratio(
                F.sum("rev") * F.lit(100), F.min("rev_total") * F.lit(100), 6
            ).alias("revenue_share"),
            iround_ratio(
                F.max("cum_rev") * F.lit(100),
                F.min("rev_total") * F.lit(100),
                6,
            ).alias("cum_share"),
        )
        .orderBy("band")
    )


BASKET_TOP_K = 20
BASKET_SALT_BUCKETS = 32


def basket_affinity(lineitem: DataFrame, top_k: int = BASKET_TOP_K) -> DataFrame:
    """Market-basket affinity between parts: for part pairs co-ordered in
    the same order, the co-occurrence support and the lift
    (support·N / (count_a·count_b)) — the classic association report.

    Scale shape: the pair space is generated per ORDER (a self-join on
    l_orderkey over the distinct order→part relation with a < to keep
    one orientation), so fan-out is bounded by items-per-order² — a data-
    model constant (TPC-H ≤ 7), never corpus-sized; the pair aggregation
    shuffles on the pair key. Part frequencies ride a broadcast join
    (bounded by |parts|·8B ≪ executor memory at any SF — and AQE would
    degrade it to shuffle if not). The global top-k is the salted
    two-phase rank (no single-task global sort); ordering is
    (support desc, partkey_a, partkey_b) — all-integer, engine-exact —
    with lift carried as a ROUNDED output column, not a sort key.

    Output: top_k rows of (part_a, part_b, support, n_orders_a,
    n_orders_b, lift).
    """
    op = lineitem.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct()
    counts = op.groupBy("pk").agg(F.count(F.lit(1)).cast("long").alias("c"))
    pairs = (
        op.alias("a")
        .join(op.alias("b"), "ok")
        .filter(F.col("a.pk") < F.col("b.pk"))
        .groupBy(
            F.col("a.pk").alias("part_a"), F.col("b.pk").alias("part_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
    )
    n_orders = op.agg(
        F.count_distinct("ok").cast("long").alias("n_orders")
    )  # 1-row aggregate, broadcast below — no driver-side action
    # salted two-phase top-k: per-salt rank prunes to top_k rows per salt
    # bucket; the final cut over the bounded salt_buckets·top_k survivors
    # is a distributed TakeOrdered (orderBy + limit) — NOT a
    # constant-partition row_number window, which instantiates a
    # partition-less WindowExec at runtime (Spark warns "No Partition
    # Defined"; harmless on the bounded set but indistinguishable in the
    # logs from the 100 TB killer)
    order = [
        F.col("support").desc(),
        F.col("part_a").asc(),
        F.col("part_b").asc(),
    ]
    w1 = Window.partitionBy("_salt").orderBy(*order)
    top = (
        pairs.withColumn(
            "_salt", (F.col("part_a") + F.col("part_b")) % BASKET_SALT_BUCKETS
        )
        .withColumn("_rk1", F.row_number().over(w1))
        .filter(F.col("_rk1") <= top_k)
        .orderBy(*order)
        .limit(top_k)
    )
    ca = counts.select(F.col("pk").alias("part_a"), F.col("c").alias("n_orders_a"))
    cb = counts.select(F.col("pk").alias("part_b"), F.col("c").alias("n_orders_b"))
    return (
        top.join(F.broadcast(ca), "part_a")
        .join(F.broadcast(cb), "part_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "support",
            "n_orders_a",
            "n_orders_b",
            # exact-int ratio => midpoint-exposed; integer round
            iround_ratio(
                F.col("support") * F.col("n_orders"),
                F.col("n_orders_a") * F.col("n_orders_b"),
                6,
            ).alias("lift"),
        )
        .orderBy(F.col("support").desc(), "part_a", "part_b")
    )


def orders_seasonality(orders: DataFrame) -> DataFrame:
    """Monthly order volume and revenue with year-over-year growth — the
    seasonality read every ops dashboard carries. One aggregation reduces
    orders to (year, month) — a bounded few-dozen-row relation at ANY
    corpus size — then YoY is a self-EQUI-join against (year−1, month)
    on that tiny aggregate (no window, broadcast both sides). Revenue
    sums stay DECIMAL; growth is the one lossy output cast.

    Output: (o_year, o_month, n_orders, revenue, yoy_growth — NULL for
    the first year).
    """
    m = orders.select(
        F.year("o_orderdate").alias("o_year"),
        F.month("o_orderdate").alias("o_month"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("p"),
    ).groupBy("o_year", "o_month").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("p").alias("rev"),
    )
    prev = m.select(
        (F.col("o_year") + 1).alias("o_year"),
        "o_month",
        F.col("rev").alias("prev_rev"),
    )
    return (
        m.join(F.broadcast(prev), ["o_year", "o_month"], "left_outer")
        .select(
            F.col("o_year").cast("long").alias("o_year"),
            F.col("o_month").cast("long").alias("o_month"),
            "n_orders",
            F.col("rev").cast("double").alias("revenue"),
            # signed exact cents ratio => midpoint-exposed; integer
            # round half-away-from-zero (both engines' convention)
            iround_ratio_signed(
                (F.col("rev") - F.col("prev_rev")) * F.lit(100),
                F.col("prev_rev") * F.lit(100),
                6,
            ).alias("yoy_growth"),
        )
        .orderBy("o_year", "o_month")
    )


def brand_leaders(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """Per part-type revenue with the LEADING brand and its share — the
    category-leader report (which brand owns each product category).

    Scale shape: facts reduce to (type, brand) in one shuffle (part dims
    broadcast onto lineitem first — the dimension is |parts| rows, AQE
    degrades to shuffle if it outgrows the threshold); the per-type
    leader is a group-wise argmax via ``max(struct(revenue, brand))`` —
    an ordinary partial-aggregable MAX, no per-type Window and no second
    shuffle beyond the (type) reduce. Ordering inside the struct is
    (DECIMAL revenue, brand string), so ties break to the
    lexicographically larger brand deterministically in both engines.

    Output: (p_type, n_brands, type_revenue, top_brand, top_brand_share).
    """
    d = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)")
    )
    tb = (
        lineitem.select(F.col("l_partkey").alias("p_partkey"), d.alias("rev"))
        .join(F.broadcast(part.select("p_partkey", "p_type", "p_brand")), "p_partkey")
        .groupBy("p_type", "p_brand")
        .agg(F.sum("rev").alias("brand_rev"))
    )
    return (
        tb.groupBy("p_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_brands"),
            F.sum("brand_rev").alias("type_rev"),
            F.max(F.struct(F.col("brand_rev"), F.col("p_brand"))).alias("__top"),
        )
        .select(
            "p_type",
            "n_brands",
            F.col("type_rev").cast("double").alias("type_revenue"),
            F.col("__top.p_brand").alias("top_brand"),
            # exact cents ratio => midpoint-exposed; integer round
            iround_ratio(
                F.col("__top.brand_rev") * F.lit(100),
                F.col("type_rev") * F.lit(100),
                6,
            ).alias("top_brand_share"),
        )
        .orderBy("p_type")
    )


def segment_revenue_trend(orders: DataFrame, customer: DataFrame) -> DataFrame:
    """Per-market-segment monthly revenue TREND: the exact least-squares
    slope (and fitted level at the first month) of monthly order revenue
    against the month index — "is this segment growing, and how fast" as
    one number per segment, the regression companion to
    ``orders_seasonality``'s YoY report.

    Scale shape: orders⋈customer is the one real shuffle (AQE broadcasts
    the customer side below threshold; both scale with SF so neither is
    force-broadcast), reduced immediately to |segments|·|months| rows;
    the regression sums are a second TINY aggregation over that grid.
    The month index is centered on the grid's min month (a 1-row
    broadcast) so every cross-product stays small-integer × DECIMAL —
    without centering, ``n·Σxy`` at absolute month ≈ 24k would spend 5
    decimal digits of headroom on an offset the slope cancels anyway
    (the user_value_correlation overflow lesson).

    Determinism: x is an exact integer month offset; y stays DECIMAL
    through every sum; slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) is
    exact-DECIMAL/integer arithmetic until ONE double division, rounded
    at 6 (denominator > 0 whenever a segment has ≥ 2 distinct months;
    a degenerate single-month segment would divide by zero — IEEE
    inf/NaN, identically in both engines).
    """
    monthly = (
        orders.join(customer, orders["o_custkey"] == customer["c_custkey"])
        .groupBy(
            "c_mktsegment",
            (
                F.year("o_orderdate") * 12 + (F.month("o_orderdate") - 1)
            ).alias("mx"),
        )
        .agg(F.sum(F.col("o_totalprice").cast(D)).alias("rev"))
    )
    base = monthly.agg(F.min("mx").alias("mx0"))
    g = monthly.crossJoin(F.broadcast(base)).select(
        "c_mktsegment", (F.col("mx") - F.col("mx0")).alias("x"), "rev"
    )
    sums = g.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_months"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum("rev").alias("sy"),
        F.sum(F.col("x") * F.col("rev")).alias("sxy"),
    )
    num = F.col("n_months") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n_months") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = num.cast("double") / den.cast("double")
    return sums.select(
        "c_mktsegment",
        "n_months",
        F.col("sy").cast("double").alias("total_revenue"),
        # slope and fitted level are signed exact rationals off the same
        # integer/decimal sums (fit = ȳ − slope·x̄ =
        # (sy·den − num·sx)/(n·den)) => midpoint-exposed; integer round
        # half-away-from-zero, cents-scaled to integral operands
        iround_ratio_signed(
            num * F.lit(100), den * F.lit(100), 6
        ).alias("slope_per_month"),
        iround_ratio_signed(
            (F.col("sy") * den - num * F.col("sx")) * F.lit(100),
            F.col("n_months") * den * F.lit(100),
            6,
        ).alias("fit_at_first_month"),
    ).orderBy("c_mktsegment")


def shipping_delay_profile(lineitem: DataFrame, orders: DataFrame) -> DataFrame:
    """Order-to-ship latency distribution per order priority: item count,
    mean delay and p50/p90/p99 delay days — the fulfillment-SLA question
    (do URGENT orders actually ship faster, and how fat is the tail).

    Scale shape: lineitem⋈orders on orderkey is the one real shuffle
    (both fact-sized; AQE plans the join), reduced immediately to
    |priorities| rows. Delays are exact integer DAYS (datediff — no
    timestamp arithmetic to round); the mean is an exact long-sum
    division and the percentiles are mergeable ``approx_percentile``
    over those integers cast to double (< 2^53 ⇒ exact; discrete
    value-at-rank matches the oracle's quantile_disc bit-for-bit below
    the accuracy bound — the session_stats argument).
    """
    d = (
        lineitem.select("l_orderkey", "l_shipdate")
        .join(
            orders.select("o_orderkey", "o_orderdate", "o_orderpriority"),
            lineitem["l_orderkey"] == orders["o_orderkey"],
        )
        .select(
            "o_orderpriority",
            F.datediff("l_shipdate", "o_orderdate").cast("long").alias("dd"),
        )
    )
    pct = f"approx_percentile(cast(dd as double), {{p}}, {PCTL_ACCURACY})"
    return (
        d.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            # exact-integer ratio => midpoint-exposed; round 6 via the
            # integer div-trick (sum(dd) >= 0, so HALF_UP == half-away)
            (
                F.expr(
                    "(2 * cast(sum(dd) as decimal(38,0)) * 1000000"
                    " + count(1)) div (2 * count(1))"
                ).cast("double")
                / 1e6
            ).alias("mean_delay_days"),
            F.expr(pct.format(p=0.5)).alias("p50_delay_days"),
            F.expr(pct.format(p=0.9)).alias("p90_delay_days"),
            F.expr(pct.format(p=0.99)).alias("p99_delay_days"),
        )
        .orderBy("o_orderpriority")
    )


def cohort_ltv(orders: DataFrame) -> DataFrame:
    """Customer-lifetime-value curve per signup cohort: customers grouped
    by the month of their FIRST order; for each month offset since
    signup, the cohort's cumulative revenue per customer — the LTV curve
    marketing reads next to 17i's retention grid (does a newer cohort
    monetize faster, where does the curve flatten).

    Scale shape: the first-order month is an unordered window min over
    ``partitionBy(o_custkey)`` (one Exchange of orders — the
    cohort_retention shape), revenue reduces to the bounded
    (cohort, offset) grid, and the running sum is a Window PARTITIONED
    by cohort over that grid (bounded partitions ~ months — a legitimate
    partitioned window, not the banned global kind). Cohort size counts
    distinct first-month customers once, broadcast back for the
    per-customer normalization.

    Determinism: offsets are exact integer month arithmetic; revenue
    stays DECIMAL through the cumulative sum (associative, so the
    partitioned window equals any evaluation order). ``ltv_per_customer``
    rounds at 4 decimals IN INTEGER ARITHMETIC (the events_changepoint
    div-trick): cum_cents/n is a small-denominator rational that DOES
    land on exact 4th-decimal midpoints (measured at sf0.01: 4/1845 rows,
    e.g. 972341.96625), where Spark's HALF_UP BigDecimal round and
    DuckDB's C-double round disagree by 1 ulp of the 4th decimal; the
    positive-domain q = (2·cents·100 + n) div (2·n) then q/10⁴ is
    engine-exact (2·cents·100 ≤ 10²⁰ at 100 TB — far inside 38 digits).
    """
    w = Window.partitionBy("o_custkey")
    mx = F.year("o_orderdate") * 12 + (F.month("o_orderdate") - 1)
    with_cohort = orders.select(
        "o_custkey",
        F.col("o_totalprice").cast(D).alias("rev"),
        mx.alias("mx"),
    ).withColumn("cohort_mx", F.min("mx").over(w))
    grid = with_cohort.groupBy("cohort_mx", (F.col("mx") - F.col("cohort_mx")).alias("month_offset")).agg(
        F.sum("rev").alias("rev")
    )
    sizes = (
        with_cohort.filter(F.col("mx") == F.col("cohort_mx"))
        .groupBy("cohort_mx")
        .agg(F.count_distinct("o_custkey").cast("long").alias("n_customers"))
    )
    run = (
        Window.partitionBy("cohort_mx")
        .orderBy("month_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.withColumn("cum_rev", F.sum("rev").over(run))
        .join(F.broadcast(sizes), "cohort_mx")
        .select(
            (F.floor(F.col("cohort_mx") / 12)).cast("long").alias("cohort_year"),
            (F.col("cohort_mx") % 12 + 1).cast("long").alias("cohort_month"),
            F.col("month_offset").cast("long").alias("month_offset"),
            "n_customers",
            F.col("cum_rev").cast("double").alias("cum_revenue"),
            (
                F.expr(
                    "(2 * cast(cum_rev * 100 as decimal(38,0)) * 100"
                    " + n_customers) div (2 * n_customers)"
                ).cast("double")
                / 10000.0
            ).alias("ltv_per_customer"),
        )
        .orderBy("cohort_year", "cohort_month", "month_offset")
    )


def supplier_return_rates(
    lineitem: DataFrame, supplier: DataFrame, min_items: int = 20
) -> DataFrame:
    """Supplier quality screen: per-supplier return rate (share of items
    with l_returnflag = 'R') ranked by the Wilson LOWER confidence bound
    — the standard fix for "a supplier with 1 return out of 2 items is
    not worse than one with 30 of 100" (rank by evidence, not by the
    raw ratio); suppliers below ``min_items`` are screened out.

    Scale shape: one lineitem reduction keyed by suppkey (map-side
    combine: count + conditional count), supplier names broadcast back
    (constant-bound dimension at any SF? No — supplier scales with SF,
    so the join is AQE-planned, not force-broadcast). Output is ranked
    by the bound, worst first, via a distributed TakeOrdered.

    Determinism: counts are exact integers; the Wilson bound (z = 1.96)
    is a fixed dag of IEEE double ops — div, mul, add, and a CORRECTLY-
    ROUNDED sqrt (IEEE 754 requires it, unlike ln/exp) — so both engines
    produce the identical double; ties in the bound break by suppkey.
    """
    agg = (
        lineitem.groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
            .cast("long")
            .alias("n_returned"),
        )
        .filter(F.col("n_items") >= min_items)
    )
    z2 = 1.96 * 1.96
    p = F.col("n_returned").cast("double") / F.col("n_items").cast("double")
    n = F.col("n_items").cast("double")
    center = p + F.lit(z2) / (2.0 * n)
    spread_t = F.lit(1.96) * F.sqrt(
        (p * (1.0 - p) + F.lit(z2) / (4.0 * n)) / n
    )
    wilson_lb = (center - spread_t) / (1.0 + F.lit(z2) / n)
    return (
        agg.join(
            supplier.select(F.col("s_suppkey").alias("l_suppkey"), "s_name"),
            "l_suppkey",
        )
        .select(
            F.col("l_suppkey").alias("s_suppkey"),
            "s_name",
            "n_items",
            "n_returned",
            # exact-integer ratio => midpoint-exposed; integer div-round
            (
                F.expr(
                    "(2 * cast(n_returned as decimal(38,0)) * 1000000"
                    " + n_items) div (2 * n_items)"
                ).cast("double")
                / 1e6
            ).alias("return_rate"),
            # round-ok: wilson_lb passes through a correctly-rounded sqrt
            # of a non-square rational (z^2 = 1.96^2 is not exactly
            # representable), so the quotient is never an exact decimal
            # midpoint; residual risk is the ~1-ulp neighborhood of a
            # midpoint, measure ~1e-12 per row
            F.round(wilson_lb, 6).alias("wilson_lb"),
        )
        .orderBy(F.col("wilson_lb").desc(), F.col("s_suppkey").asc())
        .limit(25)
    )


def part_frontier(lineitem: DataFrame) -> DataFrame:
    """Pareto frontier (skyline) of parts over (total quantity shipped,
    total discounted revenue): a part is on the frontier iff NO other part
    is at least as good on both measures and strictly better on one — the
    "which SKUs are undominated on volume AND money" question that
    assortment/pricing analysis asks, and the canonical SKYLINE operator
    Spark has no native node for.

    Scale shape: the naive formulations are an all-pairs dominance
    self-join (quadratic in parts) or a partition-less cumulative Window
    (one task at 100 TB); this is neither. One aggregation reduces
    lineitem to the part relation, one more dedups it to per-quantity
    best revenue (distinct quantities <= parts), and dominance becomes an
    EXCLUSIVE running max in quantity-descending order via the two-phase
    range-partitioned primitive (functions/prefixsum.ordered_cummax_excl —
    per-bucket exclusive windows + a triangular broadcast bucket-offset
    join). A part survives iff it holds its quantity's best revenue AND
    beats the best revenue of every STRICTLY-larger quantity; ties on
    both measures are mutually non-dominating and all kept.

    Determinism: both measures are exact DECIMAL sums (cast before
    aggregation); every dominance compare is decimal-exact; the only
    doubles are the two output casts. The DuckDB oracle is the genuinely
    independent quadratic NOT-EXISTS dominance query.
    """
    qty = F.col("l_quantity").cast(D)
    rev = F.col("l_extendedprice").cast(D) * (
        F.lit(1).cast(D) - F.col("l_discount").cast(D)
    )
    pp = cut_lineage(
        lineitem.groupBy("l_partkey").agg(
            F.sum(qty).alias("tq"), F.sum(rev).alias("tr")
        )
    )  # consumed twice: per-quantity dedup + frontier join-back
    best_at = pp.groupBy("tq").agg(F.max("tr").alias("best_at_qty"))
    best_above = ordered_cummax_excl(
        best_at,
        "best_at_qty",
        "tq",
        [],
        out_col="best_above_qty",
        descending=True,
        # materialize (default): the per-quantity relation is tiny but has
        # FOUR consumers inside the primitive (cuts, totals, bucketed join,
        # final join-back) — uncut, each re-aggregates pp (13 exchanges in
        # the plan audit; 3 with the cut)
    )
    return (
        pp.join(best_above, "tq")
        .filter(
            (F.col("tr") == F.col("best_at_qty"))
            & (
                F.col("best_above_qty").isNull()
                | (F.col("tr") > F.col("best_above_qty"))
            )
        )
        .select(
            "l_partkey",
            F.col("tq").cast("double").alias("total_qty"),
            F.col("tr").cast("double").alias("total_rev"),
        )
        .orderBy(F.col("total_qty").desc(), F.col("l_partkey").asc())
    )


def user_behavior_entropy(events: DataFrame) -> DataFrame:
    """Shannon entropy of each user's event-type mix — the behavioral-
    diversity screen (bots and scripted traffic concentrate on one or two
    event types, entropy near 0; organic users spread, entropy near
    ln(n_types)). Complements the population-level concentration screens
    (supplier HHI) with a per-entity information measure.

    Scale shape: two map-side-combined aggregations — (user, type) counts,
    then per-user moments — with fan-in bounded by |event types| per user;
    no windows, no joins.

    Determinism: H = ln(n) - (sum c_i*ln(c_i))/n is computed from EXACT
    integer sums of micro-nat-quantized logs (the token_zipf/unigram trick:
    floor(ln(c)*1e6 + 0.5) as BIGINT — ln is not IEEE-correctly-rounded,
    so quantize FIRST, sum exactly, divide ONCE), leaving a single
    correctly-rounded double division per user, rounded at 6.
    """
    mln = lambda c: F.floor(F.log(c.cast("double")) * 1_000_000 + 0.5).cast(  # noqa: E731
        "long"
    )
    counts = events.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    per_user = counts.groupBy("user_id").agg(
        F.sum("c").cast("long").alias("n_events"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(F.col("c") * mln(F.col("c"))).cast("long").alias("s_clnc"),
    )
    n = F.col("n_events")
    # H >= 0 mathematically; the micro-nat quantization can push the
    # integer numerator a hair below 0 only when per-user counts reach
    # ~10^9 (error <= n micro-nats vs a margin of ~10^6·ln n), so clamp
    # at 0 — identically in the oracle — and round 6 via the integer
    # div-trick (the 10^6 scale factors cancel: (2·num + n) div (2·n))
    num = F.greatest(n * mln(n) - F.col("s_clnc"), F.lit(0).cast("long"))
    return per_user.withColumn("__num", num).select(
        "user_id",
        "n_events",
        "n_types",
        (
            F.expr(
                "(2 * cast(__num as decimal(38,0)) + n_events)"
                " div (2 * n_events)"
            ).cast("double")
            / 1e6
        ).alias("entropy_nats"),
    ).orderBy("user_id")


def referential_audit(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    part: DataFrame,
) -> DataFrame:
    """Referential-integrity audit across the star schema: for every
    child→parent relationship, the child row count, NULL foreign keys,
    and ORPHAN rows (non-null key with no parent) — the data-quality
    contract check a pipeline runs after every load and before every
    join-heavy workload (an orphan silently drops rows from inner joins;
    a null key silently drops them from BOTH join sides). The relational
    generalization of the reference's per-line AnalyzeBatch validation
    (AnalyzeBatch.groovy:89-151 validates field syntax per task line;
    this validates cross-entity existence per fact row).

    Scale shape: per relationship, the child is reduced to its DISTINCT
    key relation FIRST (map-side combine, keys ≪ rows), then one LEFT
    ANTI join against the parent key — the anti join ships distinct keys,
    never fact rows; orphan ROW counts come from summing the per-key
    counts that rode along. Null keys are a scan-shaped conditional sum.
    Four bounded 1-row aggregates union into the report.

    Everything is exact integer counting — nothing engine-dependent.
    """

    def leg(child, key, parent, pkey, name):
        # one child scan per leg: distinct-key reduction, a LEFT join
        # against the parent key with a presence marker, then ONE 1-row
        # aggregate reads all three counts off the marked relation
        per_key = child.groupBy(F.col(key).alias("__k")).agg(
            F.count(F.lit(1)).cast("long").alias("__c")
        )
        # the parent side MUST be key-distinct before the join: a
        # duplicated parent key (exactly the dirty-data scenario these
        # audits screen for — uniqueness_audit registers one on purpose)
        # would otherwise fan out matched per_key rows and silently
        # inflate the n_rows / n_orphans sums
        marked = per_key.join(
            parent.select(F.col(pkey).alias("__k"))
            .distinct()
            .withColumn("__p", F.lit(1)),
            "__k",
            "left",
        )
        orphan = F.col("__k").isNotNull() & F.col("__p").isNull()
        return marked.agg(
            F.lit(name).alias("relationship"),
            F.sum("__c").cast("long").alias("n_rows"),
            F.coalesce(
                F.sum(F.when(F.col("__k").isNull(), F.col("__c"))), F.lit(0)
            )
            .cast("long")
            .alias("n_null_keys"),
            F.coalesce(F.sum(F.when(orphan, F.col("__c"))), F.lit(0))
            .cast("long")
            .alias("n_orphans"),
        )

    legs = [
        leg(lineitem, "l_orderkey", orders, "o_orderkey", "lineitem->orders"),
        leg(lineitem, "l_partkey", part, "p_partkey", "lineitem->part"),
        leg(
            lineitem, "l_suppkey", supplier, "s_suppkey", "lineitem->supplier"
        ),
        leg(orders, "o_custkey", customer, "c_custkey", "orders->customer"),
    ]
    out = legs[0]
    for other in legs[1:]:
        out = out.unionByName(other)
    return out.orderBy("relationship")


def equal_frequency_bins(
    df: DataFrame, col: str = "l_extendedprice", n_bins: int = 10
) -> DataFrame:
    """Equal-frequency (quantile) binning — the feature-engineering
    discretization step every tabular training pipeline runs (decile
    flags, rank features, calibration buckets): ``n_bins - 1`` interior
    edges at p = i/n from the mergeable ``approx_percentile`` sketch,
    every row assigned bin = count of edges STRICTLY below its value,
    then one per-bin profile row (count, min, max, exact-decimal mean).

    Scale shape: one constant-size sketch aggregate, edges broadcast
    back onto the scan (the prefixsum bucketizer's shape), bin
    assignment is a JVM ``F.aggregate`` fold over the tiny edge array
    (whole-stage codegen — no UDF), and the profile is one
    map-side-combined groupBy on ≤ n_bins keys.

    Determinism: the sketch's discrete value-at-rank semantics are
    engine-exact below PCTL_ACCURACY rows (the 17p/`price_quantiles`
    contract, oracle-checked vs DuckDB ``quantile_disc``); ties at an
    edge always fall to the LOWER bin in both engines (strict-less
    rule); min/max are stored doubles, the mean is an exact DECIMAL sum
    with one rounded double division.
    """
    probs = ", ".join(f"{i / n_bins!r}D" for i in range(1, n_bins))
    edges = df.agg(
        F.expr(
            f"approx_percentile(CAST({col} AS DOUBLE), array({probs}),"
            f" {PCTL_ACCURACY})"
        ).alias("__edges")
    )
    v = F.col(col).cast("double")
    bin_id = F.aggregate(
        "__edges",
        F.lit(0),
        lambda acc, e: acc + F.when(e < v, 1).otherwise(0),
    ).cast("long")
    return (
        df.crossJoin(F.broadcast(edges))
        .select(bin_id.alias("bin_id"), v.alias("__v"), F.col(col).cast(D).alias("__vd"))
        .groupBy("bin_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("__v").alias("min_value"),
            F.max("__v").alias("max_value"),
            # exact cents/int ratio => midpoint-exposed; integer round
            iround_ratio(
                F.sum("__vd") * F.lit(100),
                F.count(F.lit(1)) * F.lit(100),
                6,
            ).alias("mean_value"),
        )
        .orderBy("bin_id")
    )


def column_correlation_matrix(
    df: DataFrame,
    cols: tuple[str, ...] = ("l_quantity", "l_extendedprice", "l_discount"),
) -> DataFrame:
    """Pairwise Pearson correlation matrix over numeric fact columns in
    ONE aggregation pass — the multivariate screen (is discount actually
    driving quantity? are price and quantity independent?) a feature-
    selection or pricing analysis starts from; generalizes
    ``user_value_correlation``'s exact-sufficient-statistics recipe from
    one pair to the full upper triangle.

    Scale shape: a single map-side-combined aggregate computes n, every
    Σxᵢ, and every Σxᵢxⱼ (i ≤ j) together — one pass over the fact table
    however many columns, the classic one-scan moment matrix; the pair
    rows inline from the 1-row result, so nothing else shuffles.

    Determinism: every sum is exact DECIMAL — values cast to (18,2)
    before any product, products are (37,4) elements summed at (38,4)
    with a spare integer digit (the user_value_correlation overflow
    lesson; beyond ~10^34 non-ANSI Spark NULLs the pair rather than
    returning a wrong number) — and each correlation is the one fixed
    dag of IEEE double ops (mul/sub/div and a correctly-rounded sqrt)
    both engines evaluate identically, rounded at 6.
    """
    k = len(cols)
    sel = df.select(
        *[
            F.col(c).cast("decimal(18,2)").alias(f"v{i}")
            for i, c in enumerate(cols)
        ]
    )
    aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    for i in range(k):
        aggs.append(F.sum(f"v{i}").alias(f"s{i}"))
    for i in range(k):
        for j in range(i, k):
            aggs.append(
                F.sum(F.col(f"v{i}") * F.col(f"v{j}")).alias(f"p{i}_{j}")
            )
    row = sel.agg(*aggs)
    n = F.col("n").cast("double")

    def corr(i: int, j: int) -> F.Column:
        si = F.col(f"s{i}").cast("double")
        sj = F.col(f"s{j}").cast("double")
        cov = n * F.col(f"p{i}_{j}").cast("double") - si * sj
        vi = n * F.col(f"p{i}_{i}").cast("double") - si * si
        vj = n * F.col(f"p{j}_{j}").cast("double") - sj * sj
        # round-ok: passes through a correctly-rounded sqrt of a non-square
        # rational — never an exact decimal midpoint; residual risk is the
        # ~1-ulp midpoint neighborhood
        return F.round(cov / F.sqrt(vi * vj), 6)

    pairs = F.array(
        *[
            F.struct(
                F.lit(cols[i]).alias("col_a"),
                F.lit(cols[j]).alias("col_b"),
                F.col("n").alias("n_rows"),
                corr(i, j).alias("corr"),
            )
            for i in range(k)
            for j in range(i + 1, k)
        ]
    )
    return row.select(F.inline(pairs)).orderBy("col_a", "col_b")


def uniqueness_audit(
    specs: list[tuple[str, DataFrame, list[str]]],
) -> DataFrame:
    """Candidate-key uniqueness audit — the second half of the
    data-quality contract (`referential_audit` checks existence ACROSS
    tables; this checks identity WITHIN one): for each declared
    candidate key, row count, distinct key count, and duplicate rows
    (rows beyond the first per key) — a duplicated primary key silently
    double-counts every downstream join and aggregate.

    Scale shape: per candidate ONE map-side-combined groupBy on the key
    (keys ≪ rows) followed by a 1-row reduce; the report unions the
    bounded leg outputs. NULL key tuples group like any other value and
    are counted as keys (a null PK is the orphan check's job, not
    this one). Exact integer counting throughout.
    """
    legs = []
    for name, df, cols in specs:
        per_key = df.groupBy(*cols).agg(
            F.count(F.lit(1)).cast("long").alias("__c")
        )
        legs.append(
            per_key.agg(
                F.sum("__c").cast("long").alias("n_rows"),
                F.count(F.lit(1)).cast("long").alias("n_distinct_keys"),
                F.sum(F.col("__c") - 1).cast("long").alias("n_duplicate_rows"),
            ).select(
                F.lit(name).alias("table_name"),
                F.lit(",".join(cols)).alias("key_cols"),
                "n_rows",
                "n_distinct_keys",
                "n_duplicate_rows",
            )
        )
    out = legs[0]
    for other in legs[1:]:
        out = out.unionByName(other)
    return out.orderBy("table_name", "key_cols")


def category_association(
    df: DataFrame, col_a: str = "l_returnflag", col_b: str = "l_linestatus"
) -> DataFrame:
    """Categorical association (Cramér's V) between two low-cardinality
    columns via the chi-square contingency statistic — the categorical
    sibling of the Pearson matrix (is return behavior independent of
    line status?), the screen that catches encoded-duplicate columns
    (V ≈ 1) and dead features (V ≈ 0) before training.

    Scale shape: ONE map-side-combined groupBy builds the contingency
    table (|A|·|B| cells — a data-model constant), marginals reduce from
    the cells (never a second scan), and the statistic folds on the
    driver-free broadcast of those bounded relations.

    Determinism: observed counts and marginals are exact BIGINTs;
    chi² = n·(Σ o_ij²/(r_i·c_j)) − n needs one double fold — each term
    is o²/(r·c) with EXACT integer operands, so both engines evaluate
    the identical correctly-rounded divisions — summed in a CANONICAL
    cell order ((a, b) ascending via array_sort over the collected cell
    structs, dozens of elements) so float addition order is pinned, then
    V = sqrt(chi² / (n·min(|A|−1, |B|−1))), rounded at 6.
    """
    cells = df.groupBy(
        F.col(col_a).alias("a"), F.col(col_b).alias("b")
    ).agg(F.count(F.lit(1)).cast("long").alias("o"))
    ra = cells.groupBy("a").agg(F.sum("o").cast("long").alias("ra"))
    cb = cells.groupBy("b").agg(F.sum("o").cast("long").alias("cb"))
    joined = cells.join(F.broadcast(ra), "a").join(F.broadcast(cb), "b")
    # one struct per cell, sorted canonically, folded in that order
    packed = joined.agg(
        F.array_sort(
            F.collect_list(F.struct("a", "b", "o", "ra", "cb"))
        ).alias("cells"),
        F.sum("o").cast("long").alias("n"),
        F.countDistinct("a").cast("long").alias("ka"),
        F.countDistinct("b").cast("long").alias("kb"),
    )
    term = F.aggregate(
        "cells",
        F.lit(0.0),
        lambda acc, c: acc
        + (c["o"].cast("double") * c["o"].cast("double"))
        / (c["ra"].cast("double") * c["cb"].cast("double")),
    )
    n = F.col("n").cast("double")
    chi2 = n * term - n
    dof = F.least(F.col("ka") - 1, F.col("kb") - 1).cast("double")
    return packed.select(
        F.lit(col_a).alias("col_a"),
        F.lit(col_b).alias("col_b"),
        "n",
        F.col("ka").alias("n_cat_a"),
        F.col("kb").alias("n_cat_b"),
        F.round(chi2, 6).alias("chi2"),
        # dof == 0 (a single distinct value on either side) makes the
        # statistic undefined (0/0 → NaN); disclose as NULL the way
        # value_psi discloses degenerate bins, never a silent NaN
        # round-ok: passes through a correctly-rounded sqrt of a non-square
        # rational — never an exact decimal midpoint; residual risk is the
        # ~1-ulp midpoint neighborhood
        F.when(dof > 0, F.round(F.sqrt(chi2 / (n * dof)), 6)).alias(
            "cramers_v"
        ),
    )


def value_lognormal_fit(orders: DataFrame) -> DataFrame:
    """Log-normal fit of a positive value column (order totals are the
    textbook case): μ and σ of ln(value) — the two numbers that
    parameterize the heavy-tail model pricing and capacity analyses
    assume — plus the sample count. Complements 29bw's Zipf fit
    (rank-frequency law) with the value-distribution law.

    Determinism: ln quantizes to integer micro-nats FIRST (the
    29bw/17ao trick — ln is not IEEE-correctly-rounded), Σ and Σ² are
    exact BIGINTs (micro-nat squares at ~2·10¹⁵ per row need DECIMAL(38,0)
    accumulation at 100 TB row counts), and μ/σ come from the two
    standard double formulas on those exact sums, rounded at 6. One
    map-side-combined 1-row aggregate — no shuffle beyond the partials.
    """
    mln = F.floor(
        F.log(F.col("o_totalprice").cast("double")) * 1_000_000 + 0.5
    ).cast("long")
    dec = "decimal(38,0)"
    s = orders.filter(F.col("o_totalprice") > 0).select(mln.alias("x")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x").cast(dec) * F.col("x").cast(dec)).alias("sxx"),
    )
    n = F.col("n").cast("double")
    mu_micro = F.col("sx").cast("double") / n
    var_micro2 = (
        F.col("sxx").cast("double") / n - mu_micro * mu_micro
    )
    return s.select(
        "n",
        # mu is an exact-int ratio (micro-nat sum / n) => integer round
        # (signed: a sub-$1 total would put its quantized log below 0)
        iround_ratio_signed(
            F.col("sx"), F.col("n") * F.lit(1_000_000), 6
        ).alias("mu_nats"),
        # round-ok: sigma passes through a correctly-rounded sqrt of a
        # non-square rational — never an exact decimal midpoint
        F.round(F.sqrt(var_micro2) / 1_000_000.0, 6).alias("sigma_nats"),
    )


PSI_BINS = 10


def value_psi(events: DataFrame, n_bins: int = PSI_BINS) -> DataFrame:
    """Population stability index of the value distribution between the
    observed time span's FIRST and SECOND half — THE standard
    ML-monitoring drift statistic (PSI < 0.1 stable, 0.1–0.25 shifting,
    > 0.25 retrain): Σ (pᵢ − qᵢ)·ln(pᵢ/qᵢ) over ``n_bins``
    equal-frequency bins whose edges come from the BASELINE (first)
    half, the way a production monitor freezes training-time edges and
    scores serving traffic against them.

    Scale shape: the split point is one (min, max) aggregate (integer
    microsecond midpoint — no doubles near the boundary); edges are one
    mergeable ``approx_percentile`` sketch over the baseline half; both
    halves then bin in a single shared scan (the JVM edge-fold, the
    price_bins shape) and reduce to ≤ n_bins cells each. Everything
    downstream operates on the bounded cell relation.

    Determinism: bin counts are exact BIGINTs; each term's log ratio is
    ln(cᵢ·m) − ln(dᵢ·n) quantized to integer micro-nats BEFORE the
    subtraction (exact ln-of-integer-products — the 29bw trick, no
    float division inside the log), the share difference is two exact
    divisions, and the Σ folds in CANONICAL bin order on both engines
    (the 17av sorted-fold pattern). Bins empty on either side
    contribute an unbounded/undefined term, so they are SKIPPED and
    disclosed via ``n_degenerate_bins`` (the standard epsilon-free
    treatment — a degenerate bin is itself the drift signal).

    Output (1 row): n_baseline, n_current, n_bins_used,
    n_degenerate_bins, psi.
    """
    us = F.unix_micros(F.col("ts"))
    span = events.agg(F.min(us).alias("lo"), F.max(us).alias("hi")).select(
        "lo",
        "hi",
        # INTEGER midpoint: `div` on BIGINTs (the oracle's `//`) — a
        # double `/ 2` then cast would round differently across engines
        # on odd sums
        F.expr("(lo + hi) div 2").alias("mid"),
    )
    tagged = events.crossJoin(F.broadcast(span)).select(
        F.col("value").cast("double").alias("v"),
        (us <= F.col("mid")).alias("is_base"),
    )
    probs = ", ".join(f"{i / n_bins!r}D" for i in range(1, n_bins))
    edges = tagged.filter("is_base").agg(
        F.expr(
            f"approx_percentile(v, array({probs}), {PCTL_ACCURACY})"
        ).alias("__edges")
    )
    bin_id = F.aggregate(
        "__edges",
        F.lit(0),
        lambda acc, e: acc + F.when(e < F.col("v"), 1).otherwise(0),
    ).cast("long")
    cells = (
        tagged.crossJoin(F.broadcast(edges))
        .select(bin_id.alias("bin_id"), "is_base")
        .groupBy("bin_id")
        .agg(
            F.sum(F.when(F.col("is_base"), 1).otherwise(0))
            .cast("long")
            .alias("c"),
            F.sum(F.when(~F.col("is_base"), 1).otherwise(0))
            .cast("long")
            .alias("d"),
        )
    )
    return psi_from_cells(cells)


def psi_from_cells(cells: DataFrame) -> DataFrame:
    """The PSI report from a (bin_id, c, d) cell relation — shared by the
    batch operator above and the streaming drift monitor
    (streaming/drift.py), so the two produce bit-identical statistics
    from identical cells by construction."""
    # count PRODUCTS (c·m, d·n) run DECIMAL(38,0) — at 100 TB row counts
    # the int64 product wraps silently; the decimal→double cast feeding
    # ln is correctly rounded in both engines (the oracle's HUGEINT path)
    dec38 = "decimal(38,0)"
    mln = lambda col: F.floor(  # noqa: E731
        F.log(col.cast("double")) * 1_000_000 + 0.5
    ).cast("long")
    packed = cells.agg(
        F.sum("c").cast("long").alias("n"),
        F.sum("d").cast("long").alias("m"),
        F.array_sort(F.collect_list(F.struct("bin_id", "c", "d"))).alias(
            "cells"
        ),
    )
    n = F.col("n")
    m = F.col("m")
    term = lambda c: (  # noqa: E731
        c["c"].cast("double") / n.cast("double")
        - c["d"].cast("double") / m.cast("double")
    ) * (
        (
            mln(c["c"].cast(dec38) * m.cast(dec38))
            - mln(c["d"].cast(dec38) * n.cast(dec38))
        ).cast("double")
        / 1_000_000.0
    )
    live = lambda c: (c["c"] > 0) & (c["d"] > 0)  # noqa: E731
    psi = F.aggregate(
        "cells",
        F.lit(0.0),
        lambda acc, c: acc + F.when(live(c), term(c)).otherwise(F.lit(0.0)),
    )
    degenerate = F.aggregate(
        "cells",
        F.lit(0),
        lambda acc, c: acc + F.when(live(c), 0).otherwise(1),
    )
    return packed.select(
        n.alias("n_baseline"),
        m.alias("n_current"),
        F.size("cells").cast("long").alias("n_bins_used"),
        degenerate.cast("long").alias("n_degenerate_bins"),
        F.round(psi, 6).alias("psi"),
    )


def domain_constraints_audit(
    lineitem: DataFrame, orders: DataFrame
) -> DataFrame:
    """Domain/value-constraint audit — the third leg of the data-quality
    contract (17ap existence, 17au identity, this VALIDITY): declarative
    per-column rules (positivity, closed ranges, enum membership,
    required fields) evaluated as conditional sums in ONE scan per
    table — the relational generalization of the reference's per-field
    task validation (AnalyzeBatch.groovy:89-151 enforces regex/length
    per CSV field; this enforces range/enum/null per fact column).

    Each table contributes a single map-side-combined 1-row aggregate
    carrying every rule's violation count; the report inlines one row
    per rule from it. Adding a rule is adding one expression — the scan
    count never grows. Exact integer counting; NULL predicate inputs
    count as violations for required-field rules and are otherwise
    excluded (SQL three-valued logic made explicit per rule).
    """

    def leg(df, table, rules):
        agg = df.agg(
            F.count(F.lit(1)).cast("long").alias("__n"),
            *[
                F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias(f"__v{i}")
                for i, (_r, cond) in enumerate(rules)
            ],
        )
        rows = F.array(
            *[
                F.struct(
                    F.lit(table).alias("table_name"),
                    F.lit(rule).alias("rule"),
                    F.col("__n").alias("n_rows"),
                    F.col(f"__v{i}").alias("n_violations"),
                )
                for i, (rule, _c) in enumerate(rules)
            ]
        )
        return agg.select(F.inline(rows))

    li_rules = [
        (
            "l_discount in [0,1]",
            F.col("l_discount").isNull()
            | (F.col("l_discount") < 0)
            | (F.col("l_discount") > 1),
        ),
        ("l_quantity > 0", F.col("l_quantity").isNull() | (F.col("l_quantity") <= 0)),
        (
            "l_returnflag in (A,N,R)",
            ~F.col("l_returnflag").isin("A", "N", "R")
            | F.col("l_returnflag").isNull(),
        ),
        ("l_shipdate not null", F.col("l_shipdate").isNull()),
        ("l_tax >= 0", F.col("l_tax").isNull() | (F.col("l_tax") < 0)),
    ]
    o_rules = [
        (
            "o_orderstatus in (F,O,P)",
            ~F.col("o_orderstatus").isin("F", "O", "P")
            | F.col("o_orderstatus").isNull(),
        ),
        (
            "o_totalprice > 0",
            F.col("o_totalprice").isNull() | (F.col("o_totalprice") <= 0),
        ),
    ]
    return (
        leg(lineitem, "lineitem", li_rules)
        .unionByName(leg(orders, "orders", o_rules))
        .orderBy("table_name", "rule")
    )


def dq_report(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    part: DataFrame,
    events: DataFrame,
) -> DataFrame:
    """Unified data-quality report — the audit trifecta (17ap existence,
    17au identity, 17ay validity) reshaped into ONE long-format artifact
    a pipeline persists per cut and diffs between cuts (``dq_report_diff``
    — the PSI frozen-baseline pattern applied to data contracts): columns
    (check_type, subject, detail, n_rows, n_violations, violation_rate).

    - ``referential``: per child→parent relationship, one row for null
      foreign keys and one for orphans (subject = relationship).
    - ``uniqueness``: every declared primary key (subject = table,
      detail = unique(cols)); violations = duplicate rows beyond the
      first per key.
    - ``domain``: every declarative value rule (subject = table,
      detail = rule).

    Scale shape: a pure reshape over the three audits — their bounded leg
    outputs union into ≤ a few dozen rows; no new scans, no new shuffles
    beyond what the audits already do (each table is scanned once per
    audit family). violation_rate is one rounded double division per
    bounded row, NULL on an empty relation.
    """
    # exact-int ratio => midpoint-exposed; integer round
    rate = F.when(
        F.col("n_rows") > 0,
        iround_ratio(F.col("n_violations"), F.col("n_rows"), 6),
    )

    ref = referential_audit(lineitem, orders, customer, supplier, part)
    ref_nulls = ref.select(
        F.lit("referential").alias("check_type"),
        F.col("relationship").alias("subject"),
        F.lit("null_keys").alias("detail"),
        "n_rows",
        F.col("n_null_keys").alias("n_violations"),
    )
    ref_orph = ref.select(
        F.lit("referential").alias("check_type"),
        F.col("relationship").alias("subject"),
        F.lit("orphans").alias("detail"),
        "n_rows",
        F.col("n_orphans").alias("n_violations"),
    )

    uniq = uniqueness_audit(
        [
            ("customer", customer, ["c_custkey"]),
            ("events", events, ["event_id"]),
            ("lineitem", lineitem, ["l_orderkey", "l_linenumber"]),
            ("orders", orders, ["o_orderkey"]),
            ("part", part, ["p_partkey"]),
            ("supplier", supplier, ["s_suppkey"]),
        ]
    ).select(
        F.lit("uniqueness").alias("check_type"),
        F.col("table_name").alias("subject"),
        F.concat(F.lit("unique("), F.col("key_cols"), F.lit(")")).alias(
            "detail"
        ),
        "n_rows",
        F.col("n_duplicate_rows").alias("n_violations"),
    )

    dom = domain_constraints_audit(lineitem, orders).select(
        F.lit("domain").alias("check_type"),
        F.col("table_name").alias("subject"),
        F.col("rule").alias("detail"),
        "n_rows",
        "n_violations",
    )

    return (
        ref_nulls.unionByName(ref_orph)
        .unionByName(uniq)
        .unionByName(dom)
        .withColumn("violation_rate", rate)
        .orderBy("check_type", "subject", "detail")
    )


def dq_report_save(report: DataFrame, path: str) -> None:
    """Persist a cut's DQ report (tiny bounded relation — one file)."""
    report.coalesce(1).write.mode("overwrite").parquet(path)


def dq_report_load(spark, path: str) -> DataFrame:
    return spark.read.parquet(path)


def dq_report_diff(current: DataFrame, baseline: DataFrame) -> DataFrame:
    """Cut-over-cut DQ drift: full outer join of two persisted reports on
    the check identity (check_type, subject, detail) with per-check
    violation deltas and a status verdict — the artifact a pipeline
    gates promotion on (``worse``/``new_check`` rows page somebody; the
    PSI monitor's frozen-baseline idea applied to contracts). Joining two
    ≤-dozens-row relations — broadcast, no shuffle that matters.

    status: ``worse`` (more violations), ``better`` (fewer), ``same``,
    ``new_check`` (only in current), ``removed_check`` (only in
    baseline).
    """
    key = ["check_type", "subject", "detail"]
    cur = current.select(
        *key,
        F.col("n_rows").alias("n_rows_cur"),
        F.col("n_violations").alias("n_violations_cur"),
        F.col("violation_rate").alias("rate_cur"),
    )
    base = baseline.select(
        *key,
        F.col("n_rows").alias("n_rows_base"),
        F.col("n_violations").alias("n_violations_base"),
        F.col("violation_rate").alias("rate_base"),
    )
    j = cur.join(F.broadcast(base), key, "full_outer")
    in_cur = F.col("n_violations_cur").isNotNull()
    in_base = F.col("n_violations_base").isNotNull()
    status = (
        F.when(~in_base, F.lit("new_check"))
        .when(~in_cur, F.lit("removed_check"))
        .when(
            F.col("n_violations_cur") > F.col("n_violations_base"),
            F.lit("worse"),
        )
        .when(
            F.col("n_violations_cur") < F.col("n_violations_base"),
            F.lit("better"),
        )
        .otherwise(F.lit("same"))
    )
    return j.select(
        *key,
        "n_violations_base",
        "n_violations_cur",
        (
            F.coalesce(F.col("n_violations_cur"), F.lit(0))
            - F.coalesce(F.col("n_violations_base"), F.lit(0))
        )
        .cast("long")
        .alias("violation_delta"),
        "rate_base",
        "rate_cur",
        status.alias("status"),
    ).orderBy("check_type", "subject", "detail")


def benford_audit(orders: DataFrame) -> DataFrame:
    """Benford's-law first-significant-digit audit of a positive money
    column — the classic fabricated-data / unit-mixing screen (genuine
    multi-decade amounts follow P(d) = log10(1 + 1/d); a flat or spiky
    digit histogram flags synthetic, truncated, or re-scaled data). The
    audit REPORTS the deviation per digit; judging it is the caller's
    policy (TPC-H-shaped uniform prices deviate by construction — that
    is the correct output, not an error).

    Scale shape: one scan → 9-key groupBy (map-side combined) → bounded
    9-row relation; share math happens after the reduction.

    Determinism: the first digit is taken from the CANONICAL BIGINT
    rendering of exact cents (string of an integer — no log10/floor
    near power-of-ten boundaries where engines' doubles could disagree);
    observed_share is one exact-int division; expected_share is a Python
    literal (math.log10 folded at build time, the supplier_returns z²
    trick) shared verbatim with the oracle, so no engine evaluates a
    transcendental.
    """
    import math

    cents = (F.col("o_totalprice").cast(D) * 100).cast("long")
    # filter on cents, not the raw column: a positive value below 0.005
    # rounds to 0 cents and would otherwise emit a spurious digit-0 row
    digits = (
        orders.select(cents.alias("__cents"))
        .filter(F.col("__cents") >= 1)
        .select(
            F.substring(F.col("__cents").cast("string"), 1, 1)
            .cast("int")
            .alias("digit")
        )
    )
    counts = digits.groupBy("digit").agg(
        F.count(F.lit(1)).cast("long").alias("n_values")
    )
    total = counts.agg(F.sum("n_values").cast("long").alias("__tot"))
    expected = F.create_map(
        *[
            x
            for d in range(1, 10)
            for x in (F.lit(d), F.lit(round(math.log10(1 + 1 / d), 6)))
        ]
    )
    # integer micro-share twin of the literal map: e6/10^6 == literal
    expected6 = F.create_map(
        *[
            x
            for d in range(1, 10)
            for x in (
                F.lit(d),
                F.lit(int(round(math.log10(1 + 1 / d), 6) * 1_000_000)),
            )
        ]
    )
    exp = expected[F.col("digit")]
    # both shares are exact-integer rationals => midpoint-exposed;
    # round 6 in integer arithmetic. For abs_dev the 10^6 scale factors
    # cancel: round(|n·10^6 − e6·tot| / (tot·10^6), 6)
    #       = (2·|n·10^6 − e6·tot| + tot) div (2·tot) micro-units.
    return (
        counts.crossJoin(F.broadcast(total))
        .withColumn("__e6", expected6[F.col("digit")])
        .select(
            "digit",
            "n_values",
            (
                F.expr(
                    "(2 * cast(n_values as decimal(38,0)) * 1000000"
                    " + __tot) div (2 * __tot)"
                ).cast("double")
                / 1e6
            ).alias("observed_share"),
            exp.alias("expected_share"),
            (
                F.expr(
                    "(2 * abs(cast(n_values as decimal(38,0)) * 1000000"
                    " - cast(__e6 as decimal(38,0)) * __tot) + __tot)"
                    " div (2 * __tot)"
                ).cast("double")
                / 1e6
            ).alias("abs_dev"),
        )
        .orderBy("digit")
    )


def revenue_gini(orders: DataFrame) -> DataFrame:
    """Gini coefficient of customer revenue concentration — the single
    inequality number next to 17y's HHI (supplier side) and 17ab's
    discrete bands: G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx) over per-customer
    revenues x₁ ≤ … ≤ xₙ. 0 = perfectly even, →1 = one customer is the
    whole book.

    Scale shape: one custkey-keyed reduction of orders (map-side
    combined), then the ascending rank i comes from the range-partitioned
    two-phase prefix sum (functions/prefixsum.py:ordered_cumsum of ones in
    (revenue, custkey) order) — NOT a partition-less row_number window —
    and the three Σ terms reduce to one row. Rank·revenue products stay in
    DECIMAL(38,0) (rank ≤ 10⁸ × cents ≤ 10¹⁰ per term at 100 TB keeps the
    global sum < 10³⁸).

    Determinism: revenue is exact cents; ranks are exact (ties ordered by
    custkey, and Σ i·xᵢ is invariant under permutations of equal xᵢ);
    the final value is one fixed double DAG (two casts, mul/sub/div),
    rounded at 6.
    """
    rev = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast(D) * 100)
        .cast("decimal(38,0)")
        .alias("cents")
    )
    ranked = ordered_cumsum(
        rev.withColumn("__one", F.lit(1).cast("decimal(38,0)")),
        "__one",
        "cents",
        ["o_custkey"],
        out_col="rank",
    )
    s = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("cents").alias("__sx"),
        F.sum(F.col("rank") * F.col("cents")).alias("__six"),
    )
    # total_revenue: dollars = cents div 100 + (cents mod 100)/100 as an
    # IDENTICAL double DAG in both engines (a float division of the raw
    # HUGEINT, as DuckDB's / would do, diverges by an ulp past 2^53).
    # gini: the numerator 2·Σi·xᵢ − (n+1)·Σx is a non-negative exact
    # integer (ranks ascend over sorted revenues), the denominator n·Σx
    # exact => midpoint-exposed rational; round 6 via the integer
    # div-trick (4·10^29 at 100 TB stays far inside DECIMAL(38,0)).
    return s.select(
        "n_customers",
        (
            F.expr("cast(__sx div 100 as double)")
            + F.expr("cast(__sx % 100 as double)") / 100.0
        ).alias("total_revenue"),
        (
            F.expr(
                "(2 * (2 * __six - (n_customers + 1) * __sx) * 1000000"
                " + cast(n_customers as decimal(38,0)) * __sx)"
                " div (2 * cast(n_customers as decimal(38,0)) * __sx)"
            ).cast("double")
            / 1e6
        ).alias("gini"),
    )


def events_changepoint(events: DataFrame) -> DataFrame:
    """Single most-likely level-shift day per event type — retrospective
    changepoint detection by maximizing the between-segment variance
    reduction over every candidate split t: score(t) = (S₁n₂ − S₂n₁)² /
    (n₁·n₂·n) in daily-total units (the CUSUM/least-squares single-break
    statistic), where S₁/n₁ are the daily-value sum/day-count before and
    including t and S₂/n₂ after. Reports the argmax split with both
    segment means — the "did the metric step on deploy day" primitive.

    Scale shape: the fact scan reduces to a (type × day) grid of exact
    cents FIRST — the grid is calendar-bounded (|types|·|days|, thousands
    of rows at ANY corpus size), so the per-type cumulative window and
    argmax rank that follow operate on a bounded relation (the
    17am/17ad gapfill-grid argument), never on raw events.

    Determinism: S, n are exact BIGINT cents/counts; the score numerator
    d = S₁n₂ − S₂n₁ stays in DECIMAL(38,0); the score is a fixed double
    DAG (two casts, mul/div) from identical integers in both engines, so
    the argmax needs no tolerance; ties break on the earlier day. Means
    round at 4 decimals IN INTEGER ARITHMETIC — q = (2·S·100 + n) div
    (2·n) then q/10⁴ — because S/(100·n) is a small-denominator rational
    that DOES land on exact half-boundaries, where Spark's HALF_UP
    BigDecimal round and DuckDB's C-double round disagree (measured:
    3031.93875 → 3031.9388 vs 3031.9387). Positive-domain trick; the
    value column is a money-like strictly-positive measure.
    """
    day = F.date_trunc("day", F.col("ts")).cast("date")
    daily = (
        events.groupBy(F.col("event_type"), day.alias("day"))
        .agg(
            F.sum(F.col("value").cast(D) * 100)
            .cast("decimal(38,0)")
            .alias("cents")
        )
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = daily.select(
        "event_type",
        "day",
        F.sum("cents").over(wcum).alias("s1"),
        F.row_number().over(Window.partitionBy("event_type").orderBy("day")).alias("n1"),
    )
    tot = daily.groupBy("event_type").agg(
        F.sum("cents").alias("st"), F.count(F.lit(1)).cast("long").alias("nt")
    )
    c = cum.join(F.broadcast(tot), "event_type").filter(F.col("n1") < F.col("nt"))
    n1 = F.col("n1").cast("decimal(38,0)")
    n2 = (F.col("nt") - F.col("n1")).cast("decimal(38,0)")
    d = F.col("s1") * n2 - (F.col("st") - F.col("s1")) * n1
    den = (F.col("n1") * (F.col("nt") - F.col("n1"))).cast("double") * F.col(
        "nt"
    ).cast("double")
    scored = c.select(
        "event_type",
        F.col("day").alias("split_day"),
        "n1",
        "nt",
        "s1",
        "st",
        (d.cast("double") * d.cast("double") / den).alias("score"),
    )
    wbest = Window.partitionBy("event_type").orderBy(
        F.col("score").desc(), F.col("split_day").asc()
    )
    best = scored.withColumn("__r", F.row_number().over(wbest)).filter(
        F.col("__r") == 1
    )
    mean1 = (
        F.expr("(2 * s1 * 100 + n1) div (2 * n1)").cast("double") / 10000.0
    )
    mean2 = (
        F.expr(
            "(2 * (st - s1) * 100 + (nt - n1)) div (2 * (nt - n1))"
        ).cast("double")
        / 10000.0
    )
    return best.select(
        "event_type",
        "split_day",
        F.col("nt").alias("n_days"),
        mean1.alias("before_mean_daily"),
        mean2.alias("after_mean_daily"),
        # the displayed score is ALSO a rational of exact integers
        # (d²/(n1·n2·nt·10⁴) in cents² units) => midpoint-exposed; round
        # 4 in integer arithmetic like the means. The 10⁴ factors cancel:
        # round(d²/(N·10⁴), 4) = (2·d² + N) div (2·N), N = n1·n2·nt.
        # d² ≤ 10³⁴ at sf10 (cents·days ≤ 10¹⁷) stays inside
        # DECIMAL(38,0); the argmax itself still ranks by the double
        # score, an identical fixed DAG in both engines.
        (
            F.expr(
                "(2 * (s1 * (nt - n1) - (st - s1) * n1)"
                " * (s1 * (nt - n1) - (st - s1) * n1)"
                " + cast(n1 as decimal(38,0)) * (nt - n1) * nt)"
                " div (2 * cast(n1 as decimal(38,0)) * (nt - n1) * nt)"
            ).cast("double")
            / 10000.0
        ).alias("shift_score"),
    ).orderBy("event_type")


EWMA_HORIZON_DAYS = 40  # 2^-40 ≈ 9e-13: below round-6 visibility


def events_value_ewma(events: DataFrame) -> DataFrame:
    """Trailing exponentially-weighted daily value level per event type —
    the adjusted EWMA (pandas ``adjust=True``) with a half-life of one
    day over the trailing ``EWMA_HORIZON_DAYS`` observed days:
    ewma = Σ_d w_d·x_d / Σ_d w_d, w_d = 2^-(age days). The "current
    level" primitive under 10c/10m's anomaly and drift monitors.

    Weights are EXACT powers of two, so both the numerator and the weight
    mass accumulate as exact integers (cents · 2^(H−age) in
    DECIMAL(38,0) — shiftleft stays ≤ 2⁴⁰, and 10¹⁰ cents · 2⁴⁰ ≈ 10²²
    per day keeps the sum far inside 38 digits at 100 TB daily totals);
    the horizon truncation is part of the operator's definition, applied
    identically by the oracle. The published value rounds at 6 decimals
    in INTEGER arithmetic (the events_changepoint div-trick): num/den has
    a power-of-two-heavy denominator whose decimal expansion terminates,
    so exact round-half boundaries occur and engine round() calls would
    disagree; (2·num·10⁶ + den) div (2·den) then /10⁶ is engine-exact.

    Scale shape: fact scan → (type × day) exact-cents grid
    (calendar-bounded, the 17am argument) → per-type anchor (max day) →
    one bounded reduction. No windows at all.
    """
    day = F.date_trunc("day", F.col("ts")).cast("date")
    daily = events.groupBy(F.col("event_type"), day.alias("day")).agg(
        F.sum(F.col("value").cast(D) * 100)
        .cast("decimal(38,0)")
        .alias("cents")
    )
    anchor = daily.groupBy("event_type").agg(F.max("day").alias("last_day"))
    aged = (
        daily.join(F.broadcast(anchor), "event_type")
        .withColumn("age", F.datediff(F.col("last_day"), F.col("day")))
        .filter(F.col("age") <= EWMA_HORIZON_DAYS)
    )
    w = F.expr(
        f"cast(shiftleft(1L, {EWMA_HORIZON_DAYS} - age) as decimal(38,0))"
    )
    s = aged.groupBy("event_type", "last_day").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum(F.col("cents") * w).alias("__num"),
        F.sum(w).alias("__den"),
    )
    return s.select(
        "event_type",
        "last_day",
        "n_days",
        (
            F.expr(
                "(2 * __num * 1000000 + __den * 100) div (2 * __den * 100)"
            ).cast("double")
            / 1000000.0
        ).alias("ewma_value"),
    ).orderBy("event_type")
