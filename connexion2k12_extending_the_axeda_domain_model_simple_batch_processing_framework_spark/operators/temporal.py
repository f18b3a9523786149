"""Temporal operators: sessionization and as-of (attribution) joins.

Spark has no native ASOF JOIN or session operator; both are re-expressed as
single-shuffle window plans — the composition-of-DataFrame-ops path:

- sessionize: one shuffle on user_id, then lag + running sum inside each
  partition. No joins, no explosion; 100 TB of events sessionizes in one
  pass.
- asof_attribute: the union/last-observation-carried-forward construction.
  Tag both event roles, sort within user by time, carry the last "left"
  (e.g. click) forward onto each "right" (e.g. purchase). One shuffle total
  — strictly better at scale than a range join, which explodes candidate
  pairs before filtering (the DuckDB oracle uses its native ASOF JOIN, so
  the two implementations are genuinely independent).

Gap arithmetic is integer microseconds (``unix_micros`` / ``epoch_us``) —
bit-exact across engines, immune to double-rounding at the threshold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.rounding import iround_ratio

D = "decimal(18,2)"

SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 min


def _with_session_idx(events: DataFrame, gap_us: int) -> DataFrame:
    """Tag every event with its gap-session index: one user_id shuffle,
    lag + running sum inside each partition (the Exchange every
    session-scoped operator shares)."""
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    us = F.unix_micros(F.col("ts"))
    prev_us = F.lag(us).over(order)
    is_new = F.when(prev_us.isNull() | ((us - prev_us) > gap_us), 1).otherwise(0)
    return events.withColumn("session_idx", F.sum(is_new).over(run))


def sessionize(events: DataFrame, gap_us: int = SESSION_GAP_US) -> DataFrame:
    """Gap-based sessions per user: a new session starts when the time since
    the user's previous event exceeds ``gap_us``. Output: one row per
    session with start/end, event count and exact value sum."""
    return (
        _with_session_idx(events, gap_us).groupBy("user_id", "session_idx")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(D)).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("session_idx").cast("long").alias("session_idx"),
            "session_start",
            "session_end",
            "n_events",
            "sum_value",
        )
    )


def _step_reach_times(
    events: DataFrame, steps: tuple[str, ...]
) -> DataFrame:
    """One row per user with the first-reach timestamp of every funnel
    step (``__t0 … __tN``, NULL where never reached): each step's reach
    is an unordered window min over the SAME partitionBy(user_id), so
    Catalyst plans one Exchange feeding a chain of Window operators, and
    the per-user reduce rides that partitioning."""
    w = Window.partitionBy("user_id")
    df = events.select("user_id", "ts", "event_type")
    prev: str | None = None
    for i, step in enumerate(steps):
        cond = F.col("event_type") == step
        if prev is not None:
            # strictly-ordered reach: same-timestamp follow-ups count
            # (>=), matching ASOF attribution's tie semantics above
            cond = cond & (F.col("ts") >= F.col(prev))
        df = df.withColumn(f"__t{i}", F.min(F.when(cond, F.col("ts"))).over(w))
        prev = f"__t{i}"
    return df.groupBy("user_id").agg(
        *[F.first(f"__t{i}").alias(f"__t{i}") for i in range(len(steps))]
    )


def funnel(
    events: DataFrame, steps: tuple[str, ...] = ("view", "click", "purchase")
) -> DataFrame:
    """Ordered funnel conversion: for each user, step *i* counts only if an
    event of ``steps[i]`` occurs at-or-after the user's earliest qualifying
    step *i-1* time (``t_i = min ts of steps[i] with ts >= t_{i-1}``).

    One shuffle total: every per-step first-reach time is an unordered
    window aggregate over the same ``partitionBy(user_id)``, so Catalyst
    plans a single Exchange feeding a chain of Window operators; the
    per-user reduction reuses that partitioning (no second Exchange) and
    the final step-count aggregate moves one row per partition. At 100 TB
    the full events table is shuffled once — the naive per-step
    join-back-to-events plan shuffles it ``len(steps)`` times.

    Output: one row per step — (step, event_type, n_users), n_users
    monotonically non-increasing down the funnel.
    """
    per_user = _step_reach_times(events, steps)
    counts = per_user.agg(
        *[F.count(f"__t{i}").alias(f"__c{i}") for i in range(len(steps))]
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(i).cast("long").alias("step"),
                F.lit(step).alias("event_type"),
                F.col(f"__c{i}").cast("long").alias("n_users"),
            )
            for i, step in enumerate(steps)
        ]
    )
    return counts.select(F.inline(rows))


def cohort_retention(events: DataFrame) -> DataFrame:
    """Weekly cohort retention: users grouped by the ISO week of their first
    event; for each later week they were active, one (cohort_week,
    week_offset) cell with the distinct-user count.

    Plan shape: the first-event time is an unordered window min over
    ``partitionBy(user_id)`` (one Exchange of the events table), the
    (user, week) activity grid is a distinct over already-derived columns,
    and the cell counts aggregate the deduplicated grid — input flows
    through exactly one full-size shuffle, the rest move |users|×|weeks|
    rows at most. week_offset uses day-difference integer division (UTC
    session timezone, no DST), bit-exact vs the oracle.
    """
    w = Window.partitionBy("user_id")
    active = (
        events.select("user_id", "ts")
        .withColumn("first_ts", F.min("ts").over(w))
        .select(
            "user_id",
            F.date_trunc("week", F.col("first_ts")).cast("date").alias("cohort_week"),
            F.date_trunc("week", F.col("ts")).cast("date").alias("active_week"),
        )
        .distinct()
    )
    return (
        active.select(
            "user_id",
            "cohort_week",
            (F.datediff("active_week", "cohort_week") / 7)
            .cast("long")
            .alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    )


FOLLOW_WINDOW_US = 5 * 60 * 1_000_000  # 5 min


def range_join_follow(
    events: DataFrame,
    anchor_type: str = "error",
    window_us: int = FOLLOW_WINDOW_US,
) -> DataFrame:
    """Bounded-interval range join: for every ``anchor_type`` event, count
    the same user's events strictly inside ``(t, t + window_us]`` — the
    "what happened in the 5 minutes after each error" query.

    A naive range join is a per-user cross join filtered by the time
    predicate — quadratic in events-per-user, the classic range-join
    candidate explosion. The scale shape here is **time bucketing**: both
    sides get a bucket of width ``window_us``; an anchor's window spans at
    most 2 consecutive buckets, so the anchor side explodes 2x (a bounded
    constant) and candidates come from an EQUI-join on (user_id, bucket).
    Each qualifying pair collides in exactly one bucket (the follower's),
    so no distinct is needed. Candidate volume per (user, bucket) is
    bounded by events-per-window — independent of total history length.

    Arithmetic is integer microseconds end to end (no double rounding at
    the window boundary). Anchors with no followers are kept with 0.
    """
    e = events.select(
        "event_id", "user_id", F.unix_micros(F.col("ts")).alias("us")
    )
    anchors = events.filter(F.col("event_type") == anchor_type).select(
        F.col("event_id").alias("anchor_id"),
        F.col("user_id").alias("a_user"),
        F.unix_micros(F.col("ts")).alias("a_us"),
    )
    spanned = anchors.withColumn(
        "bucket",
        F.explode(
            F.array(
                F.expr(f"a_us div {window_us}"),
                F.expr(f"a_us div {window_us} + 1"),
            )
        ),
    )
    followers = e.withColumn("bucket", F.expr(f"us div {window_us}"))
    hits = (
        spanned.join(
            followers,
            (F.col("a_user") == F.col("user_id"))
            & (spanned.bucket == followers.bucket)
            & (F.col("us") > F.col("a_us"))
            & (F.col("us") <= F.col("a_us") + window_us),
        )
        .groupBy("anchor_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return anchors.join(hits, "anchor_id", "left").select(
        F.col("anchor_id").alias("error_event_id"),
        F.col("a_user").alias("user_id"),
        F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_follow"),
    )


def asof_attribute(
    events: DataFrame,
    left_type: str = "click",
    right_type: str = "purchase",
) -> DataFrame:
    """Attribute each ``right_type`` event to the user's most recent
    ``left_type`` event at or before it (ties: the left event sorts first,
    so an equal-timestamp left IS attributable — ASOF ``>=`` semantics).

    Union construction: tag rows 0 (left) / 1 (right), sort within user by
    (time, tag, event_id), carry the last left event forward with an
    ignore-nulls window ``last``. Rights with no prior left drop out (inner
    ASOF). One shuffle on user_id regardless of data size.
    """
    tagged = events.filter(F.col("event_type").isin(left_type, right_type)).select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.when(F.col("event_type") == left_type, 0).otherwise(1).alias("tag"),
    )
    order = Window.partitionBy("user_id").orderBy("ts", "tag", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    is_left = F.col("tag") == 0
    carried_id = F.last(F.when(is_left, F.col("event_id")), ignorenulls=True).over(order)
    carried_ts = F.last(F.when(is_left, F.col("ts")), ignorenulls=True).over(order)
    return (
        tagged.withColumn("attr_event_id", carried_id)
        .withColumn("attr_ts", carried_ts)
        .filter((F.col("tag") == 1) & F.col("attr_event_id").isNotNull())
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
            F.col("attr_event_id").alias("click_id"),
            F.col("attr_ts").alias("click_ts"),
            (F.unix_micros(F.col("ts")) - F.unix_micros(F.col("attr_ts"))).alias("lag_us"),
        )
    )


def active_users_window(events: DataFrame, trailing_days: int = 7) -> DataFrame:
    """Daily + trailing-window active users (the DAU / rolling-WAU report):
    for every calendar day with activity, the exact count of distinct
    users active that day and over the trailing ``trailing_days`` days
    (inclusive of the day itself).

    A window COUNT(DISTINCT) over days cannot be expressed as a frame in
    Spark (distinct aggregates are unsupported in windows), and re-scanning
    events per day is O(days) passes. Instead: collapse events to the
    distinct (day, user) grid ONCE — the only corpus-sized shuffle — then
    fan each activity day out to the ≤ ``trailing_days`` report days it
    contributes to (a bounded explode, not a range join), and count
    distinct users per report day. At 100 TB the grid is |days × active
    users| — orders of magnitude under the event count — and the explode
    multiplies the GRID, never the raw events. Report days come from the
    grid itself, so gap days (no events) don't emit rows; the trailing
    count still sees through gaps because day fan-out is by date
    arithmetic, not row adjacency.

    Output: (day, dau, trailing_users, trailing_days).
    """
    grid = (
        events.select(
            F.date_trunc("day", F.col("ts")).alias("day"), F.col("user_id")
        )
        .distinct()
    )
    report_days = grid.select("day").distinct()
    fanned = grid.select(
        F.col("user_id"),
        F.col("day").alias("active_day"),
        F.explode(
            F.sequence(
                F.to_date("day"),
                F.date_add(F.to_date("day"), trailing_days - 1),
            )
        ).alias("report_date"),
    ).select("user_id", "active_day", F.col("report_date").cast("timestamp").alias("day"))
    trailing = (
        fanned.join(report_days, "day", "left_semi")
        .groupBy("day")
        .agg(F.count_distinct("user_id").alias("trailing_users"))
    )
    dau = grid.groupBy("day").agg(F.count_distinct("user_id").alias("dau"))
    return (
        dau.join(trailing, "day")
        .select(
            "day",
            F.col("dau").cast("long").alias("dau"),
            F.col("trailing_users").cast("long").alias("trailing_users"),
            F.lit(trailing_days).cast("long").alias("trailing_days"),
        )
    )


GROWTH_STEP_DAYS = {"day": 1, "week": 7}


def growth_period_idx(period_col, period: str):
    """Integer index of a truncated period DATE column — adjacency is
    ``idx`` difference 1, bit-exact in both engines (epoch-day arithmetic
    for day/week, year×12+month for month). Shared by the batch operator
    and the streaming twin (streaming/growth.py) so the two classify
    identically."""
    if period == "month":
        return (F.year(period_col) * 12 + F.month(period_col)).cast("long")
    step = GROWTH_STEP_DAYS[period]
    # F.floor, not a bare long cast: casting double→long truncates toward
    # zero, so for week (step=7) the epoch-straddling weeks 1969-12-29
    # (day −3) and 1970-01-05 (day 4) would both index 0 — adjacent weeks
    # at pidx distance 0, breaking the n_active identity pre-1970. Floor
    # division keeps consecutive weeks at distance exactly 1 on both
    # sides of the epoch.
    return F.floor(
        F.datediff(period_col, F.lit("1970-01-01").cast("date")) / step
    ).cast("long")


def growth_next_period(period_col, period: str):
    """The calendar period immediately after ``period_col`` (where churn
    for a then-idle user is charged)."""
    if period == "month":
        return F.add_months(period_col, 1)
    return F.date_add(period_col, GROWTH_STEP_DAYS[period])


def growth_accounting(events: DataFrame, period: str = "day") -> DataFrame:
    """Per-period user growth accounting — every active user classified
    against their own activity history, plus churn charged to the period
    the user went missing:

    - ``n_new``: first-ever active period for the user;
    - ``n_retained``: also active in the immediately preceding period;
    - ``n_resurrected``: active before, but NOT in the preceding period
      (a comeback after ≥1 idle period);
    - ``n_churned``: active in the PRECEDING period but not this one —
      charged to the first idle period, the standard growth-accounting
      convention (new + resurrected − churned = period-over-period change
      in actives, which ``n_active`` lets the reader verify);
    - ``n_active``: distinct users active this period
      (= n_new + n_retained + n_resurrected; 0 for a churn-only period).

    Plan shape (the 100 TB argument): events collapse to the distinct
    (period, user) grid ONCE — the only corpus-sized shuffle, same as
    ``active_users_window`` — then ONE window pass per user computes both
    the preceding and the following active period (lag + lead share the
    sort), so classification and churn detection are O(grid) with no
    self-join and no per-period rescan. Churn periods are derived by
    calendar arithmetic (never row adjacency, so gaps longer than one
    period classify correctly) and right-censored at the corpus' last
    observed period — users active at the end are not churned, they are
    simply unresolved. Adjacency compares integer period indexes
    (day/week: epoch-day arithmetic; month: year×12+month), bit-exact in
    both engines.

    Output: (period DATE, n_active, n_new, n_retained, n_resurrected,
    n_churned) — one row per period with any activity or churn.
    """
    grid = (
        events.select(
            F.date_trunc(period, F.col("ts")).cast("date").alias("period"),
            F.col("user_id"),
        )
        .distinct()
    )
    idx = growth_period_idx(F.col("period"), period)
    nxt_period = growth_next_period(F.col("period"), period)

    w = Window.partitionBy("user_id").orderBy("period")
    tagged = grid.select(
        "period",
        "user_id",
        idx.alias("pidx"),
        F.lag(idx).over(w).alias("prev_idx"),
        F.lead(idx).over(w).alias("next_idx"),
        nxt_period.alias("next_period"),
    )

    classes = tagged.groupBy("period").agg(
        F.count("*").cast("long").alias("n_active"),
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

    # churn fires in the first idle period after an active one, censored
    # at the last observed period (1-row broadcast scalar, never a sort)
    mx = grid.agg(F.max("period").alias("mxp"))
    churn = (
        tagged.filter(
            F.col("next_idx").isNull() | (F.col("next_idx") > F.col("pidx") + 1)
        )
        .crossJoin(F.broadcast(mx))
        .filter(F.col("next_period") <= F.col("mxp"))
        .groupBy(F.col("next_period").alias("period"))
        .agg(F.count("*").cast("long").alias("n_churned"))
    )

    z = F.lit(0).cast("long")
    return (
        classes.join(churn, "period", "full_outer")
        .select(
            "period",
            F.coalesce("n_active", z).alias("n_active"),
            F.coalesce("n_new", z).alias("n_new"),
            F.coalesce("n_retained", z).alias("n_retained"),
            F.coalesce("n_resurrected", z).alias("n_resurrected"),
            F.coalesce("n_churned", z).alias("n_churned"),
        )
    )


def session_stats(events: DataFrame, gap_us: int = SESSION_GAP_US) -> DataFrame:
    """Corpus-level session quality rollup over the gap sessionization —
    the engagement read (how long do sessions run, how many bounce) every
    product dashboard carries next to the per-session table.

    Rides ``sessionize`` (ONE keyed shuffle — the window chain and the
    per-session reduce share the user_id partitioning), then a 1-row
    reduce: exact integer counts, mergeable ``approx_percentile`` for the
    duration quantiles over exact integer-microsecond durations cast to
    double (integers < 2^53 are exact doubles; discrete value-at-rank, so
    the oracle's quantile_disc matches bit-for-bit), bounce = the
    1-event-session fraction.

    Output (1 row): n_sessions, n_bounce, bounce_frac, mean_events,
    p50_duration_s, p90_duration_s (seconds at microsecond resolution).
    """
    s = sessionize(events, gap_us).select(
        "n_events",
        (
            (
                F.unix_micros("session_end") - F.unix_micros("session_start")
            ).cast("double")
            / F.lit(1_000_000.0)
        ).alias("dur_s"),
    )
    from .analytics import PCTL_ACCURACY

    pct = f"approx_percentile(dur_s, {{p}}, {PCTL_ACCURACY})"
    return s.agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_bounce"),
        # exact-int ratios => midpoint-exposed; integer div-round
        iround_ratio(
            F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0)),
            F.count(F.lit(1)),
            6,
        ).alias("bounce_frac"),
        iround_ratio(F.sum("n_events"), F.count(F.lit(1)), 6).alias(
            "mean_events"
        ),
        F.expr(pct.format(p=0.5)).alias("p50_duration_s"),
        F.expr(pct.format(p=0.9)).alias("p90_duration_s"),
    )


def event_transitions(events: DataFrame) -> DataFrame:
    """First-order Markov transition matrix over each user's event
    stream: for every ordered pair of consecutive events by the same
    user, count (prev_type → next_type) and its conditional probability
    — the user-journey fingerprint behind "what do users do after X"
    product questions and behavioral-drift monitoring (compare two
    cuts' matrices).

    Scale shape: ONE keyed shuffle — the lead() window partitioned by
    user_id (the same Exchange family every temporal operator here
    rides) — then two TINY aggregations: transition counts are at most
    |types|² groups (map-side combine reduces each partition to that
    bound before the exchange) and the per-prev totals relation is
    |types| rows, broadcast back for the conditional probability. No
    per-user collect, no types×types matrix on the driver.

    Determinism: consecutive-ness is total-ordered by (ts, event_id) —
    event_id is unique, so ties in ts can't reorder across engines; the
    probability is one integer→double division rounded at 6.
    """
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        events.select("user_id", "ts", "event_id", "event_type")
        .withColumn("next_type", F.lead("event_type").over(order))
        .filter(F.col("next_type").isNotNull())
    )
    counts = pairs.groupBy(
        F.col("event_type").alias("prev_type"), "next_type"
    ).agg(F.count(F.lit(1)).cast("long").alias("n_transitions"))
    totals = counts.groupBy("prev_type").agg(
        F.sum("n_transitions").alias("n_from")
    )
    return (
        counts.join(F.broadcast(totals), "prev_type")
        .select(
            "prev_type",
            "next_type",
            "n_transitions",
            # exact-int ratio => midpoint-exposed; integer div-round
            iround_ratio(F.col("n_transitions"), F.col("n_from"), 6).alias(
                "prob"
            ),
        )
        .orderBy("prev_type", "next_type")
    )


def peak_concurrency(events: DataFrame, gap_us: int = SESSION_GAP_US) -> DataFrame:
    """Peak simultaneous sessions — the capacity-planning question ("how
    many users were on AT ONCE, and when"): sessions from the shared gap
    sessionization sweep a +1/−1 event line; the maximum of the running
    sum is the peak, its earliest timestamp the when.

    Scale shape: sessionize's one user_id shuffle, then the classic
    interval sweep WITHOUT a global window — the running sum over the
    2·|sessions| boundary events comes from the range-partitioned
    two-phase prefix sum (functions/prefixsum.ordered_cumsum, fifth
    consumer), and the peak + argmin ride the materialized cum relation
    (two tiny passes over it, zero re-derivation).

    Semantics: a session occupies its CLOSED interval [start, end] —
    the −1 fires at end+1 µs, so a single-event (zero-length) session
    still counts as concurrency 1 at its instant and two sessions
    meeting at the same microsecond DO overlap there; at equal sweep
    positions the −1 orders before the +1, remaining ties break by
    (user_id, session_idx) — a deterministic total order in both
    engines. All arithmetic is integer microseconds and integer deltas.
    """
    from ..functions.checkpoint import cut_lineage
    from ..functions.prefixsum import ordered_cumsum

    # the boundary union reads the session relation TWICE (starts +
    # ends) — cut it first so sessionize's events shuffle runs once
    s = cut_lineage(
        sessionize(events, gap_us).select(
            "user_id", "session_idx",
            F.unix_micros("session_start").alias("start_us"),
            F.unix_micros("session_end").alias("end_us"),
        )
    )
    starts = s.select(
        F.col("start_us").alias("us"),
        F.lit(1).cast("long").alias("delta"),
        "user_id",
        "session_idx",
    )
    ends = s.select(
        (F.col("end_us") + 1).alias("us"),
        F.lit(-1).cast("long").alias("delta"),
        "user_id",
        "session_idx",
    )
    cum = cut_lineage(
        ordered_cumsum(
            starts.unionAll(ends),
            "delta",
            "us",
            ["delta", "user_id", "session_idx"],
            out_col="live",
        )
    )  # consumed twice below (peak + earliest-peak argmin)
    peak = cum.agg(F.max("live").alias("peak"))
    at = (
        cum.join(F.broadcast(peak), F.col("live") == F.col("peak"))
        .agg(F.min("us").alias("first_peak_us"))
    )
    n = cum.agg((F.count(F.lit(1)) / 2).cast("long").alias("n_sessions"))
    return (
        n.crossJoin(F.broadcast(peak))
        .crossJoin(F.broadcast(at))
        .select(
            "n_sessions",
            F.col("peak").cast("long").alias("peak_concurrency"),
            F.timestamp_micros(F.col("first_peak_us")).alias("first_peak_ts"),
        )
    )


def daily_gapfill(events: DataFrame) -> DataFrame:
    """Calendar-complete daily series per event type: zero-filled event
    counts and day-value sums on every calendar day of the type's observed
    span, plus the last observed raw ``value`` carried forward across gap
    days (LOCF) — the resample-and-forward-fill staple every monitoring
    and feature-engineering pipeline needs before a model sees the series
    (a missing day must read as "0 events, value unchanged", never as a
    silently absent row).

    Scale shape: ONE map-side-combined aggregation reduces the fact table
    to a (type, day) relation — bounded by |types| x calendar days, not by
    data volume — and everything downstream (span min/max, grid explode,
    LOCF window) runs on that bounded relation. The grid comes from
    ``F.sequence`` per type (fan-out = span days, calendar-bounded); the
    LOCF window partitions by event_type, so no partition-less WindowExec
    anywhere (suite plan contract). The within-day "last" is
    ``F.max_by`` over the (ts, event_id) struct — deterministic under
    timestamp ties because event_id is unique.

    Determinism: counts are exact BIGINTs, day sums are exact DECIMAL
    (cast before aggregation, the q1 convention) with one output cast to
    DOUBLE; the carried value is a STORED double (no arithmetic), so both
    engines emit the identical bits.
    """
    daily = (
        events.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.col("value").cast(D)).alias("day_value"),
            F.max_by("value", F.struct("ts", "event_id")).alias("day_last"),
        )
    )
    from ..functions.checkpoint import cut_lineage

    daily = cut_lineage(daily)  # consumed twice: span scan + grid join
    spans = daily.groupBy("event_type").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    grid = spans.select(
        "event_type", F.explode(F.sequence("d0", "d1")).alias("day")
    )
    locf = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(daily, ["event_type", "day"], "left")
        .select(
            "event_type",
            "day",
            F.coalesce(F.col("n_events"), F.lit(0).cast("long")).alias("n_events"),
            F.coalesce(F.col("day_value").cast("double"), F.lit(0.0)).alias(
                "day_value"
            ),
            F.last("day_last", ignorenulls=True).over(locf).alias("carried_value"),
            F.when(F.col("n_events").isNull(), 1)
            .otherwise(0)
            .cast("int")
            .alias("is_gap"),
        )
        .orderBy("event_type", "day")
    )


def funnel_latency(
    events: DataFrame, steps: tuple[str, ...] = ("view", "click", "purchase")
) -> DataFrame:
    """Funnel time-to-convert: for each consecutive step pair, over the
    users who COMPLETED the pair, the conversion-latency distribution —
    count, mean, p50/p90 seconds ("users click 40 s after viewing, but
    the purchase tail is hours"). The measurement 17h's conversion counts
    don't carry, on the same single-Exchange reach-time relation
    (``_step_reach_times`` — the funnel's window chain is shared code,
    so both operators stay semantics-identical by construction).

    Latencies are exact INTEGER microseconds (unix_micros difference —
    no timestamp rounding); the mean divides an exact BIGINT sum once,
    percentiles are mergeable ``approx_percentile`` over those integers
    cast to double (< 2^53 ⇒ exact; discrete value-at-rank ≡ the
    oracle's quantile_disc — the 17ae/17ai argument), divided to seconds
    AFTER rank selection so both engines round identically.
    """
    per_user = _step_reach_times(events, steps)
    pair_rows = []
    for i in range(1, len(steps)):
        lat = F.unix_micros(F.col(f"__t{i}")) - F.unix_micros(
            F.col(f"__t{i - 1}")
        )
        agg = per_user.filter(F.col(f"__t{i}").isNotNull()).agg(
            F.count(F.lit(1)).cast("long").alias("n_converted"),
            F.sum(lat).cast("long").alias("__sum_us"),
            F.expr(
                f"approx_percentile(CAST(unix_micros(__t{i}) - "
                f"unix_micros(__t{i - 1}) AS DOUBLE), array(0.5D, 0.9D),"
                f" {1_000_000})"
            ).alias("__q"),
        )
        pair_rows.append(
            agg.select(
                F.lit(i).cast("long").alias("step"),
                F.lit(steps[i - 1]).alias("from_type"),
                F.lit(steps[i]).alias("to_type"),
                "n_converted",
                # exact-int ratio (µs sum / n·10⁶) => integer round
                iround_ratio(
                    F.col("__sum_us"),
                    F.col("n_converted") * F.lit(1_000_000),
                    6,
                ).alias("mean_seconds"),
                (F.col("__q")[0] / 1_000_000.0).alias("p50_seconds"),
                (F.col("__q")[1] / 1_000_000.0).alias("p90_seconds"),
            )
        )
    out = pair_rows[0]
    for other in pair_rows[1:]:
        out = out.unionByName(other)
    return out.orderBy("step")


SESSION_PATH_DEPTH = 3
SESSION_PATH_TOPK = 20


def session_paths(
    events: DataFrame,
    gap_us: int = SESSION_GAP_US,
    depth: int = SESSION_PATH_DEPTH,
    top_k: int = SESSION_PATH_TOPK,
) -> DataFrame:
    """Top session journeys: the most common opening sequences — each
    session's first ``depth`` event types joined " > " — ranked by
    session count ("view > click > purchase is the #1 path; view > view
    > view means discovery is broken"). The sequence-mining staple
    product analytics runs right after the funnel, restricted to session
    OPENINGS so the path space stays bounded (|types|^depth, not
    arbitrary-length).

    Scale shape: rides the session-tagging Exchange every session
    operator shares (``_with_session_idx``); the per-session row_number
    window partitions by (user_id, session_idx), which hash(user_id)
    already clusters — no second Exchange; the first-``depth`` slots
    pivot via MAX(CASE rn = i) (map-side combinable, no ordered
    collect_list), and the final top-k is a distributed TakeOrdered
    (n desc, path asc — a deterministic total order at the cut).

    (ts, event_id) ordering is tie-free across engines; everything else
    is exact integer counting and string concat (``concat_ws`` drops the
    NULL slots of short sessions identically in both engines).
    """
    tagged = _with_session_idx(
        events.select("user_id", "ts", "event_id", "event_type"), gap_us
    )
    rn = F.row_number().over(
        Window.partitionBy("user_id", "session_idx").orderBy("ts", "event_id")
    )
    head = tagged.withColumn("rn", rn).filter(F.col("rn") <= depth)
    slots = head.groupBy("user_id", "session_idx").agg(
        *[
            F.max(F.when(F.col("rn") == i, F.col("event_type"))).alias(
                f"__s{i}"
            )
            for i in range(1, depth + 1)
        ]
    )
    path = F.concat_ws(" > ", *[f"__s{i}" for i in range(1, depth + 1)])
    return (
        slots.select(path.alias("path"))
        .groupBy("path")
        .agg(F.count(F.lit(1)).cast("long").alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), F.col("path").asc())
        .limit(top_k)
    )


DUP_WINDOW_US = 5 * 1_000_000  # 5 s


def event_dedup_report(
    events: DataFrame, window_us: int = DUP_WINDOW_US
) -> DataFrame:
    """Windowed duplicate-suppression report — the telemetry retry /
    double-fire cleanup every at-least-once ingest needs (the reference's
    ProcessBatch rejects duplicate serials batch-wide; device telemetry
    needs the TIME-windowed form): an event is a duplicate when an event
    with the SAME (user, type, value) payload precedes it within
    ``window_us`` — chain-collapsing (each retry is judged against its
    predecessor, so a retry storm collapses to its head however long it
    runs). Output: per event type, events seen / duplicates / kept.

    Scale shape: ONE shuffle on the (user, type, value) identity key,
    a lag inside each partition (the sessionize Exchange family), then a
    map-side-combined per-type rollup. Integer-microsecond gap compare —
    no double rounding at the window edge.
    """
    order = Window.partitionBy("user_id", "event_type", "value").orderBy(
        "ts", "event_id"
    )
    us = F.unix_micros(F.col("ts"))
    prev_us = F.lag(us).over(order)
    is_dup = prev_us.isNotNull() & ((us - prev_us) <= window_us)
    return (
        events.withColumn("__dup", is_dup.cast("int"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("__dup").cast("long").alias("n_duplicates"),
            (F.count(F.lit(1)) - F.sum("__dup")).cast("long").alias("n_kept"),
        )
        .orderBy("event_type")
    )


STICKINESS_WINDOW_DAYS = 28


def stickiness(
    events: DataFrame, window_days: int = STICKINESS_WINDOW_DAYS
) -> DataFrame:
    """DAU/MAU stickiness — the engagement KPI boards track (what share
    of the monthly audience shows up on a given day; WhatsApp-class
    products run ~0.7, casual tools ~0.1): rides
    ``active_users_window`` at a 28-day trailing window (the SAME
    bounded grid fan-out — no per-day rescan, no range join) and adds
    the ratio. One exact double division per day, rounded at 6.
    """
    au = active_users_window(events, trailing_days=window_days)
    return au.select(
        "day",
        "dau",
        F.col("trailing_users").alias("mau"),
        # exact-int ratio => midpoint-exposed; integer div-round
        iround_ratio(F.col("dau"), F.col("trailing_users"), 6).alias(
            "stickiness"
        ),
    ).orderBy("day")
