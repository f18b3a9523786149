"""Property-based tests (hypothesis): distributed plans vs brute-force
Python references on random inputs. These catch boundary semantics the
example-based tests and the DuckDB oracle (which shares some formula
choices) could both miss — tie-breaking, window-edge inclusivity, bucket
straddling.

Sized for the shared local session: small generated frames, few examples,
deadline disabled (Spark job latency dominates)."""

from __future__ import annotations

import datetime

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from connexion2k12_extending_the_axeda_domain_model_simple_batch_processing_framework_spark.operators import (
    temporal,
)

_EVENT_SETS = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=4),      # user_id
        st.integers(min_value=0, max_value=3600),   # seconds offset
        st.sampled_from(["view", "error", "click"]),
    ),
    min_size=1,
    max_size=25,
)

_BASE = datetime.datetime(2024, 1, 1)
_SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _to_events(spark, rows):
    data = [
        (i, _BASE + datetime.timedelta(seconds=s), u, et, 1.0, "{}")
        for i, (u, s, et) in enumerate(rows)
    ]
    return spark.createDataFrame(
        data,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )


@given(rows=_EVENT_SETS)
@settings(**_SETTINGS)
def test_range_join_follow_matches_bruteforce(spark, rows):
    ev = _to_events(spark, rows)
    got = {
        r.error_event_id: r.n_follow
        for r in temporal.range_join_follow(ev, window_us=300 * 1_000_000).collect()
    }
    want = {}
    for i, (u, s, et) in enumerate(rows):
        if et != "error":
            continue
        want[i] = sum(
            1
            for j, (u2, s2, _) in enumerate(rows)
            if u2 == u and s < s2 <= s + 300
        )
    assert got == want


@given(rows=_EVENT_SETS, gap=st.sampled_from([60, 300, 900]))
@settings(**_SETTINGS)
def test_sessionize_matches_bruteforce(spark, rows, gap):
    ev = _to_events(spark, rows)
    got = sorted(
        (r.user_id, int(r.session_idx), r.n_events)
        for r in temporal.sessionize(ev, gap_us=gap * 1_000_000).collect()
    )
    # brute force: per user, sort by (ts, event_id), split on gap > gap_us
    by_user: dict[int, list[tuple[int, int]]] = {}
    for i, (u, s, _) in enumerate(rows):
        by_user.setdefault(u, []).append((s, i))
    want = []
    for u, evs in by_user.items():
        evs.sort()
        sessions: list[int] = []
        prev = None
        for s, _ in evs:
            if prev is None or (s - prev) > gap:
                sessions.append(0)
            sessions[-1] += 1
            prev = s
        want.extend((u, idx + 1, n) for idx, n in enumerate(sessions))
    assert got == sorted(want)


@given(rows=_EVENT_SETS)
@settings(**_SETTINGS)
def test_asof_attribution_matches_bruteforce(spark, rows):
    ev = _to_events(spark, rows)
    got = {
        r.purchase_id: r.click_id
        for r in temporal.asof_attribute(ev, "view", "click").collect()
    }
    want = {}
    for i, (u, s, et) in enumerate(rows):
        if et != "click":
            continue
        # most recent view at-or-before; ties: latest ts wins, then the
        # largest event_id among views at that ts (last carried forward)
        cands = [
            (s2, j)
            for j, (u2, s2, et2) in enumerate(rows)
            if u2 == u and et2 == "view" and s2 <= s
        ]
        if cands:
            want[i] = max(cands)[1]
    assert got == want


@given(rows=_EVENT_SETS, trailing=st.sampled_from([1, 2, 7]))
@settings(**_SETTINGS)
def test_active_users_window_matches_bruteforce(spark, rows, trailing):
    # spread events across days, not seconds, so gap days + trailing-edge
    # inclusivity actually get exercised
    ev = spark.createDataFrame(
        [
            (i, _BASE + datetime.timedelta(days=s % 15, hours=s % 23), u, et, 1.0, "{}")
            for i, (u, s, et) in enumerate(rows)
        ],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    got = {
        r.day.date(): (r.dau, r.trailing_users)
        for r in temporal.active_users_window(ev, trailing_days=trailing).collect()
    }
    active: dict[datetime.date, set[int]] = {}
    for i, (u, s, et) in enumerate(rows):
        d = (_BASE + datetime.timedelta(days=s % 15, hours=s % 23)).date()
        active.setdefault(d, set()).add(u)
    want = {}
    for d, users in active.items():
        back = [
            active.get(d - datetime.timedelta(days=k), set())
            for k in range(trailing)
        ]
        want[d] = (len(users), len(set().union(*back)))
    assert got == want


_SIDE = st.dictionaries(
    st.integers(min_value=1, max_value=6),          # doc_id
    st.integers(min_value=0, max_value=3),          # version
    min_size=0,
    max_size=6,
)


@given(base=_SIDE, upd=_SIDE)
@settings(**_SETTINGS)
def test_latest_wins_merge_matches_bruteforce(spark, base, upd):
    from connexion2k12_extending_the_axeda_domain_model_simple_batch_processing_framework_spark.operators import (
        process,
    )

    if not base and not upd:
        return
    schema = "doc_id long, text string, version long"
    bdf = spark.createDataFrame(
        [(k, f"base-{k}-v{v}", v) for k, v in base.items()], schema
    )
    udf_ = spark.createDataFrame(
        [(k, f"upd-{k}-v{v}", v) for k, v in upd.items()], schema
    )
    got = {
        r.doc_id: (r.text, r.version, r.src)
        for r in process.latest_wins_merge(bdf, udf_).collect()
    }
    want = {}
    for k in set(base) | set(upd):
        bv, uv = base.get(k), upd.get(k)
        # equal-version tie -> the update wins (newer feed)
        if uv is not None and (bv is None or uv >= bv):
            want[k] = (f"upd-{k}-v{uv}", uv, "update")
        else:
            want[k] = (f"base-{k}-v{bv}", bv, "base")
    assert got == want


@given(rows=_EVENT_SETS)
@settings(**_SETTINGS)
def test_events_sliding_rollup_matches_bruteforce(spark, rows):
    from connexion2k12_extending_the_axeda_domain_model_simple_batch_processing_framework_spark.operators import (
        analytics,
    )

    ev = _to_events(spark, rows)
    got = {
        (r.window_start, r.event_type): (r.n_events, r.n_users)
        for r in analytics.events_sliding_rollup(ev).collect()
    }
    # each event belongs to exactly 2 windows: the one starting at its
    # 30-min bucket and the one 30 min earlier (window-boundary membership:
    # an event AT a boundary starts a new window, never trails the prior)
    want: dict = {}
    for i, (u, s, et) in enumerate(rows):
        ts = _BASE + datetime.timedelta(seconds=s)
        bucket = ts - datetime.timedelta(
            minutes=ts.minute % 30, seconds=ts.second
        )
        for w0 in (bucket, bucket - datetime.timedelta(minutes=30)):
            key = (w0, et)
            n, users = want.get(key, (0, set()))
            users = users | {u}
            want[key] = (n + 1, users)
    assert got == {k: (n, len(us)) for k, (n, us) in want.items()}


_DIM_UPDATES = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=3),      # user_id
        st.integers(min_value=0, max_value=40),     # seconds offset
        st.integers(min_value=0, max_value=9),      # score
    ),
    min_size=0,
    max_size=10,
)


@given(updates=_DIM_UPDATES, facts=_DIM_UPDATES)
@settings(**_SETTINGS)
def test_scd2_point_in_time_matches_bruteforce(spark, updates, facts):
    from connexion2k12_extending_the_axeda_domain_model_simple_batch_processing_framework_spark.operators import (
        process,
    )

    if not facts:
        return
    dim = spark.createDataFrame(
        [
            (u, _BASE + datetime.timedelta(seconds=s), 100 + i, float(v))
            for i, (u, s, v) in enumerate(updates)
        ],
        "user_id long, valid_from timestamp, event_id long, score double",
    )
    fdf = spark.createDataFrame(
        [
            (500 + i, u, _BASE + datetime.timedelta(seconds=s))
            for i, (u, s, _) in enumerate(facts)
        ],
        "fact_id long, user_id long, ts timestamp",
    )
    got = {
        r.fact_id: (r.dim_version, r.score)
        for r in process.scd2_point_in_time(dim, fdf).collect()
    }
    # brute force: per user sort updates by (ts, event_id); a fact sees
    # the LAST update at-or-before its ts (same-instant update included,
    # higher event_id wins among same-instant updates)
    by_user: dict[int, list[tuple[int, int, int]]] = {}
    for i, (u, s, v) in enumerate(updates):
        by_user.setdefault(u, []).append((s, 100 + i, v))
    want = {}
    for i, (u, s, _) in enumerate(facts):
        evs = sorted(by_user.get(u, []))
        idx = None
        for j, (s2, _eid, _v) in enumerate(evs):
            if s2 <= s:
                idx = j
        if idx is None:
            want[500 + i] = (None, None)
        else:
            want[500 + i] = (idx + 1, float(evs[idx][2]))
    assert got == want


@given(rows=_EVENT_SETS)
@settings(**_SETTINGS)
def test_growth_accounting_matches_bruteforce(spark, rows):
    ev = spark.createDataFrame(
        [
            (i, _BASE + datetime.timedelta(days=s % 11, hours=s % 23), u, et, 1.0, "{}")
            for i, (u, s, et) in enumerate(rows)
        ],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    got = {
        r.period: (r.n_active, r.n_new, r.n_retained, r.n_resurrected, r.n_churned)
        for r in temporal.growth_accounting(ev, period="day").collect()
    }

    active: dict[datetime.date, set[int]] = {}
    for i, (u, s, et) in enumerate(rows):
        d = (_BASE + datetime.timedelta(days=s % 11)).date()
        active.setdefault(d, set()).add(u)
    last = max(active)
    first_day = {u: min(d for d, us in active.items() if u in us)
                 for us in active.values() for u in us}
    want: dict[datetime.date, list[int]] = {}
    one = datetime.timedelta(days=1)
    for d, us in active.items():
        prev = active.get(d - one, set())
        row = want.setdefault(d, [0, 0, 0, 0, 0])
        row[0] = len(us)
        for u in us:
            if first_day[u] == d:
                row[1] += 1
            elif u in prev:
                row[2] += 1
            else:
                row[3] += 1
    for d, us in active.items():
        nxt = d + one
        if nxt > last:
            continue
        churned = len(us - active.get(nxt, set()))
        if churned:
            want.setdefault(nxt, [0, 0, 0, 0, 0])[4] = churned
    assert got == {d: tuple(v) for d, v in want.items()}


@given(rows=_EVENT_SETS, ncuts=st.integers(min_value=1, max_value=3))
@settings(**_SETTINGS)
def test_streaming_growth_drained_matches_batch(spark, tmp_path_factory, rows, ncuts):
    """Random event sets drained through random period-monotone batch
    splits materialize exactly the batch growth report — multi-period
    users inside one batch, single-batch streams, empty slices, and
    frontier censoring all included."""
    from connexion2k12_extending_the_axeda_domain_model_simple_batch_processing_framework_spark.streaming import (
        growth,
    )

    ev = spark.createDataFrame(
        [
            (i, _BASE + datetime.timedelta(days=s % 9, hours=s % 23), u, et, 1.0, "{}")
            for i, (u, s, et) in enumerate(rows)
        ],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    data = sorted(ev.collect(), key=lambda r: r.ts)
    cuts = sorted({(len(data) * (i + 1)) // (ncuts + 1) for i in range(ncuts)})
    bounds = [0, *cuts, len(data)]
    tbl = str(tmp_path_factory.mktemp("growth_prop"))
    bid = 0
    schema = ev.schema
    for a, b in zip(bounds, bounds[1:]):
        batch = spark.createDataFrame(data[a:b], schema)
        growth.growth_apply_batch(batch, bid, tbl)
        bid += 1
    got = {
        r.period: (r.n_active, r.n_new, r.n_retained, r.n_resurrected, r.n_churned)
        for r in growth.read_growth_report(spark, tbl).collect()
    }
    want = {
        r.period: (r.n_active, r.n_new, r.n_retained, r.n_resurrected, r.n_churned)
        for r in temporal.growth_accounting(ev, period="day").collect()
    }
    assert got == want


_REVENUES = st.lists(
    st.integers(min_value=1, max_value=500),  # cents → decimal(18,2)
    min_size=1,
    max_size=30,
)


@given(rows=_REVENUES)
@settings(**_SETTINGS)
def test_abc_pareto_knee_matches_bruteforce(spark, rows):
    """The ABC boundary arithmetic (class A while 5·cum ≤ 4·total, B while
    20·cum ≤ 19·total) against a brute-force Python classifier on exact
    integer cents — pins the tie cases (equal revenues straddling the 80 %
    line) and proves the two-phase range-partitioned cumsum equals the
    single-window semantics on arbitrary (skewed, duplicate-heavy)
    revenue distributions."""
    from decimal import Decimal

    from connexion2k12_extending_the_axeda_domain_model_simple_batch_processing_framework_spark.operators import (
        analytics,
    )

    li = spark.createDataFrame(
        [
            (i + 1, Decimal(c) / 100, Decimal(0))
            for i, c in enumerate(rows)
        ],
        "l_partkey long, l_extendedprice decimal(18,2), l_discount decimal(18,2)",
    )
    part = spark.createDataFrame(
        [(i + 1,) for i in range(len(rows))], "p_partkey long"
    )
    got = {
        r.abc_class: (r.n_parts, round(r.class_revenue, 2))
        for r in analytics.abc_pareto(li, part).collect()
    }
    # brute force on integer cents: revenue desc, partkey asc
    order = sorted(
        ((c, i + 1) for i, c in enumerate(rows)),
        key=lambda t: (-t[0], t[1]),
    )
    total = sum(c for c, _ in order)
    want: dict[str, list[int]] = {}
    cum = 0
    for c, _pk in order:
        cum += c
        cls = "A" if 5 * cum <= 4 * total else ("B" if 20 * cum <= 19 * total else "C")
        want.setdefault(cls, []).append(c)
    expect = {
        cls: (len(cs), round(sum(cs) / 100.0, 2)) for cls, cs in want.items()
    }
    assert got == expect


_WEIGHTS = st.lists(
    st.integers(min_value=1, max_value=1000), min_size=1, max_size=40
)
_K = st.integers(min_value=1, max_value=25)


@given(weights=_WEIGHTS, k=_K)
@settings(**_SETTINGS)
def test_weighted_sample_matches_bruteforce_and_sums_to_k(spark, weights, k):
    """Weighted systematic sampling against a brute-force integer replay:
    multiplicities sum to EXACTLY k, every document's n_picks is within
    one of its exact expectation k·w/total (the systematic-sampling
    guarantee), and the selected set matches the Python grid walk on the
    identical md5 order — pinning the DECIMAL div arithmetic."""
    import hashlib

    from connexion2k12_extending_the_axeda_domain_model_simple_batch_processing_framework_spark.operators import (
        sampling,
    )

    docs = spark.createDataFrame(
        [(i + 1, "en", "s", w) for i, w in enumerate(weights)],
        "doc_id long, lang string, source string, n_chars long",
    )
    got = {
        r.doc_id: r.n_picks
        for r in sampling.weighted_systematic_sample(docs, k=k).collect()
    }
    assert sum(got.values()) == k

    def h(doc_id):
        return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:15], 16)

    order = sorted(
        ((h(i + 1), i + 1, w) for i, w in enumerate(weights))
    )
    total = sum(w for _h, _i, w in order)
    cum, want = 0, {}
    for _h, doc_id, w in order:
        n = (cum + w) * k // total - cum * k // total
        cum += w
        if n > 0:
            want[doc_id] = n
        exp = w * k / total
        assert abs(n - exp) <= 1.0
    assert got == want


_EVENT_TIMES = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=5),       # user
        st.integers(min_value=0, max_value=7200),    # seconds offset
    ),
    min_size=1,
    max_size=40,
)


@given(evs=_EVENT_TIMES)
@settings(**_SETTINGS)
def test_peak_concurrency_matches_bruteforce_sweep(spark, evs):
    """The +1/−1 sweep on the prefix-sum primitive against a Python
    replay of sessionize + boundary sweep — pins the CLOSED-interval
    rule (a zero-length single-event session still counts as 1 at its
    instant; sessions meeting at the same microsecond overlap there)
    and the earliest-peak argmin."""
    import datetime

    from connexion2k12_extending_the_axeda_domain_model_simple_batch_processing_framework_spark.operators import (
        temporal,
    )

    gap_us = 600 * 1_000_000  # 10 min, so the small offsets split sessions
    base = datetime.datetime(2026, 1, 1, tzinfo=datetime.timezone.utc)
    rows = [
        (u, i + 1, base + datetime.timedelta(seconds=s), 1.0)
        for i, (u, s) in enumerate(evs)
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, value double"
    )
    got = temporal.peak_concurrency(df, gap_us=gap_us).collect()[0]

    # python replay: gap sessions per user
    per_user: dict[int, list[tuple[int, int]]] = {}
    for u, eid, ts, _v in rows:
        per_user.setdefault(u, []).append((int(ts.timestamp() * 1e6), eid))
    sessions = []
    for u, evts in per_user.items():
        evts.sort()
        sidx = 0
        start = end = None
        prev = None
        for us, _eid in evts:
            if prev is None or us - prev > gap_us:
                if start is not None:
                    sessions.append((u, sidx, start, end))
                sidx += 1
                start = us
            end = us
            prev = us
        sessions.append((u, sidx, start, end))
    pts = [(s[2], 1, s[0], s[1]) for s in sessions] + [
        (s[3] + 1, -1, s[0], s[1]) for s in sessions  # closed intervals
    ]
    pts.sort()
    live = peak = 0
    first_peak = None
    for us, delta, _u, _s in pts:
        live += delta
        if live > peak:
            peak = live
            first_peak = us
    assert got.n_sessions == len(sessions)
    assert got.peak_concurrency == peak
    assert int(got.first_peak_ts.replace(
        tzinfo=datetime.timezone.utc).timestamp() * 1e6) == first_peak


_POINTS = st.lists(
    st.tuples(st.integers(min_value=1, max_value=12),
              st.integers(min_value=1, max_value=30)),
    min_size=1,
    max_size=25,
)


@given(pts=_POINTS)
@settings(**_SETTINGS)
def test_part_frontier_matches_bruteforce_dominance(spark, pts):
    """Skyline semantics against the quadratic Python dominance check on a
    small integer domain (dense ties and duplicate points) — pins the
    edge cases the two-phase exclusive-cummax formulation must honor:
    identical points are mutually non-dominating (all kept), equal-qty/
    higher-rev dominates, equal-rev/higher-qty dominates."""
    from decimal import Decimal

    from connexion2k12_extending_the_axeda_domain_model_simple_batch_processing_framework_spark.operators import (
        analytics,
    )

    li = spark.createDataFrame(
        [
            (i + 1, Decimal(q), Decimal(r) / 100, Decimal(0))
            for i, (q, r) in enumerate(pts)
        ],
        "l_partkey long, l_quantity decimal(18,2), "
        "l_extendedprice decimal(18,2), l_discount decimal(18,2)",
    )
    got = {
        (r.l_partkey, r.total_qty, r.total_rev)
        for r in analytics.part_frontier(li).collect()
    }
    want = set()
    for i, (q, r) in enumerate(pts):
        dominated = any(
            q2 >= q and r2 >= r and (q2 > q or r2 > r)
            for j, (q2, r2) in enumerate(pts)
            if j != i
        )
        if not dominated:
            want.add((i + 1, float(q), r / 100.0))
    assert got == want


_GAPFILL_EVENTS = st.lists(
    st.tuples(
        st.sampled_from(["a", "b"]),                # event_type
        st.integers(min_value=0, max_value=9),      # day offset
        st.integers(min_value=0, max_value=86399),  # second within day
        st.integers(min_value=0, max_value=999),    # value cents
    ),
    min_size=1,
    max_size=25,
)


@given(rows=_GAPFILL_EVENTS)
@settings(**_SETTINGS)
def test_daily_gapfill_matches_bruteforce(spark, rows):
    """Calendar gap-fill vs a brute-force Python replay on random sparse
    day patterns — pins grid completeness, zero-fill, LOCF across
    arbitrary-length gap runs, and within-day last under (ts, event_id)
    ordering with second-level ties."""
    data = [
        (
            i,
            _BASE + datetime.timedelta(days=d, seconds=s),
            1,
            et,
            c / 100.0,
        )
        for i, (et, d, s, c) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double",
    )
    got = {
        (r.event_type, str(r.day)): (
            r.n_events,
            round(r.day_value, 2),
            r.carried_value,
            r.is_gap,
        )
        for r in temporal.daily_gapfill(df).collect()
    }
    want = {}
    by_type: dict[str, list] = {}
    for i, (et, d, s, c) in enumerate(rows):
        by_type.setdefault(et, []).append((d, s, i, c))
    for et, evs in by_type.items():
        days = sorted({d for d, *_ in evs})
        last_val = None
        for d in range(days[0], days[-1] + 1):
            today = sorted(
                [(s, i, c) for dd, s, i, c in evs if dd == d]
            )
            if today:
                n = len(today)
                dv = round(sum(c for _s, _i, c in today) / 100.0, 2)
                last_val = today[-1][2] / 100.0
                want[(et, str((_BASE + datetime.timedelta(days=d)).date()))] = (
                    n, dv, last_val, 0,
                )
            else:
                want[(et, str((_BASE + datetime.timedelta(days=d)).date()))] = (
                    0, 0.0, last_val, 1,
                )
    assert got == want


_DUP_EVENTS = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=2),     # user_id
        st.sampled_from(["x", "y"]),               # event_type
        st.integers(min_value=0, max_value=30),    # seconds offset
        st.sampled_from([1.0, 2.0]),               # value payload
    ),
    min_size=1,
    max_size=20,
)


@given(rows=_DUP_EVENTS)
@settings(**_SETTINGS)
def test_event_dedup_report_matches_bruteforce(spark, rows):
    """Windowed duplicate suppression vs a Python replay — pins the
    chain-collapsing rule (each event judged against its PREDECESSOR in
    the identity group) and the inclusive <= window edge on dense
    random collision patterns."""
    data = [
        (i, _BASE + datetime.timedelta(seconds=s), u, et, v)
        for i, (u, et, s, v) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double",
    )
    got = {
        r.event_type: (r.n_events, r.n_duplicates, r.n_kept)
        for r in temporal.event_dedup_report(df, window_us=5_000_000).collect()
    }
    groups: dict[tuple, list] = {}
    for i, (u, et, s, v) in enumerate(rows):
        groups.setdefault((u, et, v), []).append((s, i, et))
    dups: dict[str, int] = {}
    totals: dict[str, int] = {}
    for _key, evs in groups.items():
        evs.sort()
        for j, (s, _i, et) in enumerate(evs):
            totals[et] = totals.get(et, 0) + 1
            if j > 0 and (s - evs[j - 1][0]) <= 5:
                dups[et] = dups.get(et, 0) + 1
    want = {
        et: (totals[et], dups.get(et, 0), totals[et] - dups.get(et, 0))
        for et in totals
    }
    assert got == want
