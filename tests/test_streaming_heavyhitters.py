"""Streaming Space-Saving heavy hitters: bounded keyed state, the
frequent-elements guarantees, and cross-micro-batch accumulation."""

from __future__ import annotations

import json

from connexion2k12_extending_the_axeda_domain_model_simple_batch_processing_framework_spark.streaming import (
    heavyhitters as hh,
)

SCHEMA = "user_id long, event_time timestamp"


def _write(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _ev(user, ts="2026-01-01T10:00:00"):
    return {"user_id": user, "event_time": ts}


def test_space_saving_fold_guarantees():
    """Pure-python invariants on a skewed arrival sequence with MORE
    distinct users than counters: every user above n/capacity is
    tracked, and est ∈ [true, true + error] for tracked users."""
    import collections

    cap = 8
    true = collections.Counter()
    counters: dict = {}
    # 40 distinct users; users 1-3 are heavy (60, 40, 30), the rest noise
    seq = [1] * 60 + [2] * 40 + [3] * 30 + [u for u in range(4, 41)] * 2
    # deterministic interleave so heavy users arrive mixed with noise
    seq = [seq[i::7] for i in range(7)]
    for chunk in seq:
        true.update(chunk)
        arrivals = list(collections.Counter(chunk).items())
        hh._space_saving_fold(counters, arrivals, cap)
    n = sum(true.values())
    for u, c in true.items():
        if c > n / cap:
            assert u in counters, f"heavy user {u} not tracked"
    for u, (est, err) in counters.items():
        assert true[u] <= est <= true[u] + err, (u, true[u], est, err)


def test_heavy_users_stream_tracks_heavies_across_batches(
    spark, drain_stream, tmp_path
):
    """Drained stream: the per-window top rows contain the true heavy
    users with exact counts (capacity exceeds the distinct count here,
    so Space-Saving degenerates to exact counting), and counts
    accumulate across micro-batches through the state store."""
    src = tmp_path / "hhsrc"
    src.mkdir()
    # batch 0: user 1 x6, user 2 x3, users 10..14 once
    _write(
        src / "f0.json",
        [_ev(1)] * 6 + [_ev(2)] * 3 + [_ev(u) for u in range(10, 15)],
    )
    # batch 1 (same window): user 1 x4 more, user 3 x5
    _write(src / "f1.json", [_ev(1)] * 4 + [_ev(3)] * 5)
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = (
        hh.heavy_users_stream(stream)
        .writeStream.format("memory")
        .queryName("hhwin")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_hh"))
        .trigger(availableNow=True)
        .start()
    )
    drain_stream(q)
    rows = spark.sql("SELECT * FROM hhwin ORDER BY n_seen, est_count DESC").collect()
    final_n = max(r.n_seen for r in rows)
    assert final_n == 23  # 14 + 9 events total
    final = {r.user_id: (r.est_count, r.max_error) for r in rows if r.n_seen == final_n}
    # exact regime: counts are true counts with zero error
    assert final[1] == (10, 0)  # 6 + 4 across batches
    assert final[3] == (5, 0)
    assert final[2] == (3, 0)
    # top ordering: user 1 first
    top = [r for r in rows if r.n_seen == final_n]
    assert top[0].user_id == 1


def test_space_saving_fold_property():
    """Hypothesis: for ANY arrival sequence and capacity, after folding
    in arbitrary chunkings the Space-Saving invariants hold — every key
    above n/capacity is tracked, tracked estimates bound the truth
    (true <= est <= true + error), and the counter set never exceeds
    capacity."""
    import collections

    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=60, deadline=None)
    @given(
        cap=st.integers(min_value=2, max_value=12),
        seq=st.lists(
            st.integers(min_value=0, max_value=30), min_size=1, max_size=300
        ),
        n_chunks=st.integers(min_value=1, max_value=6),
    )
    def check(cap, seq, n_chunks):
        true = collections.Counter(seq)
        counters: dict = {}
        size = max(1, len(seq) // n_chunks)
        for i in range(0, len(seq), size):
            chunk = seq[i : i + size]
            hh._space_saving_fold(
                counters, list(collections.Counter(chunk).items()), cap
            )
        assert len(counters) <= cap
        n = len(seq)
        for u, c in true.items():
            if c > n / cap:
                assert u in counters
        for u, (est, err) in counters.items():
            assert true[u] <= est <= true[u] + err

    check()


def test_heavy_users_stream_drained_equals_batch_topk(
    spark, drain_stream, sf_dir, tmp_path
):
    """Drained stream ≡ batch: on a capacity-sufficient stream (the
    sf0.001 events table has 15 distinct users < SS_CAPACITY=64, so
    Space-Saving is exact and max_error is 0 everywhere), the drained
    top-j equals the EXACT top-j of the batch `heavy_users_topk` path
    (the same two-phase skew-proof count the registered query runs),
    same tie-break (count desc, user asc) — the equivalence pin every
    other streaming twin carries."""
    from pyspark.sql import functions as F

    from connexion2k12_extending_the_axeda_domain_model_simple_batch_processing_framework_spark.functions.skew import (
        two_phase_count,
    )
    from connexion2k12_extending_the_axeda_domain_model_simple_batch_processing_framework_spark.sources.catalog import (
        load_table,
    )

    ev = load_table(spark, sf_dir, "events")
    rows = [
        {"user_id": r.user_id, "event_time": r.ts.isoformat()}
        for r in ev.select("user_id", "ts").collect()
    ]
    assert len(rows) == 1000
    src = tmp_path / "hhbatchsrc"
    src.mkdir()
    third = len(rows) // 3
    for i, chunk in enumerate(
        [rows[:third], rows[third : 2 * third], rows[2 * third :]]
    ):
        _write(src / f"f{i}.json", chunk)

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    # trunc="year": every event lands in ONE window, matching the batch
    # query's global (un-windowed) top-k scope
    q = (
        hh.heavy_users_stream(stream, trunc="year")
        .writeStream.format("memory")
        .queryName("hhdrain")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_hhdrain"))
        .trigger(availableNow=True)
        .start()
    )
    drain_stream(q)

    out = spark.sql("SELECT * FROM hhdrain").collect()
    final_n = max(r.n_seen for r in out)
    assert final_n == len(rows)  # all three micro-batches folded
    drained = [r for r in out if r.n_seen == final_n]
    assert len(drained) == hh.SS_TOPJ
    # capacity-sufficient ⇒ exact: zero error on every emitted counter
    assert all(r.max_error == 0 for r in drained)

    counts = two_phase_count(ev, "user_id", salt_source="event_id")
    want = (
        counts.orderBy(F.col("count").desc(), F.col("user_id").asc())
        .limit(hh.SS_TOPJ)
        .collect()
    )
    got = sorted(drained, key=lambda r: (-r.est_count, r.user_id))
    assert [(r.user_id, r.est_count) for r in got] == [
        (r.user_id, r["count"]) for r in want
    ]
