"""Streaming z-score anomaly detector: Welford state across micro-batches."""

from __future__ import annotations

import json

from connexion2k12_extending_the_axeda_domain_model_simple_batch_processing_framework_spark.streaming import (
    anomaly,
)

SCHEMA = "user_id long, event_id long, value double, event_time timestamp"


def _write(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _ev(user, eid, value, ts):
    return {"user_id": user, "event_id": eid, "value": value, "event_time": ts}


def _run(spark, src, tmp_path, name, one_file_per_batch=False):
    reader = spark.readStream.schema(SCHEMA)
    if one_file_per_batch:
        reader = reader.option("maxFilesPerTrigger", 1)
    stream = reader.json(str(src))
    q = (
        anomaly.value_anomaly_stream(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {name}").collect()


def test_anomaly_stream_flags_outlier_after_baseline(spark, tmp_path):
    src = tmp_path / "ev1"
    src.mkdir()
    base = "2026-01-01T10:00:{:02d}"
    rows = [
        _ev(1, i, 10.0 + (i % 3) * 0.5, base.format(i)) for i in range(10)
    ]
    rows.append(_ev(1, 99, 500.0, base.format(50)))  # wild outlier, arrives last
    rows.append(_ev(1, 100, 10.5, base.format(51)))  # normal after the spike
    _write(src / "f0.json", rows)
    out = _run(spark, src, tmp_path, "anom1")
    flagged = {r.event_id for r in out}
    assert 99 in flagged
    # early rows can't be flagged (no baseline yet), normal rows never
    assert all(e == 99 for e in flagged)
    z = [r.zscore for r in out if r.event_id == 99][0]
    assert z > anomaly.ANOMALY_Z


def test_anomaly_stream_state_survives_micro_batches(spark, tmp_path):
    """Baseline built in batch 1 must flag an outlier arriving in batch 2 —
    proving the Welford moments persist in the state store."""
    src = tmp_path / "ev2"
    src.mkdir()
    _write(
        src / "f0.json",
        [_ev(2, i, 5.0 + (i % 2) * 0.25, f"2026-01-01T11:00:{i:02d}") for i in range(8)],
    )
    _write(src / "f1.json", [_ev(2, 50, -300.0, "2026-01-01T11:01:00")])
    # maxFilesPerTrigger=1 → the baseline file and the outlier file are
    # separate micro-batches; flagging event 50 requires the Welford
    # moments from batch 1 to come back out of the state store
    out = _run(spark, src, tmp_path, "anom2", one_file_per_batch=True)
    assert {r.event_id for r in out} == {50}
    assert [r.zscore for r in out][0] < -anomaly.ANOMALY_Z


def test_distinct_users_stream_kmv_matches_small_exact(spark, drain_stream, tmp_path):
    """Fewer distinct users than k → the sketch is exact; the estimate
    must keep absorbing new users across micro-batches (merge path)."""
    src = tmp_path / "ev3"
    src.mkdir()
    _write(
        src / "f0.json",
        [_ev(u, u, 1.0, "2026-01-01T10:00:00") for u in range(1, 11)],
    )
    _write(
        src / "f1.json",
        [_ev(u, u + 100, 1.0, "2026-01-01T10:30:00") for u in range(5, 21)],
    )
    reader = spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1)
    stream = reader.json(str(src))
    q = (
        anomaly.distinct_users_stream(stream)
        .writeStream.format("memory")
        .queryName("kmvwin")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_kmvwin"))
        .trigger(availableNow=True)
        .start()
    )
    drain_stream(q)
    rows = spark.sql(
        "SELECT * FROM kmvwin ORDER BY n_seen"
    ).collect()
    # final refresh of the window covers users 1..20 = 20 distinct
    assert rows[-1].distinct_estimate == 20.0


# --- streaming MAD screen ---------------------------------------------------

MAD_SCHEMA = "event_type string, event_id long, value double, event_time timestamp"


def _mev(et, eid, value, ts="2026-01-01T10:00:00"):
    return {"event_type": et, "event_id": eid, "value": value, "event_time": ts}


def _run_mad(spark, src, tmp_path, name):
    stream = (
        spark.readStream.schema(MAD_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = (
        anomaly.mad_anomaly_stream(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql(f"SELECT * FROM {name}").collect()
    # update mode: the freshest summary per type is the one with max n
    last = {}
    for r in rows:
        if r.event_type not in last or r.n > last[r.event_type].n:
            last[r.event_type] = r
    return last


def test_mad_stream_drained_equals_batch_small(spark, tmp_path):
    """While each type's history fits the reservoir, the drained stream
    must EQUAL the batch mad_anomalies summary (same discrete rank-median,
    exact counts) — including a cross-micro-batch fold."""
    from connexion2k12_extending_the_axeda_domain_model_simple_batch_processing_framework_spark.operators import (
        analytics,
    )

    rows = [_mev("view", i, 10.0 + (i % 7) * 0.5) for i in range(40)]
    rows += [_mev("view", 100 + i, 400.0 + i) for i in range(2)]  # outliers
    rows += [_mev("click", 200 + i, float(i * i % 13)) for i in range(25)]
    src = tmp_path / "madsrc"
    src.mkdir()
    _write(src / "f0.json", rows[:30])
    _write(src / "f1.json", rows[30:])
    got = _run_mad(spark, src, tmp_path, "mad1")

    batch_df = spark.createDataFrame(
        [(r["event_type"], r["event_id"], r["value"]) for r in rows],
        "event_type string, event_id long, value double",
    )
    want = {r.event_type: r for r in analytics.mad_anomalies(batch_df).collect()}
    assert set(got) == set(want)
    for et in want:
        g, w = got[et], want[et]
        assert (g.n, g.med_value, g.mad_value, g.n_outliers, g.outlier_frac) == (
            w.n, w.med_value, w.mad_value, w.n_outliers, w.outlier_frac
        ), et


def test_mad_stream_reservoir_bounds_state_beyond_k(spark, tmp_path):
    """Above MAD_RESERVOIR_K values the state stays bounded and the
    summary follows the documented deterministic sample contract: median/
    MAD over the bottom-K-by-md5(event_id) values, n exact."""
    import hashlib

    n_total = anomaly.MAD_RESERVOIR_K + 300
    rows = [_mev("view", i, float((i * 37) % 1000)) for i in range(n_total)]
    src = tmp_path / "madsrc2"
    src.mkdir()
    _write(src / "f0.json", rows[:600])
    _write(src / "f1.json", rows[600:])
    got = _run_mad(spark, src, tmp_path, "mad2")["view"]
    assert got.n == n_total  # exact count survives sampling

    def h(eid):
        return int(hashlib.md5(str(eid).encode()).hexdigest()[:15], 16)

    sample = sorted(((h(r["event_id"]), r["value"]) for r in rows))[
        : anomaly.MAD_RESERVOIR_K
    ]
    vals = [v for _h, v in sample]
    med = anomaly._rank_median(vals)
    mad = anomaly._rank_median([abs(v - med) for v in vals])
    assert (got.med_value, got.mad_value) == (med, mad)


# --- streaming HLL distinct users --------------------------------------------

HLL_SCHEMA = "event_type string, user_id long, event_time timestamp"


def test_hll_stream_drained_equals_batch_exactly(spark, tmp_path):
    """Register-wise max is mergeable and order-independent, so the
    drained stream must equal the batch hll_distinct_users sketch
    BIT-FOR-BIT — estimate and empty-bucket count — at any cardinality,
    including registers folded across micro-batches."""
    from connexion2k12_extending_the_axeda_domain_model_simple_batch_processing_framework_spark.operators import (
        sketches,
    )

    rows = [
        {"event_type": et, "user_id": u * 7919 + i, "event_time": "2026-01-01T10:00:00"}
        for i, et in enumerate(["view", "click", "buy"])
        for u in range(1, 401)
    ]
    src = tmp_path / "hllsrc"
    src.mkdir()
    _write(src / "f0.json", rows[:500])
    _write(src / "f1.json", rows[500:])
    stream = (
        spark.readStream.schema(HLL_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = (
        anomaly.hll_users_stream(stream)
        .writeStream.format("memory")
        .queryName("hll1")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_hll1"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("SELECT * FROM hll1").collect()
    got = {}
    for r in out:  # update mode: freshest summary per type has max n_seen
        if r.event_type not in got or r.n_seen > got[r.event_type].n_seen:
            got[r.event_type] = r

    batch_df = spark.createDataFrame(
        [(r["event_type"], r["user_id"]) for r in rows],
        "event_type string, user_id long",
    )
    want = {r.event_type: r for r in sketches.hll_distinct_users(batch_df).collect()}
    assert set(got) == set(want)
    for et in want:
        assert (got[et].hll_estimate, got[et].empty_buckets) == (
            want[et].hll_estimate, want[et].empty_buckets
        ), et
        # and the estimate is a real estimate: within 20% at 400 users
        assert abs(got[et].hll_estimate / want[et].n_exact - 1.0) < 0.2, et
