"""Streaming gap sessionization: closed sessions match the batch operator."""

from __future__ import annotations

import json

from connexion2k12_extending_the_axeda_domain_model_simple_batch_processing_framework_spark.operators import (
    temporal,
)
from connexion2k12_extending_the_axeda_domain_model_simple_batch_processing_framework_spark.streaming import (
    sessions,
)

SCHEMA = "user_id long, event_id long, value double, ts timestamp"


def _write(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _run(spark, drain, src, tmp_path, name, one_file_per_batch=False):
    reader = spark.readStream.schema(SCHEMA)
    if one_file_per_batch:
        reader = reader.option("maxFilesPerTrigger", 1)
    stream = reader.json(str(src))
    q = (
        sessions.session_stream(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    drain(q)
    return spark.sql(f"SELECT * FROM {name}").collect()


def _ev(user, eid, value, ts):
    return {"user_id": user, "event_id": eid, "value": value, "ts": ts}


def test_session_stream_matches_batch_closed_sessions(spark, drain_stream, tmp_path):
    src = tmp_path / "sess1"
    src.mkdir()
    rows = [
        # user 1: session A (3 events), 40-min gap, session B (2 events),
        # gap again, then a lone tail event (stays OPEN in the stream)
        _ev(1, 1, 10.0, "2026-01-01T10:00:00"),
        _ev(1, 2, 5.5, "2026-01-01T10:10:00"),
        _ev(1, 3, 1.25, "2026-01-01T10:20:00"),
        _ev(1, 4, 2.0, "2026-01-01T11:00:01"),
        _ev(1, 5, 3.0, "2026-01-01T11:10:00"),
        _ev(1, 6, 9.0, "2026-01-01T12:30:00"),
        # user 2: a single session, then a closing gap event
        _ev(2, 7, 100.0, "2026-01-01T09:00:00"),
        _ev(2, 8, -0.5, "2026-01-01T10:00:00"),
    ]
    _write(src / "f0.json", rows)
    out = _run(spark, drain_stream, src, tmp_path, "sess1")
    got = {
        (r.user_id, r.session_idx): (
            r.session_start.isoformat(),
            r.session_end.isoformat(),
            r.n_events,
            r.sum_value_cents,
        )
        for r in out
    }
    # exactly the CLOSED sessions: user1 A and B; user2's first (closed by
    # event 8 arriving past the gap). Open tails (1,3) and (2,2) not emitted.
    assert got == {
        (1, 1): ("2026-01-01T10:00:00", "2026-01-01T10:20:00", 3, 1675),
        (1, 2): ("2026-01-01T11:00:01", "2026-01-01T11:10:00", 2, 500),
        (2, 1): ("2026-01-01T09:00:00", "2026-01-01T09:00:00", 1, 10000),
    }

    # batch parity on the same rows: every closed streaming session equals
    # the batch operator's session at the same (user, idx) grain
    events = spark.createDataFrame(
        [(r["user_id"], r["event_id"], r["value"], r["ts"].replace("T", " "))
         for r in rows],
        "user_id long, event_id long, value double, ts string",
    ).selectExpr("user_id", "event_id", "value", "cast(ts as timestamp) ts")
    batch = {
        (r.user_id, r.session_idx): (
            r.session_start.isoformat(),
            r.session_end.isoformat(),
            r.n_events,
            int(r.sum_value * 100),
        )
        for r in temporal.sessionize(events).collect()
    }
    for k, v in got.items():
        assert batch[k] == v


def test_session_stream_state_survives_micro_batches(
    spark, drain_stream, tmp_path
):
    src = tmp_path / "sess2"
    src.mkdir()
    # session spans two micro-batches: must close as ONE 3-event session
    _write(src / "f0.json", [
        _ev(5, 1, 1.0, "2026-01-01T10:00:00"),
        _ev(5, 2, 1.0, "2026-01-01T10:05:00"),
    ])
    _write(src / "f1.json", [
        _ev(5, 3, 1.0, "2026-01-01T10:10:00"),   # extends the open session
        _ev(5, 4, 7.0, "2026-01-01T12:00:00"),   # gap -> closes it
    ])
    out = _run(spark, drain_stream, src, tmp_path, "sess2", one_file_per_batch=True)
    assert len(out) == 1
    r = out[0]
    assert (r.user_id, r.session_idx, r.n_events, r.sum_value_cents) == (5, 1, 3, 300)
    assert r.session_end.isoformat() == "2026-01-01T10:10:00"


def test_cents_matches_spark_decimal_cast():
    """_cents must mirror double→DECIMAL(18,2) HALF_UP over the shortest
    decimal repr: 0.615 is 62 cents even though 0.615*100 == 61.4999…."""
    assert sessions._cents(0.615) == 62
    assert sessions._cents(-0.615) == -62
    assert sessions._cents(2.675) == 268   # 2.675*100 == 267.49999…
    assert sessions._cents(10.0) == 1000
    assert sessions._cents(-0.5) == -50
    assert sessions._cents(0.004) == 0
    assert sessions._cents(0.005) == 1


class _FakeState:
    """Minimal GroupState stand-in for direct _sessionize_group calls."""

    def __init__(self, value=None, timed_out=False):
        self._value = value
        self.hasTimedOut = timed_out
        self.removed = False
        self.timeout_set = None

    @property
    def exists(self):
        return self._value is not None

    @property
    def get(self):
        return self._value

    def update(self, v):
        self._value = tuple(v)

    def remove(self):
        self._value, self.removed = None, True

    def setTimeoutDuration(self, ms):
        self.timeout_set = ms


def _pdf(rows):
    import pandas as pd

    return pd.DataFrame(
        {
            "user_id": [r[0] for r in rows],
            "event_id": [r[1] for r in rows],
            "value": [r[2] for r in rows],
            "ts": pd.to_datetime([r[3] for r in rows]),
        }
    )


def test_group_sorted_across_arrow_chunks_not_per_chunk():
    """applyInPandasWithState hands a large group over as MULTIPLE Arrow
    chunks in no particular event-time order; the operator must sort the
    materialized group once, not each chunk. Chunk 2 here holds EARLIER
    events than chunk 1 — per-chunk sorting would replay them after the
    later ones and cut a bogus session."""
    chunk_late = _pdf([
        (1, 3, 1.0, "2026-01-01 10:20:00"),
        (1, 4, 1.0, "2026-01-01 11:30:00"),  # gap vs 10:20 -> closes A
    ])
    chunk_early = _pdf([
        (1, 1, 1.0, "2026-01-01 10:00:00"),
        (1, 2, 1.0, "2026-01-01 10:10:00"),
    ])
    st = _FakeState()
    out = list(sessions._sessionize_group((1,), [chunk_late, chunk_early], st))
    assert len(out) == 1
    row = out[0].iloc[0]
    # one closed session covering ALL THREE early events 10:00-10:20
    assert (row.session_idx, row.n_events) == (1, 3)
    assert str(row.session_start) == "2026-01-01 10:00:00"
    assert str(row.session_end) == "2026-01-01 10:20:00"
    # open tail (11:30 event) carried in state under the next index
    assert st._value[0] == 2 and st._value[3] == 1


def test_timeout_flush_keeps_session_index_residual():
    """An idle-timeout flush must NOT reset the per-user session counter:
    a user resuming within the residual's retention window continues at
    next_idx+1 instead of repeating an emitted (user_id, session_idx)
    key. Only a second idle period with nothing open drops the state —
    after which the counter restarts and uniqueness is carried by
    (user_id, session_start) instead (module docstring)."""
    t0 = 1_700_000_000_000_000
    st = _FakeState(value=(2, t0, t0 + 60_000_000, 3, 500), timed_out=True)
    out = list(sessions._sessionize_group((7,), [], st))
    assert len(out) == 1 and out[0].iloc[0].session_idx == 2
    assert not st.removed
    assert st._value == (3, 0, 0, 0, 0)       # residual carries next_idx
    assert st.timeout_set == sessions.SESSION_FLUSH_MS

    # resuming user: new session takes index 3, not 1
    st2 = _FakeState(value=(3, 0, 0, 0, 0))
    list(sessions._sessionize_group((7,), [_pdf([(7, 9, 1.0, "2026-01-01 10:00:00")])], st2))
    assert st2._value[0] == 3 and st2._value[3] == 1  # open session, idx 3 next to emit

    # second timeout with an empty residual: state finally dropped
    st3 = _FakeState(value=(3, 0, 0, 0, 0), timed_out=True)
    assert list(sessions._sessionize_group((7,), [], st3)) == []
    assert st3.removed
