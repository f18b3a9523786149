"""Streaming peak-concurrency sweep — the streaming twin of
``operators.temporal.peak_concurrency`` (17al).

The batch operator sweeps the +1/−1 session-boundary line with a
range-partitioned prefix sum over ALL sessions at once; a stream sees
sessions as they CLOSE. This twin consumes a **closed-session feed** (any
(user_id, session_idx, session_start, session_end) relation delivered
through the usual inter-stage log — chaining two arbitrary stateful
operators inside one streaming query is not a supported Spark plan, and
production chains sessionizer → log → sweep anyway) and maintains the
running sweep in ONE state row:

- the **folded prefix** of the boundary line — four scalars
  (live, peak, first_peak_us, n_folded) for everything older than the
  lateness horizon, exactly the information the batch prefix sum carries
  past a partition boundary, and
- a **horizon-bounded buffer** of recent boundaries (parallel arrays in
  state) that still re-sorts: sessions close in trigger order, not
  boundary order — a long session's +1 lands AFTER a short later
  session's whole interval — so the tail must stay sortable until the
  horizon proves nothing older can still arrive.

Every micro-batch emits ONE monotone snapshot row (n_sessions,
peak_concurrency, first_peak_ts) computed over folded prefix + sorted
buffer — the exact statistic over every session seen so far; the drained
LAST row equals the batch operator on the same sessions (pytest-pinned,
including batch splits that deliver boundary lines out of us-order).

Lateness contract: an arriving session may reach back at most
``horizon_us`` behind the newest session end seen so far (bounded
session length + ordered ingest give exactly this in a deployment; the
sessionizer's flush timeout enforces it). A violation would silently
corrupt the folded prefix, so it raises instead — the drift twin's
crash-loud convention.

Semantics parity (bit-exact with the batch sweep): closed intervals
([start, end] occupies end+1), sweep order (us, delta, user_id,
session_idx) with −1 before +1 at equal us, integer microseconds
throughout, earliest peak wins.
"""

from __future__ import annotations

from collections.abc import Iterable
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

#: how far behind the newest session end a late session may reach
#: (boundary lateness = session length + gap; 24h covers any capped
#: sessionizer)
CONCURRENCY_HORIZON_US = 24 * 3600 * 1_000_000

CONCURRENCY_OUT_SCHEMA = T.StructType(
    [
        T.StructField("n_sessions", T.LongType(), False),
        T.StructField("peak_concurrency", T.LongType(), False),
        T.StructField("first_peak_ts", T.TimestampType(), True),
    ]
)

CONCURRENCY_STATE_SCHEMA = T.StructType(
    [
        T.StructField("live", T.LongType(), False),
        T.StructField("peak", T.LongType(), False),
        T.StructField("first_peak_us", T.LongType(), True),
        T.StructField("n_folded", T.LongType(), False),
        T.StructField("max_end_us", T.LongType(), False),
        T.StructField("buf_us", T.ArrayType(T.LongType()), False),
        T.StructField("buf_delta", T.ArrayType(T.LongType()), False),
        T.StructField("buf_user", T.ArrayType(T.LongType()), False),
        T.StructField("buf_sidx", T.ArrayType(T.LongType()), False),
    ]
)


def _sweep(
    rows: list[tuple[int, int, int, int]],
    live: int,
    peak: int,
    first_peak_us: int | None,
) -> tuple[int, int, int | None]:
    """Fold sorted (us, delta, user, sidx) boundaries into the running
    (live, peak, first_peak_us) — the batch cumsum + argmin in one pass."""
    for us, delta, _u, _s in rows:
        live += delta
        if live > peak:
            peak, first_peak_us = live, us
    return live, peak, first_peak_us


def _make_concurrency_group(horizon_us: int):
    def _group(
        key: tuple[Any, ...], pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        batches = [pdf for pdf in pdfs if len(pdf)]
        if not batches:
            return
        pdf = pd.concat(batches) if len(batches) > 1 else batches[0]
        if state.exists:
            (live, peak, first_us, n_folded, max_end,
             b_us, b_delta, b_user, b_sidx) = state.get
            buf = list(zip(b_us, b_delta, b_user, b_sidx))
        else:
            live = peak = n_folded = 0
            first_us = None
            max_end = -(1 << 62)
            buf = []
        folded_frontier = max_end - horizon_us
        for u, sidx, s_us, e_us in zip(
            pdf["user_id"], pdf["session_idx"],
            pdf["start_us"], pdf["end_us"],
        ):
            s_us, e_us = int(s_us), int(e_us)
            if s_us <= folded_frontier:
                raise ValueError(
                    f"concurrency_stream: session start {s_us} reaches"
                    f" behind the folded horizon {folded_frontier} — the"
                    f" lateness contract (horizon_us={horizon_us}) is"
                    " violated; widen the horizon or cap session length"
                )
            buf.append((s_us, 1, int(u), int(sidx)))
            buf.append((e_us + 1, -1, int(u), int(sidx)))
            max_end = max(max_end, e_us)
        buf.sort()  # (us, delta, user, sidx): −1 before +1 at equal us
        # compact: fold everything the horizon has proven immutable
        frontier = max_end - horizon_us
        cut = 0
        while cut < len(buf) and buf[cut][0] <= frontier:
            cut += 1
        live, peak, first_us = _sweep(buf[:cut], live, peak, first_us)
        n_folded += cut
        buf = buf[cut:]
        state.update(
            (
                int(live), int(peak), first_us, int(n_folded), int(max_end),
                [b[0] for b in buf], [b[1] for b in buf],
                [b[2] for b in buf], [b[3] for b in buf],
            )
        )
        # snapshot over folded prefix + still-buffered tail
        _live2, peak2, first2 = _sweep(buf, live, peak, first_us)
        n_total = (n_folded + len(buf)) // 2
        yield pd.DataFrame(
            {
                "n_sessions": [n_total],
                "peak_concurrency": [peak2],
                "first_peak_ts": [
                    pd.Timestamp(first2, unit="us") if first2 is not None
                    else pd.NaT
                ],
            }
        )

    return _group


def concurrency_stream(
    sessions: DataFrame, horizon_us: int = CONCURRENCY_HORIZON_US
) -> DataFrame:
    """Running (n_sessions, peak_concurrency, first_peak_ts) snapshots
    over a closed-session feed; see module docstring for the contract.
    ``sessions`` needs (user_id, session_idx, session_start, session_end).
    """
    keyed = sessions.select(
        F.lit(0).alias("sweep_key"),
        F.col("user_id").cast("long").alias("user_id"),
        F.col("session_idx").cast("long").alias("session_idx"),
        F.unix_micros(F.col("session_start")).alias("start_us"),
        F.unix_micros(F.col("session_end")).alias("end_us"),
    )
    # ONE sweep key: the input is the session-boundary relation —
    # |sessions| ≪ |events|, the same reduction the batch plan rides —
    # and the fold is O(1) per boundary with a horizon-bounded buffer.
    # A deployment that outgrows one core shards the sweep by time range
    # and merges folded prefixes (they compose associatively).
    return keyed.groupBy("sweep_key").applyInPandasWithState(
        _make_concurrency_group(horizon_us),
        outputStructType=CONCURRENCY_OUT_SCHEMA,
        stateStructType=CONCURRENCY_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
