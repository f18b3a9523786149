"""Streaming per-domain admission cap — the ingest-side twin of the batch
``operators.corpus.domain_cap``.

A live crawl ingest can't wait for a batch top-N to cap a domain: the cap
has to be enforced AT ADMISSION, per arriving document, against the count
of what the domain has already contributed. That is keyed state:
``applyInPandasWithState`` holds one long per registrable domain (O(1)
state per key regardless of volume) and admits documents until the budget
is spent; everything after is emitted with ``admitted = false`` so the
downstream sink can route rejects (cf. the reference's reject routing,
``DeleteBatch``-style disposition rows).

Determinism: Spark guarantees each key's state updates serially, and
within a micro-batch the group's rows are sorted by doc_id before
admission, so a replayed batch admits the identical set. ACROSS batches
the admission order is arrival order — inherent to rate limiting (the
batch ``domain_cap`` is the quality-ranked retrospective; this is the
online guard).
"""

from __future__ import annotations

from collections.abc import Iterable
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

DOMAIN_STREAM_CAP = 100

_CAP_STATE_SCHEMA = T.StructType([T.StructField("admitted", T.LongType(), False)])

_CAP_OUT_SCHEMA = T.StructType(
    [
        T.StructField("domain", T.StringType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("admit_seq", T.LongType(), False),
        T.StructField("admitted", T.BooleanType(), False),
    ]
)


def _admit_group_fn(cap: int):
    def _admit(
        key: tuple[Any, ...], pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        (n,) = state.get if state.exists else (0,)
        domain = key[0]
        out = []
        for pdf in pdfs:
            for doc_id in pdf.sort_values("doc_id")["doc_id"]:
                n += 1
                out.append((domain, int(doc_id), n, n <= cap))
        state.update((n,))
        if out:
            yield pd.DataFrame(
                out, columns=["domain", "doc_id", "admit_seq", "admitted"]
            )

    return _admit


def domain_cap_stream(
    docs: DataFrame,
    cap: int = DOMAIN_STREAM_CAP,
) -> DataFrame:
    """Admission disposition per arriving document: (domain, doc_id,
    admit_seq, admitted). The registrable domain derives from the URL with
    the same JVM regex as the batch ``domain_cap`` (stateless, before the
    keyed state), so online and retrospective caps agree on the key."""
    host = F.regexp_extract(F.col("url"), "^[a-z]+://([^/]+)", 1)
    dom = F.regexp_extract(host, "([^.]+\\.[^.]+)$", 1)
    keyed = docs.select(F.col("doc_id"), dom.alias("domain"))
    return keyed.groupBy("domain").applyInPandasWithState(
        _admit_group_fn(cap),
        outputStructType=_CAP_OUT_SCHEMA,
        stateStructType=_CAP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
