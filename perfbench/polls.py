"""Status reads — GetBatch, GetBatches and GetBatchErrors — against the
anchor and task-result stores, each checked against the ground truth."""

from __future__ import annotations

import random
import time
from collections import Counter
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import functions as F

from . import engine as E
from .gen import History

PAGE_SIZE = 10
#: poll mix, issued in this order, round and round: GetBatch, GetBatches,
#: GetBatchErrors; the seed picks their arguments. The reference publishes
#: no read mix; this one assumes owners mostly poll one batch's state
MIX = ("status", "list", "status", "errors")
#: live batch ids start here, above every archived id
LIVE_BASE = 10_000_000


@dataclass
class Stores:
    """Where the reads go, and what they must return. ``hist`` is the
    archive read through the engine's orders/lineitem mapping; ``anchors``
    and ``results`` are the stores the benchmark's own uploads land in,
    readable once ``readable`` lists a batch."""

    hist: History | None
    anchors: str | None
    results: str | None
    truth: dict
    readable: list = field(default_factory=list)

    @classmethod
    def bulk(cls, upload, out: str) -> "Stores":
        """The stores one bulk pass wrote under ``out``, every accepted batch
        readable."""
        truth = {b.batch_id: b for b in upload.batches if not b.oversize}
        return cls(None, f"{out}/anchors", f"{out}/results", truth, sorted(truth))


class Poller:
    def __init__(self, spark, tr, seed: int, stores: Stores):
        self.spark, self.tr, self.stores = spark, tr, stores
        self.rng = random.Random(seed)
        self.n = 0

    def run(self, n: int, result, traced: bool = False, record: bool = True) -> None:
        for _ in range(n):
            kind = MIX[self.n % len(MIX)]
            arg = self._arg(kind)
            self.n += 1
            with self.tr.unit("poll", traced):
                t0 = time.perf_counter()
                try:
                    rows = getattr(self, "_" + kind)(arg)
                    lat = time.perf_counter() - t0
                    ok = getattr(self, "_expect_" + kind)(arg) == self._shape(kind, rows)
                    err = None if ok else f"{kind}({arg}) returned a wrong answer"
                except Exception as exc:
                    lat, err = None, f"{kind}({arg}) raised: {exc!r}"[:2000]
            if record and lat is not None:
                result.sample("poll_ms", lat * 1e3)
            result.ops(1, int(err is not None), err)

    # -- arguments -----------------------------------------------------
    def _arg(self, kind: str):
        s = self.stores
        if kind == "list":
            states = ["SUCCESS", "COMPLETE_WITH_ERROR"]
            if s.hist is not None:
                states += ["NOT_STARTED", "IN_PROCESS"]
            pages = 50 if s.hist is not None else 3
            return self.rng.choice(states), self.rng.randint(1, pages)
        # archived and new batches in turn, while there are new ones
        if s.hist is None or (s.readable and self.n % 8 >= 4):
            return s.readable[self.rng.randrange(len(s.readable))]
        return self.rng.randrange(s.hist.n_batches)

    # -- reads ---------------------------------------------------------
    def _anchors(self, batch_id: int):
        key = F.col("batch_id") == batch_id
        if batch_id < LIVE_BASE and self.stores.hist is not None:
            return self._read("sources.catalog.load_table", E.history_anchors, self.stores.hist.sf_dir, key)
        return self._read("sources.sinks.read_anchor_store", E.read_anchor_store, self.stores.anchors, key)

    def _results(self, batch_id: int):
        key = F.col("batch_id") == batch_id
        if batch_id < LIVE_BASE and self.stores.hist is not None:
            return self._read("sources.catalog.load_table", E.history_results, self.stores.hist.sf_dir, key)
        return E.read_results(self.spark, self.stores.results).filter(key)

    def _read(self, layer: str, fn, path: str, key=None, cols=None):
        """One call into an engine read layer, filtered and projected inside
        its span, so a traced read also scans the rows it returns."""

        def read(spark, path):
            df = fn(spark, path)
            if key is not None:
                df = df.filter(key)
            return df.select(*cols) if cols else df

        return self.tr.df(layer, read, self.spark, path)

    def _status(self, batch_id: int):
        anchors, results = self._anchors(batch_id), self._results(batch_id)
        return self.tr.df("operators.lifecycle.batch_status", E.batch_status, anchors, results).collect()

    def _errors(self, batch_id: int):
        return self.tr.df("operators.lifecycle.batch_errors", E.batch_errors, self._results(batch_id)).collect()

    def _list(self, arg):
        state, page = arg
        cols = ["batch_id", "state", "inception_time"]
        parts = []
        if self.stores.hist is not None:
            parts.append(self._read("sources.catalog.load_table", E.history_anchors, self.stores.hist.sf_dir, cols=cols))
        if self.stores.readable:
            parts.append(self._read("sources.sinks.read_anchor_store", E.read_anchor_store, self.stores.anchors, cols=cols))
        anchors = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
        return self.tr.df(
            "operators.lifecycle.list_batches",
            E.list_batches,
            anchors,
            state=state,
            page_number=page,
            page_size=PAGE_SIZE,
            include_total=True,
        ).collect()

    # -- answers -------------------------------------------------------
    @staticmethod
    def _shape(kind: str, rows):
        if kind == "status":
            return [(r.state, r.completed_count, r.success_count, r.error_count) for r in rows]
        if kind == "errors":
            return Counter({r.task_number: r.error_count for r in rows})
        return sorted(r.batch_id for r in rows), {r.total_results for r in rows}

    def _expect_status(self, batch_id: int):
        h = self.stores.hist
        if batch_id < LIVE_BASE and h is not None:
            c, e = int(h.completed[batch_id]), int(h.errors[batch_id])
            return [(str(h.state[batch_id]), c, c - e, e)]
        b = self.stores.truth[batch_id]
        return [(b.state, b.size, b.success, b.errors)]

    def _expect_errors(self, batch_id: int):
        h = self.stores.hist
        if batch_id < LIVE_BASE and h is not None:
            keys = h.error_keys
            lo, hi = np.searchsorted(keys[:, 0], [batch_id, batch_id + 1])
            return Counter(int(t) for t in keys[lo:hi, 1])
        return Counter({t: 1 for t in self.stores.truth[batch_id].error_tasks})

    def _expect_list(self, arg):
        state, page = arg
        ids = []
        h = self.stores.hist
        if h is not None:
            ids = np.flatnonzero(h.state == state).tolist()
        ids += sorted(b for b in self.stores.readable if self.stores.truth[b].state == state)
        rows = ids[(page - 1) * PAGE_SIZE : page * PAGE_SIZE]
        return rows, ({len(ids)} if rows else set())
