"""Seeded benchmark inputs: CSV task uploads with their ground truth, and the
anchor/task-result history the status reads run against.

Everything here is plain Python/NumPy: the engine sees only the files
written, never the generator. The same seed gives byte-identical inputs.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field, replace

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: mirrors domain.MAXIMUM_TASK_COUNT / MAXIMUM_COMMAS; restated so the
#: ground truth does not come from the code under test
MAXIMUM_TASK_COUNT = 1000
COMMA_REASON = "Task contains too many ',' (comma) characters. Maximum allowed is (2)."
FORM_REASON = "Task has invalid form."
#: shares of task lines that are invalid, and that reuse a (model, serial)
#: key; size of the pre-existing asset registry. The reference publishes no
#: error rates; these are assumptions, large enough that every error path
#: runs in every upload
INVALID_SHARE = 0.05
DUP_SHARE = 0.08
N_EXISTING = 2000

#: malformed lines with at most two commas (each fails the task regex)
_BAD_FORMS = (
    "Model {m},SN-{s},Asset-{s}",  # space in the model name
    "Model_{m},SN {s},Asset-{s}",  # space in the serial
    "Model_{m},SN-{s}",  # missing asset field
    "Model_{m},SN-{s},Asset.{s}",  # '.' is not a word char or dash
    "Model_{m},,Asset-{s}",  # empty serial
)


@dataclass
class Batch:
    """One upload and what the engine must make of it."""

    batch_id: int
    path: str
    lines: int
    invalid_comma: int = 0
    invalid_form: int = 0
    oversize: bool = False
    #: valid tasks that win their (model, serial) claim / lose it
    success: int = 0
    errors: int = 0
    #: task_number -> error reason, for tasks that fail processing
    error_tasks: dict = field(default_factory=dict)

    @property
    def invalid(self) -> int:
        return self.invalid_comma + self.invalid_form

    @property
    def size(self) -> int:
        """Anchor size: the batch's valid task count."""
        return self.lines - self.invalid

    @property
    def state(self) -> str | None:
        """Terminal state; None for an oversize batch, which is rejected."""
        if self.oversize:
            return None
        return "SUCCESS" if self.errors == 0 else "COMPLETE_WITH_ERROR"


@dataclass
class Upload:
    batches: list
    #: pre-existing (model_name, serial_number) assets
    existing: list

    def renumbered(self, offset: int) -> "Upload":
        """The same files uploaded again as new batches, ids shifted by
        ``offset``; first-wins order, and so every outcome, is unchanged."""
        return Upload([replace(b, batch_id=b.batch_id + offset) for b in self.batches], self.existing)

    def write_existing(self, path: str) -> None:
        models, serials = zip(*self.existing)
        pq.write_table(
            pa.table({"model_name": list(models), "serial_number": list(serials)}), path
        )


def make_upload(
    seed: int,
    out_dir: str,
    sizes: list,
    first_id: int = 1,
    oversize: bool = True,
    cross_batch: bool = True,
) -> Upload:
    """Write one CSV task file per entry of ``sizes`` (its line count) under
    ``out_dir``; batch ids count up from ``first_id`` in that order.

    A share INVALID_SHARE of lines is invalid, split evenly between the
    comma-limit error and the invalid-form error. A share DUP_SHARE of
    lines reuses a (model, serial) key: a third from earlier in the same
    file, a third from an earlier batch, a third from the pre-existing asset
    registry; without ``cross_batch``, half from the same file and half from
    the registry, so each batch's outcome is independent of the others'.
    With ``oversize`` one more batch follows with more than
    MAXIMUM_TASK_COUNT lines. Ground truth follows first-wins by
    (batch_id, task_number) over the valid tasks of accepted batches.
    """
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    tag = f"{seed % 100000:05d}"
    existing = [(f"Model_{i % 37}", f"SN-E{tag}-{i}") for i in range(N_EXISTING)]
    claimed = set(existing)
    batches = []
    serial = 0
    sizes = list(sizes) + ([MAXIMUM_TASK_COUNT + 100] if oversize else [])
    for b, n in enumerate(sizes):
        bid = first_id + b
        big = n > MAXIMUM_TASK_COUNT
        batch = Batch(bid, os.path.join(out_dir, f"batch-{bid}.csv"), n, oversize=big)
        kinds = rng.random(n)
        picks = rng.integers(0, 1 << 30, n)
        own_keys: list = []
        lines = []
        for t in range(n):
            k = kinds[t]
            p = int(picks[t])
            model = f"Model_{p % 37}"
            if k < INVALID_SHARE / 2:
                batch.invalid_comma += 1
                lines.append(f"{model},SN-{tag}-{serial},Asset-{serial},props,group")
                serial += 1
                continue
            if k < INVALID_SHARE:
                batch.invalid_form += 1
                lines.append(_BAD_FORMS[p % len(_BAD_FORMS)].format(m=p % 37, s=f"{tag}-{serial}"))
                serial += 1
                continue
            dup = (k - INVALID_SHARE) / DUP_SHARE if k < INVALID_SHARE + DUP_SHARE else None
            own_share = 1 / 3 if cross_batch else 1 / 2
            if dup is not None and dup < own_share and own_keys:
                key = own_keys[p % len(own_keys)]
            elif dup is not None and dup < 2 / 3 and cross_batch and batches:
                prev = batches[p % len(batches)]
                key = prev._keys[p % len(prev._keys)] if prev._keys else existing[p % N_EXISTING]
            elif dup is not None:
                key = existing[p % N_EXISTING]
            else:
                key = (model, f"SN-{tag}-{serial}")
                serial += 1
            lines.append(f"{key[0]},{key[1]},Asset-{p}")
            if big:
                continue
            if key in claimed:
                batch.errors += 1
                batch.error_tasks[t + 1] = (
                    f"Asset with model number = '{key[0]}' and serial number = "
                    f"'{key[1]}' could not be created."
                )
            else:
                claimed.add(key)
                batch.success += 1
                own_keys.append(key)
        batch._keys = own_keys
        with open(batch.path, "w") as f:
            f.write("\n".join(lines) + "\n")
        batches.append(batch)
    for batch in batches:
        del batch._keys
    return Upload(batches, existing)


def shuffled_sizes(seed: int, sizes: list, block: int) -> list:
    """``sizes`` shuffled within consecutive blocks of ``block`` entries: the
    same total work in every block, whatever the seed."""
    rng = np.random.default_rng(seed)
    out = []
    for i in range(0, len(sizes), block):
        out += [int(x) for x in rng.permutation(sizes[i : i + block])]
    return out


@dataclass
class History:
    """The archived batches the status reads run against: an orders-shaped
    table (one row per batch) and a lineitem-shaped table (one row per task
    outcome), read through the engine's own mapping
    (``queries._batches`` / ``queries._task_results``)."""

    sf_dir: str
    n_batches: int
    #: per batch id: state, task-result count, error count
    state: np.ndarray
    completed: np.ndarray
    errors: np.ndarray
    #: sorted (batch_id, task_number) pairs of error results
    error_keys: np.ndarray


_STATUS = np.array(["O", "P", "F"])
_STATE_OF = {"O": "NOT_STARTED", "P": "IN_PROCESS", "F": "SUCCESS"}


def make_history(seed: int, sf_dir: str, n_batches: int, n_results: int, full: bool = False) -> History:
    """Write ``orders.parquet`` and ``lineitem.parquet`` under ``sf_dir``:
    uniformly random status, inception date and per-task return flag, as in
    the TPC-H-shaped test data. Only the columns the anchor/task-result
    mapping reads, unless ``full``: then every column of the test data's
    schema, and ``customer.parquet`` too, for the analytics jobs."""
    rng = np.random.default_rng(seed)
    os.makedirs(sf_dir, exist_ok=True)
    status = _STATUS[rng.integers(0, 3, n_batches)]
    day0 = np.datetime64("1995-01-01", "us")
    days = rng.integers(0, 2404, n_batches).astype("timedelta64[D]").astype("timedelta64[us]")
    orders = {
        "o_orderkey": np.arange(n_batches, dtype=np.int64),
        "o_orderstatus": status,
        "o_orderdate": day0 + days,
    }
    okey = rng.integers(0, n_batches, n_results).astype(np.int64)
    line = rng.integers(1, 8, n_results).astype(np.int32)
    flag = np.array(["N", "R", "A"])[rng.integers(0, 3, n_results)]
    lineitem = {"l_orderkey": okey, "l_linenumber": line, "l_returnflag": flag}
    if full:
        n_cust = max(10, n_batches // 10)
        _write(sf_dir, "customer", {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": _SEGMENTS[rng.integers(0, len(_SEGMENTS), n_cust)],
        })
        orders.update({
            "o_custkey": rng.integers(0, n_cust, n_batches).astype(np.int64),
            "o_totalprice": np.round(rng.uniform(1000, 500000, n_batches), 2),
            "o_orderpriority": _PRIORITIES[rng.integers(0, len(_PRIORITIES), n_batches)],
        })
        ship = orders["o_orderdate"][okey] + rng.integers(1, 122, n_results).astype("timedelta64[D]").astype("timedelta64[us]")
        lineitem.update({
            "l_partkey": rng.integers(0, 200, n_results).astype(np.int64),
            "l_suppkey": rng.integers(0, 10, n_results).astype(np.int64),
            "l_quantity": rng.integers(1, 51, n_results).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900, 105000, n_results), 2),
            "l_discount": rng.integers(0, 11, n_results) / 100.0,
            "l_tax": rng.integers(0, 9, n_results) / 100.0,
            "l_linestatus": np.where(ship > np.datetime64("1998-06-17", "us"), "O", "F"),
            "l_shipdate": ship,
        })
    _write(sf_dir, "orders", orders)
    _write(sf_dir, "lineitem", lineitem)
    bad = flag == "R"
    order = np.lexsort((line[bad], okey[bad]))
    return History(
        sf_dir=sf_dir,
        n_batches=n_batches,
        state=np.vectorize(_STATE_OF.get)(status),
        completed=np.bincount(okey, minlength=n_batches),
        errors=np.bincount(okey[bad], minlength=n_batches),
        error_keys=np.stack([okey[bad][order], line[bad][order].astype(np.int64)], axis=1),
    )


_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
#: the corpus vocabulary; "dup" marks a near-duplicate document
_WORDS = (
    "scan column window order sort part agg value line key join merge group query a "
    "vector hash slow stream filter fast the batch spark table small data big customer row"
).split()
_EVENT_TYPES = np.array(["click", "purchase", "error", "signup", "view"])


def _write(sf_dir: str, table: str, columns: dict) -> None:
    pq.write_table(pa.table(columns), os.path.join(sf_dir, f"{table}.parquet"))


def make_corpus(seed: int, sf_dir: str, n_docs: int, n_events: int, dup_share: float = 0.06) -> None:
    """Write the LLM-pipeline and event tables under ``sf_dir``, shaped like
    the test data: ``documents`` (10-99 words from a 30-word vocabulary; a
    ``dup_share`` of them near-copies of an earlier document, marked with
    the word "dup"), ``embeddings`` (one unit 64-d vector per document
    around one of 10 cluster centres, labelled with it) and ``events``
    (15 users, 5 event types, 30 days)."""
    rng = np.random.default_rng(seed)
    os.makedirs(sf_dir, exist_ok=True)
    texts = []
    for i in range(n_docs):
        if texts and rng.random() < dup_share:
            words = texts[int(rng.integers(0, len(texts)))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = _WORDS[int(rng.integers(0, len(_WORDS)))]
            words.append("dup")
        else:
            words = [_WORDS[k] for k in rng.integers(0, len(_WORDS), int(rng.integers(10, 100)))]
        texts.append(" ".join(words))
    _write(sf_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(["en", "fr", "es", "zh", "de"])[rng.integers(0, 5, n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    centres = rng.normal(size=(10, 64))
    label = rng.integers(0, 10, n_docs)
    vecs = centres[label] + rng.normal(scale=0.9, size=(n_docs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(sf_dir, "embeddings", {
        "vec_id": np.arange(n_docs, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    })
    t0 = np.datetime64("2024-01-01", "us")
    ts = t0 + np.sort(rng.integers(0, 30 * 86400 * 10**6, n_events)).astype("timedelta64[us]")
    _write(sf_dir, "events", {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, 15, n_events).astype(np.int64),
        "event_type": _EVENT_TYPES[rng.integers(0, 5, n_events)],
        "value": np.round(rng.uniform(1, 200, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
