"""``offline_jobs``: a fixed list of registered ``QUERIES`` jobs, one or two
per operator module, run once over a generated warehouse, while users keep
reading batch status from the same session.

An offline job runs once over its data, so each job is timed as a user
submitting it sees it: in a session that has served only a few status
reads, with its plans, generated code and ``dfcache`` indexes cold. The
pass runs the list in order, each job planned and collected to the driver;
the rows jobs persisted are released after each job as
``bench.release_checkpoints`` does (the shared indexes stay until the pass
ends). Status reads on the warehouse's orders/lineitem archive follow until
the run's time is up. Each job's rows are then compared with its
``oracle_sql()`` twin on DuckDB.
"""

from __future__ import annotations

import gc
import os
import time

import duckdb
import pandas as pd

from . import engine as E
from .gen import make_corpus, make_history
from .polls import Poller, Stores

#: one job per operator module - dedup (two: the shingle table the first
#: builds in ``dfcache`` is reused by the second), similarity, text,
#: analytics, temporal, sketches
JOBS = (
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "ann_topk",
    "quality_score",
    "q3_shipping_priority",
    "events_sessionize",
    "price_quantiles",
)
#: warehouse size: the test data's smallest scale (sf0.001)
ORDERS, LINEITEMS, DOCS, EVENTS = 1_500, 6_000, 500, 1_000
#: status reads in set-up, and at least after the pass: one and two
#: rounds of the read mix
WARM_POLLS, MIN_POLLS = 4, 8


def make_warehouse(seed: int, sf_dir: str):
    """Every table the jobs read; returns the orders/lineitem ground truth."""
    make_corpus(seed, sf_dir, DOCS, EVENTS)
    return make_history(seed, sf_dir, ORDERS, LINEITEMS, full=True)


def release(spark, keep_indexes: bool) -> None:
    """Unpersist the rows jobs persisted; with ``keep_indexes`` not the
    session-shared ``dfcache`` indexes, as ``bench.release_checkpoints``."""
    gc.collect()
    keep = E.dfcache.persistent_exempt_ids() if keep_indexes else set()
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in list(rdds.keySet().toArray()):
        if int(rid) not in keep:
            rdds.get(rid).unpersist(True)


def run_pass(spark, tr, hist, result, traced: bool) -> dict:
    """One pass of the job list over ``hist.sf_dir``; returns {job: rows}."""
    out = {}
    with tr.unit("pass", traced):
        t0 = time.perf_counter()
        for job in JOBS:
            try:
                out[job] = tr.job(f"queries.{job}", lambda: E.queries.QUERIES[job](spark, hist.sf_dir), _collect)
            except Exception as exc:
                result.fail(1, f"{job} raised: {exc!r}"[:2000])
            release(spark, keep_indexes=True)
        wall = time.perf_counter() - t0
    release(spark, keep_indexes=False)
    if len(out) == len(JOBS):
        result.sample("turnaround_s", wall)
    return out


def _collect(df) -> pd.DataFrame:
    return df.toPandas()


def oracle_rows(sf_dir: str) -> dict:
    """Every job's rows computed by its DuckDB twin over ``sf_dir``."""
    con = duckdb.connect()
    try:
        for table in E.TABLES:
            if not os.path.exists(f"{sf_dir}/{table}.parquet"):
                continue
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{sf_dir}/{table}.parquet')")
        out = {}
        for job in JOBS:
            build = E.queries.DATA_DEP_ORACLES.get(job)
            out[job] = con.execute(build(sf_dir) if build else E.queries.ORACLE[job]).df()
        return out
    finally:
        con.close()


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """Order-insensitive comparison of two results: same columns, same row
    count, same values (floats to 9 decimals)."""
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    a, b = _normalize(got), _normalize(want)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)}, expected {list(b.columns)}"
    try:
        pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=False, rtol=1e-9, atol=1e-9)
    except AssertionError as exc:
        return str(exc).split("\n")[0]
    return None


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        kind = str(df[c].dtype)
        if kind == "object":
            df[c] = df[c].map(lambda v: str(v) if v is not None else None)
        elif "float" in kind:
            df[c] = df[c].round(9)
        elif "datetime" in kind:
            df[c] = df[c].astype("datetime64[us]").astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def count_index_builds(tr):
    """Wrap ``dfcache.memo`` (the operators import it at call time) so a
    traced pass counts its index lookups, builds and build time; returns
    the undo."""
    memo = E.dfcache.memo

    def counted(spark, key, build):
        if not tr.enabled:
            return memo(spark, key, build)
        took = []

        def timed():
            t0 = time.perf_counter()
            value = build()
            took.append(time.perf_counter() - t0)
            return value

        value = memo(spark, key, timed)
        tr.add("functions.dfcache.lookups", 1)
        tr.add("functions.dfcache.build_count", len(took))
        tr.add("functions.dfcache.build_s", sum(took))
        return value

    E.dfcache.memo = counted
    return lambda: setattr(E.dfcache, "memo", memo)


def run(spark, tr, args, work: str, result) -> None:
    undo = count_index_builds(tr)
    try:
        _run(spark, tr, args, work, result)
    finally:
        undo()


def _run(spark, tr, args, work: str, result) -> None:
    hist = make_warehouse(args.seed, f"{work}/warehouse")
    poller = Poller(spark, tr, args.seed + 17, Stores(hist, None, None, {}))
    # set-up ends with the first Spark jobs of the session done
    poller.run(WARM_POLLS, result, record=False)
    result.setup_done()

    t0 = time.perf_counter()
    out = run_pass(spark, tr, hist, result, bool(args.trace))
    # users keep reading status until the run's time is up
    while time.perf_counter() - t0 < args.seconds or poller.n < WARM_POLLS + MIN_POLLS:
        # in a traced run every other read is untraced, for the overhead
        poller.run(1, result, bool(args.trace) and poller.n % 2 == 1)
    result.units = 1

    # outside the timed pass: every job's rows against its oracle
    want = oracle_rows(hist.sf_dir)
    for job, rows in out.items():
        why = mismatch(rows, want[job])
        result.ops(1, int(why is not None), why and f"{job}: {why}")
