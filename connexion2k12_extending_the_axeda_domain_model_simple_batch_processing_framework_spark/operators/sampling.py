"""Deterministic sampling for training-data mixture construction.

A 100 TB corpus is never trained on raw — it's a *mixture*: per-stratum
sampling rates (by language, source, quality band) applied uniformly and
reproducibly. ``rand()``-based sampling is neither (task retries resample);
hashing the document id gives an exact, idempotent, cross-engine-replayable
sample: a doc is in the p% sample iff ``hash(doc_id) % 100 < p``. The
predicate is evaluated at the scan (no shuffle at all) and the same rule in
any engine selects the same rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.checkpoint import cut_lineage
from ..functions.hashing import hex_hash64
from ..functions.prefixsum import ordered_cumsum

#: default mixture: upsample scarce languages, downsample the dominant one.
DEFAULT_LANG_RATES: dict[str, int] = {"en": 40, "de": 80, "es": 80, "fr": 80, "zh": 100}


def hash_bucket(id_col: F.Column, buckets: int = 100) -> F.Column:
    """Stable bucket in [0, buckets) from the md5-derived 60-bit id hash."""
    return F.pmod(hex_hash64(id_col.cast("string")), F.lit(buckets))


def stratified_sample(
    documents: DataFrame,
    rates: dict[str, int] | None = None,
    default_rate: int = 0,
) -> DataFrame:
    """Per-stratum deterministic percentage sample.

    ``rates[stratum]`` is a percentage in [0, 100]; strata absent from the
    map get ``default_rate``. Output adds the stratum's rate and the doc's
    bucket so downstream audits can re-verify membership. No shuffle: a
    single scan with the predicate evaluated per row.
    """
    rates = DEFAULT_LANG_RATES if rates is None else rates
    rate = F.lit(default_rate)
    for stratum, pct in rates.items():
        rate = F.when(F.col("lang") == stratum, F.lit(pct)).otherwise(rate)
    bucket = hash_bucket(F.col("doc_id"))
    return (
        documents.withColumn("sample_rate", rate.cast("long"))
        .withColumn("bucket", bucket.cast("long"))
        .filter(F.col("bucket") < F.col("sample_rate"))
    )


#: default split: 98% train / 1% validation / 1% test
DEFAULT_SPLIT_PCT: tuple[int, int] = (98, 1)


def train_val_test_split(
    documents: DataFrame,
    train_pct: int = DEFAULT_SPLIT_PCT[0],
    val_pct: int = DEFAULT_SPLIT_PCT[1],
    salt: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment by salted id hash.

    The split every training pipeline needs, with the properties rand()
    cannot give: idempotent under retries, stable across runs and engines,
    and disjoint by construction (one bucket value per doc). The ``salt``
    decorrelates the split from every other hash-bucket decision (sampling,
    sharding) — without it, "bucket < 40" samples and "bucket < 98" splits
    would select nested row sets. Adds ``split`` ∈ {train, val, test};
    single scan, no shuffle.
    """
    bucket = F.pmod(
        hex_hash64(F.col("doc_id").cast("string"), F.lit(salt)), F.lit(100)
    )
    split = (
        F.when(bucket < train_pct, F.lit("train"))
        .when(bucket < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return documents.withColumn("split", split)


#: micro-rate resolution for data-derived sampling rates (1e-6); the
#: percentage buckets of ``stratified_sample`` are too coarse for computed
#: rates like 0.036111.
MIX_BUCKETS = 1_000_000


def mixture_sample(
    documents: DataFrame,
    target_shares: dict[str, float] | None = None,
    default_share: float = 0.0,
    strata_col: str = "source",
    salt: str = "mix",
) -> DataFrame:
    """Rebalance the corpus to TARGET per-stratum shares — the mixture
    step after the mix report (``corpus.source_mix_report``): given target
    share ``s`` for a stratum currently holding ``n_s`` of ``N`` docs, the
    keep rate is ``min(1, s·N / n_s)`` (downsample the over-represented;
    under-represented strata keep everything — upsampling is a repeat
    factor downstream, not a sampling decision). ``target_shares=None``
    rebalances to uniform across observed strata.

    Two-pass plan: pass 1 reduces the corpus to its stratum counts (one
    map-side-combined shuffle, stratum-sized output); the rate table
    broadcasts into pass 2, a single scan where the deterministic salted
    hash-bucket predicate (cf. ``stratified_sample`` — idempotent, engine
    replayable, no rand()) drops rows in place. Rates quantize to integer
    micro-rates so the filter compares longs.
    """
    counts = documents.groupBy(strata_col).agg(F.count(F.lit(1)).alias("n_s"))
    totals = counts.agg(
        F.sum("n_s").alias("__n"), F.count(F.lit(1)).alias("__k")
    )
    if target_shares is None:
        share = F.lit(1.0) / F.col("__k")
    else:
        share = F.lit(default_share)
        for stratum, s in target_shares.items():
            share = F.when(F.col(strata_col) == stratum, F.lit(s)).otherwise(share)
    rate_micro = F.floor(
        F.least(F.lit(1.0), share * F.col("__n") / F.col("n_s"))
        * MIX_BUCKETS
    ).cast("long")
    rates = counts.crossJoin(F.broadcast(totals)).select(
        strata_col, F.col("n_s").cast("long").alias("n_s"), rate_micro.alias("rate_micro")
    )
    bucket = F.pmod(
        hex_hash64(F.col("doc_id").cast("string"), F.lit(salt)), F.lit(MIX_BUCKETS)
    )
    return (
        documents.select("doc_id", strata_col)
        .join(F.broadcast(rates), strata_col)
        .withColumn("bucket", bucket.cast("long"))
        .filter(F.col("bucket") < F.col("rate_micro"))
        .select("doc_id", strata_col, "n_s", "rate_micro", "bucket")
    )


def leakage_safe_split(
    documents: DataFrame,
    train_pct: int = DEFAULT_SPLIT_PCT[0],
    val_pct: int = DEFAULT_SPLIT_PCT[1],
    salt: str = "split",
) -> DataFrame:
    """Train/val/test split that cannot leak near-duplicates across
    splits: the hash bucket is computed on the document's DUP-CLUSTER
    representative (min doc_id reachable in the MinHash-LSH near-dup
    graph), not the document itself — so every member of a near-dup
    cluster lands in the SAME split. A plain per-doc split puts two
    copies of one page in train and test and silently inflates eval; the
    published dedup pipelines split after clustering for exactly this
    reason.

    Composition: ``dedup.dup_clusters`` (distributed label propagation)
    LEFT-joins onto the corpus — docs outside any dup cluster represent
    themselves — then the same salted-hash assignment as
    ``train_val_test_split``. One extra shuffle over the plain split (the
    cluster join on doc_id); the cluster table is a fraction of the
    corpus (only docs with a near-dup), so AQE sizes that side down.

    Output: (doc_id, rep_id, split).
    """
    from .dedup import dup_clusters

    clusters = dup_clusters(documents)
    rep = F.coalesce(F.col("cluster_id"), F.col("doc_id"))
    bucket = F.pmod(hex_hash64(rep.cast("string"), F.lit(salt)), F.lit(100))
    split = (
        F.when(bucket < train_pct, F.lit("train"))
        .when(bucket < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        documents.select("doc_id")
        .join(clusters, "doc_id", "left")
        .select(
            "doc_id",
            rep.cast("long").alias("rep_id"),
            split.alias("split"),
        )
    )


WSAMPLE_K = 400


def weighted_systematic_sample(
    documents: DataFrame,
    k: int = WSAMPLE_K,
) -> DataFrame:
    """Sample ``k`` picks with probability proportional to ``n_chars``
    (size-proportional sampling — "sample documents by length so tokens,
    not documents, are uniform"), deterministically and in pure INTEGER
    arithmetic: no ``rand()``, no float ``u^(1/w)`` keys whose last-ulp
    libm differences could flip a selection across engines.

    Classic weighted systematic sampling on a hash-shuffled order: lay
    the documents on a line in md5-order (a fixed random permutation),
    each occupying a segment of its weight; the k picks are the
    equally-spaced points ``j·total/k`` (j = 1..k). A document is picked
    once per grid point inside its segment — ``n_picks = floor(cum·k /
    total) − floor((cum−w)·k / total)`` — so multiplicities sum to
    EXACTLY k and a document's expected multiplicity is k·w/total.

    Scale shape: the cumulative weight comes from the range-partitioned
    two-phase prefix sum (functions/prefixsum.ordered_cumsum — the
    primitive's third consumer), the grand total is ``max(cum)`` (weights
    are positive, the running sum is monotone) broadcast back, and the
    pick rule is a scan-shaped filter — no global Window, no driver
    collect, nothing quadratic.

    Determinism: products run in DECIMAL(38,0) (cum·k at 100 TB overflows
    BIGINT: ~1e14 total chars × 1e6 picks), and the floor-division is the
    integral ``div`` operator — both engines' DECIMAL `div`/`//` are
    exact, unlike a scaled decimal true-division whose HALF_UP rounding
    at the result scale could lift a just-below-integer quotient.
    """
    w = F.col("n_chars").cast("long")
    d = documents.filter(w > 0).select(
        "doc_id",
        "lang",
        "source",
        w.alias("__w"),
        hex_hash64(F.col("doc_id").cast("string")).alias("__h"),
    )
    cum = cut_lineage(
        ordered_cumsum(d, "__w", "__h", ["doc_id"], out_col="__cum")
    )  # consumed twice below (grand total + pick filter)
    total = cum.agg(F.max("__cum").alias("__total"))
    # cast BEFORE multiplying: `cum * k` in LONG overflows at ~1e14
    # total chars × 1e6 picks and only then would hit the cast — the
    # exact overflow class the DECIMAL products exist to prevent (the
    # oracle's HUGEINT side casts first for the same reason)
    dec = 'cast({} as decimal(38,0))'
    qa = F.expr(
        f"({dec.format('__cum')} * {k}) div {dec.format('__total')}"
    )
    qb = F.expr(
        f"({dec.format('__cum - __w')} * {k}) div {dec.format('__total')}"
    )
    return (
        cum.crossJoin(F.broadcast(total))
        .withColumn("n_picks", (qa - qb).cast("long"))
        .filter(F.col("n_picks") > 0)
        .select(
            "doc_id",
            "lang",
            "source",
            F.col("__w").alias("weight"),
            "n_picks",
        )
    )
