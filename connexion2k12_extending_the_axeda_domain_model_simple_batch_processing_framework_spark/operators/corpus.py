"""Corpus-preparation operators for training-data pipelines: chunking,
TF-IDF keyword extraction, benchmark-contamination checks, repetition
scoring, and deterministic corpus shuffling.

These extend the reference's batch surface (which processes CSV task rows,
see e.g. ``internal/ProcessBatch.groovy``) with the row-wise and corpus-wise
derivations an LLM training pipeline runs over a 100 TB document store. All
operators are declarative DataFrame plans — no Python on the data path —
and each docstring states its shuffle story at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.rounding import iround_ratio, iround_ratio_signed
from ..functions.hashing import hex_hash64
from ..functions.partitioning import spread
from ..functions.prefixsum import bucket_prefix_offsets
from ..functions.textfns import token_count_col, tokens

CHUNK_SIZE = 64
CHUNK_STRIDE = 48


def chunk_documents(
    documents: DataFrame, chunk_size: int = CHUNK_SIZE, stride: int = CHUNK_STRIDE
) -> DataFrame:
    """Split each document into overlapping token-window chunks.

    Chunk c covers tokens [c*stride, c*stride + chunk_size); the last chunk
    may be shorter. Documents with zero tokens produce no chunks. This is
    the context-window packing step of a training pipeline: explode-based,
    so it pipelines off the scan with NO shuffle (beyond the small-input
    ``spread``, a no-op on multi-split scans) — each task turns its rows
    into chunk rows locally, and output parallelism equals input splits at
    any corpus size.

    The token array is materialized in its own projection (planner trap:
    inlining the regex-split into the per-chunk slice would re-tokenize per
    chunk access).
    """
    toked = spread(documents).select(
        "doc_id", tokens(F.col("text")).alias("__toks")
    ).filter(F.size("__toks") > 0)
    ex = toked.select(
        "doc_id",
        "__toks",
        F.explode(
            F.sequence(F.lit(0), F.size("__toks") - 1, F.lit(stride))
        ).alias("start"),
    )
    chunk = F.slice("__toks", F.col("start") + 1, F.lit(chunk_size))
    return ex.select(
        "doc_id",
        (F.col("start") / stride).cast("long").alias("chunk_id"),
        F.concat_ws(" ", chunk).alias("chunk_text"),
        F.least(F.size("__toks") - F.col("start"), F.lit(chunk_size))
        .cast("long")
        .alias("n_tokens"),
    )


def tfidf_top_terms(documents: DataFrame, k: int = 5) -> DataFrame:
    """Top-k terms per document by smoothed TF-IDF
    (``tf * ln((N+1)/(df+1))``), ties broken by term ascending.

    Three shuffles, each on a natural key: (doc_id, term) for tf,
    term for df, doc_id for the final rank window — all with map-side
    partial aggregation. The corpus size N is a 1-row broadcast, not a
    driver-side collect. The tf→df join shuffles on term; at 100 TB the
    vocabulary table is still ~millions of rows (Zipf), so AQE usually
    broadcasts it — either plan is safe.
    """
    ex = (
        spread(documents)
        .select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    )
    tf = ex.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = documents.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_t, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            # round-ok: log-valued — transcendental arguments make exact decimal
            # midpoints measure-zero; both engines fold the identical literal/DAG
            F.round(
                F.col("tf")
                * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select(
            "doc_id", "term", F.col("tf").cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"), "tfidf", "rk",
        )
    )


CONTAM_NGRAM = 8
BENCHMARK_MOD = 97
BLOOM_BUCKETS = 1 << 20


def contamination_check(
    documents: DataFrame,
    n: int = CONTAM_NGRAM,
    benchmark_mod: int = BENCHMARK_MOD,
    bloom_prefilter: bool = False,
) -> DataFrame:
    """Flag training documents that share an ``n``-gram with the benchmark
    (eval) subset — the decontamination pass every pretraining pipeline
    runs before training.

    The benchmark set here is the deterministic pseudo-holdout
    ``doc_id % benchmark_mod == 0``; in production it is the eval-suite
    corpus. Benchmark n-gram sets are small (eval suites, not the corpus),
    so the gram set is BROADCAST and the check is a map-side semi-join:
    one scan of the training corpus, one shuffle (the per-doc hit count),
    no skew exposure. Returns every non-benchmark doc with its matched-gram
    count and a contaminated flag.

    ``bloom_prefilter=True`` is the large-eval-suite path: the benchmark
    grams fold into a single-hash Bloom filter — the distinct set of
    ``hash(gram) % BLOOM_BUCKETS`` bucket ids, a compact integer set
    bounded by BLOOM_BUCKETS no matter how many grams — and corpus grams
    are prefiltered by a map-side broadcast SEMI-join on their bucket id
    before the exact gram join. (Spark's native ``bloom_filter_agg`` /
    ``might_contain`` pair is an optimizer-internal expression not in the
    SQL function registry as of 4.1, so the filter is built declaratively;
    the plan shape — broadcast a compact summary, filter map-side — is the
    same.) Bloom false positives are removed by the exact join, so the
    result — and the DuckDB oracle — is IDENTICAL to the exact path; what
    changes at 100 TB is the volume entering the join: only grams that
    (probably) hit, instead of every gram in the corpus.
    """
    from ..functions.hashing import hex_hash64
    from .dedup import shingle_table

    sh = shingle_table(documents, n)
    is_bench = F.col("doc_id") % benchmark_mod == 0
    bench_grams = (
        sh.filter(is_bench).select(F.explode("shingles").alias("gram")).distinct()
    )
    corpus_grams = sh.filter(~is_bench).select(
        "doc_id", F.explode("shingles").alias("gram")
    )
    if bloom_prefilter:
        bucket = (hex_hash64(F.col("gram")) % BLOOM_BUCKETS).alias("__bkt")
        bench_buckets = bench_grams.select(bucket).distinct()
        corpus_grams = (
            corpus_grams.withColumn("__bkt", bucket)
            .join(F.broadcast(bench_buckets), "__bkt", "left_semi")
            .drop("__bkt")
        )
    hits = (
        corpus_grams.join(F.broadcast(bench_grams), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    base = spread(documents).filter(~is_bench).select("doc_id")
    return base.join(hits, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_contaminated_grams"),
        (F.coalesce(F.col("n_hits"), F.lit(0)) > 0).alias("contaminated"),
    )


def repetition_score(documents: DataFrame, n: int = 3) -> DataFrame:
    """Within-document repetition: 1 − distinct/total word ``n``-grams.

    High values mark boilerplate / degenerate text (a standard pretraining
    quality filter). Pure per-row column math over one scan — no shuffle,
    no UDF; runs at parquet-scan speed at any corpus size. Documents with
    fewer than ``n`` tokens score 0 (no grams).
    """
    toked = spread(documents).select(
        "doc_id", tokens(F.col("text")).alias("__toks")
    )
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.col("__toks")[i + j] for j in range(n)]
    )
    grams = F.when(
        F.size("__toks") >= n,
        F.transform(F.sequence(F.lit(0), F.size("__toks") - n), gram),
    ).otherwise(F.array().cast("array<string>"))
    g = toked.select("doc_id", grams.alias("__grams"))
    total = F.size("__grams").cast("long")
    distinct = F.size(F.array_distinct("__grams")).cast("long")
    return g.select(
        "doc_id",
        total.alias("n_grams"),
        distinct.alias("n_distinct"),
        # exact-int ratio => midpoint-exposed; integer div-round
        F.when(
            total > 0, iround_ratio(total - distinct, total, 6)
        ).otherwise(F.lit(0.0)).alias("rep_ratio"),
    )


def corpus_stats(documents: DataFrame) -> DataFrame:
    """One-row corpus summary: doc count, total/distinct token counts, mean
    tokens per document.

    Two aggregation legs off one tokenized scan: per-doc counts (map-side
    partial, no shuffle beyond the final 1-row reduce) and a distinct-token
    count (one shuffle on token). The distinct count is exact here for
    oracle parity; at 100 TB swap ``countDistinct`` for
    ``approx_count_distinct`` (HLL, no shuffle of distinct values) — the
    docstring contract every quantile/cardinality operator in this engine
    follows (cf. analytics.price_quantiles).
    """
    toked = spread(documents).select(
        "doc_id", tokens(F.col("text")).alias("__toks")
    )
    per_doc = toked.select(F.size("__toks").alias("n"))
    base = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n").cast("long").alias("total_tokens"),
        # exact-int mean => midpoint-exposed; integer div-round
        iround_ratio(F.sum("n"), F.count(F.lit(1)), 6).alias(
            "avg_doc_tokens"
        ),
    )
    dist = (
        toked.select(F.explode("__toks").alias("t"))
        .agg(F.countDistinct("t").alias("distinct_tokens"))
    )
    return base.crossJoin(F.broadcast(dist)).select(
        "n_docs", "total_tokens", "distinct_tokens", "avg_doc_tokens"
    )


def corpus_stats_scaled(documents: DataFrame) -> DataFrame:
    """``corpus_stats`` with the distinct-token leg on the deterministic
    KMV sketch — the exact leg's one-shuffle-of-every-distinct-token cost
    replaced by a bounded top-k of k hash longs (the prose trade of
    ``corpus_stats`` made code, cf. analytics.table_profile_scaled; the
    md5 sketch keeps the estimate oracle-checkable). Output matches
    ``corpus_stats`` with ``distinct_tokens`` replaced by
    ``distinct_tokens_est`` (double)."""
    from ..functions.hashing import hex_hash64
    from .sketches import HASH_SPACE, KMV_K, KMV_SALT_BUCKETS

    k = KMV_K
    toked = spread(documents).select(
        "doc_id", tokens(F.col("text")).alias("__toks")
    )
    per_doc = toked.select(F.size("__toks").alias("n"))
    base = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n").cast("long").alias("total_tokens"),
        # exact-int mean => midpoint-exposed; integer div-round
        iround_ratio(F.sum("n"), F.count(F.lit(1)), 6).alias(
            "avg_doc_tokens"
        ),
    )
    hs = (
        toked.select(F.explode("__toks").alias("t"))
        .select(hex_hash64(F.col("t")).alias("h"))
        .distinct()
    )
    # the final cut over the bounded salt_buckets·k survivors is a
    # distributed TakeOrdered (orderBy + limit), not a constant-partition
    # row_number window (a runtime partition-less WindowExec — bounded
    # here, but its "No Partition Defined" warning is indistinguishable
    # in the logs from the 100 TB killer)
    w1 = Window.partitionBy("_salt").orderBy(F.col("h").asc())
    topk = (
        hs.withColumn("_salt", F.col("h") % KMV_SALT_BUCKETS)
        .withColumn("_rk1", F.row_number().over(w1))
        .filter(F.col("_rk1") <= k)
        .orderBy(F.col("h").asc())
        .limit(k)
        .agg(F.max("h").alias("__kth"), F.count(F.lit(1)).alias("__k_actual"))
    )
    est = F.when(
        F.col("__k_actual") < k, F.col("__k_actual").cast("double")
    ).otherwise(
        # round-ok: KMV estimator — the denominator is a ~2^63 pseudo-random
        # hash, so the quotient's distance to any 5th-decimal midpoint is
        # uniform at ~2^-63 granularity (P[ulp-coincidence] ~ 1e-12); both
        # engines evaluate the identical double DAG
        F.round(F.lit(float(k - 1)) * F.lit(HASH_SPACE) / F.col("__kth"), 4)
    )
    return base.crossJoin(F.broadcast(topk)).select(
        "n_docs",
        "total_tokens",
        F.coalesce(est, F.lit(0.0)).alias("distinct_tokens_est"),
        "avg_doc_tokens",
    )


N_SHARDS = 32


def corpus_shuffle(documents: DataFrame, n_shards: int = N_SHARDS) -> DataFrame:
    """Deterministic global shuffle: assign each document a shard and a
    position within it by md5 hash order — reproducible training-data
    ordering without ``rand()``.

    One shuffle on the shard key; within a shard the rank window sorts by
    (hash, doc_id). At 100 TB you'd write this as
    ``repartition(n_shards, shard).sortWithinPartitions(h)`` into the
    training store — the same single-shuffle plan; n_shards scales with the
    corpus so each shard's sort fits an executor.
    """
    h = hex_hash64(F.col("doc_id").cast("string"))
    d = spread(documents).select("doc_id", h.alias("__h"))
    shard = (F.col("__h") % n_shards).cast("long")
    w = Window.partitionBy("shard").orderBy(F.col("__h").asc(), F.col("doc_id").asc())
    return (
        d.select("doc_id", "__h", shard.alias("shard"))
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .select("doc_id", "shard", "pos")
    )


def source_mix_report(documents: DataFrame) -> DataFrame:
    """Per-source corpus composition: doc count + share, token volume, and
    mean quality — the mixture dashboard a curation pass reads before
    setting per-source sampling rates (cf. sampling.stratified_sample).

    Per-row quality math (operators.text.quality_score) feeds one groupBy
    on source; the corpus total rides in as a 1-row broadcast. Shuffle
    rows = #sources × partitions (map-side combine), independent of corpus
    size.
    """
    from .text import quality_score

    q = quality_score(documents).select("doc_id", "n_tokens", "quality")
    joined = documents.select("doc_id", "source").join(q, "doc_id")
    per = joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        # quality is an exact 6-decimal rational (text.quality_score's
        # integer round), so its mean is computed on exact micro-units —
        # engine-exact AND addition-order independent (a double sum of
        # the raw column would be neither)
        iround_ratio(
            F.sum(F.round(F.col("quality") * 1_000_000, 0).cast("long")),
            F.count(F.lit(1)) * F.lit(1_000_000),
            6,
        ).alias("mean_quality"),
    )
    total = joined.agg(F.count(F.lit(1)).alias("_total"))
    return (
        per.crossJoin(F.broadcast(total))
        .select(
            "source",
            "n_docs",
            # exact-int ratio => midpoint-exposed; integer div-round
            iround_ratio(F.col("n_docs"), F.col("_total"), 6).alias(
                "doc_share"
            ),
            "total_tokens",
            "mean_quality",
        )
    )


#: logprob quantization: micro-nats, summed as exact integers
LP_SCALE = 1_000_000


def unigram_logprob(documents: DataFrame) -> DataFrame:
    """Per-document mean token log-probability under the corpus unigram
    model — the cheap perplexity proxy pretraining pipelines use as a
    quality filter (very low mean logprob = gibberish / OCR noise; very
    high = degenerate repetition of common tokens).

    Two-pass shape: pass 1 reduces the corpus to its unigram table
    (one shuffle on token, map-side combined; vocabulary-sized output —
    Zipf-small, so AQE broadcasts it into pass 2's join); pass 2 rejoins
    token occurrences to their frequencies and aggregates per document.

    Determinism: a float sum over shuffled rows is order-dependent, so
    each occurrence's ln p is quantized to integer micro-nats FIRST
    (round half-up, same in DuckDB) and the per-doc sum runs on exact
    longs — bit-identical across engines and partitionings; only the
    final mean divides back to double.
    """
    ex = spread(documents).select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("t")
    )
    freq = ex.groupBy("t").agg(F.count(F.lit(1)).alias("tf"))
    total = freq.agg(F.sum("tf").alias("total"))
    # round-ok: log-valued — transcendental arguments make exact decimal
    # midpoints measure-zero; both engines fold the identical literal/DAG
    lp_micro = F.round(
        F.log(F.col("tf").cast("double") / F.col("total").cast("double"))
        * LP_SCALE,
        0,
    ).cast("long")
    scored = (
        ex.join(freq, "t")
        .crossJoin(F.broadcast(total))
        .select("doc_id", lp_micro.alias("lp"))
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"), F.sum("lp").alias("lp_sum")
    )
    base = documents.select("doc_id")
    return base.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long").alias("n_tokens"),
        # signed exact-int ratio (micro-logprob sum) => integer round
        iround_ratio_signed(
            F.col("lp_sum"), F.col("n_tokens") * F.lit(LP_SCALE), 6
        ).alias("avg_logprob"),
    )


SEG_LEN = 4
BOILER_MAX_DF = 2


def boilerplate_scrub(
    documents: DataFrame, seg_len: int = SEG_LEN, max_df: int = BOILER_MAX_DF
) -> DataFrame:
    """Cross-document segment dedup (CCNet-style boilerplate removal,
    adapted to token segments since this corpus has no line structure):
    split each document into consecutive ``seg_len``-token segments, drop
    every segment that appears in more than ``max_df`` documents (headers,
    footers, navigation chrome — text repeated verbatim across documents),
    and reassemble the surviving segments in order.

    Scale shape: segments explode ~tokens/seg_len rows off the scan; the
    document-frequency aggregation shuffles on segment text (map-side
    combined); the boilerplate set — segments with df > max_df — is tiny
    by construction (Zipf tail cut), so the drop is a broadcast ANTI-join
    against it, and reassembly is one shuffle on doc_id with per-doc
    row counts bounded by doc length. Same frequent-item-cap pattern as
    ``dedup.ngram_jaccard_pairs``' shingle-df cap.

    Output keeps every document: (doc_id, n_segments, n_dropped,
    clean_text); a fully-boilerplate doc comes back with empty text —
    the rows a curation pass deletes.
    """
    toked = spread(documents).select(
        "doc_id", tokens(F.col("text")).alias("__toks")
    ).filter(F.size("__toks") > 0)
    ex = toked.select(
        "doc_id",
        "__toks",
        F.explode(
            F.sequence(F.lit(0), F.size("__toks") - 1, F.lit(seg_len))
        ).alias("start"),
    )
    segs = ex.select(
        "doc_id",
        (F.col("start") / seg_len).cast("long").alias("seg_idx"),
        F.concat_ws(
            " ", F.slice("__toks", F.col("start") + 1, F.lit(seg_len))
        ).alias("seg_text"),
    )
    boiler = (
        segs.select("doc_id", "seg_text")
        .distinct()
        .groupBy("seg_text")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > max_df)
        .select("seg_text")
    )
    kept = segs.join(F.broadcast(boiler), "seg_text", "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("seg_idx", "seg_text"))
                ),
                lambda s: s["seg_text"],
            ),
            " ",
        ).alias("clean_text"),
    )
    totals = segs.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_segments"))
    return (
        documents.select("doc_id")
        .join(totals, "doc_id", "left")
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_segments", F.lit(0)).cast("long").alias("n_segments"),
            (F.coalesce("n_segments", F.lit(0)) - F.coalesce("n_kept", F.lit(0)))
            .cast("long")
            .alias("n_dropped"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


def corpus_drift(docs_a: DataFrame, docs_b: DataFrame) -> DataFrame:
    """Distribution drift between two corpus snapshots: KL divergence of
    their Laplace-smoothed unigram distributions, both directions — the
    monitoring number a training pipeline tracks when a new crawl lands
    (did the token mixture move?).

    Plan shape: each side reduces to its unigram table (one shuffle on
    token, map-side combined), a full-outer join on token aligns the
    vocabularies, totals ride in as 1-row broadcasts, and the final
    reduce is a single row. Smoothing ``(tf + 1) / (total + V)`` over the
    UNION vocabulary keeps every log finite. Determinism: each token's
    KL contribution quantizes to integer pico-nats before the sum (a
    double sum over shuffled rows is order-dependent), mirroring
    ``unigram_logprob``'s micro-nat trick.
    """
    def unigrams(d: DataFrame, side: str) -> DataFrame:
        ex = spread(d).select(F.explode(tokens(F.col("text"))).alias("t"))
        return ex.groupBy("t").agg(F.count(F.lit(1)).alias(f"tf_{side}"))

    from ..functions.checkpoint import cut_lineage

    ua, ub = unigrams(docs_a, "a"), unigrams(docs_b, "b")
    # materialize the aligned vocabulary once: BOTH the totals reduce and
    # the final sum consume it, and without the cut each consumer re-runs
    # the two explode+groupBy legs and the full-outer join
    joined = cut_lineage(
        ua.join(ub, "t", "full_outer").select(
            "t",
            F.coalesce("tf_a", F.lit(0)).alias("tf_a"),
            F.coalesce("tf_b", F.lit(0)).alias("tf_b"),
        )
    )
    totals = joined.agg(
        F.sum("tf_a").alias("tot_a"),
        F.sum("tf_b").alias("tot_b"),
        F.count(F.lit(1)).alias("v"),
        F.sum((F.col("tf_a") > 0).cast("long")).alias("n_vocab_a"),
        F.sum((F.col("tf_b") > 0).cast("long")).alias("n_vocab_b"),
    )
    pa = (F.col("tf_a") + 1.0) / (F.col("tot_a") + F.col("v"))
    pb = (F.col("tf_b") + 1.0) / (F.col("tot_b") + F.col("v"))
    pico = 1_000_000_000_000
    # round-ok: log-valued — transcendental arguments make exact decimal
    # midpoints measure-zero; both engines fold the identical literal/DAG
    term_ab = F.round(pa * F.log(pa / pb) * pico, 0).cast("long")
    term_ba = F.round(pb * F.log(pb / pa) * pico, 0).cast("long")
    sums = (
        joined.crossJoin(F.broadcast(totals))
        .agg(
            F.sum(term_ab).alias("s_ab"),
            F.sum(term_ba).alias("s_ba"),
            F.first("v").alias("n_vocab_union"),
            F.first("n_vocab_a").alias("n_vocab_a"),
            F.first("n_vocab_b").alias("n_vocab_b"),
        )
    )
    return sums.select(
        F.col("n_vocab_a").cast("long").alias("n_vocab_a"),
        F.col("n_vocab_b").cast("long").alias("n_vocab_b"),
        F.col("n_vocab_union").cast("long").alias("n_vocab_union"),
        # signed exact-int ratios (pico-nat sums) => integer round
        iround_ratio_signed(F.col("s_ab"), F.lit(pico), 6).alias("kl_ab"),
        iround_ratio_signed(F.col("s_ba"), F.lit(pico), 6).alias("kl_ba"),
        iround_ratio_signed(
            F.col("s_ab") + F.col("s_ba"), F.lit(pico), 6
        ).alias("kl_sym"),
    )


PIPE_MIN_QUALITY = 0.3
PIPE_MAX_REP = 0.5


def corpus_pipeline(documents: DataFrame) -> DataFrame:
    """End-to-end curation disposition — the whole treatment as ONE
    composed plan: quality gate → repetition gate → exact-dup drop →
    train/val/test split, with a per-document verdict and the first
    failing gate as the reason (gate precedence: low_quality, repetitive,
    exact_dup). The gates and thresholds are the same ones the streaming
    ingest pipeline applies (streaming/ingest.py), so batch backfill and
    live ingest agree on what survives.

    Plan shape: three scan-speed projection legs (quality, repetition,
    split) plus the content-hash aggregation, all re-joined on doc_id —
    after the first shuffle every join is co-partitioned on the same key,
    and Catalyst collapses the projection legs into shared scans. No leg
    ever shuffles more than one row per document.
    """
    from .dedup import exact_dedup
    from .sampling import train_val_test_split
    from .text import quality_score

    q = quality_score(documents).select("doc_id", "quality")
    rep = repetition_score(documents).select("doc_id", "rep_ratio")
    # one canonical policy: reuse exact_dedup's (content_hash ->
    # canonical_id) aggregation rather than restating the min-id rule
    canon = exact_dedup(documents).select("content_hash", "canonical_id")
    dup = (
        documents.select("doc_id", F.md5("text").alias("content_hash"))
        .join(canon, "content_hash")
        .select("doc_id", (F.col("doc_id") != F.col("canonical_id")).alias("is_dup"))
    )
    split = train_val_test_split(documents).select("doc_id", "split")
    reason = (
        F.when(F.col("quality") < PIPE_MIN_QUALITY, F.lit("low_quality"))
        .when(F.col("rep_ratio") > PIPE_MAX_REP, F.lit("repetitive"))
        .when(F.col("is_dup"), F.lit("exact_dup"))
    )
    return (
        q.join(rep, "doc_id")
        .join(dup, "doc_id")
        .join(split, "doc_id")
        .select(
            "doc_id",
            "quality",
            "rep_ratio",
            "is_dup",
            "split",
            reason.isNull().alias("kept"),
            F.coalesce(reason, F.lit("kept")).alias("reason"),
        )
    )


SEQ_LEN = 512
PACK_BUCKET_BITS = 5  # 32 contiguous hash-range buckets


def sequence_pack(
    documents: DataFrame,
    seq_len: int = SEQ_LEN,
    bucket_bits: int = PACK_BUCKET_BITS,
) -> DataFrame:
    """Concatenate-and-chunk sequence packing: place every document in the
    deterministic (md5-hash, doc_id) global token stream — each doc costs
    ``n_tokens + 1`` (one EOS separator) — and cut the stream every
    ``seq_len`` tokens. Returns per doc its stream ``start_offset``, the
    training sequence it starts in (``seq_id``) and how many sequences it
    spans (``n_seqs``): the packing manifest an LLM data loader consumes.

    A naive global running sum is a single-partition window — the 100 TB
    killer. Instead the hash's top ``bucket_bits`` bits split the stream
    into contiguous ranges: pass 1 computes each bucket's token total
    (tiny: 2^bucket_bits rows) and prefix-sums those on the driver-sized
    table; pass 2 does a per-bucket window cumsum and adds the broadcast
    bucket offset — global offsets from one bounded-width shuffle.
    Because the bucket is the hash's high bits, bucket-major order IS
    (hash, doc_id) order, so the result equals the single-window
    computation exactly.
    """
    h = hex_hash64(F.col("doc_id").cast("string"))
    d = spread(documents).select(
        "doc_id",
        h.alias("__h"),
        (token_count_col(F.col("text")) + 1).alias("__cost"),
    )
    d = d.withColumn("__b", F.shiftright(F.col("__h"), 60 - bucket_bits))
    totals = d.groupBy("__b").agg(F.sum("__cost").alias("__btot"))
    # exclusive prefix over the 2^bucket_bits totals rows — triangle
    # broadcast join, not a Window: bounded here, but the suite-wide plan
    # contract bans partition-less WindowExec outright (they're
    # indistinguishable in the plan from the unbounded 100 TB killer)
    offsets = bucket_prefix_offsets(totals, "__b", "__btot").select(
        "__b", "__boff"
    )
    w = Window.partitionBy("__b").orderBy("__h", "doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    start = (F.col("__boff") + F.sum("__cost").over(w) - F.col("__cost")).alias(
        "start_offset"
    )
    scored = d.join(F.broadcast(offsets), "__b").select(
        "doc_id", (F.col("__cost") - 1).alias("n_tokens"), start, "__cost"
    )
    seq_id = F.expr(f"start_offset div {seq_len}")
    last_seq = F.expr(f"(start_offset + __cost - 1) div {seq_len}")
    return scored.select(
        "doc_id",
        "n_tokens",
        "start_offset",
        seq_id.alias("seq_id"),
        (last_seq - seq_id + 1).alias("n_seqs"),
    )


def quality_bands(documents: DataFrame, exact: bool = True) -> DataFrame:
    """Assign each document a corpus-relative quality quartile (q1 worst …
    q4 best) — the banding a curation pass uses to set per-band sampling.

    The scale-correct two-pass shape: pass 1 reduces the corpus to THREE
    numbers (the quartile cutoffs, a 1-row aggregate), pass 2 assigns bands
    by comparing against the broadcast cutoffs — no global sort, no ntile
    over a total order (which would funnel 100 TB through one sort).
    Cutoffs: ``exact=True`` (default — the registered reference) uses the
    interpolated ``percentile``, whose 1-row reduce buffers every quality
    value; ``exact=False`` is the scale twin on ``approx_percentile``'s
    fixed-size mergeable sketch (discrete value-at-rank cutoffs,
    engine-exact below the sketch accuracy, so the twin stays
    oracle-checked — cf. analytics.price_quantiles).
    """
    from .analytics import PCTL_ACCURACY
    from .text import quality_score

    q = quality_score(documents).select("doc_id", "quality")
    if exact:
        cuts = q.agg(
            F.percentile("quality", 0.25).alias("p25"),
            F.percentile("quality", 0.50).alias("p50"),
            F.percentile("quality", 0.75).alias("p75"),
        )
    else:
        ap = F.expr(
            f"approx_percentile(quality, array(0.25D, 0.5D, 0.75D), {PCTL_ACCURACY})"
        )
        cuts = q.agg(ap.alias("__q")).select(
            F.col("__q")[0].alias("p25"),
            F.col("__q")[1].alias("p50"),
            F.col("__q")[2].alias("p75"),
        )
    band = (
        F.when(F.col("quality") <= F.col("p25"), F.lit("q1"))
        .when(F.col("quality") <= F.col("p50"), F.lit("q2"))
        .when(F.col("quality") <= F.col("p75"), F.lit("q3"))
        .otherwise(F.lit("q4"))
    )
    return q.crossJoin(F.broadcast(cuts)).select(
        "doc_id", "quality", band.alias("band")
    )


SOURCE_CAP = 20
CAP_SALT_BUCKETS = 32


def source_cap(
    documents: DataFrame,
    cap: int = SOURCE_CAP,
    salt_buckets: int = CAP_SALT_BUCKETS,
) -> DataFrame:
    """Per-source document cap: keep the ``cap`` highest-quality documents
    of each source (the per-domain cap every pretraining pipeline applies
    so one giant domain can't dominate the mixture). Deterministic total
    order: quality desc, doc_id asc.

    Scale shape — two-phase salted top-N. A single
    ``Window.partitionBy(source)`` funnels EVERY row of a source through
    one task; with ~20 sources over 100 TB that's a multi-TB partition.
    Phase 1 ranks within (source, salt) — ``salt_buckets`` deterministic
    slices per source — and keeps ``cap`` rows per slice, shrinking each
    source to salt_buckets × cap candidates; phase 2 ranks the survivors
    per source, now trivially small. Any row the global top-cap contains
    is in its slice's top-cap, so the two-phase result is exact.

    Quality rides through ``quality_score(keep=("source",))`` — a
    projection, not a join back to documents.
    """
    from .text import quality_score

    q = quality_score(documents, keep=("source",)).select(
        "doc_id", "source", "quality"
    )
    salt = F.pmod(F.col("doc_id"), F.lit(salt_buckets))
    order = [F.col("quality").desc(), F.col("doc_id").asc()]
    w1 = Window.partitionBy("source", "_salt").orderBy(*order)
    w2 = Window.partitionBy("source").orderBy(*order)
    return (
        q.withColumn("_salt", salt)
        .withColumn("_rk1", F.row_number().over(w1))
        .filter(F.col("_rk1") <= cap)
        .withColumn("rk", F.row_number().over(w2).cast("long"))
        .filter(F.col("rk") <= cap)
        .select("doc_id", "source", "quality", "rk")
    )


#: interpolation weight on the bigram ML estimate; 0.25 falls back to the
#: unigram. 0.75/0.25 are binary-exact doubles, so both engines compute
#: the identical mixture.
BIGRAM_LAMBDA = 0.75


def bigram_logprob(documents: DataFrame) -> DataFrame:
    """Per-document mean log-probability under an interpolated bigram
    language model — the CCNet-style perplexity filter, one order up from
    ``unigram_logprob``: token i scores ``ln(λ·p(tᵢ|tᵢ₋₁) + (1-λ)·p(tᵢ))``
    (the first token scores its unigram), which separates fluent prose
    from shuffled-word gibberish that a unigram model (a bag of words)
    cannot tell apart.

    Plan shape: ONE explode yields (doc_id, token, prev_token) — the
    predecessor comes from an array-side ``transform`` before the explode,
    so no window shuffle; the corpus reduces to its unigram and bigram
    tables (two map-side-combined shuffles; both Zipf-small relative to
    the corpus, so AQE broadcasts them into the rejoin); occurrences
    rejoin their frequencies and aggregate per document.

    Determinism: identical to ``unigram_logprob`` — each position's ln p
    quantizes to integer micro-nats first (round half-up, same in
    DuckDB), per-doc sums run on exact longs, only the final mean
    divides back to double.
    """
    toked = spread(documents).select(
        "doc_id", tokens(F.col("text")).alias("__t")
    )
    pairs = F.transform(
        F.col("__t"),
        lambda x, i: F.struct(
            x.alias("t"), F.get(F.col("__t"), i - 1).alias("prev")
        ),
    )
    ex = toked.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", F.col("p.t").alias("t"), F.col("p.prev").alias("prev")
    )
    uni = ex.groupBy("t").agg(F.count(F.lit(1)).alias("tf"))
    total = uni.agg(F.sum("tf").alias("total"))
    bi = (
        ex.filter(F.col("prev").isNotNull())
        .groupBy("prev", "t")
        .agg(F.count(F.lit(1)).alias("bf"))
    )
    prev_uni = uni.select(
        F.col("t").alias("prev"), F.col("tf").alias("tf_prev")
    )
    lam = BIGRAM_LAMBDA
    p_uni = F.col("tf").cast("double") / F.col("total").cast("double")
    p_bi = F.col("bf").cast("double") / F.col("tf_prev").cast("double")
    lp_raw = F.when(F.col("prev").isNull(), F.log(p_uni)).otherwise(
        F.log(F.lit(lam) * p_bi + F.lit(1.0 - lam) * p_uni)
    )
    lp_micro = F.round(lp_raw * LP_SCALE, 0).cast("long")
    scored = (
        ex.join(uni, "t")
        .join(prev_uni, "prev", "left")
        .join(bi, ["prev", "t"], "left")
        .crossJoin(F.broadcast(total))
        .select("doc_id", lp_micro.alias("lp"))
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"), F.sum("lp").alias("lp_sum")
    )
    return documents.select("doc_id").join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long").alias("n_tokens"),
        # signed exact-int ratio (micro-logprob sum) => integer round
        iround_ratio_signed(
            F.col("lp_sum"), F.col("n_tokens") * F.lit(LP_SCALE), 6
        ).alias("avg_logprob"),
    )


DOMAIN_CAP = 15


def domain_cap(
    documents: DataFrame,
    cap: int = DOMAIN_CAP,
    salt_buckets: int = CAP_SALT_BUCKETS,
) -> DataFrame:
    """Per-REGISTRABLE-DOMAIN document cap — ``source_cap`` generalized to
    the hierarchical key real pipelines cap on: one registrable domain
    serves from many hosts (www./cdn./blog. subdomains), and capping per
    source label or per host lets a single domain dominate the mixture
    through its subdomains.

    Key derivation is pure JVM regex off the scan: host = the authority
    part of the URL, registrable domain = the last two labels of the host
    (the simplified rule; production swaps in a Public Suffix List table —
    same plan, the extraction becomes a broadcast join against the PSL).

    Scale shape: identical to ``source_cap``'s two-phase salted top-N —
    phase 1 ranks within (domain, salt) slices so no single task sees a
    whole domain (the skew story: one giant domain over 100 TB), phase 2
    ranks the salt_buckets × cap survivors. Exact by the same argument.
    Deterministic total order: quality desc, doc_id asc.
    """
    from .text import quality_score

    q = quality_score(documents, keep=("url",)).select(
        "doc_id", "url", "quality"
    )
    host = F.regexp_extract(F.col("url"), "^[a-z]+://([^/]+)", 1)
    dom = F.regexp_extract(host, "([^.]+\\.[^.]+)$", 1)
    keyed = q.select(
        "doc_id", host.alias("host"), dom.alias("domain"), "quality"
    )
    salt = F.pmod(F.col("doc_id"), F.lit(salt_buckets))
    order = [F.col("quality").desc(), F.col("doc_id").asc()]
    w1 = Window.partitionBy("domain", "_salt").orderBy(*order)
    w2 = Window.partitionBy("domain").orderBy(*order)
    return (
        keyed.withColumn("_salt", salt)
        .withColumn("_rk1", F.row_number().over(w1))
        .filter(F.col("_rk1") <= cap)
        .withColumn("rk", F.row_number().over(w2).cast("long"))
        .filter(F.col("rk") <= cap)
        .select("doc_id", "domain", "host", "quality", "rk")
    )


def blocklist_filter(
    documents: DataFrame,
    blocked_domains: list[str],
) -> DataFrame:
    """URL blocklist disposition — the first gate of a crawl-curation
    pipeline (RefinedWeb-style): a document whose registrable domain is on
    the blocklist is rejected with a reason; everything else passes. The
    blocklist (thousands to millions of domains in production) is a table,
    not a literal: it broadcasts into an equi-join on the extracted
    domain, one scan, no shuffle of the corpus side.

    Output keeps every input doc: (doc_id, domain, allowed, reason) —
    disposition rows, same shape as the reference's delete-rejection
    reporting (DeleteBatch.groovy error rows), so rejects route to an
    audit sink instead of vanishing.
    """
    spark = documents.sparkSession
    host = F.regexp_extract(F.col("url"), "^[a-z]+://([^/]+)", 1)
    dom = F.regexp_extract(host, "([^.]+\\.[^.]+)$", 1)
    block = spark.createDataFrame(
        [(d,) for d in blocked_domains], "domain string"
    ).withColumn("__blocked", F.lit(True))
    return (
        documents.select("doc_id", dom.alias("domain"))
        .join(F.broadcast(block), "domain", "left")
        .select(
            "doc_id",
            "domain",
            F.col("__blocked").isNull().alias("allowed"),
            F.when(F.col("__blocked").isNotNull(), F.lit("blocked_domain")).alias(
                "reason"
            ),
        )
    )


#: source-overlap gram length: long enough that shared grams indicate real
#: content overlap (the contamination default), short enough to keep recall
OVERLAP_NGRAM = 8


def source_overlap(documents: DataFrame, n: int = OVERLAP_NGRAM) -> DataFrame:
    """Cross-source content-overlap matrix: for every pair of corpus
    sources, the exact n-gram Jaccard between their distinct-gram sets —
    the audit a training pipeline runs before mixing crawls ("is this new
    dump actually new, or is it 30 % the same pages as the last one?").

    Scale shape: the per-source gram sets are ONE distinct over
    (source, gram) — map-side combined, shuffled on the pair; the
    intersection is a self-equi-join on gram whose per-gram fan-out is
    bounded by the number of SOURCES carrying that gram (sources are
    dozens, never corpus-scale), so no gram can explode the join; the
    final pair grid is sources² rows — trivially broadcastable. No
    all-pairs document comparison anywhere.

    Output: one row per unordered source pair with set sizes,
    intersection size, and Jaccard.
    """
    from .dedup import shingle_table

    src = spread(documents).select("doc_id", "source")
    sg = (
        shingle_table(documents, n)
        .join(src, "doc_id")
        .select("source", F.explode("shingles").alias("gram"))
        .distinct()
    )
    sizes = sg.groupBy("source").agg(F.count(F.lit(1)).alias("n_grams"))
    a = sg.select(F.col("source").alias("source_a"), "gram")
    b = sg.select(F.col("source").alias("source_b"), "gram")
    common = (
        a.join(b, "gram")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    grid = (
        sizes.select(F.col("source").alias("source_a"), F.col("n_grams").alias("n_a"))
        .join(
            sizes.select(
                F.col("source").alias("source_b"), F.col("n_grams").alias("n_b")
            )
        )
        .filter(F.col("source_a") < F.col("source_b"))
    )
    n_common = F.coalesce(F.col("n_common"), F.lit(0))
    union_sz = F.col("n_a") + F.col("n_b") - n_common
    return (
        grid.join(F.broadcast(common), ["source_a", "source_b"], "left")
        .select(
            "source_a",
            "source_b",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            n_common.cast("long").alias("n_common"),
            # exact-int ratio => midpoint-exposed; integer div-round
            iround_ratio(n_common, union_sz, 6).alias("jaccard"),
        )
    )
