"""Streaming corpus ingest: the training-data front door.

The batch text/corpus operators are pure per-row projections, so the same
column math runs unchanged over an unbounded stream. This module wires them
into the ingest order every training pipeline uses — PII redaction →
quality + repetition gate → exact and near dedup-at-ingest — with
watermark-bounded state, mirroring the reference's ingest-side rejection
contract (``internal/ProcessBatch.groovy``: duplicate serials are rejected
as data arrives, first wins).

Scale story: redaction/scoring are stateless projections (scan speed, any
parallelism); both dedup stages keep one row per distinct key in the state
store, hash-partitioned across executors and evicted as the watermark
advances — state is bounded by the dedup horizon, not the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.rounding import iround_ratio
from ..functions.hashing import hex_hash64
from ..functions.textfns import punct_count, tokens, word_shingles
from ..operators.text import EMAIL_RE, LANG_PROFILES, PHONE_RE

#: minhash count for the ingest near-dup signature (full-signature match ⇒
#: near-dup). Fewer hashes than the batch LSH path (operators/dedup.py): at
#: ingest we only gate on high-confidence duplicates and leave recall to
#: the batch pass.
INGEST_MINHASHES = 8


def redact_and_score_stream(docs: DataFrame) -> DataFrame:
    """PII-redact and score each arriving document (stateless projections).

    Adds ``redacted_text``, ``quality`` (same formula as
    ``operators.text.quality_score`` — asserted equal in
    tests/test_streaming_ingest.py) and ``rep_ratio`` (as
    ``operators.corpus.repetition_score``) while keeping all input columns.
    """
    txt = F.col("text")
    redacted = F.regexp_replace(
        F.regexp_replace(txt, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
    )
    d = docs.withColumn("redacted_text", redacted).withColumn(
        "__toks", tokens(txt)
    )
    en_words = LANG_PROFILES[0][1]
    n_tokens = F.size("__toks")
    stop_hits = F.size(F.filter(F.col("__toks"), lambda t: t.isin(*en_words)))
    # same degenerate-doc guards as operators.text.quality_score (ANSI mode
    # raises on x/0; empty docs are a fact of life at ingest)
    # exact-integer quality twin of operators.text.quality_score (r12):
    # identical integer div-round composite so drained stream rows stay
    # bit-equal to the batch column
    c = F.length(txt).cast("long")
    t = n_tokens.cast("long")
    C = F.greatest(c, F.lit(1))
    T = F.greatest(t, F.lit(1))
    P = F.when(c > 0, punct_count(txt)).otherwise(F.lit(0))
    S = F.when(t > 0, stop_hits.cast("long")).otherwise(F.lit(0))
    M = F.least(t, F.lit(100))
    q_num = (
        F.lit(4) * M * C * T
        + F.lit(300) * (C - P) * T
        + F.lit(300) * S * C
    )
    q_den = F.lit(1000) * C * T
    # word_shingles is distinct by contract → rep uses the raw gram stream:
    raw_gram = F.when(
        n_tokens >= 3,
        F.transform(
            F.sequence(F.lit(0), n_tokens - 3),
            lambda i: F.concat_ws(
                " ", F.col("__toks")[i], F.col("__toks")[i + 1], F.col("__toks")[i + 2]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    rep = F.when(
        F.size(raw_gram) > 0,
        iround_ratio(
            F.size(raw_gram) - F.size(F.array_distinct(raw_gram)),
            F.size(raw_gram),
            6,
        ),
    ).otherwise(F.lit(0.0))
    return d.withColumn("quality", iround_ratio(q_num, q_den, 6)).withColumn(
        "rep_ratio", rep
    ).drop("__toks")


def minhash_ingest_signature(k: int = INGEST_MINHASHES) -> F.Column:
    """Per-row minhash signature string — NO shuffle (higher-order min over
    the in-row shingle array), so it is legal in any streaming stage.
    Documents too short to shingle fall back to their exact md5 so nulls
    never collide in the dedup key."""
    sh = word_shingles(tokens(F.col("text")), 3)
    sig = F.concat_ws(
        "-", *[_row_min_hash(sh, i).cast("string") for i in range(k)]
    )
    return F.when(F.size(sh) > 0, sig).otherwise(F.md5(F.col("text")))


def _row_min_hash(sh_col: F.Column, seed: int) -> F.Column:
    """min of the seeded 60-bit hash over an in-row shingle array.

    NOTE the single-parameter lambda: ``transform`` treats a TWO-parameter
    lambda as (element, index) and would silently pass the array index as
    the seed — the closure must capture the seed instead.
    """
    return F.array_min(F.transform(sh_col, lambda s: hex_hash64(s, seed)))


def ingest_pipeline_stream(
    docs: DataFrame,
    min_quality: float | None = None,
    max_rep_ratio: float | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Full ingest pipeline over a streaming documents frame:

    1. PII redaction + quality/repetition scoring (stateless),
    2. gate: ``quality >= min_quality`` and ``rep_ratio <= max_rep_ratio``,
    3. exact dedup-at-ingest (md5, first wins within the watermark),
    4. near dedup-at-ingest (full-minhash-signature match, first wins).

    Output carries the scored, redacted, surviving documents. The gate
    thresholds default to the BATCH curation pipeline's constants
    (operators.corpus.PIPE_MIN_QUALITY / PIPE_MAX_REP) — one definition,
    so batch backfill and live ingest agree on what survives.
    """
    from ..operators.corpus import PIPE_MAX_REP, PIPE_MIN_QUALITY

    min_quality = PIPE_MIN_QUALITY if min_quality is None else min_quality
    max_rep_ratio = PIPE_MAX_REP if max_rep_ratio is None else max_rep_ratio
    scored = redact_and_score_stream(docs)
    gated = scored.filter(
        (F.col("quality") >= min_quality) & (F.col("rep_ratio") <= max_rep_ratio)
    )
    keyed = (
        gated.withColumn("content_hash", F.md5(F.col("text")))
        .withColumn("minhash_sig", minhash_ingest_signature())
        .withWatermark("event_time", watermark)
    )
    exact = keyed.dropDuplicatesWithinWatermark(["content_hash"])
    return exact.dropDuplicatesWithinWatermark(["minhash_sig"])


def stream_band_table(
    docs: DataFrame,
    bands: int = None,  # defaults resolved from operators.dedup
    rows: int = None,
) -> DataFrame:
    """Per-row banded-minhash rows (doc cols + band, band_hash) for a
    STREAMING frame: the minhash mins come from higher-order ``array_min``
    over the in-row shingle array — bit-identical to the batch
    ``operators.dedup.minhash_band_table`` (asserted in tests) but with no
    groupBy, so it is legal and stateless in any streaming stage. Docs too
    short to shingle produce no band rows (they cannot near-dup)."""
    from ..operators.dedup import LSH_BANDS, LSH_ROWS

    bands = bands or LSH_BANDS
    rows = rows or LSH_ROWS
    sh = word_shingles(tokens(F.col("text")), 3)
    d = docs.withColumn("__sh", sh).filter(F.size("__sh") > 0)
    k = bands * rows
    mins = [_row_min_hash(F.col("__sh"), i) for i in range(k)]
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    "-", *[mins[b * rows + r].cast("string") for r in range(rows)]
                )
            ).alias("band_hash"),
        )
        for b in range(bands)
    ]
    return d.select(
        *docs.columns, F.explode(F.array(*band_structs)).alias("__bb")
    ).select(*docs.columns, F.col("__bb.band").alias("band"), F.col("__bb.band_hash").alias("band_hash"))


def corpus_collision_stream(
    stream_docs: DataFrame,
    corpus_band_index: DataFrame,
    watermark: str = "1 hour",
) -> DataFrame:
    """Flag arriving documents that near-dup something ALREADY in the
    stored corpus — the streaming twin of
    ``operators.dedup.incremental_near_dup``.

    Stream-static equi-join: the arriving doc's band rows (stateless,
    per-row) against the persisted corpus band index (static side —
    ``minhash_band_table`` written once, reloaded per micro-batch from
    storage). Multi-band collisions collapse to one emission per
    (doc, corpus doc) via watermark-bounded dedup. Emits
    (doc columns…, corpus_doc_id)."""
    idx = corpus_band_index.select(
        F.col("doc_id").alias("corpus_doc_id"), "band", "band_hash"
    )
    hits = stream_band_table(stream_docs).join(idx, ["band", "band_hash"])
    out_cols = [c for c in stream_docs.columns] + ["corpus_doc_id"]
    return (
        hits.select(*out_cols)
        .withWatermark("event_time", watermark)
        .dropDuplicatesWithinWatermark(["doc_id", "corpus_doc_id"])
    )
