"""Text-analysis operators: language ID, quality scoring, token counting,
document fingerprinting.

All pure column expressions over the shared tokenizer (functions.textfns) —
single scan, no shuffle (per-row derivations), no UDFs; at 100 TB these run
at parquet-scan speed and pipeline into downstream filters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import POLY_MOD, hex_hash64
from ..functions.partitioning import spread
from ..functions.prefixsum import ordered_cumsum
from ..functions.textfns import punct_count, token_count_col, tokens
from ..functions.rounding import iround_ratio, iround_ratio_signed

# Stopword profiles for the n-gram/stopword language heuristic. Order fixes
# argmax tie-breaking (first wins).
LANG_PROFILES: list[tuple[str, list[str]]] = [
    ("en", ["the", "and", "of", "to", "is", "that", "it", "a"]),
    ("de", ["der", "die", "und", "das", "ist", "nicht", "ein", "zu"]),
    ("es", ["el", "la", "los", "que", "y", "una", "por", "como"]),
    ("fr", ["le", "les", "et", "des", "est", "dans", "pour", "une"]),
]
UNDETERMINED = "und"


def lang_id(documents: DataFrame) -> DataFrame:
    """Stopword-hit language ID. Scores = count of profile words present in
    the distinct-token set; prediction = argmax with profile-order
    tie-break, or 'und' when no profile hits."""
    toks = F.array_distinct(tokens(F.col("text")))
    scored = documents.select("doc_id", toks.alias("toks"))
    score_cols = []
    for lang, words in LANG_PROFILES:
        hits = None
        for w in words:
            h = F.when(F.array_contains(F.col("toks"), w), 1).otherwise(0)
            hits = h if hits is None else hits + h
        score_cols.append(hits.alias(f"score_{lang}"))
    scored = scored.select("doc_id", *score_cols)

    best = F.greatest(*[F.col(f"score_{lang}") for lang, _ in LANG_PROFILES])
    pred = F.lit(UNDETERMINED)
    for lang, _ in reversed(LANG_PROFILES):
        pred = F.when((F.col(f"score_{lang}") == best) & (best > 0), F.lit(lang)).otherwise(pred)
    return scored.select(
        "doc_id", *[F.col(f"score_{lang}").cast("long") for lang, _ in LANG_PROFILES], pred.alias("pred_lang")
    )


def quality_score(documents: DataFrame, keep: tuple[str, ...] = ()) -> DataFrame:
    """Heuristic document quality in [0,1]:
    0.4·min(n_tokens/100, 1) + 0.3·(1 − punct_ratio) + 0.3·stopword_ratio.
    Ratios in double, rounded to 6 decimals (SURVEY.md §6).

    ``keep`` threads extra input columns (e.g. ``source``) through the
    projection so downstream per-group operators don't need a join back to
    the documents table."""
    en_words = LANG_PROFILES[0][1]
    # materialize tokens once (own projection) — summing a per-stopword
    # filter over the inline tokenize expression re-ran the regex split per
    # stopword; one membership filter over the materialized array is
    # equivalent (sum of per-word occurrence counts == count of tokens in
    # the stopword set) and single-pass.
    toked = documents.select(
        "doc_id", *keep, F.col("text"), tokens(F.col("text")).alias("__toks")
    )
    stop_hits = F.size(
        F.filter(F.col("__toks"), lambda t: t.isin(*en_words))
    ).cast("long")
    df = toked.select(
        "doc_id",
        *keep,
        F.size("__toks").cast("long").alias("n_tokens"),
        F.length(F.col("text")).cast("long").alias("n_chars"),
        punct_count(F.col("text")).alias("n_punct"),
        stop_hits.alias("n_stopwords"),
    )
    # empty/degenerate docs (no chars, no tokens) score 0 on a ratio rather
    # than dividing by zero (ANSI mode raises; a 100 TB corpus has them)
    # every output is an exact-integer rational => midpoint-exposed;
    # round 6 via the engine-exact integer div-trick. The composite
    # score folds its degenerate-doc guards into max(.,1) denominators:
    # with C = max(c,1), T = max(t,1), P = (p if c>0 else 0),
    # S = (s if t>0 else 0), M = least(t,100),
    #   score = [4·M·C·T + 300·(C−P)·T + 300·S·C] / (1000·C·T)
    # reproduces 0.4·min(t/100,1) + 0.3·(1−p/c) + 0.3·s/t exactly,
    # including c=0 (punct term → 0.3) and t=0 (stop term → 0) cases.
    c = F.col("n_chars")
    t = F.col("n_tokens")
    C = F.greatest(c, F.lit(1))
    T = F.greatest(t, F.lit(1))
    P = F.when(c > 0, F.col("n_punct")).otherwise(F.lit(0))
    S = F.when(t > 0, F.col("n_stopwords")).otherwise(F.lit(0))
    M = F.least(t, F.lit(100))
    q_num = (
        F.lit(4) * M * C * T
        + F.lit(300) * (C - P) * T
        + F.lit(300) * S * C
    )
    q_den = F.lit(1000) * C * T
    return df.select(
        "doc_id",
        *keep,
        "n_tokens",
        "n_chars",
        "n_punct",
        "n_stopwords",
        F.when(c > 0, iround_ratio(F.col("n_punct"), c, 6))
        .otherwise(F.lit(0.0))
        .alias("punct_ratio"),
        F.when(t > 0, iround_ratio(F.col("n_stopwords"), t, 6))
        .otherwise(F.lit(0.0))
        .alias("stopword_ratio"),
        iround_ratio(q_num, q_den, 6).alias("quality"),
    )


def token_count(documents: DataFrame) -> DataFrame:
    return documents.select(
        "doc_id",
        token_count_col(F.col("text")).alias("n_tokens"),
        F.length(F.col("text")).cast("long").alias("n_chars_measured"),
    )


#: GPT-2-style pretokenizer, lookahead-free so the identical pattern runs
#: under Java regex (Spark) and RE2 (DuckDB oracle): contraction suffixes,
#: space-prefixed letter runs, digit runs, punctuation runs, whitespace.
BPE_RE = r"'s|'t|'re|'ve|'m|'ll|'d| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s]+|\s+"


def bpe_token_count(documents: DataFrame) -> DataFrame:
    """Subword-style (BPE pretokenizer) token counts next to whitespace
    word counts — the tokens-per-word ratio a training pipeline uses to
    budget compute (token counts, not word counts, bound sequence length).

    Pure per-row regex projection — scan speed at any corpus size, no
    shuffle, no UDF. The pattern is the GPT-2 pretokenize alternation
    minus its trailing-space lookahead (RE2 has no lookahead; leftmost-
    first alternation semantics agree between engines, so counts are
    oracle-identical).
    """
    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit(BPE_RE), 0)
    n_bpe = F.size(toks).cast("long")
    n_ws = token_count_col(F.col("text"))
    return spread(documents).select(
        "doc_id",
        n_bpe.alias("n_bpe_tokens"),
        n_ws.alias("n_ws_tokens"),
        # exact-int ratio => midpoint-exposed; integer div-round
        F.when(n_ws > 0, iround_ratio(n_bpe, n_ws, 6))
        .otherwise(F.lit(0.0))
        .alias("tokens_per_word"),
    )


def doc_fingerprint(documents: DataFrame) -> DataFrame:
    """Order-sensitive rolling fingerprint over the token stream:
    ``acc = (acc*131 + token_hash % POLY_MOD) % POLY_MOD`` folded left to
    right (token_hash = md5-derived 60-bit int), plus the md5 content hash.
    Reordering any two tokens changes the fingerprint — unlike bag-of-words
    hashes — while the DuckDB oracle can still replay it exactly.

    The fold is a higher-order ``aggregate`` — interpreted, not codegen'd —
    so the input is spread to full parallelism first (a single-file scan
    would run the whole fold in one task)."""
    from ..functions.partitioning import spread

    fp = F.aggregate(
        tokens(F.col("text")),
        F.lit(0).cast("long"),
        lambda acc, t: (acc * 131 + hex_hash64(t) % POLY_MOD) % POLY_MOD,
    )
    return spread(documents).select(
        "doc_id",
        fp.alias("rolling_fp"),
        F.md5(F.col("text")).alias("content_md5"),
    )


#: PII patterns kept to syntax with identical semantics in Java regex
#: (Spark) and RE2 (DuckDB oracle): no backrefs, no lookaround. Email is
#: case-insensitive via inline (?i) so matching runs against the ORIGINAL
#: text (redaction must not rewrite the document's casing); phone covers
#: 555-123-4567 / 555.123.4567 / 555 123 4567 / (555) 123-4567.
EMAIL_RE = r"(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PHONE_RE = r"(\(\d{3}\)[ ]?|\d{3}[-. ])\d{3}[-. ]\d{4}"


def pii_redact(documents: DataFrame) -> DataFrame:
    """Redact emails and phone-shaped numbers; count what was removed.

    The scrub every training-data pipeline runs before anything else. Pure
    regexp expressions — single scan, no shuffle; the per-kind counts let a
    downstream audit aggregate redaction rates by source without re-scanning
    the raw text. Only the PII spans are replaced — the rest of the
    document (including its casing) is untouched.
    """
    txt = F.col("text")
    n_emails = F.regexp_count(txt, F.lit(EMAIL_RE)).cast("long")
    n_phones = F.regexp_count(txt, F.lit(PHONE_RE)).cast("long")
    cleaned = F.regexp_replace(
        F.regexp_replace(txt, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
    )
    return documents.select(
        "doc_id",
        cleaned.alias("redacted_text"),
        n_emails.alias("n_emails"),
        n_phones.alias("n_phones"),
    )


#: normalization regexes restricted to syntax with identical semantics in
#: Java regex (Spark) and RE2 (DuckDB oracle): explicit char classes, no
#: shorthand \s (Java's includes \x0b, RE2's doesn't).
CTRL_RE = r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]"
WS_RE = r"[ \t\r\n]+"


def normalize_text(documents: DataFrame) -> DataFrame:
    """Whitespace/control normalization: control chars → space, whitespace
    runs collapsed to one space, ends trimmed. The first pass of every
    text-cleaning pipeline; pure regexp column expressions — single scan,
    no shuffle, scan-speed at 100 TB. ``changed`` marks rewritten docs so
    a downstream audit can count normalization rates without a re-diff."""
    txt = F.col("text")
    norm = F.trim(
        F.regexp_replace(F.regexp_replace(txt, CTRL_RE, " "), WS_RE, " ")
    )
    return documents.select(
        "doc_id",
        norm.alias("norm_text"),
        F.length(norm).cast("long").alias("n_chars_norm"),
        (norm != txt).alias("changed"),
    )


def corpus_ngram_topk(documents: DataFrame, n: int = 3, k: int = 20) -> DataFrame:
    """Top-k word n-grams by document frequency (distinct docs containing
    the gram). Shingles are per-doc distinct, so one explode + one count per
    gram — map-side partial counts make the shuffle carry at most
    (#distinct grams × partitions) rows regardless of corpus size.
    Deterministic order: df desc, then gram asc."""
    from .dedup import shingle_table

    ex = shingle_table(documents, n).select(F.explode("shingles").alias("gram"))
    return (
        ex.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.col("df").desc(), F.col("gram").asc())
        .limit(k)
    )


def lang_fertility(documents: DataFrame) -> DataFrame:
    """Tokenizer fertility per detected language — BPE-pretokens per
    whitespace word, the number a multilingual pipeline uses to budget
    per-language compute (languages that fragment into more subwords eat
    more sequence length per word; token counts, not word counts, bound
    training cost).

    Composition of two scan-speed operators: ``lang_id`` (pred_lang) ⋈
    ``bpe_token_count`` on doc_id, then ONE groupBy on the handful of
    languages. Fertility is the ratio of per-language SUMS (two exact
    longs — deterministic at any partitioning), not a mean of per-doc
    ratios.
    """
    li = lang_id(documents).select("doc_id", "pred_lang")
    bp = bpe_token_count(documents).select(
        "doc_id", "n_bpe_tokens", "n_ws_tokens"
    )
    sum_bpe = F.sum("n_bpe_tokens")
    sum_ws = F.sum("n_ws_tokens")
    return (
        li.join(bp, "doc_id")
        .groupBy("pred_lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            sum_bpe.cast("long").alias("sum_bpe_tokens"),
            sum_ws.cast("long").alias("sum_ws_tokens"),
            # exact-int ratio => midpoint-exposed; integer div-round
            F.when(
                sum_ws > 0, iround_ratio(sum_bpe, sum_ws, 6)
            ).alias("fertility"),
        )
    )


# ---------------------------------------------------------------------------
# Real BPE: learned merges (not the regex approximation of bpe_token_count)
# ---------------------------------------------------------------------------

BPE_MERGES = 60
BPE_WORD_CAP = 50_000


def bpe_learn_merges(
    word_counts: list[tuple[str, int]], n_merges: int = BPE_MERGES
) -> list[tuple[str, str]]:
    """Classic BPE merge learning over a (word, frequency) table — the
    sentencepiece/GPT-2 shape: training never touches the corpus again
    after word counting, so the expensive loop runs on a vocabulary-sized
    input. Pure python and fully deterministic (best pair = max summed
    frequency, ties to the lexicographically smallest pair), shared
    verbatim by the Spark trainer and the DuckDB oracle builder — the
    trained-constant-folding pattern of the IVF/PQ oracles.

    Incremental pair-count maintenance: each merge touches only the
    words containing the merged pair, so learning is O(n_merges ×
    candidate pairs), not O(n_merges × Σ|word|)."""
    from collections import defaultdict

    seqs = [list(w) for w, _c in word_counts]
    freqs = [c for _w, c in word_counts]
    pair_counts: dict = defaultdict(int)
    pair_words: dict = defaultdict(set)

    def index_word(i: int, sign: int) -> None:
        s = seqs[i]
        for a, b in zip(s, s[1:]):
            pair_counts[(a, b)] += sign * freqs[i]
            if sign > 0:
                pair_words[(a, b)].add(i)
            else:
                pair_words[(a, b)].discard(i)

    for i in range(len(seqs)):
        index_word(i, +1)
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        best = None
        for p, c in pair_counts.items():
            if c <= 0:
                continue
            if best is None or c > best[1] or (c == best[1] and p < best[0]):
                best = (p, c)
        if best is None:
            break
        (a, b), _c = best
        merges.append((a, b))
        for i in list(pair_words[(a, b)]):
            index_word(i, -1)
            s, new, j = seqs[i], [], 0
            while j < len(s):
                if j < len(s) - 1 and s[j] == a and s[j + 1] == b:
                    new.append(a + b)
                    j += 2
                else:
                    new.append(s[j])
                    j += 1
            seqs[i] = new
            index_word(i, +1)
    return merges


def bpe_segment(word: str, rank: dict) -> list[str]:
    """Segment one word with learned merges: repeatedly merge the
    present pair of LOWEST rank (greedy left-to-right within a pass) —
    the standard BPE tokenizer apply, deterministic, shared by the
    distributed apply and the oracle builder."""
    s = list(word)
    while len(s) > 1:
        best = None
        for a, b in zip(s, s[1:]):
            r = rank.get((a, b))
            if r is not None and (best is None or r < best[0]):
                best = (r, a, b)
        if best is None:
            break
        _r, a, b = best
        new, j = [], 0
        while j < len(s):
            if j < len(s) - 1 and s[j] == a and s[j + 1] == b:
                new.append(a + b)
                j += 2
            else:
                new.append(s[j])
                j += 1
        s = new
    return s


def bpe_train(
    documents: DataFrame,
    n_merges: int = BPE_MERGES,
    word_cap: int = BPE_WORD_CAP,
) -> DataFrame:
    """Train BPE merges on a corpus: ONE distributed word-count
    (map-side-combined groupBy — the only pass that sees the corpus),
    collect the capped frequency table (vocabulary-sized, ordered by
    (count desc, word) so the cap is deterministic), learn merges on the
    driver. Returns (rank, left, right) — the persistable tokenizer
    artifact, m rows, always broadcastable. At 100 TB the word count is
    the same one shuffle any token-frequency job pays; training cost is
    independent of corpus size."""
    wc = (
        spread(documents)
        .select(F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("w"))
        .limit(word_cap)
        .collect()
    )
    merges = bpe_learn_merges([(r.w, int(r.c)) for r in wc], n_merges)
    return documents.sparkSession.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(merges)],
        "rank long, left string, right string",
    )


def bpe_save(merges: DataFrame, path: str) -> None:
    """Persist a trained BPE tokenizer (the (rank, left, right) merge
    table) — the ``ivf_save`` shape for the text tier: a training
    pipeline freezes the tokenizer once and every downstream job loads
    the identical artifact, because two corpora tokenized with different
    merge tables are not comparable. Parquet keeps the exact strings
    (no CSV escaping hazards) and the rank order."""
    merges.write.mode("overwrite").parquet(path)


def bpe_load(spark, path: str) -> DataFrame:
    """Load a persisted BPE tokenizer, segmentation-ready for
    ``bpe_subword_stats`` (merge application consumes only the
    (left, right) → rank map, so a loaded tokenizer segments
    byte-identically to the in-session one — asserted in
    tests/test_text.py)."""
    return spark.read.parquet(path).select("rank", "left", "right")


def bpe_subword_stats(documents: DataFrame, merges: DataFrame) -> DataFrame:
    """Apply learned merges corpus-wide and report per-doc subword
    stats (n_words, n_subwords, fertility = subwords/word).

    Scale shape: segmentation (the python part) runs ONCE PER DISTINCT
    WORD — an Arrow pass over the vocabulary, not the corpus — and the
    per-token cost is a broadcast hash join of the exploded tokens
    against the (word → n_subwords) map. A 100 TB corpus pays one
    explode + one broadcast join in the JVM; python cost is O(|vocab|).
    Docs with no tokens report zeros (LEFT join back to the doc list)."""
    import pandas as pd

    rank = {(r.left, r.right): int(r.rank) for r in merges.collect()}
    toks = spread(documents).select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("w")
    )
    vocab = toks.select("w").distinct()

    def seg_batches(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            yield pd.DataFrame(
                {
                    "w": pdf["w"],
                    "n_sub": [len(bpe_segment(w, rank)) for w in pdf["w"]],
                }
            )

    seg = vocab.mapInPandas(seg_batches, "w string, n_sub long")
    per_doc = (
        toks.join(F.broadcast(seg), "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_sub").cast("long").alias("n_subwords"),
        )
    )
    return (
        documents.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_words", F.lit(0)).cast("long").alias("n_words"),
            F.coalesce("n_subwords", F.lit(0)).cast("long").alias("n_subwords"),
            # exact-int ratio => midpoint-exposed; integer div-round
            F.when(
                F.col("n_words") > 0,
                iround_ratio(F.col("n_subwords"), F.col("n_words"), 6),
            ).otherwise(F.lit(0.0)).alias("fertility"),
        )
    )


ZIPF_TOP_N = 1000


def token_zipf(documents: DataFrame, top_n: int = ZIPF_TOP_N) -> DataFrame:
    """Zipf-law fit over the corpus token-frequency distribution: the
    least-squares slope of ln(frequency) against ln(rank) for the top
    ``top_n`` tokens, with its r² — natural text sits near slope −1, and
    a drifting slope/r² flags template spam, boilerplate floods, or a
    broken upstream tokenizer (frequency-distribution drift that
    per-document quality gates can't see).

    Scale shape: ONE token-frequency shuffle (map-side combine; the same
    exact-count cost corpus_stats pays), then the head is a distributed
    TakeOrdered heap (freq desc, token asc — never a global sort) and
    everything downstream operates on the BOUNDED top_n relation: ranks
    come from ``ordered_cumsum`` over a ones column (the prefix-sum
    primitive's fourth consumer — row_number without a partition-less
    Window), regression sums are one tiny aggregate.

    Determinism: ln(rank)/ln(freq) quantize to integer micro-nats FIRST
    (the unigram_logprob trick) so every regression sum is an exact
    BIGINT; the slope's cross-terms combine in DECIMAL(38,0) (Σx·Σy
    overflows int64) against the oracle's HUGEINT — both exact — with
    ONE double division (and for r², three double ops on those exact
    integers), rounded at 6.
    """
    tf = (
        spread(documents)
        .select(F.explode(tokens(F.col("text"))).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    tot = tf.agg(
        F.count(F.lit(1)).cast("long").alias("n_distinct_tokens"),
        F.sum("freq").cast("long").alias("n_tokens_total"),
    )
    top = (
        tf.orderBy(F.col("freq").desc(), F.col("t").asc())
        .limit(top_n)
        .withColumn("one", F.lit(1).cast("long"))
    )
    ranked = ordered_cumsum(
        top, "one", "freq", ["t"], out_col="rank", descending=True
    )
    micro = lambda c: F.floor(F.log(c.cast("double")) * 1_000_000 + 0.5).cast("long")  # noqa: E731
    m = ranked.select(
        micro(F.col("rank")).alias("x"), micro(F.col("freq")).alias("y")
    )
    s = m.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    big = lambda name: F.col(name).cast("decimal(38,0)")  # noqa: E731
    num = big("n") * big("sxy") - big("sx") * big("sy")
    den_x = big("n") * big("sxx") - big("sx") * big("sx")
    den_y = big("n") * big("syy") - big("sy") * big("sy")
    return s.crossJoin(F.broadcast(tot)).select(
        "n_distinct_tokens",
        "n_tokens_total",
        F.col("n").alias("top_n_used"),
        # signed / squared exact-int rationals => integer div-round
        iround_ratio_signed(num, den_x, 6).alias("zipf_slope"),
        iround_ratio(num * num, den_x * den_y, 6).alias("zipf_r2"),
    )
