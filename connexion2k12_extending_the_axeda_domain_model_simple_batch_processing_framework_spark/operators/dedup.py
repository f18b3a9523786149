"""Deduplication operators for training-data pipelines.

Four families: exact (content hash), n-gram Jaccard, MinHash+LSH, SimHash.
All candidate generation is join-on-bucket — never a global cross join — so
the pair space stays bounded at 100 TB:

- exact: one shuffle on md5(text); map-side partial agg first.
- n-gram Jaccard: shingle explode (~tokens× rows) then a self-equi-join on
  the shingle value; Spark hash-partitions both sides on the shingle, so
  candidate generation is co-located. Only docs sharing a shingle ever meet.
- MinHash+LSH: signature is NUM_HASHES min-aggregates over one explode;
  banding turns near-dup search into an equi-join on (band, band_hash) —
  the pair blowup is bounded by bucket sizes, the classic scale path.
- SimHash: one explode + 16 conditional sums per doc; bucket-join on the
  signature for candidate pairs.

Hash functions are md5-derived (functions.hashing.hex_hash64) so every
signature is bit-identical in the DuckDB oracle (SURVEY.md §6).
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.checkpoint import cut_lineage
from ..functions.hashing import hex_hash64, hex_hash64_sql
from ..functions.partitioning import spread
from ..functions.rounding import iround_ratio
from ..functions.textfns import tokens, word_shingles

NUM_MINHASHES = 12
LSH_BANDS = 4
LSH_ROWS = 3  # NUM_MINHASHES = LSH_BANDS * LSH_ROWS
SIMHASH_BITS = 16


def exact_dedup(documents: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Group identical texts by md5; canonical row = lowest id (first-wins,
    like the reference's create-if-absent model upsert,
    ProcessBatch.groovy:142-153)."""
    return (
        documents.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).cast("long").alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def shingle_table(documents: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingles) distinct word n-grams; docs with < n tokens drop
    out (consistently with the oracle).

    Tokenization happens in its OWN projection: ``word_shingles`` references
    the token array O(n_tokens) times inside a higher-order lambda, and
    inlining the regex-split there would re-split the text once per element
    access (O(tokens²) regex evals per row — measured 25s for 5k docs at
    sf0.1, vs ~1s with the materialized token column). Catalyst keeps the
    boundary because a non-cheap alias referenced many times is not collapsed.

    The non-empty filter tests ``size(tokens) >= n`` (equivalent: a doc has
    shingles iff it has ≥ n tokens) BEFORE the shingle projection — filtering
    on ``size(shingles) > 0`` after would push the whole shingle expression
    into the filter and re-trigger the quadratic inlining.
    """
    toked = spread(documents).select(
        "doc_id", tokens(F.col("text")).alias("__toks")
    ).filter(F.size("__toks") >= n)
    return toked.select("doc_id", word_shingles(F.col("__toks"), n).alias("shingles"))


def ngram_jaccard_pairs(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = 1000,
) -> DataFrame:
    """All doc pairs with word-n-gram Jaccard ≥ threshold.

    inter = count of shared distinct shingles (equi-join on shingle);
    union = |A| + |B| − inter. No arrays are carried through the join —
    only counts — keeping shuffle rows narrow.

    **Frequent-shingle cap**: the self-join on shingle value is quadratic
    per shingle bucket — one corpus-common 3-gram with document frequency
    B lands B² candidate pairs on a single reducer. Shingles with
    df > ``max_shingle_df`` are dropped from the Jaccard universe (both
    intersection AND sizes, so the score stays a true Jaccard over the
    capped universe — standard near-dedup practice; ubiquitous shingles
    carry no discriminative signal). The frequent set is tiny by
    definition, so the drop is a broadcast anti-join. Per-bucket fan-out
    is then bounded by max_shingle_df² regardless of corpus size.

    Doc sizes are counted from the exploded table (shingles are per-doc
    distinct) rather than via ``size(shingles)`` on a separate leg: the
    count reuses a subtree Spark must compute anyway instead of re-running
    tokenize+shingle two more times for the size joins. The shingle table
    itself is the session-shared one (``shared_shingle_table``) — the
    MinHash family computes the identical table.
    """
    sh = shared_shingle_table(documents, n)
    ex = sh.select("doc_id", F.explode("shingles").alias("s"))
    if max_shingle_df is not None:
        frequent = (
            ex.groupBy("s")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_shingle_df)
            .select("s")
        )
        ex = ex.join(F.broadcast(frequent), "s", "left_anti")
    # materialize the (capped) exploded table once: it feeds the sizes
    # aggregation and BOTH sides of the pair join (plus the df aggregation
    # above), and without the cut Spark re-runs tokenize+shingle+explode
    # for every consumer — measured 9x on the sf0.1 bench.
    ex = cut_lineage(ex)
    sizes = ex.groupBy("doc_id").agg(F.count(F.lit(1)).cast("int").alias("n_sh"))
    a = ex.alias("a")
    b = ex.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    # exact-integer ratio => midpoint-exposed; engine-exact integer round
    jac = iround_ratio(
        F.col("n_inter"),
        F.col("n_a") + F.col("n_b") - F.col("n_inter"),
        6,
    )
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_signatures(documents: DataFrame, n: int = 3, k: int = NUM_MINHASHES) -> DataFrame:
    """MinHash signature: k md5-seeded min-hashes over the shingle set.
    One explode + one grouped aggregation computing all k mins in a single
    shuffle (not k passes)."""
    sh = shared_shingle_table(documents, n)
    ex = sh.select("doc_id", "shingles", F.explode("shingles").alias("s"))
    # one F.expr parse per min (not ~8 Column calls each): same tree,
    # ~10x fewer py4j round trips — measured seconds/query on this link
    mins = [
        F.expr(f"min({hex_hash64_sql('s', i)}) AS h{i}") for i in range(k)
    ]
    return ex.groupBy("doc_id").agg(F.first("shingles").alias("shingles"), *mins)


def minhash_band_table(
    sh: DataFrame, bands: int = LSH_BANDS, rows: int = LSH_ROWS
) -> DataFrame:
    """(doc_id, band, band_hash) banded-minhash table from a shingle table.

    One shuffle (the per-doc signature aggregation computes all
    bands×rows mins in a single groupBy); the band union is a local
    projection. This table IS the LSH index: persist the corpus side once
    and every later dedup pass (self-join or incremental) is an equi-join
    against it — see ``incremental_near_dup``.
    """
    ex = sh.select("doc_id", F.explode("shingles").alias("s"))
    k = bands * rows
    # one F.expr parse per min/band (not ~8 Column calls each): same
    # trees, ~10x fewer py4j round trips on the driver
    mins = [
        F.expr(f"min({hex_hash64_sql('s', i)}) AS h{i}") for i in range(k)
    ]
    sig = ex.groupBy("doc_id").agg(*mins)
    # ONE projection with posexplode, not a union of per-band selects:
    # Catalyst does not share subplans across union legs, so the union
    # form re-ran the whole signature aggregation (explode + k seeded
    # md5 mins) once PER BAND — 4x the dominant cost of every minhash
    # consumer (measured ~1.7x query speedup at sf0.1).
    band_hashes = ", ".join(
        "md5(concat_ws('-', {}))".format(
            ", ".join(
                f"CAST(h{b * rows + r} AS STRING)" for r in range(rows)
            )
        )
        for b in range(bands)
    )
    return sig.select(
        "doc_id",
        F.posexplode(F.expr(f"array({band_hashes})")).alias(
            "band", "band_hash"
        ),
    )


#: session-scoped memo of built (shingle, band) index pairs, keyed by the
#: canonical semantic hash of the normalized input plan + LSH params. The
#: minhash tier has MANY consumers (pair listing, clustering, canonical
#: materialization, triangle counts, the funnel) and the index build —
#: tokenize + shingle + NUM_MINHASHES seeded mins — is their dominant cost;
#: at 100 TB it's the band index you persist ONCE and every consumer reads
#: (exactly the asymmetry ``incremental_near_dup`` exploits). In-session,
#: this memo gives the same build-once property. Keys hold the owning
#: SparkSession so a new session never sees another session's dead
#: checkpoint blocks; FIFO-capped to bound pinned storage.
def shared_shingle_table(documents: DataFrame, n: int = 3) -> DataFrame:
    """The per-doc distinct-shingle table, memoized per (session,
    canonical input plan, n) in the shared relation cache — the
    tokenize+shingle pass is the dominant cost of BOTH the n-gram Jaccard
    family and the MinHash family, and it's identical for every consumer
    of the same corpus and n."""
    from ..functions.dfcache import memo, persist_df

    norm = documents.select("doc_id", "text")

    def build() -> tuple[DataFrame]:
        return (persist_df(shingle_table(norm, n)),)

    try:
        key = ("shingles", documents.sparkSession, norm.semanticHash(), n)
    except Exception:  # semanticHash is best-effort; cache is an optimization
        return shingle_table(norm, n)
    return memo(documents.sparkSession, key, build)[0]


def shared_band_index(
    documents: DataFrame,
    n: int = 3,
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
) -> tuple[DataFrame, DataFrame]:
    """The materialized per-doc LSH index: ``(shingle_table, band_table)``,
    memoized per (session, canonical input plan, params) in the shared
    relation cache (``functions/dfcache.py`` — persist-backed, so an
    external unpersist degrades to a rebuild, never a failure). Safe to
    share because both tables are PER-DOC derivations — a consumer that
    needs only a subset of docs semi-joins the shared index down (see
    ``dedup_funnel``), it never needs a rebuild. Layered: the shingle
    table is its own cache entry (``shared_shingle_table``) shared with
    the Jaccard family; the band table entry owns only the banding."""
    from ..functions.dfcache import memo, persist_df

    norm = documents.select("doc_id", "text")
    sh = shared_shingle_table(documents, n)

    def build() -> tuple[DataFrame]:
        # materialize the band table too: self-joins evaluate BOTH sides,
        # and without it the signature aggregation runs once per side
        return (persist_df(minhash_band_table(sh, bands, rows)),)

    try:
        key = ("band", documents.sparkSession, norm.semanticHash(), n, bands, rows)
    except Exception:  # semanticHash is best-effort; cache is an optimization
        return sh, minhash_band_table(sh, bands, rows)
    return sh, memo(documents.sparkSession, key, build)[0]


def minhash_lsh_pairs(
    documents: DataFrame,
    n: int = 3,
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
) -> DataFrame:
    """LSH candidate pairs (band-bucket collisions) verified with the true
    Jaccard of the shingle sets. Output: (doc_a, doc_b, jaccard).

    Banded signatures join on (band_index, band_hash): only docs agreeing on
    a full band collide, so the join fan-out is tiny even at corpus scale.
    Verification joins the (distinct) shingle arrays of just the candidates.

    The shingle + band tables come from the session-scoped shared index
    (``shared_band_index``): materialized once (lineage cut), reused by the
    signature aggregation, both verification legs, and every OTHER minhash
    consumer in the session.
    """
    sh, bands_df = shared_band_index(documents, n, bands, rows)

    a = bands_df.alias("a")
    b_ = bands_df.alias("b")
    cand = (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_distinct(F.concat("sh_a", "sh_b")))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            iround_ratio(inter, union, 6).alias("jaccard"),
        )
    )


def incremental_near_dup(
    new_docs: DataFrame,
    corpus: DataFrame,
    n: int = 3,
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
) -> DataFrame:
    """Near-dups of NEW documents against an EXISTING corpus — the daily
    ingest shape of dedup: a 100 TB corpus is deduped once; every later
    batch only needs to know which of ITS docs collide with what is
    already stored.

    Asymmetric LSH: band tables for both sides, equi-join on
    (band, band_hash) — the corpus side is the persisted index
    (``minhash_band_table`` + its shingle table, written once), so a new
    batch costs hash(new) + one equi-join, never a corpus re-hash or
    self-join. Verification computes true Jaccard for candidates only.
    Output: (new_doc_id, corpus_doc_id, jaccard).
    """
    # both sides' shingle + band tables come from the session-shared cache
    # (keyed by each side's own plan): the corpus side IS the persisted
    # index this operator's contract describes, and repeated daily-ingest
    # invocations rebuild neither side
    sh_new, bn = shared_band_index(new_docs, n, bands, rows)
    sh_cor, bc = shared_band_index(corpus, n, bands, rows)
    b_new, b_cor = bn.alias("a"), bc.alias("b")
    cand = (
        b_new.join(
            b_cor,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("new_doc_id"),
            F.col("b.doc_id").alias("corpus_doc_id"),
        )
        .distinct()
    )
    sa = sh_new.select(F.col("doc_id").alias("new_doc_id"), F.col("shingles").alias("sh_a"))
    sb = sh_cor.select(F.col("doc_id").alias("corpus_doc_id"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_distinct(F.concat("sh_a", "sh_b")))
    return (
        cand.join(sa, "new_doc_id")
        .join(sb, "corpus_doc_id")
        .select(
            "new_doc_id",
            "corpus_doc_id",
            iround_ratio(inter, union, 6).alias("jaccard"),
        )
    )


def simhash_signatures(documents: DataFrame) -> DataFrame:
    """Per-doc SIMHASH_BITS-bit SimHash over distinct word tokens.

    bit_j = sign of Σ_tokens (±1 by token-hash bit j); the signature packs
    bits little-endian. One explode + one aggregation; oracle-verifiable
    because the token hash is md5-derived.
    """
    toks = spread(documents).select(
        "doc_id", F.explode(F.array_distinct(tokens(F.col("text")))).alias("t")
    )
    # one F.expr parse per bit sum / one for the pack (not ~10 Column
    # calls each): same trees, ~10x fewer py4j round trips on the driver
    h = hex_hash64_sql("t")
    bit_sums = [
        F.expr(
            f"sum(CASE WHEN (shiftright({h}, {j}) & 1) = 1"
            f" THEN 1 ELSE -1 END) AS b{j}"
        )
        for j in range(SIMHASH_BITS)
    ]
    agg = toks.groupBy("doc_id").agg(*bit_sums)
    pack = " + ".join(
        f"(CASE WHEN b{j} >= 0 THEN CAST({2**j} AS BIGINT)"
        f" ELSE CAST(0 AS BIGINT) END)"
        for j in range(SIMHASH_BITS)
    )
    return agg.select("doc_id", F.expr(f"({pack}) AS simhash"))


#: (shift, width) splits of the 16-bit signature into 3 bands (6/5/5).
#: Pigeonhole: ≤ 2 differing bits across 3 bands ⇒ at least one band is
#: bit-identical, so blocking on any-band-equal has recall 1.0 for
#: hamming ≤ 2 — the result set EQUALS the exact all-pairs answer, which
#: is what the DuckDB oracle computes.
SIMHASH_BANDS = [(0, 6), (6, 5), (11, 5)]


def simhash_pairs(documents: DataFrame, max_hamming: int = 2) -> DataFrame:
    """Near-dup pairs by SimHash with multi-band blocking.

    The signature is split into ``len(SIMHASH_BANDS)`` bit bands; candidate
    pairs are the union of equi-joins on each band's value (docs agreeing
    on at least one full band). With 3 bands and max_hamming = 2 the
    pigeonhole principle guarantees every qualifying pair collides in some
    band — full recall, no global cross join, per-band fan-out bounded by
    band-bucket sizes (2^5..2^6 buckets over the corpus)."""
    assert max_hamming < len(SIMHASH_BANDS), "bands must outnumber differing bits"
    # one signature computation shared by all bands and both join sides;
    # a single posexplode emits every band row in one pass over it
    sig = cut_lineage(simhash_signatures(documents))
    # single-parse expr strings for the band projection and the
    # first-matching-band predicate (same trees as the former Column-API
    # loops, ~10x fewer py4j round trips on the driver)
    band_vals = ", ".join(
        f"(shiftright(simhash, {off}) & {(1 << width) - 1})"
        for off, width in SIMHASH_BANDS
    )
    banded = sig.select(
        "doc_id",
        "simhash",
        F.posexplode(F.expr(f"array({band_vals})")).alias("band", "band_val"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))

    # first-matching-band dedup: a pair colliding in several bands is kept
    # only where the band index equals its FIRST agreeing band (all earlier
    # bands must differ) — cheap bit predicates on the signatures already
    # in the row, replacing a distinct() that shuffled every candidate
    # pair (~corpus²/bucket_count rows) a second time.
    def band_val_sql(side: str, j: int) -> str:
        off, width = SIMHASH_BANDS[j]
        return f"(shiftright({side}.simhash, {off}) & {(1 << width) - 1})"

    fm = "false"
    for idx in range(len(SIMHASH_BANDS)):
        earlier_differ = " AND ".join(
            f"{band_val_sql('a', j)} != {band_val_sql('b', j)}"
            for j in range(idx)
        ) or "true"
        fm = f"CASE WHEN a.band = {idx} THEN ({earlier_differ}) ELSE {fm} END"
    first_match = F.expr(fm)

    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(first_match)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def deletion_variants(col: F.Column) -> F.Column:
    """The string plus every single-character deletion of it — the
    SymSpell blocking neighborhood for edit distance <= 1."""
    one_deleted = F.transform(
        F.sequence(F.lit(1), F.length(col)),
        lambda i: F.concat(
            col.substr(F.lit(1), i - 1), col.substr(i + 1, F.length(col))
        ),
    )
    return F.array_union(F.array(col), one_deleted)


def fuzzy_name_pairs(
    entities: DataFrame,
    name_col: str = "c_name",
    id_col: str = "c_custkey",
    max_distance: int = 1,
) -> DataFrame:
    """Pairs of entities whose names are within Levenshtein distance
    ``max_distance`` (= 1) — the typo-clustering / entity-resolution join
    (duplicate serials with one mistyped character, near-identical URLs
    or titles in a crawl).

    A naive fuzzy join is all-pairs × an O(len²) distance — the classic
    quadratic blowup. The scale shape is **deletion-neighborhood
    blocking** (SymSpell): every string explodes to itself plus its
    single-character deletions (length+1 variants, a bounded fan-out);
    two strings within edit distance 1 — substitution, insertion, or
    deletion — MUST share a variant, so candidates come from an EQUI-join
    on the variant string, and the exact ``levenshtein`` runs only on
    candidates. Recall is exactly 1 for distance <= 1. A shared-variant
    pair can collide on several variants; the distinct runs on the
    (tiny) matched pair set, not the candidate stream.
    """
    named = spread(entities).select(
        F.col(id_col).alias("ent_id"), F.col(name_col).alias("name")
    )
    ex = named.select(
        "ent_id", "name", F.explode(deletion_variants(F.col("name"))).alias("v")
    )
    a, b = ex.alias("a"), ex.alias("b")
    lev = F.levenshtein(F.col("a.name"), F.col("b.name"))
    return (
        a.join(
            b,
            (F.col("a.v") == F.col("b.v")) & (F.col("a.ent_id") < F.col("b.ent_id")),
        )
        .filter(lev <= max_distance)
        .select(
            F.col("a.ent_id").alias("id_a"),
            F.col("b.ent_id").alias("id_b"),
            F.col("a.name").alias("name_a"),
            F.col("b.name").alias("name_b"),
            lev.cast("int").alias("distance"),
        )
        .distinct()
    )


def dup_clusters(
    documents: DataFrame, max_iterations: int = 10, **lsh_kwargs
) -> DataFrame:
    """Connected components over the MinHash-LSH near-dup graph: each doc in
    any candidate pair gets ``cluster_id`` = the smallest doc_id reachable
    through shared-bucket pairs. The step a production dedup actually needs
    after pair generation — keep one doc per CLUSTER, not per pair (pairwise
    drops delete both ends of A-B-C chains or neither).

    Label propagation, Pregel-style: every iteration each node takes the min
    label among itself and its neighbors. Each step is one distributed
    join + groupBy on doc_id (no driver-side data); iterations needed =
    graph diameter, and near-dup clusters are shallow (a handful of hops),
    so the loop converges in 2-4 rounds. The driver only checks a scalar
    convergence flag per round.
    """
    pairs = minhash_lsh_pairs(documents, **lsh_kwargs).select("doc_a", "doc_b")
    return connected_components(pairs, max_iterations)


def keep_canonical(
    documents: DataFrame, max_iterations: int = 10, **lsh_kwargs
) -> DataFrame:
    """The deduplicated corpus itself: drop every near-dup cluster member
    except the canonical one (the doc whose id IS the cluster label — the
    smallest id in its component); docs in no cluster pass through. This is
    the step a training pipeline actually materializes — `dup_clusters` is
    the diagnosis, this is the treatment.

    The drop set (non-canonical members) is a tiny fraction of the corpus,
    so the final filter is a broadcast ANTI-join against it: one scan of
    the corpus, no shuffle of the big side. Cf. the reference's
    state-guarded delete (``DeleteBatch.groovy``) for the same
    anti-join-as-delete shape on the batch surface.
    """
    labels = dup_clusters(documents, max_iterations, **lsh_kwargs)
    dropped = labels.filter(F.col("cluster_id") != F.col("doc_id")).select("doc_id")
    return documents.join(F.broadcast(dropped), "doc_id", "left_anti")


#: edge-count ceiling for the driver-side union-find shortcut. Near-dup
#: edge lists are a tiny fraction of the corpus (pairs over a tight
#: threshold), so even very large corpora usually land under it; 2M edges
#: is ~32 MB on the driver. Above the gate the distributed loop runs.
CC_LOCAL_MAX_EDGES = 2_000_000


def connected_components(
    pairs: DataFrame,
    max_iterations: int = 10,
    local_max_edges: int = CC_LOCAL_MAX_EDGES,
) -> DataFrame:
    """Min-label propagation over an undirected edge list (doc_a, doc_b):
    output (doc_id, cluster_id) where cluster_id = min node id reachable.

    Two physical strategies behind one result:

    - **edge list ≤ ``local_max_edges``** (measured AFTER the one
      distributed pair-generation pass): path-compressed union-find on
      the driver. The iterative Spark loop pays ~0.5-1 s of scheduling +
      checkpoint + convergence-probe per round REGARDLESS of data size —
      for the sparse graphs near-dup thresholds produce (hundreds to
      thousands of edges even at sf0.1), that fixed cost was 8+ s of
      pure overhead for microseconds of actual work. Union-find on a
      bounded edge set is exact, deterministic, and O(E α(E)).
    - **larger graphs**: the distributed 2-hops-per-round label
      propagation below, unchanged — rounds needed ≈ diameter/2, all
      joins + groupBys, no driver data.

    The union always parents the larger root under the smaller, so each
    component's root IS its minimum id — identical output to the
    propagation loop (and the recursive-CTE oracle) by construction.
    """
    first_dir = cut_lineage(pairs.select("doc_a", "doc_b"))
    n_edges = first_dir.count()
    if n_edges <= local_max_edges:
        parent: dict = {}

        def find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:
                parent[x], x = root, parent[x]
            return root

        # collect(), not toLocalIterator(): the iterator schedules one
        # sequential mini-job per partition (32 jobs for a few hundred
        # edges); the gate already bounds the collected size to ~32 MB.
        nodes = set()
        for r in first_dir.collect():
            a, b = r[0], r[1]
            nodes.add(a)
            nodes.add(b)
            ra, rb = find(a), find(b)
            if ra != rb:
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        return pairs.sparkSession.createDataFrame(
            [(int(x), int(find(x))) for x in sorted(nodes)],
            "doc_id long, cluster_id long",
        )
    # undirected edge list, both directions — via ONE explode rather than
    # a union of two selects: union legs don't share subplans, so the
    # union form ran the whole upstream pair-generation pipeline twice.
    # Materialized once (checkpoint): every propagation round joins
    # against it, and without the cut each round would re-run it.
    both_dirs = F.explode(
        F.array(
            F.struct(F.col("doc_a").alias("doc_a"), F.col("doc_b").alias("doc_b")),
            F.struct(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")),
        )
    )
    edges = cut_lineage(
        first_dir.select(both_dirs.alias("e")).select("e.doc_a", "e.doc_b")
    )
    labels = edges.select(F.col("doc_a").alias("doc_id")).distinct().withColumn(
        "cluster_id", F.col("doc_id")
    )
    # Two propagation HOPS per synchronization round: the round's plan
    # chains two join+min steps before the one checkpoint + convergence
    # probe. Rounds needed drop from ~diameter to ~diameter/2, and the
    # per-round fixed cost (job scheduling, lineage checkpoint, probe —
    # measured ~0.5 s regardless of data size; at cluster scale, a global
    # barrier) dominates the extra in-round shuffle, which pipelines
    # within the same job.
    for _ in range(max_iterations):
        cur = labels.select(
            "doc_id", "cluster_id", F.col("cluster_id").alias("__prev")
        )
        for _hop in range(2):
            neighbor_min = (
                edges.join(
                    cur.select("doc_id", "cluster_id"),
                    edges.doc_b == F.col("doc_id"),
                )
                .groupBy(F.col("doc_a").alias("doc_id"))
                .agg(F.min("cluster_id").alias("nbr_min"))
            )
            cur = cur.join(neighbor_min, "doc_id", "left").select(
                "doc_id",
                F.least(
                    F.col("cluster_id"), F.coalesce("nbr_min", "cluster_id")
                ).alias("cluster_id"),
                "__prev",
            )
        # checkpoint FIRST, then run the convergence probe against the
        # materialized rows: one heavy job per round (plus a cheap local
        # scan), instead of executing the round's plan twice. The checkpoint
        # also keeps lineage shallow — each round would otherwise double the
        # plan depth under the next round's join.
        updated = cut_lineage(cur)
        changed = updated.filter(F.col("cluster_id") != F.col("__prev")).limit(1).count()
        labels = updated.select("doc_id", "cluster_id")
        if changed == 0:
            break
    else:
        # loop exhausted max_iterations while labels were still moving:
        # the returned labels are partially propagated (graph diameter >
        # max_iterations). Surface it rather than silently returning
        # wrong clusters.
        warnings.warn(
            f"connected_components did not converge in {max_iterations} "
            "rounds (2 hops each); cluster labels are partially propagated. "
            "Raise max_iterations (the near-dup graph's diameter exceeds "
            "2x the round budget).",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels


#: exact-substring dedup window (tokens). The published threshold for
#: pretraining corpora is 50 tokens ("Deduplicating Training Data Makes
#: Language Models Better", Lee et al. 2021); the registered query uses a
#: smaller window sized to the synthetic corpus' 10-99-token documents.
SUBSTR_GRAM = 20


def substring_dedup(
    documents: DataFrame,
    gram_len: int = SUBSTR_GRAM,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact substring dedup: remove every maximal token span that appears
    verbatim (as a ``gram_len``-token window) in two or more documents —
    the cross-document verbatim-overlap cut (CCNet / RefinedWeb pipelines'
    ExactSubstr pass) that MinHash document-level dedup cannot express.
    Suffix arrays (the single-node tool of choice) don't distribute; the
    Spark-native equivalent is fixed-width rolling fingerprints:

    1. every overlapping ``gram_len``-token window emits one md5-derived
       fingerprint row off the scan (~n_tokens rows per doc, linear);
    2. ONE shuffle on fingerprint finds windows shared across >= 2 distinct
       documents (map-side combined count-distinct);
    3. duplicated window starts merge into maximal spans per document with
       the gaps-and-islands window pattern (single shuffle on doc_id,
       adjacent/overlapping windows coalesce — so any shared substring of
       length >= gram_len is removed in full);
    4. surviving tokens reassemble in order (same contract as
       corpus.boilerplate_scrub: every input doc comes back, possibly
       empty).

    Spans are removed from ALL copies (the published ExactSubstr
    semantics), so the operator is idempotent and order-independent —
    deterministic output at any partitioning, hash-verified by the DuckDB
    twin. Output: (doc_id, n_tokens, n_dup_spans, n_dup_tokens,
    clean_text).
    """
    from pyspark.sql import Window

    toked = spread(documents).select(
        F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("__toks")
    )
    ex = toked.filter(F.size("__toks") >= gram_len).select(
        "doc_id",
        "__toks",
        F.explode(F.sequence(F.lit(0), F.size("__toks") - gram_len)).alias("s"),
    )
    grams = ex.select(
        "doc_id",
        "s",
        hex_hash64(
            F.concat_ws(" ", F.slice("__toks", F.col("s") + 1, gram_len))
        ).alias("fp"),
    )
    dup_fps = (
        grams.groupBy("fp")
        .agg(F.count_distinct(F.col("doc_id")).alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("fp")
    )
    dup_starts = grams.join(dup_fps, "fp").select("doc_id", "s")

    w = Window.partitionBy("doc_id").orderBy("s")
    prev_end = F.max(F.col("s") + gram_len).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = (
        dup_starts.withColumn(
            "ni", (F.col("s") > F.coalesce(prev_end, F.lit(-1))).cast("long")
        )
        .withColumn("iid", F.sum("ni").over(w))
        .groupBy("doc_id", "iid")
        .agg(F.min("s").alias("ds"), (F.max("s") + gram_len).alias("de"))
    )
    spans = islands.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.struct("ds", "de"))).alias("spans"),
        F.count(F.lit(1)).alias("n_dup_spans"),
        F.sum(F.col("de") - F.col("ds")).alias("n_dup_tokens"),
    )
    indexed = F.transform(
        F.col("__toks"), lambda t, i: F.struct(i.alias("idx"), t.alias("tok"))
    )
    covered = lambda s: F.exists(  # noqa: E731
        F.col("spans"), lambda sp: (s["idx"] >= sp["ds"]) & (s["idx"] < sp["de"])
    )
    return (
        toked.join(spans, "doc_id", "left")
        .withColumn("spans", F.coalesce(F.col("spans"), F.array()))
        .select(
            "doc_id",
            F.size("__toks").cast("long").alias("n_tokens"),
            F.coalesce(F.col("n_dup_spans"), F.lit(0)).cast("long").alias("n_dup_spans"),
            F.coalesce(F.col("n_dup_tokens"), F.lit(0)).cast("long").alias("n_dup_tokens"),
            F.array_join(
                F.transform(
                    F.filter(indexed, lambda st: ~covered(st)),
                    lambda st: st["tok"],
                ),
                " ",
            ).alias("clean_text"),
        )
    )


def dedup_funnel(documents: DataFrame, embeddings: DataFrame) -> DataFrame:
    """The dedup TREATMENT FUNNEL — the three families applied in the
    order a production curation pipeline runs them, each stage consuming
    the previous stage's survivors, with per-stage attrition accounting:

    1. ``exact``    — md5 content groups, keep the lowest doc_id;
    2. ``minhash``  — LSH band-collision graph over the survivors,
                      keep each connected component's canonical;
    3. ``semantic`` — SemDeDup over the survivors' embeddings
                      (IVF-centroid blocking, in-bucket cosine pairs,
                      component canonical; similarity.semantic_dedup).

    Output is the funnel report (stage_idx, stage, n_in, n_dropped,
    n_out) — 3 rows, the numbers a curation dashboard tracks per crawl.
    Stages are sequential, so each stage's pair generation runs only on
    what survived the previous one (the at-scale motivation: exact dedup
    is the cheapest and shrinks the expensive stages' input). Survivor
    sets are lineage-cut between stages; at 100 TB each would be a
    persisted table between jobs.
    """
    from .similarity import semantic_dedup

    docs0 = spread(documents).select("doc_id", "text")
    canon1 = (
        docs0.groupBy(F.md5("text").alias("__h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    surv1 = cut_lineage(docs0.join(canon1, "doc_id", "left_semi"))
    # stage-2 edges come from the SESSION-SHARED band index over the full
    # corpus, semi-joined down to stage-1 survivors — identical edge set to
    # re-banding the survivors (signatures are per-doc), but the expensive
    # index build is shared with every other minhash consumer instead of
    # recomputed per funnel run. At 100 TB this is "read the persisted
    # band index", not "re-hash the corpus".
    pairs_all = minhash_lsh_pairs(documents).select("doc_a", "doc_b")
    pairs2 = pairs_all.join(
        surv1.select(F.col("doc_id").alias("doc_a")), "doc_a", "left_semi"
    ).join(surv1.select(F.col("doc_id").alias("doc_b")), "doc_b", "left_semi")
    labels2 = connected_components(pairs2)
    drop2 = labels2.filter(F.col("cluster_id") != F.col("doc_id")).select("doc_id")
    surv2 = cut_lineage(surv1.join(drop2, "doc_id", "left_anti").select("doc_id"))
    emb2 = embeddings.join(
        surv2.select(F.col("doc_id").alias("vec_id")), "vec_id", "left_semi"
    )
    # stage 3 blocks with the FULL-corpus quantizer (quantizer_corpus):
    # shares the session's one IVF build with ANN/retrieval/semantic_dedup
    # instead of retraining on the survivor subset — a quantizer is a
    # corpus-level blocking artifact, and assignment is per-vector, so
    # restricting the shared inverted file to survivors is exact.
    sem = semantic_dedup(emb2, quantizer_corpus=embeddings)
    surv3 = sem.filter(F.col("keep")).select(F.col("vec_id").alias("doc_id"))

    def stage_row(idx: int, name: str, df_in: DataFrame, df_out: DataFrame) -> DataFrame:
        a = df_in.agg(F.count(F.lit(1)).alias("n_in"))
        b = df_out.agg(F.count(F.lit(1)).alias("n_out"))
        return a.crossJoin(b).select(
            F.lit(idx).cast("long").alias("stage_idx"),
            F.lit(name).alias("stage"),
            F.col("n_in").cast("long").alias("n_in"),
            (F.col("n_in") - F.col("n_out")).cast("long").alias("n_dropped"),
            F.col("n_out").cast("long").alias("n_out"),
        )

    return (
        stage_row(1, "exact", docs0, surv1)
        .unionByName(stage_row(2, "minhash", surv1, surv2))
        .unionByName(stage_row(3, "semantic", surv2, surv3))
    )


def minhash_recall_report(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
    max_shingle_df: int | None = 1000,
) -> DataFrame:
    """Quality report of the MinHash banding — the dedup twin of the ANN
    tier's ``ann_recall``: how many of the exact n-gram-Jaccard pairs
    does the banded index actually surface, and how selective are its
    candidates? A 100 TB pipeline tunes (bands, rows) from exactly this
    table before trusting the index, because banding loss is silent —
    a missed pair is simply never seen again.

    Columns: n_exact (full-enumeration pairs ≥ threshold, over the
    df-capped universe), n_candidates (band collisions — the pairs the
    index PAYS to verify), n_verified (candidates whose true Jaccard ≥
    threshold), n_overlap (verified ∩ exact), recall
    (n_overlap/n_exact — banding loss plus any capped-vs-uncapped
    universe disagreement), candidate_precision
    (n_verified/n_candidates — verification cost efficiency).

    Both legs ride the session-shared indexes (shingle table + band
    index), so the report adds no corpus scans beyond the two pair
    listings it grades.

    All four counts come from ONE full-outer join of the two pair
    listings and ONE aggregation — both listings are unique on
    (doc_a, doc_b), so every former leg (count of exact, of candidates,
    of verified candidates, of the exact∩verified semi-join) is a
    conditional count over the joined rows. The r12 shape re-ran the
    candidate pipeline three times and the exact pipeline twice
    (Catalyst shares no subplans across aggregation legs — 110
    Exchanges in the r12 plan dump).
    """
    exact = ngram_jaccard_pairs(documents, n, threshold, max_shingle_df).select(
        "doc_a", "doc_b", F.lit(True).alias("is_exact")
    )
    cand = minhash_lsh_pairs(documents, n, bands, rows).withColumn(
        "is_cand", F.lit(True)
    )
    joined = exact.join(cand, ["doc_a", "doc_b"], "full_outer")
    ver = F.col("is_cand") & (F.col("jaccard") >= threshold)
    return joined.agg(
        F.count(F.when(F.col("is_exact"), 1)).cast("long").alias("n_exact"),
        F.count(F.when(F.col("is_cand"), 1))
        .cast("long")
        .alias("n_candidates"),
        F.count(F.when(ver, 1)).cast("long").alias("n_verified"),
        F.count(F.when(F.col("is_exact") & ver, 1))
        .cast("long")
        .alias("n_overlap"),
    ).select(
        "n_exact",
        "n_candidates",
        "n_verified",
        "n_overlap",
        iround_ratio(F.col("n_overlap"), F.col("n_exact"), 6).alias("recall"),
        iround_ratio(F.col("n_verified"), F.col("n_candidates"), 6).alias(
            "candidate_precision"
        ),
    )


def minhash_recall_sweep(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    bands_sweep: tuple[int, ...] = (1, 2, 4, 8),
    rows: int = LSH_ROWS,
    max_shingle_df: int | None = 1000,
) -> DataFrame:
    """The (bands, rows) tuning curve of the MinHash index — the dedup
    twin of ``similarity.ann_recall_sweep``: one row per swept ``bands``
    (rows-per-band held at the production value), showing the
    recall-vs-candidate-cost trade a 100 TB dedup is tuned on. More
    bands = a longer signature (``sig_len = bands·rows`` seeded mins per
    doc, the storage/compute cost disclosed per row) and more collision
    chances = higher recall but more candidate verifications; banding
    loss is silent, so this table is what justifies a config.

    The whole sweep costs ONE banding pass, not len(bands_sweep):
    signatures are computed once at ``max(bands_sweep)·rows`` mins, the
    self-join runs once over all ``max(bands_sweep)`` band hashes with
    the MINIMUM colliding band index carried, and each sweep point
    derives its candidate set by filtering ``min_band < bands`` — exact,
    because seeds are absolute (band b uses mins ``b·rows … b·rows+rows-1``),
    so the band table at ``bands=B`` is precisely the first B bands of
    the widest table: collision membership is prefix-monotone, and
    membership is all that ``bands`` changes (the verified Jaccard of a
    pair is band-independent). The ``bands=LSH_BANDS`` row therefore
    grades the PRODUCTION index bit-identically to
    ``minhash_recall_report``. Rides the session-shared shingle table.

    Every sweep point's counts come from ONE full-outer join of the
    scored candidate set (min_band carried) with the exact-pair
    reference and ONE aggregation — both are unique on (doc_a, doc_b),
    so each point's candidate / verified / overlap legs are conditional
    counts (``min_band < bands``) over the same joined rows, and the
    len(bands_sweep) output rows inline from the single 1-row result.
    Only the band table stays persisted (BOTH sides of the collision
    self-join read it); the scored set and the exact reference are now
    single-consumer and flow through unpersisted (the r12 shape
    persisted both and re-aggregated them 13 times).

    Output (one row per distinct bands value): bands, rows_per_band, sig_len,
    n_exact, n_candidates, n_verified, n_overlap, recall,
    candidate_precision.
    """
    from ..functions.dfcache import persist_df

    # a repeated value would alias two aggregates alike
    bands_sweep = sorted(set(bands_sweep))
    bmax = bands_sweep[-1]
    k = bmax * rows
    sh = shared_shingle_table(documents, n)
    ex = sh.select("doc_id", F.explode("shingles").alias("s"))
    # one F.expr parse per min/band: same trees as the Column-API loops,
    # ~10x fewer py4j round trips (this builder measured ~2.7 s of pure
    # driver-side Column construction for k=32 before the change)
    mins = [
        F.expr(f"min({hex_hash64_sql('s', i)}) AS h{i}") for i in range(k)
    ]
    sig = ex.groupBy("doc_id").agg(*mins)
    band_hashes = ", ".join(
        "md5(concat_ws('-', {}))".format(
            ", ".join(f"CAST(h{b * rows + r} AS STRING)" for r in range(rows))
        )
        for b in range(bmax)
    )
    bt = persist_df(
        sig.select(
            "doc_id",
            F.posexplode(F.expr(f"array({band_hashes})")).alias(
                "band", "band_hash"
            ),
        )
    )
    a = bt.alias("a")
    b_ = bt.alias("b")
    cand = (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.min(F.col("a.band")).alias("min_band"))
    )
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_distinct(F.concat("sh_a", "sh_b")))
    scored = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "min_band",
            iround_ratio(inter, union, 6).alias("jaccard"),
        )
    )
    exact = ngram_jaccard_pairs(documents, n, threshold, max_shingle_df).select(
        "doc_a", "doc_b", F.lit(True).alias("is_exact")
    )
    joined = exact.join(scored, ["doc_a", "doc_b"], "full_outer")
    aggs = [F.count(F.when(F.col("is_exact"), 1)).cast("long").alias("ne")]
    for bands in bands_sweep:
        in_b = F.col("min_band") < bands
        ver_b = in_b & (F.col("jaccard") >= threshold)
        aggs += [
            F.count(F.when(in_b, 1)).cast("long").alias(f"nc{bands}"),
            F.count(F.when(ver_b, 1)).cast("long").alias(f"nv{bands}"),
            F.count(F.when(F.col("is_exact") & ver_b, 1))
            .cast("long")
            .alias(f"no{bands}"),
        ]
    tot = joined.agg(*aggs)
    rows_ = [
        F.struct(
            F.lit(bands).cast("long").alias("bands"),
            F.lit(rows).cast("long").alias("rows_per_band"),
            F.lit(bands * rows).cast("long").alias("sig_len"),
            F.col("ne").alias("n_exact"),
            F.col(f"nc{bands}").alias("n_candidates"),
            F.col(f"nv{bands}").alias("n_verified"),
            F.col(f"no{bands}").alias("n_overlap"),
            iround_ratio(F.col(f"no{bands}"), F.col("ne"), 6).alias(
                "recall"
            ),
            iround_ratio(F.col(f"nv{bands}"), F.col(f"nc{bands}"), 6).alias(
                "candidate_precision"
            ),
        )
        for bands in bands_sweep
    ]
    return tot.select(F.inline(F.array(*rows_)))


def containment_pairs(
    documents: DataFrame,
    n: int = 3,
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
) -> DataFrame:
    """LSH candidate pairs verified with CONTAINMENT as well as Jaccard —
    the asymmetric near-dup measure (|A ∩ B| / min(|A|, |B|)) that
    catches subset duplicates Jaccard dilutes: a paragraph quoted inside
    a much longer document has high containment but low Jaccard, and a
    training pipeline deduping on Jaccard alone keeps both copies of the
    quoted text. Same shared band index and candidate equi-join as
    ``minhash_lsh_pairs`` — the verification leg just adds the two set
    sizes and the min-denominator ratio.

    Output: (doc_a, doc_b, n_a, n_b, jaccard, containment).
    """
    sh, bands_df = shared_band_index(documents, n, bands, rows)
    a = bands_df.alias("a")
    b_ = bands_df.alias("b")
    cand = (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("long")
    union = F.size(F.array_distinct(F.concat("sh_a", "sh_b"))).cast("long")
    na = F.size("sh_a").cast("long")
    nb = F.size("sh_b").cast("long")
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            na.alias("n_a"),
            nb.alias("n_b"),
            iround_ratio(inter, union, 6).alias("jaccard"),
            iround_ratio(inter, F.least(na, nb), 6).alias("containment"),
        )
    )


def dup_cluster_sizes(documents: DataFrame, **cluster_kwargs) -> DataFrame:
    """Dedup-impact report: the near-dup CLUSTER-SIZE distribution — per
    size, how many clusters, how many documents they hold, and how many
    a keep-one-per-cluster policy removes (size − 1 each). The number a
    curation run quotes BEFORE committing a dedup pass ("34 % of the
    corpus sits in 2-doc clusters, one 40-doc template cluster dominates
    the savings") and the drift signal that catches a template flood
    between two cuts.

    Scale shape: rides ``dup_clusters`` (the session-shared band index +
    bounded label propagation — no new pair generation), then two TINY
    aggregations: cluster sizes (|clusters| rows) and the size histogram
    (|distinct sizes| rows). Everything downstream of the shared index
    is map-side combinable integers.
    """
    c = dup_clusters(documents, **cluster_kwargs)
    sizes = c.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("size")
    )
    return (
        sizes.groupBy("size")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
            F.sum("size").cast("long").alias("n_docs"),
            F.sum(F.col("size") - 1).cast("long").alias("n_removable"),
        )
        .orderBy("size")
    )
