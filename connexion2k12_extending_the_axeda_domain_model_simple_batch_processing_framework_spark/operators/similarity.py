"""Similarity search over embedding columns (array<float>).

Two paths:

- ``brute_force_topk``: the query set (tiny) is broadcast against the
  corpus; per-partition local top-k then a k×partitions merge — the exact
  baseline, embarrassingly parallel at any corpus size.
- ``lsh_topk``: random-hyperplane signatures bucket the corpus; each query
  probes only its bucket (plus optional multi-probe neighbors), trading
  recall for a ~buckets× reduction in scanned vectors — the 100 TB path.

Cosines are computed with sequential-order double accumulation
(functions.vectors) and rounded to 6 decimals before ranking so the DuckDB
oracle ranks identically (SURVEY.md §6).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ..functions.checkpoint import cut_lineage
from ..functions.hashing import hex_hash64
from ..functions.rounding import iround_ratio
from ..functions.partitioning import spread
from ..functions.vectors import dot_expr, l2_norm_expr

EMBEDDING_DIM = 64
LSH_PLANES = 8
#: hard cap on the exact all-pairs anchor (collects the corpus to the
#: driver): 200k × 64 float64 ≈ 100 MB — comfortably driver-sized. Beyond
#: it the anchor is the wrong tool and the call fails loudly instead of
#: OOMing the driver.
EXACT_PAIRS_MAX_ROWS = 200_000


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k of each query over the corpus (self excluded).

    Norms are per-row facts, so each side computes its own once; the pair
    join evaluates only the codegen'd dot product.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    ).withColumn("q_norm", l2_norm_expr("q_vec", EMBEDDING_DIM))
    c = spread(corpus).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    ).withColumn("c_norm", l2_norm_expr("c_vec", EMBEDDING_DIM))
    # round-ok: cosine — the norm product passes through correctly-rounded
    # sqrt of non-square rationals, so no exact decimal midpoint exists
    cos = F.round(
        dot_expr("q_vec", "c_vec", EMBEDDING_DIM) / (F.col("q_norm") * F.col("c_norm")), 6
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cos.alias("cosine"))
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
    )


def _plane_sign(p: int, i: int) -> float:
    """±1 component i of hyperplane p: parity of the md5-derived 60-bit
    hash of the literal "plane-{p}-{i}" — the Python twin of
    ``hashing.hex_hash64`` on a literal, identical to what DuckDB computes
    in the oracle. Folded here at plan-build time: embedding the constant
    keeps the expression tree 10x smaller than a per-term md5 subtree
    (which made driver-side analysis/optimization the bottleneck), with
    bit-identical results."""
    h = int(hashlib.md5(f"plane-{p}-{i}".encode()).hexdigest()[:15], 16)
    return 1.0 if h % 2 == 0 else -1.0


def hyperplane_signature(vec_col: str, planes: int = LSH_PLANES, dim: int = EMBEDDING_DIM) -> F.Column:
    """Deterministic random-hyperplane LSH signature over the named
    array<float> column.

    Plane p's component i is ±1 derived from a seeded md5 hash — fully
    reproducible across runs/engines with no stored plane matrix. The signed
    sum folds left-to-right (i ascending) in double, matching the DuckDB
    oracle's + chain term for term (negation is bit-identical to *-1.0).

    Built as ONE ``F.expr`` from generated SQL text: composing the 8x64
    term tree through Column operators costs ~2500 py4j round trips
    (~8 s of driver time per call, measured); a single expr parse is
    milliseconds for the identical expression.
    """
    plane_exprs = []
    for p in range(planes):
        terms = " + ".join(
            ("" if _plane_sign(p, i) > 0 else "-")
            + f"CAST(`{vec_col}`[{i}] AS DOUBLE)"
            for i in range(dim)
        )
        plane_exprs.append(
            f"(CASE WHEN ({terms}) >= 0 THEN CAST({2 ** p} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        )
    return F.expr("(" + " + ".join(plane_exprs) + ")")


def _plane_matrix(planes: int = LSH_PLANES, dim: int = EMBEDDING_DIM) -> "np.ndarray":
    """The ±1 hyperplane matrix hyperplane_signature encodes as literals."""
    return np.array(
        [[_plane_sign(p, i) for i in range(dim)] for p in range(planes)],
        dtype=np.float64,
    )


def signature_table(
    df: DataFrame,
    id_out: str,
    vec_out: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = LSH_PLANES,
) -> DataFrame:
    """(id, bucket, vec) with the hyperplane LSH bucket computed in one
    Arrow-batched pass.

    Bit-identical to ``hyperplane_signature``/the DuckDB oracle: each
    plane's signed sum accumulates dimension-by-dimension in index order
    (the same IEEE left-fold chain as the generated SQL; multiplying by
    the ±1 plane matrix equals the SQL's literal negation exactly), and
    the sign test packs bits little-endian. The expression form compiles
    a 512-term codegen stage (~3 s of janino time per query at any data
    size); this path amortizes to a per-batch matrix accumulation.
    """
    S = _plane_matrix(planes)
    pows = (2 ** np.arange(planes)).astype(np.int64)
    fields = {f.name: f for f in df.schema.fields}
    out_schema = StructType(
        [
            StructField(id_out, fields[id_col].dataType),
            StructField("bucket", LongType()),
            StructField(vec_out, fields[vec_col].dataType),
        ]
    )

    def sign_batches(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            acc = np.zeros((len(V), len(S)))
            for i in range(V.shape[1]):
                acc += V[:, i, None] * S.T[None, i, :]
            # ~(acc < 0), not acc >= 0: Spark SQL (and the oracle) treat
            # NaN as greater than any value, so a NaN sum sets the bit —
            # numpy's NaN >= 0 is False and would flip it
            yield pd.DataFrame(
                {
                    id_out: pdf[id_col],
                    "bucket": (~(acc < 0)).astype(np.int64) @ pows,
                    vec_out: pdf[vec_col],
                }
            )

    return df.select(id_col, vec_col).mapInPandas(sign_batches, out_schema)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    planes: int = LSH_PLANES,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: bucket corpus and queries by hyperplane signature,
    rank only within the bucket. Recall < 1 by design; the candidate scan
    per query is corpus/2^planes in expectation. Signatures come from the
    Arrow-batched ``signature_table`` (bit-identical to the expression
    form); only the few in-bucket candidates pay the codegen'd cosine."""
    c = signature_table(
        spread(corpus), "neighbor_id", "c_vec", id_col, vec_col, planes
    ).withColumn("c_norm", l2_norm_expr("c_vec", EMBEDDING_DIM))
    q = signature_table(
        queries, "query_id", "q_vec", id_col, vec_col, planes
    ).withColumnRenamed("bucket", "q_bucket").withColumn(
        "q_norm", l2_norm_expr("q_vec", EMBEDDING_DIM)
    )
    # round-ok: cosine — the norm product passes through correctly-rounded
    # sqrt of non-square rationals, so no exact decimal midpoint exists
    cos = F.round(
        dot_expr("q_vec", "c_vec", EMBEDDING_DIM) / (F.col("q_norm") * F.col("c_norm")), 6
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        c.join(
            F.broadcast(q),
            (F.col("bucket") == F.col("q_bucket")) & (F.col("query_id") != F.col("neighbor_id")),
        )
        .select("query_id", "neighbor_id", cos.alias("cosine"))
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
    )


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exact: bool = False,
) -> DataFrame:
    """Pairs with cosine ≥ threshold.

    Default path (``exact=False``) buckets by hyperplane signature first —
    an equi-join on the 2^planes buckets, so candidate volume is
    corpus²/2^planes in expectation instead of corpus²: the 100 TB shape.
    Recall < 1 by design (near-dups whose signatures differ are missed);
    the deterministic signature means the DuckDB oracle reproduces the
    exact same bucketed pair set, so this path is still hash-verified.

    ``exact=True`` is the all-pairs O(n²) correctness anchor — only for
    dimension-table-sized inputs or recall measurement.
    """
    embeddings = spread(embeddings)
    if exact:
        return _exact_pairs_arrow(embeddings, threshold, id_col, vec_col)
    # round-ok: cosine — the norm product passes through correctly-rounded
    # sqrt of non-square rationals, so no exact decimal midpoint exists
    cos = F.round(dot_expr("va", "vb", EMBEDDING_DIM) / (F.col("na") * F.col("nb")), 6)
    a = signature_table(embeddings, "vec_a", "va", id_col, vec_col).withColumn(
        "na", l2_norm_expr("va", EMBEDDING_DIM)
    )
    b = signature_table(embeddings, "vec_b", "vb", id_col, vec_col).withColumn(
        "nb", l2_norm_expr("vb", EMBEDDING_DIM)
    )
    joined = a.join(
        b.withColumnRenamed("bucket", "bucket_b"),
        (F.col("bucket") == F.col("bucket_b")) & (F.col("vec_a") < F.col("vec_b")),
    )
    return (
        joined.select("vec_a", "vec_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def _round_half_away(a: "np.ndarray", decimals: int) -> "np.ndarray":
    """Round half away from zero — the rounding F.round (BigDecimal
    HALF_UP) and DuckDB round() use. np.round is half-to-even, which
    disagrees on exactly-representable dyadic midpoints (e.g. 1/128)."""
    scale = 10.0**decimals
    return np.sign(a) * np.floor(np.abs(a) * scale + 0.5) / scale


def _seq_dot(A: "np.ndarray", B: "np.ndarray") -> "np.ndarray":
    """All-pairs dot products accumulated dimension-by-dimension in index
    order — each pair's sum is the same IEEE left-fold chain
    ``t0 + t1 + ... + t_{d-1}`` the SQL engines compute (dot_expr /
    DuckDB list_reduce), so results are bit-identical to the expression
    path, unlike a BLAS matmul whose tiled summation order differs."""
    acc = np.zeros((A.shape[0], B.shape[0]))
    for i in range(A.shape[1]):
        acc += A[:, i, None] * B[None, :, i]
    return acc


def _seq_norms(M: "np.ndarray") -> "np.ndarray":
    """Left-fold L2 norms (the l2_norm_expr twin of _seq_dot)."""
    return np.sqrt(_seq_sq_sums(M))


def _seq_sq_sums(M: "np.ndarray") -> "np.ndarray":
    """Left-fold sums of squares (norm² WITHOUT the sqrt): the exact twin
    of the SQL ``Σ v[i]·v[i]`` fold — callers needing norm² must use this,
    not ``_seq_norms(..)**2``, whose sqrt-then-square can differ by 1 ulp
    from the raw fold."""
    acc = np.zeros(M.shape[0])
    for i in range(M.shape[1]):
        acc += M[:, i] * M[:, i]
    return acc


def _exact_pairs_arrow(
    embeddings: DataFrame, threshold: float, id_col: str, vec_col: str
) -> DataFrame:
    """Exact all-pairs cosine ≥ threshold as one Arrow-batched corpus scan.

    The corpus (collected once — the exact path is the CORRECTNESS ANCHOR
    for dimension-table-sized inputs; the scale default is the LSH-bucketed
    branch) ships in the task closure, and each batch scores its rows
    against all of it with vectorized dimension-order folds, keeping
    results bit-identical to the SQL expression form. Replaces the r2
    BroadcastNestedLoopJoin, which copied two 64-float arrays through every
    candidate pair row (~n² × 0.5 KB of row traffic) before the projection
    could score them — measured 8-10 s at sf0.1 vs ~1 s for this scan.
    """
    n = embeddings.count()
    if n > EXACT_PAIRS_MAX_ROWS:
        raise ValueError(
            f"exact=True all-pairs anchor refused: corpus has {n} rows "
            f"(cap {EXACT_PAIRS_MAX_ROWS}). The anchor collects the corpus "
            "to the driver and is only for dimension-table-sized inputs or "
            "recall measurement — use the LSH-bucketed default "
            "(embedding_near_dup_pairs(exact=False) / dedup_embedding_lsh) "
            "at corpus scale."
        )
    rows = embeddings.select(id_col, vec_col).collect()
    if not rows:  # empty corpus → empty pairs, not a shape error
        return embeddings.sparkSession.createDataFrame(
            [], "vec_a long, vec_b long, cosine double"
        )
    all_ids = np.array([r[0] for r in rows], dtype=np.int64)
    M = np.array([list(r[1]) for r in rows], dtype=np.float64)
    m_norms = _seq_norms(M)

    def score_batches(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            A = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            a_ids = pdf[id_col].to_numpy()
            cos = _round_half_away(
                _seq_dot(A, M) / np.outer(_seq_norms(A), m_norms), 6
            )
            ai, bi = np.nonzero(
                (cos >= threshold) & (a_ids[:, None] < all_ids[None, :])
            )
            yield pd.DataFrame(
                {
                    "vec_a": a_ids[ai],
                    "vec_b": all_ids[bi],
                    "cosine": cos[ai, bi],
                }
            )

    return embeddings.select(id_col, vec_col).mapInPandas(
        score_batches, "vec_a long, vec_b long, cosine double"
    )


IVF_NLIST = 16
IVF_NPROBE = 4
#: vectors used to train the coarse quantizer (k-means). IVF indexes are
#: trained on a sample at any scale (faiss trains on ~max(10k, 256*nlist)
#: vectors even for billion-vector indexes) — Lloyd on the full corpus
#: buys nothing but cluster time.
IVF_TRAIN_CAP = 16384
#: auto-nlist ceiling: the driver-side Lloyd trains on IVF_TRAIN_CAP
#: samples, and fewer than ~4 sample vectors per centroid degenerates
#: the quantizer to its seeds.
IVF_NLIST_CAP = 4096

#: (weakref(session), corpus semanticHash) → row count, so the
#: auto-nlist probe costs one metadata-cheap count per corpus per
#: session, not per call. STALENESS CONTRACT: a corpus that grows
#: in-session under the SAME canonical plan (e.g. re-read of an appended
#: parquet path) keeps its first-seen count — and therefore its
#: first-derived nlist — until the session restarts or the cache turns
#: over (>64 entries clears it). That is deliberate: a stable nlist
#: keeps every consumer of the corpus sharing one trained index; pass an
#: explicit ``nlist=`` to the IVF entry points to override. The session
#: key is a weakref, so a stopped/collected SparkSession is not pinned
#: alive by the cache.
_CORPUS_COUNT_CACHE: dict = {}


def ivf_auto_nlist(n_vectors: int) -> int:
    """Corpus-proportional coarse-quantizer size: the largest power of two
    ≤ √n, floored at ``IVF_NLIST`` and capped at ``IVF_NLIST_CAP``.

    A FIXED nlist is the textbook IVF scale-killer: probe cost per query
    is nprobe·(n/nlist), so holding nlist constant makes any
    queries-proportional workload (k-NN graph builds, all-corpus dedup)
    QUADRATIC — measured 433× wall at 100× corpus on the r11 scale curve
    (SCALE_CURVE.json, ann_ivf_topk 1.86 s → 808 s). nlist ≈ √n (the
    faiss sizing rule) makes the same probe nprobe·√n — subquadratic —
    while the sample-trained Lloyd stays driver-cheap. Powers of two keep
    the derived value stable under small count drift, and the IVF_NLIST
    floor means every corpus below 4·IVF_NLIST² = 1024 vectors — which
    covers the driver-gate and unit-test corpora (a few hundred vectors)
    — trains the EXACT index it always did, so trained oracle literals
    and pinned recalls are unchanged there; between ~1k and 65k vectors
    the auto nlist exceeds the old fixed 16 (e.g. n=2000 → 32) and the
    trained index legitimately differs from pre-r11.
    """
    import math

    if n_vectors <= 0:
        return IVF_NLIST
    return max(
        IVF_NLIST,
        min(IVF_NLIST_CAP, 2 ** int(math.log2(max(1.0, math.sqrt(n_vectors))))),
    )


def _resolve_nlist(
    corpus: DataFrame, nlist: int | None, id_col: str, vec_col: str
) -> int:
    """``nlist=None`` (the default across the IVF family) derives
    ``ivf_auto_nlist(count)``; an explicit integer passes through. The
    count is memoized per (session, canonical plan) so every consumer of
    the same corpus derives the same value and shares one index build —
    see the ``_CORPUS_COUNT_CACHE`` staleness contract above."""
    if nlist is not None:
        return nlist
    import weakref

    try:
        key = (
            weakref.ref(corpus.sparkSession),
            corpus.select(id_col, vec_col).semanticHash(),
        )
    except Exception:
        return ivf_auto_nlist(corpus.count())
    if key not in _CORPUS_COUNT_CACHE:
        if len(_CORPUS_COUNT_CACHE) > 64:
            _CORPUS_COUNT_CACHE.clear()
        _CORPUS_COUNT_CACHE[key] = corpus.count()
    return ivf_auto_nlist(_CORPUS_COUNT_CACHE[key])


def ivf_centroids(
    corpus: DataFrame,
    nlist: int | None = None,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_cap: int = IVF_TRAIN_CAP,
) -> DataFrame:
    """K-means centroids for an IVF index, trained on a deterministic
    sample — the faiss design: the coarse quantizer needs only a corpus
    sample, so the cluster does ONE TakeOrdered pass (no shuffle) to pull
    the ``train_cap`` vectors with the smallest md5-derived id hashes, and
    Lloyd runs on the driver in numpy (train_cap × dim doubles — a few MB).
    The expensive corpus-wide step, assigning every vector to its nearest
    centroid, stays distributed (see ``_assign``).

    Deterministic end to end: the sample is hash-ordered (no rand()), the
    seeds are the ``nlist`` smallest-hash vectors (identical to the
    previous distributed-Lloyd init), argmax ties break to the lowest
    centroid id, and empty clusters drop (matching the old groupBy
    semantics). Returns (centroid_id, centroid array<double>).

    The r2 distributed Lloyd (broadcast join + 64-column avg per round)
    was replaced: at sf0.1 it spent ~8 s on 3 rounds of job overhead +
    codegen for math that fits in one driver-side BLAS call; at 100 TB it
    would shuffle the corpus 3 extra times for a quantizer a sample trains
    equally well.
    """
    nlist = _resolve_nlist(corpus, nlist, id_col, vec_col)
    rows = (
        corpus.select(
            F.col(id_col).alias("vid"),
            F.col(vec_col).alias("v"),
            hex_hash64(F.col(id_col).cast("string")).alias("h"),
        )
        .orderBy("h", "vid")
        .limit(train_cap)
        .collect()
    )
    if not rows:  # empty corpus → empty centroid table, not an AxisError
        return corpus.sparkSession.createDataFrame(
            [], "centroid_id long, centroid array<double>"
        )
    V = np.array([r.v for r in rows], dtype=np.float64)
    ids, C = _lloyd(V, nlist, iters)
    spark = corpus.sparkSession
    return spark.createDataFrame(
        [(int(i), [float(x) for x in c]) for i, c in zip(ids, C)],
        "centroid_id long, centroid array<double>",
    )


def _lloyd(V: "np.ndarray", nlist: int, iters: int) -> tuple["np.ndarray", "np.ndarray"]:
    """The numpy Lloyd core of ``ivf_centroids``, on an already-ordered
    sample matrix. Factored out so the DuckDB oracle builder
    (queries._ivf_oracle_sql) can train the identical centroids from the
    identically-ordered parquet sample and fold them into the SQL twin as
    literals — the same shared-constant pattern as ``_plane_sign`` for the
    LSH oracle. Deterministic: seeds are the first ``nlist`` sample rows,
    argmax ties break to the lowest centroid index, empty clusters drop.
    """
    n_seed = min(nlist, len(V))
    C = V[:n_seed].copy()
    ids = np.arange(1, n_seed + 1, dtype=np.int64)
    for _ in range(iters):
        a = _nearest_idx(V, C)
        keep, new_c = [], []
        for j in range(len(C)):
            members = V[a == j]
            if len(members):
                keep.append(j)
                new_c.append(members.mean(axis=0))
        C = np.array(new_c)
        ids = ids[keep]
    return ids, C


def _nearest_idx(V: "np.ndarray", C: "np.ndarray") -> "np.ndarray":
    """Row-wise nearest-centroid index by cosine; ties to the lowest index
    (numpy argmax returns the first maximum)."""
    Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-30)
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-30)
    return (Vn @ Cn.T).argmax(axis=1)


def _assign(corpus: DataFrame, centroids: DataFrame) -> DataFrame:
    """(vid, centroid_id, cv): nearest centroid by cosine, ties to lowest id.

    Arrow-batched ``mapInPandas``: the centroid matrix (nlist × dim, a few
    KB) ships in the task closure and each batch computes all corpus ×
    centroid cosines vectorized — no join, no row replication, no shuffle;
    assignment streams off the scan at any corpus size. This is the
    textbook case for dropping to a vectorized Pandas path: the
    pure-expression alternatives each lose — a broadcast join replicates
    every row nlist× through an argmax aggregation (one full shuffle), and
    a literal-inlined nearest-centroid projection at nlist×dim = 16×64
    blows janino's 64 KB method limit and falls back to interpreted eval
    (measured 2× slower than even the join plan at r1).

    Cosines use the sequential dimension-order folds (``_seq_dot`` /
    ``_seq_norms``), NOT a BLAS matmul: the fold chain is bit-identical to
    the SQL left-assoc + chain, so the DuckDB oracle's cross-join argmax
    over the folded centroid literals reproduces the exact same
    assignment (queries._ivf_oracle_sql).
    """
    cent = centroids.orderBy("centroid_id").collect()
    ids = np.array([r.centroid_id for r in cent], dtype=np.int64)
    C = np.array([r.centroid for r in cent], dtype=np.float64)
    c_norms = _seq_norms(C)

    fields = {f.name: f for f in corpus.schema.fields}
    out_schema = StructType(
        [fields["vid"], StructField("centroid_id", LongType()), fields["cv"]]
    )

    def assign_batches(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array(pdf["cv"].tolist(), dtype=np.float64)
            cos = _seq_dot(V, C) / np.outer(_seq_norms(V), c_norms)
            yield pd.DataFrame(
                {
                    "vid": pdf["vid"],
                    "centroid_id": ids[cos.argmax(axis=1)],
                    "cv": pdf["cv"],
                }
            )

    return corpus.mapInPandas(assign_batches, out_schema)


def ivf_build(
    corpus: DataFrame,
    nlist: int | None = None,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Build the IVF index once: k-means centroids + the inverted file.

    Returns ``(centroids, assignments)``: centroids is (centroid_id,
    centroid array<double>), tiny (nlist rows, always broadcastable);
    assignments is (vid, centroid_id, cv) — the corpus partitioned by
    nearest centroid, materialized so repeated probes don't re-run
    k-means or the assignment join. At 100 TB both are tables you persist
    (e.g. parquet partitioned by centroid_id) and probe many times; here
    they're lineage-cut in memory.
    """
    nlist = _resolve_nlist(corpus, nlist, id_col, vec_col)
    corpus = spread(corpus)
    centroids = ivf_centroids(corpus, nlist, iters, id_col, vec_col)
    c = corpus.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("cv"))
    # _assign carries cv through its aggregate, so the inverted file needs
    # no join back to the corpus — one broadcast join + one shuffle total
    assignments = cut_lineage(_assign(c, centroids))
    return centroids, assignments


def ivf_build_cached(
    corpus: DataFrame,
    nlist: int | None = None,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """``ivf_build`` memoized per (session, canonical corpus plan, params)
    in the shared relation cache (``functions/dfcache.py``) — the
    train-once/probe-many property ``ivf_save``/``ivf_load`` give across
    jobs, provided within a session: ANN top-k, semantic dedup, and
    retrieval all quantize the same corpus with the same parameters, so
    they share ONE build. The quantizer is deterministic (hash-ordered
    sample, fixed seeds), so a shared build is bit-identical to a private
    one. The inverted file is persist-backed (an external unpersist
    degrades to a rebuild, never a failure)."""
    from ..functions.dfcache import memo, persist_df

    nlist = _resolve_nlist(corpus, nlist, id_col, vec_col)
    norm = corpus.select(id_col, vec_col)

    def build() -> tuple[DataFrame, DataFrame]:
        c = spread(corpus)
        centroids = ivf_centroids(c, nlist, iters, id_col, vec_col)
        vecs = c.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("cv"))
        # centroids is a driver-built LocalRelation (nlist rows) — nothing
        # to persist; the inverted file is the shared expensive relation
        return centroids, persist_df(_assign(vecs, centroids))

    try:
        key = ("ivf", corpus.sparkSession, norm.semanticHash(), nlist, iters)
    except Exception:  # semanticHash is best-effort; cache is an optimization
        return ivf_build(corpus, nlist, iters, id_col, vec_col)
    return memo(corpus.sparkSession, key, build)


def _probe_buckets(
    centroids: DataFrame,
    queries: DataFrame,
    nprobe: int = IVF_NPROBE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_rank: bool = False,
) -> DataFrame:
    """The bucket-selection half every IVF probe variant shares: rank the
    (broadcast, nlist-row) centroid table per query by cosine and keep
    the ``nprobe`` nearest — output (query_id, q_vec, q_norm,
    centroid_id), queries × nprobe rows. ``keep_rank`` carries the
    bucket rank ``pr`` so an nprobe sweep can derive every smaller
    probe's membership (pr ≤ n) from ONE selection at the max."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    ).withColumn("q_norm", l2_norm_expr("q_vec", EMBEDDING_DIM))
    probe_rank = Window.partitionBy("query_id").orderBy(
        F.col("qc_cos").desc(), F.col("centroid_id").asc()
    )
    cent = centroids.withColumn("_cent_norm", l2_norm_expr("centroid", EMBEDDING_DIM))
    cols = ["query_id", "q_vec", "q_norm", "centroid_id"]
    return (
        q.join(F.broadcast(cent))
        .select(
            *cols,
            (
                dot_expr("q_vec", "centroid", EMBEDDING_DIM)
                / (F.col("q_norm") * F.col("_cent_norm"))
            ).alias("qc_cos"),
        )
        .withColumn("pr", F.row_number().over(probe_rank))
        .filter(F.col("pr") <= nprobe)
        .select(*cols, *(["pr"] if keep_rank else []))
    )


def ivf_probe(
    centroids: DataFrame,
    assignments: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = IVF_NPROBE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe a built IVF index: each query ranks only the vectors in its
    ``nprobe`` nearest centroids' buckets — an equi-join on centroid_id
    against the inverted file, scanning ~nprobe/nlist of the corpus."""
    probes = _probe_buckets(centroids, queries, nprobe, id_col, vec_col)

    # corpus-side norm once per inverted-file row, before the probe join
    inv = assignments.withColumn("c_norm", l2_norm_expr("cv", EMBEDDING_DIM))
    # round-ok: cosine — the norm product passes through correctly-rounded
    # sqrt of non-square rationals, so no exact decimal midpoint exists
    cos = F.round(
        dot_expr("q_vec", "cv", EMBEDDING_DIM) / (F.col("q_norm") * F.col("c_norm")), 6
    )
    rank = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    # probes is queries × nprobe rows — always the broadcast side. Without
    # the hint Spark may plan a shuffle join on centroid_id, whose
    # cardinality is only nlist: the inverted file (the 100 TB side) would
    # collapse onto nlist reducers. Broadcasting the probe set streams the
    # inverted file in place with its partition pruning intact.
    return (
        F.broadcast(probes).join(inv, "centroid_id")
        .filter(F.col("query_id") != F.col("vid"))
        .select(
            "query_id", F.col("vid").alias("neighbor_id"), cos.alias("cosine")
        )
        .withColumn("rk", F.row_number().over(rank).cast("long"))
        .filter(F.col("rk") <= k)
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nlist: int | None = None,
    nprobe: int = IVF_NPROBE,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) index: build + probe in
    one call. For repeated query sets build once with ``ivf_build`` and
    probe many times with ``ivf_probe`` — the build (k-means + assignment)
    dominates cost and amortizes to zero. The build is the session-shared
    one (``ivf_build_cached``), so other consumers of the same corpus
    (semantic dedup, retrieval) reuse it."""
    centroids, assignments = ivf_build_cached(corpus, nlist, iters, id_col, vec_col)
    return ivf_probe(centroids, assignments, queries, k, nprobe, id_col, vec_col)


def ivf_add(
    centroids: DataFrame,
    assignments: DataFrame,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Append a batch of new vectors to an existing inverted file WITHOUT
    retraining — the daily-ingest shape of ANN index maintenance (faiss
    ``add`` after ``train``): assign only the new batch against the frozen
    centroids (one Arrow pass over the batch, nothing touches the stored
    corpus) and union it with the existing file. Returns the extended
    assignments; persist with ``ivf_save`` (appending only the new
    centroid_id partitions). Retrain (``ivf_build``) only when drift makes
    probe recall sag — the centroids, not the file, go stale.
    """
    batch = new_vectors.select(
        F.col(id_col).alias("vid"), F.col(vec_col).alias("cv")
    )
    return assignments.unionByName(_assign(batch, centroids))


def ivf_save(centroids: DataFrame, assignments: DataFrame, path: str) -> None:
    """Persist a built IVF index: tiny centroid table + the inverted file
    PARTITIONED BY centroid_id — a probe with nprobe=4 over nlist=1024
    then reads 4/1024 of the corpus *directories*, not a filtered full
    scan: partition pruning does the bucket selection at the storage
    layer, which is the point of an inverted file at 100 TB."""
    centroids.write.mode("overwrite").parquet(f"{path}/centroids")
    assignments.write.mode("overwrite").partitionBy("centroid_id").parquet(
        f"{path}/assignments"
    )


def ivf_load(spark, path: str) -> tuple[DataFrame, DataFrame]:
    """Load a persisted IVF index → (centroids, assignments), probe-ready."""
    return (
        spark.read.parquet(f"{path}/centroids"),
        spark.read.parquet(f"{path}/assignments"),
    )


def pq_save(codebooks: DataFrame, codes: DataFrame, path: str) -> None:
    """Persist the PQ half of a deployed IVFPQ index (the ``ivf_save``
    shape for the compression tier): the tiny codebook table plus the
    m-byte codes PARTITIONED BY centroid_id. Together with the
    ``ivf_save`` centroids this is the complete on-disk artifact a
    deployment ships to query nodes — the ADC probe reads
    nprobe/nlist code *directories* (partition pruning does bucket
    selection at the storage layer, exactly as for the float inverted
    file) and the codebooks are KBs that ride the task closure. Train
    once, encode once, probe from the frozen artifact everywhere — the
    faiss write_index/read_index lifecycle, like ``bpe_save`` for the
    text tier."""
    codebooks.write.mode("overwrite").parquet(f"{path}/codebooks")
    codes.write.mode("overwrite").partitionBy("centroid_id").parquet(
        f"{path}/codes"
    )


def pq_load(spark, path: str) -> tuple[DataFrame, DataFrame]:
    """Load persisted PQ artifacts → (codebooks, codes), probe-ready for
    ``pq_adc_probe`` / ``pq_residual_adc_probe`` against the matching
    ``ivf_load`` geometry."""
    return (
        spark.read.parquet(f"{path}/codebooks"),
        spark.read.parquet(f"{path}/codes"),
    )


#: semantic-dedup pair threshold for the registered query. Production
#: SemDeDup prunes at tight cosine (≥0.9) on real embedding spaces; the
#: synthetic test corpus has no pairs above 0.5, so the registered query
#: uses the same 0.35 the embedding near-dup family uses. The operator
#: takes the threshold as a parameter either way.
SEMANTIC_THRESHOLD = 0.35


def semantic_dedup(
    embeddings: DataFrame,
    threshold: float = SEMANTIC_THRESHOLD,
    nlist: int | None = None,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_iterations: int = 10,
    quantizer_corpus: DataFrame | None = None,
) -> DataFrame:
    """Semantic (embedding-cluster) dedup, SemDeDup-shaped (Abbas et al.
    2023): bucket the corpus by the IVF coarse quantizer's nearest
    centroid, compute cosine pairs ONLY within each bucket, connect the
    pair graph, and keep one survivor (the lowest id) per semantic
    cluster.

    The 100 TB shape: candidate volume is Σ bucket² instead of corpus² —
    the same inverted-file pruning the ANN probe uses, reused as a dedup
    blocker; everything downstream of assignment is equi-join + the
    bounded label-propagation loop of ``dedup.connected_components``.
    Output is a disposition for EVERY input vector: (vec_id, cluster_id,
    keep) with cluster_id = smallest reachable id (own id when unpaired).

    Oracle-checkable end to end because the quantizer is deterministic:
    the DuckDB twin folds the trained centroids in as literals (the
    ``ann_ivf_topk`` trick) and replays assignment, in-bucket pairing,
    and min-label closure (recursive CTE).
    """
    from .dedup import connected_components

    # quantizer + assignment come from the session-shared IVF build (same
    # corpus, same params ⇒ bit-identical to a private build — the
    # quantizer is deterministic); ANN top-k and retrieval reuse it.
    # ``quantizer_corpus`` lets a SUBSET dedup (e.g. the funnel's stage 3
    # over earlier-stage survivors) block with the full-corpus quantizer:
    # a quantizer is a corpus-level blocking artifact, not a model of the
    # subset, and per-vector assignment is independent — restricting the
    # shared inverted file to the subset's ids is identical to assigning
    # the subset privately against the same centroids. At 100 TB that is
    # "read the persisted index", never "retrain per pipeline stage".
    if quantizer_corpus is None:
        _centroids, assigned = ivf_build_cached(
            embeddings, nlist, iters, id_col, vec_col
        )
    else:
        _centroids, assigned_full = ivf_build_cached(
            quantizer_corpus, nlist, iters, id_col, vec_col
        )
        assigned = assigned_full.join(
            embeddings.select(F.col(id_col).alias("vid")), "vid", "left_semi"
        )
    # In-bucket pairing as ONE Arrow pass grouped by centroid: each bucket
    # arrives as a pandas frame (bucket size ≈ corpus/nlist by
    # construction — the quantizer exists to bound it), and all of its
    # pairwise cosines come out of vectorized dimension-order folds
    # (_seq_dot/_seq_norms), bit-identical to the SQL expression form the
    # oracle replays. The previous self-join on centroid_id shipped two
    # 64-double arrays through every candidate pair row and evaluated a
    # 64-term expression per pair — measured 4.1 s at sf0.1 vs ~0.4 s for
    # this grouped scan; at scale it shuffled the vector payload twice.
    def bucket_pairs(pdf):
        if len(pdf) < 2:
            return pd.DataFrame({"doc_a": [], "doc_b": []}).astype("int64")
        ids = pdf["vid"].to_numpy()
        M = np.array(pdf["cv"].tolist(), dtype=np.float64)
        norms = _seq_norms(M)
        cos = _round_half_away(_seq_dot(M, M) / np.outer(norms, norms), 6)
        ai, bi = np.nonzero((cos >= threshold) & (ids[:, None] < ids[None, :]))
        return pd.DataFrame({"doc_a": ids[ai], "doc_b": ids[bi]})

    pairs = assigned.groupBy("centroid_id").applyInPandas(
        bucket_pairs, "doc_a long, doc_b long"
    )
    labels = connected_components(pairs, max_iterations).withColumnRenamed(
        "doc_id", "vec_id"
    )
    return (
        embeddings.select(F.col(id_col).alias("vec_id"))
        .join(labels, "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce("cluster_id", F.col("vec_id")).cast("long").alias("cluster_id"),
            (F.coalesce("cluster_id", F.col("vec_id")) == F.col("vec_id")).alias("keep"),
        )
    )


def embedding_quantize(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 quantization of the embedding column —
    the storage-scale path for billion-vector ANN corpora (4× smaller
    than float32, 8× smaller than float64; faiss SQ8 shape): per vector,
    ``scale = max|x| / 127`` and ``q_i = round(x_i / scale)`` ∈ [-127,127],
    plus the per-vector reconstruction MSE so a pipeline can gate on
    quantization loss.

    Scan-only plan: higher-order array expressions, no shuffle, no
    Python. Deterministic — max is order-independent, the quotient and
    HALF_UP rounding are identical in DuckDB, so the oracle reproduces
    every q_i exactly. A zero vector quantizes to zeros (scale 0 guard).

    Output: (id, scale double, qvec array<int>, mse double) — raw
    precision; the registered query rounds for the gate.
    """
    d = "double"
    absmax = F.array_max(
        F.transform(F.col(vec_col), lambda x: F.abs(x.cast(d)))
    )
    df = embeddings.select(
        F.col(id_col), F.col(vec_col), (absmax / F.lit(127.0)).alias("__sc")
    )
    qvec = F.transform(
        F.col(vec_col),
        lambda x: F.when(
            # round-ok: quantizer-grid rounding at scale 0 — a half-integer x/sc is
            # the quantizer's own bucket boundary; both engines evaluate the
            # identical double DAG, and the scale constant is itself double-derived
            F.col("__sc") > 0, F.round(x.cast(d) / F.col("__sc"), 0)
        )
        .otherwise(F.lit(0.0))
        .cast("int"),
    )
    qdf = df.select(id_col, vec_col, "__sc", qvec.alias("qvec"))
    err = F.zip_with(
        F.col(vec_col),
        F.col("qvec"),
        lambda x, qv: (x.cast(d) - qv.cast(d) * F.col("__sc"))
        * (x.cast(d) - qv.cast(d) * F.col("__sc")),
    )
    mse = F.aggregate(err, F.lit(0.0), lambda a, v: a + v) / F.size(
        F.col(vec_col)
    )
    return qdf.select(
        id_col,
        F.col("__sc").alias("scale"),
        "qvec",
        mse.alias("mse"),
    )


#: product-quantization geometry: PQ_M sub-quantizers over
#: EMBEDDING_DIM/PQ_M-dim sub-vectors, PQ_KSUB codewords each. Codes are
#: PQ_M small ints per vector (4 bits each at ksub=16) — a ~128× cut vs
#: the float64 corpus, the next faiss deployment tier after SQ8's 8×.
PQ_M = 8
PQ_KSUB = 16


def _seq_sqdist(A: "np.ndarray", C: "np.ndarray") -> "np.ndarray":
    """All-pairs squared L2 distances accumulated dimension-by-dimension
    in index order — the same IEEE left-fold chain the DuckDB oracle's
    ``(a[i]-c[i])² + …`` expression computes, so nearest-codeword
    assignment ties out bit-for-bit (cf. ``_seq_dot``)."""
    acc = np.zeros((A.shape[0], C.shape[0]))
    for i in range(A.shape[1]):
        d = A[:, i, None] - C[None, :, i]
        acc += d * d
    return acc


def _lloyd_l2(V: "np.ndarray", k: int, iters: int) -> tuple["np.ndarray", "np.ndarray"]:
    """Deterministic Lloyd under squared-L2 (PQ sub-quantizers train on
    L2, unlike the cosine coarse quantizer): seeds are the first ``k``
    sample rows, argmin ties break to the lowest codeword index, empty
    cells drop — the ``_lloyd`` contract with the PQ metric."""
    n_seed = min(k, len(V))
    C = V[:n_seed].copy()
    ids = np.arange(n_seed, dtype=np.int64)
    for _ in range(iters):
        a = _seq_sqdist(V, C).argmin(axis=1)
        keep, new_c = [], []
        for j in range(len(C)):
            members = V[a == j]
            if len(members):
                keep.append(j)
                new_c.append(members.mean(axis=0))
        C = np.array(new_c)
        ids = ids[keep]
    return ids, C


def _pq_train_np(
    V: "np.ndarray", m: int = PQ_M, ksub: int = PQ_KSUB, iters: int = 3
) -> list[tuple["np.ndarray", "np.ndarray"]]:
    """Train the ``m`` sub-quantizer codebooks on an already-ordered
    sample matrix — one ``_lloyd_l2`` per contiguous sub-vector slice.
    Factored out (like ``_lloyd``) so the DuckDB oracle builder trains
    bit-identical codebooks from the identically-ordered parquet sample
    and folds them into SQL as literals."""
    if V.shape[1] % m:
        raise ValueError(f"dim {V.shape[1]} not divisible by m={m}")
    dsub = V.shape[1] // m
    return [
        _lloyd_l2(V[:, s * dsub : (s + 1) * dsub], ksub, iters)
        for s in range(m)
    ]


def pq_train(
    embeddings: DataFrame,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_cap: int = IVF_TRAIN_CAP,
) -> DataFrame:
    """Train product-quantization codebooks on the same deterministic
    hash-ordered sample the IVF coarse quantizer trains on (one
    TakeOrdered pass; Lloyd runs driver-side on m × ksub × dsub doubles —
    a few KB). Returns (subspace, code_id, codeword array<double>) —
    m·ksub rows, always broadcastable; at 100 TB this is the persisted
    artifact every encode task ships in its closure, exactly like the
    faiss ``ProductQuantizer`` object."""
    rows = (
        embeddings.select(
            F.col(id_col).alias("vid"),
            F.col(vec_col).alias("v"),
            hex_hash64(F.col(id_col).cast("string")).alias("h"),
        )
        .orderBy("h", "vid")
        .limit(train_cap)
        .collect()
    )
    spark = embeddings.sparkSession
    schema = "subspace long, code_id long, codeword array<double>"
    if not rows:
        return spark.createDataFrame([], schema)
    V = np.array([r.v for r in rows], dtype=np.float64)
    books = _pq_train_np(V, m, ksub, iters)
    return spark.createDataFrame(
        [
            (int(s), int(cid), [float(x) for x in cw])
            for s, (ids, C) in enumerate(books)
            for cid, cw in zip(ids, C)
        ],
        schema,
    )


def pq_encode(
    embeddings: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector to its ``m`` nearest sub-codeword ids — one
    Arrow ``mapInPandas`` pass with the (tiny) codebooks in the task
    closure: no join, no shuffle, the encode streams off the scan at any
    corpus size (the ``_assign`` pattern). Nearest is sequential-fold
    squared L2 with ties to the lowest code id — bit-identical to the
    oracle's expression replay. Output: (id_col, codes array<int>)."""
    books = _collect_codebooks(codebooks)
    dsub = books[0][1].shape[1]

    def encode_batches(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            parts = [
                ids[_seq_sqdist(V[:, s * dsub : (s + 1) * dsub], C).argmin(axis=1)]
                for s, (ids, C) in enumerate(books)
            ]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "codes": [
                        [int(parts[s][r]) for s in range(len(books))]
                        for r in range(len(V))
                    ],
                }
            )

    return embeddings.select(id_col, vec_col).mapInPandas(
        encode_batches, f"{id_col} long, codes array<int>"
    )


#: driver-side memo of COLLECTED frozen artifacts (codebook LUTs, centroid
#: matrices), keyed on the DataFrame object's identity. A serving node holds
#: these tables in RAM for the process lifetime instead of re-fetching them
#: per request; re-collecting them at every probe CONSTRUCTION measured
#: ~1-2 s of pure driver latency per query at sf0.1 — 10x the probe's own
#: execution. Identity keying cannot alias two different artifacts, and the
#: shared-relation cache (functions/dfcache.py) hands every consumer the
#: SAME DataFrame object, so the in-session serving path hits this memo.
#: WeakKey: entries die with their DataFrame, never pinning a closed session.
_ARTIFACT_MEMO: "weakref.WeakKeyDictionary" = None  # type: ignore[assignment]


def _memo_collect(df: DataFrame, kind: str, build):
    global _ARTIFACT_MEMO
    if _ARTIFACT_MEMO is None:
        import weakref

        _ARTIFACT_MEMO = weakref.WeakKeyDictionary()
    try:
        per_df = _ARTIFACT_MEMO.get(df)
    except TypeError:  # un-weakref-able object: just build
        return build()
    if per_df is None:
        per_df = {}
        _ARTIFACT_MEMO[df] = per_df
    if kind not in per_df:
        per_df[kind] = build()
    return per_df[kind]


def _collect_codebooks(codebooks: DataFrame) -> list[tuple["np.ndarray", "np.ndarray"]]:
    """(code_ids, codeword matrix) per subspace, in subspace order.
    Memoized per DataFrame object — the artifact is frozen by contract
    (trained codebooks never change under a given object)."""
    return _memo_collect(codebooks, "books", lambda: _collect_codebooks_once(codebooks))


def _collect_codebooks_once(codebooks: DataFrame) -> list[tuple["np.ndarray", "np.ndarray"]]:
    rows = codebooks.orderBy("subspace", "code_id").collect()
    out: dict[int, tuple[list, list]] = {}
    for r in rows:
        out.setdefault(int(r.subspace), ([], []))
        out[int(r.subspace)][0].append(int(r.code_id))
        out[int(r.subspace)][1].append(list(r.codeword))
    return [
        (np.array(out[s][0], dtype=np.int64), np.array(out[s][1], dtype=np.float64))
        for s in sorted(out)
    ]


def pq_reconstruct(
    codes: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
) -> DataFrame:
    """Decode PQ codes back to approximate vectors (codeword
    concatenation) — the probe-side dequantization. Same closure-shipped
    Arrow pass as the encode; no join against the code table's size.
    Output: (id_col, rv array<double>)."""
    books = _collect_codebooks(codebooks)
    lut = [
        {int(i): C[j] for j, i in enumerate(ids)} for ids, C in books
    ]

    def decode_batches(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "rv": [
                        [float(x) for s, c in enumerate(cs) for x in lut[s][c]]
                        for cs in pdf["codes"]
                    ],
                }
            )

    return codes.select(id_col, "codes").mapInPandas(
        decode_batches, f"{id_col} long, rv array<double>"
    )


def ivf_pq_recall(
    embeddings: DataFrame,
    query_mod: int = 50,
    k: int = 5,
    nlist: int | None = None,
    nprobe: int = IVF_NPROBE,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
) -> DataFrame:
    """Probe quality of the product-quantized inverted file — the faiss
    IVFPQ deployment shape, graded exactly like ``ivf_sq8_recall``: the
    coarse quantizer and bucket layout are the float index's (compression
    changes stored codes, not geometry), the inverted file stores m-byte
    PQ codes (~128× smaller than float64 — the tier past SQ8's 8×),
    queries stay float, in-bucket ranking runs on reconstructed vectors,
    and the report compares the PQ probe's top-k against the float
    probe's top-k from the SAME index, plus the decimal-summed
    reconstruction MSE. Deterministic end to end (sample-trained
    codebooks, fold-chain distances, lowest-id ties) — recall itself is
    oracle-checked with the codebooks folded into SQL as literals.

    Output (1 row): n_queries, k, n_float, n_overlap, recall, mean_mse.
    """
    d = "double"
    centroids, assignments = ivf_build_cached(embeddings, nlist)
    queries = embeddings.filter(F.col("vec_id") % query_mod == 0)
    top_f = float_topf_cached(
        embeddings, centroids, assignments, query_mod, k, nprobe
    )

    books, codes = pq_codes_cached(embeddings, m, ksub)
    recon = pq_reconstruct(codes, books)
    inv_pq = assignments.select("vid", "centroid_id").join(
        recon.select(F.col("vec_id").alias("vid"), F.col("rv").alias("cv")),
        "vid",
    )
    top_q = ivf_probe(centroids, inv_pq, queries, k, nprobe)

    overlap = top_f.select("query_id", "neighbor_id").join(
        top_q.select("query_id", "neighbor_id"),
        ["query_id", "neighbor_id"],
        "left_semi",
    )
    # per-vector MSE between original and reconstruction: left-fold over
    # dims (zip_with + aggregate — the JVM chain), rounded then summed in
    # DECIMAL for order-independence, like ivf_sq8_recall's mean_mse
    err = F.zip_with(
        F.col("embedding"),
        F.col("rv"),
        lambda x, r: (x.cast(d) - r) * (x.cast(d) - r),
    )
    mse = F.aggregate(err, F.lit(0.0), lambda a, v: a + v) / F.size(
        F.col("embedding")
    )
    ms = (
        embeddings.select("vec_id", "embedding")
        .join(recon, "vec_id")
        .select(F.round(mse, 6).cast("decimal(18,6)").alias("m"))
        .agg((F.sum("m") / F.count(F.lit(1))).alias("mean_mse"))
    )
    base = top_f.agg(
        F.count_distinct("query_id").cast("long").alias("n_queries"),
        F.count(F.lit(1)).cast("long").alias("n_float"),
    )
    hits = overlap.agg(F.count(F.lit(1)).cast("long").alias("n_overlap"))
    return (
        base.crossJoin(hits)
        .crossJoin(ms)
        .select(
            "n_queries",
            F.lit(k).cast("long").alias("k"),
            "n_float",
            "n_overlap",
            iround_ratio(F.col("n_overlap"), F.col("n_float"), 6).alias("recall"),
            F.round(F.col("mean_mse").cast(d), 9).alias("mean_mse"),
        )
    )


def _centroid_matrix(centroids: DataFrame) -> tuple["np.ndarray", dict]:
    """(id-ordered centroid matrix, id → row index) for closure shipping.
    Memoized per DataFrame object like ``_collect_codebooks`` — a trained
    quantizer is frozen for the lifetime of its object."""

    def build():
        rows = centroids.orderBy("centroid_id").collect()
        C = np.array([r.centroid for r in rows], dtype=np.float64)
        idx = {int(r.centroid_id): i for i, r in enumerate(rows)}
        return C, idx

    return _memo_collect(centroids, "cent", build)


def pq_train_residual(
    embeddings: DataFrame,
    centroids: DataFrame,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_cap: int = IVF_TRAIN_CAP,
) -> DataFrame:
    """Train PQ codebooks on RESIDUALS (vector − its nearest coarse
    centroid) — the actual faiss IVFPQ formulation: within a bucket the
    residuals cluster far tighter than the raw vectors, so the same
    m × ksub code budget spends its resolution where the bucket actually
    varies, buying recall at identical storage. Assignment uses the same
    fold-chain cosine as the inverted file (``_assign``), ties to the
    lowest centroid id, so the oracle re-derives identical residuals."""
    rows = (
        embeddings.select(
            F.col(id_col).alias("vid"),
            F.col(vec_col).alias("v"),
            hex_hash64(F.col(id_col).cast("string")).alias("h"),
        )
        .orderBy("h", "vid")
        .limit(train_cap)
        .collect()
    )
    spark = embeddings.sparkSession
    schema = "subspace long, code_id long, codeword array<double>"
    if not rows:
        return spark.createDataFrame([], schema)
    V = np.array([r.v for r in rows], dtype=np.float64)
    C, _idx = _centroid_matrix(centroids)
    # the _assign arithmetic: fold-chain cosines, argmax ties to the
    # first (lowest-id) centroid — bit-identical to the inverted file
    cos = _seq_dot(V, C) / np.outer(_seq_norms(V), _seq_norms(C))
    R = V - C[cos.argmax(axis=1)]
    books = _pq_train_np(R, m, ksub, iters)
    return spark.createDataFrame(
        [
            (int(s), int(cid), [float(x) for x in cw])
            for s, (ids, Cb) in enumerate(books)
            for cid, cw in zip(ids, Cb)
        ],
        schema,
    )


def pq_encode_residual(
    assignments: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
) -> DataFrame:
    """Encode each inverted-file vector's RESIDUAL against its own
    bucket's centroid — input is the (vid, centroid_id, cv) assignments
    so the bucket assignment is exactly the index's, never recomputed.
    Same closure-shipped single Arrow pass as ``pq_encode``.
    Output: (vec_id, centroid_id, codes array<int>)."""
    books = _collect_codebooks(codebooks)
    dsub = books[0][1].shape[1]
    C, idx = _centroid_matrix(centroids)

    def encode_batches(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array(pdf["cv"].tolist(), dtype=np.float64)
            rows_c = np.array([idx[int(c)] for c in pdf["centroid_id"]])
            R = V - C[rows_c]
            parts = [
                ids[_seq_sqdist(R[:, s * dsub : (s + 1) * dsub], Cb).argmin(axis=1)]
                for s, (ids, Cb) in enumerate(books)
            ]
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vid"],
                    "centroid_id": pdf["centroid_id"],
                    "codes": [
                        [int(parts[s][r]) for s in range(len(books))]
                        for r in range(len(V))
                    ],
                }
            )

    return assignments.select("vid", "centroid_id", "cv").mapInPandas(
        encode_batches, "vec_id long, centroid_id long, codes array<int>"
    )


def ivf_pq_residual_recall(
    embeddings: DataFrame,
    query_mod: int = 50,
    k: int = 5,
    nlist: int | None = None,
    nprobe: int = IVF_NPROBE,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
) -> DataFrame:
    """Recall of the RESIDUAL-coded PQ probe vs the float probe of the
    same shared index — the report that shows what residual encoding
    buys over ``ivf_pq_recall``'s raw-vector codes at identical storage.
    Candidates are reconstructed as centroid + decoded residual (a JVM
    ``zip_with`` add — no extra Python) and ranked by the standard
    probe. Deterministic throughout; oracle-checked with centroids AND
    residual codebooks folded into SQL.

    Output (1 row): n_queries, k, n_float, n_overlap, recall, mean_mse.
    """
    d = "double"
    centroids, assignments = ivf_build_cached(embeddings, nlist)
    queries = embeddings.filter(F.col("vec_id") % query_mod == 0)
    top_f = float_topf_cached(
        embeddings, centroids, assignments, query_mod, k, nprobe
    )

    books, codes = pq_residual_codes_cached(
        embeddings, centroids, assignments, m, ksub
    )
    r_hat = pq_reconstruct(codes, books)  # decoded residuals
    # candidate vector = its bucket centroid + decoded residual
    recon = (
        codes.select("vec_id", "centroid_id")
        .join(r_hat, "vec_id")
        .join(F.broadcast(centroids), "centroid_id")
        .select(
            "vec_id",
            "centroid_id",
            F.zip_with(
                "centroid", "rv", lambda c, r: c + r
            ).alias("cv"),
        )
    )
    inv_pq = recon.select(F.col("vec_id").alias("vid"), "centroid_id", "cv")
    top_q = ivf_probe(centroids, inv_pq, queries, k, nprobe)

    overlap = top_f.select("query_id", "neighbor_id").join(
        top_q.select("query_id", "neighbor_id"),
        ["query_id", "neighbor_id"],
        "left_semi",
    )
    err = F.zip_with(
        F.col("embedding"),
        F.col("cv"),
        lambda x, r: (x.cast(d) - r) * (x.cast(d) - r),
    )
    mse = F.aggregate(err, F.lit(0.0), lambda a, v: a + v) / F.size(
        F.col("embedding")
    )
    ms = (
        embeddings.select("vec_id", "embedding")
        .join(recon.select("vec_id", "cv"), "vec_id")
        .select(F.round(mse, 6).cast("decimal(18,6)").alias("m"))
        .agg((F.sum("m") / F.count(F.lit(1))).alias("mean_mse"))
    )
    base = top_f.agg(
        F.count_distinct("query_id").cast("long").alias("n_queries"),
        F.count(F.lit(1)).cast("long").alias("n_float"),
    )
    hits = overlap.agg(F.count(F.lit(1)).cast("long").alias("n_overlap"))
    return (
        base.crossJoin(hits)
        .crossJoin(ms)
        .select(
            "n_queries",
            F.lit(k).cast("long").alias("k"),
            "n_float",
            "n_overlap",
            iround_ratio(F.col("n_overlap"), F.col("n_float"), 6).alias("recall"),
            F.round(F.col("mean_mse").cast(d), 9).alias("mean_mse"),
        )
    )


def hard_negatives(
    embeddings: DataFrame,
    k: int = 5,
    candidate_pad: int = 5,
    query_mod: int = 50,
    near_threshold: float = 0.35,
    nlist: int | None = None,
    nprobe: int = IVF_NPROBE,
) -> DataFrame:
    """Hard-negative mining for contrastive training: per query vector,
    the top-``k`` most-similar neighbors that are NOT near-duplicates —
    similar enough to be hard, distinct enough to be true negatives (the
    standard retrieval-training recipe: ANN candidates minus the dup
    set).

    Pure composition of the engine's shared artifacts — which is the
    point: candidates come from the session-shared IVF index
    (partition-pruned probe, over-fetched by ``candidate_pad`` so the
    exclusion cannot starve the top-k), the exclusion set is the
    LSH-bucketed near-dup pair list (same blocking the dedup tier uses,
    no new all-pairs work), the anti-join is a broadcast of the
    (queries-touching) pair subset, and the final re-rank is a bounded
    window over ≤ k+pad rows per query. Nothing here scans the corpus
    beyond what the index probe already prunes.

    Output: (query_id, neighbor_id, cosine, rk) with rk ≤ k.
    """
    centroids, assignments = ivf_build_cached(embeddings, nlist)
    queries = embeddings.filter(F.col("vec_id") % query_mod == 0)
    cands = ivf_probe(
        centroids, assignments, queries, k + candidate_pad, nprobe
    ).drop("rk")
    near = embedding_near_dup_pairs(embeddings, threshold=near_threshold)
    ex = near.select(
        F.col("vec_a").alias("query_id"), F.col("vec_b").alias("neighbor_id")
    ).unionByName(
        near.select(
            F.col("vec_b").alias("query_id"),
            F.col("vec_a").alias("neighbor_id"),
        )
    )
    kept = cands.join(ex, ["query_id", "neighbor_id"], "left_anti")
    rank = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return kept.withColumn(
        "rk", F.row_number().over(rank).cast("long")
    ).filter(F.col("rk") <= k)


def pq_codes_cached(
    embeddings: DataFrame,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """(codebooks, codes) memoized per (session, canonical corpus plan,
    geometry) in the shared relation cache — the PQ twin of
    ``ivf_build_cached``: the plain-PQ recall report and the ADC probe
    consume the same deterministic artifacts, so they share ONE train +
    encode. Codes are persist-backed; the codebooks are a driver-built
    LocalRelation (m·ksub rows)."""
    from ..functions.dfcache import memo, persist_df

    def build() -> tuple[DataFrame, DataFrame]:
        books = pq_train(embeddings, m, ksub, id_col=id_col, vec_col=vec_col)
        return books, persist_df(pq_encode(embeddings, books, id_col, vec_col))

    try:
        key = (
            "pq",
            embeddings.sparkSession,
            embeddings.select(id_col, vec_col).semanticHash(),
            m,
            ksub,
        )
    except Exception:
        return build()
    return memo(embeddings.sparkSession, key, build)


def pq_residual_codes_cached(
    embeddings: DataFrame,
    centroids: DataFrame,
    assignments: DataFrame,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
) -> tuple[DataFrame, DataFrame]:
    """(residual codebooks, residual codes) memoized like
    ``pq_codes_cached`` — keyed additionally on the IVF geometry the
    residuals are taken against (same corpus + same nlist ⇒ same
    centroids ⇒ identical artifacts)."""
    from ..functions.dfcache import memo, persist_df

    def build() -> tuple[DataFrame, DataFrame]:
        books = pq_train_residual(embeddings, centroids, m, ksub)
        return books, persist_df(
            pq_encode_residual(assignments, centroids, books)
        )

    try:
        # the residual artifacts depend on WHICH centroids the residuals
        # are taken against, so the key pins the centroid relation's
        # canonical plan — two quantizers over the same corpus (different
        # nlist, or a foreign corpus's centroids) never alias
        key = (
            "pqr",
            embeddings.sparkSession,
            embeddings.select("vec_id", "embedding").semanticHash(),
            centroids.select("centroid_id", "centroid").semanticHash(),
            m,
            ksub,
        )
    except Exception:
        return build()
    return memo(embeddings.sparkSession, key, build)


def pq_adc_probe(
    centroids: DataFrame,
    assignments: DataFrame,
    codes: DataFrame,
    codebooks: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = IVF_NPROBE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe the PQ-coded inverted file by ASYMMETRIC distance
    computation — the actual faiss IVFPQ scan: per query, precompute a
    lookup table of per-subspace partial dot products against every
    codeword (m × ksub floats), then score each candidate with m table
    lookups — the candidate's float vector is NEVER reconstructed, so
    the ranking path touches only the m-byte codes. Candidate norms come
    from a query-independent codeword-norm table the same way, making
    cosine two LUT folds + one sqrt per candidate.

    Plan: bucket selection as in ``ivf_probe`` (broadcast centroid rank,
    partition-pruned equi-join on centroid_id against the code file),
    carrying each query's vector through the join exactly as ``ivf_probe``
    does; one Arrow pass over the joined candidates builds the per-query
    dot LUTs IN the task (vectorized ``_seq_dot`` over the batch's
    distinct queries against the closure-shipped codebooks — m·ksub
    doubles, KBs, independent of query count), then scores whole batches
    with dense ``np.ndarray`` fancy-indexed LUT gathers. Queries stay
    distributed — nothing is collected to the driver, so query-set size
    is unbounded. Accumulation stays in subspace order (one vectorized
    add per subspace — each element sees the identical left-fold chain
    the scalar loop produced), so the DuckDB twin's ordered list_reduce
    reproduces every cosine bit-for-bit. Ranking ties out with the
    reconstruction probe up to float re-association between the two
    fold shapes — which is why the recall report ranks both sides with
    the SAME ADC arithmetic.
    """
    books = _collect_codebooks(codebooks)
    m = len(books)
    dsub = books[0][1].shape[1]
    # dense closure tables: code id -> codebook row (ids can be sparse
    # after empty-cell drops), padded per-subspace codeword norm² (RAW
    # left-fold sums — not a squared sqrt, for bit-parity with the SQL)
    kmax = max(len(ids) for ids, _C in books)
    idmax = max(int(ids.max()) for ids, _C in books) + 1
    posmap = np.zeros((m, idmax), dtype=np.int64)
    norm_lut = np.zeros((m, kmax))
    for s, (ids, C) in enumerate(books):
        posmap[s, ids] = np.arange(len(ids))
        norm_lut[s, : len(ids)] = _seq_sq_sums(C)

    probes = _probe_buckets(centroids, queries, nprobe, id_col, vec_col)
    cand = (
        F.broadcast(probes.select("query_id", "q_vec", "centroid_id"))
        .join(
            assignments.select("vid", "centroid_id").join(
                codes.select(F.col(id_col).alias("vid"), "codes"), "vid"
            ),
            "centroid_id",
        )
        .filter(F.col("query_id") != F.col("vid"))
        .select("query_id", "q_vec", "vid", "codes")
    )

    def score_batches(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            qids = pdf["query_id"].to_numpy()
            uq, first, qinv = np.unique(
                qids, return_index=True, return_inverse=True
            )
            Q = np.array(
                [pdf["q_vec"].iloc[i] for i in first], dtype=np.float64
            )
            q_norm = _seq_norms(Q)
            # per-distinct-query dot LUT (nq × m × ksub): the same
            # _seq_dot left folds the driver build produced per query
            dot_lut = np.zeros((len(uq), m, kmax))
            for s, (ids, C) in enumerate(books):
                dot_lut[:, s, : len(ids)] = _seq_dot(
                    Q[:, s * dsub : (s + 1) * dsub], C
                )
            CS = np.array(pdf["codes"].tolist(), dtype=np.int64)
            dot = np.zeros(len(pdf))
            rn2 = np.zeros(len(pdf))
            for s in range(m):  # subspace-order left folds
                pos = posmap[s, CS[:, s]]
                dot += dot_lut[qinv, s, pos]
                rn2 += norm_lut[s, pos]
            cos = _round_half_away(dot / (q_norm[qinv] * np.sqrt(rn2)), 6)
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"],
                    "neighbor_id": pdf["vid"],
                    "cosine": cos,
                }
            )

    scored = cand.mapInPandas(
        score_batches, "query_id long, neighbor_id long, cosine double"
    )
    rank = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn(
        "rk", F.row_number().over(rank).cast("long")
    ).filter(F.col("rk") <= k)


def pq_residual_adc_probe(
    centroids: DataFrame,
    assignments: DataFrame,
    codes: DataFrame,
    codebooks: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = IVF_NPROBE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC probe over RESIDUAL codes — the probe a production faiss
    IVFPQ actually runs: candidates are ranked from their m-byte
    residual codes and three tiny lookup tables, never reconstructed.
    Because subspaces partition the dimensions, dot(q, c + r̂) and
    |c + r̂|² decompose exactly:

        dot   = dot(q, c)            (per query × centroid — nlist entries)
              + Σ_s dot(q_s, cw_s)   (per query × subspace × codeword)
        norm² = |c|²                 (per centroid)
              + Σ_s (2·dot(c_s, cw_s) + |cw_s|²)   (per centroid × s × codeword)

    The query-independent tables are KBs (nlist + nlist·m·ksub entries)
    and ship in the task closure as dense ``np.ndarray``s; the per-query
    dot LUT and query-centroid dots are built IN the Arrow pass from the
    batch's distinct queries (vectorized ``_seq_dot`` — queries stay
    distributed, nothing collected to the driver, query-set size
    unbounded). Per candidate the scorer does 2m dense-gather lookups,
    two adds and a sqrt, batched with fancy indexing. Accumulation is
    subspace-ordered left folds (one vectorized add per subspace — each
    element sees the scalar loop's exact chain), so the DuckDB twin
    replays every cosine bit-for-bit with ordered ``list_reduce``.
    ``codes`` is ``pq_encode_residual`` output (vec_id, centroid_id,
    codes); bucket selection and the candidate equi-join are unchanged
    from ``pq_adc_probe``.
    """
    probes = _probe_buckets(centroids, queries, nprobe, id_col, vec_col)
    scored = _residual_adc_scored(probes, centroids, codes, codebooks)
    rank = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn(
        "rk", F.row_number().over(rank).cast("long")
    ).filter(F.col("rk") <= k)


def float_topf_cached(
    embeddings: DataFrame,
    centroids: DataFrame,
    assignments: DataFrame,
    query_mod: int = 50,
    k: int = 5,
    nprobe: int = IVF_NPROBE,
) -> DataFrame:
    """The float-reference probe ranking every compressed-index recall
    report grades against, memoized per (session, corpus, k, nprobe,
    query_mod) in the shared relation cache: seven reports (SQ8, PQ,
    residual-PQ, two ADC probes, refine, wide-ksub) compare their
    compressed top-k to the SAME float top-k of the SAME shared index,
    so the reference ranking is computed ONCE per session — exactly how
    a deployed grading harness amortizes its ground-truth pass across
    variants. Deterministic probe ⇒ a shared result is bit-identical to
    a private one; persist-backed, degrades to a rebuild."""
    from ..functions.dfcache import memo, persist_df

    queries = embeddings.filter(F.col("vec_id") % query_mod == 0)

    def build() -> tuple:
        return (
            persist_df(ivf_probe(centroids, assignments, queries, k, nprobe)),
        )

    try:
        key = (
            "topf",
            embeddings.sparkSession,
            embeddings.select("vec_id", "embedding").semanticHash(),
            centroids.select("centroid_id", "centroid").semanticHash(),
            query_mod,
            k,
            nprobe,
        )
    except Exception:
        return ivf_probe(centroids, assignments, queries, k, nprobe)
    return memo(embeddings.sparkSession, key, build)[0]


def _residual_adc_scored(
    probes: DataFrame,
    centroids: DataFrame,
    codes: DataFrame,
    codebooks: DataFrame,
    carry: tuple = (),
) -> DataFrame:
    """The residual-ADC candidate scorer shared by ``pq_residual_adc_probe``
    and the nprobe sweep: scores every candidate in the probed buckets
    from its m-byte codes via the subspace decomposition (see the probe's
    docstring for the arithmetic), UNRANKED, carrying any extra probe
    columns (``carry``) through to the output. ``probes`` must provide
    (query_id, q_vec, centroid_id, *carry)."""
    cand = (
        F.broadcast(probes.select("query_id", "q_vec", "centroid_id", *carry))
        .join(
            codes.select(
                F.col("vec_id").alias("vid"), "centroid_id", "codes"
            ),
            "centroid_id",
        )
        .filter(F.col("query_id") != F.col("vid"))
        .select("query_id", "q_vec", "vid", "centroid_id", "codes", *carry)
    )
    return _adc_score_cand(cand, centroids, codebooks, carry)


def _adc_score_cand(
    cand: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    carry: tuple = (),
) -> DataFrame:
    """The Arrow scoring pass of ``_residual_adc_scored`` over a
    PRE-JOINED candidate table (query_id, q_vec, vid, centroid_id,
    codes, *carry) — factored out so a sweep that fuses the float and
    ADC candidate enumerations into ONE table (the sets are identical:
    ``pq_encode_residual`` maps every assignments row 1:1) can score it
    in a single pass. ``carry`` columns pass through with their input
    types."""
    books = _collect_codebooks(codebooks)
    m = len(books)
    dsub = books[0][1].shape[1]
    C, cidx = _centroid_matrix(centroids)
    nlist_rows = C.shape[0]
    # dense closure tables (code ids can be sparse after empty-cell
    # drops; centroid ids likewise — both map through id -> row arrays)
    kmax = max(len(ids) for ids, _Cb in books)
    idmax = max(int(ids.max()) for ids, _Cb in books) + 1
    posmap = np.zeros((m, idmax), dtype=np.int64)
    norm_lut = np.zeros((m, kmax))
    cross = np.zeros((nlist_rows, m, kmax))  # dot(c_s, cw)
    for s, (ids, Cb) in enumerate(books):
        posmap[s, ids] = np.arange(len(ids))
        norm_lut[s, : len(ids)] = _seq_sq_sums(Cb)
        cross[:, s, : len(ids)] = _seq_dot(
            C[:, s * dsub : (s + 1) * dsub], Cb
        )
    c_norm2 = _seq_sq_sums(C)
    cmax = max(cidx) + 1
    cmap = np.zeros(cmax, dtype=np.int64)
    for cid, i in cidx.items():
        cmap[cid] = i

    def score_batches(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            qids = pdf["query_id"].to_numpy()
            uq, first, qinv = np.unique(
                qids, return_index=True, return_inverse=True
            )
            Q = np.array(
                [pdf["q_vec"].iloc[i] for i in first], dtype=np.float64
            )
            q_norm = _seq_norms(Q)
            qc_dot = _seq_dot(Q, C)  # (nq, nlist) full-dim left folds
            dot_lut = np.zeros((len(uq), m, kmax))
            for s, (ids, Cb) in enumerate(books):
                dot_lut[:, s, : len(ids)] = _seq_dot(
                    Q[:, s * dsub : (s + 1) * dsub], Cb
                )
            CS = np.array(pdf["codes"].tolist(), dtype=np.int64)
            ci = cmap[pdf["centroid_id"].to_numpy()]
            # fold the per-subspace sums FIRST, then add the
            # centroid-level terms — the association the SQL twin's
            # `qcdot + list_reduce(...)` replays exactly
            dsum = np.zeros(len(pdf))
            n2sum = np.zeros(len(pdf))
            for s in range(m):  # subspace-order left folds
                pos = posmap[s, CS[:, s]]
                dsum += dot_lut[qinv, s, pos]
                n2sum += 2.0 * cross[ci, s, pos] + norm_lut[s, pos]
            dot = qc_dot[qinv, ci] + dsum
            n2 = c_norm2[ci] + n2sum
            cos = _round_half_away(dot / (q_norm[qinv] * np.sqrt(n2)), 6)
            data = {
                "query_id": pdf["query_id"],
                "neighbor_id": pdf["vid"],
                "cosine": cos,
            }
            for c in carry:
                data[c] = pdf[c]
            yield pd.DataFrame(data)

    schema = "query_id long, neighbor_id long, cosine double" + "".join(
        f", {c} {cand.schema[c].dataType.simpleString()}" for c in carry
    )
    return cand.mapInPandas(score_batches, schema)


def ivf_pq_residual_adc_recall(
    embeddings: DataFrame,
    query_mod: int = 50,
    k: int = 5,
    nlist: int | None = None,
    nprobe: int = IVF_NPROBE,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
) -> DataFrame:
    """Recall of the residual-ADC probe (the full production IVFPQ
    combination: best-recall residual codes, LUT-only scan) against the
    float probe of the same shared index. Completes the compression ×
    probe matrix alongside ``ivf_pq_recall`` / ``ivf_pq_adc_recall`` /
    ``ivf_pq_residual_recall``; oracle-checked with centroids AND
    residual codebooks folded into SQL.

    Output (1 row): n_queries, k, n_float, n_overlap, recall.
    """
    centroids, assignments = ivf_build_cached(embeddings, nlist)
    queries = embeddings.filter(F.col("vec_id") % query_mod == 0)
    top_f = float_topf_cached(
        embeddings, centroids, assignments, query_mod, k, nprobe
    )

    books, codes = pq_residual_codes_cached(
        embeddings, centroids, assignments, m, ksub
    )
    top_adc = pq_residual_adc_probe(
        centroids, assignments, codes, books, queries, k, nprobe
    )
    overlap = top_f.select("query_id", "neighbor_id").join(
        top_adc.select("query_id", "neighbor_id"),
        ["query_id", "neighbor_id"],
        "left_semi",
    )
    base = top_f.agg(
        F.count_distinct("query_id").cast("long").alias("n_queries"),
        F.count(F.lit(1)).cast("long").alias("n_float"),
    )
    hits = overlap.agg(F.count(F.lit(1)).cast("long").alias("n_overlap"))
    return base.crossJoin(hits).select(
        "n_queries",
        F.lit(k).cast("long").alias("k"),
        "n_float",
        "n_overlap",
        iround_ratio(F.col("n_overlap"), F.col("n_float"), 6).alias("recall"),
    )


def ivf_pq_adc_recall(
    embeddings: DataFrame,
    query_mod: int = 50,
    k: int = 5,
    nlist: int | None = None,
    nprobe: int = IVF_NPROBE,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
) -> DataFrame:
    """Recall of the LUT-only ADC probe against the float probe of the
    same shared IVF index — the companion report to ``ivf_pq_recall``
    measuring the probe faiss actually runs in production (codes-only
    scan) rather than the reconstruction probe. Deterministic throughout,
    so recall is oracle-checked with codebooks folded into SQL.

    Output (1 row): n_queries, k, n_float, n_overlap, recall.
    """
    centroids, assignments = ivf_build_cached(embeddings, nlist)
    queries = embeddings.filter(F.col("vec_id") % query_mod == 0)
    top_f = float_topf_cached(
        embeddings, centroids, assignments, query_mod, k, nprobe
    )

    books, codes = pq_codes_cached(embeddings, m, ksub)
    top_adc = pq_adc_probe(
        centroids, assignments, codes, books, queries, k, nprobe
    )
    overlap = top_f.select("query_id", "neighbor_id").join(
        top_adc.select("query_id", "neighbor_id"),
        ["query_id", "neighbor_id"],
        "left_semi",
    )
    base = top_f.agg(
        F.count_distinct("query_id").cast("long").alias("n_queries"),
        F.count(F.lit(1)).cast("long").alias("n_float"),
    )
    hits = overlap.agg(F.count(F.lit(1)).cast("long").alias("n_overlap"))
    return base.crossJoin(hits).select(
        "n_queries",
        F.lit(k).cast("long").alias("k"),
        "n_float",
        "n_overlap",
        iround_ratio(F.col("n_overlap"), F.col("n_float"), 6).alias("recall"),
    )


def ivf_pq_refine_probe(
    centroids: DataFrame,
    assignments: DataFrame,
    codes: DataFrame,
    codebooks: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    refine: int = 4,
    nprobe: int = IVF_NPROBE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The deployable two-stage IVFPQ probe as a first-class serving API
    (the faiss ``IVFPQR`` search path): a ``k·refine`` residual-ADC
    shortlist from m-byte codes alone, then ONLY the shortlist rows
    fetch their float vectors from ``corpus`` (the vector store — a
    parquet table in this engine) and re-rank by exact cosine. Every
    input can come from frozen artifacts (``ivf_load`` + ``pq_load`` +
    the corpus parquet), which is how a query node serves without ever
    training or encoding — probe-equality with the in-session artifacts
    is pinned in tests/test_similarity.py. The shortlist ⋈ corpus join
    is declarative (AQE sizes the |q|·k·refine build side); the exact
    pass touches k·refine rows per query, never the probed buckets.

    Output: (query_id, neighbor_id, cosine, rk), rk ≤ k.
    """
    shortlist = pq_residual_adc_probe(
        centroids, assignments, codes, codebooks, queries, k * refine, nprobe
    )
    qn = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    ).withColumn("q_norm", l2_norm_expr("q_vec", EMBEDDING_DIM))
    nv = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("n_vec"),
    ).withColumn("n_norm", l2_norm_expr("n_vec", EMBEDDING_DIM))
    rank = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        shortlist.select("query_id", "neighbor_id")
        .join(nv, "neighbor_id")
        .join(qn, "query_id")
        .select(
            "query_id",
            "neighbor_id",
            # round-ok: cosine — the norm product passes through
            # correctly-rounded sqrt, so no exact decimal midpoint exists
            F.round(
                dot_expr("q_vec", "n_vec", EMBEDDING_DIM)
                / (F.col("q_norm") * F.col("n_norm")),
                6,
            ).alias("cosine"),
        )
        .withColumn("rk", F.row_number().over(rank).cast("long"))
        .filter(F.col("rk") <= k)
    )


def ivf_pq_refine_recall(
    embeddings: DataFrame,
    query_mod: int = 50,
    k: int = 5,
    refine: int = 4,
    nlist: int | None = None,
    nprobe: int = IVF_NPROBE,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
) -> DataFrame:
    """Two-stage refined probe (the faiss ``IVFPQR`` / re-ranking
    deployment shape): the residual-ADC probe produces a ``k·refine``
    shortlist from m-byte codes alone, then ONLY the shortlist rows
    fetch their float vectors and re-rank by exact cosine. This is how a
    production IVFPQ recovers recall without widening the code budget —
    the exact pass touches k·refine vectors per query instead of every
    candidate in the probed buckets (at nprobe/nlist of a 100 TB corpus
    that ratio is the whole game). Measured at sf0.01: recall climbs
    from the code-only 0.52 to **0.72** at refine=4 (4-bit codes) while
    the scan stays code-only; composing with ksub=256 codes (the
    deployable config — see ``queries.ann_pq_refine_ksub_recall``)
    reaches recall 1.0.

    The refine join is declarative: shortlist ⋈ corpus on neighbor_id
    (AQE sizes the build side — the shortlist is |q|·k·refine rows) and
    the cosine is the JVM fold-chain expression, so the report stays
    oracle-checkable end to end.

    Output (1 row): n_queries, k, refine, n_float, n_overlap, recall.
    """
    centroids, assignments = ivf_build_cached(embeddings, nlist)
    queries = embeddings.filter(F.col("vec_id") % query_mod == 0)
    top_f = float_topf_cached(
        embeddings, centroids, assignments, query_mod, k, nprobe
    )

    books, codes = pq_residual_codes_cached(
        embeddings, centroids, assignments, m, ksub
    )
    top_r = ivf_pq_refine_probe(
        centroids, assignments, codes, books, embeddings, queries,
        k, refine, nprobe,
    )
    overlap = top_f.select("query_id", "neighbor_id").join(
        top_r.select("query_id", "neighbor_id"),
        ["query_id", "neighbor_id"],
        "left_semi",
    )
    base = top_f.agg(
        F.count_distinct("query_id").cast("long").alias("n_queries"),
        F.count(F.lit(1)).cast("long").alias("n_float"),
    )
    hits = overlap.agg(F.count(F.lit(1)).cast("long").alias("n_overlap"))
    return base.crossJoin(hits).select(
        "n_queries",
        F.lit(k).cast("long").alias("k"),
        F.lit(refine).cast("long").alias("refine"),
        "n_float",
        "n_overlap",
        iround_ratio(F.col("n_overlap"), F.col("n_float"), 6).alias("recall"),
    )


def ann_recall_sweep(
    embeddings: DataFrame,
    nprobes: tuple[int, ...] = (2, 4, 8),
    query_mod: int = 50,
    k: int = 5,
    nlist: int | None = None,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
) -> DataFrame:
    """The nprobe tuning curve of the production (residual-ADC) probe —
    one row per swept ``nprobe``, the table an IVFPQ deployment is tuned
    from: larger nprobe scans more buckets on BOTH the float reference
    and the compressed side, so the column read together with
    ``scan_frac = nprobe/nlist`` is the recall-vs-probe-cost trade. All
    sweep points share ONE IVF build and ONE residual encode (the
    session caches); only the bucket-selection fan-out and the candidate
    scans differ, exactly like re-running a deployed index with a
    different runtime knob.

    The whole sweep costs ONE candidate pass, not len(nprobes) probe
    pairs: the float and ADC candidate sets are IDENTICAL by
    construction (``pq_encode_residual`` maps every inverted-file row
    1:1, and both sides join the same ``pr``-ranked probe buckets), so
    ONE fused candidate table carries both scores — float cosine
    attached in the JVM, ADC cosine by the single Arrow pass. Each
    sweep point's top-k on either side is then a conditional running
    count over ONE window pass (rank among rows with pr ≤ nprobe, in
    (cosine desc, neighbor asc) order, equals the running count of
    qualifying rows — membership is prefix-monotone in pr), and the
    float∩ADC overlap is a boolean AND on the same row instead of a
    join: the whole sweep is one linear pipeline with two Exchanges
    (query_id, then the 1-row reduce). Nothing is persisted — no
    subtree is read twice. (The naive 3× re-probe measured 10.4 s at
    sf0.1; the two-persist r12 shape 5.6-5.9 s.)

    Output (one row per distinct nprobe): nprobe, scan_frac, n_queries, k,
    n_float, n_overlap, recall.
    """
    # a repeated value would alias two aggregates alike
    nprobes = sorted(set(nprobes))
    np_max = nprobes[-1]
    nlist = _resolve_nlist(embeddings, nlist, "vec_id", "embedding")
    centroids, assignments = ivf_build_cached(embeddings, nlist)
    queries = embeddings.filter(F.col("vec_id") % query_mod == 0)
    books, codes = pq_residual_codes_cached(
        embeddings, centroids, assignments, m, ksub
    )
    # probe buckets ONCE at max nprobe with the bucket rank carried so
    # each sweep point can replay its own membership (pr <= nprobe)
    probes = _probe_buckets(
        centroids, queries, np_max, "vec_id", "embedding", keep_rank=True
    )
    # ONE candidate table, both scores: inverted file ⋈ codes is 1:1 on
    # vid, so the fused join enumerates the identical candidate set the
    # two former persisted tables each enumerated separately
    inv = assignments.join(
        codes.select(F.col("vec_id").alias("vid"), "codes"), "vid"
    ).withColumn("c_norm", l2_norm_expr("cv", EMBEDDING_DIM))
    # round-ok: cosine — the norm product passes through correctly-rounded
    # sqrt of non-square rationals, so no exact decimal midpoint exists
    cos_f = F.round(
        dot_expr("q_vec", "cv", EMBEDDING_DIM)
        / (F.col("q_norm") * F.col("c_norm")),
        6,
    )
    cand = (
        F.broadcast(probes)
        .join(inv, "centroid_id")
        .filter(F.col("query_id") != F.col("vid"))
        .select(
            "query_id", "q_vec", "vid", "centroid_id", "codes",
            "pr", cos_f.alias("cos_f"),
        )
    )
    scored = _adc_score_cand(cand, centroids, books, carry=("pr", "cos_f"))
    run = Window.partitionBy("query_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wf = run.orderBy(F.col("cos_f").desc(), F.col("neighbor_id").asc())
    wa = run.orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())

    def member(np_: int, w) -> F.Column:
        # rank among rows with pr <= np_ (in w's total order) == running
        # count of qualifying rows; the row itself must qualify
        q = F.col("pr") <= np_
        return q & (F.sum(q.cast("int")).over(w) <= k)

    flags = scored.select(
        "query_id",
        *[member(np_, wf).alias(f"f{np_}") for np_ in nprobes],
        *[member(np_, wa).alias(f"a{np_}") for np_ in nprobes],
    )
    # two-level aggregate: per-query partials ride the window's existing
    # query_id partitioning (no new Exchange), then one 1-row reduce
    per_q = flags.groupBy("query_id").agg(
        *[
            F.sum(F.col(f"f{np_}").cast("int")).alias(f"nf{np_}")
            for np_ in nprobes
        ],
        *[
            F.sum((F.col(f"f{np_}") & F.col(f"a{np_}")).cast("int")).alias(
                f"no{np_}"
            )
            for np_ in nprobes
        ],
    )
    tot = per_q.agg(
        *[
            F.count(F.when(F.col(f"nf{np_}") > 0, 1))
            .cast("long")
            .alias(f"nq{np_}")
            for np_ in nprobes
        ],
        *[
            F.sum(f"nf{np_}").cast("long").alias(f"tf{np_}")
            for np_ in nprobes
        ],
        *[
            F.sum(f"no{np_}").cast("long").alias(f"to{np_}")
            for np_ in nprobes
        ],
    )
    rows_ = [
        F.struct(
            F.lit(np_).cast("long").alias("nprobe"),
            # round-ok: Python-constant ratio folded at build time —
            # identical literal in both engines
            F.round(F.lit(np_ / nlist), 6).alias("scan_frac"),
            F.col(f"nq{np_}").alias("n_queries"),
            F.lit(k).cast("long").alias("k"),
            F.col(f"tf{np_}").alias("n_float"),
            F.col(f"to{np_}").alias("n_overlap"),
            iround_ratio(F.col(f"to{np_}"), F.col(f"tf{np_}"), 6).alias(
                "recall"
            ),
        )
        for np_ in nprobes
    ]
    return tot.select(F.inline(F.array(*rows_)))


def ann_refine_sweep(
    embeddings: DataFrame,
    refines: tuple[int, ...] = (1, 2, 4, 8),
    query_mod: int = 50,
    k: int = 5,
    nlist: int | None = None,
    nprobe: int = IVF_NPROBE,
    m: int = PQ_M,
    ksub: int = 256,
) -> DataFrame:
    """The refine-cost axis of the DEPLOYABLE config: recall of the
    two-stage probe (``ivf_pq_refine_recall``) at each shortlist factor
    ``refine`` ∈ {1,2,4,8}, over the 8-bit (ksub=256) residual codes —
    the last tuning table of the IVFPQ frontier: how many exact float
    fetches per query buy how much recall, at the code budget a
    deployment ships. refine=1 is the code-only floor re-ordered (same
    k-set, so recall equals the pure ADC probe's); each doubling costs
    k more float rows per query (``shortlist = k·refine``, disclosed).

    The whole sweep costs ONE probe and ONE exact pass, not
    len(refines): the ADC probe runs once at ``k·max(refines)`` with
    its rank carried (``adc_rk``), the exact cosine of every max-
    shortlist row is computed once, and each sweep point derives its
    result by filtering ``adc_rk ≤ k·refine`` before re-ranking —
    exact, because the ADC ranking is what defines every shorter
    shortlist (prefix-monotone membership, the ``ann_recall_sweep`` /
    ``minhash_recall_sweep`` argument), and a row's exact cosine is
    refine-independent. Every sweep point's re-rank is a conditional
    running count over ONE window pass (rank among rows with
    ``adc_rk ≤ k·refine`` equals the running count of qualifying rows
    in (cosine desc, neighbor asc) order), and the float-reference
    overlap is a flag attached by ONE left join instead of a semi-join
    per point — one linear pipeline, nothing persisted.

    Output (one row per distinct refine): refine, ksub, shortlist,
    n_queries, k, n_float, n_overlap, recall.
    """
    centroids, assignments = ivf_build_cached(embeddings, nlist)
    queries = embeddings.filter(F.col("vec_id") % query_mod == 0)
    top_f = float_topf_cached(
        embeddings, centroids, assignments, query_mod, k, nprobe
    )
    books, codes = pq_residual_codes_cached(
        embeddings, centroids, assignments, m, ksub
    )
    # a repeated value would alias two aggregates alike
    refines = sorted(set(refines))
    rmax = refines[-1]
    shortlist = pq_residual_adc_probe(
        centroids, assignments, codes, books, queries, k * rmax, nprobe
    )
    qn = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
    ).withColumn("q_norm", l2_norm_expr("q_vec", EMBEDDING_DIM))
    nv = embeddings.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("n_vec"),
    ).withColumn("n_norm", l2_norm_expr("n_vec", EMBEDDING_DIM))
    scored = (
        shortlist.select("query_id", "neighbor_id", F.col("rk").alias("adc_rk"))
        .join(nv, "neighbor_id")
        .join(qn, "query_id")
        .select(
            "query_id",
            "neighbor_id",
            "adc_rk",
            # round-ok: cosine — the norm product passes through
            # correctly-rounded sqrt, so no exact decimal midpoint exists
            F.round(
                dot_expr("q_vec", "n_vec", EMBEDDING_DIM)
                / (F.col("q_norm") * F.col("n_norm")),
                6,
            ).alias("cosine"),
        )
    )
    # the float-reference membership, attached ONCE: (query, neighbor)
    # is unique on both sides, so each former per-point semi-join count
    # equals counting rows where the flag AND that point's membership hold
    fref = top_f.select(
        "query_id", "neighbor_id", F.lit(True).alias("in_float")
    )
    joined = scored.join(fref, ["query_id", "neighbor_id"], "left")
    w = (
        Window.partitionBy("query_id")
        .orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )

    def member(r: int) -> F.Column:
        q = F.col("adc_rk") <= k * r
        return q & (F.sum(q.cast("int")).over(w) <= k)

    flags = joined.select(
        "in_float", *[member(r).alias(f"m{r}") for r in refines]
    )
    tot = flags.agg(
        *[
            F.count(F.when(F.col(f"m{r}") & F.col("in_float"), 1))
            .cast("long")
            .alias(f"ov{r}")
            for r in refines
        ]
    )
    base = top_f.agg(
        F.count_distinct("query_id").cast("long").alias("n_queries"),
        F.count(F.lit(1)).cast("long").alias("n_float"),
    )
    rows_ = [
        F.struct(
            F.lit(r).cast("long").alias("refine"),
            F.lit(ksub).cast("long").alias("ksub"),
            F.lit(k * r).cast("long").alias("shortlist"),
            F.col("n_queries"),
            F.lit(k).cast("long").alias("k"),
            F.col("n_float"),
            F.col(f"ov{r}").alias("n_overlap"),
            iround_ratio(F.col(f"ov{r}"), F.col("n_float"), 6).alias(
                "recall"
            ),
        )
        for r in refines
    ]
    return base.crossJoin(tot).select(F.inline(F.array(*rows_)))


def rag_retrieve(
    documents: DataFrame,
    embeddings: DataFrame,
    query_vectors: DataFrame,
    k: int = 3,
    nlist: int | None = None,
    nprobe: int = IVF_NPROBE,
) -> DataFrame:
    """End-to-end retrieval (the RAG read path): IVF-probe the embedding
    corpus for each query's top-``k`` neighbor documents, then surface the
    best-matching passage of each neighbor — candidate docs are chunked
    (``corpus.chunk_documents``) and each (query, neighbor) pair keeps the
    chunk with the highest distinct-token overlap against the query text
    (the lexical re-rank stage a cross-encoder would refine).

    Scale shape, stage by stage:
    - ANN: ``ivf_build`` + ``ivf_probe`` — the probe equi-joins on
      centroid_id and partition-prunes the inverted file; the corpus is
      never scanned fully per query.
    - Chunking runs ONLY over candidate docs (left-semi join of documents
      against the ≤ queries×k distinct neighbor ids) — no pinned
      broadcast: the candidate set scales with query volume, so AQE picks
      the join strategy per regime (the Q18 lesson).
    - Re-rank joins each pair to its neighbor's chunks (fan-out bounded by
      chunks-per-doc) and to the query's token set; overlap is a JVM-side
      ``array_intersect`` size — no Python, no cross join.

    Neighbors whose document has zero tokens produce no chunk and drop out
    (inner re-rank join) — a retrieval hit you can't quote is not a hit.

    Output: (query_id, neighbor_id, cosine, rk, chunk_id, overlap,
    chunk_text).
    """
    from . import corpus as corpus_ops
    from ..functions.textfns import tokens

    centroids, assignments = ivf_build_cached(embeddings, nlist=nlist)
    # hits is referenced three times below (candidate ids, query ids, the
    # re-rank join); without a lineage cut each reference re-expands — and
    # re-EXECUTES — the whole probe subtree. It's queries×k rows: cheap to
    # materialize, expensive to recompute.
    hits = cut_lineage(
        ivf_probe(centroids, assignments, query_vectors, k=k, nprobe=nprobe)
    )

    cand_ids = hits.select(F.col("neighbor_id").alias("doc_id")).distinct()
    cand_docs = documents.join(cand_ids, "doc_id", "left_semi")
    chunks = corpus_ops.chunk_documents(cand_docs).select(
        F.col("doc_id").alias("neighbor_id"),
        "chunk_id",
        "chunk_text",
        F.array_distinct(tokens(F.col("chunk_text"))).alias("__ctoks"),
    )
    query_ids = hits.select(F.col("query_id").alias("doc_id")).distinct()
    q_toks = documents.join(query_ids, "doc_id", "left_semi").select(
        F.col("doc_id").alias("query_id"),
        F.array_distinct(tokens(F.col("text"))).alias("__qtoks"),
    )

    pair_chunks = (
        hits.join(chunks, "neighbor_id")
        .join(q_toks, "query_id")
        .withColumn(
            "overlap", F.size(F.array_intersect("__ctoks", "__qtoks")).cast("long")
        )
    )
    best = Window.partitionBy("query_id", "neighbor_id").orderBy(
        F.col("overlap").desc(), F.col("chunk_id").asc()
    )
    return (
        pair_chunks.withColumn("__crk", F.row_number().over(best))
        .filter(F.col("__crk") == 1)
        .select(
            "query_id", "neighbor_id", "cosine", "rk", "chunk_id", "overlap",
            "chunk_text",
        )
    )


def ivf_sq8_recall(
    embeddings: DataFrame,
    query_mod: int = 50,
    k: int = 5,
    nlist: int | None = None,
    nprobe: int = IVF_NPROBE,
) -> DataFrame:
    """Probe quality of the COMPRESSED inverted file — the faiss
    IVF+SQ8 deployment shape end to end: the quantizer is trained on
    floats and the bucket layout is the float assignment (compression
    changes the stored codes, not the index geometry), the inverted file
    stores int8 codes (``embedding_quantize`` — 8× smaller than the
    float64 corpus), queries stay float, and in-bucket ranking runs on
    dequantized vectors (code × per-vector scale). The report compares
    the compressed probe's top-k against the float probe's top-k from the
    SAME index — the recall-vs-storage number that decides whether the
    8× footprint cut is free.

    Everything is deterministic (HALF_UP integer codes, fold-chain
    cosines, rounded ranks), so recall itself is oracle-checked — like
    ``ann_recall`` for LSH. One extra join over the shared IVF build; the
    reconstruction is a scan-side array transform, no extra shuffle.

    Output (1 row): n_queries, k, n_float, n_overlap, recall, mean_mse.
    """
    d = "double"
    centroids, assignments = ivf_build_cached(embeddings, nlist)
    queries = embeddings.filter(F.col("vec_id") % query_mod == 0)
    top_f = float_topf_cached(
        embeddings, centroids, assignments, query_mod, k, nprobe
    )

    qz = embedding_quantize(embeddings)
    recon = qz.select(
        F.col("vec_id").alias("vid"),
        F.transform("qvec", lambda x: x.cast(d) * F.col("scale")).alias("cv"),
        "mse",
    )
    inv8 = assignments.select("vid", "centroid_id").join(
        recon.select("vid", "cv"), "vid"
    )
    top_q = ivf_probe(centroids, inv8, queries, k, nprobe)

    overlap = top_f.select("query_id", "neighbor_id").join(
        top_q.select("query_id", "neighbor_id"),
        ["query_id", "neighbor_id"],
        "left_semi",
    )
    base = top_f.agg(
        F.count_distinct("query_id").cast("long").alias("n_queries"),
        F.count(F.lit(1)).cast("long").alias("n_float"),
    )
    hits = overlap.agg(F.count(F.lit(1)).cast("long").alias("n_overlap"))
    # per-row mse rounded then summed in DECIMAL: order-independent and
    # engine-exact (a raw double sum would depend on reduction order)
    ms = qz.agg(
        (
            F.sum(F.round("mse", 6).cast("decimal(18,6)")) / F.count(F.lit(1))
        ).alias("mean_mse")
    )
    return (
        base.crossJoin(hits)
        .crossJoin(ms)
        .select(
            "n_queries",
            F.lit(k).cast("long").alias("k"),
            "n_float",
            "n_overlap",
            iround_ratio(F.col("n_overlap"), F.col("n_float"), 6).alias("recall"),
            F.round(F.col("mean_mse").cast(d), 9).alias("mean_mse"),
        )
    )


def embedding_quality(embeddings: DataFrame) -> DataFrame:
    """Embedding-table hygiene profile — the screen a pipeline runs BEFORE
    building any vector index: zero-norm vectors break cosine (division by
    zero), non-finite elements poison every distance, and a drifting norm
    distribution signals a broken encoder upstream.

    One scan-shaped pass: per-vector L2 norm as the JVM fold-chain
    expression (``l2_norm_expr`` — the same left-associative chain the
    oracle replays with list_reduce, so quantile rank selection sees
    bit-identical values), non-finite counts as an ``F.aggregate`` fold —
    whole-stage codegen, no UDF; then a 1-row reduce. The norm MEAN
    accumulates in exact integer micro-units (a double sum is
    partition-order dependent — engines would disagree in the last ulp);
    quantiles are mergeable ``approx_percentile`` (discrete value-at-rank,
    engine-exact below 1e6 rows).

    Output (1 row): n_vectors, n_zero_norm, n_nonfinite, mean_norm,
    p01_norm, p50_norm, p99_norm.
    """
    dim = EMBEDDING_DIM
    norm = l2_norm_expr("embedding", dim)
    nonfinite = F.aggregate(
        "embedding",
        F.lit(0),
        lambda acc, x: acc
        + F.when(
            F.isnan(x.cast("double")) | (F.abs(x.cast("double")) == float("inf")),
            1,
        ).otherwise(0),
    )
    v = embeddings.select(
        norm.alias("nrm"), nonfinite.alias("nf")
    )
    pct = "approx_percentile(nrm, {p}, 1000000)"
    return v.agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.sum(F.when(F.col("nrm") == 0.0, 1).otherwise(0))
        .cast("long")
        .alias("n_zero_norm"),
        F.sum(F.when(F.col("nf") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_nonfinite"),
        (
            F.sum(F.floor(F.col("nrm") * 1_000_000 + 0.5).cast("long"))
            / F.count(F.lit(1))
            / F.lit(1_000_000.0)
        ).alias("mean_norm"),
        F.expr(pct.format(p=0.01)).alias("p01_norm"),
        F.expr(pct.format(p=0.5)).alias("p50_norm"),
        F.expr(pct.format(p=0.99)).alias("p99_norm"),
    )


def label_centroid_quality(
    embeddings: DataFrame, dim: int = EMBEDDING_DIM
) -> DataFrame:
    """Cluster-quality report over a labeled embedding table: per label,
    its centroid's cohesion (mean member→centroid cosine) and separation
    (cosine to the NEAREST other centroid) — the simplified-silhouette
    screen a pipeline runs on labels/clusters before trusting them as
    training strata or IVF partitions (margin ≤ 0 means the label's
    members sit closer to a foreign centroid than to their own).

    Scale shape: the centroid is a (label, dimension) aggregation —
    posexplode fans each vector to ``dim`` rows, map-side combine
    reduces every partition to ≤ |labels|·dim partial sums before the
    one tiny exchange; member→centroid cosines ride a BROADCAST join of
    the |labels|-row centroid table back onto the scan (no pair
    explosion, each vector scored once); centroid↔centroid separation
    is a |labels|² self-join — dozens of rows. Nothing anywhere is
    quadratic in vectors.

    Determinism: centroid components and the cohesion mean accumulate
    in exact integer micro-units (double sums are partition-order
    dependent); every cosine is the same unrolled left-associative
    double fold the oracle replays with list_reduce; nearest-other ties
    break by label string inside a struct max.
    """
    x_micro = F.floor(F.col("x").cast("double") * 1_000_000 + 0.5).cast("long")
    comp = (
        embeddings.select("label", F.posexplode("embedding").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(
            F.sum(x_micro).alias("sm"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
        .select(
            "label",
            "pos",
            "n",
            (F.col("sm").cast("double") / F.col("n") / 1_000_000.0).alias("v"),
        )
    )
    cent = comp.groupBy("label").agg(
        F.max("n").alias("n_members"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "v"))), lambda s: s["v"]
        ).alias("centroid"),
    )
    member = embeddings.join(
        F.broadcast(cent.select(F.col("label"), "centroid")), "label"
    )
    cos = (
        dot_expr("embedding", "centroid", dim)
        / (l2_norm_expr("embedding", dim) * l2_norm_expr("centroid", dim))
    )
    cohesion = (
        member.select("label", cos.alias("c"))
        .groupBy("label")
        .agg(
            (
                F.sum(F.floor(F.col("c") * 1_000_000 + 0.5).cast("long"))
                / F.count(F.lit(1))
                / 1_000_000.0
            ).alias("cohesion")
        )
    )
    a = cent.select(F.col("label").alias("la"), F.col("centroid").alias("ca"))
    b = cent.select(F.col("label").alias("lb"), F.col("centroid").alias("cb"))
    ccos = dot_expr("ca", "cb", dim) / (
        l2_norm_expr("ca", dim) * l2_norm_expr("cb", dim)
    )
    nearest = (
        a.join(F.broadcast(b), F.col("la") != F.col("lb"))
        .select("la", F.col("lb"), ccos.alias("cc"))
        .groupBy("la")
        .agg(F.max(F.struct(F.col("cc"), F.col("lb"))).alias("m"))
        .select(
            F.col("la").alias("label"),
            F.col("m.lb").alias("nearest_label"),
            F.col("m.cc").alias("separation"),
        )
    )
    return (
        cent.select("label", "n_members")
        .join(cohesion, "label")
        .join(nearest, "label")
        .select(
            "label",
            "n_members",
            F.round("cohesion", 6).alias("cohesion"),
            "nearest_label",
            F.round("separation", 6).alias("separation"),
            F.round(F.col("cohesion") - F.col("separation"), 6).alias("margin"),
        )
        .orderBy("label")
    )
