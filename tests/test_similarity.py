"""Similarity search: brute-force exact top-k + LSH recall floor."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from connexion2k12_extending_the_axeda_domain_model_simple_batch_processing_framework_spark.functions.vectors import (
    cosine_similarity,
)
from connexion2k12_extending_the_axeda_domain_model_simple_batch_processing_framework_spark.operators import (
    similarity,
)
from connexion2k12_extending_the_axeda_domain_model_simple_batch_processing_framework_spark.sources.catalog import (
    load_table,
)


def _vecs(spark, vectors):
    return spark.createDataFrame(
        [(i + 1, [float(x) for x in v]) for i, v in enumerate(vectors)],
        "vec_id long, embedding array<float>",
    )


def test_cosine_expression(spark):
    df = _vecs(spark, [[1, 0, 0], [0.5, 0, 0]])
    a = df.filter(F.col("vec_id") == 1).select(F.col("embedding").alias("a"))
    b = df.filter(F.col("vec_id") == 2).select(F.col("embedding").alias("b"))
    r = a.crossJoin(b).select(cosine_similarity(F.col("a"), F.col("b")).alias("c")).collect()
    assert abs(r[0].c - 1.0) < 1e-9  # parallel vectors


def test_brute_force_topk_orders_by_cosine(spark):
    corpus = _vecs(spark, [[1, 0], [0.9, 0.1], [0, 1], [-1, 0]])
    queries = corpus.filter(F.col("vec_id") == 1)
    rows = similarity.brute_force_topk(corpus, queries, k=2).orderBy("rk").collect()
    assert [r.neighbor_id for r in rows] == [2, 3]
    assert rows[0].rk == 1 and rows[0].cosine > rows[1].cosine
    # self is excluded
    assert all(r.neighbor_id != 1 for r in rows)


def test_lsh_buckets_are_deterministic(spark):
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").limit(50)
    sig = similarity.hyperplane_signature("embedding")
    a = emb.select("vec_id", sig.alias("s1")).collect()
    b = emb.select("vec_id", sig.alias("s2")).collect()
    assert {r.vec_id: r.s1 for r in a} == {r.vec_id: r.s2 for r in b}


def test_lsh_topk_results_subset_of_bucket_with_true_cosines(spark, sf_dir):
    corpus = load_table(spark, sf_dir, "embeddings")
    queries = corpus.filter(F.col("vec_id") % 50 == 0)
    approx = similarity.lsh_topk(corpus, queries, k=5)
    exact = similarity.brute_force_topk(corpus, queries, k=5)
    a = {(r.query_id, r.neighbor_id): r.cosine for r in approx.collect()}
    e = {(r.query_id, r.neighbor_id): r.cosine for r in exact.collect()}
    assert a, "lsh returned nothing"
    # every approx cosine is the true cosine for that pair
    full = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in similarity.brute_force_topk(corpus, queries, k=10**6).collect()
    }
    for pair, c in a.items():
        assert full[pair] == c
    # recall floor vs exact top-5 (8 planes ⇒ modest recall, must be > 0)
    hits = len(set(a) & set(e))
    assert hits / len(e) > 0.05


def test_embedding_near_dup_pairs_symmetric_free(spark):
    # exact path: the signature needs EMBEDDING_DIM-wide vectors, so the
    # tiny handcrafted case exercises the all-pairs anchor
    vecs = _vecs(spark, [[1, 0], [1, 0.001], [0, 1]])
    rows = similarity.embedding_near_dup_pairs(vecs, threshold=0.9, exact=True).collect()
    pairs = {(r.vec_a, r.vec_b) for r in rows}
    assert pairs == {(1, 2)}  # only the near pair; a<b canonical orientation


def test_embedding_lsh_pairs_subset_of_exact(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    exact = {
        (r.vec_a, r.vec_b): r.cosine
        for r in similarity.embedding_near_dup_pairs(emb, 0.35, exact=True).collect()
    }
    lsh = {
        (r.vec_a, r.vec_b): r.cosine
        for r in similarity.embedding_near_dup_pairs(emb, 0.35).collect()
    }
    assert lsh, "bucketed path returned nothing"
    # every bucketed pair is a true near-dup pair with the identical cosine
    for pair, c in lsh.items():
        assert exact[pair] == c


def test_ivf_build_probe_reuses_index(spark):
    corpus = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    centroids, assignments = similarity.ivf_build(corpus)
    q1 = corpus.filter(F.col("vec_id") % 50 == 0)
    q2 = corpus.filter(F.col("vec_id") % 50 == 7)
    r1 = similarity.ivf_probe(centroids, assignments, q1, k=3).collect()
    r2 = similarity.ivf_probe(centroids, assignments, q2, k=3).collect()
    assert r1 and r2
    assert {r.query_id for r in r1}.isdisjoint({r.query_id for r in r2})
    # composition matches build+probe
    composed = similarity.ivf_topk(corpus, q1, k=3).collect()
    assert {(r.query_id, r.neighbor_id, r.rk) for r in composed} == {
        (r.query_id, r.neighbor_id, r.rk) for r in r1
    }


def test_ivf_topk_recall_floor(spark):
    corpus = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = corpus.filter(F.col("vec_id") % 50 == 0)
    brute = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_force_topk(corpus, queries, k=5).collect()
    }
    ivf = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ivf_topk(corpus, queries, k=5).collect()
    }
    assert len(brute) > 0
    recall = len(brute & ivf) / len(brute)
    # nprobe/nlist = 4/16 scans ~25% of the corpus; measured recall ~0.5
    assert recall >= 0.3


def test_ivf_centroids_deterministic(spark):
    corpus = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    c1 = {r.centroid_id: r.centroid for r in similarity.ivf_centroids(corpus).collect()}
    c2 = {r.centroid_id: r.centroid for r in similarity.ivf_centroids(corpus).collect()}
    assert c1.keys() == c2.keys()
    for cid in c1:
        assert c1[cid] == c2[cid]


def test_ivf_save_load_probe_equivalence(spark, tmp_path):
    """A persisted index probes identically to the in-memory one, and the
    probe scan is partition-pruned to the probed centroids."""
    from connexion2k12_extending_the_axeda_domain_model_simple_batch_processing_framework_spark.operators.similarity import (
        ivf_build,
        ivf_load,
        ivf_probe,
        ivf_save,
    )
    from connexion2k12_extending_the_axeda_domain_model_simple_batch_processing_framework_spark.sources.catalog import (
        load_table,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    cent, assign = ivf_build(emb, nlist=8, iters=2)
    mem = ivf_probe(cent, assign, queries, k=3).collect()

    ivf_save(cent, assign, str(tmp_path / "ivf"))
    cent2, assign2 = ivf_load(spark, str(tmp_path / "ivf"))
    disk = ivf_probe(cent2, assign2, queries, k=3).collect()

    key = lambda r: (r.query_id, r.rk)  # noqa: E731
    assert sorted(mem, key=key) == sorted(disk, key=key)
    # partitioned layout exists (one dir per centroid bucket)
    dirs = [p.name for p in (tmp_path / "ivf" / "assignments").iterdir() if p.is_dir()]
    assert any(d.startswith("centroid_id=") for d in dirs)


def test_empty_corpus_paths_return_empty(spark):
    from pyspark.sql import functions as F

    from connexion2k12_extending_the_axeda_domain_model_simple_batch_processing_framework_spark.operators import (
        similarity,
    )

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert (
        similarity.embedding_near_dup_pairs(empty, exact=True).count() == 0
    )
    assert similarity.ivf_centroids(empty).count() == 0


def test_exact_pairs_anchor_refuses_oversized_corpus(spark, monkeypatch):
    """The exact=True all-pairs anchor collects the corpus to the driver;
    above the cap it must fail loudly (naming the LSH scale path) instead
    of OOMing. Cap lowered via monkeypatch so the test stays tiny."""
    emb = spark.createDataFrame(
        [(i, [float(i)] * similarity.EMBEDDING_DIM) for i in range(10)],
        "vec_id long, embedding array<float>",
    )
    monkeypatch.setattr(similarity, "EXACT_PAIRS_MAX_ROWS", 5)
    with pytest.raises(ValueError, match="dedup_embedding_lsh"):
        similarity.embedding_near_dup_pairs(emb, threshold=0.9, exact=True)
    # within the cap the anchor still runs
    monkeypatch.setattr(similarity, "EXACT_PAIRS_MAX_ROWS", 200_000)
    assert similarity.embedding_near_dup_pairs(emb, threshold=0.9, exact=True).count() > 0


def test_semantic_dedup_keeps_one_per_planted_cluster(spark):
    """Three tight semantic clusters (orthogonal base directions, tiny
    deterministic jitter) plus two singletons: exactly one survivor per
    cluster (the lowest id), singletons pass through. nlist=1 puts
    everything in one bucket so the test isolates pair-graph/survivor
    semantics; blocking recall is covered separately below."""
    import numpy as np

    rng = []
    base = np.zeros((3, similarity.EMBEDDING_DIM))
    base[0, 0] = 1.0
    base[1, 7] = 1.0
    base[2, 19] = 1.0
    vid = 0
    expected_cluster = {}
    for c in range(3):
        for m in range(4):
            v = base[c].copy()
            v[40 + c] = 0.01 * (m + 1)  # tiny member-specific jitter
            rng.append((vid, [float(x) for x in v]))
            expected_cluster[vid] = c * 4  # lowest id in the cluster
            vid += 1
    # singletons, far from every cluster
    for s in range(2):
        v = np.zeros(similarity.EMBEDDING_DIM)
        v[30 + s] = 1.0
        rng.append((vid, [float(x) for x in v]))
        expected_cluster[vid] = vid
        vid += 1
    emb = spark.createDataFrame(rng, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r for r in similarity.semantic_dedup(emb, threshold=0.9, nlist=1).collect()}
    assert len(out) == 14
    kept = sorted(v for v, r in out.items() if r["keep"])
    assert kept == [0, 4, 8, 12, 13]
    for v, r in out.items():
        assert r["cluster_id"] == expected_cluster[v], (v, r)


def test_semantic_dedup_recall_vs_exact_pairs(spark, sf_dir):
    """In-bucket blocking loses only pairs split across centroids: on the
    real corpus every surviving vector pair with cosine >= threshold in
    the SAME bucket is connected, and the survivor set is never larger
    than what exact all-pairs clustering would keep."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = similarity.semantic_dedup(emb)
    n_total = emb.count()
    n_kept = out.filter("keep").count()
    # exact all-pairs graph at the same threshold (anchor path)
    from connexion2k12_extending_the_axeda_domain_model_simple_batch_processing_framework_spark.operators.dedup import (
        connected_components,
    )

    exact_pairs = similarity.embedding_near_dup_pairs(
        emb, threshold=similarity.SEMANTIC_THRESHOLD, exact=True
    ).select(F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b"))
    exact_labels = connected_components(exact_pairs)
    n_exact_kept = n_total - exact_labels.filter("doc_id != cluster_id").count()
    assert n_kept >= n_exact_kept  # blocking can only split clusters
    # and the blocked pass still finds the vast majority of them
    n_dropped = n_total - n_kept
    n_exact_dropped = n_total - n_exact_kept
    assert n_exact_dropped > 0
    # 0.35 is far below the tight thresholds production SemDeDup runs at
    # (≥0.9, where near-identical vectors share a centroid and recall is
    # near 1); at this loose threshold pairs legitimately span buckets,
    # so the floor just pins that blocking finds a substantial fraction
    assert n_dropped / n_exact_dropped >= 0.25


def test_embedding_quantize_roundtrip_and_zero_vector(spark):
    emb = spark.createDataFrame(
        [
            (1, [1.0, -0.5, 0.25, 0.0]),
            (2, [0.0, 0.0, 0.0, 0.0]),  # zero vector -> scale 0, q all 0
            (3, [127.0, -127.0, 1.0, -1.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    out = {r["vec_id"]: r for r in similarity.embedding_quantize(emb).collect()}
    assert out[1]["qvec"] == [127, -64, 32, 0]  # scale = 1/127
    assert out[1]["mse"] < (out[1]["scale"] / 2) ** 2  # error bounded by half-step
    assert out[2]["scale"] == 0.0 and out[2]["qvec"] == [0, 0, 0, 0] and out[2]["mse"] == 0.0
    assert out[3]["qvec"] == [127, -127, 1, -1] and out[3]["mse"] == 0.0
    # every component in the int8 range
    for r in out.values():
        assert all(-127 <= v <= 127 for v in r["qvec"])


def test_embedding_quantize_reconstruction_error_small_on_corpus(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    out = similarity.embedding_quantize(emb)
    # int8 quantization must reconstruct within ~1e-4 MSE on unit-ish vectors
    assert out.filter(F.col("mse") > 1e-4).count() == 0
    assert not out.filter(F.col("scale") <= 0).head(1)


def test_pq_encode_reconstruct_contract(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    books = similarity.pq_train(emb)
    brows = books.collect()
    # m subspaces, <= ksub codewords each, dsub-wide codewords
    assert {r.subspace for r in brows} == set(range(similarity.PQ_M))
    dsub = similarity.EMBEDDING_DIM // similarity.PQ_M
    assert all(len(r.codeword) == dsub for r in brows)
    codes = similarity.pq_encode(emb, books)
    valid = {(r.subspace, r.code_id) for r in brows}
    for r in codes.limit(50).collect():
        assert len(r.codes) == similarity.PQ_M
        assert all((s, c) in valid for s, c in enumerate(r.codes))
    # reconstruction is the exact codeword concatenation (lossy vs the
    # input, but exact vs the codebook): every rv must itself re-encode
    # to the same codes (idempotent quantization cell membership)
    recon = similarity.pq_reconstruct(codes, books)
    again = similarity.pq_encode(
        recon.select("vec_id", F.col("rv").alias("embedding")), books
    )
    joined = codes.alias("a").join(again.alias("b"), "vec_id").filter(
        F.col("a.codes") != F.col("b.codes")
    )
    assert not joined.head(1)
    # determinism: retrain gives identical codebooks
    again_books = similarity.pq_train(emb)
    assert sorted(map(tuple, books.collect())) == sorted(
        map(tuple, again_books.collect())
    )


def test_ivf_pq_recall_report_shape(spark, sf_dir):
    row = similarity.ivf_pq_recall(load_table(spark, sf_dir, "embeddings")).collect()
    assert len(row) == 1
    r = row[0]
    assert r.n_float == r.n_queries * r.k
    assert 0.0 <= r.recall <= 1.0
    assert r.mean_mse > 0  # PQ at 128x on random vectors is lossy


def test_pq_adc_probe_matches_reconstruction_ranking(spark, sf_dir):
    # the LUT-only ADC probe and the reconstruction probe rank the same
    # candidates from the same index; their top-k sets should agree for
    # the overwhelming majority of queries (only float re-association
    # between the two fold shapes can flip exact ties)
    emb = load_table(spark, sf_dir, "embeddings")
    centroids, assignments = similarity.ivf_build_cached(emb)
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    books = similarity.pq_train(emb)
    codes = similarity.pq_encode(emb, books)
    adc = similarity.pq_adc_probe(
        centroids, assignments, codes, books, queries
    )
    recon = similarity.pq_reconstruct(codes, books)
    inv_pq = assignments.select("vid", "centroid_id").join(
        recon.select(F.col("vec_id").alias("vid"), F.col("rv").alias("cv")),
        "vid",
    )
    rp = similarity.ivf_probe(centroids, inv_pq, queries)
    a = {(r.query_id, r.neighbor_id) for r in adc.collect()}
    b = {(r.query_id, r.neighbor_id) for r in rp.collect()}
    assert a and len(a & b) / len(a | b) > 0.9
    # the ADC report itself: one sane row
    row = similarity.ivf_pq_adc_recall(emb).collect()[0]
    assert 0.0 <= row.recall <= 1.0 and row.n_float == row.n_queries * row.k


def test_residual_pq_beats_plain_pq_recall(spark, sf_dir):
    # the point of residual coding: same m x ksub budget, higher recall
    # and lower reconstruction error than raw-vector codes
    emb = load_table(spark, sf_dir, "embeddings")
    plain = similarity.ivf_pq_recall(emb).collect()[0]
    res = similarity.ivf_pq_residual_recall(emb).collect()[0]
    assert res.recall >= plain.recall
    assert res.mean_mse <= plain.mean_mse


def test_hard_negatives_excludes_near_dups(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    out = similarity.hard_negatives(emb, k=5)
    pairs = {(r.query_id, r.neighbor_id) for r in out.collect()}
    assert pairs
    # no emitted pair may be an LSH near-dup (either orientation)
    near = similarity.embedding_near_dup_pairs(emb, threshold=0.35)
    banned = set()
    for r in near.collect():
        banned.add((r.vec_a, r.vec_b))
        banned.add((r.vec_b, r.vec_a))
    assert not (pairs & banned)
    # per query at most k rows, ranked 1..n by cosine
    import collections

    per_q = collections.Counter(q for q, _n in pairs)
    assert max(per_q.values()) <= 5


def test_residual_adc_matches_reconstruction_ranking(spark, sf_dir):
    # the subspace decomposition is EXACT (disjoint dims), so the LUT-only
    # residual-ADC probe must produce the same top-k as the reconstruction
    # probe over centroid + decoded residual, up to fold re-association on
    # exact cosine ties
    emb = load_table(spark, sf_dir, "embeddings")
    centroids, assignments = similarity.ivf_build_cached(emb)
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    books, codes = similarity.pq_residual_codes_cached(
        emb, centroids, assignments
    )
    adc = similarity.pq_residual_adc_probe(
        centroids, assignments, codes, books, queries
    )
    r_hat = similarity.pq_reconstruct(codes, books)
    recon = (
        codes.select("vec_id", "centroid_id")
        .join(r_hat, "vec_id")
        .join(F.broadcast(centroids), "centroid_id")
        .select(
            F.col("vec_id").alias("vid"),
            "centroid_id",
            F.zip_with("centroid", "rv", lambda c, r: c + r).alias("cv"),
        )
    )
    rp = similarity.ivf_probe(centroids, recon, queries)
    a = {(r.query_id, r.neighbor_id) for r in adc.collect()}
    b = {(r.query_id, r.neighbor_id) for r in rp.collect()}
    assert a and len(a & b) / len(a | b) > 0.95


def test_pq_save_load_probe_equivalence(spark, sf_dir, tmp_path):
    """The complete frozen IVFPQ artifact (ivf_save centroids +
    pq_save codebooks/codes) probes identically to the in-session
    artifacts — the cross-job lifecycle a deployment runs: train once,
    encode once, ADC-probe everywhere from the persisted index. The
    code file round-trips its centroid_id partition layout (bucket
    selection stays at the storage layer)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    cent, assign = similarity.ivf_build_cached(emb)
    books, codes = similarity.pq_residual_codes_cached(emb, cent, assign)
    mem = similarity.pq_residual_adc_probe(
        cent, assign, codes, books, queries, k=5
    ).collect()

    idx = tmp_path / "ivfpq"
    similarity.ivf_save(cent, assign, str(idx))
    similarity.pq_save(books, codes, str(idx))
    cent2, assign2 = similarity.ivf_load(spark, str(idx))
    books2, codes2 = similarity.pq_load(spark, str(idx))
    disk = similarity.pq_residual_adc_probe(
        cent2, assign2, codes2, books2, queries, k=5
    ).collect()

    key = lambda r: (r.query_id, r.rk)  # noqa: E731
    assert sorted(mem, key=key) == sorted(disk, key=key)
    dirs = [p.name for p in (idx / "codes").iterdir() if p.is_dir()]
    assert any(d.startswith("centroid_id=") for d in dirs)


def test_refine_probe_serves_from_frozen_artifacts(spark, sf_dir, tmp_path):
    """The DEPLOYABLE two-stage probe (ivf_pq_refine_probe) run entirely
    from frozen artifacts — ivf_load centroids/assignments + pq_load
    codebooks/codes + the corpus parquet as the float store — returns
    row-identical top-k to the in-session artifacts: a query node never
    trains or encodes anything."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    cent, assign = similarity.ivf_build_cached(emb)
    books, codes = similarity.pq_residual_codes_cached(emb, cent, assign)
    mem = similarity.ivf_pq_refine_probe(
        cent, assign, codes, books, emb, queries, k=5, refine=4
    ).collect()
    assert mem  # non-degenerate

    idx = tmp_path / "ivfpq_serve"
    similarity.ivf_save(cent, assign, str(idx))
    similarity.pq_save(books, codes, str(idx))
    cent2, assign2 = similarity.ivf_load(spark, str(idx))
    books2, codes2 = similarity.pq_load(spark, str(idx))
    disk = similarity.ivf_pq_refine_probe(
        cent2, assign2, codes2, books2, emb, queries, k=5, refine=4
    ).collect()

    key = lambda r: (r.query_id, r.rk)  # noqa: E731
    assert sorted(mem, key=key) == sorted(disk, key=key)


def test_pq_code_bytes_rounds_up(monkeypatch):
    """Disclosed per-vector code size must round UP to whole bytes: a
    partial trailing byte is still occupied storage (flooring reported
    1 byte for 12-bit codes and 0 for sub-byte products)."""
    from connexion2k12_extending_the_axeda_domain_model_simple_batch_processing_framework_spark import (
        queries as q,
    )

    assert q._code_bytes(256) == similarity.PQ_M  # 8 bits/subspace
    monkeypatch.setattr(similarity, "PQ_M", 3)
    assert q._code_bytes(16) == 2   # 12 bits -> 2 bytes, not 1
    assert q._code_bytes(2) == 1    # 3 bits -> 1 byte, not 0


def test_ivf_auto_nlist_formula():
    """Gate/test corpora floor to IVF_NLIST (pre-r11 behavior there is
    bit-identical); big corpora follow the pow2-of-sqrt faiss rule."""
    from connexion2k12_extending_the_axeda_domain_model_simple_batch_processing_framework_spark.operators.similarity import (
        IVF_NLIST,
        IVF_NLIST_CAP,
        ivf_auto_nlist,
    )

    assert ivf_auto_nlist(0) == IVF_NLIST
    assert ivf_auto_nlist(20) == IVF_NLIST
    assert ivf_auto_nlist(200) == IVF_NLIST      # driver gate sf0.01
    assert ivf_auto_nlist(2_000) == 32           # bench sf0.1
    assert ivf_auto_nlist(20_000) == 128         # sf1
    assert ivf_auto_nlist(200_000) == 256        # sf10
    assert ivf_auto_nlist(10**12) == IVF_NLIST_CAP  # capped
    # monotone non-decreasing over six decades
    vals = [ivf_auto_nlist(10**k) for k in range(1, 13)]
    assert vals == sorted(vals)


def test_ann_sweeps_ignore_repeated_points(spark, sf_dir):
    """A repeated sweep value gives one row, not a clashing aggregate alias."""
    emb = load_table(spark, sf_dir, "embeddings")
    probes = similarity.ann_recall_sweep(emb, nprobes=(4, 2, 4)).collect()
    assert [r.nprobe for r in probes] == [2, 4]
    refines = similarity.ann_refine_sweep(emb, refines=(2, 1, 2)).collect()
    assert [r.refine for r in refines] == [1, 2]
