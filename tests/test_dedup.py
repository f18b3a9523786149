"""Dedup family: exact, n-gram Jaccard, MinHash+LSH, SimHash."""

from __future__ import annotations

import pytest

from connexion2k12_extending_the_axeda_domain_model_simple_batch_processing_framework_spark.operators import (
    dedup,
)

BASE = "the quick brown fox jumps over the lazy dog near the river bank today"
NEAR = BASE.replace("today", "tonight")  # one token differs
FAR = "completely unrelated text about spark distributed query engines and planning"


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i + 1, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_exact_dedup_groups_and_first_wins(spark):
    docs = _docs(spark, [BASE, BASE, FAR])
    rows = dedup.exact_dedup(docs).collect()
    by_copies = {r.n_copies: r for r in rows}
    assert len(rows) == 2
    assert by_copies[2].canonical_id == 1  # lowest id wins
    assert by_copies[1].canonical_id == 3


def test_ngram_jaccard_finds_near_pair_only(spark):
    docs = _docs(spark, [BASE, NEAR, FAR])
    rows = dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    assert [(r.doc_a, r.doc_b) for r in rows] == [(1, 2)]
    r = rows[0]
    # 12 shingles each, 11 shared (only the final trigram contains the changed
    # last token) → jaccard = 11 / (12 + 12 - 11)
    assert r.jaccard == round(11 / 13, 6)


def test_minhash_lsh_finds_duplicate_pair(spark):
    docs = _docs(spark, [BASE, BASE, FAR])
    rows = dedup.minhash_lsh_pairs(docs).collect()
    assert [(r.doc_a, r.doc_b, r.jaccard) for r in rows] == [(1, 2, 1.0)]


def test_minhash_signature_identical_for_identical_docs(spark):
    docs = _docs(spark, [BASE, BASE])
    sig = dedup.minhash_signatures(docs).drop("shingles").collect()
    a, b = sorted(sig, key=lambda r: r.doc_id)
    assert [a[f"h{i}"] for i in range(dedup.NUM_MINHASHES)] == [
        b[f"h{i}"] for i in range(dedup.NUM_MINHASHES)
    ]


def test_simhash_identical_docs_same_signature(spark):
    docs = _docs(spark, [BASE, BASE, FAR])
    rows = {r.doc_id: r.simhash for r in dedup.simhash_signatures(docs).collect()}
    assert rows[1] == rows[2]
    assert rows[1] != rows[3]
    assert 0 <= rows[1] < 2**dedup.SIMHASH_BITS


def test_simhash_pairs_hamming_zero_for_dups(spark):
    docs = _docs(spark, [BASE, BASE, FAR])
    rows = dedup.simhash_pairs(docs).collect()
    got = {(r.doc_a, r.doc_b): r.hamming for r in rows}
    assert got.get((1, 2)) == 0


def test_near_docs_low_hamming(spark):
    docs = _docs(spark, [BASE, NEAR])
    rows = dedup.simhash_signatures(docs).collect()
    sigs = {r.doc_id: r.simhash for r in rows}
    assert bin(sigs[1] ^ sigs[2]).count("1") <= 4  # near-dup → few bits flip


@pytest.mark.parametrize("name", ["dedup_exact", "dedup_minhash_lsh"])
def test_sf_documents_round_trip(spark, sf_dir, name):
    """The registry entries run end-to-end on real parquet."""
    from connexion2k12_extending_the_axeda_domain_model_simple_batch_processing_framework_spark import (
        queries as q,
    )

    df = q.QUERIES[name](spark, sf_dir)
    assert df.count() > 0


def test_ngram_jaccard_df_cap_drops_ubiquitous_shingle(spark):
    """An adversarial corpus-common shingle must not generate candidate
    pairs once its document frequency exceeds the cap."""
    # every doc shares the same leading trigram; pairs otherwise disjoint
    common = "alpha beta gamma"
    texts = [f"{common} doc{i} word{i} token{i} extra{i}" for i in range(6)]
    docs = _docs(spark, texts)
    uncapped = dedup.ngram_jaccard_pairs(
        docs, threshold=0.01, max_shingle_df=None
    ).collect()
    capped = dedup.ngram_jaccard_pairs(
        docs, threshold=0.01, max_shingle_df=3
    ).collect()
    # uncapped: the shared "alpha beta gamma" shingle makes all 15 pairs
    assert len(uncapped) == 15
    # capped: df("alpha beta gamma") = 6 > 3 → dropped → no shared shingles
    assert capped == []


def test_simhash_pairs_full_recall_vs_exact(spark, sf_dir):
    """3-band blocking must find EVERY hamming<=2 pair (pigeonhole)."""
    from connexion2k12_extending_the_axeda_domain_model_simple_batch_processing_framework_spark.sources.catalog import (
        load_table,
    )
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    sig = dedup.simhash_signatures(docs)
    a, b = sig.alias("a"), sig.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    exact = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= 2)
        .collect()
    }
    blocked = {
        (r.doc_a, r.doc_b, r.hamming) for r in dedup.simhash_pairs(docs).collect()
    }
    assert blocked == exact


def test_connected_components_warns_on_nonconvergence(spark):
    # a 5-node path graph has diameter 4; min-label propagation moves the
    # min one hop per round, so 2 iterations cannot converge
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 5)], "doc_a long, doc_b long"
    )
    with pytest.warns(RuntimeWarning, match="did not converge"):
        # local_max_edges=0 forces the distributed propagation loop (the
        # union-find shortcut has no iteration limit and cannot warn)
        dedup.connected_components(edges, max_iterations=2, local_max_edges=0)


def test_connected_components_local_and_distributed_agree(spark):
    # two chained clusters + a disjoint pair + a duplicate edge: the
    # driver union-find (default gate) and the distributed propagation
    # loop (gate 0) must label identically
    edges = spark.createDataFrame(
        [(3, 7), (7, 1), (20, 21), (3, 7), (40, 2), (2, 1)],
        "doc_a long, doc_b long",
    )
    local = {
        (r.doc_id, r.cluster_id)
        for r in dedup.connected_components(edges).collect()
    }
    dist = {
        (r.doc_id, r.cluster_id)
        for r in dedup.connected_components(edges, local_max_edges=0).collect()
    }
    assert local == dist
    assert local == {
        (1, 1), (2, 1), (3, 1), (7, 1), (40, 1), (20, 20), (21, 20)
    }


def test_connected_components_reliable_checkpoint_path(spark, tmp_path):
    """With a checkpoint dir configured, cut_lineage takes the durable
    checkpoint() path; results must be identical."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    expected = {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        got = {
            (r.doc_id, r.cluster_id)
            for r in dedup.connected_components(edges).collect()
        }
    finally:
        sc._jsc.sc().setCheckpointDir(None)  # restore: no dir configured
    assert got == expected


def test_incremental_near_dup_finds_corpus_collision(spark):
    from connexion2k12_extending_the_axeda_domain_model_simple_batch_processing_framework_spark.operators.dedup import (
        incremental_near_dup,
    )

    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    corpus = spark.createDataFrame(
        [
            (1, base),
            (2, "completely different content about spark physical plans and shuffles"),
        ],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (100, base),  # exact text of corpus doc 1 → must collide
            (101, "fresh unrelated words that match nothing in the stored corpus"),
        ],
        "doc_id long, text string",
    )
    rows = incremental_near_dup(new, corpus).collect()
    assert {(r.new_doc_id, r.corpus_doc_id) for r in rows} == {(100, 1)}
    assert rows[0].jaccard == 1.0


def test_keep_canonical_one_survivor_per_cluster(spark):
    # docs 1..3 are a near-dup chain (A~B, B~C); doc 4 is unrelated. The
    # deduplicated corpus keeps exactly the cluster's min id plus the
    # untouched doc — A-B-C chains must lose BOTH non-canonical members
    # even though A and C may never pair directly.
    docs = _docs(spark, [BASE, BASE + " x", BASE + " x y", FAR])
    kept = sorted(r.doc_id for r in dedup.keep_canonical(docs).collect())
    assert kept == [1, 4]
    # output keeps the full document schema, not just ids
    cols = dedup.keep_canonical(docs).columns
    assert cols == ["doc_id", "text"]


def test_fuzzy_name_pairs_blocking_recall(spark):
    from connexion2k12_extending_the_axeda_domain_model_simple_batch_processing_framework_spark.operators.dedup import (
        fuzzy_name_pairs,
    )

    ents = spark.createDataFrame(
        [
            (1, "serial-100"),
            (2, "serial-101"),   # substitution of 1
            (3, "serial-1001"),  # insertion into 1
            (4, "serial-10"),    # deletion from 1
            (5, "serial-999"),   # distance 2 from 1 — excluded
            (6, "serial-100"),   # identical to 1 (distance 0)
        ],
        "c_custkey long, c_name string",
    )
    pairs = {
        (r.id_a, r.id_b): r.distance
        for r in fuzzy_name_pairs(ents).collect()
    }
    assert pairs[(1, 2)] == 1   # substitution
    assert pairs[(1, 3)] == 1   # insertion
    assert pairs[(1, 4)] == 1   # deletion
    assert pairs[(1, 6)] == 0   # exact dup
    assert (1, 5) not in pairs  # beyond max_distance


def test_substring_dedup_cuts_planted_overlap(spark):
    """Two documents share a verbatim 60-token run (> the 50-token window);
    the shared span must be cut from both, per-token, while the distinct
    prefix/suffix text survives. A third document with no 50-gram overlap
    passes through untouched."""
    shared = " ".join(f"shared{i}" for i in range(60))
    docs = spark.createDataFrame(
        [
            (1, "alpha beta " + shared + " gamma"),
            (2, "delta " + shared),
            (3, "totally unrelated text " + " ".join(f"u{i}" for i in range(60))),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in dedup.substring_dedup(docs, gram_len=50).collect()
    }
    assert out[1]["n_dup_spans"] == 1
    assert out[1]["n_dup_tokens"] == 60
    assert out[1]["clean_text"] == "alpha beta gamma"
    assert out[2]["clean_text"] == "delta"
    assert out[3]["n_dup_spans"] == 0
    assert out[3]["clean_text"].startswith("totally unrelated text")


def test_substring_dedup_merges_overlapping_windows(spark):
    """Adjacent/overlapping duplicated windows coalesce into ONE maximal
    span (gaps-and-islands), so n_dup_spans counts maximal runs."""
    run_a = " ".join(f"a{i}" for i in range(12))
    run_b = " ".join(f"b{i}" for i in range(12))
    docs = spark.createDataFrame(
        [
            (1, run_a + " bridge1 middlex " + run_b),
            (2, run_a + " bridge2 middley " + run_b),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dedup.substring_dedup(docs, gram_len=10).collect()}
    # each doc: two maximal duplicated runs of 12 tokens, bridge survives
    assert out[1]["n_dup_spans"] == 2
    assert out[1]["n_dup_tokens"] == 24
    assert out[1]["clean_text"] == "bridge1 middlex"
    assert out[2]["clean_text"] == "bridge2 middley"


def test_dedup_funnel_attrition_stages(spark):
    """Planted corpus: 2 exact copies, a near-dup pair (shared shingles),
    and semantically-identical embeddings — each caught by its own stage,
    and each stage only sees the previous stage's survivors."""
    base = "alpha beta gamma delta epsilon zeta eta theta " * 3
    near = base + "iota"
    docs = spark.createDataFrame(
        [
            (0, base),            # canonical of the exact pair
            (1, base),            # exact copy -> dropped at stage 1
            (2, near),            # near-dup of 0 -> dropped at stage 2
            (3, "completely different text about other topics entirely"),
        ],
        "doc_id long, text string",
    )
    from connexion2k12_extending_the_axeda_domain_model_simple_batch_processing_framework_spark.operators import (
        similarity,
    )

    dim = similarity.EMBEDDING_DIM
    v_a = [1.0] + [0.0] * (dim - 1)
    v_b = [0.0] * (dim - 1) + [1.0]
    emb = spark.createDataFrame(
        [(0, v_a), (1, v_a), (2, v_b), (3, v_a)],
        "vec_id long, embedding array<float>",
    )
    # doc 3's embedding equals doc 0's -> dropped at stage 3 (it survived
    # stages 1-2 because its TEXT is unique)
    out = {r["stage"]: r for r in dedup.dedup_funnel(docs, emb).collect()}
    assert out["exact"]["n_in"] == 4 and out["exact"]["n_dropped"] == 1
    assert out["minhash"]["n_in"] == 3 and out["minhash"]["n_dropped"] == 1
    assert out["semantic"]["n_in"] == 2 and out["semantic"]["n_dropped"] == 1
    assert out["semantic"]["n_out"] == 1


def test_containment_dominates_jaccard_and_catches_subsets(spark):
    """containment ≥ jaccard on every pair, and a document embedded
    verbatim inside a much longer one scores containment 1.0 while
    Jaccard stays low (the subset-duplicate case)."""
    short = "alpha beta gamma delta epsilon zeta"
    long_ = short + (
        " one two three four five six seven eight nine ten"
        " eleven twelve thirteen fourteen fifteen sixteen"
    )
    docs = spark.createDataFrame(
        [(1, short, "s", "en"), (2, long_, "s", "en")],
        "doc_id long, text string, source string, lang string",
    )
    rows = dedup.containment_pairs(docs).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.doc_a, r.doc_b) == (1, 2)
    assert r.containment == 1.0  # every shingle of the short doc is in the long one
    assert r.jaccard < 0.5
    assert r.containment >= r.jaccard
    assert r.n_a < r.n_b


def test_minhash_recall_sweep_ignores_repeated_points(spark):
    """A repeated sweep value gives one row, not a clashing aggregate alias."""
    docs = _docs(spark, [BASE, NEAR, FAR])
    rows = dedup.minhash_recall_sweep(docs, bands_sweep=(2, 1, 2)).collect()
    assert [r.bands for r in rows] == [1, 2]
