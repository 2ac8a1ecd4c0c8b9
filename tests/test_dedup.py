"""Dedup kernels: planted duplicates, LSH recall vs brute force,
lossless simhash blocking, exact cosines (SURVEY §7.2 step 9)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from integritychecksforvldbs_spark.operators import dedup
from integritychecksforvldbs_spark.sources import loader
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy cat"),  # near dup of 1
        (4, "completely different text with no overlap here at all"),
        (5, "another unrelated document about spark and parquet files"),
        (6, "the quick brown fox jumps over the lazy dog today"),  # near dup
        (7, "short text"),  # too short for 3-gram shingles
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dup_groups(corpus):
    got = dedup.exact_dup_groups(corpus).collect()
    assert len(got) == 1
    assert got[0]["dup_count"] == 2
    assert got[0]["keeper"] == 1


def test_exact_dedup_no_dups(spark):
    df = spark.createDataFrame([(1, "a b c"), (2, "d e f")], "doc_id long, text string")
    assert dedup.exact_dup_groups(df).count() == 0


def test_shingles_shape(corpus):
    sh = dedup.shingles(corpus, n=3)
    # doc 1: 9 tokens -> 7 trigram positions, all distinct here
    assert sh.filter(F.col("doc_id") == 1).count() == 7
    # doc 7 has 2 tokens -> no trigrams
    assert sh.filter(F.col("doc_id") == 7).count() == 0


def test_shingles_max_df(corpus):
    # shingles shared by >=3 docs get dropped with max_df=2
    sh_all = dedup.shingles(corpus, n=3)
    sh_cut = dedup.shingles(corpus, n=3, max_df=2)
    dropped = sh_all.groupBy("shingle").count().filter("count > 2").count()
    assert dropped > 0
    assert sh_cut.count() < sh_all.count()


def test_ngram_jaccard_exact_values(corpus):
    pairs = {
        (r["doc_id_a"], r["doc_id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(corpus, threshold=0.3).collect()
    }
    # docs 1 and 2 identical -> jaccard 1.0
    assert pairs[(1, 2)] == 1.0
    # docs 1 and 3 share 6 of 8 distinct trigrams -> 6/8 = 0.75
    assert math.isclose(pairs[(1, 3)], 6 / 8)
    # docs 1 and 6: doc6 has 8 trigrams (one extra), 7 common, union 8
    assert math.isclose(pairs[(1, 6)], 7 / 8)
    assert (4, 5) not in pairs


def test_minhash_lsh_matches_bruteforce(corpus):
    brute = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in dedup.ngram_jaccard_pairs(corpus, threshold=0.5).collect()
    }
    lsh = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in dedup.minhash_lsh_pairs(corpus, threshold=0.5).collect()
    }
    # exact verification makes LSH precision 1; recall 1 on high-sim dups
    assert lsh == brute
    assert (1, 2) in lsh


def test_simhash_identical_docs_distance_zero(corpus):
    sig = {r["doc_id"]: r["simhash"] for r in dedup.simhash_df(corpus).collect()}
    assert sig[1] == sig[2]
    assert 0 <= sig[1] < (1 << dedup.SIMHASH_BITS)


def test_simhash_blocking_is_lossless(corpus, spark):
    """Chunk-blocked pairs == brute-force hamming pairs."""
    k = 6
    sig = dedup.simhash_df(corpus)
    a = sig.select(F.col("doc_id").alias("ia"), F.col("simhash").alias("sa"))
    b = sig.select(F.col("doc_id").alias("ib"), F.col("simhash").alias("sb"))
    brute = {
        (r["ia"], r["ib"], r["d"])
        for r in a.join(b, F.col("ia") < F.col("ib"))
        .select("ia", "ib", F.expr("CAST(bit_count(sa ^ sb) AS INT)").alias("d"))
        .filter(F.col("d") <= k)
        .collect()
    }
    blocked = {
        (r["doc_id_a"], r["doc_id_b"], r["hamming"])
        for r in dedup.simhash_dup_pairs(corpus, max_hamming=k).collect()
    }
    assert blocked == brute
    assert any(d == 0 for (_, _, d) in blocked)  # the exact dup pair


def test_cosine_dup_pairs_exact_values(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 0.0]),     # cos(1,2) = 1
        (3, [1.0, 1.0, 0.0]),     # cos(1,3) = 1/sqrt(2)
        (4, [0.0, 0.0, 1.0]),     # orthogonal to 1
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = {
        (r["vec_id_a"], r["vec_id_b"]): r["cosine"]
        for r in dedup.cosine_dup_pairs(df, threshold=0.7).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert math.isclose(pairs[(1, 3)], round(1 / math.sqrt(2), 6))
    assert (1, 4) not in pairs
    assert (2, 3) in pairs  # same as (1,3)


def test_cosine_threshold_filters(spark):
    rows = [(1, [1.0, 0.0]), (2, [0.9, 0.1])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    assert dedup.cosine_dup_pairs(df, threshold=0.999).count() == 0
    assert dedup.cosine_dup_pairs(df, threshold=0.9).count() == 1


def test_weighted_simhash_reduces_collisions(spark):
    """On the small-vocabulary fixture corpus, frequency-weighted
    SimHash separates docs whose distinct token SETS collide."""
    from integritychecksforvldbs_spark.sources.loader import load_table

    docs = load_table(spark, "/root/testdata/sf0.001/documents.parquet")
    plain = dedup.simhash_dup_pairs(docs, max_hamming=3).count()
    weighted = dedup.simhash_dup_pairs(docs, max_hamming=3, weighted=True).count()
    assert weighted < plain / 2, (weighted, plain)


def test_weighted_simhash_identical_docs_still_match(corpus):
    sig = {
        r["doc_id"]: r["simhash"]
        for r in dedup.simhash_df(corpus, weighted=True).collect()
    }
    assert sig[1] == sig[2]  # exact dups share the signature


# ---------------------------------------------------------------------------
# duplicate cluster keepers (connected components)
# ---------------------------------------------------------------------------


def test_cluster_keepers_components(spark):
    """Chains, disjoint clusters, and a path long enough to require
    multiple propagation rounds all resolve to the component MIN."""
    pairs = spark.createDataFrame(
        [
            (2, 7), (7, 9),              # chain -> keeper 2
            (20, 21),                    # pair -> keeper 20
            (30, 31), (31, 32), (32, 33), (33, 34), (34, 35),  # 6-path
        ],
        "doc_id_a bigint, doc_id_b bigint",
    )
    got = {
        r["doc_id"]: r["keeper"]
        for r in dedup.duplicate_cluster_keepers(pairs).collect()
    }
    assert got == {
        2: 2, 7: 2, 9: 2,
        20: 20, 21: 20,
        30: 30, 31: 30, 32: 30, 33: 30, 34: 30, 35: 30,
    }


def test_cluster_keepers_on_corpus_pairs(corpus):
    """Keepers over the real LSH pairs: every keeper is in its own
    cluster, is the min member, and members map to exactly one."""
    pairs = dedup.minhash_lsh_pairs(corpus, threshold=0.3)
    labels = dedup.duplicate_cluster_keepers(pairs).collect()
    lab = {r["doc_id"]: r["keeper"] for r in labels}
    edges = [(r["doc_id_a"], r["doc_id_b"]) for r in pairs.collect()]
    assert len(edges) > 0
    for a, b in edges:  # connected nodes share a keeper
        assert lab[a] == lab[b]
    for node, keeper in lab.items():
        assert keeper <= node
        assert lab[keeper] == keeper  # keeper is its own keeper


def test_dedup_survivors_composition(corpus):
    """Survivors = corpus minus non-keepers: exactly one doc per
    duplicate cluster remains (the min id), unpaired docs untouched."""
    pairs = dedup.minhash_lsh_pairs(corpus, threshold=0.3)
    survivors = {r["doc_id"] for r in dedup.dedup_survivors(
        corpus, pairs=pairs).select("doc_id").collect()}
    labels = dedup.duplicate_cluster_keepers(pairs).collect()
    keepers = {r["keeper"] for r in labels}
    members = {r["doc_id"] for r in labels}
    all_ids = {r["doc_id"] for r in corpus.select("doc_id").collect()}
    assert survivors == (all_ids - members) | keepers
    assert keepers <= survivors  # every cluster kept exactly its min


# ---------------------------------------------------------------------------
# SemDeDup: cluster-bounded semantic near-dup pairs
# ---------------------------------------------------------------------------


def _sem_fixture(spark):
    # two well-separated "topics" (x-axis vs z-axis) with near-dups
    # inside each, plus one cross-topic moderate pair that cluster
    # bounding is EXPECTED to drop
    rows = [
        (0, [1.0, 0.0, 0.0]),     # centroid (stride 4): topic A
        (1, [0.99, 0.01, 0.0]),   # near-dup of 0
        (2, [0.98, 0.02, 0.0]),   # near-dup of 0 and 1
        (3, [0.6, 0.0, 0.8]),     # between topics
        (4, [0.0, 0.0, 1.0]),     # centroid (stride 4): topic B
        (5, [0.0, 0.01, 0.99]),   # near-dup of 4
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_semantic_dedup_within_cluster_pairs(spark):
    df = _sem_fixture(spark)
    got = {
        (r["vec_id_a"], r["vec_id_b"]): (r["cluster_id"], r["cosine"])
        for r in dedup.semantic_dedup_pairs(
            df, threshold=0.95, centroid_stride=4
        ).collect()
    }
    # topic-A trio and topic-B pair found, each labeled with its cluster
    assert set(got) >= {(0, 1), (0, 2), (1, 2), (4, 5)}
    assert {got[k][0] for k in [(0, 1), (0, 2), (1, 2)]} == {0}
    assert got[(4, 5)][0] == 4
    assert got[(0, 1)][1] > 0.999


def test_semantic_dedup_subset_of_global(spark):
    """Cluster bounding only DROPS pairs relative to the exact
    quadratic tier — never invents or rescores one."""
    df = _sem_fixture(spark)
    glob = {
        (r["vec_id_a"], r["vec_id_b"]): r["cosine"]
        for r in dedup.cosine_dup_pairs(df, threshold=0.5).collect()
    }
    sem = {
        (r["vec_id_a"], r["vec_id_b"]): r["cosine"]
        for r in dedup.semantic_dedup_pairs(
            df, threshold=0.5, centroid_stride=4
        ).collect()
    }
    assert set(sem) <= set(glob)
    assert all(glob[k] == v for k, v in sem.items())
    # the cross-topic pair (3 sits between clusters) is the dropped one
    assert len(sem) < len(glob)


def test_semantic_dedup_trained_codebook_tier(spark):
    from integritychecksforvldbs_spark.operators.similarity import (
        kmeans_centroids,
    )

    df = _sem_fixture(spark)
    cents = kmeans_centroids(df, k=2, sample=6, iters=5, seed=7)
    out = dedup.semantic_dedup_pairs(df, threshold=0.95, centroids=cents)
    got = {(r["vec_id_a"], r["vec_id_b"]) for r in out.collect()}
    # k-means with k=2 separates the topics; the same near-dup pairs
    # surface, labeled by codebook position instead of stride id
    assert got >= {(0, 1), (0, 2), (1, 2), (4, 5)}
    assert out.columns == ["cluster_id", "vec_id_a", "vec_id_b", "cosine"]


def _cosine_pairs_expr_reference(df, threshold):
    """The pre-kernel expression form, verbatim — the semantic
    reference the vectorized path must match bit-for-bit."""
    nd = dedup.with_norm(df, "embedding").select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("v"), "norm"
    )
    a = nd.select(
        F.col("id").alias("vec_id_a"), F.col("v").alias("va"), F.col("norm").alias("na")
    )
    b = nd.select(
        F.col("id").alias("vec_id_b"), F.col("v").alias("vb"), F.col("norm").alias("nb")
    )
    return (
        a.join(b, F.col("vec_id_a") < F.col("vec_id_b"))
        .select(
            "vec_id_a",
            "vec_id_b",
            (dedup._dot("va", "vb") / (F.col("na") * F.col("nb"))).alias("cos_raw"),
        )
        .filter(F.col("cos_raw") >= threshold)
        .select("vec_id_a", "vec_id_b", F.round("cos_raw", 6).alias("cosine"))
    )


def test_cosine_kernel_bitwise_matches_expression(spark, tmp_path):
    """The vectorized all-pairs kernel reproduces the expression
    path's fold order exactly — including NULL ids/vectors (never
    pair).  The corpus is
    round-tripped through parquet so the expression reference runs on
    a plain scan (a LocalRelation union sends its cartesian down a
    pathologically slow interpreted path — pre-existing, not what
    production queries do)."""
    from integritychecksforvldbs_spark.sources.loader import load_table

    base = load_table(spark, "/root/testdata/sf0.01/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    extra = spark.createDataFrame(
        [
            (None, [1.0, 0.0]),  # NULL id: joins NULL -> no pair
            (9001, None),        # NULL vector: cosine NULL -> dropped
        ],
        "vec_id long, embedding array<float>",
    )
    p = str(tmp_path / "emb_edges")
    base.unionByName(extra).write.parquet(p)
    df = spark.read.parquet(p)
    got = dedup.cosine_dup_pairs(df, threshold=0.45)
    assert "MapInPandas" in got._jdf.queryExecution().executedPlan().toString()
    new = {(r[0], r[1]): r[2] for r in got.collect()}
    ref = {
        (r[0], r[1]): r[2]
        for r in _cosine_pairs_expr_reference(df, threshold=0.45).collect()
    }
    assert new == ref and len(new) > 0


def test_cosine_kernel_fallback_on_zero_norm(spark):
    """A zero-norm vector must keep the expression path's ANSI
    DIVIDE_BY_ZERO behavior, so the kernel declines."""
    rows = [(1, [1.0, 0.0]), (2, [1.0, 0.1]), (3, [0.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = dedup.cosine_dup_pairs(df, threshold=0.9)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        got.collect()


def test_cosine_kernel_fallback_on_ragged_dims(spark):
    """Ragged vector lengths change zip_with's NULL-padding semantics,
    so the kernel must decline and the expression path answer."""
    rows = [(1, [1.0, 0.0]), (2, [1.0, 0.0]), (3, [1.0, 0.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = dedup.cosine_dup_pairs(df, threshold=0.9)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan
    pairs = {(r[0], r[1]) for r in got.collect()}
    assert pairs == {(1, 2)}  # the cross-length pair folds to NULL


def test_cluster_keepers_unionfind_matches_propagation(spark):
    """The bounded union-find fast path returns exactly the converged
    min-label propagation result — exercised on a long chain (worst
    case for propagation rounds), a triangle, and a disjoint pair."""
    edges = (
        [(i, i + 1) for i in range(10, 20)]  # chain: keeper 10 for all
        + [(100, 101), (101, 102), (100, 102)]  # triangle
        + [(7, 5)]  # unordered pair: keeper 5
    )
    pairs = spark.createDataFrame(edges, "doc_id_a long, doc_id_b long")
    fast = dedup.duplicate_cluster_keepers(pairs)
    got = {(r[0], r[1]) for r in fast.collect()}
    # keeper = min id of each component, node set = ids in any edge
    assert {(n, 10) for n in range(10, 21)} <= got
    assert {(100, 100), (101, 100), (102, 100), (5, 5), (7, 5)} <= got
    # int ids decline the fast path and run the distributed propagation
    slow = dedup.duplicate_cluster_keepers(
        pairs.selectExpr(
            "CAST(doc_id_a AS INT) AS doc_id_a", "CAST(doc_id_b AS INT) AS doc_id_b"
        )
    )
    ref = {(int(r[0]), int(r[1])) for r in slow.collect()}
    assert ref == {(int(a), int(b)) for a, b in got}


def test_pair_metrics_round_half_up_matches_duckdb(spark):
    """precision = 1/128 = 0.0078125 exactly: Python round() gives
    0.007812 (banker's), DuckDB and Spark HALF_UP give 0.007813 — the
    metrics must round engine-side."""
    import duckdb

    from integritychecksforvldbs_spark.operators import dedup

    pred = spark.createDataFrame(
        [(i, i + 1000) for i in range(128)], "doc_id_a long, doc_id_b long"
    )
    truth = spark.createDataFrame([(0, 1000)], "doc_id_a long, doc_id_b long")
    row = dedup.pair_set_metrics(pred, truth).collect()[0]
    assert row["precision"] == 0.007813
    want = duckdb.connect().execute("SELECT ROUND(1.0/128, 6)").fetchone()[0]
    assert row["precision"] == want


def _string_shingles(df, n=3):
    sharr = dedup.shingle_arrays(df, "text", "doc_id", n)
    return sharr.select("doc_id", F.explode("sh").alias("shingle"))


def _string_jaccard(df, threshold, n=3):
    return dedup.jaccard_from_scores(
        dedup.pair_scores(_string_shingles(df, n)), threshold
    )


def _string_containment(df, threshold, n=3):
    return dedup.containment_from_scores(
        dedup.pair_scores(_string_shingles(df, n)), threshold
    )


@pytest.fixture(scope="module")
def docs(spark):
    base = loader.load_table(spark, f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    # the raw fixture has no near-dup groups — inject known overlaps so
    # the parity assertions compare non-empty pair sets (plus a short
    # doc to pin the < n-token domain)
    extra = base.sparkSession.createDataFrame(
        [
            (900001, "the quick brown fox jumps over the lazy dog"),
            (900002, "the quick brown fox jumps over the lazy cat"),
            (900003, "the quick brown fox jumps over the lazy dog"),
            (900004, "a b"),
        ],
        "doc_id long, text string",
    )
    return base.unionByName(extra)


def test_ngram_jaccard_hashed_equals_string(spark, docs):
    got = sorted(
        (r["doc_id_a"], r["doc_id_b"], r["jaccard"])
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.2).collect()
    )
    want = sorted(
        (r["doc_id_a"], r["doc_id_b"], r["jaccard"])
        for r in _string_jaccard(docs, 0.2).collect()
    )
    assert got == want and len(got) > 0


def test_ngram_containment_hashed_equals_string(spark, docs):
    got = sorted(
        (r["src_doc_id"], r["dst_doc_id"], r["containment"])
        for r in dedup.ngram_containment_pairs(docs, threshold=0.2).collect()
    )
    want = sorted(
        (r["src_doc_id"], r["dst_doc_id"], r["containment"])
        for r in _string_containment(docs, 0.2).collect()
    )
    assert got == want and len(got) > 0


def test_hashed_shingles_max_df_matches_string_cut(spark, docs):
    # the frequency cut must drop the same GRAMS (hash equality ==
    # string equality on real text): per-doc surviving gram counts agree
    hs = (
        dedup.hashed_shingles(docs, max_df=3)
        .groupBy("doc_id")
        .agg(F.count("*").alias("c"))
    )
    ss = (
        dedup.shingles(docs, max_df=3)
        .groupBy("doc_id")
        .agg(F.count("*").alias("c"))
    )
    got = {(r["doc_id"], r["c"]) for r in hs.collect()}
    want = {(r["doc_id"], r["c"]) for r in ss.collect()}
    assert got == want
