"""BM25 keyword retrieval (operators/search.py): brute-force value
parity, edge semantics, determinism, and the plan-shape contract
(broadcast statistics joins, TakeOrderedAndProject top-k)."""

from __future__ import annotations

import json
import math
import os
import re

import pytest

from integritychecksforvldbs_spark.operators import search
from integritychecksforvldbs_spark.sources.bucketing import plan_data_shuffles

CORPUS = [
    (1, "spark merges the window window window"),
    (2, "a tiny doc"),
    (3, "window merge spark spark spark merge window"),
    (4, "nothing relevant here at all in this one"),
    (5, "spark"),
    (6, "the window"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(CORPUS, ["doc_id", "text"])


def _brute_bm25(query: str, k1=search.K1_DEFAULT, b=search.B_DEFAULT):
    """Reference implementation in plain Python."""
    tok = re.compile("[a-z]+|[0-9]|[^a-z0-9\\s]")
    corpus = {i: tok.findall(t.lower()) for i, t in CORPUS}
    n = len(corpus)
    avgdl = sum(len(v) for v in corpus.values()) / n
    terms = sorted(set(tok.findall(query.lower())))
    df_t = {
        t: sum(1 for v in corpus.values() if t in v) for t in terms
    }
    out = {}
    for i, toks in corpus.items():
        s, hit = 0.0, 0
        for t in terms:
            tf = toks.count(t)
            if tf == 0 or df_t[t] == 0:
                continue
            hit += 1
            idf = math.log(1 + (n - df_t[t] + 0.5) / (df_t[t] + 0.5))
            s += idf * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * len(toks) / avgdl))
        if hit:
            out[i] = (hit, round(s, 4))
    return out


def test_bm25_matches_bruteforce(docs):
    got = {
        r["doc_id"]: (r["n_terms_hit"], r["score"])
        for r in search.bm25_scores(docs, "spark window").collect()
    }
    assert got == _brute_bm25("spark window")


def test_bm25_topk_order_and_rank(docs):
    rows = search.bm25_topk(docs, "spark window", k=3).collect()
    want = sorted(
        _brute_bm25("spark window").items(),
        key=lambda kv: (-kv[1][1], kv[0]),
    )[:3]
    assert [(r["rank"], r["doc_id"], r["score"]) for r in rows] == [
        (i + 1, d, s) for i, (d, (_, s)) in enumerate(want)
    ]


def test_bm25_unknown_terms_ignored(docs):
    """A term absent from the corpus changes nothing — same rows, same
    scores (the df join simply never matches)."""
    a = sorted(map(tuple, search.bm25_scores(docs, "spark window").collect()))
    b = sorted(
        map(tuple, search.bm25_scores(docs, "spark window zzzzqqq").collect())
    )
    assert a == b


def test_bm25_empty_query_raises(docs):
    with pytest.raises(ValueError):
        search.bm25_scores(docs, "   ")


def test_bm25_no_match_is_empty(docs):
    assert search.bm25_scores(docs, "zzzzqqq").count() == 0


def test_bm25_plan_shape(docs):
    """With precomputed corpus stats, one query = ONE corpus scan and
    exactly the three candidate-sized shuffles ((doc,term) tf, the
    token-partitioned df window, the per-doc sum); top-k must ride
    TakeOrderedAndProject, never a global sort exchange."""
    stats = search.corpus_stats(docs)
    top = search.bm25_topk(docs, "spark window", k=3, stats=stats)
    plan = top._jdf.queryExecution().executedPlan().toString()
    assert plan_data_shuffles(top) == 3
    assert plan.count("Scan ExistingRDD") == 1  # corpus read once
    assert "TakeOrderedAndProject" in plan


def test_bm25_stats_reuse_matches_inline(docs):
    """Passing precomputed stats must not change a single score."""
    stats = search.corpus_stats(docs)
    a = sorted(map(tuple, search.bm25_scores(docs, "spark window").collect()))
    b = sorted(
        map(
            tuple,
            search.bm25_scores(docs, "spark window", stats=stats).collect(),
        )
    )
    assert a == b


def test_indexed_bm25_equals_direct(spark, tmp_path):
    """The materialized index answers identically to the direct scan."""
    docs = spark.createDataFrame(CORPUS, ["doc_id", "text"])
    idx = str(tmp_path / "bm25_idx")
    search.build_bm25_index(spark, docs, idx)
    for q in ("spark window", "merge", "window tiny doc"):
        direct = [tuple(r) for r in search.bm25_topk(docs, q, k=4).collect()]
        indexed = [
            tuple(r)
            for r in search.bm25_topk_indexed(spark, idx, q, k=4).collect()
        ]
        assert direct == indexed


def test_indexed_bm25_pushes_token_filter(spark, tmp_path):
    """The query must never read the corpus: the plan scans postings
    with the token IN predicate pushed to the parquet reader."""
    docs = spark.createDataFrame(CORPUS, ["doc_id", "text"])
    idx = str(tmp_path / "bm25_idx2")
    search.build_bm25_index(spark, docs, idx)
    top = search.bm25_topk_indexed(spark, idx, "spark window", k=3)
    plan = top._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [In(token" in plan
    assert "text" not in top.columns


# ---------------------------------------------------------------------------
# incremental index maintenance (round-6: append → new segment)
# ---------------------------------------------------------------------------


def _write_corpus(spark, path, rows):
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(
        1
    ).write.mode("append").parquet(path)


def test_refresh_appends_segment_and_matches_rebuild(spark, tmp_path):
    """After an append, the refreshed index answers EXACTLY like a
    fresh rebuild and like the direct corpus scan — df_t, N, avgdl all
    merged exactly."""
    corpus = str(tmp_path / "corpus")
    _write_corpus(spark, corpus, [(1, "spark window merge"), (2, "spark sort")])
    idx = str(tmp_path / "idx")
    search.build_bm25_index(
        spark, spark.read.parquet(corpus), idx, corpus_path=corpus
    )
    before = [
        tuple(r)
        for r in search.bm25_topk_indexed(spark, idx, "spark merge", k=10).collect()
    ]

    _write_corpus(spark, corpus, [(3, "merge merge window"), (4, "")])
    assert search.refresh_bm25_index(spark, corpus, idx) == "appended"
    man = search._read_manifest(spark, idx)
    assert len(man["segments"]) == 2 and man["n_docs"] == 4

    got = [
        tuple(r)
        for r in search.bm25_topk_indexed(spark, idx, "spark merge", k=10).collect()
    ]
    assert got != before  # the appended docs really participate
    rebuilt = str(tmp_path / "idx_rebuilt")
    search.build_bm25_index(
        spark, spark.read.parquet(corpus), rebuilt, corpus_path=corpus
    )
    want_idx = [
        tuple(r)
        for r in search.bm25_topk_indexed(
            spark, rebuilt, "spark merge", k=10
        ).collect()
    ]
    want_direct = [
        tuple(r)
        for r in search.bm25_topk(
            spark.read.parquet(corpus), "spark merge", k=10
        ).collect()
    ]
    assert got == want_idx == want_direct


def test_refresh_noop_when_unchanged(spark, tmp_path):
    corpus = str(tmp_path / "corpus")
    _write_corpus(spark, corpus, [(1, "spark window")])
    idx = str(tmp_path / "idx")
    search.build_bm25_index(
        spark, spark.read.parquet(corpus), idx, corpus_path=corpus
    )
    a = [tuple(r) for r in search.bm25_topk_indexed(spark, idx, "spark").collect()]
    assert search.refresh_bm25_index(spark, corpus, idx) == "noop"
    b = [tuple(r) for r in search.bm25_topk_indexed(spark, idx, "spark").collect()]
    assert a == b


def test_refresh_rebuilds_on_inplace_rewrite(spark, tmp_path):
    """A size-changed existing file breaks the append contract — the
    refresh must fall back to a full rebuild, never merge blindly."""
    corpus = str(tmp_path / "corpus")
    _write_corpus(spark, corpus, [(1, "spark window"), (2, "merge sort")])
    idx = str(tmp_path / "idx")
    search.build_bm25_index(
        spark, spark.read.parquet(corpus), idx, corpus_path=corpus
    )
    # in-place rewrite: different docs, different size
    import shutil

    shutil.rmtree(corpus)
    _write_corpus(
        spark, corpus,
        [(10, "window window window spark"), (11, "sort"), (12, "spark")],
    )
    assert search.refresh_bm25_index(spark, corpus, idx) == "rebuilt"
    got = [
        tuple(r)
        for r in search.bm25_topk_indexed(spark, idx, "spark window").collect()
    ]
    want = [
        tuple(r)
        for r in search.bm25_topk(
            spark.read.parquet(corpus), "spark window"
        ).collect()
    ]
    assert got == want


def test_refresh_without_manifest_files_rebuilds(spark, tmp_path):
    """An index built from a DataFrame (no corpus_path) has no file
    manifest to reconcile — refresh degrades to a rebuild."""
    corpus = str(tmp_path / "corpus")
    _write_corpus(spark, corpus, [(1, "spark")])
    idx = str(tmp_path / "idx")
    search.build_bm25_index(spark, spark.read.parquet(corpus), idx)
    assert search.refresh_bm25_index(spark, corpus, idx) == "rebuilt"
    assert search._read_manifest(spark, idx)["files"] is not None


def test_vacuum_removes_only_orphan_segments(spark, tmp_path):
    """A crash between segment write and manifest commit leaves an
    orphan; vacuum reclaims it and NEVER touches manifested segments
    (results identical before/after)."""
    corpus = str(tmp_path / "corpus")
    _write_corpus(spark, corpus, [(1, "spark window"), (2, "merge spark")])
    idx = str(tmp_path / "idx")
    search.build_bm25_index(
        spark, spark.read.parquet(corpus), idx, corpus_path=corpus
    )
    # simulate the crash: a segment written but never manifested
    spark.createDataFrame(
        [("ghost", 99, 1, 1)], "token string, doc_id long, tf long, dl long"
    ).write.parquet(f"{idx}/postings/seg_99999")
    before = [
        tuple(r) for r in search.bm25_topk_indexed(spark, idx, "spark").collect()
    ]
    removed = search.vacuum_bm25_index(spark, idx)
    assert removed == ["seg_99999"]
    import os

    assert not os.path.exists(f"{idx}/postings/seg_99999")
    assert os.path.exists(f"{idx}/postings/seg_00000")
    after = [
        tuple(r) for r in search.bm25_topk_indexed(spark, idx, "spark").collect()
    ]
    assert before == after
    assert search.vacuum_bm25_index(spark, idx) == []  # idempotent


def test_query_terms_ascii_whitespace_matches_corpus_tokenizer(spark):
    """Java/DuckDB \\s is ASCII-only, so NBSP is a
    corpus TOKEN; the Python query tokenizer must produce it too."""
    text = "hello world"
    got = search.query_terms(text)
    assert " " in got  # Python's Unicode \s would swallow it
    corpus_side = spark.sql(
        "SELECT regexp_extract_all(lower('hello world'),"
        " '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\\\s]', 0) AS t"
    ).collect()[0]["t"]
    assert sorted(set(corpus_side)) == got
    # end-to-end: the NBSP-bearing doc scores on the NBSP term
    docs = spark.createDataFrame(
        [(1, text), (2, "hello world")], "doc_id long, text string"
    )
    scored = {
        r["doc_id"]: r["n_terms_hit"]
        for r in search.bm25_scores(docs, text).collect()
    }
    assert scored[1] == 3 and scored[2] == 2


def test_bm25_quote_bearing_query(spark, tmp_path):
    """\"don't\" tokenizes to a bare apostrophe term; the term list
    must not be interpolated into SQL (that raised a ParseException)."""
    docs = spark.createDataFrame(
        [(1, "don't panic"), (2, "do panic"), (3, "don t")],
        "doc_id long, text string",
    )
    got = {r["doc_id"] for r in search.bm25_scores(docs, "don't").collect()}
    assert got == {1, 3}  # docs containing don / ' / t
    idx = str(tmp_path / "qidx")
    search.build_bm25_index(spark, docs, idx)
    direct = [tuple(r) for r in search.bm25_topk(docs, "don't", k=3).collect()]
    indexed = [
        tuple(r) for r in search.bm25_topk_indexed(spark, idx, "don't", k=3).collect()
    ]
    assert direct == indexed
    # and the oracle SQL stays parseable with the quoted term inlined
    import duckdb

    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    want = con.execute(search.bm25_oracle("don't", k=3)).fetchall()
    assert [tuple(r) for r in direct] == [tuple(r) for r in want]


def test_indexed_bm25_with_empty_docs_matches_direct(spark, tmp_path):
    """Zero-token documents count toward N and avgdl; index stats must
    come from the corpus, not the postings (or the scores drift)."""
    docs = spark.createDataFrame(
        [(1, "spark window"), (2, ""), (3, "   "), (4, "spark")],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "eidx")
    search.build_bm25_index(spark, docs, idx)
    stats = spark.read.parquet(f"{idx}/stats").collect()[0]
    assert stats["n_docs"] == 4  # not 2
    direct = [tuple(r) for r in search.bm25_topk(docs, "spark", k=4).collect()]
    indexed = [
        tuple(r)
        for r in search.bm25_topk_indexed(spark, idx, "spark", k=4).collect()
    ]
    assert direct == indexed


def test_manifest_commit_is_crash_recoverable(spark, tmp_path):
    """The manifest commit must be a rename-aside swap, not
    a truncating overwrite — a crash mid-commit leaves either the old
    manifest or a restorable .bak, never a destroyed index."""
    corpus = str(tmp_path / "corpus")
    _write_corpus(spark, corpus, [(1, "spark window")])
    idx = str(tmp_path / "idx")
    search.build_bm25_index(
        spark, spark.read.parquet(corpus), idx, corpus_path=corpus
    )
    man_path = f"{idx}/manifest.json"
    good = open(man_path).read()
    # simulate the crash window: old manifest renamed aside, new one
    # not yet renamed in (plus a torn tmp from the dying writer)
    os.rename(man_path, man_path + ".bak")
    with open(man_path + ".tmp", "w") as f:
        f.write('{"segments": [')  # torn
    man = search._read_manifest(spark, idx)
    assert man is not None and json.dumps(man) == json.dumps(json.loads(good))
    assert os.path.exists(man_path)  # .bak recovered into place
    top = search.bm25_topk_indexed(spark, idx, "spark")
    assert top.count() == 1


def test_vacuum_refuses_without_manifest(spark, tmp_path):
    """'No committed manifest' must NOT read as 'no live
    segments' — vacuum refuses instead of deleting a recoverable
    index wholesale."""
    corpus = str(tmp_path / "corpus")
    _write_corpus(spark, corpus, [(1, "spark window")])
    idx = str(tmp_path / "idx")
    search.build_bm25_index(
        spark, spark.read.parquet(corpus), idx, corpus_path=corpus
    )
    os.remove(f"{idx}/manifest.json")  # torn-commit end state
    assert search.vacuum_bm25_index(spark, idx) == []
    assert os.path.exists(f"{idx}/postings/seg_00000")  # untouched
