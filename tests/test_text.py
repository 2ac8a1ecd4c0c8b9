"""Text-analysis kernels: hand-computed values on known strings."""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from integritychecksforvldbs_spark.operators import search
from integritychecksforvldbs_spark.operators import text as T


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "The cat sat on the mat."),
        (2, "der hund und die katze sind nicht da"),
        (3, "12345"),
        (4, "!!! ??? ..."),
        (5, "a"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_token_stats_values(docs):
    got = {r["doc_id"]: r.asDict() for r in T.token_stats(docs).collect()}
    assert got[1]["n_tokens_ws"] == 6
    # The|cat|sat|on|the|mat|. -> 6 letter runs + 1 punct
    assert got[1]["n_tokens_regex"] == 7
    assert got[1]["n_chars"] == 23
    # five digits tokenized singly
    assert got[3]["n_tokens_regex"] == 5
    assert got[3]["n_tokens_ws"] == 1
    # punctuation-only: 9 single punct tokens
    assert got[4]["n_tokens_regex"] == 9


def test_quality_score_rubric(docs):
    got = {r["doc_id"]: r.asDict() for r in T.quality_score(docs).collect()}
    # doc 1: 6 tokens, 1 punct / 23 chars; stopwords (lowercased) 'the' x2
    assert got[1]["punct_ratio"] == 1 / 23
    assert math.isclose(got[1]["stopword_ratio"], 2 / 6)
    assert got[1]["quality_score"] == 1.0
    # doc 4: no letters; 9 punct / 11 chars > 0.2, tokens=3 <5
    assert got[4]["quality_score"] < 0.5
    # doc 5: single char -> degenerate but defined
    assert got[5]["punct_ratio"] == 0.0


def test_lang_id(docs):
    got = {r["doc_id"]: r["lang_pred"] for r in T.lang_id(docs).collect()}
    assert got[1] == "en"
    assert got[2] == "de"
    assert got[3] == "und"
    assert got[4] == "und"


def test_fingerprint_matches_python(docs):
    got = {r["doc_id"]: r["fingerprint"] for r in T.fingerprint(docs).collect()}

    def poly(s: str) -> int:
        acc = 0
        for ch in s:
            acc = (acc * T.FP_BASE + ord(ch)) % T.FP_MOD
        return acc

    assert got[1] == poly("The cat sat on the mat.")
    assert got[5] == poly("a")


def test_fingerprint_skips_empty(spark):
    df = spark.createDataFrame([(1, ""), (2, "x")], "doc_id long, text string")
    got = T.fingerprint(df).collect()
    assert [r["doc_id"] for r in got] == [2]


def test_winnow_matches_python(spark):
    s = "abcdefghijklmnop"
    df = spark.createDataFrame([(1, s)], "doc_id long, text string")
    k, w = 8, 4
    got = {r["fingerprint"] for r in T.winnow_fingerprints(df, k=k, window=w).collect()}

    def h(gram: str) -> int:
        return int(hashlib.md5(gram.encode()).hexdigest()[:15], 16)

    hashes = [h(s[i : i + k]) for i in range(len(s) - k + 1)]
    expect = {min(hashes[i : i + w]) for i in range(len(hashes))}
    assert got == expect


def test_winnow_short_text_excluded(spark):
    df = spark.createDataFrame([(1, "short")], "doc_id long, text string")
    assert T.winnow_fingerprints(df, k=8).count() == 0


def test_winnow_identical_docs_same_fingerprints(spark):
    s = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame([(1, s), (2, s)], "doc_id long, text string")
    out = T.winnow_fingerprints(df)
    f1 = {r["fingerprint"] for r in out.filter("doc_id = 1").collect()}
    f2 = {r["fingerprint"] for r in out.filter("doc_id = 2").collect()}
    assert f1 == f2 and f1


def test_repetition_pinned_values(spark):
    df = spark.createDataFrame(
        [(1, "a a a b"), (2, ""), (3, "x"), (4, "x y")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in T.repetition_stats(df).collect()}
    r1 = out[1]  # 2-grams: "a a","a a","a b" -> 1 dup of 3; top token 3/4
    assert r1["n_tokens"] == 4
    assert abs(r1["dup_2gram_frac"] - 1 / 3) < 1e-12
    assert r1["dup_3gram_frac"] == 0.0
    assert r1["top_token_frac"] == 0.75
    # short/empty docs exercise the guarded sequence (round-2 crash class)
    assert (out[2]["n_tokens"], out[2]["dup_2gram_frac"], out[2]["top_token_frac"]) == (0, 0.0, 0.0)
    assert (out[3]["n_tokens"], out[3]["dup_2gram_frac"]) == (1, 0.0)
    assert (out[4]["n_tokens"], out[4]["dup_2gram_frac"], out[4]["dup_3gram_frac"]) == (2, 0.0, 0.0)


def test_repetition_matches_duckdb(tables, duck):
    spark_rows = sorted(tuple(r) for r in T.repetition_stats(tables["documents"]).collect())
    oracle_rows = sorted(duck.execute(T.repetition_stats_oracle()).fetchall())
    assert spark_rows == oracle_rows


# ---------------------------------------------------------------------------
# lm_transition_surprise
# ---------------------------------------------------------------------------


def test_lm_surprise_pinned_values(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "the cat sat"),
            (3, "x"),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in T.lm_transition_surprise(df).collect()}
    # doc1 bigrams: "the cat"(count 2), "cat sat"(2), "sat on"(1),
    # "on the"(1), "the mat"(1) -> 5e5+5e5+1e6+1e6+1e6
    assert out[1]["n_bigrams"] == 5
    assert out[1]["surprise_sum"] == 4_000_000
    assert out[1]["mean_surprise"] == 800_000.0
    assert out[2]["surprise_sum"] == 1_000_000  # both bigrams count 2
    # <2-token docs ride the shuffle-free union branch with NULL mean
    for d in (3, 4):
        assert out[d]["n_bigrams"] == 0
        assert out[d]["surprise_sum"] == 0
        assert out[d]["mean_surprise"] is None


def test_lm_surprise_oov_under_model_cut(spark):
    """k smaller than the distinct-gram count: everything outside the
    deterministic top-k cut pays the full OOV penalty."""
    df = spark.createDataFrame(
        [(1, "a b a b c d")],  # grams: "a b"x2? -> a b, b a, a b, b c, c d
        "doc_id long, text string",
    )
    out = T.lm_transition_surprise(df, k=1).collect()[0]
    # model = top-1 gram = "a b" (count 2); the other 3 grams are OOV
    assert out["n_bigrams"] == 5
    assert out["n_oov"] == 3
    assert out["surprise_sum"] == 2 * 500_000 + 3 * 1_000_000


def test_lm_surprise_external_model(spark):
    """Production shape: score against a model trained on a separate
    reference corpus."""
    ref = spark.createDataFrame(
        [(10, "good prose flows well"), (11, "good prose flows")],
        "doc_id long, text string",
    )
    model = T.lm_bigram_model(ref)
    df = spark.createDataFrame(
        [(1, "good prose flows"), (2, "zz qq ww")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in T.lm_transition_surprise(df, model=model).collect()
    }
    # "good prose"(2), "prose flows"(2) -> all in-vocab
    assert out[1]["n_oov"] == 0
    assert out[1]["surprise_sum"] == 2 * 500_000
    # nothing from doc2 appears in the reference model
    assert out[2]["n_oov"] == 2
    assert out[2]["surprise_sum"] == 2 * 1_000_000


def test_lm_surprise_matches_duckdb(tables, duck):
    a = sorted(
        tuple(r) for r in T.lm_transition_surprise(tables["documents"]).collect()
    )
    b = sorted(duck.execute(T.lm_transition_surprise_oracle()).fetchall())
    assert a == b


# ---------------------------------------------------------------------------
# strip_markup
# ---------------------------------------------------------------------------


def test_strip_markup_pinned(spark):
    df = spark.createDataFrame(
        [
            (1, '<div class="x"><a href="http://e.x">link</a> hi &amp; bye</div>'),
            (2, "plain"),
            (3, ""),
            (4, '<A HREF="y">UP</A> &lt;kept&gt;'),
            (5, "&amp;lt; double-encoded stays"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in T.strip_markup(df).collect()}
    assert out[1]["clean_text"] == "link hi & bye"
    assert out[1]["n_tags"] == 4 and out[1]["n_links"] == 1
    assert out[2]["clean_text"] == "plain" and out[2]["markup_frac"] == 0.0
    assert out[3]["n_chars_raw"] == 0 and out[3]["markup_frac"] == 0.0
    # case-insensitive link detection; entities decode AFTER tag strip
    assert out[4]["n_links"] == 1
    assert out[4]["clean_text"] == "UP <kept>"
    # &amp;lt; decodes to &lt; (amp last), never to a live '<'
    assert out[5]["clean_text"] == "&lt; double-encoded stays"


def test_strip_markup_matches_duckdb(tables, duck):
    a = sorted(tuple(r) for r in T.strip_markup(tables["documents"]).collect())
    b = sorted(duck.execute(T.strip_markup_oracle()).fetchall())
    assert a == b


def test_fingerprint_kernel_equals_expression(spark):
    """The vectorized fingerprint == the interpreted fold, including
    unicode, single-char, empty (filtered), NULL (filtered), and a
    doc longer than the 4096-term modular-sum chunk."""
    from pyspark.sql import functions as F

    from integritychecksforvldbs_spark.operators.text import (
        FP_BASE,
        FP_MOD,
        fingerprint,
    )

    rows = [
        (1, ""),
        (2, None),
        (3, "a"),
        (4, "héllo wörld é中文 𝄞"),
        (5, "xyz " * 3000),
        (6, "The quick brown fox"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    expr = (
        "aggregate(transform(sequence(1, length(text)), "
        "i -> ascii(substring(text, i, 1))), CAST(0 AS BIGINT), "
        f"(acc, x) -> (acc * {FP_BASE} + x) % {FP_MOD})"
    )
    ref = {
        r["doc_id"]: r["fp"]
        for r in df.filter(F.expr("length(text) > 0"))
        .select("doc_id", F.expr(expr).alias("fp"))
        .collect()
    }
    got = {r["doc_id"]: r["fingerprint"] for r in fingerprint(df).collect()}
    assert got == ref
    # non-bigint ids take the expression fallback, same values
    df2 = df.withColumn("doc_id", F.col("doc_id").cast("int"))
    got2 = {r["doc_id"]: r["fingerprint"] for r in fingerprint(df2).collect()}
    assert got2 == ref


def test_token_regex_vertical_tab_agrees_with_oracle(spark, duck):
    """With \\s the engines disagree on \\x0b (Java: VT is
    whitespace; RE2: VT is a token).  The explicit class makes Spark,
    DuckDB, and the Python query tokenizer agree."""
    from integritychecksforvldbs_spark.operators.text import (
        TOKEN_REGEX,
        _spark_re,
    )

    text = "a\x0bb"
    spark_toks = spark.sql(
        f"SELECT regexp_extract_all('a' || chr(11) || 'b',"
        f" '{_spark_re(TOKEN_REGEX)}', 0) AS t"
    ).collect()[0]["t"]
    duck_toks = duck.execute(
        f"SELECT regexp_extract_all('a' || chr(11) || 'b', '{TOKEN_REGEX}')"
    ).fetchall()[0][0]
    py_toks = search.query_terms(text)
    assert list(spark_toks) == list(duck_toks) == ["a", "b"]
    assert py_toks == ["a", "b"]
