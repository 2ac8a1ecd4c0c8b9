"""Keyword retrieval over the document corpus (north star extension).

BM25 (Robertson/Spärck Jones; the Lucene ``k1``/``b`` variant with the
non-negative ``ln(1 + (N - df + 0.5)/(df + 0.5))`` idf) as a pure
DataFrame pipeline — the retrieval side of a training-data stack
(query-based corpus audits, contamination probes, eval-set mining).

Plan shape, built for 100 TB:

- the corpus scalars (``N``, ``avgdl``) are an explicit one-row
  pre-pass (:func:`corpus_stats`) inlined as literals — exactly the
  statistics a search index precomputes once; pass them in and every
  query costs ONE corpus scan;
- the query's term set is tiny and inlined as a literal ``IN`` list —
  the per-document token filter is row-local, so the only exploded
  rows that ever reach a shuffle are *query-term* occurrences, a
  vanishing fraction of the corpus token stream;
- document length (``dl``) is computed row-locally from the same
  ``regexp_extract_all`` array (no explode, no second scan);
- ``(doc, term)`` term frequencies are one map-side-combined groupBy;
  document frequency is a ``count() OVER (PARTITION BY token)`` window
  on that already-candidate-sized stream — NOT a recomputed branch, so
  the corpus is never rescanned (the naive two-branch formulation
  triples the scan count; plan-pinned by tests);
- top-k is ``orderBy(...).limit(k)`` — Spark plans
  TakeOrderedAndProject (per-partition heaps, no global sort); the
  rank column is a window over the already-collected k rows.

Cross-engine determinism: scores are ROUNDed to ``round_to`` decimals
and the ordering key is the *rounded* score (ties broken by doc_id),
so Spark and DuckDB agree even when their ``ln`` differs in the last
ulp.  The reference has no retrieval surface; this module extends the
engine's text family (SURVEY §2 north-star scope).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from integritychecksforvldbs_spark.operators.text import TOKEN_REGEX, _spark_re

K1_DEFAULT = 1.2
B_DEFAULT = 0.75

# Mirror of TOKEN_REGEX (operators/text.py), whose whitespace is the
# explicit class [ \t\n\x0b\f\r]: Python's \s is Unicode (swallows
# NBSP etc.), Java's \s adds \x0B, RE2's \s lacks it — only the
# spelled-out class makes the query tokenizer, the Spark corpus
# tokenizer, and the DuckDB oracle agree byte-for-byte.
_PY_TOKEN_RE = re.compile("[a-z]+|[0-9]|[^a-z0-9 \t\n\x0b\f\r]")


def query_terms(query: str) -> list[str]:
    """Tokenize a query string exactly like the corpus tokenizer
    (TOKEN_REGEX over lowercased text); unique terms, sorted."""
    return sorted(set(_PY_TOKEN_RE.findall(query.lower())))


def _bm25_weight(n_docs: int, avgdl: float, k1: float, b: float):
    """Per-(doc, term) BM25 contribution over columns ``tf``, ``dl``,
    ``df_t`` — shared by the direct-scan and indexed paths so the two
    can never drift."""
    return (
        F.log(
            F.lit(1.0)
            + (F.lit(n_docs) - F.col("df_t") + F.lit(0.5))
            / (F.col("df_t") + F.lit(0.5))
        )
        * (F.col("tf") * F.lit(k1 + 1.0))
        / (
            F.col("tf")
            + F.lit(k1)
            * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(avgdl))
        )
    )


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Top-k of a (doc_id, n_terms_hit, score) frame with a rank
    column: orderBy+limit plans TakeOrderedAndProject; the rank window
    runs over the k surviving rows only."""
    top = scored.orderBy(F.col("score").desc(), "doc_id").limit(k)
    rank_w = Window.orderBy(F.col("score").desc(), "doc_id")
    return top.select(
        F.row_number().over(rank_w).cast("long").alias("rank"),
        "doc_id",
        "n_terms_hit",
        "score",
    )


def corpus_stats(
    df: DataFrame, text_col: str = "text"
) -> tuple[int, float]:
    """One-row pre-pass over the corpus: ``(n_docs, avgdl)`` where
    ``dl`` is the regex-token document length.  Compute once per
    corpus (the index-statistics step) and pass to every
    :func:`bm25_scores` / :func:`bm25_topk` call — each query then
    costs a single corpus scan."""
    dl = F.expr(
        f"CAST(size(regexp_extract_all(lower({text_col}),"
        f" '{_spark_re(TOKEN_REGEX)}', 0)) AS BIGINT)"
    )
    row = df.select(dl.alias("dl")).agg(
        F.count("*").cast("long").alias("n_docs"), F.avg("dl").alias("avgdl")
    ).collect()[0]
    return int(row["n_docs"]), float(row["avgdl"])


def bm25_scores(
    df: DataFrame,
    query: str,
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_to: int = 4,
    stats: tuple[int, float] | None = None,
) -> DataFrame:
    """BM25 score for every document matching ≥1 query term:
    ``(doc_id, n_terms_hit, score)``.

    Documents hitting no term are absent (score 0 by definition);
    unknown query terms contribute nothing in either engine.
    ``stats`` is the :func:`corpus_stats` pair; omitted, it is
    computed here (one extra pre-pass).
    """
    terms = query_terms(query)
    if not terms:
        raise ValueError("query has no tokens")
    n_docs, avgdl = stats if stats is not None else corpus_stats(df, text_col)
    toks = F.expr(
        f"regexp_extract_all(lower({text_col}), '{_spark_re(TOKEN_REGEX)}', 0)"
    )
    # Column-API filter, not SQL interpolation: punctuation tokens
    # ("don't" tokenizes to a bare quote) must not break the plan
    base = df.select(F.col(id_col).alias("doc_id"), toks.alias("toks")).select(
        "doc_id",
        F.expr("CAST(size(toks) AS BIGINT)").alias("dl"),
        F.filter("toks", lambda x: x.isin(terms)).alias("qtoks"),
    )
    tf = (
        base.select("doc_id", "dl", F.explode("qtoks").alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").cast("long").alias("tf"), F.min("dl").alias("dl"))
    )
    tfd = tf.withColumn(
        "df_t", F.count("*").over(Window.partitionBy("token")).cast("long")
    )
    return tfd.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_terms_hit"),
        F.round(F.sum(_bm25_weight(n_docs, avgdl, k1, b)), round_to).alias(
            "score"
        ),
    )


def bm25_topk(
    df: DataFrame,
    query: str,
    k: int = 10,
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_to: int = 4,
    stats: tuple[int, float] | None = None,
) -> DataFrame:
    """Top-``k`` documents by BM25: ``(rank, doc_id, n_terms_hit,
    score)``, rank 1 = best; rounded-score ties break by doc_id.

    orderBy+limit plans TakeOrderedAndProject; the rank window runs
    over k rows only.
    """
    return _rank_topk(
        bm25_scores(df, query, k1, b, text_col, id_col, round_to, stats), k
    )


def bm25_oracle(
    query: str,
    k: int = 10,
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
    table: str = "documents",
    round_to: int = 4,
) -> str:
    """DuckDB SQL computing the identical top-k (rounded scores, same
    tie-break)."""
    terms = query_terms(query)
    # SQL-standard quote doubling: punctuation terms include '
    tlist = ", ".join("'{}'".format(t.replace("'", "''")) for t in terms)
    return f"""
WITH base AS (
  SELECT doc_id,
         regexp_extract_all(lower(text), '{TOKEN_REGEX}') AS toks
  FROM {table}
),
d AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS dl,
         list_filter(toks, x -> x IN ({tlist})) AS qtoks
  FROM base
),
scal AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, AVG(dl) AS avgdl FROM d),
tf AS (
  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf, MIN(dl) AS dl
  FROM (SELECT doc_id, dl, unnest(qtoks) AS token FROM d)
  GROUP BY doc_id, token
),
dfreq AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df_t FROM tf GROUP BY token),
scored AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_terms_hit,
         ROUND(SUM(
           ln(1 + (n_docs - df_t + 0.5) / (df_t + 0.5))
           * (tf * ({k1} + 1)) / (tf + {k1} * (1 - {b} + {b} * dl / avgdl))
         ), {round_to}) AS score
  FROM tf JOIN dfreq USING (token) CROSS JOIN scal
  GROUP BY doc_id
)
SELECT * FROM (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank,
         doc_id, n_terms_hit, score
  FROM scored
) WHERE rank <= {k}
"""


# ---------------------------------------------------------------------------
# materialized inverted index — query without touching the corpus;
# segmented (Lucene-style) so appends never rewrite existing postings
# ---------------------------------------------------------------------------

def _index_manifest_path(index_path: str) -> str:
    return f"{index_path}/manifest.json"


def _read_manifest(spark, index_path: str) -> dict | None:
    """The committed index state; ``None`` when no commit exists.
    The commit itself is a rename-aside swap (see
    :func:`_commit_manifest`), so a crash mid-commit leaves either
    the old manifest or a restorable ``.bak`` — recovered here —
    never a torn file standing in for the index state."""
    import json

    from integritychecksforvldbs_spark.sources.catalog import (
        _fs_and_path,
        read_text_file,
        rename_or_raise,
    )

    path = _index_manifest_path(index_path)
    fs, h_man = _fs_and_path(spark, path)
    _, h_bak = _fs_and_path(spark, path + ".bak")
    if not fs.exists(h_man) and fs.exists(h_bak):
        rename_or_raise(fs, h_bak, h_man)  # recover a crashed swap
    raw = read_text_file(spark, path)
    if not raw:
        return None
    try:
        return json.loads(raw)
    except json.JSONDecodeError:
        return None


def _write_segment(
    spark, df: DataFrame, index_path: str, seg: str, text_col: str, id_col: str
) -> tuple[int, int]:
    """Materialize ONE index segment from ``df``: token-range-sorted
    ``postings/{seg}`` plus its vocabulary-sized ``dfreq/{seg}``.
    Returns the exact ``(n_docs, sum_dl)`` of the segment's documents
    (from the corpus slice, NOT the postings — zero-token documents
    produce no postings but still count toward N and avgdl)."""
    from integritychecksforvldbs_spark.sources.maintenance import (
        write_stats_friendly,
    )

    toks = F.expr(
        f"regexp_extract_all(lower({text_col}), '{_spark_re(TOKEN_REGEX)}', 0)"
    )
    base = df.select(F.col(id_col).alias("doc_id"), toks.alias("toks")).select(
        "doc_id",
        F.expr("CAST(size(toks) AS BIGINT)").alias("dl"),
        F.explode("toks").alias("token"),
    )
    postings = (
        base.groupBy("token", "doc_id")
        .agg(F.count("*").cast("long").alias("tf"), F.min("dl").alias("dl"))
    )
    n_out = max(1, spark.sparkContext.defaultParallelism // 2)
    write_stats_friendly(
        spark,
        postings.repartitionByRange(n_out, "token").sortWithinPartitions(
            "token", "doc_id"
        ),
        f"{index_path}/postings/{seg}",
    )
    postings_r = spark.read.parquet(f"{index_path}/postings/{seg}")
    write_stats_friendly(
        spark,
        postings_r.groupBy("token")
        .agg(F.count("*").cast("long").alias("df_t"))
        .coalesce(1),
        f"{index_path}/dfreq/{seg}",
    )
    row = df.select(
        F.expr(
            f"CAST(size(regexp_extract_all(lower({text_col}),"
            f" '{_spark_re(TOKEN_REGEX)}', 0)) AS BIGINT)"
        ).alias("dl")
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("s"),
    ).collect()[0]
    return int(row["n"]), int(row["s"])


def _commit_manifest(spark, index_path: str, manifest: dict) -> None:
    """The commit point: segments written but not yet manifested are
    invisible to readers (a crash leaves orphan segment dirs — disk
    waste, never wrong answers).  The manifest itself installs via
    the rename-aside swap (write ``.tmp``, old aside to ``.bak``,
    rename in, drop ``.bak``) — an in-place truncating overwrite
    would let a crash mid-commit destroy the PREVIOUS commit, turning
    a recoverable index into a forced rebuild.  ``stats/`` is
    refreshed AFTER the commit as a display-compat sidecar
    (``table_cli bm25-index`` reads it); queries derive N/avgdl from
    the manifest's exact integers."""
    import json

    from integritychecksforvldbs_spark.sources.catalog import (
        _fs_and_path,
        rename_or_raise,
        write_text_file,
    )
    from integritychecksforvldbs_spark.sources.maintenance import (
        write_stats_friendly,
    )

    path = _index_manifest_path(index_path)
    write_text_file(spark, path + ".tmp", json.dumps(manifest))
    fs, h_man = _fs_and_path(spark, path)
    _, h_tmp = _fs_and_path(spark, path + ".tmp")
    _, h_bak = _fs_and_path(spark, path + ".bak")
    if fs.exists(h_bak):
        fs.delete(h_bak, True)
    if fs.exists(h_man):
        rename_or_raise(fs, h_man, h_bak)
    rename_or_raise(fs, h_tmp, h_man)
    if fs.exists(h_bak):
        fs.delete(h_bak, True)
    n, s = manifest["n_docs"], manifest["sum_dl"]
    write_stats_friendly(
        spark,
        spark.createDataFrame(
            [(n, (s / n) if n else 0.0)], "n_docs long, avgdl double"
        ),
        f"{index_path}/stats",
    )


def _next_segment_name(spark, index_path: str) -> str:
    """Numbered past every segment DIRECTORY present (manifested or
    orphaned-by-crash) so a retry never writes into a dirty dir."""
    from integritychecksforvldbs_spark.sources.catalog import _fs_and_path

    fs, hpath = _fs_and_path(spark, f"{index_path}/postings")
    n = -1
    if fs.exists(hpath):
        for st in fs.listStatus(hpath):
            name = st.getPath().getName()
            if name.startswith("seg_") and name[4:].isdigit():
                n = max(n, int(name[4:]))
    return f"seg_{n + 1:05d}"


def build_bm25_index(
    spark,
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    corpus_path: str | None = None,
) -> None:
    """Materialize the inverted index under ``path``: one segment of
    ``postings/`` ``(token, doc_id, tf, dl)`` written **token-sorted**
    (range exchange + within-file sort, so every file covers a
    disjoint token range and a query's ``token IN (...)`` predicate
    skips whole files via footer min/max + row-group pushdown), its
    ``dfreq/`` ``(token, df_t)`` (vocabulary-sized), ``stats/`` (one
    display row), and ``manifest.json`` — the commit point listing
    live segments and, when ``corpus_path`` is given, the (canonical
    path, size) of every corpus file indexed, which is what
    :func:`refresh_bm25_index` reconciles appends against.

    Build cost: one corpus scan, one explode, one (doc,token) groupBy,
    one vocabulary groupBy — then every query runs WITHOUT the corpus:
    its cost is the pruned postings read, which for natural-language
    vocabularies is a vanishing slice of the index.
    """
    files = None
    if corpus_path is not None:
        from integritychecksforvldbs_spark.sources.catalog import (
            _canon_file_path,
            list_parquet_files,
        )

        files = [
            [_canon_file_path(f.path), f.size]
            for f in list_parquet_files(spark, corpus_path)
        ]
    seg = _next_segment_name(spark, path)
    n_docs, sum_dl = _write_segment(spark, df, path, seg, text_col, id_col)
    _commit_manifest(
        spark, path,
        {"segments": [seg], "files": files, "n_docs": n_docs, "sum_dl": sum_dl,
         "text_col": text_col, "id_col": id_col},
    )


def refresh_bm25_index(
    spark,
    corpus_path: str,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """Bring an index up to date with its corpus INCREMENTALLY: files
    new since the last build/refresh become one NEW segment (postings
    + dfreq written additively — existing segments are never read or
    rewritten), exact corpus stats merge by integer addition, and the
    manifest replace commits it all at once.  Returns ``"noop"``,
    ``"appended"``, or ``"rebuilt"``.

    Reconciliation mirrors the incremental-CHECKTABLE state contract
    (``kernels._file_partials``): a corpus file is KNOWN
    when both its canonical path and size match the manifest.  The
    append-only contract: new files carry NEW doc_ids (the same
    assumption segmented text indexes make); a vanished or
    size-changed file means the corpus was rewritten in place, and
    the refresh falls back to a full rebuild — correct for every
    mutation, incremental for the append-mostly common case.
    """
    from integritychecksforvldbs_spark.sources.catalog import (
        _canon_file_path,
        list_parquet_files,
    )
    from integritychecksforvldbs_spark.sources.loader import load_table

    man = _read_manifest(spark, index_path)
    live = {
        _canon_file_path(f.path): (f.path, f.size)
        for f in list_parquet_files(spark, corpus_path)
    }
    if man is None or man.get("files") is None:
        build_bm25_index(
            spark, load_table(spark, corpus_path), index_path,
            text_col=text_col, id_col=id_col, corpus_path=corpus_path,
        )
        return "rebuilt"
    known = {p: sz for p, sz in man["files"]}
    mutated = any(
        p not in live or live[p][1] != sz for p, sz in known.items()
    )
    if mutated:
        build_bm25_index(
            spark, load_table(spark, corpus_path), index_path,
            text_col=text_col, id_col=id_col, corpus_path=corpus_path,
        )
        return "rebuilt"
    new_orig = [orig for p, (orig, _sz) in live.items() if p not in known]
    if not new_orig:
        return "noop"
    seg = _next_segment_name(spark, index_path)
    n_new, dl_new = _write_segment(
        spark, load_table(spark, *sorted(new_orig)), index_path, seg,
        text_col, id_col,
    )
    _commit_manifest(
        spark, index_path,
        {
            "segments": man["segments"] + [seg],
            "files": [[p, sz] for p, (_o, sz) in sorted(live.items())],
            "n_docs": man["n_docs"] + n_new,
            "sum_dl": man["sum_dl"] + dl_new,
            "text_col": text_col,
            "id_col": id_col,
        },
    )
    return "appended"


def vacuum_bm25_index(spark, index_path: str) -> list[str]:
    """Remove segment directories the manifest does not reference —
    the orphans a crash between segment write and manifest commit
    leaves behind (readers never see them; this reclaims the disk).
    Returns the removed segment names.  Safe under the one-writer
    contract: only the writer that owns refresh/build should vacuum,
    and never concurrently with an in-flight refresh (whose new
    segment is, by definition, not yet manifested)."""
    from integritychecksforvldbs_spark.sources.catalog import _fs_and_path

    man = _read_manifest(spark, index_path)
    if man is None:
        # no committed manifest (never built, or mid-commit crash the
        # .bak recovery couldn't resolve) — refusing is the only safe
        # answer: "no manifest" must NOT read as "no live segments",
        # or vacuum would delete a recoverable index wholesale
        return []
    live = set(man["segments"])
    removed: list[str] = []
    for family in ("postings", "dfreq"):
        fs, hpath = _fs_and_path(spark, f"{index_path}/{family}")
        if not fs.exists(hpath):
            continue
        for st in fs.listStatus(hpath):
            name = st.getPath().getName()
            if name.startswith("seg_") and name not in live:
                fs.delete(st.getPath(), True)
                if name not in removed:
                    removed.append(name)
    return sorted(removed)


def bm25_topk_indexed(
    spark,
    index_path: str,
    query: str,
    k: int = 10,
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
    round_to: int = 4,
) -> DataFrame:
    """Top-k BM25 from a :func:`build_bm25_index` layout — identical
    output contract to :func:`bm25_topk` (equality is pinned by
    tests), but the corpus is never read: the query plans a pruned
    scan of the manifested postings segments (``token IN`` reaches the
    parquet reader as a pushed filter over token-sorted files) joined
    broadcast with the matching ``dfreq`` rows (summed across
    segments — appended docs are new, so per-segment document
    frequencies add exactly).

    Caveat (documented contract): results reflect the corpus AS OF
    the last build/refresh.
    """
    terms = query_terms(query)
    if not terms:
        raise ValueError("query has no tokens")
    man = _read_manifest(spark, index_path)
    if man is None:
        raise FileNotFoundError(
            f"no committed index manifest under {index_path!r} — "
            "build_bm25_index first"
        )
    n_docs = int(man["n_docs"])
    avgdl = (man["sum_dl"] / n_docs) if n_docs else 0.0
    postings = spark.read.parquet(
        *[f"{index_path}/postings/{s}" for s in man["segments"]]
    ).filter(F.col("token").isin(terms))
    dfreq = (
        spark.read.parquet(
            *[f"{index_path}/dfreq/{s}" for s in man["segments"]]
        )
        .filter(F.col("token").isin(terms))
        .groupBy("token")
        .agg(F.sum("df_t").cast("long").alias("df_t"))
    )
    scored = (
        postings.join(F.broadcast(dfreq), "token")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_terms_hit"),
            F.round(
                F.sum(_bm25_weight(n_docs, avgdl, k1, b)), round_to
            ).alias("score"),
        )
    )
    return _rank_topk(scored, k)
