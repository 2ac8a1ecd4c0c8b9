"""Round-14 optimization guards and parity pins.

- local_relation non-finite doubles / numpy scalars (ADVICE r13 medium)
- load_table multi-path nanos probing (VERDICT r13 #9)
- schema-memo key isolation across schema-affecting confs (ADVICE r13)
- exact dedup tiers over hashed grams == the string-gram arithmetic
  (the r14 narrower-shuffle-key change must not move a single value)
"""

import math
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from integritychecksforvldbs_spark.functions.planutil import local_relation
from integritychecksforvldbs_spark.operators import dedup
from integritychecksforvldbs_spark.sources import loader


# ---------------------------------------------------------------------------
# local_relation: non-finite doubles and numpy scalars
# ---------------------------------------------------------------------------


def test_local_relation_non_finite_doubles(spark):
    rows = [
        (1, float("nan")),
        (2, float("inf")),
        (3, float("-inf")),
        (4, 0.5),
        (5, None),
    ]
    df = local_relation(spark, rows, [("id", "BIGINT"), ("v", "DOUBLE")])
    got = {r["id"]: r["v"] for r in df.collect()}
    assert math.isnan(got[1])
    assert got[2] == float("inf")
    assert got[3] == float("-inf")
    assert got[4] == 0.5
    assert got[5] is None


def test_local_relation_numpy_scalars(spark):
    rows = [(np.int64(7), np.float64(1.25), np.float32(2.0))]
    df = local_relation(
        spark, rows, [("a", "BIGINT"), ("b", "DOUBLE"), ("c", "DOUBLE")]
    )
    r = df.collect()[0]
    assert (r["a"], r["b"], r["c"]) == (7, 1.25, 2.0)


def test_local_relation_nan_inside_array(spark):
    df = local_relation(
        spark,
        [(1, [1.0, float("nan"), float("inf")])],
        [("id", "BIGINT"), ("v", "ARRAY<DOUBLE>")],
    )
    v = df.collect()[0]["v"]
    assert math.isnan(v[1]) and v[2] == float("inf")


# ---------------------------------------------------------------------------
# loader: multi-path nanos probing + conf-scoped schema memo
# ---------------------------------------------------------------------------


def test_load_table_multipath_nanos_second_file(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    ns_val = 1_700_000_000_000_000_123  # epoch nanos
    first = str(tmp_path / "first.parquet")
    second = str(tmp_path / "second.parquet")
    # only the SECOND file's footer declares TIMESTAMP(NANOS); the
    # first carries the same values as raw int64 (what nanosAsLong
    # reads them as).  Pre-fix, only paths[0] was probed, the plain
    # branch was taken, and the vectorized reader threw
    # PARQUET_TYPE_ILLEGAL on the second file.
    pq.write_table(
        pa.table(
            {
                "k": pa.array([1], pa.int64()),
                "ts": pa.array([ns_val], pa.int64()),
            }
        ),
        first,
    )
    pq.write_table(
        pa.table(
            {
                "k": pa.array([2], pa.int64()),
                "ts": pa.array([ns_val], pa.timestamp("ns")),
            }
        ),
        second,
    )
    rows = loader.load_table(spark, first, second).orderBy("k").collect()
    assert [r["k"] for r in rows] == [1, 2]
    # both rows land as TIMESTAMP truncated to micros
    assert rows[0]["ts"] == rows[1]["ts"] and rows[0]["ts"] is not None


def test_schema_memo_keyed_on_confs(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = str(tmp_path / "memo.parquet")
    pq.write_table(pa.table({"A": pa.array([1], pa.int64())}), p)
    before = dict(loader._SCHEMA_MEMO)
    loader._read_parquet(spark, p).collect()
    cur = spark.conf.get("spark.sql.caseSensitive", "false")
    try:
        spark.conf.set(
            "spark.sql.caseSensitive",
            "true" if cur == "false" else "false",
        )
        loader._read_parquet(spark, p).collect()
    finally:
        spark.conf.set("spark.sql.caseSensitive", cur)
    new_keys = [
        k for k in loader._SCHEMA_MEMO if k not in before and k[0][0] == p
    ]
    # one memo entry per conf fingerprint — a second session with
    # different parquet-affecting confs can never be served the other
    # session's inference
    assert len(new_keys) == 2
    confs = {k[1:] for k in new_keys}
    assert len(confs) == 2


# ---------------------------------------------------------------------------
# exact tiers: hashed grams must not move a single score
# ---------------------------------------------------------------------------


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
    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    base = loader.load_table(spark, f"{sf}/documents.parquet").select(
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
