"""Multi-format ingestion (sources/loader.load_any): the same
documents land identically from parquet, CSV, TSV, and JSON-lines, and
timestamps normalize to TIMESTAMP regardless of source format."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import types as T

from integritychecksforvldbs_spark.sources import loader
from integritychecksforvldbs_spark.sources.loader import load_any, load_table

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, f"{SF_DIR}/documents.parquet").cache()


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_csv_roundtrip(spark, docs, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("csv"))
    docs.write.option("header", True).mode("overwrite").csv(d)
    got = load_any(
        spark,
        d,
        fmt="csv",
        schema="doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    assert _rows(got.select(*docs.columns)) == _rows(docs)


def test_jsonl_roundtrip(spark, docs, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("jsonl"))
    docs.write.mode("overwrite").json(d)
    got = load_any(
        spark,
        d,
        fmt="json",
        schema="doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    assert _rows(got.select(*docs.columns)) == _rows(docs)


def test_extension_sniffing(spark, docs, tmp_path):
    p = str(tmp_path / "docs.jsonl")
    rows = [
        {"doc_id": r["doc_id"], "text": r["text"]}
        for r in docs.select("doc_id", "text").limit(20).collect()
    ]
    with open(p, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    got = load_any(spark, p, schema="doc_id bigint, text string")
    assert got.count() == 20
    assert {f.name for f in got.schema.fields} == {"doc_id", "text"}


def test_text_lines(spark, tmp_path):
    p = str(tmp_path / "corpus.txt")
    with open(p, "w") as f:
        f.write("first line\nsecond line\nthird line\n")
    got = load_any(spark, p)
    assert got.columns == ["value"]
    assert got.count() == 3


def test_unknown_extension_raises(spark):
    with pytest.raises(ValueError, match="cannot infer"):
        load_any(spark, "/tmp/whatever.xyz")


def test_timestamps_normalized_from_json(spark, tmp_path):
    """JSON-lines timestamps parse as TIMESTAMP (not NTZ) through the
    same normalization parquet gets — the round-3 failure class can't
    re-enter through a new source format."""
    p = str(tmp_path / "ev.jsonl")
    with open(p, "w") as f:
        f.write('{"event_id": 1, "ts": "2024-01-01T00:00:07.179575"}\n')
    got = load_any(spark, p, schema="event_id bigint, ts timestamp_ntz")
    [f_ts] = [f for f in got.schema.fields if f.name == "ts"]
    assert isinstance(f_ts.dataType, T.TimestampType)  # NTZ cast away
    from pyspark.sql import functions as F

    assert got.select(F.unix_micros("ts")).first()[0] == 1704067207179575


def test_xml_roundtrip(spark, tmp_path):
    """Spark 4 built-in XML source: write rowTag rows, sniff by
    extension, values and schema survive."""
    src = spark.createDataFrame(
        [(1, "alpha"), (2, "beta <&> escaped")], "doc_id bigint, text string"
    )
    d = str(tmp_path / "docs.xml")
    (
        src.write.format("xml")
        .option("rootTag", "rows")
        .option("rowTag", "row")
        .mode("overwrite")
        .save(d)
    )
    got = load_any(spark, d)
    assert sorted((r["doc_id"], r["text"]) for r in got.collect()) == [
        (1, "alpha"),
        (2, "beta <&> escaped"),
    ]


def test_load_table_multipath_nanos_second_file(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    ns_val = 1_700_000_000_000_000_123  # epoch nanos
    first = str(tmp_path / "first.parquet")
    second = str(tmp_path / "second.parquet")
    # only the SECOND file's footer declares TIMESTAMP(NANOS); the
    # first carries the same values as raw int64 (what nanosAsLong
    # reads them as).  Probing only paths[0] would take the plain
    # branch, and the vectorized reader would throw
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
