"""Quarantined ingestion (sources/ingest.py): the PERMISSIVE +
quarantine posture — bad rows become data, good rows keep full typing,
nothing is silently dropped (contrast DROPMALFORMED) and nothing kills
the job (contrast FAILFAST)."""

import pytest
from pyspark.sql import functions as F

from integritychecksforvldbs_spark.sources.ingest import (
    ingest_quarantined,
    quarantine_report,
    split_quarantine,
)

SCHEMA = "k bigint, price double, label string"


def _write(tmp_path, name, lines):
    p = tmp_path / name
    p.write_text("\n".join(lines) + "\n")
    return str(p)


def test_csv_quarantine_split(spark, tmp_path):
    _write(
        tmp_path,
        "a.csv",
        [
            "k,price,label",
            "1,10.5,x",
            "2,not_a_number,y",  # unparseable double -> quarantined
            "3,30.25,z",
        ],
    )
    raw = ingest_quarantined(spark, str(tmp_path), SCHEMA, fmt="csv")
    good, bad = split_quarantine(raw)
    assert good.columns == ["k", "price", "label"]
    assert sorted(r["k"] for r in good.collect()) == [1, 3]
    bad_rows = bad.collect()
    assert len(bad_rows) == 1
    # raw line preserved verbatim for re-drive after a parser fix
    assert bad_rows[0]["_corrupt_record"] == "2,not_a_number,y"
    # partial parse salvaged alongside
    assert bad_rows[0]["k"] == 2 and bad_rows[0]["label"] == "y"


def test_csv_header_skipped_per_file(spark, tmp_path):
    _write(tmp_path, "a.csv", ["k,price,label", "1,1.0,a"])
    _write(tmp_path, "b.csv", ["k,price,label", "2,2.0,b"])
    good, bad = split_quarantine(
        ingest_quarantined(spark, str(tmp_path), SCHEMA, fmt="csv")
    )
    assert bad.count() == 0
    assert sorted(r["k"] for r in good.collect()) == [1, 2]


def test_json_malformed_line_quarantined(spark, tmp_path):
    _write(
        tmp_path,
        "a.jsonl",
        [
            '{"k": 1, "price": 1.5, "label": "ok"}',
            '{"k": 2, "price": }',  # malformed JSON
            "not json at all",
            '{"k": 4, "price": 4.5, "label": "ok2"}',
        ],
    )
    raw = ingest_quarantined(spark, str(tmp_path), SCHEMA, fmt="json")
    good, bad = split_quarantine(raw)
    assert sorted(r["k"] for r in good.collect()) == [1, 4]
    raw_lines = sorted(r["_corrupt_record"] for r in bad.collect())
    assert raw_lines == ["not json at all", '{"k": 2, "price": }']


def test_quarantine_report(spark, tmp_path):
    _write(
        tmp_path,
        "a.csv",
        ["k,price,label", "1,1.0,a", "2,zzz,b", "3,qqq,c", "4,4.0,d"],
    )
    raw = ingest_quarantined(spark, str(tmp_path), SCHEMA, fmt="csv")
    row = quarantine_report(raw).collect()[0]
    assert (row["n_rows"], row["n_good"], row["n_bad"]) == (4, 2, 2)
    assert row["bad_pct"] == 50.0


def test_schema_must_not_carry_corrupt_col(spark, tmp_path):
    with pytest.raises(ValueError, match="_corrupt_record"):
        ingest_quarantined(
            spark, str(tmp_path), "k bigint, _corrupt_record string", fmt="csv"
        )


def test_unsupported_format_rejected(spark, tmp_path):
    with pytest.raises(ValueError, match="csv/json"):
        ingest_quarantined(spark, str(tmp_path), SCHEMA, fmt="parquet")


def test_gate_fixture_quarantines_exactly_the_bad_file(spark):
    """The ingest_csv_roundtrip gate writes orders as CSV plus one
    malformed file; the 3 bad rows land in quarantine (so the good
    aggregate equals the parquet oracle) and nothing else does."""
    import __spark_entry__ as entry
    from tests.conftest import SF_DIR

    raw = ingest_quarantined(
        spark,
        entry._orders_csv_mirror(spark, SF_DIR),
        entry._INGEST_SCHEMA,
        fmt="csv",
    )
    good, bad = split_quarantine(raw)
    assert bad.count() == 3
    assert sorted(
        r["_corrupt_record"].split(",")[2] for r in bad.collect()
    ) == ["1-URGENT", "2-HIGH", "3-MEDIUM"]
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    assert good.count() == orders.count()


def test_blank_lines_skipped_not_phantom_rows(spark, tmp_path):
    """Native-reader parity: empty lines vanish (no phantom all-null
    'good' rows); whitespace-only lines are content and quarantine."""
    p = tmp_path / "a.csv"
    p.write_text("k,price,label\n1,1.0,a\n\n2,2.0,b\n   \n")
    raw = ingest_quarantined(spark, str(tmp_path), SCHEMA, fmt="csv")
    good, bad = split_quarantine(raw)
    assert sorted(r["k"] for r in good.collect()) == [1, 2]
    assert [r["_corrupt_record"] for r in bad.collect()] == ["   "]
    pj = tmp_path / "b.jsonl"
    p.unlink()
    pj.write_text('{"k": 1, "price": 1.0, "label": "a"}\n\n   \n')
    rawj = ingest_quarantined(spark, str(tmp_path), SCHEMA, fmt="json")
    goodj, badj = split_quarantine(rawj)
    assert [r["k"] for r in goodj.collect()] == [1]
    assert badj.count() == 0  # whitespace-only JSON lines skip, like native


def test_ingest_leaves_caller_schema_untouched(spark, tmp_path):
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("k", T.LongType(), True),
            T.StructField("label", T.StringType(), True),
        ]
    )
    (tmp_path / "a.csv").write_text("k,label\n1,x\n2,y\n")
    before = schema.jsonValue()
    for _ in range(2):  # a second call with the SAME object must work
        raw = ingest_quarantined(spark, str(tmp_path), schema, fmt="csv")
        good, bad = split_quarantine(raw)
        assert sorted(r["k"] for r in good.collect()) == [1, 2]
        assert bad.count() == 0
    assert schema.jsonValue() == before
    assert schema.fieldNames() == ["k", "label"]


def test_headerless_file_keeps_header_valued_data_row(spark, tmp_path):
    """An all-string schema ingesting a row that SPELLS like the
    header: in a file with no header it is data and must survive."""
    sch = "a string, b string"
    (tmp_path / "with_header.csv").write_text("a,b\n1,x\n2,y\n")
    (tmp_path / "headerless.csv").write_text("3,z\na,b\n4,w\n")
    good, bad = split_quarantine(
        ingest_quarantined(spark, str(tmp_path), sch, fmt="csv")
    )
    assert bad.count() == 0
    rows = sorted((r["a"], r["b"]) for r in good.collect())
    # the two real headers dropped; the header-LOOKING data row kept
    assert rows == [("1", "x"), ("2", "y"), ("3", "z"), ("4", "w"), ("a", "b")]


def test_disagreeing_header_still_quarantines(spark, tmp_path):
    """A file whose header disagrees with the declared contract keeps
    surfacing the mismatch in quarantine (it never matches the
    canonical first line, so the sniff leaves it alone)."""
    (tmp_path / "drifted.csv").write_text("k,label,price\n1,x,1.5\n")
    good, bad = split_quarantine(
        ingest_quarantined(
            spark, str(tmp_path), "k bigint, price double, label string",
            fmt="csv",
        )
    )
    assert bad.filter(
        F.col("_corrupt_record") == "k,label,price"
    ).count() == 1
