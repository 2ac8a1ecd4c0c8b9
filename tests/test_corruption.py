"""Negative tests: corrupted fixture variants must FAIL, and fail
identically to the DuckDB oracle (SURVEY §5.2 test 3; FIXTURES.md §C)."""

from __future__ import annotations

import os
import shutil

import duckdb
import pytest
from pyspark.sql import functions as F

from integritychecksforvldbs_spark.expectations import expectations_for
from integritychecksforvldbs_spark.operators.kernels import (
    checktable_oracle_sql,
    checktable_sql,
    run_checkalloc,
    run_checkcatalog,
    run_checktable,
    sql_frame,
)
from integritychecksforvldbs_spark.sources.catalog import FileMeta, ObjectMeta, list_objects
from integritychecksforvldbs_spark.sources.loader import load_table

SF_DIR = "/root/testdata/sf0.001"


def _write_corrupt_orders(spark, path: str) -> None:
    """Orders variant with planted violations: duplicate PK, null
    custkey, negative totalprice, NaN, out-of-bounds date, bad enum."""
    base = load_table(spark, f"{SF_DIR}/orders.parquet")
    first = base.limit(1)
    bad = (
        base.limit(5)
        .withColumn("o_custkey", F.lit(None).cast("long"))
        .withColumn("o_orderkey", F.col("o_orderkey") + 999_000_000)  # keep PK unique
        .unionByName(first)  # duplicate of an existing PK row
        .unionByName(
            first.withColumn("o_totalprice", F.lit(-10.0))
            .withColumn("o_orderkey", F.lit(999_999_001))
        )
        .unionByName(
            first.withColumn("o_totalprice", F.expr("cast('NaN' as double)"))
            .withColumn("o_orderkey", F.lit(999_999_002))
        )
        .unionByName(
            first.withColumn("o_orderdate", F.expr("timestamp'1800-01-01 00:00:00'"))
            .withColumn("o_orderkey", F.lit(999_999_003))
        )
        .unionByName(
            first.withColumn("o_orderstatus", F.lit("X"))
            .withColumn("o_orderkey", F.lit(999_999_004))
        )
    )
    base.unionByName(bad).coalesce(1).write.mode("overwrite").parquet(path)


@pytest.fixture(scope="module")
def corrupt_orders(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("corrupt") / "orders_bad")
    _write_corrupt_orders(spark, path)
    return path


def test_checktable_detects_all_planted_violations(spark, corrupt_orders):
    df = spark.read.parquet(corrupt_orders)
    res = run_checktable(spark, df, "corrupt", "orders")
    assert not res.passed
    m = res.metrics
    assert m["null_o_custkey"] == 5
    assert m["pk_dup_rows"] == 1
    assert m["viol_o_totalprice_nonneg"] == 1
    assert m["viol_o_totalprice_finite"] == 1
    assert m["viol_o_orderdate_in_bounds"] == 1
    assert m["viol_o_orderstatus_enum"] == 1


def test_checktable_oracle_agrees_on_corruption(spark, corrupt_orders):
    """The kernel and the DuckDB oracle must report the IDENTICAL
    violation counters on the corrupted variant — corruption is where
    oracle parity matters most."""
    got = sql_frame(
        spark, checktable_sql(expectations_for("orders")),
        {"orders": spark.read.parquet(corrupt_orders)},
    ).collect()[0].asDict()
    con = duckdb.connect()
    files = [
        os.path.join(corrupt_orders, f)
        for f in os.listdir(corrupt_orders)
        if f.endswith(".parquet")
    ]
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM read_parquet({files!r})"
    )
    want = con.execute(checktable_oracle_sql("orders")).df().iloc[0].to_dict()
    assert {k: int(v) for k, v in got.items()} == {k: int(v) for k, v in want.items()}


def test_checkalloc_detects_truncated_file(spark, tmp_path):
    src = f"{SF_DIR}/region.parquet"
    bad = str(tmp_path / "region.parquet")
    with open(src, "rb") as f:
        blob = f.read()
    with open(bad, "wb") as f:
        f.write(blob[: len(blob) // 2])  # chop the footer off
    obj = ObjectMeta(
        "tmpdb", "main", "region", "U", bad,
        [FileMeta("file:" + bad, len(blob) // 2)],
    )
    res = run_checkalloc(spark, obj)
    assert not res.passed
    assert res.metrics["bad_files"] == 1
    assert any("unreadable footer" in e for e in res.errors)


def test_checkalloc_detects_zero_byte_file(spark, tmp_path):
    bad = str(tmp_path / "empty.parquet")
    open(bad, "wb").close()
    obj = ObjectMeta(
        "tmpdb", "main", "empty", "U", bad, [FileMeta("file:" + bad, 0)]
    )
    res = run_checkalloc(spark, obj)
    assert not res.passed
    assert res.metrics["zero_byte_files"] == 1


def test_checkcatalog_detects_schema_drift(spark, tmp_path):
    """Two files of one table with different schemas → CHECKCATALOG
    flags the disagreement."""
    d = tmp_path / "drift"
    d.mkdir()
    df = load_table(spark, f"{SF_DIR}/region.parquet")
    df.coalesce(1).write.parquet(str(d / "a"))
    df.withColumn("extra", F.lit(1)).coalesce(1).write.parquet(str(d / "b"))
    objs = list_objects(spark, "tmpdb", str(tmp_path))
    drift = next(o for o in objs if o.object_name == "drift")
    res = run_checkcatalog(spark, [drift])
    assert not res.passed
    assert any("disagree on schema" in e for e in res.errors)


def test_checkcatalog_detects_declared_mismatch(spark):
    objs = list_objects(spark, "sf0.001", SF_DIR)
    region = next(o for o in objs if o.object_name == "region")
    res = run_checkcatalog(
        spark,
        [region],
        declared_schemas={"region": [("r_regionkey", "int32"), ("r_name", "int64")]},
    )
    assert not res.passed
    assert any("declared schema" in e for e in res.errors)


def test_violations_rows_match_counters(spark, tables):
    """The violation-row extraction and the one-pass counters are two
    views of one rule list: per-rule row counts must equal the
    CHECKTABLE counters, and a healthy table yields no rows."""
    from integritychecksforvldbs_spark.expectations import expectations_for
    from integritychecksforvldbs_spark.operators.kernels import (
        checktable_violations_df,
    )

    docs = tables["documents"]
    exp = expectations_for("documents")
    assert checktable_violations_df(docs, exp).count() == 0  # fixtures clean

    from pyspark.sql import functions as F

    corrupted = docs.select(
        "doc_id",
        F.when(F.col("doc_id") == 7, F.lit(None)).otherwise(F.col("text")).alias("text"),
        F.when(F.col("doc_id") == 11, F.lit("xyz")).otherwise(F.col("lang")).alias("lang"),
        "source",
        F.when(F.col("doc_id") == 13, F.col("n_chars") + 5)
        .otherwise(F.col("n_chars"))
        .alias("n_chars"),
    ).unionByName(docs.filter(F.col("doc_id") == 17))

    counters = sql_frame(spark, checktable_sql(exp), {"documents": corrupted}).first().asDict()
    viol = {
        r["rule"]: r["n"]
        for r in checktable_violations_df(corrupted, exp)
        .groupBy("rule")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert viol["null_text"] == counters["null_text"] == 1
    assert viol["viol_lang_is_iso2"] == counters["viol_lang_is_iso2"] == 1
    assert viol["viol_n_chars_matches_text"] == counters["viol_n_chars_matches_text"] == 1
    # duplicate key 17: the counter counts EXTRA copies (1), the
    # extraction emits every row of the duplicated key (2)
    assert counters["pk_dup_rows"] == 1 and viol["pk_dup_rows"] == 2
    # no other rule fired
    fired = {k for k, v in viol.items() if v}
    assert fired == {"null_text", "viol_lang_is_iso2", "viol_n_chars_matches_text", "pk_dup_rows"}


def test_row_quarantine_routes_by_expectations(spark, tables):
    """row_quarantine is the routing view of the same rule list the
    counters/violation rows report: valid ∪ rejected == input, the
    rejected rows name exactly the rules they break, and both copies
    of a duplicated primary key reject."""
    from integritychecksforvldbs_spark.operators.kernels import row_quarantine

    docs = tables["documents"]
    exp = expectations_for("documents")
    n_all = docs.count()

    good, bad = row_quarantine(docs, exp)
    assert bad.count() == 0 and good.count() == n_all  # fixtures clean

    corrupted = docs.select(
        "doc_id",
        F.when(F.col("doc_id") == 7, F.lit(None)).otherwise(F.col("text")).alias("text"),
        F.when(F.col("doc_id") == 11, F.lit("xyz")).otherwise(F.col("lang")).alias("lang"),
        "source",
        F.when(F.col("doc_id") == 13, F.col("n_chars") + 5)
        .otherwise(F.col("n_chars"))
        .alias("n_chars"),
    ).unionByName(docs.filter(F.col("doc_id") == 17))

    good, bad = row_quarantine(corrupted, exp)
    assert good.count() + bad.count() == corrupted.count()
    rules = {
        r["doc_id"]: sorted(r["_violations"]) for r in bad.collect()
    }
    assert rules[7] == ["null_text"]
    assert "viol_lang_is_iso2" in rules[11]
    assert any("n_chars" in v for v in rules[13])
    assert rules[17] == ["pk_dup_rows"]  # both copies reject
    assert sum(1 for r in rules if r == 17) == 1  # dict key — but two rows
    assert sorted(r for r in rules) == [7, 11, 13, 17]
    assert bad.filter(F.col("doc_id") == 17).count() == 2

    # shuffle-free local gate: dups pass, everything else still routes
    good2, bad2 = row_quarantine(corrupted, exp, include_pk_dups=False)
    assert bad2.filter(F.col("doc_id") == 17).count() == 0
    assert bad2.count() == 3
    # valid side carries the original schema, no helper column
    assert good2.columns == corrupted.columns
