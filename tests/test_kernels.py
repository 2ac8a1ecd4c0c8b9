"""Kernel correctness vs the DuckDB oracle + corruption detection."""

import os
import shutil

import pytest

from integritychecksforvldbs_spark.expectations import expectations_for
from integritychecksforvldbs_spark.operators.kernels import (
    checktable_df,
    checktable_oracle_sql,
    checktable_violations_df,
    fk_orphan_counts_df,
    run_checkalloc,
    run_checkcatalog,
    run_checktable,
)
from integritychecksforvldbs_spark.sources.catalog import (
    FileMeta,
    ObjectMeta,
    list_objects,
)

from conftest import SF_DIR, TABLES


@pytest.mark.parametrize("table", TABLES)
def test_checktable_matches_duckdb_oracle(spark, tables, duck, table):
    """The fused single-pass aggregation returns identical counters in
    Spark and DuckDB for every fixture table (SURVEY §5.2 test 3)."""
    exp = expectations_for(table)
    srow = checktable_df(tables[table], exp).collect()[0].asDict()
    cur = duck.execute(checktable_oracle_sql(table, exp))
    drow = dict(zip([d[0] for d in cur.description], cur.fetchone()))
    assert srow == drow


def test_checktable_passes_clean_table(spark, tables):
    res = run_checktable(spark, tables["region"], "db", "region")
    assert res.passed and res.metrics["n_rows"] == 5


def test_checktable_detects_injected_violations(spark, tables):
    """Corrupt rows in-memory; the kernel must count each violation
    class exactly once (FIXTURES.md §C semantics)."""
    from pyspark.sql import functions as F

    li = tables["lineitem"].limit(100).cache()
    bad = (
        li.withColumn(
            "l_discount",
            F.when(F.col("l_linenumber") == 1, F.lit(1.5)).otherwise(F.col("l_discount")),
        )
        .withColumn(
            "l_quantity",
            F.when(F.col("l_linenumber") == 2, F.lit(-3.0)).otherwise(F.col("l_quantity")),
        )
        .withColumn(
            "l_tax",
            F.when(F.col("l_linenumber") == 3, F.lit(float("nan"))).otherwise(F.col("l_tax")),
        )
    )
    n1 = li.filter("l_linenumber = 1").count()
    n2 = li.filter("l_linenumber = 2").count()
    n3 = li.filter("l_linenumber = 3").count()
    res = run_checktable(spark, bad, "db", "lineitem")
    assert not res.passed
    assert res.metrics["viol_l_discount_range"] == n1
    assert res.metrics["viol_l_quantity_positive"] == n2
    # NaN compares greater than 0 in Spark/DuckDB, so the nonneg rule
    # does not fire; the finite rule is what catches NaN
    assert res.metrics["viol_l_tax_nonneg"] == 0
    assert res.metrics["viol_l_tax_finite"] == n3


def test_checktable_detects_ctrl_chars_and_int32_overflow(spark, tables):
    """DATA_PURITY §2.9 #51 extensions: control characters in text
    columns and BIGINT values that overflow INT32 are each counted
    exactly once (and tab/LF/CR are NOT violations)."""
    from pyspark.sql import functions as F

    docs = (
        tables["documents"]
        .withColumn(
            "text",
            F.when(F.col("doc_id") == 0, F.concat(F.col("text"), F.lit("\x07")))
            .when(F.col("doc_id") == 1, F.concat(F.col("text"), F.lit("ok\tfine\nstill\r")))
            .otherwise(F.col("text")),
        )
        .withColumn(
            "n_chars",
            F.when(F.col("doc_id") == 2, F.lit(5_000_000_000)).otherwise(
                F.col("n_chars")
            ),
        )
    )
    res = run_checktable(spark, docs, "db", "documents")
    assert not res.passed
    assert res.metrics["viol_text_no_ctrl_chars"] == 1  # doc 0 only
    assert res.metrics["viol_n_chars_int32_roundtrip"] == 1  # doc 2
    assert res.metrics["viol_lang_no_ctrl_chars"] == 0
    # clean corpus passes all new tiers
    clean = run_checktable(spark, tables["documents"], "db", "documents")
    assert clean.metrics["viol_text_no_ctrl_chars"] == 0
    assert clean.metrics["viol_n_chars_int32_roundtrip"] == 0


def test_checktable_violations_listing(spark, tables):
    from pyspark.sql import functions as F

    docs = tables["documents"].withColumn(
        "n_chars", F.when(F.col("doc_id") == 0, F.lit(-1)).otherwise(F.col("n_chars"))
    )
    v = checktable_violations_df(docs, expectations_for("documents")).collect()
    assert len(v) == 1
    assert v[0]["doc_id"] == 0 and v[0]["rule"] == "viol_n_chars_matches_text"


def test_checktable_null_pk_detection(spark, tables):
    from pyspark.sql import functions as F

    docs = tables["documents"].withColumn(
        "doc_id", F.when(F.col("doc_id") == 3, F.lit(None)).otherwise(F.col("doc_id"))
    )
    res = run_checktable(spark, docs, "db", "documents")
    assert not res.passed
    assert res.metrics["null_doc_id"] == 1 and res.metrics["pk_null_rows"] == 1


def test_embeddings_vector_length_invariant(spark, tables):
    from pyspark.sql import functions as F

    res = run_checktable(spark, tables["embeddings"], "db", "embeddings")
    assert res.passed and res.metrics["vector_len_min"] == 64
    ragged = tables["embeddings"].withColumn(
        "embedding",
        F.when(F.col("vec_id") == 1, F.expr("slice(embedding, 1, 10)")).otherwise(
            F.col("embedding")
        ),
    )
    res = run_checktable(spark, ragged, "db", "embeddings")
    assert not res.passed and "inconsistent vector length" in res.errors[0]


def test_fk_orphans_match_duckdb(spark, tables, duck):
    exp = expectations_for("lineitem")
    rows = {
        (r["fk_columns"], r["orphan_rows"])
        for r in fk_orphan_counts_df(tables, exp).collect()
    }
    expected = set()
    for fk in exp.foreign_keys:
        c, p = fk.columns[0], fk.parent_columns[0]
        n = duck.execute(
            f"SELECT count(*) FROM lineitem l WHERE l.{c} IS NOT NULL "
            f"AND NOT EXISTS (SELECT 1 FROM {fk.parent_table} p WHERE p.{p} = l.{c})"
        ).fetchone()[0]
        expected.add((c, n))
    assert rows == expected


def test_fk_orphan_detection(spark, tables):
    """Drop a parent row → exactly the child rows of that key orphaned."""
    orders = tables["orders"]
    some_key = orders.select("o_orderkey").limit(1).collect()[0][0]
    broken = {**tables, "orders": orders.filter(f"o_orderkey <> {some_key}")}
    n_children = tables["lineitem"].filter(f"l_orderkey = {some_key}").count()
    rows = {
        r["fk_columns"]: r["orphan_rows"]
        for r in fk_orphan_counts_df(broken, expectations_for("lineitem")).collect()
    }
    base = {
        r["fk_columns"]: r["orphan_rows"]
        for r in fk_orphan_counts_df(tables, expectations_for("lineitem")).collect()
    }
    assert rows["l_orderkey"] - base["l_orderkey"] == n_children


def _fk_rows(tables, exp, broadcast):
    return {
        (r["fk_columns"], r["parent_table"]): r["orphan_rows"]
        for r in fk_orphan_counts_df(
            tables, exp, broadcast_parents=broadcast
        ).collect()
    }


def test_fk_orphans_fused_equals_antijoin(spark):
    """The fused all-broadcast branch must match the per-FK anti-join
    path on its unpinned edges: multi-FK child, a parent with duplicate
    keys, and NULL child FK values (DIC extended-checks semantics —
    NULL FKs are not orphans)."""
    from integritychecksforvldbs_spark.expectations import (
        ForeignKey,
        TableExpectations,
    )

    child = spark.createDataFrame(
        [
            (1, 10, 100),  # both parents present
            (2, 11, 101),  # a-parent missing
            (3, None, 100),  # NULL a-key: not an orphan for fk_a
            (4, 12, None),  # NULL b-key: not an orphan for fk_b
            (5, 12, 999),  # b-parent missing
            (6, 10, 100),  # dup of row 1 — counted once per row
        ],
        "ck bigint, a_key bigint, b_key bigint",
    )
    # parent_a has DUPLICATE keys (10 twice): fan-out must not multiply
    # the later fk_b orphan counts in the chained fused join
    parent_a = spark.createDataFrame(
        [(10, "x"), (10, "y"), (12, "z")], "pa bigint, pad string"
    )
    parent_b = spark.createDataFrame([(100,), (101,)], "pb bigint")
    tables = {"child": child, "parent_a": parent_a, "parent_b": parent_b}
    exp = TableExpectations(
        table="child",
        foreign_keys=[
            ForeignKey(["a_key"], "parent_a", ["pa"]),
            ForeignKey(["b_key"], "parent_b", ["pb"]),
        ],
    )
    fused = _fk_rows(tables, exp, {"parent_a", "parent_b"})
    anti = _fk_rows(tables, exp, set())
    assert fused == anti
    assert fused == {
        ("a_key", "parent_a"): 1,  # row 2 only (row 3 NULL-skipped)
        ("b_key", "parent_b"): 1,  # row 5 only (row 4 NULL-skipped)
    }


def test_fk_orphans_fused_single_fk_dup_parent(spark):
    """Single-FK child keeps exact counts without parent dedup even
    when the parent has duplicate keys (left join fans out matches,
    never zero-match orphan rows)."""
    from integritychecksforvldbs_spark.expectations import (
        ForeignKey,
        TableExpectations,
    )

    child = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 77), (4, None)], "ck bigint, a_key bigint"
    )
    parent = spark.createDataFrame([(10,), (10,), (11,)], "pa bigint")
    tables = {"child": child, "parent_a": parent}
    exp = TableExpectations(
        table="child", foreign_keys=[ForeignKey(["a_key"], "parent_a", ["pa"])]
    )
    fused = _fk_rows(tables, exp, {"parent_a"})
    anti = _fk_rows(tables, exp, set())
    assert fused == anti == {("a_key", "parent_a"): 1}


def _copy_table(tmp_path, table):
    dst = tmp_path / f"{table}.parquet"
    shutil.copy(f"{SF_DIR}/{table}.parquet", dst)
    return str(dst)


def test_checkalloc_clean_and_corrupt(spark, tmp_path):
    objs = list_objects(spark, "sf", SF_DIR)
    part = next(o for o in objs if o.object_name == "part")
    res = run_checkalloc(spark, part, full=True)
    assert res.passed
    assert res.metrics["footer_rows"] == res.metrics["scanned_rows"]
    # truncated file → unreadable footer
    p = _copy_table(tmp_path, "part")
    size = os.path.getsize(p)
    with open(p, "r+b") as f:
        f.truncate(size // 2)
    obj = ObjectMeta("tmp", "main", "part", "U", p, [FileMeta(p, size // 2)])
    res = run_checkalloc(spark, obj)
    assert not res.passed and "unreadable footer" in res.errors[0]
    # zero-byte extra file in a directory table
    d = tmp_path / "dir_table"
    d.mkdir()
    shutil.copy(f"{SF_DIR}/region.parquet", d / "part-000.parquet")
    (d / "part-001.parquet").touch()
    obj = ObjectMeta(
        "tmp", "main", "dir_table", "U", str(d),
        [FileMeta(str(d / "part-000.parquet"), os.path.getsize(d / "part-000.parquet")),
         FileMeta(str(d / "part-001.parquet"), 0)],
    )
    res = run_checkalloc(spark, obj)
    assert not res.passed and any("zero-byte" in e for e in res.errors)


@pytest.mark.parametrize("n_good,n_bad", [(3, 2), (0, 2), (60, 5), (0, 65)])
def test_checkalloc_sums_match_sql_aggregate(spark, tmp_path, n_good, n_bad):
    """The driver-side sums equal the SQL aggregate over the footer
    rows on both sides of the 64-file probe limit, including SUM's NULL
    when no footer is readable."""
    from pyspark.sql import functions as F

    from integritychecksforvldbs_spark.sources.catalog import footer_stats_df

    files = []
    for i in range(n_good):
        p = tmp_path / f"part-{i:03d}.parquet"
        shutil.copy(f"{SF_DIR}/region.parquet", p)
        files.append(FileMeta(str(p), os.path.getsize(p)))
    for i in range(n_bad):
        p = tmp_path / f"bad-{i:03d}.parquet"
        p.write_bytes(b"PAR1" if i % 2 else b"")
        files.append(FileMeta(str(p), os.path.getsize(p)))
    obj = ObjectMeta("tmp", "main", "t", "U", str(tmp_path), files)
    res = run_checkalloc(spark, obj)
    stats = footer_stats_df(spark, files)
    want = stats.agg(
        F.count("*").alias("n_files"),
        F.sum(F.when(~F.col("footer_ok"), 1).otherwise(0)).alias("bad_files"),
        F.sum(F.when(F.col("size") == 0, 1).otherwise(0)).alias("zero_byte_files"),
        F.sum("footer_row_count").alias("footer_rows"),
    ).collect()[0].asDict()
    assert {k: res.metrics[k] for k in want} == want
    bad = [r for r in stats.collect() if not r["footer_ok"]]
    assert res.errors[: len(bad)] == [
        f"unreadable footer: {r['path']}: {r['error']}" for r in bad
    ]
    assert not res.passed


def test_checkalloc_missing_files(spark):
    obj = ObjectMeta("tmp", "main", "ghost", "U", "/nonexistent", [])
    assert not run_checkalloc(spark, obj).passed


def test_checkcatalog_clean_and_drift(spark, tmp_path):
    objs = list_objects(spark, "sf", SF_DIR)
    assert run_checkcatalog(spark, objs).passed
    # declared schema drift (customer_schema_drift fixture semantics)
    declared = {"customer": [("c_custkey", "int64"), ("c_name", "decimal(12,2)")]}
    res = run_checkcatalog(spark, objs, declared)
    assert not res.passed and "declared schema" in res.errors[0]
    # files disagreeing on schema
    d = tmp_path / "mixed"
    d.mkdir()
    shutil.copy(f"{SF_DIR}/region.parquet", d / "part-000.parquet")
    shutil.copy(f"{SF_DIR}/nation.parquet", d / "part-001.parquet")
    mixed = list_objects(spark, "tmp", str(tmp_path))
    res = run_checkcatalog(spark, mixed)
    assert not res.passed and "disagree on schema" in res.errors[0]


def test_table_checksum_order_independent_and_sensitive(spark, tables):
    """The checksum is invariant to physical order/partitioning but
    flips on any single-value change, NULL-vs-value, and row
    add/remove — the replica-divergence probe."""
    from pyspark.sql import functions as F

    from integritychecksforvldbs_spark.operators.kernels import table_checksum_df

    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    docs = tables["documents"]
    base = table_checksum_df(docs, cols).collect()[0]
    shuffled = table_checksum_df(
        docs.repartition(17).sortWithinPartitions("text"), cols
    ).collect()[0]
    assert (base["n_rows"], base["checksum"]) == (
        shuffled["n_rows"], shuffled["checksum"]
    )
    # one changed value
    mutated = docs.withColumn(
        "lang", F.when(F.col("doc_id") == 3, F.lit("zz")).otherwise(F.col("lang"))
    )
    assert table_checksum_df(mutated, cols).collect()[0]["checksum"] != base["checksum"]
    # NULL is distinct from any value
    nulled = docs.withColumn(
        "lang",
        F.when(F.col("doc_id") == 3, F.lit(None).cast("string")).otherwise(
            F.col("lang")
        ),
    )
    assert table_checksum_df(nulled, cols).collect()[0]["checksum"] != base["checksum"]
    # a dropped row changes both counters
    dropped = table_checksum_df(docs.filter("doc_id <> 0"), cols).collect()[0]
    assert dropped["n_rows"] == base["n_rows"] - 1
    assert dropped["checksum"] != base["checksum"]
