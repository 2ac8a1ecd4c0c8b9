"""Kernel correctness vs the DuckDB oracle + corruption detection."""

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from integritychecksforvldbs_spark.expectations import (
    ForeignKey,
    TableExpectations,
    expectations_for,
)
from integritychecksforvldbs_spark.operators.kernels import (
    checktable_oracle_sql,
    checktable_sql,
    checktable_violations_df,
    run_checkalloc,
    run_checkcatalog,
    run_checktable,
    run_extended_logical,
    sql_frame,
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
    srow = sql_frame(spark, checktable_sql(exp), {table: tables[table]}).collect()[0].asDict()
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
    res = run_extended_logical(spark, tables, "db", "lineitem", exp)
    for fk in exp.foreign_keys:
        c, p = fk.columns[0], fk.parent_columns[0]
        n = duck.execute(
            f"SELECT count(*) FROM lineitem l WHERE l.{c} IS NOT NULL "
            f"AND NOT EXISTS (SELECT 1 FROM {fk.parent_table} p WHERE p.{p} = l.{c})"
        ).fetchone()[0]
        assert res.metrics[f"orphans_{c}"] == n
    assert res.metrics["n_fks"] == 3


def test_fk_orphan_detection(spark, tables):
    """Drop a parent row → exactly the child rows of that key orphaned."""
    orders = tables["orders"]
    some_key = orders.select("o_orderkey").limit(1).collect()[0][0]
    broken = {**tables, "orders": orders.filter(f"o_orderkey <> {some_key}")}
    n_children = tables["lineitem"].filter(f"l_orderkey = {some_key}").count()
    exp = expectations_for("lineitem")
    rows = run_extended_logical(spark, broken, "db", "lineitem", exp).metrics
    base = run_extended_logical(spark, tables, "db", "lineitem", exp).metrics
    assert rows["orphans_l_orderkey"] - base["orphans_l_orderkey"] == n_children
    res = run_checktable(spark, tables["lineitem"], "db", "lineitem", exp, parents=broken)
    assert f"FK lineitem(l_orderkey) → orders: {rows['orphans_l_orderkey']} orphan row(s)" \
        in res.errors


# ---------------------------------------------------------------------------
# checktable_sql: the Spark dialect against the DuckDB dialect of the same
# render, over the same parquet files, for every FK layout
# ---------------------------------------------------------------------------

_MULTI_FK = TableExpectations(
    table="child",
    primary_key=["ck"],
    not_null=["a_key"],
    foreign_keys=[
        ForeignKey(["a_key"], "parent_a", ["pa"]),
        ForeignKey(["b_key"], "parent_b", ["pb"]),
    ],
)
_MULTI_FK_TABLES = {
    "child": (
        [
            (1, 10, 100),  # both parents present
            (2, 11, 101),  # a-parent missing
            (3, None, 100),  # NULL a-key: not an orphan for fk_a
            (4, 12, None),  # NULL b-key: not an orphan for fk_b
            (5, 12, 999),  # b-parent missing
            (6, 10, 100),  # same keys as row 1: counted once per row
        ],
        [("ck", pa.int64()), ("a_key", pa.int64()), ("b_key", pa.int64())],
    ),
    # duplicate parent keys (10 twice): a join that fanned out would
    # count rows 1 and 6 twice in every counter
    "parent_a": ([(10, "x"), (10, "y"), (12, "z")], [("pa", pa.int64()), ("pad", pa.string())]),
    "parent_b": ([(100,), (101,), (101,)], [("pb", pa.int64())]),
}
_MULTI_FK_WANT = {"n_rows": 6, "null_a_key": 1, "pk_dup_rows": 0,
                  "orphans_a_key": 1, "orphans_b_key": 1}

RENDER_CASES = {
    "multi_fk_dup_parent_keys": (
        _MULTI_FK, _MULTI_FK_TABLES, {"broadcast_parents": {"parent_a", "parent_b"}},
        _MULTI_FK_WANT,
    ),
    "multi_fk_fk_only": (
        _MULTI_FK, _MULTI_FK_TABLES,
        {"counters": False, "broadcast_parents": {"parent_a", "parent_b"}},
        {"orphans_a_key": 1, "orphans_b_key": 1},
    ),
    "parent_not_broadcast_small": (
        _MULTI_FK, _MULTI_FK_TABLES, {"broadcast_parents": {"parent_b"}}, _MULTI_FK_WANT,
    ),
    "no_parent_broadcast_small": (
        _MULTI_FK, _MULTI_FK_TABLES, {"counters": False, "broadcast_parents": set()},
        {"orphans_a_key": 1, "orphans_b_key": 1},
    ),
    "composite_fk_partly_null": (
        TableExpectations(
            table="child", foreign_keys=[ForeignKey(["k1", "k2"], "parent", ["k1", "k2"])]
        ),
        {
            "child": (
                # matched; orphan (1, b); two partly NULL tuples, skipped
                [(1, 1, "a"), (2, 1, "b"), (3, None, "a"), (4, 2, None)],
                [("id", pa.int64()), ("k1", pa.int64()), ("k2", pa.string())],
            ),
            "parent": ([(1, "a"), (2, "b"), (2, "b")], [("k1", pa.int64()), ("k2", pa.string())]),
        },
        {"broadcast_parents": {"parent"}},
        {"n_rows": 4, "orphans_k1_k2": 1},
    ),
    "empty_child": (
        _MULTI_FK,
        {**_MULTI_FK_TABLES, "child": ([], _MULTI_FK_TABLES["child"][1])},
        {"broadcast_parents": {"parent_a"}},
        # a SUM counter over no rows is NULL; both orphan counts are 0
        {"n_rows": 0, "null_a_key": None, "orphans_a_key": 0, "orphans_b_key": 0},
    ),
    "physical_only": (
        _MULTI_FK, _MULTI_FK_TABLES, {"physical_only": True}, {"n_rows": 6},
    ),
    "embeddings_null_and_empty_array": (
        expectations_for("embeddings"),
        {
            "embeddings": (
                [(1, [0.5, 1.0]), (2, None), (3, [])],
                [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32()))],
            ),
        },
        {"envelope": True},
        # size/len of a NULL array is NULL in both engines
        {"n_rows": 3, "null_embedding": 1, "vector_len_min": 0, "vector_len_max": 2},
    ),
}


def _render_case_tables(spark, tmp_path, data):
    import duckdb

    from integritychecksforvldbs_spark.sources.loader import load_table

    con = duckdb.connect()
    frames = {}
    for name, (rows, fields) in data.items():
        path = str(tmp_path / f"{name}.parquet")
        schema = pa.schema(fields)
        pq.write_table(
            pa.Table.from_pylist([dict(zip(schema.names, r)) for r in rows], schema), path
        )
        frames[name] = load_table(spark, path)
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return frames, con


@pytest.mark.parametrize("case", RENDER_CASES)
def test_render_spark_matches_duckdb_dialect(spark, tmp_path, case):
    exp, data, render, want = RENDER_CASES[case]
    frames, con = _render_case_tables(spark, tmp_path, data)
    srow = sql_frame(spark, checktable_sql(exp, "spark", **render), frames).collect()[0].asDict()
    cur = con.execute(checktable_sql(exp, "duckdb", **render))
    drow = dict(zip([d[0] for d in cur.description], cur.fetchone()))
    con.close()
    assert srow == drow
    assert {k: srow[k] for k in want} == want


@pytest.mark.parametrize("case", ["multi_fk_dup_parent_keys", "parent_not_broadcast_small"])
def test_run_checktable_fused_command(spark, tmp_path, case):
    """The kernel runs the same render, planned from catalog sizes:
    a parent without a size counts as large and gets its anti arm."""
    exp, data, render, want = RENDER_CASES[case]
    frames, con = _render_case_tables(spark, tmp_path, data)
    con.close()
    sizes = {t: 1000 for t in ("child", *render["broadcast_parents"])}
    res = run_checktable(
        spark, frames["child"], "db", "child", exp, parents=frames, sizes=sizes
    )
    assert {k: res.metrics[k] for k in want} == want
    assert res.metrics["n_fks"] == 2
    assert res.errors == [
        "null_a_key = 1",
        "FK child(a_key) → parent_a: 1 orphan row(s)",
        "FK child(b_key) → parent_b: 1 orphan row(s)",
    ]


@pytest.mark.parametrize("case,want", [
    ("multi_fk_dup_parent_keys", ["BroadcastHashJoin LeftOuter"] * 2),
    ("parent_not_broadcast_small", ["BroadcastHashJoin LeftOuter", "SortMergeJoin LeftAnti"]),
])
def test_render_broadcasts_small_parents(spark, tmp_path, case, want):
    """Plan probe: with size-based broadcasting off, a parent named in
    ``broadcast_parents`` still joins the child's one scan as a
    broadcast, and only the other parent's anti arm sort-merges."""
    import re

    from integritychecksforvldbs_spark.functions.planutil import scoped_conf

    exp, data, render, _ = RENDER_CASES[case]
    frames, con = _render_case_tables(spark, tmp_path, data)
    con.close()
    df = sql_frame(spark, checktable_sql(exp, "spark", **render), frames)
    with scoped_conf(spark, {"spark.sql.adaptive.enabled": "false",
                             "spark.sql.autoBroadcastJoinThreshold": "-1"}):
        plan = df._jdf.queryExecution().executedPlan().toString()
    joins = re.findall(r"(BroadcastHashJoin|SortMergeJoin) .*?, (LeftOuter|LeftAnti|Inner)", plan)
    assert sorted(" ".join(j) for j in joins) == want


def test_running_job_holds_no_settings(spark, tables):
    """A command's job runs after its settings scope has closed: while
    one command's job is still running (as when a lock timeout's
    cancel comes too late), the next planned command runs at once."""
    import threading
    import time
    import uuid

    from integritychecksforvldbs_spark.operators.kernels import _collect_row

    sc = spark.sparkContext
    group = f"slow-{uuid.uuid4().hex[:8]}"

    def slow():
        sc.setJobGroup(group, "slow", interruptOnCancel=True)
        try:
            _collect_row(
                spark, "SELECT MAX(s) AS n FROM (SELECT java_method("
                "'java.lang.Thread', 'sleep', id + 60000) AS s FROM {t_r})",
                {"r": spark.range(1)}, 1,
            )
        except Exception:
            pass  # cancelled below
        finally:
            sc.setJobGroup("", "")

    t = threading.Thread(target=slow, daemon=True)
    t.start()
    deadline = time.monotonic() + 30
    while not sc.statusTracker().getJobIdsForGroup(group) and time.monotonic() < deadline:
        time.sleep(0.05)
    try:
        assert sc.statusTracker().getJobIdsForGroup(group)
        t0 = time.monotonic()
        res = run_checktable(spark, tables["region"], "db", "region", sizes={"region": 1})
        assert time.monotonic() - t0 < 30 and res.metrics["n_rows"] == 5
        assert t.is_alive()
    finally:
        sc.cancelJobGroup(group)
        t.join(30)
    assert not t.is_alive()


def test_dotted_table_name_binds(spark, tmp_path):
    """A directory table is named ``<name>.parquet`` by the catalog;
    the Spark dialect still binds it and its parent."""
    exp = TableExpectations(
        table="child.parquet", primary_key=["ck"],
        foreign_keys=[ForeignKey(["a_key"], "parent-a.parquet", ["pa"])],
    )
    frames, con = _render_case_tables(spark, tmp_path, _MULTI_FK_TABLES)
    con.close()
    parents = {"parent-a.parquet": frames["parent_a"]}
    for sizes in ({}, {"child.parquet": 1, "parent-a.parquet": 1}):
        res = run_checktable(spark, frames["child"], "db", "child.parquet", exp,
                             parents=parents, sizes=sizes)
        assert (res.metrics["n_rows"], res.metrics["orphans_a_key"]) == (6, 1)


def test_checktable_command_job_count_and_settings(spark, tables):
    """A metadata-sized CHECKTABLE command with k broadcast FK parents
    starts at most 1 + k Spark jobs, and leaves the session's AQE and
    shuffle-partition settings as they were, also when it raises."""
    import uuid

    from integritychecksforvldbs_spark.expectations import DomainRule

    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    keys = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    before = {k: spark.conf.get(k) for k in keys}
    objs = {o.object_name: o for o in list_objects(spark, "sf", SF_DIR)}
    sizes = {t: o.total_bytes for t, o in objs.items()}
    exp = expectations_for("lineitem")
    group = f"checktable-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "one CHECKTABLE command")
    try:
        res = run_checktable(
            spark, tables["lineitem"], "db", "lineitem", exp, parents=tables, sizes=sizes
        )
        bus.waitUntilEmpty(10_000)
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setJobGroup("", "")
    assert res.metrics["n_fks"] == 3
    assert 1 <= len(jobs) <= 1 + len(exp.foreign_keys)
    assert {k: spark.conf.get(k) for k in keys} == before
    # a row-level failure raises inside the planned scope
    boom = TableExpectations(
        "lineitem", domain_rules=[DomainRule("boom", "assert_true(l_linenumber < 0) IS NULL")]
    )
    with pytest.raises(Exception, match="l_linenumber"):
        run_checktable(spark, tables["lineitem"], "db", "lineitem", boom, sizes=sizes)
    assert {k: spark.conf.get(k) for k in keys} == before


def test_plan_conf_sizes_partitions_from_bytes(spark):
    from integritychecksforvldbs_spark.functions.planutil import scoped_conf
    from integritychecksforvldbs_spark.operators.kernels import (
        SMALL_COMMAND_BYTES,
        _plan_conf,
    )

    kb = 1 << 10
    with scoped_conf(spark, {"spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
                             "spark.sql.shuffle.partitions": "8"}):
        assert _plan_conf(spark, None) == {}
        assert _plan_conf(spark, SMALL_COMMAND_BYTES) == {}
        parts = {n: _plan_conf(spark, n)["spark.sql.shuffle.partitions"]
                 for n in (0, 1, 16 * kb, 16 * kb + 1, 48 * kb, 1000 * kb)}
        assert parts == {0: "1", 1: "1", 16 * kb: "1", 16 * kb + 1: "2", 48 * kb: "3",
                         1000 * kb: "8"}
        assert _plan_conf(spark, 1)["spark.sql.adaptive.enabled"] == "false"


def test_scoped_conf_restores_on_error_timeout_and_across_threads(spark):
    """Restore with set(previous), also when the block raises or a
    lock-timed-out kernel thread finishes late; scopes in other threads
    wait, so none reads another scope's values as 'previous'."""
    import sys
    import threading
    import time

    from integritychecksforvldbs_spark.functions.planutil import scoped_conf
    from integritychecksforvldbs_spark.plans.runner import _run_with_timeout

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    with pytest.raises(RuntimeError):
        with scoped_conf(spark, {key: "1"}):
            raise RuntimeError
    assert spark.conf.get(key) == before

    def slow_kernel():
        with scoped_conf(spark, {key: "1"}):
            time.sleep(2)

    with pytest.raises(TimeoutError):
        _run_with_timeout(spark, slow_kernel, 0.2, "slow")
    assert spark.conf.get(key) == before

    # more threads than cores, switching often: inside its scope each
    # thread must read its own value, and the session's value survives
    seen = []

    def worker(i):
        for _ in range(20):
            with scoped_conf(spark, {key: str(10 + i)}):
                seen.append(spark.conf.get(key) == str(10 + i))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(seen) == 160 and all(seen)
    assert spark.conf.get(key) == before


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
