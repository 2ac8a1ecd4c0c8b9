"""End-to-end table_cli subcommands (JSON summary contract)."""

from __future__ import annotations

import json

import pytest

from integritychecksforvldbs_spark import table_cli

SF_DIR = "/root/testdata/sf0.001"


def _run(capsys, *argv) -> dict:
    assert table_cli.main(list(argv)) == 0
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def test_compact_zonemap_roundtrip(spark, tmp_path, capsys):
    dest = str(tmp_path / "orders_c")
    s = _run(
        capsys, "compact", "--src", f"{SF_DIR}/orders.parquet",
        "--dest", dest, "--sort-by", "o_orderdate",
        "--target-bytes", "20000",
    )
    assert s["files_after"] >= 2
    s = _run(
        capsys, "zonemap", "--path", dest, "--column", "o_orderdate",
        "--lo", "1996-01-01", "--hi", "1996-12-31",
    )
    assert s["files_skipped"] >= 1
    assert s["files_kept"] + s["files_skipped"] == s["n_files"]


def test_repair_plan_apply_roundtrip(spark, tmp_path, capsys):
    auth = str(tmp_path / "auth")
    rep = str(tmp_path / "rep")
    a = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k long, v string")
    b = spark.createDataFrame([(1, "a"), (2, "X"), (4, "d")], "k long, v string")
    a.write.parquet(auth)
    b.write.parquet(rep)
    plan = str(tmp_path / "plan")
    s = _run(
        capsys, "repair-plan", "--authoritative", auth, "--replica", rep,
        "--keys", "k", "--out", plan,
    )
    assert s["ops"] == {"insert": 1, "update": 1, "delete": 1}
    fixed = str(tmp_path / "fixed")
    s = _run(
        capsys, "repair-apply", "--replica", rep, "--plan", plan,
        "--keys", "k", "--out", fixed,
    )
    assert s["rows"] == 3
    got = sorted(map(tuple, spark.read.parquet(fixed).collect()))
    assert got == [(1, "a"), (2, "b"), (3, "c")]


def test_scd2_apply_cli(spark, tmp_path, capsys):
    from datetime import date

    dim = str(tmp_path / "dim")
    snap = str(tmp_path / "snap")
    spark.createDataFrame(
        [(1, "a", date(2024, 1, 1), None)],
        "k long, v string, valid_from date, valid_to date",
    ).write.parquet(dim)
    spark.createDataFrame([(1, "a2"), (2, "b")], "k long, v string").write.parquet(snap)
    out = str(tmp_path / "dim2")
    s = _run(
        capsys, "scd2-apply", "--dim", dim, "--snapshot", snap,
        "--keys", "k", "--tracked", "v", "--as-of", "2024-06-01",
        "--out", out,
    )
    assert s["actions"] == {"closed": 1, "opened": 2}


def test_bm25_index_and_search_cli(spark, tmp_path, capsys):
    corpus = str(tmp_path / "corpus")
    spark.createDataFrame(
        [(1, "spark window window"), (2, "merge sort"), (3, "spark")],
        "doc_id long, text string",
    ).write.parquet(corpus)
    idx = str(tmp_path / "idx")
    s = _run(capsys, "bm25-index", "--corpus", corpus, "--out", idx)
    assert s["n_docs"] == 3
    s_direct = _run(
        capsys, "bm25-search", "--corpus", corpus, "--query", "spark window",
        "--k", "2",
    )
    s_indexed = _run(
        capsys, "bm25-search", "--index", idx, "--query", "spark window",
        "--k", "2",
    )
    assert s_direct["results"] == s_indexed["results"]
    assert s_direct["results"][0]["doc_id"] == 1


def test_profile_drift_cli(spark, tmp_path, capsys):
    a = str(tmp_path / "a")
    b = str(tmp_path / "b")
    spark.createDataFrame([(i, i % 3) for i in range(30)], "k long, v long").write.parquet(a)
    spark.createDataFrame([(i, 99) for i in range(300)], "k long, v long").write.parquet(b)
    s = _run(capsys, "profile-drift", "--baseline", a, "--candidate", b)
    assert set(s["drifted"]) == {"k", "v"}


def test_bloom_build_and_lookup_cli(spark, tmp_path, capsys):
    from pyspark.sql import functions as F2

    tbl = str(tmp_path / "keys")
    spark.range(0, 2000).select(F2.col("id").alias("k")).repartitionByRange(
        4, "k"
    ).write.parquet(tbl)
    s = _run(capsys, "bloom-build", "--path", tbl, "--column", "k")
    assert s["files_indexed"] == 4
    s = _run(capsys, "bloom-lookup", "--path", tbl, "--column", "k",
             "--value", "1500")
    assert s["rows"] == 1 and s["files_skipped"] >= 2


def test_bm25_refresh_cli(spark, tmp_path, capsys):
    corpus = str(tmp_path / "corpus")
    spark.createDataFrame(
        [(1, "spark window"), (2, "merge sort")], "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(corpus)
    idx = str(tmp_path / "idx")
    s = _run(capsys, "bm25-index", "--corpus", corpus, "--out", idx)
    assert s["n_docs"] == 2
    s = _run(capsys, "bm25-refresh", "--corpus", corpus, "--index", idx)
    assert s["action"] == "noop" and s["segments"] == 1
    spark.createDataFrame(
        [(3, "window spark spark")], "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(corpus)
    s = _run(capsys, "bm25-refresh", "--corpus", corpus, "--index", idx)
    assert s == {
        "cmd": "bm25-refresh", "action": "appended",
        "n_docs": 3, "segments": 2,
    }


def test_versioned_cli_roundtrip(spark, tmp_path, capsys):
    src1 = str(tmp_path / "w1")
    src2 = str(tmp_path / "w2")
    spark.range(0, 5).write.parquet(src1)
    spark.range(5, 8).write.parquet(src2)
    tbl = str(tmp_path / "tbl")
    s = _run(capsys, "versioned-commit", "--src", src1, "--table", tbl)
    assert s == {"cmd": "versioned-commit", "version": 1, "mode": "append"}
    s = _run(capsys, "versioned-commit", "--src", src2, "--table", tbl)
    assert s["version"] == 2
    s = _run(capsys, "versioned-history", "--table", tbl)
    assert [v["version"] for v in s["versions"]] == [1, 2]
    s = _run(
        capsys, "versioned-changes", "--table", tbl, "--from-version", "1",
        "--to-version", "2",
    )
    assert (s["inserts"], s["deletes"]) == (3, 0)
    s = _run(capsys, "versioned-rollback", "--table", tbl, "--version", "1")
    assert s == {"cmd": "versioned-rollback", "restored": 1, "as_version": 3}
    s = _run(capsys, "versioned-changes", "--table", tbl, "--from-version", "2")
    assert (s["inserts"], s["deletes"]) == (0, 3)  # rollback undid the append
    from integritychecksforvldbs_spark.sources import versioned

    assert versioned.read(spark, tbl).count() == 5
    s = _run(
        capsys, "versioned-vacuum", "--table", tbl, "--keep-versions", "2"
    )
    assert s["removed_paths"] == []  # v2/v3 still reference everything


def test_versioned_delete_cli(spark, tmp_path, capsys):
    src = str(tmp_path / "w")
    spark.range(0, 10).write.parquet(src)
    tbl = str(tmp_path / "tbl")
    _run(capsys, "versioned-commit", "--src", src, "--table", tbl)
    s = _run(capsys, "versioned-delete", "--table", tbl, "--where", "id >= 7")
    assert s == {
        "cmd": "versioned-delete", "version": 2, "n_deleted": 3,
        "strategy": "auto",
    }
    from integritychecksforvldbs_spark.sources import versioned

    assert versioned.read(spark, tbl).count() == 7
    # history still has the full set until vacuum
    assert versioned.read(spark, tbl, version=1).count() == 10


def test_versioned_schema_cli(spark, tmp_path, capsys):
    from integritychecksforvldbs_spark.sources import versioned

    tbl = str(tmp_path / "tbl")
    versioned.commit(spark, spark.range(3).selectExpr("id AS k"), tbl)
    versioned.commit(
        spark,
        spark.range(2).selectExpr("id AS k", "id AS extra"),
        tbl,
        allow_schema_change=True,
    )
    s = _run(capsys, "versioned-schema", "--table", tbl)
    assert [h["version"] for h in s["history"]] == [1, 2]
    assert "extra" in s["history"][1]["schema"]
    d = _run(
        capsys, "versioned-schema", "--table", tbl, "--from-version", "1"
    )
    assert d["added"] == ["extra"] and d["removed"] == [] and d["retyped"] == []


def test_rollup_cli_roundtrip(spark, tmp_path, capsys):
    from integritychecksforvldbs_spark.sources import matview, versioned

    tbl, rp = str(tmp_path / "t"), str(tmp_path / "r")
    versioned.commit(
        spark,
        spark.createDataFrame(
            [("a", 1, 10), ("b", 2, 20)], "g string, id long, cents long"
        ),
        tbl,
    )
    s = _run(
        capsys, "rollup-build", "--table", tbl, "--rollup", rp,
        "--keys", "g", "--measure", "total=cents",
    )
    assert s == {"cmd": "rollup-build", "rollup_version": 1, "source_version": 1}
    versioned.commit(
        spark,
        spark.createDataFrame([("a", 3, 5)], "g string, id long, cents long"),
        tbl,
    )
    s = _run(capsys, "rollup-refresh", "--table", tbl, "--rollup", rp)
    assert s == {
        "cmd": "rollup-refresh", "rollup_version": 2, "source_version": 2,
    }
    got = {
        r["g"]: (r["n_rows"], r["total"])
        for r in matview.read_rollup(spark, rp).collect()
    }
    assert got == {"a": (2, 15), "b": (1, 20)}


def test_versioned_compact_small_cli(spark, tmp_path, capsys):
    from integritychecksforvldbs_spark.sources import versioned

    tbl = str(tmp_path / "tbl")
    for i in range(4):
        versioned.commit(
            spark, spark.range(i * 3, (i + 1) * 3).coalesce(1), tbl
        )
    s = _run(
        capsys, "versioned-compact-small", "--table", tbl,
        "--min-bytes", str(1 << 30),
    )
    assert s == {
        "cmd": "versioned-compact-small", "version": 5,
        "files_rewritten": 4, "files_added": 1,
    }
    assert versioned.read(spark, tbl).count() == 12


def test_versioned_dv_and_sql_cli(spark, tmp_path, capsys):
    """r9 surface: --strategy dv on DML, versioned-merge, versioned-sql
    (metrics + time-travel SELECT), versioned-dv-info."""
    from pyspark.sql import functions as F

    from integritychecksforvldbs_spark.sources import versioned

    tbl = str(tmp_path / "tbl")
    versioned.commit(
        spark,
        spark.range(0, 200).select(
            F.col("id").alias("k"), (F.col("id") % 3).alias("g")
        ),
        tbl,
    )
    s = _run(
        capsys, "versioned-delete", "--table", tbl,
        "--where", "k in (5, 6)", "--strategy", "dv",
    )
    assert s["n_deleted"] == 2 and s["strategy"] == "dv"
    s = _run(capsys, "versioned-dv-info", "--table", tbl)
    assert s["n_dead_rows"] == 2 and s["n_files_with_dvs"] >= 1
    src = str(tmp_path / "src")
    spark.createDataFrame([(7, 99), (900, 1)], "k long, g long").write.parquet(
        src
    )
    s = _run(
        capsys, "versioned-merge", "--table", tbl, "--source", src,
        "--keys", "k", "--strategy", "dv",
    )
    assert s["version"] == 3
    s = _run(
        capsys, "versioned-sql", "--register", f"t={tbl}",
        "--statement", "UPDATE t SET g = g * 10 WHERE k = 0",
    )
    assert s["rows"][0]["n_updated"] == 1
    s = _run(
        capsys, "versioned-sql", "--register", f"t={tbl}",
        "--statement", "SELECT COUNT(*) AS n FROM t VERSION AS OF 1",
    )
    assert s["rows"][0]["n"] == 200
    got = {
        r["k"]: r["g"]
        for r in versioned.read(spark, tbl)
        .filter("k in (0, 7, 900)")
        .collect()
    }
    assert got == {0: 0, 7: 99, 900: 1}


def test_bloom_lookup_string_column_keeps_leading_zero(spark, tmp_path, capsys):
    """--value 0123 against a STRING column must probe
    '0123', not int 123 — the wrong hash silently skips files."""
    path = str(tmp_path / "codes")
    spark.createDataFrame(
        [("0123", 1), ("0456", 2), ("789", 3)], "code string, v long"
    ).coalesce(1).write.parquet(path)
    _run(capsys, "bloom-build", "--path", path, "--column", "code")
    s = _run(
        capsys, "bloom-lookup", "--path", path, "--column", "code",
        "--value", "0123",
    )
    assert s["rows"] == 1  # probing int 123 would skip the file: 0


def test_zonemap_string_column_numeric_bounds(spark, tmp_path, capsys):
    """Numeric-looking --lo/--hi on a STRING column must
    compare as strings, not raise TypeError against pyarrow stats."""
    path = str(tmp_path / "skeys")
    spark.createDataFrame(
        [("100",), ("200",), ("300",)], "k string"
    ).coalesce(1).write.parquet(path)
    s = _run(
        capsys, "zonemap", "--path", path, "--column", "k",
        "--lo", "100", "--hi", "150",
    )
    assert s["files_kept"] == 1


@pytest.mark.parametrize(
    "case",
    ["equal", "nested_out_in_input", "nested_input_in_out"],
)
def test_scd2_apply_rejects_overlapping_out(spark, tmp_path, case):
    """Overwrite to --out that overlaps an input would
    truncate the source mid-read; the CLI must refuse."""
    dim = str(tmp_path / "dim")
    snap = str(tmp_path / "snap")
    spark.createDataFrame(
        [(1, "a", "2020-01-01", None)],
        "k long, v string, valid_from string, valid_to string",
    ).write.parquet(dim)
    spark.createDataFrame([(1, "b")], "k long, v string").write.parquet(snap)
    out = {
        "equal": dim,
        "nested_out_in_input": dim + "/part",
        "nested_input_in_out": str(tmp_path),
    }[case]
    with pytest.raises(SystemExit) as ei:
        table_cli.main(
            ["scd2-apply", "--dim", dim, "--snapshot", snap,
             "--keys", "k", "--tracked", "v",
             "--as-of", "2021-01-01", "--out", out]
        )
    assert ei.value.code == 2


def test_repair_apply_rejects_overlapping_out(spark, tmp_path):
    rep = str(tmp_path / "rep")
    plan = str(tmp_path / "plan")
    spark.createDataFrame([(1, "a")], "k long, v string").write.parquet(rep)
    spark.createDataFrame(
        [(2, "b", "insert")], "k long, v string, op string"
    ).write.parquet(plan)
    with pytest.raises(SystemExit) as ei:
        table_cli.main(
            ["repair-apply", "--replica", rep, "--plan", plan,
             "--keys", "k", "--out", rep]
        )
    assert ei.value.code == 2
