"""Predicate-algebra soundness fuzzer (r12): random WHERE conditions
drawn from the full supported grammar — comparisons (both literal
orders), BETWEEN, IN-lists, LIKE, IS [NOT] NULL, parenthesized
same-column OR-disjunctions, NOT-wrapped conjuncts, functions,
modulo, cross-column ORs — over a table whose layout makes pruning
BITE (range-clustered k, identity-partitioned g, nullable j), each
asserting ``read_sql_where`` == plain ``read().filter``.  The
profile may extract whatever it wants; the answers must be equal.
This is the test that catches an unsound bound the moment a new atom
joins the algebra.  Pinned cases follow it: an atom whose bound cannot
compare with a column's stats (a date function over a STRING column)
reads unpruned instead of raising, and a LIKE-prefix upper bound never
lands in the surrogate block.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from integritychecksforvldbs_spark.sources import versioned


@pytest.fixture(scope="module")
def ftbl(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("predfuzz") / "t")
    df = spark.range(600).select(
        F.col("id").alias("k"),
        F.concat(F.lit("g"), (F.col("id") % 4).cast("string")).alias(
            "g"
        ),
        F.when(F.col("id") % 7 == 0, None)
        .otherwise(F.col("id") * 2)
        .alias("j"),
        F.format_string("name-%03d", (F.col("id") % 50).cast("int"))
        .alias("s"),
        F.expr(
            "timestamp'2024-01-01 06:00:00' + make_interval("
            "0, 0, 0, CAST(id % 12 AS INT), 0, 0, 0)"
        ).alias("ts"),
    )
    versioned.commit(
        spark, df.repartitionByRange(8, "k"), path,
        partition_by=None,
    )
    return path


def _atoms(rng: random.Random) -> list[str]:
    k = rng.randrange(0, 650)
    k2 = rng.randrange(0, 650)
    lo, hi = min(k, k2), max(k, k2)
    g = f"g{rng.randrange(0, 5)}"
    s = f"name-{rng.randrange(0, 60):03d}"
    pool = [
        f"k = {k}",
        f"k >= {lo}",
        f"k < {hi}",
        f"{k} <= k",
        f"k BETWEEN {lo} AND {hi}",
        f"k IN ({k}, {k2}, {rng.randrange(0, 650)})",
        f"g = '{g}'",
        f"g IN ('g0', '{g}')",
        f"(g = 'g1' OR g = '{g}')",
        f"(k = {k} OR k = {k2})",
        "j IS NULL",
        "j IS NOT NULL",
        f"j > {k}",
        f"s LIKE 'name-0{rng.randrange(0, 10)}%'",
        f"s LIKE '{s}'",
        "s LIKE '%5'",
        f"NOT (k = {k})",
        f"k % 10 = {rng.randrange(0, 10)}",
        f"length(s) > {rng.randrange(5, 10)}",
        f"(k = {k} OR g = '{g}')",  # cross-column OR (parenthesized)
        f"(k < {lo} OR k > {hi})",  # anti-range (r13 union-prunes)
        f"(k < {lo} OR j IS NULL OR g = '{g}')",
        f"(k BETWEEN {lo} AND {hi} OR s LIKE 'name-00%')",
        f"CAST(ts AS DATE) = '2024-01-{rng.randrange(1, 15):02d}'",
        f"to_date(ts) >= DATE '2024-01-{rng.randrange(1, 15):02d}'",
        f"date(ts) BETWEEN '2024-01-0{rng.randrange(1, 9)}' "
        f"AND '2024-01-{rng.randrange(9, 14)}'",
        "year(ts) = 2024",
        f"month(ts) = {rng.randrange(1, 13)}",  # never bounds
    ]
    rng.shuffle(pool)
    return pool


def test_random_conditions_prune_soundly(spark, ftbl):
    rng = random.Random(120_12)
    base = versioned.read(spark, ftbl).cache()
    base.count()
    try:
        for i in range(40):
            n = rng.randrange(1, 4)
            picked = _atoms(rng)[:n]
            # sometimes a bare top-level OR between the conjuncts
            # (r13: union-prunes per-disjunct when every disjunct
            # profiles, reads unpruned otherwise — either way the
            # answer must be exact)
            conn = (
                " OR " if n > 1 and rng.random() < 0.3 else " AND "
            )
            cond = conn.join(picked)
            got = sorted(
                map(
                    tuple,
                    versioned.read_sql_where(
                        spark, ftbl, cond
                    ).collect(),
                )
            )
            want = sorted(
                map(tuple, base.filter(F.expr(cond)).collect())
            )
            assert got == want, f"case {i}: {cond!r}"
    finally:
        base.unpersist()


def test_random_conditions_prune_soundly_partitioned(spark, tmp_path):
    """Same grammar over an identity+Bloom table — the layouts where
    points/null channels actually kill files."""
    path = str(tmp_path / "p")
    df = spark.range(400).select(
        F.col("id").alias("k"),
        F.concat(F.lit("g"), (F.col("id") % 3).cast("string")).alias(
            "g"
        ),
        F.when(F.col("id") % 5 == 0, None)
        .otherwise(F.col("id"))
        .alias("j"),
        F.format_string("name-%03d", (F.col("id") % 40).cast("int"))
        .alias("s"),
        F.expr(
            "timestamp'2024-01-01 06:00:00' + make_interval("
            "0, 0, 0, CAST(id % 12 AS INT), 0, 0, 0)"
        ).alias("ts"),
    )
    versioned.commit(spark, df, path, partition_by=["g"])
    versioned.build_bloom(spark, path, "k")
    rng = random.Random(77)
    base = versioned.read(spark, path).cache()
    base.count()
    try:
        for i in range(25):
            n = rng.randrange(1, 4)
            cond = " AND ".join(_atoms(rng)[:n])
            got = sorted(
                map(
                    tuple,
                    versioned.read_sql_where(
                        spark, path, cond
                    ).collect(),
                )
            )
            want = sorted(
                map(tuple, base.filter(F.expr(cond)).collect())
            )
            assert got == want, f"case {i}: {cond!r}"
    finally:
        base.unpersist()


def test_random_join_chains_prune_soundly(spark, tmp_path):
    """r13 (VERDICT r12 #1 fuzzer extension): random fact⋈dim[⋈dim]
    INNER chains with conditions drawn from the atom pool on any
    side — the front door's side-pruned binding must answer exactly
    like the plain spark.sql join over unpruned views."""
    from integritychecksforvldbs_spark.sources.versioned_sql import (
        register_table,
        versioned_sql,
    )

    fact = str(tmp_path / "jf")
    d1 = str(tmp_path / "jd1")
    d2 = str(tmp_path / "jd2")
    fdf = spark.range(600).select(
        F.col("id").alias("k"),
        (F.col("id") % 40).alias("ck"),
        (F.col("id") % 8).alias("nk"),
        (F.col("id") * 2).alias("amount"),
    )
    cdf = spark.range(40).select(
        F.col("id").alias("ck"), (F.col("id") % 5).alias("seg")
    )
    ndf = spark.range(8).select(
        F.col("id").alias("nk"), (F.col("id") % 3).alias("rg")
    )
    versioned.commit(spark, fdf.repartitionByRange(6, "k"), fact)
    versioned.commit(spark, cdf.repartitionByRange(3, "ck"), d1)
    versioned.commit(spark, ndf, d2)
    register_table("fz_f", fact)
    register_table("fz_c", d1)
    register_table("fz_n", d2)
    fdf2, cdf2, ndf2 = (
        versioned.read(spark, fact),
        versioned.read(spark, d1),
        versioned.read(spark, d2),
    )
    fdf2.createOrReplaceTempView("pl_f")
    cdf2.createOrReplaceTempView("pl_c")
    ndf2.createOrReplaceTempView("pl_n")
    rng = random.Random(13_13)

    def _conds():
        k = rng.randrange(0, 650)
        pool = [
            f"f.k >= {k}",
            f"f.k < {k}",
            f"c.seg = {rng.randrange(0, 5)}",
            f"c.ck IN ({rng.randrange(0, 40)}, {rng.randrange(0, 40)})",
            f"n.rg = {rng.randrange(0, 3)}",
            f"f.amount % 10 = {rng.randrange(0, 10)}",
            f"(f.k < {k} OR f.k > {k + 100})",
            f"n.nk BETWEEN {rng.randrange(0, 4)} AND {rng.randrange(4, 9)}",
        ]
        rng.shuffle(pool)
        return pool

    try:
        for i in range(15):
            three = rng.random() < 0.6
            pool = _conds()
            if not three:
                # two-table: no third alias is bound — drop n-atoms
                pool = [c for c in pool if "n." not in c]
            picked = pool[: rng.randrange(1, 4)] or ["f.k >= 0"]
            where = " AND ".join(picked)
            shape = (
                "FROM {ff} f JOIN {cc} c ON f.ck = c.ck "
                + ("INNER JOIN {nn} n ON f.nk = n.nk " if three else "")
            )
            sel = "SELECT f.k, f.amount, c.seg" + (
                ", n.rg" if three else ""
            )
            q_pruned = (
                f"{sel} "
                + shape.format(ff="fz_f", cc="fz_c", nn="fz_n")
                + f"WHERE {where}"
            )
            q_plain = (
                f"{sel} "
                + shape.format(ff="pl_f", cc="pl_c", nn="pl_n")
                + f"WHERE {where}"
            )
            got = sorted(
                map(tuple, versioned_sql(spark, q_pruned).collect())
            )
            want = sorted(map(tuple, spark.sql(q_plain).collect()))
            assert got == want, f"case {i}: {q_pruned!r}"
    finally:
        register_table("fz_f", None)
        register_table("fz_c", None)
        register_table("fz_n", None)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def str_date_tbl(spark, tmp_path):
    """A table whose date column is a plain STRING (ISO text) — the
    shape the date-fn atoms must survive, not prune."""
    path = str(tmp_path / "sdt")
    df = spark.createDataFrame(
        [
            (i, f"2024-01-{(i % 9) + 1:02d}", f"name-{i}")
            for i in range(40)
        ],
        "k int, s string, nm string",
    )
    versioned.commit(spark, df.repartitionByRange(4, "k"), path)
    return path


@pytest.mark.parametrize(
    "cond",
    [
        "to_date(s) = '2024-01-05'",
        "CAST(s AS DATE) >= '2024-01-03'",
        "year(s) = 2024",
    ],
)
def test_date_fn_atom_over_string_column_reads_unpruned(
    spark, str_date_tbl, cond
):
    got = versioned.read_sql_where(spark, str_date_tbl, cond)
    exp = versioned.read(spark, str_date_tbl).filter(F.expr(cond))
    assert _rows(got) == _rows(exp)
    assert got.count() > 0  # the predicate really selects rows


def test_date_fn_atom_over_string_column_explain_no_crash(
    spark, str_date_tbl
):
    info = versioned.explain_pruning(
        spark, str_date_tbl, "to_date(s) = '2024-01-05'"
    )
    # incomparable bound: every file kept (conservative), no raise
    assert info["files_after_stats"] == info["files_total"]


def test_stat_lt_guard_keeps_incomparable_file():
    """Unit pin on the exact comparison the crash used: datetime
    bound vs string stat must KEEP the file, not raise."""
    import datetime

    man = {
        "files": ["f1"],
        "stats": {
            "f1": {
                "n_rows": 5,
                "cols": {
                    "s": {
                        "ok": True,
                        "min": "2024-01-01",
                        "max": "2024-01-09",
                        "nulls": 0,
                        "nulls_ok": True,
                    }
                },
            }
        },
    }
    lo = datetime.date(2024, 1, 5)
    kept, skipped = versioned._prune_manifest_files(
        man, {"s": (lo, lo)}, None, None
    )
    assert kept == ["f1"] and skipped == []


def test_like_prefix_surrogate_boundary_bound_is_encodable(spark, tmp_path):
    path = str(tmp_path / "sur")
    edge = "a" + chr(0xD7FF)  # next codepoint is the surrogate block
    df = spark.createDataFrame(
        [(1, edge + "x"), (2, "zzz"), (3, edge)], "k int, s string"
    )
    versioned.commit(spark, df, path)
    cond = f"s LIKE '{edge}%'"
    got = versioned.read_sql_where(spark, path, cond)
    assert sorted(r.k for r in got.collect()) == [1, 3]
    # and the profile's upper bound is not an unpaired surrogate
    bounds, _ = versioned._condition_profile(cond)
    lo, hi = bounds["s"]
    assert lo == edge
    assert not (0xD800 <= ord(hi[-1]) <= 0xDFFF)


def test_like_prefix_normal_case_unchanged():
    bounds, _ = versioned._condition_profile("nm LIKE 'name-1%'")
    assert bounds["nm"] == ("name-1", "name-2")
