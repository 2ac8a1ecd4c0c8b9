"""Zone-map data skipping (sources/zonemap.py): pruning really skips
files on a sorted layout, never loses rows, and keeps stats-less
files."""

from __future__ import annotations

import os
from datetime import date, datetime

import pytest
from pyspark.sql import functions as F

from integritychecksforvldbs_spark.sources import zonemap
from integritychecksforvldbs_spark.sources.loader import load_table
from integritychecksforvldbs_spark.sources.maintenance import compact_table

SF_DIR = "/root/testdata/sf0.001"
# o_orderdate is a parquet timestamp — zone bounds are timestamps too
LO, HI = datetime(1996, 1, 1), datetime(1996, 12, 31, 23, 59, 59)


@pytest.fixture(scope="module")
def sorted_orders(spark, tmp_path_factory):
    """orders rewritten date-sorted into 8 files with disjoint
    o_orderdate ranges via sorted compaction — whose write path must
    emit stats-bearing TIMESTAMP_MICROS (Spark's default INT96 has NO
    footer min/max, which would silently disable all pruning)."""
    dest = str(tmp_path_factory.mktemp("zm") / "orders_by_date")
    compact_table(
        spark,
        f"{SF_DIR}/orders.parquet",
        dest,
        target_bytes=max(1, table_bytes(f"{SF_DIR}/orders.parquet") // 8),
        sort_by=["o_orderdate"],
    )
    return dest


def table_bytes(path: str) -> int:
    import os

    return os.path.getsize(path)


def test_zone_map_covers_all_files(spark, sorted_orders):
    zm = zonemap.build_zone_map(spark, sorted_orders, "o_orderdate")
    assert len(zm) >= 4  # compaction planned ~8 range-disjoint files
    assert all(e.has_stats for e in zm)
    total = load_table(spark, f"{SF_DIR}/orders.parquet").count()
    assert sum(e.n_rows for e in zm) == total


def test_pruning_skips_files_and_loses_nothing(spark, sorted_orders):
    zm = zonemap.build_zone_map(spark, sorted_orders, "o_orderdate")
    kept, skipped = zonemap.prune_files(zm, LO, HI)
    assert skipped, "a year filter over a date-sorted layout must skip files"
    assert len(kept) + len(skipped) == len(zm)

    got = zonemap.zonemap_read(spark, sorted_orders, "o_orderdate", LO, HI)
    want = (
        load_table(spark, f"{SF_DIR}/orders.parquet")
        .filter(F.col("o_orderdate").between(F.lit(LO), F.lit(HI)))
    )
    assert got.count() == want.count()
    assert (
        got.agg(F.sum("o_orderkey")).collect()[0][0]
        == want.agg(F.sum("o_orderkey")).collect()[0][0]
    )


def test_unsorted_layout_prunes_nothing_but_stays_correct(spark):
    """On the raw (unsorted) table every file overlaps the range —
    nothing skips, the result is still exact."""
    src = f"{SF_DIR}/orders.parquet"
    zm = zonemap.build_zone_map(spark, src, "o_orderdate")
    kept, skipped = zonemap.prune_files(zm, LO, HI)
    assert not skipped
    got = zonemap.zonemap_read(spark, src, "o_orderdate", LO, HI).count()
    want = (
        load_table(spark, src)
        .filter(F.col("o_orderdate").between(F.lit(LO), F.lit(HI)))
        .count()
    )
    assert got == want


def test_empty_range_returns_empty_with_schema(spark, sorted_orders):
    out = zonemap.zonemap_read(
        spark, sorted_orders, "o_orderdate", datetime(2050, 1, 1), datetime(2050, 1, 2)
    )
    assert out.count() == 0
    assert "o_totalprice" in out.columns


def test_statsless_files_are_never_skipped(spark, tmp_path):
    """Files written without statistics must always be scanned."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    dest = tmp_path / "nostats"
    dest.mkdir()
    pq.write_table(
        pa.table({"k": [1, 2, 3]}),
        str(dest / "part-0.parquet"),
        write_statistics=False,
    )
    pq.write_table(pa.table({"k": [100, 101]}), str(dest / "part-1.parquet"))
    zm = zonemap.build_zone_map(spark, str(dest), "k")
    by_stats = {e.has_stats: e for e in zm}
    assert False in by_stats and True in by_stats
    kept, skipped = zonemap.prune_files(zm, 1, 3)
    # the stats file (100..101) skips; the stats-less one must stay
    assert by_stats[False].path in kept and by_stats[True].path in skipped
    rows = zonemap.zonemap_read(spark, str(dest), "k", 1, 3).collect()
    assert sorted(r["k"] for r in rows) == [1, 2, 3]


def test_missing_column_never_skips(spark, sorted_orders):
    zm = zonemap.build_zone_map(spark, sorted_orders, "no_such_col")
    assert all(not e.has_stats for e in zm)
    kept, skipped = zonemap.prune_files(zm, 0, 1)
    assert not skipped


def _two_col_layout(tmp_path):
    """Three files, each a disjoint (a, b) rectangle."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    dest = tmp_path / "rects"
    dest.mkdir()
    rects = [
        (range(0, 10), range(0, 10)),
        (range(10, 20), range(0, 10)),
        (range(0, 10), range(10, 20)),
    ]
    for i, (ar, br) in enumerate(rects):
        pq.write_table(
            pa.table({"a": list(ar), "b": list(br)}),
            str(dest / f"part-{i}.parquet"),
        )
    return str(dest)


def test_multi_column_pruning_intersects(spark, tmp_path):
    """A conjunction skips a file when ANY column's range excludes it:
    (a<=5) keeps files 1,3; (b<=5) keeps 1,2; together only file 1."""
    path = _two_col_layout(tmp_path)
    zmaps = zonemap.build_zone_maps(spark, path, ["a", "b"])
    kept_a, _ = zonemap.prune_files_multi(zmaps, {"a": (0, 5)})
    kept_ab, skipped_ab = zonemap.prune_files_multi(
        zmaps, {"a": (0, 5), "b": (0, 5)}
    )
    assert len(kept_a) == 2 and len(kept_ab) == 1 and len(skipped_ab) == 2

    got = zonemap.zonemap_read_multi(spark, path, {"a": (0, 5), "b": (0, 5)})
    want = (
        load_table(spark, path)
        .filter((F.col("a").between(0, 5)) & (F.col("b").between(0, 5)))
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_multi_column_single_footer_read_matches_single(spark, sorted_orders):
    """build_zone_maps (one footer probe for all columns) agrees with
    the single-column API."""
    multi = zonemap.build_zone_maps(
        spark, sorted_orders, ["o_orderdate", "o_totalprice"]
    )
    single = zonemap.build_zone_map(spark, sorted_orders, "o_orderdate")
    assert multi["o_orderdate"] == single
    assert all(e.has_stats for e in multi["o_totalprice"])


def test_multi_column_empty_conjunction_returns_empty(spark, tmp_path):
    path = _two_col_layout(tmp_path)
    out = zonemap.zonemap_read_multi(spark, path, {"a": (50, 60), "b": (0, 5)})
    assert out.count() == 0


def test_prune_scalable_paths_agree(spark, sorted_orders):
    """The distributed prune (footer read + verdict on executors) and
    the driver-loop prune implement ONE decision rule: identical
    kept-sets and skip counts on a many-file synthetic, for single and
    multi-column bounds."""
    bounds = {"o_orderdate": (LO, HI)}
    via_driver = zonemap.prune_files_scalable(
        spark, sorted_orders, bounds, driver_limit=10**9
    )
    via_executors = zonemap.prune_files_scalable(
        spark, sorted_orders, bounds, driver_limit=0
    )
    assert via_driver == via_executors
    assert via_driver[1]  # the layout really skips something
    multi = {
        "o_orderdate": (LO, HI),
        "o_totalprice": (0.0, 10**9),  # never excludes — pure conjunction
    }
    assert zonemap.prune_files_scalable(
        spark, sorted_orders, multi, driver_limit=10**9
    ) == zonemap.prune_files_scalable(spark, sorted_orders, multi, driver_limit=0)


def test_zonemap_read_distributed_prune_loses_no_rows(spark, sorted_orders, monkeypatch):
    """zonemap_read through the distributed prune path returns exactly
    the full-scan answer."""
    monkeypatch.setattr(zonemap, "DRIVER_PRUNE_LIMIT", 0)
    got = zonemap.zonemap_read(spark, sorted_orders, "o_orderdate", LO, HI)
    want = load_table(spark, sorted_orders).filter(
        F.col("o_orderdate").between(F.lit(LO), F.lit(HI))
    )
    assert got.count() == want.count() != 0


# ---------------------------------------------------------------------------
# persisted sidecar (round-6): prune without query-time footer reads
# ---------------------------------------------------------------------------


def test_sidecar_prune_matches_footer_prune(spark, sorted_orders, tmp_path):
    side = str(tmp_path / "zones")
    zonemap.build_zone_sidecar(spark, sorted_orders, "o_orderdate", side)
    kept_s, skipped_s = zonemap.sidecar_prune(
        spark, sorted_orders, "o_orderdate", LO, HI, side
    )
    zm = zonemap.build_zone_map(spark, sorted_orders, "o_orderdate")
    kept_f, skipped_f = zonemap.prune_files(zm, LO, HI)
    assert (sorted(kept_s), sorted(skipped_s)) == (
        sorted(kept_f), sorted(skipped_f),
    )
    assert skipped_s  # the layout really skips


def test_sidecar_refresh_noop_and_append(spark, tmp_path):
    import pyspark.sql.functions as F

    table = str(tmp_path / "tbl")
    spark.range(0, 100).select(F.col("id").alias("k")).coalesce(1).write.mode(
        "append"
    ).parquet(table)
    side = str(tmp_path / "zones")
    zonemap.build_zone_sidecar(spark, table, "k", side)
    assert zonemap.refresh_zone_sidecar(spark, table, "k", side) == "noop"

    # append a disjoint-range file; BEFORE refresh the sidecar lacks it
    spark.range(1000, 1100).select(F.col("id").alias("k")).coalesce(
        1
    ).write.mode("append").parquet(table)
    kept, skipped = zonemap.sidecar_prune(spark, table, "k", 1000, 1100, side)
    assert len(kept) >= 1  # unindexed appended file always kept
    assert zonemap.refresh_zone_sidecar(spark, table, "k", side) == "refreshed"
    # after refresh: the old-range file is skippable, the new one kept
    kept2, skipped2 = zonemap.sidecar_prune(spark, table, "k", 1000, 1100, side)
    assert len(kept2) == 1 and len(skipped2) == 1
    # prune never loses rows
    rows = load_table(spark, *kept2).filter(
        F.col("k").between(1000, 1100)
    ).count()
    assert rows == 100
    # refresh footer-reads ONLY new files: the kept sidecar row for the
    # first file is byte-identical to the original
    first = {
        (r["file_path"], r["size"], r["n_rows"], r["vmin"], r["vmax"])
        for r in spark.read.parquet(side).collect()
    }
    assert len(first) == 2


def test_sidecar_refresh_rebuilds_when_missing(spark, tmp_path):
    import pyspark.sql.functions as F

    table = str(tmp_path / "tbl")
    spark.range(0, 10).select(F.col("id").alias("k")).write.parquet(table)
    side = str(tmp_path / "zones")
    assert zonemap.refresh_zone_sidecar(spark, table, "k", side) == "rebuilt"
    kept, skipped = zonemap.sidecar_prune(spark, table, "k", 0, 9, side)
    assert kept and not skipped


def test_zonemap_date_bounds_on_timestamp_column(spark, tmp_path):
    """date bounds vs timestamp footer stats must compare (promoted to
    midnight — exactly Spark's DATE-vs-TIMESTAMP cast), not raise."""
    from integritychecksforvldbs_spark.sources.maintenance import compact_table

    dest = str(tmp_path / "sorted")
    compact_table(
        spark, f"{SF_DIR}/orders.parquet", dest,
        target_bytes=20_000, sort_by=["o_orderdate"],
    )
    zm = zonemap.build_zone_map(spark, dest, "o_orderdate")
    kept_d, skipped_d = zonemap.prune_files(
        zm, date(1996, 1, 1), date(1996, 12, 31)
    )
    kept_t, skipped_t = zonemap.prune_files(
        zm, datetime(1996, 1, 1), datetime(1996, 12, 31)
    )
    assert skipped_d and (kept_d, skipped_d) == (kept_t, skipped_t)


def _mk(spark, lo, hi):
    return spark.range(lo, hi).select(F.col("id").alias("k"))


def test_read_zones_distinguishes_failure_from_empty(spark, tmp_path):
    good = str(tmp_path / "good")
    _mk(spark, 0, 10).coalesce(1).write.parquet(good)
    fname = next(
        os.path.join(good, n)
        for n in os.listdir(good)
        if n.endswith(".parquet")
    )
    e = zonemap._read_zones(fname, ["k"])["k"]
    assert e.n_rows == 10 and e.has_stats
    # truncate the file: the footer read now FAILS
    with open(fname, "r+b") as f:
        f.truncate(8)
    bad = zonemap._read_zones(fname, ["k"])["k"]
    assert bad.n_rows == -1 and not bad.has_stats
    # a genuinely empty part-file is trustworthy n_rows=0
    empty = str(tmp_path / "empty")
    _mk(spark, 0, 10).filter("k < 0").coalesce(1).write.parquet(empty)
    ename = next(
        os.path.join(empty, n)
        for n in os.listdir(empty)
        if n.endswith(".parquet")
    )
    ez = zonemap._read_zones(ename, ["k"])["k"]
    assert ez.n_rows == 0
