"""Manifest-embedded file statistics (sources/versioned.py): commit-time
footer census riding the atomic manifest install — metadata-only
COUNT(*), table-level stats summaries, stats-pruned reads, and OPTIMIZE
ZORDER rewrites, the Delta/Iceberg data-skipping-from-the-log idea.
Reference parity: the reference trusts the database's allocation
metadata for CHECKALLOC-grade answers (DatabaseIntegrityCheck.sql
CHECKALLOC path); here the manifest is that metadata."""

from __future__ import annotations

import datetime
import json
import os

import pytest
from pyspark.sql import functions as F

from integritychecksforvldbs_spark.sources import versioned


def _mk(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        (F.col("id") * 2).cast("double").alias("price"),
        F.concat(F.lit("doc-"), F.col("id")).alias("label"),
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_commit_records_per_file_stats(spark, tmp_path):
    path = str(tmp_path / "tbl")
    versioned.commit(spark, _mk(spark, 0, 100), path)
    man = versioned._read_manifest(path, 1)
    assert set(man["stats"]) == set(man["files"])
    ent = next(iter(man["stats"].values()))
    assert ent["n_rows"] > 0
    for c in ("k", "price", "label"):
        assert ent["cols"][c]["ok"]
    summ = versioned.stats_summary(path, ["k", "price", "label"])
    assert summ["k"] == {"min": 0, "max": 99, "n_nulls": 0, "ok": True}
    assert summ["price"]["max"] == 198.0
    assert summ["label"]["min"] == "doc-0" and summ["label"]["ok"]


def test_append_carries_parent_stats_forward(spark, tmp_path):
    path = str(tmp_path / "tbl")
    versioned.commit(spark, _mk(spark, 0, 10), path)
    m1 = versioned._read_manifest(path, 1)
    versioned.commit(spark, _mk(spark, 10, 20), path)
    # v2 is a DELTA body: only the new files' stats ride it — the
    # parent's entries are never re-censused OR re-serialized
    raw2 = versioned._read_manifest(path, 2)
    assert "files" not in raw2 and set(raw2["add_stats"]).isdisjoint(
        m1["stats"]
    )
    m2 = versioned._snapshot(path, 2)  # folded view carries them
    for f, ent in m1["stats"].items():
        assert m2["stats"][f] == ent
    assert set(m2["stats"]) == set(m2["files"])
    assert versioned.stats_summary(path, ["k"])["k"]["max"] == 19


def test_row_count_is_metadata_only(spark, tmp_path):
    """COUNT(*) answers from the manifest even after a data file's
    PAGES become unreadable — proof no data file is opened."""
    path = str(tmp_path / "tbl")
    versioned.commit(spark, _mk(spark, 0, 57), path)
    versioned.commit(spark, _mk(spark, 57, 90), path)
    assert versioned.row_count(spark, path) == 90
    assert versioned.row_count(spark, path, version=1) == 57
    man = versioned._snapshot(path, 2)
    victim = versioned._local(man["files"][0])
    os.rename(victim, victim + ".gone")
    try:
        assert versioned.row_count(spark, path) == 90
    finally:
        os.rename(victim + ".gone", victim)


def test_row_count_falls_back_for_stats_less_manifest(spark, tmp_path):
    """A legacy manifest without stats still counts — one footer read
    per uncensused file, never the data pages."""
    path = str(tmp_path / "tbl")
    versioned.commit(spark, _mk(spark, 0, 40), path)
    mf = os.path.join(path, "_versions", "v0000000001.json")
    with open(mf) as f:
        man = json.load(f)
    del man["stats"]
    os.unlink(mf)
    with open(mf, "w") as f:
        json.dump(man, f)
    assert versioned.row_count(spark, path) == 40


def test_read_where_equals_filtered_read_and_prunes(spark, tmp_path):
    path = str(tmp_path / "tbl")
    # a clustered write -> disjoint per-file k ranges -> prunable
    versioned.commit(
        spark,
        _mk(spark, 0, 1000).repartitionByRange(8, "k"),
        path,
    )
    man = versioned._read_manifest(path, 1)
    assert len(man["files"]) == 8
    bounds = {"k": (100, 180)}
    kept, skipped = versioned._prune_manifest_files(man, bounds)
    assert skipped and len(kept) < 8  # real file skipping happened
    got = versioned.read_where(spark, path, bounds)
    want = versioned.read(spark, path).filter(F.col("k").between(100, 180))
    assert _rows(got) == _rows(want)
    # open-ended range
    got_open = versioned.read_where(spark, path, {"k": (900, None)})
    assert _rows(got_open) == _rows(
        versioned.read(spark, path).filter(F.col("k") >= 900)
    )
    # a range past the data: zero files planned, empty result, schema kept
    empty = versioned.read_where(spark, path, {"k": (5000, 6000)})
    assert empty.count() == 0
    assert empty.columns == ["k", "price", "label"]


def test_read_where_keeps_stats_less_files(spark, tmp_path):
    """Files without trustworthy stats can never be skipped —
    correctness never depends on the census."""
    path = str(tmp_path / "tbl")
    versioned.commit(
        spark, _mk(spark, 0, 100).repartitionByRange(4, "k"), path
    )
    mf = os.path.join(path, "_versions", "v0000000001.json")
    with open(mf) as f:
        man = json.load(f)
    # blind one file's stats
    blind = man["files"][0]
    man["stats"][blind]["cols"] = {}
    os.unlink(mf)
    with open(mf, "w") as f:
        json.dump(man, f)
    man2 = versioned._read_manifest(path, 1)
    kept, _ = versioned._prune_manifest_files(man2, {"k": (0, 0)})
    assert blind in kept
    got = versioned.read_where(spark, path, {"k": (0, 24)})
    assert sorted(r["k"] for r in got.collect()) == list(range(25))


def test_read_where_multi_column_and_timestamp(spark, tmp_path):
    path = str(tmp_path / "tbl")
    df = spark.range(0, 200).select(
        F.col("id").alias("k"),
        F.to_timestamp(
            F.lit("2024-01-01 00:00:00")
        ).alias("base"),
    ).select(
        "k",
        F.expr("base + make_interval(0, 0, 0, 0, k)").alias("ts"),
    )
    versioned.commit(spark, df.repartitionByRange(4, "k"), path)
    lo = datetime.datetime(2024, 1, 1, 2, 0)
    hi = datetime.datetime(2024, 1, 1, 4, 0)
    got = versioned.read_where(spark, path, {"ts": (lo, hi)})
    want = versioned.read(spark, path).filter(F.col("ts").between(lo, hi))
    assert _rows(got) == _rows(want)
    man = versioned._read_manifest(path, 1)
    _, skipped = versioned._prune_manifest_files(man, {"ts": (lo, hi)})
    assert skipped  # timestamp stats round-trip the JSON encoding


def test_optimize_zorder_tightens_skipping(spark, tmp_path):
    path = str(tmp_path / "tbl")
    # shuffled layout: every file spans ~the full k range, nothing prunes
    df = _mk(spark, 0, 2000).repartition(8)
    versioned.commit(spark, df, path)
    man1 = versioned._read_manifest(path, 1)
    bounds = {"k": (0, 99), "price": (0.0, 198.0)}
    _, skipped_before = versioned._prune_manifest_files(man1, bounds)
    v, before, after = versioned.optimize(
        spark, path, zorder_by=["k", "price"], n_files=8
    )
    assert v == 2 and before == 8
    man2 = versioned._snapshot(path, 2)  # optimize commits a replace delta
    _, skipped_after = versioned._prune_manifest_files(man2, bounds)
    assert len(skipped_after) > len(skipped_before)
    # rows preserved, answers identical, history intact
    assert versioned.row_count(spark, path) == 2000
    got = versioned.read_where(spark, path, bounds)
    want = versioned.read(spark, path, version=1).filter(
        F.col("k").between(0, 99) & F.col("price").between(0.0, 198.0)
    )
    assert _rows(got) == _rows(want)
    assert versioned.read(spark, path, version=1).count() == 2000


def test_optimize_plain_compaction(spark, tmp_path):
    path = str(tmp_path / "tbl")
    for i in range(4):
        versioned.commit(spark, _mk(spark, i * 10, (i + 1) * 10), path)
    v, before, after = versioned.optimize(spark, path, n_files=1)
    assert after == 1 and before >= 4
    assert versioned.row_count(spark, path) == 40


def test_stats_survive_rollback_and_merge(spark, tmp_path):
    path = str(tmp_path / "tbl")
    versioned.commit(spark, _mk(spark, 0, 30), path)
    versioned.commit(spark, _mk(spark, 100, 130), path, mode="overwrite")
    rv = versioned.rollback(spark, path, 1)
    assert versioned.stats_summary(path, ["k"], version=rv)["k"] == {
        "min": 0, "max": 29, "n_nulls": 0, "ok": True,
    }
    src = _mk(spark, 25, 35)
    versioned.merge_into(spark, path, src, ["k"])
    summ = versioned.stats_summary(path, ["k"])
    assert summ["k"]["min"] == 0 and summ["k"]["max"] == 34 and summ["k"]["ok"]
    assert versioned.row_count(spark, path) == 35


def test_commit_refuses_unreadable_footer_instead_of_empty_stats(
    spark, tmp_path, monkeypatch
):
    """The poisoned-manifest scenario: if a freshly written file's
    footer cannot be read at census time, commit must raise — not
    record n_rows=0 and let row_count/read_where silently drop the
    file's rows forever."""
    from integritychecksforvldbs_spark.sources import zonemap

    path = str(tmp_path / "tbl")
    orig = zonemap.build_zone_maps

    def failing(spark_, data_dir, columns):
        zm = orig(spark_, data_dir, columns)
        return {
            c: [
                zonemap.ZoneEntry(e.path, -1, None, None, 0, False)
                for e in entries
            ]
            for c, entries in zm.items()
        }

    monkeypatch.setattr(zonemap, "build_zone_maps", failing)
    with pytest.raises(IOError, match="unreadable"):
        versioned.commit(spark, _mk(spark, 0, 5), path)
    # nothing committed: the table has no poisoned version
    assert versioned._versions(path) == []


def test_empty_dataframe_commit_still_records_trustworthy_zero(
    spark, tmp_path
):
    path = str(tmp_path / "tbl")
    versioned.commit(spark, _mk(spark, 0, 5).filter("k < 0"), path)
    assert versioned.row_count(spark, path) == 0
