"""Bloom-filter file skipping (sources/bloomskip.py): no false
negatives, real skipping on clustered layouts, append safety."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from integritychecksforvldbs_spark.sources import bloomskip
from integritychecksforvldbs_spark.sources.loader import load_table


@pytest.fixture(scope="module")
def clustered(spark, tmp_path_factory):
    """8 files, each holding a disjoint key range (the layout sorted
    compaction produces)."""
    dest = str(tmp_path_factory.mktemp("bloom") / "tbl")
    df = spark.range(0, 8000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("v")
    )
    df.repartitionByRange(8, "k").write.mode("overwrite").parquet(dest)
    return dest


def test_bloom_skips_and_finds_everything(spark, clustered):
    bloomskip.build_bloom_index(spark, clustered, "k")
    hits = misses = 0
    for probe in (0, 1234, 4567, 7999):
        kept, skipped = bloomskip.bloom_prune(spark, clustered, "k", probe)
        assert skipped, f"clustered layout must skip files for k={probe}"
        rows = bloomskip.bloom_read(spark, clustered, "k", probe).collect()
        assert [r["k"] for r in rows] == [probe]  # zero false negatives
        hits += len(kept)
        misses += len(skipped)
    assert misses > hits  # most files skip for point probes


def test_bloom_absent_value_skips_all_or_matches_empty(spark, clustered):
    out = bloomskip.bloom_read(spark, clustered, "k", 999_999)
    assert out.count() == 0


def test_bloom_unindexed_appended_file_is_kept(spark, clustered, tmp_path):
    """A file added AFTER the index build must always be scanned."""
    import shutil

    dest = str(tmp_path / "tbl2")
    shutil.copytree(clustered, dest)
    bloomskip.build_bloom_index(spark, dest, "k")
    spark.createDataFrame([(100_000, 1)], "k long, v long").coalesce(
        1
    ).write.mode("append").parquet(dest)
    rows = bloomskip.bloom_read(spark, dest, "k", 100_000).collect()
    assert [r["k"] for r in rows] == [100_000]


def test_bloom_equality_matches_full_scan(spark, clustered):
    bloomskip.build_bloom_index(spark, clustered, "v")
    got = bloomskip.bloom_read(spark, clustered, "v", 42).count()
    want = (
        load_table(spark, clustered).filter(F.col("v") == 42).count()
    )
    assert got == want and want > 0
    # v is scattered across every file: bloom keeps them all (no
    # false negatives possible), and the result is still exact
    kept, skipped = bloomskip.bloom_prune(spark, clustered, "v", 42)
    assert not skipped


def test_bloom_prune_collects_paths_never_bitsets(
    spark, clustered, monkeypatch
):
    """r10 verdict #1 (bloomskip twin): the prune must never collect a
    ``bits`` column — only prunable paths travel to the driver — and
    present/absent probes keep the no-false-negative contract."""
    bloomskip.build_bloom_index(spark, clustered, "k")

    from pyspark.sql.classic.dataframe import DataFrame

    seen: list[list[str]] = []
    orig = DataFrame.collect

    def spy(self):
        rows = orig(self)
        seen.append((list(self.columns), len(rows)))
        return rows

    monkeypatch.setattr(DataFrame, "collect", spy)
    kept_present, _ = bloomskip.bloom_prune(spark, clustered, "k", 4242)
    kept_absent, skipped_absent = bloomskip.bloom_prune(
        spark, clustered, "k", 10**9
    )
    monkeypatch.undo()
    assert seen
    for cols, n_rows in seen:
        # the head probe reads (n_bits, k) from ONE row; full-width
        # collects of the index are forbidden
        assert "bits" not in cols or n_rows <= 1
    assert kept_present  # the holder file survives a present probe
    assert skipped_absent  # an absent value prunes


def test_bloom_read_semijoin_no_false_negatives(spark, clustered):
    got = bloomskip.bloom_read(spark, clustered, "k", 4242)
    assert [tuple(r) for r in got.collect()] == [(4242, 4242 % 97)]


def test_bloom_read_many_equals_loop(spark, clustered):
    """The batched probe must return exactly the union of per-value
    bloom_read results (present keys, absent keys, and an empty
    batch)."""
    keys = [4242, 7, 10**9, 123]
    batched = sorted(
        tuple(r)
        for r in bloomskip.bloom_read_many(
            spark, clustered, "k", keys
        ).collect()
    )
    loop = []
    for key in keys:
        loop.extend(
            tuple(r)
            for r in bloomskip.bloom_read(spark, clustered, "k", key).collect()
        )
    assert batched == sorted(loop)
    empty = bloomskip.bloom_read_many(spark, clustered, "k", [])
    assert empty.count() == 0


def test_bloom_prunes_on_percent_encoded_paths(spark, tmp_path):
    """A table under a path with a space: input_file_name percent-
    encodes, the listing does not — the index must still match (the
    canonical-path pairing), so pruning fires instead of silently
    keeping everything."""
    from pyspark.sql import functions as F2

    from integritychecksforvldbs_spark.sources import bloomskip

    dest = str(tmp_path / "my data" / "tbl")
    spark.range(0, 2000).select(F2.col("id").alias("k")).repartitionByRange(
        4, "k"
    ).write.parquet(dest)
    bloomskip.build_bloom_index(spark, dest, "k")
    kept, skipped = bloomskip.bloom_prune(spark, dest, "k", 1500)
    assert skipped, "encoded-path index must still match the listing"
    rows = bloomskip.bloom_read(spark, dest, "k", 1500).collect()
    assert [r["k"] for r in rows] == [1500]
