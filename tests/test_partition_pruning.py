"""Hive-partitioned layout: Catalyst partition pruning must actually
fire (PartitionFilters on the scan), partition directories must
surface as filegroups, and the partition-scoped CHECKFILEGROUP must
agree with an explicit-file-list scope of the same data."""

import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, "/root/repo")

from integritychecksforvldbs_spark.operators import kernels  # noqa: E402
from integritychecksforvldbs_spark.plans.audit import plan_audit  # noqa: E402
from integritychecksforvldbs_spark.sources.bucketing import (  # noqa: E402
    partitioned_mirror,
)
from integritychecksforvldbs_spark.sources.catalog import (  # noqa: E402
    ObjectMeta,
    list_filegroups,
    list_parquet_files,
)
from integritychecksforvldbs_spark.sources.loader import load_table  # noqa: E402
from tests.conftest import SF_DIR  # noqa: E402


@pytest.fixture(scope="module")
def events_by_date(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("mirror") / "events_by_date")
    ev = load_table(spark, f"{SF_DIR}/events.parquet").withColumn(
        "event_date", F.to_date("ts")
    )
    return path, partitioned_mirror(spark, ev, path, ["event_date"])


def test_partition_filter_reaches_the_scan(spark, events_by_date):
    _, m = events_by_date
    day = m.filter(F.col("event_date") == F.lit("2024-01-03").cast("date"))
    audit = plan_audit(day.groupBy("event_type").count())
    assert audit.scans == 1
    assert audit.scans_with_partition_filters == 1
    plan = day._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(event_date" in plan


def test_mirror_reuse_and_row_fidelity(spark, events_by_date):
    path, m = events_by_date
    src = load_table(spark, f"{SF_DIR}/events.parquet")
    assert m.count() == src.count()
    # second call must reuse the _SUCCESS-marked mirror, not rewrite
    files_before = {f.path for f in list_parquet_files(spark, path)}
    ev = load_table(spark, f"{SF_DIR}/events.parquet").withColumn(
        "event_date", F.to_date("ts")
    )
    partitioned_mirror(spark, ev, path, ["event_date"])
    assert {f.path for f in list_parquet_files(spark, path)} == files_before


def test_partition_dirs_are_filegroups(spark, events_by_date):
    path, m = events_by_date
    obj = ObjectMeta(
        database_name="db",
        schema_name="main",
        object_name="events",
        object_type="U",
        path=path,
        files=list_parquet_files(spark, path),
    )
    groups = dict(list_filegroups(spark, obj))
    n_dates = m.select("event_date").distinct().count()
    assert len(groups) == n_dates
    assert all(g.startswith("event_date=") for g in groups)


def test_checkfilegroup_partitioned_matches_filtered_full_scan(
    spark, events_by_date
):
    path, m = events_by_date
    res = kernels.run_checkfilegroup_partitioned(
        spark, path, "event_date", "2024-01-03", "db", "events"
    )
    assert res.object == "events:event_date=2024-01-03"
    day_rows = (
        load_table(spark, f"{SF_DIR}/events.parquet")
        .filter(F.to_date("ts") == F.lit("2024-01-03").cast("date"))
        .count()
    )
    assert res.metrics["n_rows"] == day_rows


def test_partition_backfill_replaces_only_named_partitions(spark, tmp_path):
    """Dynamic overwrite: the backfilled day's directory is replaced
    (old rows gone, new rows in), every other day untouched — and the
    session conf is restored afterwards."""
    from integritychecksforvldbs_spark.sources.bucketing import (
        partition_backfill,
        partitioned_mirror,
    )

    p = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [("2024-01-01", 1, 10), ("2024-01-01", 2, 20), ("2024-01-02", 3, 30)],
        "day string, id long, v long",
    )
    partitioned_mirror(spark, base, p, ["day"])
    fix = spark.createDataFrame(
        [("2024-01-01", 9, 99)], "day string, id long, v long"
    )
    conf = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(conf, "static")
    parts = partition_backfill(spark, p, fix, ["day"])
    assert parts == ["day=2024-01-01"]
    assert spark.conf.get(conf, "static") == before  # conf restored
    got = {
        (str(r["day"]), r["id"]): r["v"]
        for r in spark.read.parquet(p).collect()  # day infers as DATE
    }
    assert got == {("2024-01-01", 9): 99, ("2024-01-02", 3): 30}


def test_partition_backfill_empty_frame_is_noop(spark, tmp_path):
    from integritychecksforvldbs_spark.sources.bucketing import (
        partition_backfill,
        partitioned_mirror,
    )

    p = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [("2024-01-01", 1, 10)], "day string, id long, v long"
    )
    partitioned_mirror(spark, base, p, ["day"])
    assert partition_backfill(spark, p, base.limit(0), ["day"]) == []
    assert spark.read.parquet(p).count() == 1


def test_partition_backfill_requires_partition_cols(spark, tmp_path):
    from integritychecksforvldbs_spark.sources.bucketing import (
        partition_backfill,
    )

    with pytest.raises(ValueError, match="partition cols"):
        partition_backfill(
            spark,
            str(tmp_path / "x"),
            spark.range(1).selectExpr("id AS v"),
            ["day"],
        )


def test_checkfilegroup_partitioned_keeps_referenced_column(spark, tmp_path):
    """Partitioning on a column the expectations reference (lang: the
    lang_is_iso2 rule) must not drop it from the checked frame."""
    from integritychecksforvldbs_spark.sources.loader import load_table

    docs = load_table(spark, f"{SF_DIR}/documents.parquet")
    root = str(tmp_path / "docs_by_lang")
    partitioned_mirror(spark, docs, root, ["lang"])
    res = kernels.run_checkfilegroup_partitioned(
        spark, root, "lang", "en", "db", "documents"
    )
    assert res.passed
    assert any("lang" in k for k in res.metrics), res.metrics


def test_partitioned_mirror_rebuilds_on_layout_change(spark, tmp_path):
    """A mirror built with different partition columns must rebuild,
    not silently reuse the stale layout."""
    df = spark.createDataFrame(
        [(1, "a", "x"), (2, "b", "y")], "k long, p string, q string"
    )
    path = str(tmp_path / "mirror")
    partitioned_mirror(spark, df, path, ["p"])
    m2 = partitioned_mirror(spark, df, path, ["q"])
    plan = (
        m2.filter(F.col("q") == "x")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters: [isnotnull(q" in plan
