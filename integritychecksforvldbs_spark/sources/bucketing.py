"""Bucketed-table helpers: co-located joins without a shuffle.

At 100 TB the dominant cost of the FK-orphan and dup-key kernels is
shuffling the fact table on the join/group key.  Writing the table
bucketed by that key moves the shuffle to WRITE time, once; every
subsequent join/aggregation on the key is shuffle-free (Spark reads
bucket i of both sides into the same task).  This module wraps the
bucketed write + a plan probe used by tests to assert the shuffle is
actually gone.

Bucketing requires a saveAsTable (metastore) target — plain
``.parquet(path)`` writes cannot carry bucket metadata.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession

from ..functions.planutil import scoped_conf


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
    path: str | None = None,
) -> None:
    """Save ``df`` as a bucketed (and optionally sorted) table.

    ``n_buckets`` should be sized so one bucket of the largest
    co-bucketed table fits an executor's task comfortably — for a
    100 TB fact table and ~128 MB tasks that is O(10⁵–10⁶) buckets.
    Joining tables must share bucket count and columns.  ``path``
    makes the table external at that location (the warehouse dir is
    static config and can't be changed on a live session).
    """
    w = df.write.mode("overwrite").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path:
        w = w.option("path", path)
    w.saveAsTable(table)


def plan_has_shuffle(df: DataFrame) -> bool:
    """True if the physical plan contains a shuffle exchange.

    BroadcastExchange is NOT a shuffle (it ships one small relation to
    every executor, no repartitioning of the big side) — only
    hash/range repartitioning exchanges count."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.replace("BroadcastExchange", "").count("Exchange") > 0


def plan_data_shuffles(df: DataFrame) -> int:
    """Number of DATA-sized shuffles: hash/range repartition exchanges.

    ``Exchange SinglePartition`` gathers of pre-aggregated partials
    (one row per task) are metadata-sized and unavoidable for a global
    aggregate — what bucketing eliminates is the repartition of the
    fact table itself, which is what this counts."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.count("Exchange hashpartitioning") + plan.count(
        "Exchange rangepartitioning"
    )


def bucketed_mirror(
    spark: SparkSession,
    src: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int,
    path: str,
    sort_cols: list[str] | None = None,
) -> DataFrame:
    """Write ``src`` as a bucketed mirror table and read it back
    bucket-aware — the frame every hot kernel should be fed when the
    deployment maintains bucketed copies of its fact tables.  The
    write shuffles ONCE; every CHECKTABLE dup-key probe, FK-orphan
    anti-join against a co-bucketed parent, and keyed aggregation on
    the bucket columns then plans zero data shuffles
    (:func:`plan_data_shuffles` == 0, pinned by tests)."""
    write_bucketed(src, table, bucket_cols, n_buckets, sort_cols, path)
    return spark.table(table)


def partitioned_mirror(
    spark: SparkSession,
    src: DataFrame,
    path: str,
    partition_cols: list[str],
) -> DataFrame:
    """Write ``src`` hive-partitioned (``col=value`` directories) and
    read it back partition-aware — the layout on which Catalyst
    PARTITION pruning (not just row-group pushdown) actually fires,
    and the physical realization of the reference's filegroups
    (DIC:1374-1377; SURVEY §2.1 #3): each first-level partition
    directory IS a filegroup per ``catalog.list_filegroups``.

    Idempotent per (path, layout): an existing mirror with a
    ``_SUCCESS`` marker AND a matching layout sidecar is reused
    (parquet inputs are immutable in this engine's snapshot contract),
    so repeated query builds pay the partitioned write once — but a
    mirror built with DIFFERENT partition columns is rebuilt, never
    silently reused with the wrong layout.  Filters on
    ``partition_cols`` over the returned frame plan as
    ``PartitionFilters`` — the scan never opens the other
    directories, which at 100 TB with daily partitions is the
    difference between reading one day and reading three years.
    """
    from .catalog import _fs_and_path, read_text_file, write_text_file

    layout_path = path.rstrip("/") + "/_mirror_layout.json"
    want_layout = json.dumps({"partition_cols": partition_cols})
    fs, hpath = _fs_and_path(spark, path)
    _, hmark = _fs_and_path(spark, path.rstrip("/") + "/_SUCCESS")
    reusable = (
        fs.exists(hpath)
        and fs.exists(hmark)
        and read_text_file(spark, layout_path) == want_layout
    )
    if not reusable:
        src.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)
        write_text_file(spark, layout_path, want_layout)
    return spark.read.parquet(path)


def cobucketed_join(
    spark: SparkSession, left_table: str, right_table: str, on: list[str]
) -> DataFrame:
    """Join two co-bucketed tables on their bucket columns — planned
    as a shuffle-free sort-merge join (verified by tests via
    :func:`plan_has_shuffle`)."""
    return spark.table(left_table).join(spark.table(right_table), on=on)


def partition_backfill(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    partition_cols: list[str],
) -> list[str]:
    """Dynamic partition overwrite — the backfill/re-run operation on
    a hive-partitioned layout: ONLY the ``col=value`` directories that
    appear in ``df`` are replaced; every other partition's files are
    untouched (contrast plain ``mode("overwrite")``, which truncates
    the whole table).  Returns the overwritten partition directory
    names, ``col=value[/col2=value2…]`` relative to ``path``.

    This is Spark's ``partitionOverwriteMode=dynamic`` session
    behavior applied per write (the conf is set and restored around
    the write, not leaked into the session).  At 100 TB the job that
    recomputes one bad day must cost one day's write, not a
    three-year truncate-and-reload — and readers of OTHER partitions
    never see a gap, since their files are never deleted.

    The backfilled frame must carry all ``partition_cols``; a frame
    with zero rows overwrites nothing (returns []).
    """
    missing = [c for c in partition_cols if c not in df.columns]
    if missing:
        raise ValueError(f"backfill frame lacks partition cols {missing}")
    parts = [
        "/".join(f"{c}={r[c]}" for c in partition_cols)
        for r in df.select(*partition_cols).distinct().collect()
    ]
    if not parts:
        return []
    with scoped_conf(spark, {"spark.sql.sources.partitionOverwriteMode": "dynamic"}):
        df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)
    return sorted(parts)
