"""Table maintenance: small-file compaction.

The operational hazard every parquet lake hits at scale: streaming
ingests and incremental appends leave thousands of KB-sized part
files, and scan parallelism + footer-read overhead degrade long before
data volume does (a 100k-file table costs 100k GETs per scan before a
single row is read).  The reference's maintenance analogue is index
rebuild scheduling; here the rebuild is a rewrite into
target-size-bounded files.

Compaction is a REWRITE-then-swap, never in-place: the destination is
written complete, the swap is the caller's atomic rename/pointer flip
(same single-writer contract as the state store).  ``sort_by`` writes
each output file range-partitioned and sorted, so min/max footer
stats become selective and range predicates skip whole files.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from integritychecksforvldbs_spark.functions.planutil import scoped_conf
from integritychecksforvldbs_spark.sources.loader import load_table

DEFAULT_TARGET_BYTES = 256 * 1024 * 1024


@dataclass(frozen=True)
class FileStats:
    n_files: int
    total_bytes: int

    @property
    def avg_bytes(self) -> float:
        return self.total_bytes / self.n_files if self.n_files else 0.0


def table_file_stats(path: str) -> FileStats:
    """Part-file census for a table path (single file or directory)."""
    if os.path.isfile(path):
        return FileStats(1, os.path.getsize(path))
    n = 0
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                total += os.path.getsize(os.path.join(root, f))
    return FileStats(n, total)


def compaction_plan(
    stats: FileStats, target_bytes: int = DEFAULT_TARGET_BYTES
) -> int:
    """Number of output files a compaction should produce: total bytes
    over the target, minimum one.  Deciding from the file census (not
    a data scan) keeps planning metadata-sized."""
    return max(1, math.ceil(stats.total_bytes / target_bytes))


def needs_compaction(
    stats: FileStats,
    target_bytes: int = DEFAULT_TARGET_BYTES,
    small_file_ratio: float = 0.5,
) -> bool:
    """True when at least half the planned output size is fragmented:
    the table has > plan×(1/small_file_ratio) files — i.e. average
    file size is below ``small_file_ratio × target``."""
    if stats.n_files <= 1:
        return False
    return stats.avg_bytes < small_file_ratio * target_bytes


def compact_table(
    spark: SparkSession,
    src_path: str,
    dest_path: str,
    target_bytes: int = DEFAULT_TARGET_BYTES,
    sort_by: list[str] | None = None,
) -> tuple[FileStats, FileStats]:
    """Rewrite ``src_path`` into ``dest_path`` as ~target-sized files;
    returns (before, after) stats.

    One job: scan → exchange into the planned file count → write.
    ``sort_by`` uses a range exchange + within-partition sort, so each
    output file covers a disjoint key range and its parquet footer
    min/max prune range scans.  The source is left untouched — the
    atomic swap is the caller's (rename on POSIX, pointer flip on an
    ACID table format).
    """
    before = table_file_stats(src_path)
    n_out = compaction_plan(before, target_bytes)
    df: DataFrame = load_table(spark, src_path)
    if sort_by:
        df = df.repartitionByRange(n_out, *sort_by).sortWithinPartitions(*sort_by)
    else:
        df = df.repartition(n_out)
    write_stats_friendly(spark, df, dest_path)
    return before, table_file_stats(dest_path)


def write_stats_friendly(
    spark: SparkSession,
    df: DataFrame,
    dest: str,
    partition_by: list[str] | None = None,
) -> None:
    """Parquet write with footer min/max intact for EVERY column.

    Spark's default timestamp encoding is legacy INT96, which parquet
    defines NO statistics for — a timestamp-sorted compaction would
    silently produce files that zone maps and row-group pushdown
    cannot prune (the entire point of sorting).  TIMESTAMP_MICROS is
    the standards-track encoding with full stats; scoped to this
    write, restored after.  ``partition_by``: hive-style
    ``col=value/`` layout."""
    with scoped_conf(spark, {"spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS"}):
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(dest)


# ---------------------------------------------------------------------------
# z-order clustering (multi-column file skipping)
# ---------------------------------------------------------------------------

from pyspark.sql import Column  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

ZORDER_BITS = 8


def _rank_bucket_expr(col: str, boundaries: list[float]) -> Column:
    """Map a numeric column onto its rank bucket: the count of
    quantile boundaries ≤ value, evaluated as a JVM higher-order
    ``aggregate`` over a literal boundary array (no UDF, no join).
    Rank buckets (equi-depth) rather than ``width_bucket`` (equi-width)
    so skewed columns still spread across the full bucket range.
    NULLs land in bucket 0 and therefore cluster together."""
    lits = ", ".join(repr(float(b)) for b in boundaries)
    return F.expr(
        f"CASE WHEN {col} IS NULL THEN 0 ELSE "
        f"aggregate(array({lits}), 0, "
        f"(acc, b) -> acc + IF(CAST({col} AS DOUBLE) >= b, 1, 0)) END"
    )


def zorder_key(
    df: DataFrame,
    cols: list[str],
    bits: int = ZORDER_BITS,
    relative_error: float = 0.001,
) -> Column:
    """Z-value (Morton code) column over ``cols``: each column is
    rank-bucketed into ``2**bits`` equi-depth buckets via
    ``approxQuantile`` boundaries (a bounded driver-side sketch — the
    standard practice for z-order writers), then the bucket ids'
    bits are interleaved msb-first.  Range-partitioning the write on
    this key gives every listed column footer min/max locality, so
    predicates on ANY of them skip files — the layout a single-column
    sort only provides for its leading column.
    """
    n_buckets = 1 << bits
    probs = [i / n_buckets for i in range(1, n_buckets)]
    all_bounds = df.stat.approxQuantile(cols, probs, relative_error)
    m = len(cols)
    terms: list[Column] = []
    for k, (c, bounds) in enumerate(zip(cols, all_bounds)):
        bucket = _rank_bucket_expr(c, bounds).cast("long")
        for i in range(bits):
            pos = i * m + (m - 1 - k)
            terms.append(
                F.shiftleft(F.shiftright(bucket, i).bitwiseAND(1), pos)
            )
    z = terms[0]
    for t in terms[1:]:
        z = z + t
    return z.cast("long")


def zorder_compact(
    spark: SparkSession,
    src_path: str,
    dest_path: str,
    zorder_by: list[str],
    target_bytes: int = DEFAULT_TARGET_BYTES,
    bits: int = ZORDER_BITS,
) -> tuple[FileStats, FileStats]:
    """Compaction variant that clusters output files along a z-curve
    over ``zorder_by`` (numeric columns): census → quantile sketch →
    one exchange into the planned file count, range-partitioned and
    sorted by z-value.  Every listed column's parquet footer min/max
    becomes selective, so scans filtering on any of them skip files —
    at 100 TB the difference between touching 2% and 100% of a
    table's objects for a two-dimensional predicate.  Same
    rewrite-then-swap contract as :func:`compact_table`.
    """
    before = table_file_stats(src_path)
    n_out = compaction_plan(before, target_bytes)
    df = load_table(spark, src_path)
    z = zorder_key(df, zorder_by, bits=bits)
    out = (
        df.withColumn("__zorder", z)
        .repartitionByRange(n_out, F.col("__zorder"))
        .sortWithinPartitions("__zorder")
        .drop("__zorder")
    )
    write_stats_friendly(spark, out, dest_path)
    return before, table_file_stats(dest_path)
