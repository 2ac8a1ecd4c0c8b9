"""Integrity-check compute kernels (SURVEY §2.9).

The reference delegates these to SQL Server's ``DBCC`` engine; here
each kernel is a distributed Spark validation query:

- **CHECKTABLE** — one SQL text and one ``collect`` per command, as
  the reference generates one ``DBCC CHECKTABLE`` string per object
  (IC:684-687).  The text fuses row count, PK null/duplicate
  detection, NOT-NULL counters, every DATA_PURITY domain rule and the
  vector-length envelope into one wide aggregation.  It is rendered
  by :func:`checktable_sql` from :mod:`..expectations` in a Spark or a
  DuckDB dialect, so the exact same check list is the correctness
  oracle.
- **EXTENDED_LOGICAL_CHECKS** — FK-orphan counts.  Like the
  reference's ``WITH EXTENDED_LOGICAL_CHECKS`` option (DIC:1639-1652)
  they ride in the same CHECKTABLE text: the child streams through
  broadcast left joins against the deduplicated keys of every
  broadcast-small parent; a parent that is not gets its own LEFT ANTI
  arm.  :func:`run_extended_logical` runs the FK counts alone.
- **CHECKALLOC** — file-level allocation integrity from parquet
  footers: every pinned file exists, parses, is non-empty; footer row
  counts sum consistently (IC:547-548 analogue). Up to 64 files are
  probed and summed on the driver with no Spark job; larger listings
  fan the footer reads out over executors
  (sources.catalog.footer_stats_df) and sum the collected rows.
- **CHECKCATALOG** — catalog↔storage consistency: table location has
  files, schema is readable, footer schemas agree across files, and
  (when a declared schema is registered) declared == stored
  (IC:554-555 analogue).
- **CHECKDB** — composition of the above over a whole namespace
  (DIC:1352-1365).

A command is planned for its size, from the byte counts the catalog
already holds (:func:`_plan_conf`): below ``SMALL_COMMAND_BYTES``
(child plus FK parents) it runs with AQE off and a shuffle partition
count sized to the advisory partition size, so it costs one Spark job
plus one per broadcast parent.  At that size a check is almost all
per-job overhead, and AQE would reach the same partition count only
after the shuffle, paying for it in extra jobs.  Larger commands keep
the session's settings.

Everything stays JVM-side (built-in functions only — no Python UDFs),
so WholeStageCodegen covers the scan→agg pipeline and predicate
pushdown/column pruning reach the parquet reader.
"""

from __future__ import annotations

import functools
from collections.abc import Callable, Collection
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..expectations import ForeignKey, TableExpectations, expectations_for
from ..functions.planutil import scoped_conf
from ..plans.arrowio import read_swapped, write_swapped
from ..sources.catalog import (
    DRIVER_SIDE_FOOTER_LIMIT,
    FileMeta,
    ObjectMeta,
    _canon_file_path,
    footer_stats_df,
    probe_footers,
)
from ..sources.loader import load_table

BROADCAST_THRESHOLD_BYTES = 256 * 1024 * 1024  # dims under this broadcast
# commands under this run with AQE off (_plan_conf).  Measured on
# local[4] over 1x-16x replicas of the sf0.1 tables: every command
# under 1 MiB ran faster with AQE off; from ~2 MiB up, a CHECKTABLE
# whose COUNT(DISTINCT) lands in one shuffle partition ran up to 1.6x
# slower than under AQE, which keeps the session's parallelism.
SMALL_COMMAND_BYTES = 1 << 20


# ---------------------------------------------------------------------------
# CHECKTABLE expression compiler (portable Spark SQL + DuckDB)
# ---------------------------------------------------------------------------

def _pk_distinct(cols: list[str], dialect: str) -> str:
    """COUNT of distinct fully-non-null key tuples, per engine.

    Spark's multi-arg COUNT(DISTINCT a, b) skips rows with any NULL
    and groups natively on the columns (no string concatenation in
    the hot aggregation path — at 100 TB the concat dominates).
    DuckDB has no multi-arg form; its row-value variant counts
    partially-null rows, so a FILTER reproduces Spark's semantics.
    Both equal the old concat_ws formulation, without its (tiny)
    separator-collision risk.
    """
    nn = " AND ".join(f"{c} IS NOT NULL" for c in cols)
    if len(cols) == 1:
        return f"COUNT(DISTINCT {cols[0]})"
    if dialect == "spark":
        return "COUNT(DISTINCT " + ", ".join(cols) + ")"
    return f"COUNT(DISTINCT ({', '.join(cols)})) FILTER (WHERE {nn})"


def checktable_agg_exprs(
    exp: TableExpectations, physical_only: bool = False, dialect: str = "spark"
) -> list[tuple[str, str]]:
    """(alias, SQL aggregate expression) pairs for one table.

    One list IS the pinned DATA_PURITY definition (SURVEY §7.4 risk 4);
    every expression is identical across engines except the PK-distinct
    form (see :func:`_pk_distinct`).  All counters cast to BIGINT so
    result schemas agree.
    """
    exprs: list[tuple[str, str]] = [("n_rows", "CAST(COUNT(*) AS BIGINT)")]
    if physical_only:
        return exprs
    for c in exp.not_null:
        exprs.append(
            (f"null_{c}", f"CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)")
        )
    if exp.primary_key:
        nn = " AND ".join(f"{c} IS NOT NULL" for c in exp.primary_key)
        null_any = f"SUM(CASE WHEN NOT ({nn}) THEN 1 ELSE 0 END)"
        distinct = _pk_distinct(exp.primary_key, dialect)
        exprs.append(("pk_null_rows", f"CAST({null_any} AS BIGINT)"))
        exprs.append(("pk_dup_rows", f"CAST(COUNT(*) - {null_any} - {distinct} AS BIGINT)"))
    for rule in exp.domain_rules:
        exprs.append(
            (
                f"viol_{rule.name}",
                f"CAST(SUM(CASE WHEN NOT {rule.predicate} THEN 1 ELSE 0 END) AS BIGINT)",
            )
        )
    return exprs


def _orphans_alias(fk: ForeignKey) -> str:
    return "orphans_" + "_".join(fk.columns)


def _placeholder(t: str) -> str:
    """The format field binding table ``t`` in Spark-dialect text; a
    name that is not an identifier (a ``<name>.parquet`` directory
    table) is hex-encoded, since ``.`` would read as an attribute."""
    return f"t_{t}" if t.isidentifier() else f"h_{t.encode().hex()}"


def checktable_sql(
    exp: TableExpectations,
    dialect: str = "spark",
    physical_only: bool = False,
    counters: bool = True,
    envelope: bool = False,
    broadcast_parents: Collection[str] | None = None,
) -> str:
    """One CHECKTABLE command as one SQL text with a one-row result.

    Columns: the :func:`checktable_agg_exprs` counters (``counters``),
    ``vector_len_min``/``vector_len_max`` over the ``embedding`` column
    (``envelope``), and, unless ``broadcast_parents`` is None, one
    ``orphans_<cols>`` count per FK.  A FK whose parent is in
    ``broadcast_parents`` joins the one scan of the child: a
    BROADCAST-hinted left join against the parent's keys, deduplicated
    on one partition whenever the join could fan out another column
    (counters, or a second FK), so every count sees each child row
    once.  Any other FK gets its own LEFT ANTI arm, cross-joined on as
    a one-row aggregate.  A child row is an orphan only when all its
    key columns are non-NULL and the tuple has no parent.

    Tables are format fields in the Spark dialect (bind them with
    :func:`sql_frame`) and bare names in DuckDB.
    """
    def ref(t: str) -> str:
        return "{" + _placeholder(t) + "}" if dialect == "spark" else t

    fks = [] if broadcast_parents is None else exp.foreign_keys
    fused = [(i, fk) for i, fk in enumerate(fks) if fk.parent_table in broadcast_parents]
    cols = []
    if counters:
        cols += [f"{sql} AS {a}" for a, sql in checktable_agg_exprs(exp, physical_only, dialect)]
    if envelope:
        size = "size" if dialect == "spark" else "len"
        cols += [f"MIN({size}(embedding)) AS vector_len_min",
                 f"MAX({size}(embedding)) AS vector_len_max"]
    joins = []
    for i, fk in fused:
        proj = ", ".join(f"{p} AS _p{i}_{j}" for j, p in enumerate(fk.parent_columns))
        if counters or len(fused) > 1:
            side = (f"(SELECT DISTINCT * FROM "
                    f"(SELECT /*+ COALESCE(1) */ {proj} FROM {ref(fk.parent_table)}))")
        else:
            side = f"(SELECT {proj} FROM {ref(fk.parent_table)})"
        on = " AND ".join(f"c.{c} = p{i}._p{i}_{j}" for j, c in enumerate(fk.columns))
        joins.append(f"\nLEFT JOIN {side} p{i} ON {on}")
        nn = " AND ".join(f"c.{c} IS NOT NULL" for c in fk.columns)
        cols.append(f"CAST(COUNT(CASE WHEN {nn} AND p{i}._p{i}_0 IS NULL "
                    f"THEN 1 END) AS BIGINT) AS {_orphans_alias(fk)}")
    arms = []
    if cols:
        hint = ", ".join(f"BROADCAST(p{i})" for i, _ in fused)
        arms.append(f"SELECT {f'/*+ {hint} */ ' if hint else ''}{', '.join(cols)}\n"
                    f"FROM {ref(exp.table)} c{''.join(joins)}")
    anti = "LEFT ANTI JOIN" if dialect == "spark" else "ANTI JOIN"
    for fk in fks:
        if fk.parent_table in broadcast_parents:
            continue
        nn = " AND ".join(f"{c} IS NOT NULL" for c in fk.columns)
        on = " AND ".join(f"c.{c} = p.{p}" for c, p in zip(fk.columns, fk.parent_columns))
        arms.append(
            f"SELECT CAST(COUNT(*) AS BIGINT) AS {_orphans_alias(fk)}\n"
            f"FROM (SELECT {', '.join(fk.columns)} FROM {ref(exp.table)} WHERE {nn}) c\n"
            f"{anti} {ref(fk.parent_table)} p ON {on}"
        )
    if len(arms) == 1:
        return arms[0]
    return "SELECT * FROM " + "\nCROSS JOIN ".join(
        f"({a}) a{k}" for k, a in enumerate(arms)
    )


def sql_frame(spark: SparkSession, text: str, tables: dict[str, DataFrame]) -> DataFrame:
    """Spark-dialect renderer text as a DataFrame, each table's field
    bound to ``tables[name]`` (one parse and one analysis pass)."""
    return spark.sql(text, **{_placeholder(t): df for t, df in tables.items()})


def checktable_oracle_sql(
    table: str, exp: TableExpectations | None = None, physical_only: bool = False
) -> str:
    """The CHECKTABLE counters in DuckDB SQL for the oracle."""
    return checktable_sql(exp or expectations_for(table), "duckdb", physical_only)


# ---------------------------------------------------------------------------
# Kernel results and the command planner
# ---------------------------------------------------------------------------

@dataclass
class KernelResult:
    kind: str
    database: str
    object: str | None
    passed: bool
    metrics: dict[str, Any] = field(default_factory=dict)
    errors: list[str] = field(default_factory=list)

    @property
    def error_number(self) -> int:
        return 0 if self.passed else 8900  # generic DBCC-style failure code


_NON_VIOLATION_METRICS = {"n_rows", "vector_len_min", "vector_len_max"}


def broadcast_small(sizes: dict[str, int]) -> set[str]:
    """The tables whose catalog byte count proves them broadcast-small."""
    return {t for t, n in sizes.items() if n < BROADCAST_THRESHOLD_BYTES}


def _command_bytes(sizes: dict[str, int], names: set[str]) -> int | None:
    """Catalog bytes of one command's tables; None if one is unknown."""
    return sum(sizes[t] for t in names) if names <= sizes.keys() else None


def _plan_conf(spark: SparkSession, nbytes: int | None) -> dict[str, str]:
    """The settings one command runs under, from its catalog byte count.

    Below ``SMALL_COMMAND_BYTES``: AQE off, and
    ``ceil(nbytes / advisoryPartitionSizeInBytes)`` shuffle partitions
    clamped to [1, the session's value] — the size AQE would coalesce
    to only after the shuffle, in extra jobs.  Unknown or larger
    commands keep the session's settings.
    """
    if nbytes is None or nbytes >= SMALL_COMMAND_BYTES:
        return {}
    advisory = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    )
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    n = min(max(1, -(-nbytes // advisory)), cap)
    return {"spark.sql.adaptive.enabled": "false", "spark.sql.shuffle.partitions": str(n)}


def _collect_frame(
    spark: SparkSession, df: DataFrame, nbytes: int | None = None
) -> list[dict[str, Any]]:
    """Plan a built frame under the settings for its catalog byte
    count, then run it; its rows.  The job runs after the scope has
    restored the session: a job that outlives its lock timeout holds
    no settings."""
    with scoped_conf(spark, _plan_conf(spark, nbytes)):
        df._jdf.queryExecution().executedPlan()
    return [r.asDict() for r in df.collect()]


def _collect_row(
    spark: SparkSession, text: str, tables: dict[str, DataFrame], nbytes: int | None = None
) -> dict[str, Any]:
    """One rendered command's one row, planned by :func:`_collect_frame`."""
    return _collect_frame(spark, sql_frame(spark, text, tables), nbytes)[0]


def _counter_errors(row: dict[str, Any]) -> list[str]:
    """Nonzero violation counters, then a broken vector-length envelope."""
    errors = [
        f"{k} = {v}"
        for k, v in row.items()
        if k not in _NON_VIOLATION_METRICS and not k.startswith("orphans_")
        and v not in (0, None)
    ]
    lo, hi = row.get("vector_len_min"), row.get("vector_len_max")
    if "vector_len_min" in row and (lo != hi or (lo is not None and lo <= 0)):
        errors.append(f"inconsistent vector length [{lo}, {hi}]")
    return errors


def _fk_errors(row: dict[str, Any], exp: TableExpectations) -> list[str]:
    return [
        f"FK {exp.table}({'_'.join(fk.columns)}) → {fk.parent_table}: "
        f"{row[_orphans_alias(fk)]} orphan row(s)"
        for fk in exp.foreign_keys
        if row[_orphans_alias(fk)]
    ]


def _checktable_command(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    exp: TableExpectations,
    physical_only: bool,
    parents: dict[str, DataFrame] | None,
    sizes: dict[str, int] | None,
) -> tuple[dict[str, Any], list[str], list[str]]:
    """One CHECKTABLE command: (row, counter errors, FK errors)."""
    sizes = sizes or {}
    fks = parents is not None and bool(exp.foreign_keys) and not physical_only
    names = {table} | ({fk.parent_table for fk in exp.foreign_keys} if fks else set())
    text = checktable_sql(
        exp, "spark", physical_only,
        envelope=not physical_only and "embedding" in df.columns,
        broadcast_parents=broadcast_small(sizes) if fks else None,
    )
    row = _collect_row(
        spark, text, {**(parents or {}), table: df}, _command_bytes(sizes, names)
    )
    errors = _counter_errors(row)
    if not fks:
        return row, errors, []
    row["n_fks"] = len(exp.foreign_keys)
    return row, errors, _fk_errors(row, exp)


def run_checktable(
    spark: SparkSession,
    df: DataFrame,
    database: str,
    table: str,
    exp: TableExpectations | None = None,
    physical_only: bool = False,
    parents: dict[str, DataFrame] | None = None,
    sizes: dict[str, int] | None = None,
) -> KernelResult:
    """Execute CHECKTABLE; pass iff every violation counter is zero.

    ``parents`` (frames by table name, holding every FK parent) adds
    the EXTENDED_LOGICAL orphan counts to the same plan, with
    ``orphans_<cols>`` and ``n_fks`` metrics.  ``sizes`` (catalog bytes
    by table name) picks the broadcast-small parents and plans the
    command (:func:`_plan_conf`); a table without a size counts as large.
    """
    exp = exp or expectations_for(table)
    row, errors, fk_errors = _checktable_command(
        spark, df, table, exp, physical_only, parents, sizes
    )
    errors += fk_errors
    return KernelResult("CHECKTABLE", database, table, not errors, row, errors)


# ---------------------------------------------------------------------------
# CHECKALLOC / CHECKCATALOG / EXTENDED / CHECKDB
# ---------------------------------------------------------------------------

def run_checkalloc(
    spark: SparkSession,
    obj: ObjectMeta,
    full: bool = False,
) -> KernelResult:
    """File-allocation integrity for one table's pinned file list.

    Footer-only by default (the PHYSICAL_ONLY fast path, SURVEY §2.9
    #52); ``full=True`` additionally scans data pages by comparing an
    actual read count against the footer sum.
    """
    errors: list[str] = []
    if not obj.files:
        return KernelResult(
            "CHECKALLOC", obj.database_name, obj.object_name, False, {}, ["no data files"]
        )
    if len(obj.files) <= DRIVER_SIDE_FOOTER_LIMIT:
        stats = probe_footers(obj.files)
    else:
        stats = footer_stats_df(spark, obj.files).collect()
    bad = [r for r in stats if not r["footer_ok"]]
    counts = [r["footer_row_count"] for r in stats if r["footer_row_count"] is not None]
    metrics = {
        "n_files": len(stats),
        "bad_files": len(bad),
        "zero_byte_files": sum(1 for r in stats if r["size"] == 0),
        # SQL SUM: NULL when no file has a readable footer
        "footer_rows": sum(counts) if counts else None,
        "total_bytes": obj.total_bytes,
    }
    for r in bad:
        errors.append(f"unreadable footer: {r['path']}: {r['error']}")
    if metrics["zero_byte_files"]:
        errors.append(f"{metrics['zero_byte_files']} zero-byte file(s)")
    if full and not errors:
        actual = load_table(spark, *[f.path for f in obj.files]).count()
        metrics["scanned_rows"] = actual
        if actual != metrics["footer_rows"]:
            errors.append(f"scan count {actual} != footer sum {metrics['footer_rows']}")
    return KernelResult(
        "CHECKALLOC", obj.database_name, obj.object_name, not errors, metrics, errors
    )


def _arrow_schema(path: str) -> list[tuple[str, str]]:
    import pyarrow.parquet as pq

    local = path[len("file:") :] if path.startswith("file:") else path
    sch = pq.ParquetFile(local).schema_arrow
    return [(f.name, str(f.type)) for f in sch]


def run_checkcatalog(
    spark: SparkSession,
    objs: list[ObjectMeta],
    declared_schemas: dict[str, list[tuple[str, str]]] | None = None,
) -> KernelResult:
    """Metastore↔storage consistency for a whole namespace.

    Checks per table: location has ≥1 file; a schema is readable; all
    files agree on schema; declared schema (when registered) matches
    the stored footer schema name-for-name, type-for-type.
    """
    errors: list[str] = []
    declared_schemas = declared_schemas or {}
    db = objs[0].database_name if objs else "?"
    for o in objs:
        if not o.files:
            errors.append(f"{o.object_name}: location has no data files")
            continue
        try:
            schemas = {tuple(_arrow_schema(f.path)) for f in o.files}
        except Exception as exc:
            errors.append(f"{o.object_name}: unreadable schema: {exc}")
            continue
        if len(schemas) > 1:
            errors.append(f"{o.object_name}: files disagree on schema ({len(schemas)} variants)")
            continue
        stored = list(next(iter(schemas)))
        declared = declared_schemas.get(o.object_name)
        if declared is not None and [tuple(x) for x in declared] != [tuple(x) for x in stored]:
            errors.append(
                f"{o.object_name}: declared schema {declared} != stored {stored}"
            )
    return KernelResult(
        "CHECKCATALOG", db, None, not errors, {"n_objects": len(objs)}, errors
    )


def run_extended_logical(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    database: str,
    table: str,
    exp: TableExpectations | None = None,
    sizes: dict[str, int] | None = None,
) -> KernelResult:
    """EXTENDED_LOGICAL_CHECKS alone: the FK orphan counts of
    :func:`checktable_sql` without the CHECKTABLE counters, for when
    CHECKTABLE itself runs elsewhere (the incremental path).  Parents
    that ``sizes`` (catalog bytes by table name) proves broadcast-small
    share one scan of the child; the rest get LEFT ANTI arms whose join
    strategy Catalyst/AQE picks (forcing a broadcast of a large parent
    would OOM every executor).  The command is planned as in
    :func:`run_checktable`."""
    exp = exp or expectations_for(table)
    if not exp.foreign_keys:
        return KernelResult("EXTENDED_LOGICAL", database, table, True, {"n_fks": 0})
    sizes = sizes or {}
    text = checktable_sql(exp, counters=False, broadcast_parents=broadcast_small(sizes))
    names = {table} | {fk.parent_table for fk in exp.foreign_keys}
    row = _collect_row(spark, text, tables, _command_bytes(sizes, names))
    errors = _fk_errors(row, exp)
    row["n_fks"] = len(exp.foreign_keys)
    return KernelResult("EXTENDED_LOGICAL", database, table, not errors, row, errors)


def run_checkfilegroup(
    spark: SparkSession,
    obj: ObjectMeta,
    filegroup: str,
    files: list[FileMeta],
    database: str,
    physical_only: bool = False,
) -> KernelResult:
    """CHECKFILEGROUP (SURVEY §2.9 #54; DIC:1476-1487): CHECKALLOC +
    CHECKTABLE restricted to one filegroup's file subset.  Parquet
    immutability makes the subset an exact snapshot; the restricted
    scan reads ONLY those files (partition pruning by construction).
    """
    sub = ObjectMeta(
        obj.database_name, obj.schema_name, obj.object_name, obj.object_type,
        obj.path, files,
    )
    alloc = run_checkalloc(spark, sub, full=False)
    metrics = {f"alloc_{k}": v for k, v in alloc.metrics.items()}
    errors = list(alloc.errors)
    if not physical_only and files and not errors:
        df = load_table(spark, *[f.path for f in files])
        tbl = run_checktable(
            spark, df, database, obj.object_name, expectations_for(obj.object_name),
            sizes={obj.object_name: sub.total_bytes},
        )
        metrics.update(tbl.metrics)
        # cross-row uniqueness is a whole-table property — a filegroup
        # sees only its subset, so PK duplicates spanning filegroups
        # surface in CHECKTABLE/CHECKDB, not here (mirrors DBCC
        # CHECKFILEGROUP skipping cross-filegroup index checks)
        errors.extend(tbl.errors)
    return KernelResult(
        "CHECKFILEGROUP", database, f"{obj.object_name}:{filegroup}",
        not errors, metrics, errors,
    )


def run_checkfilegroup_partitioned(
    spark: SparkSession,
    table_root: str,
    partition_col: str,
    value,
    database: str,
    object_name: str,
    exp: TableExpectations | None = None,
) -> KernelResult:
    """CHECKFILEGROUP on a hive-partitioned table, scoped by CATALYST
    partition pruning instead of an explicit file list.

    :func:`run_checkfilegroup` pins the filegroup's files by path —
    exact, but the planner sees an opaque file list.  When the table
    is laid out ``partition_col=value`` (``bucketing.partitioned_mirror``),
    the same scope is expressed declaratively as a FILTER on the
    partition column: the scan plans with ``PartitionFilters`` and
    never opens the other directories, so a one-partition check on a
    100 TB table reads one partition's bytes.  Cross-partition
    properties (global PK uniqueness) are out of scope exactly as
    cross-filegroup index checks are for DBCC CHECKFILEGROUP
    (DIC:1476-1487).
    """
    exp = exp or expectations_for(object_name)
    df = spark.read.parquet(table_root).filter(F.col(partition_col) == value)
    # A DERIVED partition column (event_date from ts) is not part of
    # the expected schema and is dropped; but when the table is
    # partitioned on a REAL schema column that expectations reference,
    # dropping it would break (or silently skip) that column's checks.
    referenced = set(exp.primary_key) | set(exp.not_null) | set(
        exp.double_columns
    ) | set(exp.timestamp_columns) | set(exp.clean_text_columns) | set(
        exp.int32_columns
    ) | {c for fk in exp.foreign_keys for c in fk.columns}
    referenced |= {
        c for rule in exp.domain_rules for c in df.columns
        if c in rule.predicate
    }
    if partition_col not in referenced:
        df = df.drop(partition_col)
    res = run_checktable(spark, df, database, object_name, exp)
    return KernelResult(
        "CHECKFILEGROUP",
        database,
        f"{object_name}:{partition_col}={value}",
        res.passed,
        res.metrics,
        res.errors,
    )


def run_checkdb(
    spark: SparkSession,
    objs: list[ObjectMeta],
    database: str,
    physical_only: bool = False,
    no_index: bool = False,
    extended_logical_checks: bool = False,
    declared_schemas: dict[str, list[tuple[str, str]]] | None = None,
) -> list[KernelResult]:
    """CHECKDB = CHECKALLOC + CHECKCATALOG + CHECKTABLE over every
    table of the namespace (DIC:1352-1365 composition)."""
    results: list[KernelResult] = []
    for o in objs:
        results.append(run_checkalloc(spark, o, full=not physical_only))
    results.append(run_checkcatalog(spark, objs, declared_schemas))
    if physical_only:
        return results
    tables = {o.object_name: load_table(spark, *[f.path for f in o.files]) for o in objs}
    sizes = {o.object_name: o.total_bytes for o in objs}
    for o in objs:
        name = o.object_name
        exp = expectations_for(name)
        fks = extended_logical_checks and exp.foreign_keys and all(
            fk.parent_table in tables for fk in exp.foreign_keys
        )
        # one plan per table; with FKs it reports as the two results
        # CHECKDB lists, CHECKTABLE and EXTENDED_LOGICAL
        row, errors, fk_errors = _checktable_command(
            spark, tables[name], name, exp, False, tables if fks else None, sizes
        )
        fk_keys = {"n_fks", *(k for k in row if k.startswith("orphans_"))}
        results.append(KernelResult(
            "CHECKTABLE", database, name, not errors,
            {k: v for k, v in row.items() if k not in fk_keys}, errors,
        ))
        if fks:
            results.append(KernelResult(
                "EXTENDED_LOGICAL", database, name, not fk_errors,
                {k: v for k, v in row.items() if k in fk_keys}, fk_errors,
            ))
    return results


# ---------------------------------------------------------------------------
# Order-independent table checksum (replica comparison primitive)
# ---------------------------------------------------------------------------

_CHECKSUM_MOD = 4611686018427387904  # 2^62 — keeps the folded sum in BIGINT


def _checksum_exprs(cols: list[str], dialect: str) -> tuple[str, str]:
    """(n_rows, checksum) SQL aggregate expressions.

    Row hash = 60-bit md5 of the column representations, where each
    column contributes a NULL flag or 'V' + md5(value-as-string) —
    unambiguous (no separator-collision vector) and portable: md5 hex
    and integer/string casts are identical in Spark and DuckDB for the
    string/integer columns this supports.  The checksum is the SUM of
    row hashes mod 2^62 — commutative, so partition order, file order,
    and shuffle nondeterminism cannot change it: two replicas of one
    logical table agree iff (n_rows, checksum) agree (mod collisions).
    """
    cast = "STRING" if dialect == "spark" else "VARCHAR"
    reprs = ", ".join(
        f"CASE WHEN {c} IS NULL THEN 'N' ELSE 'V' || md5(CAST({c} AS {cast})) END"
        for c in cols
    )
    if dialect == "spark":
        row_hash = (
            f"CAST(conv(substring(md5(concat_ws('', {reprs})), 1, 15), 16, 10)"
            " AS BIGINT)"
        )
    else:
        row_hash = (
            f"CAST('0x' || substr(md5(concat({reprs})), 1, 15) AS BIGINT)"
        )
    n_rows = "CAST(COUNT(*) AS BIGINT)"
    checksum = (
        f"CAST(SUM(CAST({row_hash} AS DECIMAL(38,0))) % {_CHECKSUM_MOD} AS BIGINT)"
    )
    return n_rows, checksum


def table_checksum_df(df: DataFrame, cols: list[str]) -> DataFrame:
    """One-row (n_rows, checksum) content fingerprint of the named
    columns — the replica-divergence probe for AG-style deployments:
    cheap to compute on each copy (one scan, map-side partial sums),
    safe to compare across clusters.  Restrict ``cols`` to
    string/integer columns (float/timestamp string forms are not
    cross-engine canonical)."""
    n_rows, checksum = _checksum_exprs(cols, "spark")
    return df.agg(
        F.expr(n_rows).alias("n_rows"), F.expr(checksum).alias("checksum")
    )


def table_checksum_oracle(table: str, cols: list[str]) -> str:
    n_rows, checksum = _checksum_exprs(cols, "duckdb")
    return (
        f"SELECT {n_rows} AS n_rows, {checksum} AS checksum FROM {table}"
    )


def _key_bucket_expr(key_col: str, n_buckets: int, dialect: str) -> str:
    """Deterministic bucket of a key value, identical in both engines:
    60-bit md5 of the key's string form mod ``n_buckets``.  Depends
    only on the KEY, so two replicas place each logical row in the
    same bucket no matter how their copies diverge."""
    if dialect == "spark":
        h = (
            f"CAST(conv(substring(md5(CAST({key_col} AS STRING)), 1, 15), 16, 10)"
            " AS BIGINT)"
        )
    else:
        h = f"CAST('0x' || substr(md5(CAST({key_col} AS VARCHAR)), 1, 15) AS BIGINT)"
    return f"{h} % {n_buckets}"


def table_checksum_by_bucket(
    df: DataFrame, cols: list[str], key_col: str, n_buckets: int = 64
) -> DataFrame:
    """Per-bucket (bucket, n_rows, checksum) — the divergence LOCALIZER
    that follows :func:`table_checksum_df`'s yes/no answer: replicas
    compare bucket vectors and re-probe only the buckets that differ,
    so finding the divergent rows of a 100 TB table costs one scan per
    side plus work proportional to the damage, not the table.

    Same scan/shuffle shape as any hash aggregate: map-side partials
    per bucket, ``n_buckets`` output rows.  The bucket SUMs mod 2^62
    add up to the whole-table checksum, so the two tiers cross-check.
    """
    n_rows, checksum = _checksum_exprs(cols, "spark")
    bucket = _key_bucket_expr(key_col, n_buckets, "spark")
    return (
        df.groupBy(F.expr(bucket).cast("long").alias("bucket"))
        .agg(F.expr(n_rows).alias("n_rows"), F.expr(checksum).alias("checksum"))
    )


def table_checksum_by_bucket_oracle(
    table: str, cols: list[str], key_col: str, n_buckets: int = 64
) -> str:
    n_rows, checksum = _checksum_exprs(cols, "duckdb")
    bucket = _key_bucket_expr(key_col, n_buckets, "duckdb")
    return (
        f"SELECT CAST({bucket} AS BIGINT) AS bucket, {n_rows} AS n_rows, "
        f"{checksum} AS checksum FROM {table} GROUP BY 1"
    )


def table_diff(
    a: DataFrame,
    b: DataFrame,
    keys: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Row-level replica diff: which keys exist only in ``a``
    (``only_a``), only in ``b`` (``only_b``), or exist in both with
    different content (``differs``, with the differing column names
    comma-joined in ``compare_cols`` order).  Identical rows are NOT
    emitted — on healthy replicas the result is empty, and the output
    is proportional to the damage.

    One full-outer hash join on the keys (AQE-sized, skew-split); all
    comparisons are null-safe (``<=>``), so NULL vs NULL is equal and
    NULL vs value differs.  Keys must be non-NULL — that is what makes
    them keys.  For very wide tables, pass the checksum tiers first
    and diff only suspect buckets.
    """
    compare_cols = list(
        compare_cols if compare_cols is not None else
        [c for c in a.columns if c not in keys]
    )
    aj = a.withColumn("_pa", F.lit(1)).alias("a")
    bj = b.withColumn("_pb", F.lit(1)).alias("b")
    cond = F.lit(True)
    for k in keys:
        cond = cond & F.col(f"a.{k}").eqNullSafe(F.col(f"b.{k}"))
    j = aj.join(bj, cond, "full_outer")
    differing = F.concat_ws(
        ",",
        *[
            F.when(
                ~F.col(f"a.{c}").eqNullSafe(F.col(f"b.{c}")), F.lit(c)
            )
            for c in compare_cols
        ],
    )
    kind = (
        F.when(F.col("b._pb").isNull(), F.lit("only_a"))
        .when(F.col("a._pa").isNull(), F.lit("only_b"))
        .when(differing != "", F.lit("differs"))
        .otherwise(F.lit("same"))
    )
    return (
        j.select(
            *[F.coalesce(F.col(f"a.{k}"), F.col(f"b.{k}")).alias(k) for k in keys],
            kind.alias("diff_kind"),
            F.when(kind == "differs", differing).otherwise(F.lit("")).alias(
                "differing_cols"
            ),
        )
        .filter(F.col("diff_kind") != "same")
    )


def table_diff_oracle(
    a_sql: str,
    b_sql: str,
    keys: list[str],
    compare_cols: list[str],
) -> str:
    """Same diff in DuckDB: FULL JOIN on IS NOT DISTINCT FROM keys,
    presence markers, concat_ws over per-column IS DISTINCT FROM flags
    (both engines' concat_ws skip NULL arguments)."""
    on = " AND ".join(f"a.{k} IS NOT DISTINCT FROM b.{k}" for k in keys)
    flags = ", ".join(
        f"CASE WHEN a.{c} IS DISTINCT FROM b.{c} THEN '{c}' END"
        for c in compare_cols
    )
    key_sel = ", ".join(f"COALESCE(a.{k}, b.{k}) AS {k}" for k in keys)
    return f"""
WITH a AS (SELECT *, 1 AS _pa FROM {a_sql} t),
     b AS (SELECT *, 1 AS _pb FROM {b_sql} t),
     j AS (
       SELECT {key_sel},
              CASE WHEN b._pb IS NULL THEN 'only_a'
                   WHEN a._pa IS NULL THEN 'only_b'
                   WHEN concat_ws(',', {flags}) <> '' THEN 'differs'
                   ELSE 'same' END AS diff_kind,
              concat_ws(',', {flags}) AS flags
       FROM a FULL JOIN b ON {on}
     )
SELECT {", ".join(keys)}, diff_kind,
       CASE WHEN diff_kind = 'differs' THEN flags ELSE '' END AS differing_cols
FROM j WHERE diff_kind <> 'same'
"""


def repair_plan(
    a: DataFrame,
    b: DataFrame,
    keys: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """The anti-entropy step after :func:`table_diff`: the operations
    that make replica ``b`` identical to authoritative ``a`` —
    ``(op, keys…, payload columns from a)`` with ``op`` ∈ ``insert``
    (key only in a), ``delete`` (key only in b; payload NULL), and
    ``update`` (content differs; payload = a's row).  Healthy replicas
    produce an empty plan; plan size is proportional to the damage,
    which is what makes repair cheap relative to a full re-copy.

    Same single full-outer join shape as :func:`table_diff` (one
    shuffle, null-safe compares); :func:`apply_repair` executes the
    plan and the round-trip equality is property-tested.
    """
    compare_cols = list(
        compare_cols if compare_cols is not None else
        [c for c in a.columns if c not in keys]
    )
    aj = a.withColumn("_pa", F.lit(1)).alias("a")
    bj = b.withColumn("_pb", F.lit(1)).alias("b")
    cond = F.lit(True)
    for k in keys:
        cond = cond & F.col(f"a.{k}").eqNullSafe(F.col(f"b.{k}"))
    j = aj.join(bj, cond, "full_outer")
    differs = functools.reduce(
        lambda x, y: x | y,
        [~F.col(f"a.{c}").eqNullSafe(F.col(f"b.{c}")) for c in compare_cols],
        F.lit(False),  # keys-only table: insert/delete plan only
    )
    op = (
        F.when(F.col("b._pb").isNull(), F.lit("insert"))
        .when(F.col("a._pa").isNull(), F.lit("delete"))
        .when(differs, F.lit("update"))
        .otherwise(F.lit("same"))
    )
    return (
        j.select(
            op.alias("op"),
            *[F.coalesce(F.col(f"a.{k}"), F.col(f"b.{k}")).alias(k) for k in keys],
            *[F.col(f"a.{c}").alias(c) for c in compare_cols],
        )
        .filter(F.col("op") != "same")
    )


def repair_plan_oracle(
    a_sql: str,
    b_sql: str,
    keys: list[str],
    compare_cols: list[str],
) -> str:
    """DuckDB SQL producing the identical repair plan."""
    on = " AND ".join(f"a.{k} IS NOT DISTINCT FROM b.{k}" for k in keys)
    differs = " OR ".join(
        f"(a.{c} IS DISTINCT FROM b.{c})" for c in compare_cols
    )
    key_sel = ", ".join(f"COALESCE(a.{k}, b.{k}) AS {k}" for k in keys)
    pay_sel = ", ".join(f"a.{c} AS {c}" for c in compare_cols)
    return f"""
WITH a AS (SELECT *, 1 AS _pa FROM {a_sql} t),
     b AS (SELECT *, 1 AS _pb FROM {b_sql} t)
SELECT * FROM (
  SELECT CASE WHEN b._pb IS NULL THEN 'insert'
              WHEN a._pa IS NULL THEN 'delete'
              WHEN {differs} THEN 'update'
              ELSE 'same' END AS op,
         {key_sel}, {pay_sel}
  FROM a FULL JOIN b ON {on}
) WHERE op <> 'same'
"""


def apply_repair(
    b: DataFrame, plan: DataFrame, keys: list[str]
) -> DataFrame:
    """Execute a :func:`repair_plan` against replica ``b``: every
    planned key's current row is dropped (null-safe anti-join), then
    insert/update payload rows are appended.  ``apply_repair(b,
    repair_plan(a, b), keys)`` equals ``a`` on the compared columns —
    the property the tests pin.  On an ACID table format the same plan
    maps 1:1 onto ``MERGE WHEN [NOT] MATCHED``."""
    pk = plan.select(*keys)
    cond = functools.reduce(
        lambda x, y: x & y, [b[k].eqNullSafe(pk[k]) for k in keys]
    )
    kept = b.join(pk, cond, "left_anti")
    additions = plan.filter(F.col("op") != "delete").drop("op")
    return kept.unionByName(additions.select(*b.columns))


# ---------------------------------------------------------------------------
# CHECKTABLE violation-row extraction (the repair path)
# ---------------------------------------------------------------------------

def _row_rule_predicates(exp: TableExpectations) -> list[tuple[str, str]]:
    """(rule_name, violated-SQL) per row-local rule, named to line up
    with :func:`checktable_agg_exprs`'s counter columns so the two
    tiers cross-check: ``SUM(violated)`` per rule == the counter."""
    out: list[tuple[str, str]] = []
    for c in exp.not_null:
        out.append((f"null_{c}", f"{c} IS NULL"))
    for rule in exp.domain_rules:
        out.append((f"viol_{rule.name}", f"NOT {rule.predicate}"))
    return out


def checktable_violations_df(df: DataFrame, exp: TableExpectations) -> DataFrame:
    """The rows behind the counters: (key columns…, rule) for every
    rule a row violates — what a repair job consumes after
    the CHECKTABLE counters say *how many* are broken.

    Row-local rules flag in the same single scan (an array of
    (rule, violated) structs, exploded and filtered, so output is
    proportional to the damage); PK rules need key context — NULL-key
    rows flag locally, duplicate keys via one count-over-key window
    (the same shuffle class as the counter's COUNT DISTINCT).  Healthy
    tables produce an empty result from one scan + one hash shuffle.
    """
    keys = exp.primary_key
    if not keys:
        raise ValueError(f"violations extraction needs a primary key: {exp.table}")
    preds = _row_rule_predicates(exp)
    nn = " AND ".join(f"{k} IS NOT NULL" for k in keys)
    preds.append(("pk_null_rows", f"NOT ({nn})"))
    flags = F.array(
        *[
            F.struct(F.lit(name).alias("rule"), F.expr(sql).alias("bad"))
            for name, sql in preds
        ]
    )
    local = (
        df.select(*keys, F.explode(flags).alias("f"))
        .filter(F.col("f.bad"))
        .select(*keys, F.col("f.rule").alias("rule"))
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy(*keys)
    dups = (
        df.filter(F.expr(nn))
        .select(*keys, F.count(F.lit(1)).over(w).alias("_cnt"))
        .filter(F.col("_cnt") > 1)
        .select(*keys, F.lit("pk_dup_rows").alias("rule"))
    )
    return local.unionByName(dups)


def row_quarantine(
    df: DataFrame, exp: TableExpectations, include_pk_dups: bool = True
) -> tuple[DataFrame, DataFrame]:
    """Route rows by the expectations instead of counting them:
    ``(valid, rejected)`` where rejected rows carry ``_violations``,
    the array of rule names they break — the SEMANTIC gate that
    follows :mod:`..sources.ingest`'s parse gate in a landing
    pipeline (parse-quarantine → row-quarantine → bronze), and the
    row-routing consumption shape of the same rules
    :func:`checktable_violations_df` reports on.

    Row-local rules (not-null, domain, purity) evaluate in one scan
    as a filtered flag array — no explode, the row never duplicates.
    ``include_pk_dups`` adds the duplicate-primary-key rule via one
    count-over-key window (BOTH copies reject — which to keep is a
    dedup policy, not a validity fact); pass False for the
    shuffle-free purely-local gate.
    """
    preds = _row_rule_predicates(exp)
    if exp.primary_key:
        nn = " AND ".join(f"{k} IS NOT NULL" for k in exp.primary_key)
        preds.append(("pk_null_rows", f"NOT ({nn})"))
    if not preds:
        raise ValueError(f"no row-local rules for {exp.table!r}")
    flags = F.array(
        *[
            F.struct(F.lit(name).alias("rule"), F.expr(sql).alias("bad"))
            for name, sql in preds
        ]
    )
    viol = F.transform(
        F.filter(flags, lambda f: f["bad"]), lambda f: f["rule"]
    )
    out = df.withColumn("_violations", viol)
    if include_pk_dups and exp.primary_key:
        from pyspark.sql.window import Window

        keys = exp.primary_key
        nn_col = F.expr(" AND ".join(f"{k} IS NOT NULL" for k in keys))
        w = Window.partitionBy(*keys)
        cnt = F.count(F.when(nn_col, 1)).over(w)
        out = out.withColumn(
            "_violations",
            F.when(
                nn_col & (cnt > 1),
                F.concat(F.col("_violations"), F.array(F.lit("pk_dup_rows"))),
            ).otherwise(F.col("_violations")),
        )
    valid = out.filter(F.size("_violations") == 0).drop("_violations")
    rejected = out.filter(F.size("_violations") > 0)
    return valid, rejected


def checktable_violations_oracle(table: str, exp: TableExpectations) -> str:
    """Identical extraction in DuckDB: one UNION ALL branch per rule
    plus the count-over-key window for duplicates."""
    keys = ", ".join(exp.primary_key)
    nn = " AND ".join(f"{k} IS NOT NULL" for k in exp.primary_key)
    preds = _row_rule_predicates(exp)
    parts = [
        f"SELECT {keys}, '{name}' AS rule FROM {table} t WHERE {sql}"
        for name, sql in preds
    ]
    parts.append(f"SELECT {keys}, 'pk_null_rows' AS rule FROM {table} t WHERE NOT ({nn})")
    parts.append(
        f"SELECT {keys}, 'pk_dup_rows' AS rule FROM ("
        f"SELECT {keys}, COUNT(*) OVER (PARTITION BY {keys}) AS _cnt "
        f"FROM {table} t WHERE {nn}) d WHERE _cnt > 1"
    )
    return "\nUNION ALL\n".join(parts)


# ---------------------------------------------------------------------------
# Incremental CHECKTABLE (per-file mergeable partials)
# ---------------------------------------------------------------------------


def _canon_file_path_expr(col: F.Column | None = None) -> F.Column:
    """SQL twin of ``catalog._canon_file_path`` over ``input_file_name()``
    (default) or any path-bearing column: for ``file:`` URIs,
    percent-decode ('+' pre-escaped — URLDecoder would turn a literal
    plus into a space) then strip the scheme and slash-run.
    Non-``file:`` schemes (hdfs:, s3a:, …) pass through UNTOUCHED on
    both sides — the Hadoop listing and ``input_file_name()`` spell
    remote URIs the same way, and decoding only one side would make
    the spellings never reconcile (every file re-scans forever)."""
    src = F.input_file_name() if col is None else col
    return F.when(
        src.startswith("file:"),
        F.regexp_replace(
            F.url_decode(F.replace(src, F.lit("+"), F.lit("%2B"))),
            F.lit("^file:/+"),
            F.lit("/"),
        ),
    ).otherwise(src)


def _partial_agg_exprs(
    exp: TableExpectations, has_embedding: bool
) -> list[tuple[str, str]]:
    """Per-file aggregate list: every mergeable counter of
    :func:`checktable_agg_exprs` (all but ``pk_dup_rows``, whose COUNT
    DISTINCT does not decompose per file) plus the vector-length
    envelope when the table carries an embedding column (MIN/MAX are
    mergeable too, so the table-level invariant survives the split)."""
    exprs = [
        (alias, sql)
        for alias, sql in checktable_agg_exprs(exp, dialect="spark")
        if alias != "pk_dup_rows"
    ]
    if has_embedding:
        exprs.append(("vector_len_min", "MIN(size(embedding))"))
        exprs.append(("vector_len_max", "MAX(size(embedding))"))
    return exprs


def checktable_file_partials(
    spark: SparkSession,
    paths: list[str],
    exp: TableExpectations,
    schema: T.StructType | None = None,
) -> DataFrame:
    """Per-FILE partial CHECKTABLE aggregates: one row per data file.

    Parquet files are immutable in this engine's model (the pinned
    snapshot), so a file's partial row never goes stale: persist the
    output and a daily CHECKTABLE over a 100 TB table re-scans only
    the files added since the last run.  Reads go through
    ``load_table`` (with the whole table's ``schema`` when given) so
    NANOS/NTZ timestamp normalization matches the full-kernel path.
    """
    df = load_table(spark, *paths, schema=schema)
    exprs = _partial_agg_exprs(exp, "embedding" in df.columns)
    return df.groupBy(_canon_file_path_expr().alias("file_path")).agg(
        *[F.expr(sql).alias(alias) for alias, sql in exprs]
    )


def _file_partials(
    state_path: str,
    files: list[FileMeta],
    fields: list[str],
    compute_fresh: Callable[[list[FileMeta]], list[dict[str, Any]]],
) -> tuple[list[dict[str, Any]], int]:
    """Per-file partial rows of ``files``, reusing the driver-side state
    at ``state_path``.  Returns ``(rows, files_scanned)``.

    A stored row is kept while its file is listed at the same size (a
    changed size is an in-place rewrite); vanished files drop, and a
    stored column set other than ``fields`` discards the state.  The
    other files' rows come from ``compute_fresh(new_files)``, one row
    per canonical ``file_path``; a file it has no row for holds 0 rows
    and gets all-zero counters (NULL ``*_min``/``*_max``), so it never
    lists as new again.  The state is rewritten, through the
    crash-safe swap, only when this visit changed it: a visit with
    nothing new is read-only.
    """
    struct = T.StructType(
        [T.StructField("file_path", T.StringType()), T.StructField("size", T.LongType())]
        + [T.StructField(f, T.LongType()) for f in fields]
    )
    live = {_canon_file_path(f.path): f for f in files}
    prior = read_swapped(state_path, struct) or []
    rows = [r for r in prior if r["file_path"] in live and live[r["file_path"]].size == r["size"]]
    dirty = len(rows) != len(prior)
    known = {r["file_path"] for r in rows}
    new = [(p, f) for p, f in live.items() if p not in known]
    if new:
        fresh = {r["file_path"]: r for r in compute_fresh([f for _, f in new])}
        zero = {c: None if c.endswith(("_min", "_max")) else 0 for c in fields}
        rows += [{**zero, **fresh.get(p, {}), "file_path": p, "size": f.size} for p, f in new]
    if dirty or new:
        write_swapped(rows, struct, state_path)
    return rows, len(new)


def _fold(rows: list[dict[str, Any]], fields: list[str]) -> dict[str, Any]:
    """Fold per-file partials into one row: SUM the counters (disjoint
    row sets), MIN/MAX the ``*_min``/``*_max`` envelope; NULLs skipped."""
    out = {}
    for c in fields:
        vals = [r[c] for r in rows if r[c] is not None]
        agg = min if c.endswith("_min") else max if c.endswith("_max") else sum
        out[c] = agg(vals) if vals else None
    return out


def run_checktable_incremental(
    spark: SparkSession,
    obj: ObjectMeta,
    state_dir: str,
    exp: TableExpectations | None = None,
) -> KernelResult:
    """CHECKTABLE that scans only files NEW since the previous run.

    State: one row per data file (its partial counters and the file
    size they were computed at), kept on the driver's filesystem at
    ``{state_dir}/checktable_partials/{object}``.  Each visit:

    1. pin the file listing (path + size, the snapshot contract);
    2. reconcile it with the state (:func:`_file_partials`): keep rows
       whose (path, size) BOTH still match, drop vanished files, and
       discard the whole state when its column set no longer matches
       the current expectations (a rule was added/removed);
    3. compute partials for new files only, in one Spark job planned
       from their catalog bytes (the incremental scan);
    4. fold them in Python (SUM counters, MIN/MAX vector-length
       envelope); the ``pk_dup_rows`` probe — inherently global —
       re-runs as a NARROW scan of the key columns (column pruning
       reads only the PK bytes of the full table);
    5. swap the updated state in when it changed.

    Scale: a daily run on a 100 TB append-mostly table pays (wide scan
    of the day's new files) + (narrow PK scan), instead of a wide scan
    of everything — the same contract as the reference's time-budgeted
    re-check loop, made cheap enough to run every day.
    """
    exp = exp or expectations_for(obj.object_name)
    if not obj.files:
        return KernelResult(
            "CHECKTABLE", obj.database_name, obj.object_name, False, {}, ["no data files"]
        )
    df = load_table(spark, *[f.path for f in obj.files])
    fields = [a for a, _ in _partial_agg_exprs(exp, "embedding" in df.columns)]

    def compute_fresh(new: list[FileMeta]) -> list[dict[str, Any]]:
        fresh = checktable_file_partials(spark, [f.path for f in new], exp, df.schema)
        return _collect_frame(spark, fresh, sum(f.size for f in new))

    rows, n_scanned = _file_partials(
        _canon_file_path(f"{state_dir}/checktable_partials/{obj.object_name}"),
        obj.files, fields, compute_fresh,
    )
    row = _fold(rows, fields)
    if exp.primary_key:
        text = f"SELECT {_pk_distinct(exp.primary_key, 'spark')} AS n FROM {{t_t}}"
        distinct = _collect_row(spark, text, {"t": df}, obj.total_bytes)["n"]
        row["pk_dup_rows"] = row["n_rows"] - row["pk_null_rows"] - distinct

    errors = _counter_errors(row)
    res = KernelResult(
        "CHECKTABLE", obj.database_name, obj.object_name, not errors, row, errors
    )
    res.metrics["files_scanned"] = n_scanned
    res.metrics["files_reused"] = len(obj.files) - n_scanned
    return res


# ---------------------------------------------------------------------------
# Incremental replica checksum (same per-file partials pattern)
# ---------------------------------------------------------------------------


def table_checksum_incremental(
    spark: SparkSession,
    obj: ObjectMeta,
    cols: list[str],
    state_dir: str,
) -> dict:
    """Replica-divergence checksum that re-scans only NEW files.

    The content checksum is a SUM of row hashes mod 2^62 — modular
    addition is associative, so per-file (n_rows, checksum) partials
    merge exactly: ``SUM(partial) % M`` equals the full-scan value
    (per-file checksums are non-negative, so Python's ``%`` is
    Spark's).  Shares :func:`_file_partials`'s state contract with the
    incremental CHECKTABLE: (path, size) reconciliation,
    loader-normalized reads, zero-row-file synthesis, read-only
    idempotent visits, swapped state writes.  The state path embeds
    a fingerprint of ``cols`` — partials hashed over a different
    column list are a different state, never silently reused.  A
    daily replica-divergence probe on an append-mostly 100 TB table
    costs one scan of the day's files, and a day with no new file
    starts no Spark job.

    Returns ``{"n_rows", "checksum", "files_scanned", "files_reused"}``.
    """
    import hashlib

    cols_sig = hashlib.md5(",".join(cols).encode()).hexdigest()[:12]
    if not obj.files:
        return {"n_rows": 0, "checksum": 0, "files_scanned": 0, "files_reused": 0}
    n_rows_sql, checksum_sql = _checksum_exprs(cols, "spark")

    def compute_fresh(new: list[FileMeta]) -> list[dict[str, Any]]:
        schema = load_table(spark, *[f.path for f in obj.files]).schema
        fresh = (
            load_table(spark, *[f.path for f in new], schema=schema)
            .groupBy(_canon_file_path_expr().alias("file_path"))
            .agg(F.expr(n_rows_sql).alias("n_rows"), F.expr(checksum_sql).alias("checksum"))
        )
        return _collect_frame(spark, fresh, sum(f.size for f in new))

    rows, n_scanned = _file_partials(
        _canon_file_path(f"{state_dir}/checksum_partials/{obj.object_name}/{cols_sig}"),
        obj.files, ["n_rows", "checksum"], compute_fresh,
    )
    row = _fold(rows, ["n_rows", "checksum"])
    return {
        "n_rows": row["n_rows"],
        "checksum": row["checksum"] % _CHECKSUM_MOD,
        "files_scanned": n_scanned,
        "files_reused": len(obj.files) - n_scanned,
    }
