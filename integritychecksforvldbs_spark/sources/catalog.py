"""Synthetic system catalog over parquet namespaces.

The reference scans ``sys.databases`` / ``sys.objects`` /
``sys.dm_db_partition_stats`` / ``sys.master_files``
(IntegrityChecks_VLDB.sql:288-297,429-438,524-527) to build its work
inventory.  Our equivalents (SURVEY §2.1 #1-#4):

- a *database* is a directory of tables (e.g. ``/root/testdata/sf0.01``)
- an *object* is a table: a ``<name>.parquet`` file or a directory of
  parquet part-files
- *used_page_count* becomes total bytes from the file listing
- the *data-file scan* is the per-table file list (path, length) — also
  the engine's snapshot mechanism: the listing is pinned once per DB
  visit and every kernel reads exactly those files (parquet files are
  immutable, so a pinned listing is an exact analogue of
  ``CREATE DATABASE ... AS SNAPSHOT`` IC:523-529).

All of this is metadata-sized and driver-side via the Hadoop
FileSystem API (works identically on HDFS/S3/local).  Footer row
counts — needed by CHECKALLOC — are read *distributed* (a Spark job
over the file list with pyarrow per partition) when the file count is
large, driver-side otherwise.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import types as T

from ..operators.selector import DatabaseCandidate, classify_database_type


@dataclass
class FileMeta:
    path: str
    size: int


@dataclass
class ObjectMeta:
    """One table: our ``sys.objects`` + partition-stats row (IC:429-438)."""

    database_name: str
    schema_name: str  # flat namespaces → 'main' (analogue of dbo)
    object_name: str
    object_type: str  # 'U' table | 'V' view
    path: str
    files: list[FileMeta] = field(default_factory=list)

    @property
    def file_count(self) -> int:
        return len(self.files)

    @property
    def total_bytes(self) -> int:
        return sum(f.size for f in self.files)


CATALOG_META_SCHEMA = T.StructType(
    [
        T.StructField("database_name", T.StringType()),
        T.StructField("database_type", T.StringType()),
        T.StructField("schema_name", T.StringType()),
        T.StructField("object_name", T.StringType()),
        T.StructField("object_type", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("file_count", T.IntegerType()),
        T.StructField("total_bytes", T.LongType()),
    ]
)


def _fs_and_path(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def _canon_file_path(path: str) -> str:
    """One canonical spelling for a data-file path.  The Hadoop listing
    says ``file:/x`` with raw characters, callers often hold plain
    ``/x``, and ``input_file_name()`` says ``file:///x`` with
    percent-encoding; this (Python, listing side) and
    ``kernels._canon_file_path_expr`` (SQL, scan side) MUST stay in
    sync.  Non-``file:`` schemes pass through untouched (see the
    expr's docstring for why decoding is file:-only)."""
    if path.startswith("file:"):
        path = path[len("file:"):]
    while path.startswith("//"):
        path = path[1:]
    return path


def rename_or_raise(fs, src, dst) -> None:
    """Hadoop ``FileSystem.rename`` returns ``False`` on failure
    instead of raising (dst exists, src vanished, cross-FS move…).
    State-swap sequences must NOT proceed past a silently-failed
    rename — continuing can delete the ``.bak`` that holds the only
    installed copy of the state and mark the batch applied anyway.
    This wrapper turns the boolean contract into an exception."""
    if not fs.rename(src, dst):
        raise IOError(f"rename failed: {src} -> {dst}")


def read_text_file(spark: SparkSession, path: str) -> str | None:
    """Read a small UTF-8 text file through the Hadoop ``FileSystem``
    of ``path``'s scheme (works on ``file:``, ``hdfs:``, ``s3a:``…);
    ``None`` when the file does not exist.  The driver-side sidecar
    reader — ledgers, tag files, markers — so sidecars live on the
    SAME storage as the tables they describe."""
    fs, hpath = _fs_and_path(spark, path)
    if not fs.exists(hpath):
        return None
    stream = fs.open(hpath)
    try:
        return spark._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()


def write_text_file(spark: SparkSession, path: str, text: str) -> None:
    """Overwrite a small UTF-8 text file through the Hadoop
    ``FileSystem`` of ``path``'s scheme — the write twin of
    :func:`read_text_file`."""
    fs, hpath = _fs_and_path(spark, path)
    out = fs.create(hpath, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def list_parquet_files(spark: SparkSession, path: str) -> list[FileMeta]:
    """All parquet data files under ``path`` (file or directory)."""
    fs, hpath = _fs_and_path(spark, path)
    if not fs.exists(hpath):
        return []
    out: list[FileMeta] = []
    stack = [hpath]
    while stack:
        cur = stack.pop()
        for st in fs.listStatus(cur):
            if st.isDirectory():
                stack.append(st.getPath())
            else:
                name = st.getPath().getName()
                if name.endswith(".parquet") or name.startswith("part-"):
                    out.append(FileMeta(st.getPath().toString(), st.getLen()))
    if fs.getFileStatus(hpath).isFile():
        st = fs.getFileStatus(hpath)
        out = [FileMeta(st.getPath().toString(), st.getLen())]
    out.sort(key=lambda f: f.path)
    return out


AG_TAGS_FILENAME = "_availability_groups.json"


def discover_ag_tags(spark: SparkSession, base_dir: str) -> dict[str, str]:
    """Deployment AG membership from the conventional
    ``_availability_groups.json`` at the catalog root — the engine's
    ``sys.availability_databases_cluster`` (DIC:405-418).  Shape:
    ``{"database_name": "ag_name", ...}``.  Absent file → no tags.

    The underscore prefix makes Hadoop's hidden-file filter skip the
    marker in every directory scan (like ``_SUCCESS``), so it can never
    be mistaken for data — which also means it must be read through the
    filesystem API directly, not a DataFrame reader.  Any
    Hadoop-visible filesystem works.
    """
    import json

    path = f"{base_dir.rstrip('/')}/{AG_TAGS_FILENAME}"
    fs, hpath = _fs_and_path(spark, path)
    if not fs.exists(hpath):
        return {}
    stream = fs.open(hpath)
    try:
        raw = spark._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()
    tags = json.loads(raw)
    if not isinstance(tags, dict) or not all(
        isinstance(k, str) and isinstance(v, str) for k, v in tags.items()
    ):
        raise ValueError(f"{path} must be a JSON object of database -> AG name")
    return tags


READ_ONLY_FILENAME = "_read_only.json"


def discover_read_only(spark: SparkSession, base_dir: str) -> set[str]:
    """Deployment read-only markers from the conventional
    ``_read_only.json`` at the catalog root — the engine's
    ``sys.databases.is_read_only`` (DIC:1300).  Shape: a JSON array of
    database names.  Absent file → nothing read-only.  Underscore
    prefix keeps it out of every data scan (see AG_TAGS_FILENAME)."""
    import json

    path = f"{base_dir.rstrip('/')}/{READ_ONLY_FILENAME}"
    fs, hpath = _fs_and_path(spark, path)
    if not fs.exists(hpath):
        return set()
    stream = fs.open(hpath)
    try:
        raw = spark._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()
    names = json.loads(raw)
    if not isinstance(names, list) or not all(isinstance(n, str) for n in names):
        raise ValueError(f"{path} must be a JSON array of database names")
    return set(names)


def list_databases(spark: SparkSession, base_dir: str) -> list[DatabaseCandidate]:
    """Each subdirectory of ``base_dir`` is a database (SURVEY §1.1)."""
    fs, hpath = _fs_and_path(spark, base_dir)
    cands = []
    for st in fs.listStatus(hpath):
        if st.isDirectory():
            name = st.getPath().getName()
            cands.append(DatabaseCandidate(name=name, database_type=classify_database_type(name)))
    cands.sort(key=lambda c: c.name)
    return cands


def list_objects(spark: SparkSession, database_name: str, db_path: str) -> list[ObjectMeta]:
    """Tables of one database with their pinned file listings.

    Analogue of the per-DB dynamic-SQL catalog scan (IC:429-438): every
    ``<name>.parquet`` file or parquet-holding subdirectory is a table
    ('U') named without the ``.parquet`` suffix, so a ``<name>.parquet/``
    directory gets ``<name>``'s expectations; registered temp views
    would be 'V'.
    """
    fs, hpath = _fs_and_path(spark, db_path)
    objs: list[ObjectMeta] = []
    if not fs.exists(hpath):
        return objs
    for st in fs.listStatus(hpath):
        name = st.getPath().getName()
        full = st.getPath().toString()
        table = name[: -len(".parquet")] if name.endswith(".parquet") else name
        if st.isDirectory():
            files = list_parquet_files(spark, full)
            if files:
                objs.append(ObjectMeta(database_name, "main", table, "U", full, files))
        elif table != name:
            objs.append(
                ObjectMeta(
                    database_name, "main", table, "U", full, [FileMeta(full, st.getLen())]
                )
            )
    objs.sort(key=lambda o: (o.schema_name, o.object_name))
    return objs


def list_filegroups(
    spark: SparkSession, obj: ObjectMeta
) -> list[tuple[str, list[FileMeta]]]:
    """Filegroups of one table (SURVEY §2.1 #3; DIC:1374-1377).

    A *filegroup* is a physical storage subset: for a partitioned
    table, each first-level partition directory (``col=value``); files
    at the table root (or a single-file table) form PRIMARY.  Ordered
    PRIMARY-first then by name, mirroring the reference's
    ``CASE WHEN name = 'PRIMARY' THEN 1 ELSE 0 END DESC, name``.
    """
    groups: dict[str, list[FileMeta]] = {}
    prefix = _canon_file_path(obj.path).rstrip("/") + "/"
    for f in obj.files:
        fp = _canon_file_path(f.path)
        rest = fp[len(prefix):] if fp.startswith(prefix) else ""
        if "/" in rest:
            groups.setdefault(rest.split("/", 1)[0], []).append(f)
        else:
            groups.setdefault("PRIMARY", []).append(f)
    return sorted(
        groups.items(), key=lambda kv: (0 if kv[0] == "PRIMARY" else 1, kv[0])
    )


def catalog_meta_df(spark: SparkSession, base_dir: str) -> DataFrame:
    """The engine's ``sys.databases ⋈ sys.objects`` as a DataFrame
    (FIXTURES.md §B ``catalog_meta``)."""
    rows = []
    for db in list_databases(spark, base_dir):
        for o in list_objects(spark, db.name, os.path.join(base_dir, db.name)):
            rows.append(
                Row(
                    database_name=db.name,
                    database_type=db.database_type,
                    schema_name=o.schema_name,
                    object_name=o.object_name,
                    object_type=o.object_type,
                    path=o.path,
                    file_count=o.file_count,
                    total_bytes=o.total_bytes,
                )
            )
    return spark.createDataFrame(rows, CATALOG_META_SCHEMA)


FOOTER_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("size", T.LongType()),
        T.StructField("footer_row_count", T.LongType()),
        T.StructField("num_row_groups", T.IntegerType()),
        T.StructField("n_columns", T.IntegerType()),
        T.StructField("footer_ok", T.BooleanType()),
        T.StructField("error", T.StringType()),
    ]
)


def _read_footer(path_size: tuple[str, int]) -> Row:
    """Executor-side footer probe (metadata only — no data pages read)."""
    path, size = path_size
    local = path[len("file:") :] if path.startswith("file:") else path
    try:
        import pyarrow.parquet as pq

        md = pq.ParquetFile(local).metadata
        return Row(
            path=path,
            size=int(size),
            footer_row_count=int(md.num_rows),
            num_row_groups=int(md.num_row_groups),
            n_columns=int(md.num_columns),
            footer_ok=True,
            error=None,
        )
    except Exception as exc:  # truncated / zero-byte / not parquet
        return Row(
            path=path,
            size=int(size),
            footer_row_count=None,
            num_row_groups=None,
            n_columns=None,
            footer_ok=False,
            error=f"{type(exc).__name__}: {exc}"[:500],
        )


DRIVER_SIDE_FOOTER_LIMIT = 64


def probe_footers(files: list[FileMeta]) -> list[Row]:
    """Footer stats of a small pinned file list, read on the driver
    (``FOOTER_SCHEMA`` rows, in file order)."""
    return [_read_footer((f.path, f.size)) for f in files]


def footer_stats_df(spark: SparkSession, files: list[FileMeta]) -> DataFrame:
    """Parquet footer stats for a pinned file list.

    Small listings (≤ 64 files) are probed on the driver — a
    footer read is ~1 ms of metadata IO and a Spark job costs more
    than that in scheduling.  Larger listings fan out over executors
    (``parallelize`` + per-partition pyarrow) so a 100 TB table with
    10⁵ files parallelizes instead of serializing on the driver; this
    is the only RDD use in the engine — genuinely per-file imperative
    metadata IO.
    """
    if not files:
        return spark.createDataFrame([], FOOTER_SCHEMA)
    if len(files) <= DRIVER_SIDE_FOOTER_LIMIT:
        from integritychecksforvldbs_spark.functions.planutil import (
            local_relation,
        )

        # a VALUES LocalRelation, not createDataFrame(list): the
        # Python-RDD route re-spins Python workers on every action
        return local_relation(
            spark,
            [tuple(r) for r in probe_footers(files)],
            [
                ("path", "STRING"),
                ("size", "BIGINT"),
                ("footer_row_count", "BIGINT"),
                ("num_row_groups", "INT"),
                ("n_columns", "INT"),
                ("footer_ok", "BOOLEAN"),
                ("error", "STRING"),
            ],
        )
    pairs = [(f.path, f.size) for f in files]
    slices = min(len(pairs), spark.sparkContext.defaultParallelism * 2)
    rows = spark.sparkContext.parallelize(pairs, slices).map(_read_footer)
    return spark.createDataFrame(rows, FOOTER_SCHEMA)
