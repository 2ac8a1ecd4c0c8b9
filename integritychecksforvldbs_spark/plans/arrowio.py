"""Driver-side parquet I/O for the checker's metadata tables.

The resume ledger, the command log and the incremental CHECKTABLE
partials are metadata-sized: one row per object, per command or per
data file.  Writing them through pyarrow on the driver costs
milliseconds, where a Spark write is a job of about a second.  The
files are plain parquet that Spark (with the table's ``StructType``)
and DuckDB both read.  Tables that are replaced whole go through one
crash-safe swap, :func:`write_swapped` / :func:`read_swapped`.

Timestamps are stored as ``timestamp[us, tz=UTC]`` holding the
scheduler's naive-UTC values, and come back as naive UTC.  The Arrow
schema is always explicit: a column that is NULL in every row (a first
run's ``previous_run_date``) would otherwise infer as Arrow ``null``,
which Spark refuses to read as a timestamp.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import types as T

_ARROW_TYPES = {
    T.LongType: pa.int64(),
    T.IntegerType: pa.int32(),
    T.StringType: pa.string(),
    T.BooleanType: pa.bool_(),
    T.DateType: pa.date32(),
    T.TimestampType: pa.timestamp("us", tz="UTC"),
}


def arrow_schema(struct: T.StructType) -> pa.Schema:
    """The Arrow schema that mirrors a flat Spark ``StructType``."""
    return pa.schema([pa.field(f.name, _ARROW_TYPES[type(f.dataType)]) for f in struct.fields])


def write_rows(rows: list[dict], struct: T.StructType, file_path: str) -> None:
    """Write ``rows`` (dicts keyed by field name) as one parquet file."""
    pq.write_table(pa.Table.from_pylist(rows, arrow_schema(struct)), file_path)


def read_rows(path: str, struct: T.StructType) -> list[dict]:
    """Rows of a parquet file or directory as dicts, timestamps as
    naive UTC.  Files written by Spark (INT96 timestamps) cast to the
    same types; ``.``/``_``-prefixed names are skipped, as Spark does."""
    schema = arrow_schema(struct)
    naive = pa.schema(
        [pa.field(f.name, pa.timestamp("us")) if pa.types.is_timestamp(f.type) else f
         for f in schema]
    )
    table = pq.read_table(path, schema=schema)
    return table.cast(naive).to_pylist()


def write_swapped(rows: list[dict], struct: T.StructType, path: str) -> None:
    """Replace the table directory ``path`` with ``rows`` (single
    writer): write a temp directory beside it, rename the old one
    aside to ``<path>.old``, rename the temp one in, then drop
    ``.old``.  A crash between the renames leaves only ``.old``, which
    :func:`read_swapped` falls back to; a ``.old`` left by a crash
    after the swap is cleared before the next one."""
    parent = os.path.dirname(path) or "."
    os.makedirs(parent, exist_ok=True)
    old = path + ".old"
    tmp = tempfile.mkdtemp(dir=parent, prefix=".swap_tmp_")
    try:
        write_rows(rows, struct, os.path.join(tmp, "part-00000.parquet"))
        if os.path.exists(path):
            shutil.rmtree(old, ignore_errors=True)
            os.rename(path, old)
        os.rename(tmp, path)
    except Exception:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    shutil.rmtree(old, ignore_errors=True)


def read_swapped(path: str, struct: T.StructType) -> list[dict] | None:
    """The rows at ``path``, or at ``<path>.old`` after a crash inside
    :func:`write_swapped`; None when neither exists, the table is
    unreadable, or its stored column set is not ``struct``'s (the
    state was written for another column list)."""
    path = path if os.path.exists(path) else path + ".old"
    if not os.path.exists(path):
        return None
    try:
        if set(ds.dataset(path, format="parquet").schema.names) != set(struct.names):
            return None
        return read_rows(path, struct)
    except (OSError, pa.ArrowException):
        return None
