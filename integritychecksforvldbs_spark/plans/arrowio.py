"""Driver-side parquet I/O for the scheduler's metadata tables.

The resume ledger and the command log are metadata-sized: one row per
object, one row per command.  Writing them through pyarrow on the
driver costs milliseconds, where a Spark write is a job of about a
second.  The files are plain parquet that Spark (with the table's
``StructType``) and DuckDB both read.

Timestamps are stored as ``timestamp[us, tz=UTC]`` holding the
scheduler's naive-UTC values, and come back as naive UTC.  The Arrow
schema is always explicit: a column that is NULL in every row (a first
run's ``previous_run_date``) would otherwise infer as Arrow ``null``,
which Spark refuses to read as a timestamp.
"""

from __future__ import annotations

import pyarrow as pa
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
