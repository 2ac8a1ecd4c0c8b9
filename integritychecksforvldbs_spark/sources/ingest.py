"""Quarantined ingestion — malformed input rows become DATA, not errors.

The reference operates downstream of a database that already enforced
types at INSERT time; a lakehouse ingesting raw CSV/JSON at 100 TB has
no such guarantee, and the two failure postures Spark offers out of
the box are both wrong for a pipeline: ``FAILFAST`` kills a 10-hour
job on row 9 billion, ``DROPMALFORMED`` silently loses data.  This
module implements the third posture every production ingest uses:
**PERMISSIVE + quarantine** — parse what parses, capture what doesn't
as raw text in a corrupt-record column, and split the result into a
typed "good" frame and a raw "bad" frame the operator can inspect,
count, alert on, and re-drive after a parser fix.

Architecture note: this deliberately does NOT use the native csv/json
datasources' ``columnNameOfCorruptRecord``.  That column is internal
to the scan, and Spark hard-rejects any query whose required columns
collapse to just it (``QUERY_ONLY_CORRUPT_RECORD_COLUMN``) — which is
exactly what ``bad.count()`` and an ingest-health aggregate prune to;
the documented workaround is caching the raw parse, unacceptable at
scale.  Instead the input is scanned as TEXT and parsed with the
``from_csv`` / ``from_json`` Catalyst expressions (the same JVM
parser the datasource uses, whole-stage-codegen'd, PERMISSIVE with a
corrupt field *inside* the struct) — so the corrupt column is an
ordinary column with ordinary pruning/counting semantics, and the
whole flow stays one text scan.

Schema is REQUIRED (unlike :func:`.loader.load_any`'s convenience
inference): at scale, inference is an extra full pass, and an
inferred schema silently absorbs bad rows by widening types —
quarantine only means something against a declared contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from integritychecksforvldbs_spark.sources.loader import normalize_ntz

CORRUPT_COL = "_corrupt_record"


def _schema_with_corrupt(
    schema: T.StructType | str, corrupt_col: str
) -> T.StructType:
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    if corrupt_col in schema.fieldNames():
        raise ValueError(
            f"declared schema must not contain {corrupt_col!r}; "
            "it is appended by the ingest"
        )
    # a NEW StructType — StructType.add mutates in place and returns
    # self, which would append the corrupt column to the CALLER's
    # schema object (breaking its other uses and making a second
    # ingest call with the same object raise)
    return T.StructType(
        list(schema.fields) + [T.StructField(corrupt_col, T.StringType(), True)]
    )


# past this many files the first-line sniff distributes over the
# cluster instead of looping on the driver (the footer-stats pattern
# zonemap/bloomskip use)
SNIFF_DRIVER_LIMIT = 64


def _first_line_matches(fpath: str, canonical: bytes) -> bool:
    """Does ``fpath`` START with the canonical header line?  Reads
    only the first line's bytes (bounded), never the file."""
    local = fpath[len("file:"):] if fpath.startswith("file:") else fpath
    while local.startswith("//"):
        local = local[1:]
    try:
        with open(local, "rb") as f:
            head = f.readline(len(canonical) + 8)
    except OSError:
        return False
    # a longer first line reads as canonical-plus-extra bytes and
    # fails the equality; exactly-canonical (± line terminator) passes
    return head.rstrip(b"\r\n") == canonical


def _files_with_header(
    spark: SparkSession, files: list[str], canonical: str
) -> set[str]:
    """Canonical paths of the files whose first line IS the header —
    a metadata-scale sniff (first line per file), driver-side for few
    files, distributed past :data:`SNIFF_DRIVER_LIMIT`."""
    from integritychecksforvldbs_spark.sources.catalog import (
        _canon_file_path,
    )

    canon_b = canonical.encode("utf-8")
    if len(files) <= SNIFF_DRIVER_LIMIT:
        return {
            _canon_file_path(f)
            for f in files
            if _first_line_matches(f, canon_b)
        }
    sc = spark.sparkContext
    hits = (
        sc.parallelize(files, max(1, len(files) // 256))
        .filter(lambda f: _first_line_matches(f, canon_b))
        .collect()
    )
    return {_canon_file_path(f) for f in hits}


def _drop_headers(
    spark: SparkSession, lines: DataFrame, canonical: str
) -> DataFrame:
    """Drop header lines: rows equal to ``canonical``, in the FIRST
    block of files that genuinely start with that header.  One scan,
    no shuffle — file membership rides a literal predicate over the
    sniffed (metadata-sized) file sets, spelled on whichever of
    header/headerless is the minority so the predicate stays small."""
    from integritychecksforvldbs_spark.operators.kernels import (
        _canon_file_path_expr,
    )
    from integritychecksforvldbs_spark.sources.catalog import (
        _canon_file_path,
    )

    all_files = {_canon_file_path(f) for f in lines.inputFiles()}
    hdr = _files_with_header(spark, sorted(all_files), canonical)
    if not hdr:
        return lines  # no file starts with the header: nothing to drop
    is_header_row = (F.col("value") == F.lit(canonical)) & (
        F.col("_metadata.file_block_start") == 0
    )
    if hdr == all_files:
        pass  # every file has a header — no membership test needed
    elif len(hdr) <= len(all_files) - len(hdr):
        is_header_row = is_header_row & _canon_file_path_expr().isin(
            *sorted(hdr)
        )
    else:
        is_header_row = is_header_row & ~_canon_file_path_expr().isin(
            *sorted(all_files - hdr)
        )
    return lines.filter(~is_header_row)


def ingest_quarantined(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str,
    fmt: str = "csv",
    corrupt_col: str = CORRUPT_COL,
    header: bool = True,
    sep: str = ",",
    **options: str,
) -> DataFrame:
    """Read ``path`` as ``fmt`` (csv / json-lines) against the
    DECLARED ``schema``, returning the typed columns plus
    ``corrupt_col`` holding the raw text of every row that failed to
    parse (NULL for clean rows; PERMISSIVE keeps whatever partial
    parse was salvageable in the typed columns alongside).

    CSV ``header=True`` drops header lines — lines exactly equal to
    the canonical header (``sep``-joined declared field names), the
    positional contract the native reader's ``enforceSchema`` applies
    — but only in files that actually START with that header (sniffed
    once per file at metadata scale, first line only, distributed past
    a file-count threshold) and only in the file's FIRST block: a
    headerless file whose data happens to contain a header-valued row
    (an all-string schema ingesting a column-name-valued row) keeps
    every row, unlike a global value filter.  Residual limitation,
    documented: in a file that DOES start with the header, an
    additional data row spelled exactly like the header inside the
    first ~128 MB block is also dropped (dropping the first such
    duplicate is multiset-equivalent to dropping the header itself;
    only further duplicates in that block are a real loss — reading
    the native reader's exact first-line-only semantics would cost a
    full shuffle or second scan at 100 TB, which this deliberately
    avoids).  A file whose header names/order DISAGREE with the
    declared schema is not silently reinterpreted: its header line
    lands in quarantine, surfacing the contract mismatch instead of
    burying it.

    One splittable text scan; parsing is the ``from_csv`` /
    ``from_json`` JVM expression.  All declared fields are parsed
    (validating a contract needs the full row) — project AFTER ingest
    for narrow consumers.
    """
    if fmt not in ("csv", "json"):
        raise ValueError(f"quarantined ingest supports csv/json, got {fmt!r}")
    full = _schema_with_corrupt(schema, corrupt_col)
    opts = {
        "mode": "PERMISSIVE",
        "columnNameOfCorruptRecord": corrupt_col,
        **({"sep": sep} if fmt == "csv" else {}),
        **options,
    }
    lines = spark.read.text(path)
    if fmt == "csv":
        # native-reader parity: empty lines are skipped, not parsed
        # into phantom all-null rows (whitespace-only lines still
        # quarantine — they are content, just unparseable content)
        lines = lines.filter(F.col("value") != F.lit(""))
    else:
        # the native JSON-lines source skips whitespace-only lines
        lines = lines.filter(F.trim(F.col("value")) != F.lit(""))
    if fmt == "csv" and header:
        canonical = sep.join(f.name for f in full.fields[:-1])
        lines = _drop_headers(spark, lines, canonical)
    parse = F.from_csv if fmt == "csv" else F.from_json
    parsed = lines.select(
        parse(F.col("value"), full.simpleString(), opts).alias("_r")
    ).select("_r.*")
    return normalize_ntz(parsed)


def split_quarantine(
    df: DataFrame, corrupt_col: str = CORRUPT_COL
) -> tuple[DataFrame, DataFrame]:
    """(good, bad): good = rows that parsed clean, typed schema with
    the corrupt column dropped; bad = quarantined rows, raw line
    first, then whatever partial parse PERMISSIVE salvaged."""
    good = df.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)
    other = [c for c in df.columns if c != corrupt_col]
    bad = df.filter(F.col(corrupt_col).isNotNull()).select(corrupt_col, *other)
    return good, bad


def quarantine_report(
    df: DataFrame, corrupt_col: str = CORRUPT_COL
) -> DataFrame:
    """One-row ingest health summary: (n_rows, n_good, n_bad,
    bad_pct) — the number an ingest job alerts on.  One pass, one
    map-side-combined aggregate."""
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col(corrupt_col).isNull(), 1)).alias("n_good"),
        F.count(corrupt_col).alias("n_bad"),
        F.round(
            F.count(corrupt_col) * 100.0 / F.greatest(F.count(F.lit(1)), F.lit(1)),
            4,
        ).alias("bad_pct"),
    )
