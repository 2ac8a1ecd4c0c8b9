"""Deletion vectors — merge-on-read row-level DML for versioned tables.

The copy-on-write DML triad (``delete_where`` / ``update_where`` /
``merge_into`` in :mod:`.versioned`) rewrites every data file holding
at least one matching row.  Correct — but at 100 TB with GB-sized
files, a single-row GDPR delete rewrites a whole file: O(file) write
amplification for an O(1) change.  The fix the real lakehouses ship
(Delta's deletion vectors, Iceberg's positional delete files, public
designs both) is MERGE-ON-READ: the DML commit writes a tiny sidecar
naming the file's DEAD ROW POSITIONS, the manifest maps the file to
its sidecar, and every reader anti-filters those positions at scan
time.  The file's bytes are untouched until compaction or vacuum
materializes the deletion away.

This module holds the format-level pieces; :mod:`.versioned` owns the
commit protocol and decides copy-vs-DV per statement:

- **artifact**: one JSON per (commit, file) under ``{table}/dv/``:
  ``{"file": <canonical path>, "ranges": [[s, e], ...], "n": N}`` —
  positions are ``_metadata.row_index`` values (the row's physical
  index in the parquet file, the same addressing Delta's DVs use),
  range-compressed so a contiguous bulk delete costs O(islands), not
  O(rows).  A file's manifest entry points to ONE artifact holding its
  FULL dead set; a later DML on the same file writes the union and
  supersedes the entry (the superseded artifact becomes vacuum food).
  Production note: at extreme density a roaring bitmap is the better
  payload encoding — the manifest shape (file → sidecar + count) is
  the part that matters and would carry that swap unchanged.
- **read path**: :func:`apply_dvs` plans a LEFT ANTI join between the
  scan (keyed by canonicalized ``_metadata.file_path`` +
  ``_metadata.row_index``, both generated natively inside the parquet
  reader — no Python touches the hot path) and the dead-position set,
  which is read DISTRIBUTED from the artifacts (``spark.read.json`` +
  ``explode(sequence(s, e))``) and broadcast when small.  Cost scales
  with the dead set, and a table with no DVs pays nothing.
- **write path**: :func:`matched_ranges` turns "the rows this DML
  marked" into per-file range lists with a gaps-and-islands
  aggregation (one shuffle of the MATCHED rows only), collecting
  O(islands) to the driver — never the full position list.

Reference parity: the reference's engine gets row-granular DML from
SQL Server's storage layer (a DELETE touches rows, not files); DVs are
what gives this file-based format the same granularity.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# positions-in-flight cap for planning the anti-join build side as a
# broadcast: below this many dead rows the position set ships to every
# executor (no shuffle of the probe side); above it the join falls
# back to whatever strategy Catalyst/AQE picks
DV_BROADCAST_MAX_POSITIONS = 4_000_000

# islands-on-the-driver cap for the DV WRITE path: the fraction gate
# (versioned.DV_MAX_FRACTION) bounds how many rows a DV DML may mark,
# but not how FRAGMENTED they are — a scattered sub-20% delete (every
# Nth row of a huge snapshot, a predicate on a high-entropy column) is
# one island PER ROW, and collecting O(matched) islands would OOM the
# driver at 100 TB.  matched_ranges therefore collects through a
# LIMIT(cap+1) probe (executors stop early; the driver never holds
# more than cap+1 island rows) and raises IslandCapExceeded above it;
# the auto DML strategy falls back to copy-on-write, a forced
# strategy="dv" surfaces the error.  1M islands ≈ tens of MB of driver
# lists — safe — while every sane DV shape (point deletes, contiguous
# bulk ranges, mild scatter) stays far below it.
DV_MAX_ISLANDS = 1_000_000


class IslandCapExceeded(ValueError):
    """The DML's matched rows fragment into more islands than the
    driver-side cap allows (see :data:`DV_MAX_ISLANDS`) — the caller
    should rewrite the touched files (copy-on-write) instead of
    growing deletion vectors."""

    def __init__(self, cap: int):
        self.cap = cap
        super().__init__(
            f"matched rows fragment into more than {cap} deletion-"
            "vector islands; a vector this scattered costs more than "
            "rewriting the files — use strategy='copy' (or 'auto', "
            "which falls back automatically)"
        )

_POS_SCHEMA = "file string, ranges array<array<long>>, n long"


def _local(path: str) -> str:
    return path[len("file:"):] if path.startswith("file:") else path


def dv_root(table_path: str) -> str:
    return os.path.join(_local(table_path), "dv")


def canon_metadata_path_expr() -> F.Column:
    """Canonical spelling of ``_metadata.file_path`` — the SQL twin of
    :func:`~.catalog._canon_file_path` (see its docstring
    for the file:-only decode rationale), over the scan's metadata
    column instead of ``input_file_name()`` (the DV join needs the
    row's OWN file even under joins/unions where input_file_name is
    ambiguous)."""
    return F.expr(
        "CASE WHEN _metadata.file_path LIKE 'file:%' THEN "
        "regexp_replace("
        "url_decode(replace(_metadata.file_path, '+', '%2B')), "
        "'^file:/+', '/')"
        " ELSE _metadata.file_path END"
    )


# ---------------------------------------------------------------------------
# range algebra (driver-side, O(islands))
# ---------------------------------------------------------------------------


def ranges_count(ranges: list[list[int]]) -> int:
    return sum(int(e) - int(s) + 1 for s, e in ranges)


def merge_ranges(
    a: list[list[int]], b: list[list[int]]
) -> list[list[int]]:
    """Interval union of two range lists (each ``[[s, e], ...]``,
    inclusive ends) — how a new DML's dead positions fold into a
    file's existing deletion vector."""
    out: list[list[int]] = []
    for s, e in sorted([list(map(int, r)) for r in a + b]):
        if out and s <= out[-1][1] + 1:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return out


# ---------------------------------------------------------------------------
# artifacts
# ---------------------------------------------------------------------------


def write_dv(
    table_path: str, canon_file: str, ranges: list[list[int]]
) -> dict:
    """Write one deletion-vector artifact; returns the manifest entry
    ``{"path": ..., "n": ...}``.  The artifact is immutable once
    written (complete-or-absent via tmp + rename); one orphaned by a
    lost commit race is invisible and reclaimed by vacuum."""
    root = dv_root(table_path)
    os.makedirs(root, exist_ok=True)
    art = os.path.join(root, f"{uuid.uuid4().hex[:16]}.json")
    tmp = os.path.join(root, f".tmp-{uuid.uuid4().hex[:8]}")
    body = {
        "file": canon_file,
        "ranges": [[int(s), int(e)] for s, e in ranges],
        "n": ranges_count(ranges),
    }
    with open(tmp, "w") as f:
        json.dump(body, f)
        f.flush()
        os.fsync(f.fileno())
    os.rename(tmp, art)
    return {"path": art, "n": body["n"]}


def read_dv_ranges(entry: dict) -> list[list[int]]:
    """The range list of one manifest DV entry (driver/planner side —
    pure Python, no SparkSession, so the Python Data Source planner
    worker can call it)."""
    with open(_local(entry["path"])) as f:
        return json.load(f)["ranges"]


# ---------------------------------------------------------------------------
# read path
# ---------------------------------------------------------------------------


def positions_df(spark: SparkSession, dvs: dict[str, dict]) -> DataFrame:
    """``(__dv_file, __dv_pos)`` rows of every dead position in the
    given manifest DV entries — read on EXECUTORS from the artifacts
    (one splittable json scan + ``explode(sequence())``), so a huge
    dead set never materializes on the driver."""
    paths = sorted({_local(e["path"]) for e in dvs.values()})
    if not paths:
        return spark.createDataFrame([], "__dv_file string, __dv_pos long")
    return (
        spark.read.schema(_POS_SCHEMA)
        .json(paths)
        .select(
            F.col("file").alias("__dv_file"),
            F.explode("ranges").alias("__dv_r"),
        )
        # ranges are always [s, e] with s <= e, so sequence() ascends
        .select(
            "__dv_file",
            F.explode(F.expr("sequence(__dv_r[0], __dv_r[1])")).alias(
                "__dv_pos"
            ),
        )
    )


def scan_with_position(
    df: DataFrame, fcol: str, rcol: str
) -> DataFrame:
    """``df`` (a RAW file-source scan) plus its physical row address:
    ``fcol`` = canonicalized file path, ``rcol`` = row index within
    the file.  Both come from the scan's native ``_metadata`` struct —
    generated inside the parquet reader, stable across re-reads and
    under predicate pushdown, which is what makes positions a durable
    row identity for immutable files."""
    return df.withColumn(fcol, canon_metadata_path_expr()).withColumn(
        rcol, F.col("_metadata.row_index")
    )


def _unique_names(df: DataFrame) -> tuple[str, str]:
    fcol, rcol = "__icv_dv_file", "__icv_dv_pos"
    while fcol in df.columns:
        fcol += "_"
    while rcol in df.columns:
        rcol += "_"
    return fcol, rcol


def apply_dvs(
    spark: SparkSession,
    df: DataFrame,
    dvs: dict[str, dict],
    try_inline: bool = True,
) -> DataFrame:
    """Anti-filter the dead positions of ``dvs`` (manifest entries,
    keyed by data-file path) out of ``df`` — which must be the raw
    file-source scan of (a superset of) those files, so ``_metadata``
    resolves.  No DVs → ``df`` unchanged, zero plan overhead."""
    if not dvs:
        return df
    fcol, rcol = _unique_names(df)
    out = scan_with_position(df, fcol, rcol)
    out = anti_join_positions(
        spark, out, dvs, fcol, rcol, try_inline=try_inline
    )
    return out.drop(fcol, rcol)


# a DV set whose islands fit here is anti-filtered as an INLINED
# whole-stage-codegen predicate (no sidecar scan, no join stage) — the
# point-delete fast path; bigger sets take the distributed anti-join
DV_INLINE_MAX_RANGES = 64
DV_INLINE_MAX_FILES = 16
# second inline tier for SCATTERED point deletes (many singleton
# islands, few total rows — e.g. a GDPR batch): the dead set inlines
# as ``row_index IN <set>`` (Catalyst plans InSet: one hash-set probe
# per row, no join stage).  4096 longs is ~32 KB of plan payload —
# far cheaper than a broadcast-join stage at any scale
DV_INLINE_MAX_POSITIONS = 4096


def inline_ranges(dvs: dict[str, dict]) -> dict | None:
    """``{file: ranges}`` when the whole DV set is small enough to
    carry in the PLAN itself, else None.  Artifact bytes scale with
    ISLANDS, not positions — a contiguous million-row delete is one
    tiny range (inline it), a pathological scatter is a big artifact
    (don't even read it driver-side).  Inline when EITHER the island
    count fits :data:`DV_INLINE_MAX_RANGES` (range comparisons) or the
    expanded position count fits :data:`DV_INLINE_MAX_POSITIONS` (an
    ``IN <set>`` filter — :func:`dead_ranges_pred` picks the form)."""
    if len(dvs) > DV_INLINE_MAX_FILES:
        return None
    for e in dvs.values():
        try:
            if os.path.getsize(_local(e["path"])) > 65536:
                return None
        except OSError:
            return None
    per_file = {f: read_dv_ranges(e) for f, e in dvs.items()}
    if sum(len(r) for r in per_file.values()) > DV_INLINE_MAX_RANGES and (
        sum(
            int(e) - int(s) + 1
            for r in per_file.values()
            for s, e in r
        )
        > DV_INLINE_MAX_POSITIONS
    ):
        return None
    # an EMPTY range list (a defensively-tolerated degenerate artifact:
    # hand-repaired log or an external writer) kills no rows — drop the
    # entry so downstream predicates never reduce over nothing.  NOTE
    # for callers: absence from the result therefore means "fully
    # live", so clean-file lists must be derived from THIS dict, not
    # from the dvs map
    return {f: r for f, r in per_file.items() if r}


def dead_ranges_pred(ranges: list[list[int]], rcol: str):
    """Column true exactly at the positions in ``ranges`` — pure
    whole-stage-codegen comparisons on the native row index.  A
    scattered set (many islands, few rows) becomes ``IN <set>`` —
    Catalyst converts it to InSet, one hash probe per row regardless
    of island count; long islands keep the O(islands) range form."""
    import functools

    total = sum(int(e) - int(s) + 1 for s, e in ranges)
    if len(ranges) > 8 and total <= DV_INLINE_MAX_POSITIONS:
        # one parsed SQL IN-list, not Column.isin(list): isin creates
        # each literal through its own py4j round trip (~4k round
        # trips ≈ 0.6 s of driver time per read); the parsed text form
        # plans to the identical InSet
        positions = ", ".join(
            str(p) for s, e in ranges for p in range(int(s), int(e) + 1)
        )
        return F.expr(f"`{rcol}` IN ({positions})")
    return functools.reduce(
        lambda a, b: a | b,
        [
            (F.col(rcol) >= int(s)) & (F.col(rcol) <= int(e))
            for s, e in ranges
        ],
    )


def _inline_dead_pred(dvs: dict[str, dict], fcol: str, rcol: str):
    """A Column that is True exactly on dead rows, or None when the
    set is too big to inline (see :func:`inline_ranges`)."""
    import functools

    from integritychecksforvldbs_spark.sources.catalog import (
        _canon_file_path,
    )

    per_file = inline_ranges(dvs)
    if per_file is None:
        return None
    if not per_file:  # only degenerate empty vectors: nothing is dead
        return F.lit(False)
    terms = [
        (F.col(fcol) == F.lit(_canon_file_path(f)))
        & dead_ranges_pred(ranges, rcol)
        for f, ranges in per_file.items()
    ]
    return functools.reduce(lambda a, b: a | b, terms)


def anti_join_positions(
    spark: SparkSession,
    df: DataFrame,
    dvs: dict[str, dict],
    fcol: str,
    rcol: str,
    try_inline: bool = True,
) -> DataFrame:
    """Anti-filter ``df`` (already carrying position columns
    ``fcol``/``rcol``) against the dead-position set of ``dvs``: an
    INLINED predicate when the set's islands fit (a point delete costs
    one codegen filter, no extra scan or join stage), else a LEFT ANTI
    join against the distributed position set, broadcast when the
    manifest's recorded counts say it fits.  ``try_inline=False`` skips
    the inline probe for callers that already ran (and declined) it —
    it re-reads sidecar artifacts driver-side."""
    if not dvs:
        return df
    dead = _inline_dead_pred(dvs, fcol, rcol) if try_inline else None
    if dead is not None:
        return df.filter(~dead)
    pos = positions_df(spark, dvs)
    if sum(int(e["n"]) for e in dvs.values()) <= DV_BROADCAST_MAX_POSITIONS:
        pos = F.broadcast(pos)
    cond = (df[fcol] == pos["__dv_file"]) & (df[rcol] == pos["__dv_pos"])
    return df.join(pos, cond, "left_anti")


# ---------------------------------------------------------------------------
# write path
# ---------------------------------------------------------------------------


def matched_ranges(
    marked: DataFrame,
    fcol: str,
    rcol: str,
    max_islands: int | str | None = "auto",
) -> dict[str, list[list[int]]]:
    """Per-file dead-position RANGES of the rows in ``marked`` (a
    frame carrying position columns ``fcol``/``rcol``) — the
    gaps-and-islands aggregation: consecutive positions collapse into
    one ``[start, end]`` island, computed distributed, and only the
    islands come back to the driver.  A contiguous bulk delete of a
    million rows collects ONE range; a scattered point delete collects
    one range per row — O(islands), never a driver-side position list.

    ``max_islands`` bounds that driver collect: the islands come back
    through a ``LIMIT(cap + 1)`` (so the driver holds at most cap+1
    rows and executors stop early) and crossing the cap raises
    :class:`IslandCapExceeded` — the signal that this delete is too
    scattered for merge-on-read and the files should be rewritten
    instead.  ``"auto"`` (default) reads :data:`DV_MAX_ISLANDS` at
    call time; ``None`` disables the cap (tests / callers that already
    bounded the input)."""
    from pyspark.sql import Window

    if max_islands == "auto":
        max_islands = DV_MAX_ISLANDS
    w = Window.partitionBy(fcol).orderBy(rcol)
    grp = (F.col(rcol) - F.row_number().over(w)).alias("__dv_grp")
    islands = (
        marked.select(fcol, rcol)
        .distinct()
        .select(F.col(fcol), F.col(rcol), grp)
        .groupBy(fcol, "__dv_grp")
        .agg(F.min(rcol).alias("__dv_s"), F.max(rcol).alias("__dv_e"))
    )
    if max_islands is not None:
        rows = islands.limit(int(max_islands) + 1).collect()
        if len(rows) > int(max_islands):
            raise IslandCapExceeded(int(max_islands))
    else:
        rows = islands.collect()
    out: dict[str, list[list[int]]] = {}
    for r in rows:
        out.setdefault(r[fcol], []).append([int(r["__dv_s"]), int(r["__dv_e"])])
    for f in out:
        out[f].sort()
    return out


def batch_mask_ranges(ranges, offset: int, n_rows: int):
    """Boolean keep-mask (numpy) for a batch of ``n_rows`` rows
    starting at physical row ``offset``, or None when nothing in the
    batch is dead — the Python-Data-Source read path's DV filter
    (the batch reader streams a file sequentially, so the offset walk
    is exact)."""
    import numpy as np

    mask = None
    for s, e in ranges:
        if e < offset:
            continue
        if s >= offset + n_rows:
            break
        if mask is None:
            mask = np.ones(n_rows, dtype=bool)
        mask[max(s - offset, 0):min(e + 1 - offset, n_rows)] = False
    return mask


def subtract_ranges(
    a: list[list[int]], b: list[list[int]]
) -> list[list[int]]:
    """Positions in ``a`` not in ``b`` (both sorted range lists,
    inclusive) — how a change feed derives the NEWLY-dead positions of
    a version from the previous version's deletion vector."""
    out: list[list[int]] = []
    bi = 0
    b = [list(map(int, r)) for r in b]
    for s, e in (list(map(int, r)) for r in a):
        cur = s
        while cur <= e:
            while bi < len(b) and b[bi][1] < cur:
                bi += 1
            if bi >= len(b) or b[bi][0] > e:
                out.append([cur, e])
                break
            bs, be = b[bi]
            if bs > cur:
                out.append([cur, bs - 1])
            cur = be + 1
    return out


def batch_take_ranges(ranges, offset: int, n_rows: int):
    """Boolean TAKE-mask for a batch: True exactly at the positions
    ``ranges`` names (the dual of :func:`batch_mask_ranges`), or None
    when the batch holds none of them — the change-feed reader's
    "emit the rows AT these positions" filter."""
    import numpy as np

    mask = None
    for s, e in ranges:
        if e < offset:
            continue
        if s >= offset + n_rows:
            break
        if mask is None:
            mask = np.zeros(n_rows, dtype=bool)
        mask[max(s - offset, 0):min(e + 1 - offset, n_rows)] = True
    return mask
