"""Spark Python Data Source binding for versioned tables — the
format registered as ``spark.read.format("versioned")`` and, the part
no batch API covers, ``spark.readStream.format("versioned")``: an
incremental source whose STREAMING OFFSETS ARE TABLE VERSIONS.

The reference consumes its own state tables by polling and diffing
(DatabaseIntegrityCheck.sql re-reads dbo.CommandLog each round); a
versioned table already carries the better primitive — an immutable,
numbered manifest log — so a streaming reader needs no extra
bookkeeping: offset ``{"version": N}`` means "everything up to
manifest N has been emitted", a micro-batch (start, end] is exactly
the data files that ENTERED the visible set across those manifests,
and Spark's checkpoint makes redelivery impossible.  Paired with
:func:`~.versioned.versioned_batch_sink` on the write side this gives
exactly-once versioned→versioned pipelines end to end.

Append-only contract: a streaming feed cannot express deletions, so
``partitions()`` refuses a range containing overwrite/rollback
commits (the same stance Delta's streaming source takes) — consumers
of mutating tables use :func:`~.versioned.changes` in batch.

Rows cross into Spark as Arrow RecordBatches read by pyarrow per
data file (one :class:`InputPartition` per file, so a 1000-file
backlog fans out across the cluster); the BATCH path of this format
is also provided for API completeness, but ``versioned.read()``
plans a native JVM parquet scan and is the right batch entry point —
the docstring-level rule "UDF rows are the slow path" applies to
Python data sources equally.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from integritychecksforvldbs_spark.sources.versioned import (
    _contiguous_committed,
    _fold,
    _latest_committed,
    _manifest_schema,
    _read_manifest,
    _snapshot,
    _versions,
    version_at,
)


@dataclass
class _FilePartition(InputPartition):
    path: str
    # deletion-vector dead-position ranges of this file ([[s, e], ...]
    # inclusive, or None) — resolved by the planner from the manifest's
    # DV entries (pure-Python json reads, no SparkSession needed) and
    # shipped on the pickled partition; the reader anti-filters them
    # batch-by-batch as it streams the file
    dv_ranges: tuple | None = None


@dataclass
class _CDFPartition(InputPartition):
    """One change-feed read unit: emit ``ctype`` rows of ``path`` at
    version ``version`` — the whole file's live rows (``mode='all'``,
    ``ranges`` = the file's dead positions to EXCLUDE) or exactly the
    positions in ``ranges`` (``mode='at'``, a DV diff)."""

    path: str
    version: int
    ctype: str  # 'insert' | 'delete'
    mode: str  # 'all' | 'at'
    ranges: tuple | None = None


def _arrow_schema(files: list[str]):
    import pyarrow.parquet as pq

    return pq.read_schema(files[0])


def _spark_schema(files: list[str]) -> StructType:
    from pyspark.sql.pandas.types import from_arrow_schema
    from pyspark.sql.types import StructField

    inferred = from_arrow_schema(_arrow_schema(files))
    # Spark's native parquet scan reports every column nullable
    # regardless of footer required-ness; match it so format parity
    # (and unions with native reads) hold
    return StructType(
        [StructField(f.name, f.dataType, True, f.metadata)
         for f in inferred.fields]
    )


def _local(p: str) -> str:
    return p[len("file:"):] if p.startswith("file:") else p


def _arrow_target(schema: StructType, mapping: dict | None = None):
    """(read name, output name, arrow type) per declared field —
    computed driver-side, shipped to executors on the pickled reader.
    Under a column mapping the files store a column under its stable
    PHYSICAL name (the read name); the declared schema speaks the
    LOGICAL one (the output name).  Unmapped tables have the two
    equal."""
    from pyspark.sql.pandas.types import to_arrow_type

    m = mapping or {}
    return [
        (m.get(f.name, f.name), f.name, to_arrow_type(f.dataType))
        for f in schema.fields
    ]


def _read_file_batches(path: str, target=None, dv_ranges=None) -> Iterator:
    """Arrow batches of one data file, conformed to ``target`` (the
    declared read schema as (name, arrow type) pairs): after a
    schema-evolving append the visible set mixes file schemas, so
    files missing a declared column null-fill it, surplus columns
    drop, and per-file physical types cast to the declared one — the
    same additive-evolution contract the native ``versioned.read``
    plans.  Files already matching pass through untouched.
    ``dv_ranges``: the file's deletion-vector dead positions — the
    reader streams the file sequentially, so a running offset maps
    each batch onto the ranges and dead rows are mask-filtered out
    (the merge-on-read contract of ``versioned.read``, kept by this
    format for parity)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from integritychecksforvldbs_spark.sources.deletion_vectors import (
        batch_mask_ranges,
    )

    def _dv_filter(batches):
        if not dv_ranges:
            yield from batches
            return
        rs = sorted([int(a), int(b)] for a, b in dv_ranges)
        offset = 0
        for b in batches:
            n = b.num_rows
            mask = batch_mask_ranges(rs, offset, n)
            offset += n
            yield b.filter(pa.array(mask)) if mask is not None else b

    pf = pq.ParquetFile(_local(path))
    try:
        if target is None or (
            pf.schema_arrow.names == [r for r, _o, _t in target]
            and all(r == o for r, o, _t in target)
        ):
            yield from _dv_filter(pf.iter_batches())
            return
        present = [r for r, _o, _t in target if r in pf.schema_arrow.names]
        # hive-partitioned layout: a column absent from the footer may
        # live in the file's col=value directory names — reconstruct
        # it as the constant the path declares (physical names, like
        # the footer's)
        from integritychecksforvldbs_spark.sources.versioned import (
            _HIVE_NULL,
            _partition_segments,
        )

        part_vals = _partition_segments(path)
        out_schema = pa.schema(pa.field(o, t) for _r, o, t in target)
        for batch in _dv_filter(pf.iter_batches(columns=present)):
            cols = []
            for read, _out, typ in target:
                if read in present:
                    col = batch.column(batch.schema.get_field_index(read))
                    if col.type != typ:
                        col = col.cast(typ)
                elif read in part_vals and part_vals[read] != _HIVE_NULL:
                    col = pa.repeat(
                        pa.scalar(part_vals[read], pa.string()),
                        batch.num_rows,
                    ).cast(typ)
                else:
                    col = pa.nulls(batch.num_rows, typ)
                cols.append(col)
            yield pa.RecordBatch.from_arrays(cols, schema=out_schema)
    finally:
        pf.close()


class _VersionedBatchReader(DataSourceReader):
    def __init__(self, path: str, version: int | None, schema: StructType):
        if version is None:
            cur = _latest_committed(path)
            if cur is None:
                raise FileNotFoundError(
                    f"no committed version under {path!r}"
                )
            man = cur[1]
        else:
            man = _snapshot(path, version)
            if man is None:
                raise FileNotFoundError(
                    f"version {version} of {path!r} not found"
                )
        self.files = man["files"]
        # resolve DV sidecars at plan time (pure Python — this runs in
        # the planner worker): each partition carries its own ranges
        from integritychecksforvldbs_spark.sources.deletion_vectors import (
            read_dv_ranges,
        )

        self.dv_ranges = {
            f: tuple(tuple(r) for r in read_dv_ranges(e))
            for f, e in (man.get("dvs") or {}).items()
        }
        self.target = _arrow_target(schema, man.get("column_mapping"))

    def partitions(self):
        return [
            _FilePartition(f, self.dv_ranges.get(f)) for f in self.files
        ]

    def read(self, partition: _FilePartition):
        yield from _read_file_batches(
            partition.path, self.target, partition.dv_ranges
        )


class _VersionedStreamReader(DataSourceStreamReader):
    def __init__(
        self,
        path: str,
        starting_version: int,
        schema: StructType,
        max_versions: int | None = None,
        max_files: int | None = None,
        skip_change_commits: bool = False,
        change_feed: bool = False,
        schema_tracking_dir: str | None = None,
    ):
        self.path = path
        self.starting_version = starting_version
        self.change_feed = change_feed
        # physical names are STABLE for a column's lifetime, so the
        # mapping pinned here is valid for every file committed at or
        # before the pinned version, whenever it was written.  It is
        # NOT valid past a MID-STREAM mapping change (overwrite reset,
        # rename, DROP+re-ADD binding a fresh physical name): files
        # appended after one would silently null-fill under stale
        # physical names, so the walk FAILS LOUDLY when an emitted
        # version beyond the pin carries a different mapping (Delta's
        # stance without schemaTrackingLocation: restart the stream to
        # re-pin).  A damaged/vacuumed log must NOT fail here:
        # construction is schema-time; the offset walk raises the
        # precise diagnostic itself
        try:
            cur = _latest_committed(path)
            mapping = cur[1].get("column_mapping") if cur else None
            self._pinned_version = cur[0] if cur else 0
        except Exception:
            mapping = None
            self._pinned_version = 0
        self._pinned_mapping = dict(mapping or {})
        # opt-in schema tracking (Delta's schemaTrackingLocation): the
        # reader persists the (logical → physical, dtype) bindings it
        # pinned, and a RESTARTED reader validates the current table
        # against them — a pure RENAME resumes (physical identity
        # stable, so already-checkpointed offsets stay correct), while
        # a re-bind (DROP+re-ADD, overwrite reset) or a dtype change
        # is refused LOUDLY instead of silently null-filling on the
        # restart path the pin cannot protect.  Mid-stream changes
        # still fail loudly either way (_check_mapping_stable).
        self._tracking_dir = schema_tracking_dir
        if schema_tracking_dir:
            self._reconcile_tracked_schema(schema)
        if change_feed:
            # _change_type/_commit_version are SYNTHESIZED per batch;
            # the files are read against the table schema alone
            base = StructType(
                [f for f in schema.fields
                 if f.name not in ("_change_type", "_commit_version")]
            )
            self.target = _arrow_target(base, mapping)
        else:
            self.target = _arrow_target(schema, mapping)
        self.max_versions = max_versions
        self.max_files = max_files
        self.skip_change_commits = skip_change_commits
        # admission-control bookkeeping: the last offset THIS instance
        # emitted.  None until the first latestOffset — the first call
        # is deliberately UNCAPPED, because on a restart the reader
        # cannot see the checkpoint and a capped first offset could
        # land BELOW it, regressing the offset log and re-emitting
        # versions (duplicates).  Steady-state triggers are capped.
        self._last_emitted: int | None = None

    def _reconcile_tracked_schema(self, schema: StructType) -> None:
        """Validate this (re)start's pinned bindings against the
        tracked ones, then persist the current state atomically.
        The tracking file lives with the checkpoint (pass a dir on
        shared storage on a real cluster — the reader runs on the
        driver).  Allowed across a restart: renames (same physical,
        same type under a new logical name), column adds, column
        drops.  Refused: a logical name re-bound to a different
        physical column, or a physical column changing type — rows
        already delivered under the old binding and rows about to be
        read would silently disagree."""
        import json

        fields = [
            f for f in schema.fields
            if not (
                self.change_feed
                and f.name in ("_change_type", "_commit_version")
            )
        ]
        cols = {
            f.name: [
                self._pinned_mapping.get(f.name, f.name),
                f.dataType.simpleString(),
            ]
            for f in fields
        }
        spath = os.path.join(self._tracking_dir, "schema_tracking.json")
        if os.path.exists(spath):
            with open(spath) as fh:
                prev = json.load(fh)
            pcols = prev.get("columns") or {}
            prev_by_phys = {ph: tp for ph, tp in pcols.values()}
            for lg, (ph, tp) in cols.items():
                old = pcols.get(lg)
                if old is not None and old[0] != ph:
                    raise ValueError(
                        f"streaming read of {self.path!r}: column "
                        f"{lg!r} was tracked bound to physical "
                        f"{old[0]!r} but the table now binds it to "
                        f"{ph!r} (DROP+re-ADD or overwrite reset) — "
                        "rows already delivered under the old binding "
                        "cannot be reconciled; start a fresh "
                        "checkpoint"
                    )
                if ph in prev_by_phys and prev_by_phys[ph] != tp:
                    raise ValueError(
                        f"streaming read of {self.path!r}: physical "
                        f"column {ph!r} changed type "
                        f"{prev_by_phys[ph]!r} → {tp!r} since the "
                        "tracked schema — start a fresh checkpoint"
                    )
        os.makedirs(self._tracking_dir, exist_ok=True)
        tmp = spath + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(
                {"version": self._pinned_version, "columns": cols}, fh
            )
        os.replace(tmp, spath)

    def initialOffset(self) -> dict:
        return {"version": self.starting_version}

    def _new_file_count(self, v: int) -> int:
        """Files version ``v`` would add to a batch — O(1) for delta
        bodies (their add list IS the answer); full checkpoint bodies
        diff against the predecessor's folded set."""
        man = _read_manifest(self.path, v)
        if man is None:
            return 0  # vacuumed since: _files_between reports the hole
        if "add_files" in man:
            return len(man["add_files"])
        prev = _snapshot(self.path, v - 1) if v > 1 else None
        before = set(prev["files"]) if prev is not None else set()
        return len([f for f in man["files"] if f not in before])

    def _admit(self, last: int, frontier: int) -> int:
        """Clamp the next offset to the configured per-trigger caps
        (at least one version always admitted, so a single oversized
        commit still makes progress)."""
        if frontier <= last:
            return frontier
        hi = frontier
        if self.max_versions is not None:
            hi = min(hi, last + max(1, self.max_versions))
        if self.max_files is not None:
            total = 0
            v = last
            while v < hi:
                total += self._new_file_count(v + 1)
                v += 1
                if total >= self.max_files:
                    break
            hi = max(last + 1, v)
        return hi

    def latestOffset(self) -> dict:
        # the CONTIGUOUS committed frontier, not the raw maximum: atomic
        # manifest installs leave no gaps, so the frontier IS the
        # latest committed version, and a hole below a committed
        # version means the log was vacuumed past the stream's
        # checkpoint.  The walk resumes from the last frontier, so
        # cost per call is O(new versions).
        frontier = getattr(self, "_frontier", None)
        if frontier is None:
            # seed the walk at the retained horizon: vacuum expires
            # manifests OLDEST-FIRST, so every version below the oldest
            # retained one is EXPIRED, not in flight — without this, a
            # stream restarted after a routine vacuum(keep_versions=K)
            # would walk from startingVersion into the vacuumed range
            # and raise on every trigger, even though its checkpoint is
            # already past it.  _files_between keeps the loud error for
            # the case that matters: a BATCH RANGE that actually needs
            # an expired manifest.
            oldest = next(
                (
                    v
                    for v in _versions(self.path)
                    if _read_manifest(self.path, v) is not None
                ),
                None,
            )
            frontier = (
                self.starting_version
                if oldest is None
                else max(self.starting_version, oldest - 1)
            )
        frontier = _contiguous_committed(self.path, frontier)
        cur = _latest_committed(self.path)
        if cur is not None and cur[0] > frontier:
            # a hole at frontier+1 with committed versions past it:
            # fail loudly rather than stalling the stream forever
            raise FileNotFoundError(
                f"version {frontier + 1} of {self.path!r} has no "
                f"committed manifest but v{cur[0]} does — vacuumed "
                "past the stream's checkpoint?"
            )
        self._frontier = frontier
        if self._last_emitted is None:
            # first call: uncapped (see __init__ — a capped offset
            # could regress below an unseen checkpoint on restart)
            out = frontier
        else:
            out = self._admit(self._last_emitted, frontier)
        self._last_emitted = out
        return {"version": out}

    def _check_mapping_stable(self, v: int, man: dict) -> None:
        """Refuse to read version ``v``'s files when it carries a
        COLUMN MAPPING the stream was not pinned against (v beyond the
        pin): its files bind physical names the pinned arrow target
        cannot see, and reading on would silently null-fill the
        remapped columns.  Versions at or before the pin are safe by
        the physical-name-stability contract."""
        if v <= self._pinned_version:
            return
        if dict(man.get("column_mapping") or {}) != self._pinned_mapping:
            raise ValueError(
                f"streaming read of {self.path!r}: version {v} changed "
                "the table's column mapping mid-stream (ALTER/overwrite "
                "past the reader's pinned schema) — restart the stream "
                "so it re-pins the current mapping; reading on would "
                "silently null-fill the remapped columns"
            )

    def _files_between(self, start_v: int, end_v: int) -> list[str]:
        """Data files entering the visible set across (start_v,
        end_v], refusing non-append commits.  Every version in range
        must have a committed manifest — ``latestOffset`` only
        advances over the contiguous committed prefix, so a hole here
        means the log was vacuumed past the stream's checkpoint (or
        externally damaged), and silently skipping it would drop that
        version's files from the stream forever."""
        seen: set[str] = set()
        if start_v > 0:
            base = _snapshot(self.path, start_v)  # folded: full file set
            if base is None:
                raise FileNotFoundError(
                    f"offset version {start_v} of {self.path!r} vanished "
                    "(vacuumed past the stream's checkpoint?)"
                )
            seen = set(base["files"])
        out: list[str] = []
        for v in range(start_v + 1, end_v + 1):
            man = _read_manifest(self.path, v)
            if man is None:
                raise FileNotFoundError(
                    f"version {v} of {self.path!r} has no committed "
                    "manifest inside the batch range "
                    f"({start_v}, {end_v}] — vacuumed past the "
                    "stream's checkpoint?"
                )
            mode = man.get("mode", "")
            if mode == "clone":
                mode = "append"  # a clone's v1 is a pure initial load
            if man.get("data_change") is False:
                # layout maintenance (incremental compaction): the
                # rewritten files hold rows ALREADY emitted from the
                # replaced ones — emit nothing, but mark the rewrites
                # seen so a later full checkpoint doesn't re-emit them
                # as new (Delta's dataChange=false stream skip)
                seen.update(
                    man["add_files"] if "add_files" in man
                    else man["files"]
                )
                continue
            if mode != "append":
                if self.skip_change_commits:
                    # Delta's skipChangeCommits stance: the consumer
                    # declared it only wants pure appends — a DML/
                    # overwrite/rollback version contributes NOTHING
                    # (its files are marked seen so a later checkpoint
                    # body doesn't resurface them as new), and deletes
                    # are simply not replayed
                    seen.update(
                        man["add_files"] if "add_files" in man
                        else man["files"]
                    )
                    continue
                raise ValueError(
                    f"streaming read of {self.path!r} hit a "
                    f"non-append commit v{v} ({mode}); a stream cannot "
                    "replay deletions — consume mutating tables with "
                    "versioned.changes() in batch, or opt into "
                    "append-only consumption with "
                    ".option('skipChangeCommits', 'true')"
                )
            self._check_mapping_stable(v, man)
            # a DELTA body lists exactly this commit's additions — the
            # batch the stream wants, O(commit) metadata; a full
            # (checkpoint) body diffs against the accumulated set
            new = man["add_files"] if "add_files" in man else man["files"]
            for f in new:
                if f not in seen:
                    seen.add(f)
                    out.append(f)
        return out

    def _cdf_partitions_between(
        self, start_v: int, end_v: int
    ) -> list[_CDFPartition]:
        """Change-feed read units for (start_v, end_v]: per version,
        the FOLDED snapshot diff against its predecessor — entered
        files emit their live rows as inserts, departed files their
        live rows as deletes, and common files with a changed deletion
        vector emit the position diff (newly dead → delete, revived →
        insert).  Exactly file/DV-local changes are expressible; a
        rewrite that both removes and adds files (copy-path DML) would
        surface every carried row as a false delete+insert pair, so it
        fails loudly toward batch ``versioned.changes()``, which
        cancels carried rows with a multiset diff (the same reason
        Delta's CDF writes dedicated change files for such commits)."""
        from integritychecksforvldbs_spark.sources.deletion_vectors import (
            read_dv_ranges,
            subtract_ranges,
        )

        if start_v > 0:
            prev = _snapshot(self.path, start_v)
            if prev is None:
                raise FileNotFoundError(
                    f"offset version {start_v} of {self.path!r} vanished "
                    "(vacuumed past the stream's checkpoint?)"
                )
        else:
            prev = None
        out: list[_CDFPartition] = []
        for v in range(start_v + 1, end_v + 1):
            man = _read_manifest(self.path, v)
            if man is None:
                raise FileNotFoundError(
                    f"version {v} of {self.path!r} has no committed "
                    "manifest inside the change-feed range "
                    f"({start_v}, {end_v}]"
                )
            snap = _fold(self.path, man)
            emit = man.get("data_change") is not False and not (
                self.skip_change_commits
                and man.get("mode", "") not in ("append", "clone")
            )
            if not emit:
                prev = snap
                continue
            self._check_mapping_stable(v, man)
            pf = set(prev["files"]) if prev else set()
            pd = (prev.get("dvs") or {}) if prev else {}
            cf, cd = set(snap["files"]), snap.get("dvs") or {}
            entered, left = sorted(cf - pf), sorted(pf - cf)
            # row_local (merge-on-read DML): removed files were FULLY
            # dead, so no live row was carried between files and the
            # file-set diff is row-exact even with adds and drops in
            # one commit; without the marker a remove+add commit is a
            # copy-path rewrite whose carried rows would surface as
            # false delete+insert pairs
            if entered and left and not man.get("row_local"):
                raise ValueError(
                    f"change feed of {self.path!r} hit v{v} "
                    f"({man.get('mode')}): a rewrite that swaps files "
                    "is not file-local — consume it with "
                    "versioned.changes() in batch, or take the "
                    "merge-on-read DML path (strategy='dv')"
                )

            def _live(f, dvs, ver, ctype):
                rs = (
                    tuple(tuple(r) for r in read_dv_ranges(dvs[f]))
                    if f in dvs
                    else None
                )
                return _CDFPartition(f, ver, ctype, "all", rs)

            out.extend(_live(f, cd, v, "insert") for f in entered)
            out.extend(_live(f, pd, v, "delete") for f in left)
            for f in sorted(cf & pf):
                if pd.get(f) == cd.get(f):
                    continue
                old_r = read_dv_ranges(pd[f]) if f in pd else []
                new_r = read_dv_ranges(cd[f]) if f in cd else []
                newly = subtract_ranges(new_r, old_r)
                revived = subtract_ranges(old_r, new_r)
                if newly:
                    out.append(
                        _CDFPartition(
                            f, v, "delete", "at",
                            tuple(tuple(r) for r in newly),
                        )
                    )
                if revived:
                    out.append(
                        _CDFPartition(
                            f, v, "insert", "at",
                            tuple(tuple(r) for r in revived),
                        )
                    )
            prev = snap
        return out

    def partitions(self, start: dict, end: dict):
        # a replayed batch on restart tells us where the checkpoint
        # actually is — never emit an offset below it afterwards
        if self._last_emitted is None or int(end["version"]) > self._last_emitted:
            self._last_emitted = int(end["version"])
        if self.change_feed:
            return self._cdf_partitions_between(
                int(start["version"]), int(end["version"])
            )
        files = self._files_between(
            int(start["version"]), int(end["version"])
        )
        return [_FilePartition(f) for f in files]

    def read(self, partition):
        if isinstance(partition, _CDFPartition):
            yield from self._read_cdf(partition)
            return
        yield from _read_file_batches(partition.path, self.target)

    def _read_cdf(self, part: _CDFPartition):
        import pyarrow as pa

        from integritychecksforvldbs_spark.sources.deletion_vectors import (
            batch_take_ranges,
        )

        if part.mode == "all":
            batches = _read_file_batches(
                part.path, self.target, part.ranges
            )
        else:  # 'at': emit exactly the positions in ranges

            def _take():
                rs = sorted([int(a), int(b)] for a, b in part.ranges)
                last = rs[-1][1]
                offset = 0
                for b in _read_file_batches(part.path, self.target):
                    mask = batch_take_ranges(rs, offset, b.num_rows)
                    offset += b.num_rows
                    if mask is not None:
                        yield b.filter(pa.array(mask))
                    if offset > last:
                        break  # a point diff never decodes the tail

            batches = _take()
        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            schema = b.schema.append(
                pa.field("_change_type", pa.string())
            ).append(pa.field("_commit_version", pa.int64()))
            yield pa.RecordBatch.from_arrays(
                list(b.columns)
                + [
                    pa.array([part.ctype] * n, pa.string()),
                    pa.array([part.version] * n, pa.int64()),
                ],
                schema=schema,
            )

    def commit(self, end: dict) -> None:
        pass  # Spark's checkpoint is the ledger; nothing to release


class VersionedDataSource(DataSource):
    """``format("versioned")`` — options:

    - ``path`` (required): versioned-table root
    - ``version`` (batch only): time-travel target
    - ``timestamp`` (batch only): epoch-seconds time travel — resolves
      to the highest version committed at or before it (``TIMESTAMP
      AS OF``); mutually exclusive with ``version``
    - ``startingVersion`` (stream only, default 0): base offset,
      exclusive — 0 replays the table from its first commit
    - ``startingTimestamp`` (stream only): epoch seconds; stream only
      the commits AFTER it (mutually exclusive with
      ``startingVersion``; older than the table = replay all)
    - ``maxVersionsPerTrigger`` / ``maxFilesPerTrigger`` (stream
      only): per-trigger admission caps so a commit burst drains as
      bounded micro-batches instead of one giant one; at least one
      version is always admitted, and the first trigger after a
      (re)start is uncapped (the reader cannot see the checkpoint, and
      a capped first offset could regress below it)
    - ``skipChangeCommits`` (stream only, default false): consume
      MUTATING tables append-only — DML/overwrite/rollback versions
      are skipped wholesale instead of failing the stream (their
      deletes are never replayed, their new rows never emitted;
      Delta's option of the same name).  Without it a stream still
      fails loudly on the first non-append commit.
    - ``readChangeFeed`` (stream only, default false): emit ROW-LEVEL
      CHANGES instead of rows — the table schema plus
      ``_change_type`` ('insert'/'delete'; an update is its
      delete+insert pair) and ``_commit_version`` (Delta CDF's
      streaming shape).  Appends, merge-on-read DML (deletion-vector
      diffs), pure removals, overwrites/rollbacks that only add or
      only drop files, and rollbacks across DVs are all exact;
      a copy-path rewrite (remove+add in one commit) fails loudly
      toward batch ``versioned.changes()``, whose multiset diff
      cancels the carried rows.  Composes with ``skipChangeCommits``
      (then only inserts flow).
    """

    @classmethod
    def name(cls) -> str:
        return "versioned"

    def _path(self) -> str:
        p = self.options.get("path")
        if not p:
            raise ValueError("format('versioned') requires .load(path)")
        return _local(p)

    def _batch_version(self, path: str):
        v = self.options.get("version")
        ts = self.options.get("timestamp")
        if ts is not None:
            if v is not None:
                raise ValueError("pass version OR timestamp, not both")
            # Spark calls schema() then reader(); resolve the
            # timestamp's O(log-length) manifest walk once per source
            if not hasattr(self, "_resolved_ts_version"):
                self._resolved_ts_version = version_at(path, float(ts))
            return self._resolved_ts_version
        return int(v) if v is not None else None

    def schema(self) -> StructType:
        path = self._path()
        v = self._batch_version(path)
        if v is not None:
            man = _snapshot(path, int(v))
            if man is None:
                raise FileNotFoundError(
                    f"version {v} of {path!r} not found"
                )
            files = man["files"]
        else:
            cur = _latest_committed(path)
            if cur is None:
                raise FileNotFoundError(
                    f"no committed version under {path!r}"
                )
            files = cur[1]["files"]
        recorded = _manifest_schema(man if v is not None else cur[1])
        if self._change_feed():
            from pyspark.sql.types import LongType, StringType, StructField

            if recorded is None and not files:
                raise ValueError(
                    f"cannot infer schema of empty {path!r}"
                )
            base = recorded if recorded is not None else _spark_schema(files)
            return StructType(
                list(base.fields)
                + [
                    StructField("_change_type", StringType(), False),
                    StructField("_commit_version", LongType(), False),
                ]
            )
        if recorded is not None:
            # the manifest's recorded schema is authoritative — after a
            # schema-evolving append the visible files disagree, and
            # sampling one would drop the evolved columns.  Parsed via
            # the pure-Python JSON form: this runs in the data-source
            # planner worker, which has NO SparkSession (fromDDL would
            # raise SESSION_OR_CONTEXT_NOT_EXISTS here).
            return recorded
        if not files:
            raise ValueError(f"cannot infer schema of empty {path!r}")
        return _spark_schema(files)

    def _change_feed(self) -> bool:
        return str(
            self.options.get("readChangeFeed", "false")
        ).lower() in ("true", "1", "yes")

    def reader(self, schema: StructType) -> DataSourceReader:
        if self._change_feed():
            raise ValueError(
                "readChangeFeed is a STREAMING option here; batch "
                "change feeds are versioned.changes(spark, path, "
                "from_version, to_version)"
            )
        path = self._path()
        return _VersionedBatchReader(path, self._batch_version(path), schema)

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        st = self.options.get("startingTimestamp")
        if st is not None:
            if self.options.get("startingVersion") is not None:
                raise ValueError(
                    "pass startingVersion OR startingTimestamp, not both"
                )
            # versions committed AFTER the timestamp stream; version_at
            # resolves the last one at-or-before it = the base offset
            try:
                start = version_at(self._path(), float(st))
            except FileNotFoundError:
                start = 0  # older than the whole table: replay all
        else:
            start = int(self.options.get("startingVersion", 0))
        mv = self.options.get("maxVersionsPerTrigger")
        mf = self.options.get("maxFilesPerTrigger")
        scc = str(
            self.options.get("skipChangeCommits", "false")
        ).lower() in ("true", "1", "yes")
        return _VersionedStreamReader(
            self._path(), start, schema,
            max_versions=int(mv) if mv is not None else None,
            max_files=int(mf) if mf is not None else None,
            skip_change_commits=scc,
            change_feed=self._change_feed(),
            schema_tracking_dir=self.options.get(
                "schemaTrackingLocation"
            ),
        )


def register(spark) -> None:
    """Idempotent ``spark.dataSource.register`` of the format."""
    spark.dataSource.register(VersionedDataSource)


__all__ = ["VersionedDataSource", "register"]
