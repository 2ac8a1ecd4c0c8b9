"""The resume ledger — ``dbo.CheckTableObjects`` analogue.

Schema mirrors IntegrityChecks_VLDB.sql:41-65 (FIXTURES.md §B
``check_objects``).  The ledger is metadata-sized (one row per table,
not per data row), so it lives in driver memory during a run and is
persisted as a directory holding one parquet file, written by pyarrow
on the driver (no Spark job) through ``arrowio.write_swapped``: a temp
directory renamed over the old one — the single-writer
read-modify-overwrite plan from SURVEY §7.4 risk 1.  A crash between
the swap's two renames leaves the previous ledger at ``<path>.old``,
which the next load falls back to.  Spark
(``spark.read.schema(STATE_SCHEMA)``) and DuckDB (``read_parquet``)
read the file; ledgers written by Spark load too.
A Delta ``MERGE INTO`` drop-in is the multi-writer upgrade path.

Semantics preserved exactly:

- MERGE (IC:454-484): match on (database_name, schema, object_name);
  matched → update size + ``active=True``; new → insert with defaults
  (executions 0, avg 0, last_check_date 1900-01-01 per IC:62);
  vanished → ``active=False`` soft delete (never hard-deleted,
  IC:482-483).
- per-run stats update (IC:696-722): Previous{RunDate,Duration} take
  the row's prior Start/Duration, executions increment, and the
  running average uses **T-SQL integer division** (truncation toward
  zero): ``avg += (duration - avg) / n_new`` (IC:706).
"""

from __future__ import annotations

import math
from dataclasses import asdict, dataclass
from datetime import date, datetime

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from .arrowio import read_swapped, write_swapped

EPOCH_DATE = date(1900, 1, 1)  # IC:62 default

STATE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("database_name", T.StringType()),
        T.StructField("schema", T.StringType()),
        T.StructField("object_name", T.StringType()),
        T.StructField("object_type", T.StringType()),
        T.StructField("used_page_count", T.LongType()),
        T.StructField("start_time", T.TimestampType()),
        T.StructField("end_time", T.TimestampType()),
        T.StructField("run_duration_ms", T.LongType()),
        T.StructField("command", T.StringType()),
        T.StructField("number_of_executions", T.LongType()),
        T.StructField("avg_run_duration_ms", T.LongType()),
        T.StructField("previous_run_date", T.TimestampType()),
        T.StructField("previous_run_duration_ms", T.LongType()),
        T.StructField("last_check_date", T.DateType()),
        T.StructField("active", T.BooleanType()),
    ]
)


def tsql_int_div(a: int, b: int) -> int:
    """T-SQL ``/`` on ints truncates toward zero (Python ``//`` floors)."""
    return math.trunc(a / b)


@dataclass
class StateRow:
    id: int
    database_name: str
    schema: str
    object_name: str
    object_type: str = "U"
    used_page_count: int = 0
    start_time: datetime | None = None
    end_time: datetime | None = None
    run_duration_ms: int | None = None
    command: str | None = None
    number_of_executions: int = 0  # IC:58 default
    avg_run_duration_ms: int = 0  # IC:59 default
    previous_run_date: datetime | None = None
    previous_run_duration_ms: int | None = None
    last_check_date: date = EPOCH_DATE
    active: bool = True


class StateStore:
    def __init__(self, spark: SparkSession, path: str | None = None):
        self.path = path
        self.rows: dict[tuple[str, str, str], StateRow] = {}
        self._next_id = 1
        if path:
            self._load()

    def _key(self, db: str, schema: str, obj: str) -> tuple[str, str, str]:
        return (db, schema, obj)

    def _load(self) -> None:
        for r in read_swapped(self.path, STATE_SCHEMA) or []:
            row = StateRow(**r)
            self.rows[self._key(row.database_name, row.schema, row.object_name)] = row
            self._next_id = max(self._next_id, row.id + 1)

    def save(self) -> None:
        """Atomic overwrite through the crash-safe swap (single writer;
        SURVEY §7.4 risk 1)."""
        if self.path:
            write_swapped([asdict(r) for r in self.rows.values()], STATE_SCHEMA, self.path)

    # ------------------------------------------------------------------
    # MERGE (IC:454-484)
    # ------------------------------------------------------------------
    def merge_inventory(
        self, inventory: list[tuple[str, str, str, str, int]]
    ) -> dict[str, int]:
        """Upsert (db, schema, object, type, size) rows.

        Returns counts {'updated', 'inserted', 'deactivated'}."""
        seen: set[tuple[str, str, str]] = set()
        stats = {"updated": 0, "inserted": 0, "deactivated": 0}
        for db, schema, obj, otype, size in inventory:
            k = self._key(db, schema, obj)
            seen.add(k)
            if k in self.rows:  # WHEN MATCHED (IC:457-458)
                self.rows[k].used_page_count = size
                self.rows[k].active = True
                stats["updated"] += 1
            else:  # WHEN NOT MATCHED BY TARGET (IC:459-481)
                self.rows[k] = StateRow(
                    id=self._next_id,
                    database_name=db,
                    schema=schema,
                    object_name=obj,
                    object_type=otype,
                    used_page_count=size,
                )
                self._next_id += 1
                stats["inserted"] += 1
        # WHEN NOT MATCHED BY SOURCE → soft delete (IC:482-483); scoped
        # to the databases present in the inventory so a partial-DB run
        # doesn't deactivate the rest of the fleet.
        dbs = {db for db, *_ in inventory}
        for k, row in self.rows.items():
            if k not in seen and row.database_name in dbs and row.active:
                row.active = False
                stats["deactivated"] += 1
        return stats

    # ------------------------------------------------------------------
    # Scheduling reads (IC:583-587, 651-668)
    # ------------------------------------------------------------------
    def db_order(self) -> list[tuple[str, date]]:
        """(database, MIN(last_check_date)) ascending — the DB visit
        order (IC:583-587,595)."""
        agg: dict[str, date] = {}
        for row in self.rows.values():
            if row.active:
                cur = agg.get(row.database_name)
                if cur is None or row.last_check_date < cur:
                    agg[row.database_name] = row.last_check_date
        return sorted(agg.items(), key=lambda kv: (kv[1], kv[0]))

    def is_initial_run(self, db: str) -> bool:
        """#never-checked > #checked (IC:602-604)."""
        never = sum(
            1 for r in self.rows.values()
            if r.database_name == db and r.number_of_executions == 0
        )
        done = sum(
            1 for r in self.rows.values()
            if r.database_name == db and r.number_of_executions > 0
        )
        return never > done

    def pick_next(
        self, db: str, run_date: date, order_by_smallest: bool, exclude: set[tuple[str, str]]
    ) -> StateRow | None:
        """TOP 1 of the min-LastCheckDate cohort, excluding objects
        already checked today (IC:651-668); sort key flips to size asc
        after the halfway switch (IC:666-668)."""
        cands = [
            r
            for r in self.rows.values()
            if r.database_name == db
            and r.active
            and r.last_check_date != run_date
            and (r.schema, r.object_name) not in exclude
        ]
        if not cands:
            return None
        min_date = min(r.last_check_date for r in cands)
        cands = [r for r in cands if r.last_check_date == min_date]
        if order_by_smallest:
            cands.sort(key=lambda r: (r.used_page_count, r.schema, r.object_name))
        else:
            cands.sort(key=lambda r: (r.database_name, r.schema, r.object_name))
        return cands[0]

    # ------------------------------------------------------------------
    # Per-run stats update (IC:696-722)
    # ------------------------------------------------------------------
    def record_run(
        self,
        db: str,
        schema: str,
        obj: str,
        start_time: datetime,
        end_time: datetime,
        command_text: str,
        run_date: date,
    ) -> StateRow:
        row = self.rows[self._key(db, schema, obj)]
        duration = int((end_time - start_time).total_seconds() * 1000)
        n_new = row.number_of_executions + 1
        # IC:706 — integer ms arithmetic, truncation toward zero
        new_avg = row.avg_run_duration_ms + tsql_int_div(
            duration - row.avg_run_duration_ms, n_new
        )
        row.previous_run_date = row.start_time
        row.previous_run_duration_ms = row.run_duration_ms
        row.start_time = start_time
        row.end_time = end_time
        row.run_duration_ms = duration
        row.command = "Command Executed: " + command_text  # IC:710
        row.number_of_executions = n_new
        row.avg_run_duration_ms = new_avg
        row.last_check_date = run_date  # CAST(@JobStartTime as date)
        return row

    def record_skip(self, db: str, schema: str, obj: str, skip_message: str) -> StateRow:
        """Skip-if-won't-fit record (IC:677-680): only the Command text
        changes; LastCheckDate and the stats stay as they were.  (The
        reference's UPDATE would busy-spin re-picking the same object
        until the budget expires, writing stale loop variables into the
        stats as it goes; we write the same skip record once and let the
        scheduler move on — same end state, no spin.)"""
        row = self.rows[self._key(db, schema, obj)]
        row.command = skip_message
        return row
