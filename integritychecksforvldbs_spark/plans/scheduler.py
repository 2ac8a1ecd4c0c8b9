"""The budgeted scheduler — the VLDB script's stages A–G (SURVEY §3.1).

Given a fleet of namespaces and a wall-clock budget, decide which
checks to run on which objects in what order, run them against a
pinned file listing (snapshot analogue), record per-object runtime
stats, and resume where the previous run left off
(IntegrityChecks_VLDB.sql end-to-end).

All scheduling reads/writes are metadata-sized and driver-side; each
kernel invocation is a Spark job.  Worklists are collected once per DB
visit and iterated in Python — the reference's ``TOP 1`` re-query per
object (IC:651) would mean thousands of tiny Spark jobs (SURVEY §7.4
risk 5).
"""

from __future__ import annotations

import logging
import time
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone
from urllib.parse import urlsplit

from pyspark.sql import SparkSession

from ..expectations import expectations_for
from ..operators.kernels import (
    run_checkalloc,
    run_checkcatalog,
    run_checktable,
    run_extended_logical,
)
from ..sources.catalog import ObjectMeta, list_databases, list_objects
from ..sources.loader import load_table
from ..operators.selector import select_databases
from .runner import CommandLog, CommandOutcome, run_command
from .specs import (
    CHECKALLOC,
    CHECKCATALOG,
    CHECKDB,
    CHECKFILEGROUP,
    CHECKTABLE,
    CheckSpec,
    tsql_ts_112,
    tsql_ts_121,
)
from .state import StateStore

logger = logging.getLogger("integritychecksforvldbs_spark")


def _utcnow() -> datetime:
    return datetime.now(timezone.utc).replace(tzinfo=None)


@dataclass
class CheckParams:
    """Parameter surface of the VLDB script (IC:22-29, validation
    IC:355-402).  Same names modulo @-prefix and snake_case; 'Y'/'N'
    strings accepted where the reference takes them."""

    databases: str | None = None  # NULL → ALL_DATABASES (IC:34-35)
    # DIC @AvailabilityGroups (DIC:480-587): AG-scope selection DSL,
    # mutually exclusive with @Databases; members come from the
    # candidates' availability_group tags (SURVEY tag-column model)
    availability_groups: str | None = None
    physical_only: str = "N"
    max_dop: int | None = None
    time_limit: int | None = None  # seconds
    snapshot_path: str | None = "DEFAULT"  # NULL disables snapshot pinning
    log_to_table: str = "Y"
    execute: str = "Y"
    extended_logical_checks: str = "N"  # DIC:27 extension
    lock_timeout: int | None = None  # DIC @LockTimeout seconds (DIC:1355 analogue)
    # DIC @Updateability (DIC:23, gate DIC:1341-1346): restrict checks
    # to READ_ONLY or READ_WRITE databases; ALL disables the gate
    updateability: str = "ALL"
    # CE @LockMessageSeverity (CE:213-220): 16 = lock timeouts are
    # errors; 10 = logged as informational, run not failed
    lock_message_severity: int = 16
    database_order: str | None = None  # DIC @DatabaseOrder (DIC:992-1089)
    databases_in_parallel: str = "N"  # DIC @DatabasesInParallel (DIC:1095-1228)
    queue_root: str | None = None  # shared dir for the multi-worker queue
    # claim-store backend for the queue: "dir-cas" (mkdir CAS — POSIX/
    # NFS shared filesystems, the default) or "module:callable", a
    # factory invoked with queue_root returning a plans.queue
    # ClaimBackend (the object-store / ACID-table seam: bind your
    # store's conditional-write API to the five-method contract that
    # ConditionalStoreBackend reference-implements)
    queue_backend: str = "dir-cas"
    # DIC @CheckCommands (DIC:698-724); CHECKDB = the composed default
    check_commands: str = "CHECKDB"
    objects: str | None = None  # DIC @Objects 3-part DSL (DIC:645-692)
    filegroups: str | None = None  # DIC @FileGroups 2-part DSL (DIC:593-639)
    # extension: driver-local directory for per-file CHECKTABLE
    # partials; when set, CHECKTABLE scans only files new since the
    # last visit and merges persisted partials
    # (run_checktable_incremental) — the daily-run cost model for
    # append-mostly VLDBs
    incremental_state_dir: str | None = None

    def families(self) -> list[str]:
        """Expand @CheckCommands: CHECKDB → ALLOC+CATALOG+TABLE
        (DIC:1352-1365 composition)."""
        from .specs import CHECKALLOC, CHECKCATALOG, CHECKDB, CHECKTABLE

        kinds = [k.strip().upper() for k in self.check_commands.split(",") if k.strip()]
        if kinds == [CHECKDB]:
            return [CHECKALLOC, CHECKCATALOG, CHECKTABLE]
        return kinds

    def validate(self) -> None:
        from .ordering import validate_database_order
        from .specs import validate_check_commands

        errors = []
        try:
            validate_check_commands(
                [k.strip().upper() for k in self.check_commands.split(",") if k.strip()]
            )
        except ValueError as exc:
            errors.append(str(exc))
        try:
            validate_database_order(self.database_order)
        except ValueError as exc:
            errors.append(str(exc))
        if self.databases_in_parallel not in ("Y", "N"):
            errors.append(
                "The value for the parameter @DatabasesInParallel is not supported."
            )
        if (
            self.databases_in_parallel == "Y"
            and self.queue_backend == "dir-cas"
            and not self.queue_root
        ):
            # a custom ClaimBackend factory may not need a root at all
            errors.append(
                "The value for the parameter @DatabasesInParallel is not supported."
                " A queue_root directory is required."
            )
        if self.queue_backend != "dir-cas" and ":" not in self.queue_backend:
            errors.append(
                "The value for the parameter queue_backend is not supported."
                " Use 'dir-cas' or a 'module:callable' ClaimBackend factory."
            )
        if self.physical_only not in ("Y", "N"):
            errors.append("The value for the parameter @PhysicalOnly is not supported.")
        if self.max_dop is not None and not (0 <= self.max_dop <= 64):
            errors.append("The value for the parameter @MaxDOP is not supported.")
        if self.time_limit is not None and self.time_limit < 0:
            errors.append("The value for the parameter @TimeLimit is not supported.")
        if self.log_to_table not in ("Y", "N"):
            errors.append("The value for the parameter @LogToTable is not supported.")
        if self.execute not in ("Y", "N"):
            errors.append("The value for the parameter @Execute is not supported.")
        if self.extended_logical_checks not in ("Y", "N"):
            errors.append(
                "The value for the parameter @ExtendedLogicalChecks is not supported."
            )
        if self.updateability not in ("READ_ONLY", "READ_WRITE", "ALL"):
            # DIC:792-794
            errors.append(
                "The value for the parameter @Updateability is not supported."
            )
        if self.lock_message_severity not in (10, 16):  # CE:118-121
            errors.append(
                "The value for the parameter @LockMessageSeverity is not supported."
            )
        if self.incremental_state_dir and urlsplit(self.incremental_state_dir).scheme not in (
            "", "file"
        ):
            # the partials live on the driver's filesystem, like the
            # ledger and the command log
            errors.append(
                "The value for the parameter incremental_state_dir is not supported."
                " Use a local path or a file: URI."
            )
        if self.databases is not None and self.availability_groups is not None:
            errors.append(  # DIC:584-587
                "You can only specify one of the parameters @Databases and"
                " @AvailabilityGroups."
            )
        if errors:
            raise ValueError(" ".join(errors))


@dataclass
class RunReport:
    job_start_time: datetime
    job_end_time: datetime | None
    selected_databases: list[str] = field(default_factory=list)
    outcomes: list[CommandOutcome] = field(default_factory=list)
    skipped: list[str] = field(default_factory=list)
    merge_stats: dict[str, int] = field(default_factory=dict)
    snapshots: list[str] = field(default_factory=list)

    @property
    def commands_run(self) -> list[str]:
        """The CommandsRun oracle (IC:486-494) — ordered command texts."""
        return [o.spec.command_text() for o in self.outcomes]


class IntegrityChecker:
    """Stages A–G of the VLDB script over parquet namespaces."""

    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        state_path: str | None = None,
        log_path: str | None = None,
        params: CheckParams | None = None,
        ag_tags: dict[str, str] | None = None,
        read_only_tags: set[str] | None = None,
    ):
        self.spark = spark
        self.base_dir = base_dir
        self.params = params or CheckParams()
        self.state = StateStore(spark, state_path)
        self.log = CommandLog(spark, log_path)
        # {database: availability_group} tags — the engine's
        # sys.availability_databases_cluster (SURVEY §2.1 #5).
        # Discovered from the catalog-root convention file, with
        # caller-supplied tags overriding per database.
        from ..sources.catalog import discover_ag_tags, discover_read_only

        self.ag_tags = {**discover_ag_tags(spark, base_dir), **(ag_tags or {})}
        # read-only database names — sys.databases.is_read_only
        # (DIC:1300); convention file plus caller additions
        self.read_only_tags = discover_read_only(spark, base_dir) | (
            read_only_tags or set()
        )

    # -- helpers --------------------------------------------------------
    def _deadline_ok(self, job_end: datetime | None) -> bool:
        return job_end is None or _utcnow() < job_end

    def run(self) -> RunReport:
        p = self.params
        p.validate()  # STAGE A/C (IC:131-207, 355-402)
        execute = p.execute == "Y"
        physical_only = p.physical_only == "Y"
        job_start = _utcnow()
        job_end = (
            job_start + timedelta(seconds=p.time_limit) if p.time_limit is not None else None
        )  # IC:71-72
        run_date = job_start.date()
        report = RunReport(job_start, job_end)

        # STAGE B — selection DSL over the database catalog (IC:213-349)
        candidates = list_databases(self.spark, self.base_dir)
        for c in candidates:
            c.availability_group = self.ag_tags.get(c.name)
            c.read_only = c.name in self.read_only_tags
        if p.availability_groups is not None:  # AG scope (DIC:480-587)
            from ..operators.selector import select_databases_by_availability_groups

            selected = select_databases_by_availability_groups(
                p.availability_groups, candidates
            )
        else:
            dsl = p.databases if p.databases is not None else "ALL_DATABASES"
            selected = select_databases(dsl, candidates)
        report.selected_databases = [c.name for c in selected]
        logger.info("Selected databases: %s", report.selected_databases)

        # @Updateability eligibility gate (DIC:1341-1346): selection is
        # unchanged (the reference still lists the DB) but a database
        # whose read-only state conflicts gets no inventory and no
        # checks this run
        if p.updateability != "ALL":
            want_ro = p.updateability == "READ_ONLY"
            gated = [c for c in selected if c.read_only == want_ro]
            for c in selected:
                if c.read_only != want_ro:
                    report.skipped.append(
                        f"{c.name}: Updateability "
                        f"{'READ_ONLY' if c.read_only else 'READ_WRITE'}"
                        f" excluded by @Updateability = '{p.updateability}'"
                    )
            selected = gated

        # STAGE D — inventory via per-DB catalog scan (IC:418-447)
        inventories: dict[str, list[ObjectMeta]] = {}
        for db in selected:
            objs = list_objects(self.spark, db.name, f"{self.base_dir}/{db.name}")
            inventories[db.name] = objs

        # STAGE E — MERGE into the resume ledger (IC:454-484)
        inv_rows = [
            (o.database_name, o.schema_name, o.object_name, o.object_type, o.total_bytes)
            for objs in inventories.values()
            for o in objs
        ]
        report.merge_stats = self.state.merge_inventory(inv_rows)
        self.state.save()

        # STAGE G ordering decided up-front (also keys the queue round):
        # oldest-first from the ledger (IC:583-587) unless an explicit
        # @DatabaseOrder strategy is set (DIC:992-1089)
        if p.database_order is not None:
            visit_order = self._strategy_order(selected, inventories)
        else:
            visit_order = [
                dbname
                for dbname, _min_date in self.state.db_order()
                if dbname in inventories
            ]
        queue = None
        if p.databases_in_parallel == "Y":
            from .queue import WorkQueue

            backend = None
            if p.queue_backend != "dir-cas":
                import importlib

                mod, _, fn = p.queue_backend.partition(":")
                backend = getattr(importlib.import_module(mod), fn)(
                    p.queue_root
                )
            queue = WorkQueue(
                p.queue_root, self._parameters_string(), visit_order,
                backend=backend,
            )

        # STAGE F — CHECKALLOC + CHECKCATALOG (+ CHECKFILEGROUP) per DB
        # (IC:505-577; DIC families gated by @CheckCommands).  With a
        # queue, this runs inside each worker's claimed visit instead
        # (every command family claim-gated, DIC:1341-1695) — otherwise
        # N workers would all repeat the alloc/catalog pass.
        families = p.families()
        db_types = {c.name: c.database_type for c in selected}
        if queue is None and (
            CHECKALLOC in families or CHECKCATALOG in families
            or CHECKFILEGROUP in families
        ):
            for db in selected:
                if not self._deadline_ok(job_end):
                    break
                if not self._namespace_readable(db.name):
                    self._record_suspect(db.name, report, execute)
                    inventories.pop(db.name, None)  # skip the table pass too
                    continue
                self._alloc_catalog_visit(
                    db.name, inventories, db_types, job_start, report, execute,
                    physical_only,
                )

        initial_run = False
        visit_iter = iter(visit_order)
        while CHECKTABLE in families or queue is not None:
            # deadline gate BEFORE claiming: an unclaimed DB stays
            # available to other workers / the next run (IC:592)
            if not self._deadline_ok(job_end):
                break
            # one DB per iteration: locally from the ordered list, or
            # claimed from the shared queue (one claim at a time so
            # workers load-balance and stale recovery can reassign)
            dbname = queue.claim_next() if queue is not None else next(visit_iter, None)
            if dbname is None:
                break
            if dbname not in inventories:
                if queue is not None:
                    queue.complete(dbname)  # vanished DB — close the row
                continue
            if not self._namespace_readable(dbname):
                # SUSPECT-state analogue (DIC:1699-1705): the namespace
                # vanished / became unreadable after inventory — one
                # distinct hard-error row, no per-kernel noise
                self._record_suspect(dbname, report, execute)
                if queue is not None:
                    queue.complete(dbname)
                continue
            if queue is not None:
                # claim-gated ALLOC+CATALOG for this worker's DB
                self._alloc_catalog_visit(
                    dbname, inventories, db_types, job_start, report, execute,
                    physical_only,
                )
            if CHECKTABLE not in families:
                self.state.save()
                if queue is not None:
                    queue.complete(dbname)
                continue
            if self.state.is_initial_run(dbname):  # IC:602-604
                initial_run = True
            # snapshot pinning for the table pass (IC:609-640)
            objs = inventories[dbname]
            check_db_name = dbname
            if p.snapshot_path is not None and db_types.get(dbname) != "S":
                objs = list_objects(self.spark, dbname, f"{self.base_dir}/{dbname}")
                check_db_name = f"{dbname}_CHKTABLE_snapshot_{tsql_ts_112(job_start)}"
                report.snapshots.append(check_db_name)
                logger.info("Snapshot created: [%s]", check_db_name)
            by_name = {o.object_name: o for o in objs}
            tables_cache: dict[str, object] = {}
            skipped_this_visit: set[tuple[str, str]] = set()
            if p.objects is not None:
                # @Objects DSL (DIC:645-692): non-matching objects are
                # out of scope for this run — excluded from the pick
                from ..operators.selector import match_objects, parse_dsl

                items = parse_dsl(p.objects, scope="object")
                triples = [(dbname, o.schema_name, o.object_name) for o in objs]
                allowed = set(match_objects(items, triples))
                skipped_this_visit |= {
                    (s, o) for d, s, o in triples if (d, s, o) not in allowed
                }
            order_by_smallest = False
            while self._deadline_ok(job_end):
                # halfway smallest-first switch (IC:647-649)
                if (
                    initial_run
                    and job_end is not None
                    and _utcnow() > job_start + (job_end - job_start) / 2
                ):
                    order_by_smallest = True
                row = self.state.pick_next(
                    dbname, run_date, order_by_smallest, skipped_this_visit
                )
                if row is None:
                    break
                obj = by_name.get(row.object_name)
                if obj is None:
                    # existence re-probe (DIC:1616-1621): object vanished
                    skipped_this_visit.add((row.schema, row.object_name))
                    continue
                # skip-if-won't-fit prediction (IC:677-680)
                now = _utcnow()
                if job_end is not None and now + timedelta(
                    milliseconds=row.avg_run_duration_ms
                ) > job_end + timedelta(minutes=1):
                    predicted = now + timedelta(milliseconds=row.avg_run_duration_ms)
                    msg = (
                        "Skipped due to TimeLimit Constraint: "
                        f"{tsql_ts_121(predicted)} is greater than "
                        f"{tsql_ts_121(job_end + timedelta(minutes=1))}"
                    )
                    self.state.record_skip(dbname, row.schema, row.object_name, msg)
                    report.skipped.append(f"{dbname}.{row.schema}.{row.object_name}")
                    skipped_this_visit.add((row.schema, row.object_name))
                    continue
                spec = CheckSpec(
                    CHECKTABLE,
                    dbname,
                    schema=row.schema,
                    object=row.object_name,
                    check_db_name=check_db_name,
                    physical_only=physical_only,
                    extended_logical_checks=p.extended_logical_checks == "Y",
                    maxdop=p.max_dop,
                    lock_timeout=p.lock_timeout,
                    snapshot_files=[f.path for f in obj.files],
                )
                outcome = run_command(
                    self.spark,
                    spec,
                    kernel=lambda obj=obj, dbname=dbname: self._checktable(
                        dbname, obj, by_name, tables_cache, physical_only,
                        p.extended_logical_checks == "Y",
                    ),
                    execute=execute,
                    log=self.log if p.log_to_table == "Y" else None,
                    lock_message_severity=p.lock_message_severity,
                )
                report.outcomes.append(outcome)
                if outcome.error_number == -1:
                    # infrastructure error — the reference's Mode-1
                    # EXECUTE would abort before the stats UPDATE
                    # (CE:197-202), so the object stays due and is
                    # retried next run; skip it for this visit to
                    # avoid re-picking it in a loop
                    skipped_this_visit.add((row.schema, row.object_name))
                    continue
                # per-object stats update (IC:696-722) — runs for dry-run
                # too (the reference updates state regardless of @Execute),
                # and for kernel-reported violations (the check DID run)
                self.state.record_run(
                    dbname,
                    row.schema,
                    row.object_name,
                    outcome.start_time,
                    outcome.end_time,
                    spec.command_text(),
                    run_date,
                )
            if check_db_name != dbname:
                logger.info("Snapshot dropped: [%s]", check_db_name)
            self.state.save()
            if queue is not None:
                queue.complete(dbname)  # DatabaseEndTime (DIC:1710-1714)

        self.state.save()
        self.log.flush()
        logger.info("Date and time: %s", _utcnow().strftime("%Y-%m-%d %H:%M:%S"))
        return report

    SUSPECT_ERROR = 926  # "Database cannot be opened. Marked SUSPECT."

    def _namespace_readable(self, dbname: str) -> bool:
        """Whether the DB's namespace still exists and lists — the
        engine's 'not in a SUSPECT state' probe (DIC:1697-1705)."""
        from ..sources.catalog import _fs_and_path

        try:
            fs, hpath = _fs_and_path(self.spark, f"{self.base_dir}/{dbname}")
            return bool(fs.exists(hpath)) and bool(fs.getFileStatus(hpath).isDirectory())
        except Exception:
            return False

    def _record_suspect(
        self, dbname: str, report: RunReport, execute: bool
    ) -> None:
        """DIC:1699-1705 — the database is unreadable at visit time:
        one distinct hard-error row (error 926, the SUSPECT-state
        analogue), issued BEFORE any kernel, no per-kernel noise."""
        spec = CheckSpec(CHECKDB, dbname)
        msg = (
            f"The database [{dbname}] is in a suspect state: the namespace "
            f"{self.base_dir}/{dbname} is unreadable. The integrity check "
            "could not be performed."
        )
        logger.error(msg)
        now = _utcnow()
        log_id = None
        if self.params.log_to_table == "Y":
            import json as _json

            log_id = self.log.append(
                {
                    "database_name": dbname,
                    "extended_info": _json.dumps({"suspect": True}),
                    "command": spec.command_text(),
                    "command_type": spec.command_type,
                    "start_time": now,
                    "end_time": now,
                    "error_number": self.SUSPECT_ERROR if execute else None,
                    "error_message": msg,
                }
            )
        report.outcomes.append(
            CommandOutcome(
                spec, None, now, now, self.SUSPECT_ERROR, msg, execute, log_id
            )
        )

    def _alloc_catalog_visit(
        self,
        dbname: str,
        inventories: dict[str, list[ObjectMeta]],
        db_types: dict[str, str],
        job_start: datetime,
        report: RunReport,
        execute: bool,
        physical_only: bool,
    ) -> None:
        """One DB's CHECKALLOC + CHECKCATALOG (+ CHECKFILEGROUP) pass
        (IC:505-577; DIC:1372-1528), each family gated by
        @CheckCommands, with snapshot pinning (IC:519-532): re-list NOW
        and use that listing for every kernel; skipped for system DBs
        or when snapshot_path is disabled — then kernels read live
        paths."""
        p = self.params
        families = p.families()
        objs = inventories[dbname]
        check_db_name = dbname
        if p.snapshot_path is not None and db_types.get(dbname) != "S":
            objs = list_objects(self.spark, dbname, f"{self.base_dir}/{dbname}")
            check_db_name = f"{dbname}_CHKALOCCAT_snapshot_{tsql_ts_112(job_start)}"
            report.snapshots.append(check_db_name)
            logger.info("Snapshot created: [%s]", check_db_name)
        if CHECKALLOC in families:
            spec = CheckSpec(
                CHECKALLOC,
                dbname,
                check_db_name=check_db_name,
                physical_only=physical_only,
                maxdop=p.max_dop,
                    lock_timeout=p.lock_timeout,
                snapshot_files=[f.path for o in objs for f in o.files],
            )
            report.outcomes.append(
                run_command(
                    self.spark,
                    spec,
                    kernel=lambda objs=objs: self._alloc_all(dbname, objs, physical_only),
                    execute=execute,
                    log=self.log if p.log_to_table == "Y" else None,
                    lock_message_severity=p.lock_message_severity,
                )
            )
        if CHECKCATALOG in families:
            spec = CheckSpec(CHECKCATALOG, dbname, check_db_name=check_db_name)
            report.outcomes.append(
                run_command(
                    self.spark,
                    spec,
                    kernel=lambda objs=objs: run_checkcatalog(self.spark, objs),
                    execute=execute,
                    log=self.log if p.log_to_table == "Y" else None,
                )
            )
        if CHECKFILEGROUP in families:
            self._filegroup_pass(
                dbname, objs, check_db_name, report, execute, physical_only
            )
        if check_db_name != dbname:
            logger.info("Snapshot dropped: [%s]", check_db_name)

    def _filegroup_pass(
        self,
        dbname: str,
        objs: list[ObjectMeta],
        check_db_name: str,
        report: RunReport,
        execute: bool,
        physical_only: bool,
    ) -> None:
        """CHECKFILEGROUP per (table, filegroup) honoring the
        @FileGroups DSL (DIC:1372-1510): discover filegroups from the
        pinned listing, include/exclude, existence already re-probed by
        the fresh listing, one command per filegroup."""
        from ..operators.kernels import run_checkfilegroup
        from ..operators.selector import match_filegroups, parse_dsl
        from ..sources.catalog import list_filegroups

        p = self.params
        items = (
            parse_dsl(p.filegroups, scope="filegroup")
            if p.filegroups is not None
            else None
        )
        for o in objs:
            fgs = list_filegroups(self.spark, o)
            if items is not None:
                allowed = set(
                    match_filegroups(items, [(dbname, name) for name, _ in fgs])
                )
                fgs = [(name, fs) for name, fs in fgs if (dbname, name) in allowed]
            for name, files in fgs:
                spec = CheckSpec(
                    CHECKFILEGROUP,
                    dbname,
                    filegroup=f"{o.object_name}:{name}",
                    check_db_name=check_db_name,
                    physical_only=physical_only,
                    maxdop=p.max_dop,
                    lock_timeout=p.lock_timeout,
                    snapshot_files=[f.path for f in files],
                )
                report.outcomes.append(
                    run_command(
                        self.spark,
                        spec,
                        kernel=lambda o=o, name=name, files=files: run_checkfilegroup(
                            self.spark, o, name, files, dbname, physical_only
                        ),
                        execute=execute,
                        log=self.log if p.log_to_table == "Y" else None,
                        lock_message_severity=p.lock_message_severity,
                    )
                )

    # -- ordering / queue helpers ---------------------------------------
    def _parameters_string(self) -> str:
        """The run's parameter identity (DIC:215-233 @Parameters) —
        keys the shared queue so workers with the same invocation
        cooperate and different invocations don't."""
        p = self.params
        return (
            f"@Databases = {p.databases or 'ALL_DATABASES'}, "
            f"@AvailabilityGroups = {p.availability_groups or 'NULL'}, "
            f"@PhysicalOnly = '{p.physical_only}', "
            f"@Updateability = '{p.updateability}', "
            f"@ExtendedLogicalChecks = '{p.extended_logical_checks}', "
            f"@DatabaseOrder = {p.database_order or 'NULL'}, "
            f"@BaseDir = {self.base_dir}"
        )

    def _strategy_order(self, selected, inventories) -> list[str]:
        """@DatabaseOrder strategy over the selected DBs (DIC:961-1089):
        sizes from the inventory, last-good-check from the command log,
        replica tag from the candidate."""
        from .ordering import DatabaseOrderRow, order_databases
        from .runner import last_good_check_df

        lgc: dict[str, object] = {}
        if self.params.log_to_table == "Y" and self.log.path:
            for r in last_good_check_df(self.log.df()).collect():
                lgc[r["database_name"]] = r["last_good_check"]
        rows = [
            DatabaseOrderRow(
                name=c.name,
                start_position=c.start_position or 1,
                size_bytes=sum(o.total_bytes for o in inventories.get(c.name, [])),
                last_good_check=lgc.get(c.name),
                replica_group=c.availability_group,
            )
            for c in selected
            if c.name in inventories
        ]
        return [r.name for r in order_databases(rows, self.params.database_order)]

    # -- kernels --------------------------------------------------------
    def _alloc_all(self, dbname: str, objs: list[ObjectMeta], physical_only: bool):
        """CHECKALLOC for the whole DB = per-object file checks folded
        into one result (a DB here is a directory of tables)."""
        from ..operators.kernels import KernelResult

        metrics: dict[str, object] = {}
        errors: list[str] = []
        for o in objs:
            r = run_checkalloc(self.spark, o, full=False)
            metrics[f"{o.object_name}_files"] = r.metrics.get("n_files")
            metrics[f"{o.object_name}_footer_rows"] = r.metrics.get("footer_rows")
            errors.extend(f"{o.object_name}: {e}" for e in r.errors)
        return KernelResult("CHECKALLOC", dbname, None, not errors, metrics, errors)

    def _checktable(
        self,
        dbname: str,
        obj: ObjectMeta,
        by_name: dict[str, ObjectMeta],
        tables_cache: dict[str, object],
        physical_only: bool,
        extended: bool,
    ):
        def table(o: ObjectMeta):
            if o.object_name not in tables_cache:
                tables_cache[o.object_name] = load_table(
                    self.spark, *[f.path for f in o.files]
                )
            return tables_cache[o.object_name]

        exp = expectations_for(obj.object_name)
        parents = None
        if extended and exp.foreign_keys and not physical_only and all(
            fk.parent_table in by_name for fk in exp.foreign_keys
        ):
            parents = {
                fk.parent_table: table(by_name[fk.parent_table]) for fk in exp.foreign_keys
            }
        sizes = {name: o.total_bytes for name, o in by_name.items()}
        if physical_only or not self.params.incremental_state_dir:
            # CHECKTABLE and its FK probes: one plan, one collect
            return run_checktable(
                self.spark, table(obj), dbname, obj.object_name, exp,
                physical_only, parents=parents, sizes=sizes,
            )
        from ..operators.kernels import run_checktable_incremental

        result = run_checktable_incremental(
            self.spark, obj, f"{self.params.incremental_state_dir}/{dbname}", exp,
        )
        result.database = dbname
        if parents is not None:
            ext = run_extended_logical(
                self.spark, {**parents, obj.object_name: table(obj)},
                dbname, obj.object_name, exp, sizes,
            )
            result.metrics.update(ext.metrics)
            if not ext.passed:
                result.passed = False
                result.errors.extend(ext.errors)
        return result
