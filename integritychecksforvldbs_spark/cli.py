"""CLI entry point — the scheduled-job harness analogue (SURVEY §2.12 #71).

The reference installs SQL Agent jobs running the proc with an output
file (MaintenanceSolution.sql:7970-8135); ours is a plain command line
suitable for cron/Airflow::

    python -m integritychecksforvldbs_spark.cli \
        --base-dir /root/testdata --databases USER_DATABASES \
        --time-limit 3600 --state state.parquet --log commandlog.parquet
"""

from __future__ import annotations

import argparse
import json
import logging
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="PySpark integrity-check engine")
    ap.add_argument("--base-dir", required=True, help="directory of database dirs")
    ap.add_argument("--databases", default=None, help="selection DSL (default ALL_DATABASES)")
    ap.add_argument("--physical-only", choices=["Y", "N"], default="N")
    ap.add_argument("--extended-logical-checks", choices=["Y", "N"], default="N")
    ap.add_argument("--max-dop", type=int, default=None)
    ap.add_argument(
        "--lock-timeout", type=int, default=None,
        help="per-check timeout seconds; past it the check's Spark jobs are cancelled",
    )
    ap.add_argument("--time-limit", type=int, default=None, help="seconds")
    ap.add_argument("--no-snapshot", action="store_true")
    ap.add_argument("--log-to-table", choices=["Y", "N"], default="Y")
    ap.add_argument("--execute", choices=["Y", "N"], default="Y")
    ap.add_argument("--state", default=None, help="state parquet path")
    ap.add_argument("--log", default=None, help="command log parquet path")
    ap.add_argument(
        "--database-order",
        default=None,
        help="DATABASE_{NAME,SIZE,LAST_GOOD_CHECK}_{ASC,DESC} | "
        "REPLICA_LAST_GOOD_CHECK_{ASC,DESC} (default: oldest-first resume order)",
    )
    ap.add_argument(
        "--databases-in-parallel", choices=["Y", "N"], default="N",
        help="claim databases from a shared work queue (multi-worker runs)",
    )
    ap.add_argument(
        "--queue-root", default=None,
        help="shared queue directory for the default dir-cas backend; "
        "claims use mkdir-as-CAS, so this must be a POSIX-atomic-mkdir "
        "filesystem (local disk, NFS) — NOT an object store",
    )
    ap.add_argument(
        "--queue-backend", default="dir-cas",
        help="claim-store backend: 'dir-cas' (default; POSIX/NFS "
        "mkdir CAS rooted at --queue-root) or 'module:callable', a "
        "factory invoked with the queue root that returns a "
        "plans.queue.ClaimBackend — the seam for object stores / ACID "
        "tables (bind S3 If-Match / GCS generation / Delta MERGE to "
        "the five-method contract ConditionalStoreBackend "
        "reference-implements)",
    )
    ap.add_argument(
        "--check-commands", default="CHECKDB",
        help="comma list of CHECKDB|CHECKALLOC|CHECKCATALOG|CHECKTABLE|"
        "CHECKFILEGROUP (CHECKDB = the composed default)",
    )
    ap.add_argument("--objects", default=None, help="Db.Schema.Object selection DSL")
    ap.add_argument("--filegroups", default=None, help="Db.Filegroup selection DSL")
    ap.add_argument(
        "--availability-groups", default=None,
        help="AG selection DSL (mutually exclusive with --databases); "
        "members resolve via --ag-tags",
    )
    ap.add_argument(
        "--ag-tags", default=None,
        help='JSON {"database": "ag_name", ...} or @file.json with the same',
    )
    ap.add_argument(
        "--lock-message-severity", type=int, choices=[10, 16], default=16,
        help="16: lock timeouts fail the run; 10: logged as warnings",
    )
    ap.add_argument(
        "--incremental-state-dir", default=None,
        help="persist per-file CHECKTABLE partials in this driver-local "
        "directory and scan only files new since the last visit "
        "(append-mostly cost model)",
    )
    args = ap.parse_args(argv)

    logging.basicConfig(level=logging.INFO, format="%(message)s")
    from .plans.scheduler import CheckParams, IntegrityChecker
    from .session import get_spark

    spark = get_spark(app_name="integrity-check")
    params = CheckParams(
        databases=args.databases,
        physical_only=args.physical_only,
        extended_logical_checks=args.extended_logical_checks,
        max_dop=args.max_dop,
        lock_timeout=args.lock_timeout,
        time_limit=args.time_limit,
        snapshot_path=None if args.no_snapshot else "DEFAULT",
        log_to_table=args.log_to_table,
        execute=args.execute,
        database_order=args.database_order,
        databases_in_parallel=args.databases_in_parallel,
        queue_root=args.queue_root,
        queue_backend=args.queue_backend,
        check_commands=args.check_commands,
        objects=args.objects,
        filegroups=args.filegroups,
        availability_groups=args.availability_groups,
        lock_message_severity=args.lock_message_severity,
        incremental_state_dir=args.incremental_state_dir,
    )
    ag_tags = None
    if args.ag_tags:
        raw = args.ag_tags
        if raw.startswith("@"):
            with open(raw[1:]) as f:
                raw = f.read()
        ag_tags = json.loads(raw)
    checker = IntegrityChecker(
        spark, args.base_dir, args.state, args.log, params, ag_tags=ag_tags
    )
    report = checker.run()
    # severity-10 lock timeouts are recorded but do not fail the job
    failed = [o for o in report.outcomes if o.is_error]
    print(
        json.dumps(
            {
                "selected_databases": report.selected_databases,
                "commands": len(report.outcomes),
                "failed": len(failed),
                "skipped": len(report.skipped),
                "merge": report.merge_stats,
            }
        )
    )
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
