"""End-to-end scheduler scenarios (SURVEY §5.2 tests 1, 4, 5)."""

import uuid
from datetime import date, datetime, timedelta

import pytest

from integritychecksforvldbs_spark.operators.kernels import run_checkalloc
from integritychecksforvldbs_spark.plans.runner import (
    COMMAND_LOG_SCHEMA,
    CommandLog,
    last_good_check_df,
)
from integritychecksforvldbs_spark.plans.scheduler import CheckParams, IntegrityChecker
from integritychecksforvldbs_spark.plans.state import StateStore
from integritychecksforvldbs_spark.sources.catalog import list_objects

BASE = "/root/testdata"
N_TABLES = 10


def make(spark, tmp_path, **kw):
    params = CheckParams(databases="sf0.001", **kw)
    return IntegrityChecker(
        spark, BASE, str(tmp_path / "state.parquet"), str(tmp_path / "log.parquet"), params
    )


def test_full_run_smoke(spark, tmp_path):
    """t1-style smoke: one run produces one log row per command,
    start<=end, and state invariants hold (CL:7-28 shape)."""
    checker = make(spark, tmp_path)
    report = checker.run()
    assert report.selected_databases == ["sf0.001"]
    assert report.merge_stats["inserted"] == N_TABLES
    # 1 CHECKALLOC + 1 CHECKCATALOG + N CHECKTABLE
    assert len(report.outcomes) == 2 + N_TABLES
    kinds = [o.spec.kind for o in report.outcomes]
    assert kinds[:2] == ["CHECKALLOC", "CHECKCATALOG"]
    assert kinds[2:] == ["CHECKTABLE"] * N_TABLES
    # log rows: one per command, well-formed
    log = checker.log.df().orderBy("id").collect()
    assert len(log) == len(report.outcomes)
    for r in log:
        assert r["start_time"] <= r["end_time"]
        assert r["command"] and r["command_type"]
    # state invariants
    st = StateStore(spark, str(tmp_path / "state.parquet"))
    assert len(st.rows) == N_TABLES
    for row in st.rows.values():
        assert row.active and row.number_of_executions == 1
        assert row.last_check_date == report.job_start_time.date()


def test_same_day_idempotency_resume(spark, tmp_path):
    """Second run on the same day re-checks nothing (IC:665)."""
    make(spark, tmp_path).run()
    report2 = make(spark, tmp_path).run()
    assert [o.spec.kind for o in report2.outcomes] == ["CHECKALLOC", "CHECKCATALOG"]


def test_resume_after_interrupt(spark, tmp_path):
    """Kill mid-run → next run starts from the stalest unchecked
    objects (RM:2 behavior)."""
    checker = make(spark, tmp_path)
    # sabotage: stop after 3 checktables by expiring the budget
    orig = checker._checktable
    count = {"n": 0}

    def limited(*a, **k):
        count["n"] += 1
        if count["n"] > 3:
            checker.params.time_limit = 0  # force deadline past
            raise RuntimeError("interrupted")
        return orig(*a, **k)

    checker._checktable = limited
    report1 = checker.run()
    done1 = {
        o.spec.object for o in report1.outcomes
        if o.spec.kind == "CHECKTABLE" and o.error_number in (0, 8900)
    }
    assert 0 < len(done1) < N_TABLES
    # fresh run same day: only not-yet-checked objects run
    report2 = make(spark, tmp_path).run()
    done2 = {o.spec.object for o in report2.outcomes if o.spec.kind == "CHECKTABLE"}
    assert done1.isdisjoint(done2)
    assert len(done1 | done2) == N_TABLES


def test_dry_run_generates_commands_only(spark, tmp_path):
    """@Execute='N' prints/logs commands without running (CE:197,204)."""
    checker = make(spark, tmp_path, execute="N")
    report = checker.run()
    assert len(report.commands_run) == 2 + N_TABLES
    assert all(o.result is None for o in report.outcomes)
    log = checker.log.df().collect()
    assert all(r["error_number"] is None for r in log)  # Not Executed
    # golden: the exact IC command shapes
    snap = f"sf0.001_CHKTABLE_snapshot_{report.job_start_time.strftime('%Y%m%d')}"
    assert (
        f"USE [{snap}]; DBCC CHECKTABLE ('[main].[customer]') "
        "WITH NO_INFOMSGS, ALL_ERRORMSGS, DATA_PURITY" in report.commands_run
    )


def test_time_limit_zero_runs_nothing(spark, tmp_path):
    report = make(spark, tmp_path, time_limit=0).run()
    assert report.outcomes == []


def test_skip_if_wont_fit(spark, tmp_path):
    """Objects whose predicted duration exceeds the deadline get the
    style-121 skip record and are not run (IC:677-680)."""
    checker = make(spark, tmp_path, time_limit=3600)
    checker.state.merge_inventory(
        [("sf0.001", "main", t, "U", 1) for t in ("region", "nation")]
    )
    # a huge rolling average → prediction overshoots deadline + 1 min
    checker.state.rows[("sf0.001", "main", "region")].avg_run_duration_ms = 10**10
    report = checker.run()
    assert "sf0.001.main.region" in report.skipped
    row = checker.state.rows[("sf0.001", "main", "region")]
    assert row.command.startswith("Skipped due to TimeLimit Constraint: ")
    assert " is greater than " in row.command
    # style 121: yyyy-mm-dd hh:mi:ss.mmm
    import re

    assert re.search(r"\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}\.\d{3} is greater than", row.command)
    assert row.number_of_executions == 0  # never ran
    # other objects still ran
    ran = {o.spec.object for o in report.outcomes if o.spec.kind == "CHECKTABLE"}
    assert "nation" in ran and "region" not in ran


def test_physical_only_mode(spark, tmp_path):
    report = make(spark, tmp_path, physical_only="Y").run()
    ct = [o for o in report.outcomes if o.spec.kind == "CHECKTABLE"]
    assert all("PHYSICAL_ONLY" in o.spec.command_text() for o in ct)
    # lineitem's dup-PK is a logical check — physical-only must pass it
    li = next(o for o in ct if o.spec.object == "lineitem")
    assert li.error_number == 0


def test_param_validation_messages(spark, tmp_path):
    for kw, msg in [
        (dict(physical_only="X"), "@PhysicalOnly"),
        (dict(max_dop=65), "@MaxDOP"),
        (dict(time_limit=-1), "@TimeLimit"),
        (dict(log_to_table="?"), "@LogToTable"),
        (dict(execute="maybe"), "@Execute"),
    ]:
        with pytest.raises(ValueError, match=f"The value for the parameter {msg} is not supported."):
            make(spark, tmp_path, **kw).run()


def test_no_snapshot_mode(spark, tmp_path):
    report = make(spark, tmp_path, snapshot_path=None).run()
    assert report.snapshots == []
    assert "DBCC CHECKALLOC([sf0.001]) WITH NO_INFOMSGS, ALL_ERRORMSGS" in report.commands_run


def test_selection_excludes(spark, tmp_path):
    params = CheckParams(databases="ALL_DATABASES, -sf0.01, -sf0.1")
    checker = IntegrityChecker(spark, BASE, None, None, params)
    report = checker.run()
    assert report.selected_databases == ["sf0.001"]


def test_database_order_strategy(spark, tmp_path):
    """@DatabaseOrder drives the stage-G visit order (DIC:992-1089)."""
    params = CheckParams(
        databases="sf0.001, sf0.01", database_order="DATABASE_SIZE_DESC"
    )
    checker = IntegrityChecker(
        spark, BASE, str(tmp_path / "s.parquet"), str(tmp_path / "l.parquet"), params
    )
    report = checker.run()
    # CHECKTABLE command order: all of the bigger DB (sf0.01) first
    tables = [o.spec.database for o in report.outcomes if o.spec.kind == "CHECKTABLE"]
    assert tables[:N_TABLES] == ["sf0.01"] * N_TABLES
    assert tables[N_TABLES:] == ["sf0.001"] * N_TABLES


def test_database_order_validation(spark, tmp_path):
    with pytest.raises(ValueError, match="@DatabaseOrder is not supported"):
        make(spark, tmp_path, database_order="BOGUS").run()


def test_databases_in_parallel_requires_queue_root(spark, tmp_path):
    with pytest.raises(ValueError, match="@DatabasesInParallel"):
        make(spark, tmp_path, databases_in_parallel="Y").run()


def test_databases_in_parallel_sequential_runs_restart_round(spark, tmp_path):
    """DIC:1127-1152 — a SECOND run with the same @Parameters after the
    first one completed the round starts a NEW queue round and checks
    the fleet again (day-2 cron).  Mid-round joiners still split one
    round (claim protocol, DIC:1196-1228) — pinned at the WorkQueue
    level by test_queue_round_restart_concurrent_workers_share_round."""
    qroot = str(tmp_path / "queue")
    mk = lambda sub: IntegrityChecker(
        spark,
        BASE,
        str(tmp_path / f"{sub}_state.parquet"),
        str(tmp_path / f"{sub}_log.parquet"),
        CheckParams(
            databases="sf0.001",
            databases_in_parallel="Y",
            queue_root=qroot,
        ),
    )
    r1 = mk("w1").run()
    r2 = mk("w2").run()
    t1 = [o for o in r1.outcomes if o.spec.kind == "CHECKTABLE"]
    t2 = [o for o in r2.outcomes if o.spec.kind == "CHECKTABLE"]
    assert len(t1) == N_TABLES  # worker 1 claimed and processed the DB
    assert len(t2) == N_TABLES  # new round: the fleet is re-checked


_STORE = None  # shared claim store for the factory below

# the scheduler resolves the factory via importlib as
# "tests.test_scheduler", which (pytest imports this file as a
# top-level module) can be a SECOND module instance with its own
# _STORE global — all reads/resets must consider both instances
_MODULE_ALIASES = ("tests.test_scheduler", "test_scheduler", __name__)


def _store_instances():
    import sys

    seen = []
    for name in _MODULE_ALIASES:
        m = sys.modules.get(name)
        if m is not None and m not in seen:
            seen.append(m)
    return seen


def _conditional_store_factory(_root):
    """ClaimBackend factory the scheduler resolves from its
    ``queue_backend='module:callable'`` setting — returns ONE shared
    store so sequential runs coordinate like real workers would
    against a real object store."""
    from integritychecksforvldbs_spark.plans.queue import (
        ConditionalStoreBackend,
    )

    global _STORE
    if _STORE is None:
        _STORE = ConditionalStoreBackend()
    return _STORE


def test_databases_in_parallel_conditional_backend(spark, tmp_path):
    """The ClaimBackend seam end-to-end: same two-run round-restart
    scenario, claims coordinated through the conditional-write store
    instead of mkdir-CAS (no --queue-root needed)."""
    for m in _store_instances():
        m._STORE = None  # fresh store for this test, every instance
    mk = lambda sub: IntegrityChecker(
        spark,
        BASE,
        str(tmp_path / f"{sub}_state.parquet"),
        str(tmp_path / f"{sub}_log.parquet"),
        CheckParams(
            databases="sf0.001",
            databases_in_parallel="Y",
            queue_backend="tests.test_scheduler:_conditional_store_factory",
        ),
    )
    r1 = mk("w1").run()
    r2 = mk("w2").run()
    t1 = [o for o in r1.outcomes if o.spec.kind == "CHECKTABLE"]
    t2 = [o for o in r2.outcomes if o.spec.kind == "CHECKTABLE"]
    assert len(t1) == N_TABLES
    assert len(t2) == N_TABLES  # round restarted through the store
    stores = [
        m._STORE for m in _store_instances() if m._STORE is not None
    ]
    assert stores and stores[0].list("")  # claims went through the store


def test_queue_backend_validation(spark, tmp_path):
    with pytest.raises(ValueError, match="queue_backend"):
        make(
            spark, tmp_path, databases_in_parallel="Y", queue_backend="bogus"
        ).run()


def test_check_commands_families(spark, tmp_path):
    """@CheckCommands gates command families (DIC:698-724)."""
    r = make(spark, tmp_path, check_commands="CHECKALLOC,CHECKCATALOG").run()
    kinds = {o.spec.kind for o in r.outcomes}
    assert kinds == {"CHECKALLOC", "CHECKCATALOG"}
    r2 = make(spark, tmp_path / "t2" if False else tmp_path, check_commands="CHECKTABLE").run()
    # state from the first run persists; fresh objects still due
    assert {o.spec.kind for o in r2.outcomes} == {"CHECKTABLE"}


def test_check_commands_mutual_exclusion(spark, tmp_path):
    with pytest.raises(ValueError, match="@CheckCommands"):
        make(spark, tmp_path, check_commands="CHECKDB,CHECKTABLE").run()
    with pytest.raises(ValueError, match="@CheckCommands"):
        make(spark, tmp_path, check_commands="CHECKFILEGROUP,CHECKALLOC").run()


def test_objects_dsl_limits_checktable(spark, tmp_path):
    r = make(
        spark, tmp_path, check_commands="CHECKTABLE",
        objects="[sf0.001].main.lineitem, [sf0.001].main.orders",
    ).run()
    objs = {o.spec.object for o in r.outcomes}
    assert objs == {"lineitem", "orders"}


def test_objects_dsl_exclusion(spark, tmp_path):
    r = make(
        spark, tmp_path, check_commands="CHECKTABLE",
        objects="ALL_OBJECTS, -[sf0.001].main.lineitem",
    ).run()
    objs = {o.spec.object for o in r.outcomes}
    assert "lineitem" not in objs
    assert len(objs) == N_TABLES - 1


def test_checkfilegroup_family(spark, tmp_path):
    r = make(spark, tmp_path, check_commands="CHECKFILEGROUP").run()
    kinds = {o.spec.kind for o in r.outcomes}
    assert kinds == {"CHECKFILEGROUP"}
    # flat fixture tables -> one PRIMARY filegroup per table
    fgs = sorted(o.spec.filegroup for o in r.outcomes)
    assert len(fgs) == N_TABLES
    assert all(fg.endswith(":PRIMARY") for fg in fgs)
    # command text takes the DIC CHECKFILEGROUP shape
    assert any(
        "DBCC CHECKFILEGROUP" in o.spec.command_text() for o in r.outcomes
    )


def test_filegroups_dsl(spark, tmp_path):
    r = make(
        spark, tmp_path, check_commands="CHECKFILEGROUP",
        filegroups="ALL_FILEGROUPS, -[sf0.001].PRIMARY",
    ).run()
    # the exclusion removes every PRIMARY group of this db -> nothing runs
    assert [o for o in r.outcomes if o.spec.kind == "CHECKFILEGROUP"] == []


def test_lock_timeout_cancels_slow_check(spark, tmp_path):
    """A check exceeding @LockTimeout is cancelled (its Spark jobs
    killed via the job group) and logged with error 1222 (CE:216-220
    analogue); the run continues."""
    import time as _time

    from integritychecksforvldbs_spark.plans.runner import (
        LOCK_TIMEOUT_ERROR,
        run_command,
    )
    from integritychecksforvldbs_spark.plans.specs import CHECKTABLE, CheckSpec

    def slow_kernel():
        # guaranteed-slow Spark job: every task sleeps 60s (codegen
        # can't optimize it away, unlike a cartesian count which a
        # warm JVM finishes in <2s)
        import time as _t

        spark.sparkContext.parallelize(range(8), 8).map(
            lambda x: _t.sleep(60)
        ).count()
        raise AssertionError("should have been cancelled")

    spec = CheckSpec(CHECKTABLE, "db", schema="main", object="t", lock_timeout=2)
    t0 = _time.monotonic()
    outcome = run_command(spark, spec, kernel=slow_kernel)
    elapsed = _time.monotonic() - t0
    assert outcome.error_number == LOCK_TIMEOUT_ERROR
    assert "Lock request time out" in outcome.error_message
    assert elapsed < 40, f"cancellation took {elapsed:.0f}s"
    assert spec.command_text().startswith("SET LOCK_TIMEOUT 2000; ")


def test_lock_message_severity_10_downgrades_to_warning(spark, tmp_path):
    """@LockMessageSeverity = 10 (CE:213-220): the 1222 is RECORDED
    (error_number in the outcome/log) but the outcome is not an error
    and the run continues."""
    from integritychecksforvldbs_spark.plans.runner import (
        LOCK_TIMEOUT_ERROR,
        run_command,
    )
    from integritychecksforvldbs_spark.plans.specs import CHECKTABLE, CheckSpec

    def slow_kernel():
        import time as _t

        spark.sparkContext.parallelize(range(8), 8).map(
            lambda x: _t.sleep(60)
        ).count()
        raise AssertionError("should have been cancelled")

    spec = CheckSpec(CHECKTABLE, "db", schema="main", object="t", lock_timeout=2)
    outcome = run_command(
        spark, spec, kernel=slow_kernel, lock_message_severity=10
    )
    assert outcome.error_number == LOCK_TIMEOUT_ERROR  # still recorded
    assert outcome.severity == 10
    assert not outcome.is_error  # ...but not a failure

    # severity 16 (default) keeps it an error
    outcome16 = run_command(spark, spec, kernel=slow_kernel)
    assert outcome16.error_number == LOCK_TIMEOUT_ERROR
    assert outcome16.is_error


def test_lock_message_severity_validation(spark, tmp_path):
    with pytest.raises(ValueError, match="@LockMessageSeverity"):
        make(spark, tmp_path, lock_message_severity=11).run()


def test_suspect_state_vanished_database(spark, tmp_path):
    """DIC:1699-1705 analogue — a DB whose namespace vanishes after
    inventory gets ONE distinct hard-error row (926), no per-kernel
    noise, and the run continues."""
    import shutil

    base = tmp_path / "base"
    for db in ("db1", "db2"):
        (base / db).mkdir(parents=True)
        for t in ("region", "nation"):
            shutil.copy(f"{BASE}/sf0.001/{t}.parquet", base / db / f"{t}.parquet")

    params = CheckParams(databases="ALL_DATABASES", snapshot_path=None)
    checker = IntegrityChecker(
        spark, str(base), str(tmp_path / "s.parquet"), str(tmp_path / "l.parquet"),
        params,
    )
    # vanish db1 between inventory and the check loops
    orig_merge = checker.state.merge_inventory

    def sabotage(rows):
        out = orig_merge(rows)
        shutil.rmtree(base / "db1")
        return out

    checker.state.merge_inventory = sabotage
    report = checker.run()

    suspect = [o for o in report.outcomes if o.error_number == 926]
    assert len(suspect) == 1
    assert suspect[0].spec.database == "db1"
    assert suspect[0].is_error
    assert "suspect state" in suspect[0].error_message
    # db1 produced NO kernel rows; db2 ran normally (2 + 2 tables)
    db1_kernels = [
        o for o in report.outcomes
        if o.spec.database == "db1" and o.error_number != 926
    ]
    assert db1_kernels == []
    db2 = [o for o in report.outcomes if o.spec.database == "db2"]
    assert [o.spec.kind for o in db2] == [
        "CHECKALLOC", "CHECKCATALOG", "CHECKTABLE", "CHECKTABLE"
    ]
    # the log carries the distinct row
    log = checker.log.df().filter("error_number = 926").collect()
    assert len(log) == 1 and log[0]["database_name"] == "db1"
    assert log[0]["command_type"] == "DBCC_CHECKDB"


def test_availability_groups_scope(spark, tmp_path):
    """@AvailabilityGroups selects member DBs via the tag-column model
    (DIC:480-587): only tagged members of selected AGs are visited."""
    import shutil

    base = tmp_path / "base"
    for db in ("ag_db1", "ag_db2", "plain_db"):
        (base / db).mkdir(parents=True)
        shutil.copy(f"{BASE}/sf0.001/region.parquet", base / db / "region.parquet")

    params = CheckParams(availability_groups="AG1", snapshot_path=None)
    checker = IntegrityChecker(
        spark, str(base), str(tmp_path / "s.parquet"), str(tmp_path / "l.parquet"),
        params, ag_tags={"ag_db1": "AG1", "ag_db2": "AG2"},
    )
    report = checker.run()
    assert report.selected_databases == ["ag_db1"]
    assert {o.spec.database for o in report.outcomes} == {"ag_db1"}


def test_commands_run_golden(spark, tmp_path):
    """The reference's own oracle (CommandsRun, IC:486-494): a dry run
    over sf0.001 with snapshots disabled produces this exact ordered
    command list."""
    params = CheckParams(
        databases="sf0.001", execute="N", snapshot_path=None
    )
    checker = IntegrityChecker(
        spark, BASE, str(tmp_path / "s.parquet"), str(tmp_path / "l.parquet"), params
    )
    report = checker.run()
    tables = [
        "customer", "documents", "embeddings", "events", "lineitem",
        "nation", "orders", "part", "region", "supplier",
    ]
    expected = [
        "DBCC CHECKALLOC([sf0.001]) WITH NO_INFOMSGS, ALL_ERRORMSGS",
        "DBCC CHECKCATALOG([sf0.001]) WITH NO_INFOMSGS",
    ] + [
        f"USE [sf0.001]; DBCC CHECKTABLE ('[main].[{t}]') "
        "WITH NO_INFOMSGS, ALL_ERRORMSGS, DATA_PURITY"
        for t in tables
    ]
    assert report.commands_run == expected


def test_ag_tags_discovered_from_catalog_file(spark, tmp_path):
    """AG membership auto-discovers from _availability_groups.json at
    the catalog root (the sys.availability_databases_cluster analogue);
    explicit ag_tags override discovered entries per database."""
    import json
    import shutil

    base = tmp_path / "base"
    for db in ("ag_db1", "ag_db2", "plain_db"):
        (base / db).mkdir(parents=True)
        shutil.copy(f"{BASE}/sf0.001/region.parquet", base / db / "region.parquet")
    (base / "_availability_groups.json").write_text(
        json.dumps({"ag_db1": "AG1", "ag_db2": "AG2"})
    )

    params = CheckParams(availability_groups="AG1", snapshot_path=None)
    checker = IntegrityChecker(
        spark, str(base), str(tmp_path / "s.parquet"), str(tmp_path / "l.parquet"), params
    )
    assert checker.ag_tags == {"ag_db1": "AG1", "ag_db2": "AG2"}
    report = checker.run()
    assert report.selected_databases == ["ag_db1"]
    # the marker file is not a database
    assert "_availability_groups.json" not in report.selected_databases

    # explicit tags win over the discovered file
    checker2 = IntegrityChecker(
        spark, str(base), str(tmp_path / "s2.parquet"), str(tmp_path / "l2.parquet"),
        CheckParams(availability_groups="AG1", snapshot_path=None),
        ag_tags={"ag_db1": "AG9"},
    )
    assert checker2.ag_tags["ag_db1"] == "AG9"
    assert checker2.run().selected_databases == []


def test_updateability_gate(spark, tmp_path):
    """@Updateability (DIC:23, gate DIC:1341-1346): READ_WRITE skips
    read-only databases, READ_ONLY checks only them; selection itself
    is unchanged (the reference lists the DB, then skips its checks)."""
    import shutil

    base = tmp_path / "base"
    for db in ("ro_db", "rw_db"):
        (base / db).mkdir(parents=True)
        shutil.copy(f"{BASE}/sf0.001/region.parquet", base / db / "region.parquet")

    def run(updateability):
        params = CheckParams(updateability=updateability, snapshot_path=None)
        checker = IntegrityChecker(
            spark, str(base),
            str(tmp_path / f"s_{updateability}.parquet"),
            str(tmp_path / f"l_{updateability}.parquet"),
            params, read_only_tags={"ro_db"},
        )
        return checker.run()

    rw = run("READ_WRITE")
    assert rw.selected_databases == ["ro_db", "rw_db"]
    assert {o.spec.database for o in rw.outcomes} == {"rw_db"}
    assert any("ro_db" in s and "@Updateability" in s for s in rw.skipped)

    ro = run("READ_ONLY")
    assert {o.spec.database for o in ro.outcomes} == {"ro_db"}

    both = run("ALL")
    assert {o.spec.database for o in both.outcomes} == {"ro_db", "rw_db"}


def test_updateability_validation_and_discovery(spark, tmp_path):
    """Bad @Updateability values fail with the reference's message
    (DIC:792-794); read-only markers auto-discover from
    _read_only.json at the catalog root."""
    import json
    import shutil

    with pytest.raises(ValueError, match="@Updateability is not supported"):
        CheckParams(databases="sf0.001", updateability="SOMETIMES").validate()

    base = tmp_path / "base"
    for db in ("ro_db", "rw_db"):
        (base / db).mkdir(parents=True)
        shutil.copy(f"{BASE}/sf0.001/region.parquet", base / db / "region.parquet")
    (base / "_read_only.json").write_text(json.dumps(["ro_db"]))

    params = CheckParams(updateability="READ_ONLY", snapshot_path=None)
    checker = IntegrityChecker(
        spark, str(base), str(tmp_path / "s.parquet"), str(tmp_path / "l.parquet"),
        params,
    )
    assert checker.read_only_tags == {"ro_db"}
    report = checker.run()
    assert {o.spec.database for o in report.outcomes} == {"ro_db"}
    # parameter identity carries the gate (DIC:226)
    assert "@Updateability = 'READ_ONLY'" in checker._parameters_string()


def test_parquet_suffixed_directory_table_gets_its_expectations(spark, tmp_path):
    """A ``region.parquet/`` directory table lists as ``region``, so
    CHECKTABLE runs region's PK and NOT NULL counters on it, not only
    the row count."""
    import shutil

    base = tmp_path / "base"
    (base / "db" / "region.parquet").mkdir(parents=True)
    shutil.copy(f"{BASE}/sf0.001/region.parquet", base / "db" / "region.parquet" / "part-0.parquet")
    assert [o.object_name for o in list_objects(spark, "db", str(base / "db"))] == ["region"]
    checker = IntegrityChecker(
        spark, str(base), str(tmp_path / "s.parquet"), str(tmp_path / "l.parquet"),
        CheckParams(check_commands="CHECKTABLE", snapshot_path=None),
    )
    (outcome,) = checker.run().outcomes
    assert outcome.spec.object == "region"
    m = outcome.result.metrics
    assert m["n_rows"] == 5 and m["pk_null_rows"] == 0 and m["pk_dup_rows"] == 0
    assert m["null_r_name"] == 0


def test_incremental_state_dir_must_be_driver_local(tmp_path):
    """The partials live on the driver's filesystem: a remote URI is
    refused; a local path and a ``file:`` URI are accepted."""
    with pytest.raises(ValueError, match="incremental_state_dir is not supported"):
        CheckParams(incremental_state_dir="hdfs://nn:8020/check_state").validate()
    CheckParams(incremental_state_dir=str(tmp_path / "state")).validate()
    CheckParams(incremental_state_dir=f"file://{tmp_path}/state").validate()


def _log_row(db: str, command_type: str, start: datetime, error_number: int) -> dict:
    return {
        "database_name": db, "command": "DBCC CHECKDB", "command_type": command_type,
        "start_time": start, "end_time": start + timedelta(seconds=1),
        "error_number": error_number,
    }


def test_log_with_spark_and_arrow_parts(spark, tmp_path):
    """A log directory holding a part written by the earlier Spark
    writer and a driver-written part reads as one table; new ids follow
    the Spark part's, and last_good_check_df sees both parts."""
    path = str(tmp_path / "log.parquet")
    t0 = datetime(2026, 1, 1, 10, 0, 0)
    old = [
        _log_row("a", "DBCC_CHECKDB", t0, 0),
        _log_row("b", "DBCC_CHECKDB", t0, 0),
        _log_row("b", "DBCC_CHECKDB", t0 + timedelta(hours=2), 8900),
    ]
    data = [
        tuple(i + 1 if f.name == "id" else r.get(f.name) for f in COMMAND_LOG_SCHEMA.fields)
        for i, r in enumerate(old)
    ]
    spark.createDataFrame(data, COMMAND_LOG_SCHEMA).coalesce(1).write.parquet(path)
    log = CommandLog(spark, path)
    new = [
        _log_row("a", "DBCC_CHECKDB", t0 + timedelta(hours=1), 0),
        _log_row("c", "DBCC_CHECKTABLE", t0, 0),
    ]
    assert [log.append(r) for r in new] == [4, 5]
    rows = log.df().collect()
    assert sorted(r["id"] for r in rows) == [1, 2, 3, 4, 5]
    assert sorted((r["database_name"], r["start_time"], r["error_number"]) for r in rows) == sorted(
        (r["database_name"], r["start_time"], r["error_number"]) for r in old + new
    )
    lgc = {r["database_name"]: r["last_good_check"] for r in last_good_check_df(log.df()).collect()}
    assert lgc == {"a": t0 + timedelta(hours=1), "b": t0}


def test_command_log_ids_unique_across_runs(spark, tmp_path):
    """Two invocations on one log path never reuse an id (CommandLog.ID
    is an IDENTITY key, CL:7)."""
    make(spark, tmp_path, execute="N").run()
    make(spark, tmp_path, execute="N").run()
    ids = [r["id"] for r in CommandLog(spark, str(tmp_path / "log.parquet")).df().collect()]
    assert len(ids) > 2 + N_TABLES
    assert sorted(ids) == list(range(1, len(ids) + 1))


def test_metadata_io_starts_no_spark_jobs(spark, tmp_path):
    """Ledger save and load, command-log flush and CHECKALLOC on a
    table of at most 64 files are driver-side: no Spark job."""
    sc = spark.sparkContext
    obj = next(o for o in list_objects(spark, "sf0.001", f"{BASE}/sf0.001") if o.files)
    listener_bus = sc._jsc.sc().listenerBus()
    group = f"metadata-io-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "metadata I/O")
    try:
        st = StateStore(spark, str(tmp_path / "state.parquet"))
        st.merge_inventory([("db", "main", "t", "U", 1)])
        st.save()
        assert list(StateStore(spark, str(tmp_path / "state.parquet")).rows) == [("db", "main", "t")]
        log = CommandLog(spark, str(tmp_path / "log.parquet"))
        log.append(_log_row("db", "DBCC_CHECKDB", datetime(2026, 1, 1), 0))
        log.flush()
        assert CommandLog(spark, str(tmp_path / "log.parquet"))._next_id == 2
        assert run_checkalloc(spark, obj).passed
        listener_bus.waitUntilEmpty(10_000)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        # the tracker does see this group's jobs
        spark.range(3).count()
        listener_bus.waitUntilEmpty(10_000)
        assert list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setJobGroup("", "")
