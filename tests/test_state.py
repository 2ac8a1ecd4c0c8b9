"""State ledger MERGE + running-average semantics (IC:454-484, 696-722)."""

import os
import shutil
from dataclasses import asdict
from datetime import date, datetime, timedelta

from pyspark.sql import functions as F

from integritychecksforvldbs_spark.plans.state import (
    EPOCH_DATE,
    STATE_SCHEMA,
    StateStore,
    tsql_int_div,
)


def make_store(spark, tmp_path=None):
    return StateStore(spark, str(tmp_path / "state.parquet") if tmp_path else None)


def test_tsql_int_div_truncates_toward_zero():
    assert tsql_int_div(7, 2) == 3
    assert tsql_int_div(-7, 2) == -3  # Python // would give -4
    assert tsql_int_div(0, 5) == 0


def test_merge_insert_update_deactivate(spark):
    s = make_store(spark)
    stats = s.merge_inventory([("db", "main", "t1", "U", 100), ("db", "main", "t2", "U", 200)])
    assert stats == {"updated": 0, "inserted": 2, "deactivated": 0}
    row = s.rows[("db", "main", "t1")]
    assert row.last_check_date == EPOCH_DATE  # IC:62 default
    assert row.number_of_executions == 0 and row.avg_run_duration_ms == 0
    # t2 vanishes, t1 resized, t3 appears
    stats = s.merge_inventory([("db", "main", "t1", "U", 150), ("db", "main", "t3", "U", 50)])
    assert stats == {"updated": 1, "inserted": 1, "deactivated": 1}
    assert s.rows[("db", "main", "t1")].used_page_count == 150
    assert s.rows[("db", "main", "t2")].active is False  # soft delete
    assert s.rows[("db", "main", "t3")].active is True
    # reappearing reactivates
    s.merge_inventory([("db", "main", "t2", "U", 10)])
    assert s.rows[("db", "main", "t2")].active is True


def test_merge_scoped_to_inventoried_databases(spark):
    s = make_store(spark)
    s.merge_inventory([("db1", "main", "a", "U", 1), ("db2", "main", "b", "U", 1)])
    # inventory covering only db1 must not deactivate db2's rows
    s.merge_inventory([("db1", "main", "a", "U", 1)])
    assert s.rows[("db2", "main", "b")].active is True


def test_record_run_stats_and_integer_average(spark):
    s = make_store(spark)
    s.merge_inventory([("db", "main", "t", "U", 1)])
    t0 = datetime(2026, 1, 1, 10, 0, 0)
    run_date = date(2026, 1, 1)
    # run 1: 1000 ms → avg = 0 + (1000-0)/1 = 1000
    s.record_run("db", "main", "t", t0, t0 + timedelta(milliseconds=1000), "CMD1", run_date)
    r = s.rows[("db", "main", "t")]
    assert r.number_of_executions == 1 and r.avg_run_duration_ms == 1000
    assert r.command == "Command Executed: CMD1"
    assert r.last_check_date == run_date
    assert r.previous_run_date is None  # had no prior start
    # run 2: 500 ms → avg = 1000 + (500-1000)/2 = 1000 + (-250) = 750
    t1 = t0 + timedelta(hours=1)
    s.record_run("db", "main", "t", t1, t1 + timedelta(milliseconds=500), "CMD2", run_date)
    assert r.number_of_executions == 2 and r.avg_run_duration_ms == 750
    assert r.previous_run_date == t0 and r.previous_run_duration_ms == 1000
    # run 3: 99 ms → avg = 750 + trunc((99-750)/3) = 750 - 217 = 533
    t2 = t1 + timedelta(hours=1)
    s.record_run("db", "main", "t", t2, t2 + timedelta(milliseconds=99), "CMD3", run_date)
    assert r.avg_run_duration_ms == 750 + tsql_int_div(99 - 750, 3) == 533


def test_record_skip_leaves_stats(spark):
    s = make_store(spark)
    s.merge_inventory([("db", "main", "t", "U", 1)])
    s.record_skip("db", "main", "t", "Skipped due to TimeLimit Constraint: x is greater than y")
    r = s.rows[("db", "main", "t")]
    assert r.command.startswith("Skipped due to TimeLimit Constraint")
    assert r.number_of_executions == 0
    assert r.last_check_date == EPOCH_DATE  # skip does NOT advance (IC:677-680)


def test_pick_next_cohort_and_ordering(spark):
    s = make_store(spark)
    s.merge_inventory(
        [
            ("db", "main", "big", "U", 1000),
            ("db", "main", "small", "U", 10),
            ("db", "main", "mid", "U", 100),
        ]
    )
    today = date(2026, 1, 2)
    # all at epoch → name order when not smallest-first
    assert s.pick_next("db", today, False, set()).object_name == "big"
    assert s.pick_next("db", today, True, set()).object_name == "small"
    # advance 'small' to yesterday → cohort is the epoch two
    s.rows[("db", "main", "small")].last_check_date = date(2026, 1, 1)
    assert s.pick_next("db", today, True, set()).object_name == "mid"
    # same-day idempotency (IC:665): checked-today rows never picked
    s.rows[("db", "main", "big")].last_check_date = today
    s.rows[("db", "main", "mid")].last_check_date = today
    nxt = s.pick_next("db", today, False, set())
    assert nxt.object_name == "small"  # yesterday's row is still due
    s.rows[("db", "main", "small")].last_check_date = today
    assert s.pick_next("db", today, False, set()) is None


def test_db_order_oldest_first(spark):
    s = make_store(spark)
    s.merge_inventory([("a", "main", "t", "U", 1), ("b", "main", "t", "U", 1)])
    s.rows[("a", "main", "t")].last_check_date = date(2026, 1, 5)
    s.rows[("b", "main", "t")].last_check_date = date(2026, 1, 2)
    assert [db for db, _ in s.db_order()] == ["b", "a"]


def test_persistence_roundtrip(spark, tmp_path):
    s = StateStore(spark, str(tmp_path / "state.parquet"))
    s.merge_inventory([("db", "main", "t", "U", 42)])
    t0 = datetime(2026, 1, 1, 10, 0, 0)
    s.record_run("db", "main", "t", t0, t0 + timedelta(milliseconds=77), "C", date(2026, 1, 1))
    s.save()
    s2 = StateStore(spark, str(tmp_path / "state.parquet"))
    r = s2.rows[("db", "main", "t")]
    assert r.used_page_count == 42 and r.run_duration_ms == 77
    assert r.last_check_date == date(2026, 1, 1)
    assert s2._next_id == 2


def _epoch_us(t: datetime) -> int:
    return (t - datetime(1970, 1, 1)) // timedelta(microseconds=1)


def test_first_run_ledger_reads_in_spark_and_duckdb(spark, tmp_path):
    """A first run's ledger holds NULL in every timestamp column; its
    file still carries timestamp types, so Spark's declared-schema read
    and DuckDB both accept it, and the store round-trips it."""
    import duckdb

    path = str(tmp_path / "state.parquet")
    s = StateStore(spark, path)
    s.merge_inventory([("db", "main", "a", "U", 1), ("db", "main", "b", "U", 2)])
    t0 = datetime(2026, 1, 1, 10, 0, 0, 123456)
    s.record_run("db", "main", "b", t0, t0 + timedelta(milliseconds=5), "C", date(2026, 1, 1))
    s.save()
    assert {k: asdict(r) for k, r in StateStore(spark, path).rows.items()} == {
        k: asdict(r) for k, r in s.rows.items()
    }
    sdf = spark.read.schema(STATE_SCHEMA).parquet(path)
    got = {
        r["object_name"]: r
        for r in sdf.select(
            "object_name", "previous_run_date", "last_check_date",
            F.unix_micros("start_time").alias("start_us"),
        ).collect()
    }
    assert got["a"]["previous_run_date"] is None and got["a"]["start_us"] is None
    assert got["a"]["last_check_date"] == EPOCH_DATE
    assert got["b"]["start_us"] == _epoch_us(t0)
    con = duckdb.connect()
    rows = con.execute(
        "SELECT object_name, previous_run_date, epoch_us(start_time), last_check_date "
        f"FROM read_parquet('{path}/*.parquet') ORDER BY object_name"
    ).fetchall()
    con.close()
    assert rows == [("a", None, None, EPOCH_DATE), ("b", None, _epoch_us(t0), date(2026, 1, 1))]


def test_spark_written_ledger_still_loads(spark, tmp_path):
    """Ledgers written by the earlier Spark writer (INT96 timestamps,
    _SUCCESS and .crc side files) load unchanged."""
    src = StateStore(spark, None)
    src.merge_inventory([("db", "main", "t", "U", 42), ("db", "main", "u", "U", 7)])
    t0 = datetime(2026, 1, 1, 10, 0, 0, 5)
    src.record_run("db", "main", "t", t0, t0 + timedelta(milliseconds=77), "C", date(2026, 1, 1))
    src.record_run("db", "main", "t", t0, t0 + timedelta(milliseconds=9), "C", date(2026, 1, 2))
    path = str(tmp_path / "state.parquet")
    data = [tuple(asdict(r).values()) for r in src.rows.values()]
    spark.createDataFrame(data, STATE_SCHEMA).coalesce(1).write.parquet(path)
    s = StateStore(spark, path)
    assert {k: asdict(r) for k, r in s.rows.items()} == {
        k: asdict(r) for k, r in src.rows.items()
    }
    assert s._next_id == 3


def test_load_falls_back_to_old_after_crash_between_renames(spark, tmp_path):
    """save() renames path -> path.old, then the new ledger -> path; a
    crash between the two must not lose the check history."""
    path = str(tmp_path / "state.parquet")
    s = StateStore(spark, path)
    s.merge_inventory([("db", "main", "t", "U", 42)])
    t0 = datetime(2026, 1, 1, 10, 0, 0)
    s.record_run("db", "main", "t", t0, t0 + timedelta(milliseconds=77), "C", date(2026, 1, 1))
    s.save()
    os.rename(path, path + ".old")  # the crash window
    s2 = StateStore(spark, path)
    assert s2.rows[("db", "main", "t")].last_check_date == date(2026, 1, 1)
    s2.save()
    assert not os.path.exists(path + ".old")
    assert StateStore(spark, path).rows[("db", "main", "t")].number_of_executions == 1


def test_save_after_crash_left_old_beside_path(spark, tmp_path):
    """A crash after the swap but before the cleanup leaves path.old
    beside path; the next save replaces it instead of failing."""
    path = str(tmp_path / "state.parquet")
    s = StateStore(spark, path)
    s.merge_inventory([("db", "main", "t", "U", 1)])
    s.save()
    shutil.copytree(path, path + ".old")
    s.merge_inventory([("db", "main", "t", "U", 2)])
    s.save()
    assert not os.path.exists(path + ".old")
    assert StateStore(spark, path).rows[("db", "main", "t")].used_page_count == 2
