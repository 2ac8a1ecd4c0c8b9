"""DatabaseOrder strategies (DIC:992-1089), the multi-worker queue
claim protocol (DIC:1095-1228), and CHECKFILEGROUP (DIC:1476-1487)."""

from __future__ import annotations

import os
import tempfile
import threading
import time
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from integritychecksforvldbs_spark.operators.kernels import run_checkfilegroup
from integritychecksforvldbs_spark.plans.ordering import (
    DatabaseOrderRow,
    order_databases,
    order_databases_df,
    validate_database_order,
)
from integritychecksforvldbs_spark.plans.queue import (
    ConditionalStoreBackend,
    DirCasBackend,
    WorkQueue,
)
from integritychecksforvldbs_spark.sources.catalog import list_filegroups, list_objects
from integritychecksforvldbs_spark.sources.loader import load_table


def _rows():
    return [
        DatabaseOrderRow("alpha", 2, 300, datetime(2024, 1, 5), "r1"),
        DatabaseOrderRow("bravo", 1, 100, None, "r2"),
        DatabaseOrderRow("charlie", 3, 200, datetime(2024, 1, 1), "r1"),
    ]


ORDER_CASES = {
    None: ["bravo", "alpha", "charlie"],  # StartPosition, name
    "DATABASE_NAME_ASC": ["alpha", "bravo", "charlie"],
    "DATABASE_NAME_DESC": ["charlie", "bravo", "alpha"],
    "DATABASE_SIZE_ASC": ["bravo", "charlie", "alpha"],
    "DATABASE_SIZE_DESC": ["alpha", "charlie", "bravo"],
    # never-checked (bravo) sorts as oldest
    "DATABASE_LAST_GOOD_CHECK_ASC": ["bravo", "charlie", "alpha"],
    "DATABASE_LAST_GOOD_CHECK_DESC": ["alpha", "charlie", "bravo"],
    # replica group first: r1(alpha,charlie) r2(bravo)
    "REPLICA_LAST_GOOD_CHECK_ASC": ["charlie", "alpha", "bravo"],
    "REPLICA_LAST_GOOD_CHECK_DESC": ["bravo", "alpha", "charlie"],
}


@pytest.mark.parametrize("order,expect", ORDER_CASES.items())
def test_order_databases_python(order, expect):
    got = [r.name for r in order_databases(_rows(), order)]
    assert got == expect
    assert [r.order for r in order_databases(_rows(), order)] == [1, 2, 3]


@pytest.mark.parametrize("order,expect", ORDER_CASES.items())
def test_order_databases_df_agrees(spark, order, expect):
    df = spark.createDataFrame(
        [(r.name, r.start_position, r.size_bytes, r.last_good_check, r.replica_group)
         for r in _rows()],
        "name string, start_position int, size_bytes long, "
        "last_good_check timestamp, replica_group string",
    )
    got = [
        r["name"]
        for r in order_databases_df(df, order).orderBy("order").collect()
    ]
    assert got == expect


def test_validate_database_order_rejects():
    with pytest.raises(ValueError, match="@DatabaseOrder is not supported"):
        validate_database_order("DATABASE_SIZE")
    validate_database_order(None)
    validate_database_order("DATABASE_SIZE_DESC")


# ---------------------------------------------------------------------------
# WorkQueue — every protocol test runs against BOTH ClaimBackend impls:
# the mkdir-CAS POSIX backend (default) and the conditional-write
# object-store reference backend.
# ---------------------------------------------------------------------------


@pytest.fixture(params=["dir-cas", "conditional"])
def make_queue(request):
    """Factory producing WorkQueues over ONE shared claim store, so
    multiple workers in a test coordinate the way real workers would."""
    with tempfile.TemporaryDirectory() as d:
        store = (
            ConditionalStoreBackend() if request.param == "conditional" else None
        )

        def make(parameters, databases, cls=WorkQueue, **kw):
            if store is not None:
                kw["backend"] = store
            return cls(d, parameters, databases, **kw)

        make.kind = request.param
        yield make


def test_queue_claims_in_order_once(make_queue):
    q = make_queue("params-A", ["db1", "db2", "db3"])
    assert q.claim_next() == "db1"
    assert q.claim_next() == "db2"  # db1 still claimed by us
    q.complete("db1")
    q.complete("db2")
    assert q.claim_next() == "db3"
    q.complete("db3")
    assert q.claim_next() is None
    assert q.all_done()


def test_queue_two_workers_disjoint(make_queue):
    dbs = [f"db{i}" for i in range(20)]
    w1 = make_queue("P", dbs, session_id="w1")
    w2 = make_queue("P", dbs, session_id="w2")
    claimed: dict[str, list[str]] = {"w1": [], "w2": []}

    def work(q, name):
        while True:
            db = q.claim_next()
            if db is None:
                break
            claimed[name].append(db)
            q.complete(db)

    t1 = threading.Thread(target=work, args=(w1, "w1"))
    t2 = threading.Thread(target=work, args=(w2, "w2"))
    t1.start(); t2.start(); t1.join(); t2.join()
    all_claimed = claimed["w1"] + claimed["w2"]
    assert sorted(all_claimed) == sorted(dbs)  # every db exactly once
    assert len(set(all_claimed)) == len(dbs)
    assert w1.all_done()


def test_queue_stale_claim_recovery(make_queue):
    w1 = make_queue("P", ["db1"], session_id="w1", stale_after_s=0.2)
    assert w1.claim_next() == "db1"
    # w1 dies without completing; w2 must recover after staleness
    w2 = make_queue("P", ["db1"], session_id="w2", stale_after_s=0.2)
    assert w2.claim_next() is None  # claim still fresh
    time.sleep(0.3)
    assert w2.claim_next() == "db1"  # stale claim released
    w2.complete("db1")
    assert w2.all_done()


def test_queue_heartbeat_keeps_claim(make_queue):
    w1 = make_queue("P", ["db1"], session_id="w1", stale_after_s=0.3)
    w2 = make_queue("P", ["db1"], session_id="w2", stale_after_s=0.3)
    assert w1.claim_next() == "db1"
    for _ in range(3):
        time.sleep(0.15)
        w1.heartbeat("db1")
        assert w2.claim_next() is None  # heartbeat keeps it fresh
    w1.complete("db1")


def test_queue_heartbeat_mid_sweep_survives_release(make_queue):
    """The stale release is CONDITIONAL on the claim's version token:
    a holder that heartbeats between the sweep's read and its delete
    keeps the claim (the delete_if contract, both backends)."""
    w1 = make_queue("P", ["db1"], session_id="w1", stale_after_s=0.2)
    assert w1.claim_next() == "db1"
    time.sleep(0.3)  # the claim is now stale by heartbeat age
    be = w1.backend
    ckey = f"{w1.dir}/db_db1/claim"
    stale_version = be.get(ckey).version
    w1.heartbeat("db1")  # refresh lands BEFORE the sweeper's delete
    assert be.delete_if(ckey, stale_version) is False  # sweep loses
    assert be.get(ckey).payload["session_id"] == "w1"


def test_queue_identity_by_parameters(make_queue):
    a = make_queue("params-A", ["db1"])
    b = make_queue("params-B", ["db1"])  # different run params
    assert a.claim_next() == "db1"
    assert b.claim_next() == "db1"  # independent queues
    assert a.dir != b.dir


def test_queue_round_restart_sequential_runs(make_queue):
    """DIC:1127-1152 — a second run with the same @Parameters after the
    first completed starts a NEW round and re-checks every database
    (day-2 cron), instead of finding every completion stamp and idling."""
    dbs = ["db1", "db2"]
    run1 = make_queue("P", dbs, session_id="day1")
    seen1 = []
    while (db := run1.claim_next()) is not None:
        seen1.append(db)
        run1.complete(db)
    assert sorted(seen1) == dbs and run1.all_done()

    run2 = make_queue("P", dbs, session_id="day2")
    assert run2.round == run1.round + 1
    seen2 = []
    while (db := run2.claim_next()) is not None:
        seen2.append(db)
        run2.complete(db)
    assert sorted(seen2) == dbs  # full fleet re-checked
    assert run2.all_done()


def test_queue_round_restart_concurrent_workers_share_round(make_queue):
    """Two workers starting together after a completed round open ONE
    new round and split it — the put-if-absent CAS arbitrates."""
    dbs = [f"db{i}" for i in range(10)]
    prev = make_queue("P", dbs, session_id="day1")
    while (db := prev.claim_next()) is not None:
        prev.complete(db)
    assert prev.all_done()

    w1 = make_queue("P", dbs, session_id="w1")
    w2 = make_queue("P", dbs, session_id="w2")
    assert w1.round == w2.round == prev.round + 1
    claimed: dict[str, list[str]] = {"w1": [], "w2": []}

    def work(q, name):
        while (db := q.claim_next()) is not None:
            claimed[name].append(db)
            q.complete(db)

    t1 = threading.Thread(target=work, args=(w1, "w1"))
    t2 = threading.Thread(target=work, args=(w2, "w2"))
    t1.start(); t2.start(); t1.join(); t2.join()
    both = claimed["w1"] + claimed["w2"]
    assert sorted(both) == sorted(dbs)  # one round, split once
    assert len(set(both)) == len(dbs)


def test_queue_midround_joiner_does_not_restart(make_queue):
    """A worker arriving while a round is in flight joins it — no new
    round, no double-checking of already-completed members."""
    w1 = make_queue("P", ["db1", "db2"], session_id="w1")
    assert w1.claim_next() == "db1"
    w1.complete("db1")
    w2 = make_queue("P", ["db1", "db2"], session_id="w2")
    assert w2.round == w1.round
    assert w2.claim_next() == "db2"  # db1 NOT re-queued
    w2.complete("db2")
    assert w2.claim_next() is None


class _SlowRoundQueue(WorkQueue):
    """WorkQueue with randomized latency injected between the
    ``_latest_round`` read and whatever acts on it (the round-open
    put_if_absent CAS and the post-adoption re-read) — the
    slow-shared-FS race window documented at the round-restart block
    in queue.py."""

    def __init__(self, *args, max_delay_s: float = 0.0, seed: int = 0, **kw):
        import random

        self._max_delay_s = max_delay_s
        self._rng = random.Random(seed)
        super().__init__(*args, **kw)

    def _latest_round(self) -> int:
        r = super()._latest_round()
        if self._max_delay_s:
            time.sleep(self._rng.uniform(0.0, self._max_delay_s))
        return r


@pytest.mark.parametrize("seed", [1, 2, 3, 4])
def test_queue_round_adoption_race_with_injected_latency(make_queue, seed):
    """Slow-shared-FS property: N workers starting after a completed
    round, each pausing a random interval between reading the latest
    round and acting on it, must never double-claim a (round, database)
    pair and must leave every round they touched fully completed.  A
    worker whose stale read makes it adopt an already-finished round
    idles — allowed — but it must never reopen or corrupt it."""
    dbs = [f"db{i}" for i in range(8)]
    day1 = make_queue("P", dbs, session_id="day1")
    while (db := day1.claim_next()) is not None:
        day1.complete(db)
    assert day1.all_done()

    claims: list[tuple[int, str]] = []
    lock = threading.Lock()

    def work(wid: int):
        q = make_queue(
            "P", dbs, cls=_SlowRoundQueue, session_id=f"w{wid}",
            max_delay_s=0.03, seed=seed * 100 + wid,
        )
        while (db := q.claim_next()) is not None:
            with lock:
                claims.append((q.round, db))
            time.sleep(q._rng.uniform(0.0, 0.002))
            q.complete(db)

    threads = [threading.Thread(target=work, args=(i,)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    # no (round, db) ever claimed twice
    assert len(claims) == len(set(claims))
    # at least the restarted round ran the full fleet
    rounds = sorted({r for r, _ in claims})
    assert rounds and rounds[0] == day1.round + 1
    for r in rounds:
        assert sorted(db for rr, db in claims if rr == r) == sorted(dbs)
    # in the store (backend-agnostic walk): every round with
    # materialized membership is internally consistent — the full
    # fleet enrolled, and every member of a claimed round completed
    be = day1.backend
    round_keys = [k for k in be.list(day1.base + "/") if k.endswith("/round")]
    for rkey in round_keys:
        rdir = rkey[: -len("/round")]
        rnum = int(rdir.rsplit("/r", 1)[1])
        members = sorted(
            {k[len(rdir) + 1:].split("/")[0] for k in be.list(rdir + "/db_")}
        )
        if not members:
            continue  # adopted-but-idle round opened by a stale read
        assert members == sorted(f"db_{db}" for db in dbs)
        if rnum in rounds or rnum == day1.round:
            for m in members:
                assert be.get(f"{rdir}/{m}/done") is not None


# ---------------------------------------------------------------------------
# CHECKFILEGROUP
# ---------------------------------------------------------------------------


def test_filegroups_flat_table(spark):
    objs = list_objects(spark, "sf0.001", "/root/testdata/sf0.001")
    region = next(o for o in objs if o.object_name == "region")
    fgs = list_filegroups(spark, region)
    assert [name for name, _ in fgs] == ["PRIMARY"]
    assert fgs[0][1] == region.files


def test_filegroups_partitioned_table(spark, tmp_path):
    df = load_table(spark, "/root/testdata/sf0.001/orders.parquet")
    path = str(tmp_path / "orders_part")
    df.withColumn("status", F.col("o_orderstatus")).write.partitionBy(
        "status"
    ).parquet(path)
    objs = list_objects(spark, "tmpdb", str(tmp_path))
    obj = next(o for o in objs if o.object_name == "orders_part")
    fgs = list_filegroups(spark, obj)
    names = [name for name, _ in fgs]
    assert set(names) >= {"status=F", "status=O", "status=P"}
    assert names == sorted(names)  # no PRIMARY here; name order
    # every data file lands in exactly one filegroup
    assert sum(len(fs) for _, fs in fgs) == len(obj.files)


def test_run_checkfilegroup(spark):
    objs = list_objects(spark, "sf0.001", "/root/testdata/sf0.001")
    region = next(o for o in objs if o.object_name == "region")
    fgs = list_filegroups(spark, region)
    res = run_checkfilegroup(
        spark, region, fgs[0][0], fgs[0][1], "sf0.001"
    )
    assert res.kind == "CHECKFILEGROUP"
    assert res.passed
    assert res.object == "region:PRIMARY"
    assert res.metrics["n_rows"] == 5
    assert res.metrics["alloc_n_files"] == 1


def test_stale_release_sweeps_tmp_litter(tmp_path):
    """A writer dying between open(tmp) and os.replace
    leaves .body.*.tmp litter in the claim dir; the stale sweep must
    still release the claim instead of wedging the database forever."""
    q = WorkQueue(str(tmp_path), "P", ["db1"], session_id="w1",
                  stale_after_s=0.2)
    claim_dir = os.path.join(
        q.backend.root, *f"{q.dir}/db_db1/claim".split("/")
    )
    os.mkdir(claim_dir)
    with open(os.path.join(claim_dir, ".body.dead.tmp"), "w") as f:
        f.write('{"session_id": "dead"')  # torn body, no record.json
    import time

    time.sleep(0.3)  # let the dir mtime go stale
    assert q.claim_next() == "db1"  # released and re-claimed
    q.complete("db1")
    assert q.all_done()


def test_dircas_list_scoped_to_prefix(tmp_path):
    """list(prefix) must walk only the prefix's parent, so
    a store accumulating rounds/queues doesn't make every claim
    O(everything).  Behavior pin: keys outside the prefix never
    appear; partial last segments (db_) match."""
    be = DirCasBackend(str(tmp_path))
    be.put_if_absent("queue_a/r1/round", {})
    be.put_if_absent("queue_a/r1/db_x/meta", {})
    be.put_if_absent("queue_b/r1/db_y/meta", {})
    assert be.list("queue_a/") == [
        "queue_a/r1/db_x/meta", "queue_a/r1/round"
    ]
    assert be.list("queue_a/r1/db_") == ["queue_a/r1/db_x/meta"]
    assert be.list("queue_zzz/") == []  # absent parent: no walk, no crash
