"""SCD2 snapshot apply (operators/scd.py): classification of every
case, idempotency, null-safety, history preservation, plan shape."""

from __future__ import annotations

from datetime import date

import pytest
from pyspark.sql import functions as F

from integritychecksforvldbs_spark.operators import scd
from integritychecksforvldbs_spark.sources.bucketing import plan_data_shuffles

D0 = date(2024, 1, 1)
D1 = date(2024, 6, 1)
DIM_SCHEMA = "k long, attr string, num long, valid_from date, valid_to date"
SNAP_SCHEMA = "k long, attr string, num long"


def _dim(spark):
    return spark.createDataFrame(
        [
            # history row for k=1 (must pass through untouched)
            (1, "old", 5, date(2023, 1, 1), D0),
            # current rows
            (1, "a", 10, D0, None),   # unchanged in snapshot
            (2, "b", 20, D0, None),   # attr changes
            (3, "c", 30, D0, None),   # deleted from snapshot
            (4, None, 40, D0, None),  # NULL attr, unchanged (null-safe)
            (5, None, 50, D0, None),  # NULL attr -> real value
        ],
        DIM_SCHEMA,
    )


def _snap(spark):
    return spark.createDataFrame(
        [
            (1, "a", 10),
            (2, "b2", 20),
            (4, None, 40),
            (5, "now", 50),
            (6, "new", 60),  # brand-new key
        ],
        SNAP_SCHEMA,
    )


def _apply(spark, dim=None, snap=None, as_of=D1):
    return scd.scd2_apply(
        dim if dim is not None else _dim(spark),
        snap if snap is not None else _snap(spark),
        ["k"],
        ["attr", "num"],
        as_of,
    )


def test_scd2_classification(spark):
    rows = {
        (r["k"], r["version_action"], r["valid_from"], r["valid_to"]): (
            r["attr"],
            r["num"],
        )
        for r in _apply(spark).collect()
    }
    assert rows == {
        (1, "history", date(2023, 1, 1), D0): ("old", 5),
        (1, "kept", D0, None): ("a", 10),
        (2, "closed", D0, D1): ("b", 20),
        (2, "opened", D1, None): ("b2", 20),
        (3, "closed", D0, D1): ("c", 30),
        (4, "kept", D0, None): (None, 40),   # null-safe: no churn
        (5, "closed", D0, D1): (None, 50),
        (5, "opened", D1, None): ("now", 50),
        (6, "opened", D1, None): ("new", 60),
    }


def test_scd2_idempotent_reapply(spark):
    """Applying the same snapshot to the result again — at the same or
    a later as_of — only keeps: no version churn."""
    first = _apply(spark).drop("version_action")
    for as_of in (D1, date(2024, 12, 1)):
        again = scd.scd2_apply(first, _snap(spark), ["k"], ["attr", "num"], as_of)
        acts = {r["version_action"] for r in again.collect()}
        assert acts <= {"history", "kept"}
        assert sorted(map(repr, again.drop("version_action").collect())) == sorted(
            map(repr, first.collect())
        )


def test_scd2_current_slice_is_snapshot(spark):
    """After apply, the current slice equals the snapshot exactly."""
    cur = (
        _apply(spark)
        .filter(F.col("valid_to").isNull())
        .select("k", "attr", "num")
    )
    assert sorted(map(repr, cur.collect())) == sorted(
        map(repr, _snap(spark).collect())
    )


def test_scd2_empty_snapshot_closes_everything(spark):
    out = _apply(spark, snap=_snap(spark).limit(0))
    acts = [r["version_action"] for r in out.collect()]
    assert acts.count("closed") == 5 and acts.count("opened") == 0


def test_scd2_plan_single_join(spark):
    """One full-outer shuffle join: exactly two hash exchanges (one
    per side), history as a shuffle-free filtered branch."""
    assert plan_data_shuffles(_apply(spark)) == 2


def test_cdc_latest_snapshot_compaction(spark):
    changes = spark.createDataFrame(
        [
            (1, "a", 1, "u"),
            (1, "a2", 3, "u"),   # latest for k=1
            (1, "aX", 2, "u"),   # superseded
            (2, "b", 1, "u"),
            (2, None, 2, "d"),   # deleted
            (3, "c", 5, "u"),
            (None, "n", 1, "u"), # NULL key keeps its own row
        ],
        "k long, v string, seq long, op string",
    )
    got = sorted(
        map(repr, scd.cdc_latest_snapshot(changes, ["k"], "seq", "op").collect())
    )
    want = sorted(
        map(
            repr,
            spark.createDataFrame(
                [(1, "a2"), (3, "c"), (None, "n")], "k long, v string"
            ).collect(),
        )
    )
    assert got == want


def test_cdc_compaction_feeds_scd2(spark):
    """The composed pipeline: change stream -> latest snapshot ->
    SCD2 apply; a delete in the stream closes the dimension row."""
    dim = _dim(spark)
    changes = spark.createDataFrame(
        [
            (1, "a", 1, "u"),    # unchanged vs dim
            (2, "b9", 1, "u"),   # update
            (3, None, 1, "d"),   # delete
            (4, None, 1, "u"),   # unchanged (NULL attr)
            (5, "now", 1, "u"),
            (6, "new", 1, "u"),
        ],
        "k long, attr string, seq long, op string",
    )
    snap = scd.cdc_latest_snapshot(changes, ["k"], "seq", "op").withColumn(
        "num", F.lit(None).cast("long")
    )
    # align schema with _snap: (k, attr, num) with num untracked here
    out = scd.scd2_apply(dim, snap.select("k", "attr"), ["k"], ["attr"], D1)
    acts = {(r["k"], r["version_action"]) for r in out.collect()}
    assert (3, "closed") in acts and (2, "opened") in acts
    assert (6, "opened") in acts and (1, "kept") in acts


# ---------------------------------------------------------------------------
# point-in-time (AS OF fact time) lookup
# ---------------------------------------------------------------------------

PIT_DIM = [
    # key 1: two versions split at Jun 1
    (1, "old", 10, date(2024, 1, 1), date(2024, 6, 1)),
    (1, "new", 20, date(2024, 6, 1), None),
    # key 2: single open version
    (2, "only", 30, date(2024, 3, 1), None),
]
PIT_FACTS = [
    (100, 1, date(2024, 5, 31)),   # last day of v1
    (101, 1, date(2024, 6, 1)),    # valid_from is INCLUSIVE -> v2
    (102, 2, date(2024, 2, 1)),    # before key 2's first version
    (103, 9, date(2024, 7, 1)),    # no dim entry at all
]
FACT_SCHEMA = "fact_id long, k long, ts date"


def test_pit_join_selects_version_at_fact_time(spark):
    dim = spark.createDataFrame(PIT_DIM, DIM_SCHEMA)
    facts = spark.createDataFrame(PIT_FACTS, FACT_SCHEMA)
    got = {
        r["fact_id"]: (r["attr"], r["num"])
        for r in scd.point_in_time_join(facts, dim, ["k"], "ts").collect()
    }
    assert got[100] == ("old", 10)   # ts < valid_to: still v1
    assert got[101] == ("new", 20)   # boundary day belongs to v2
    assert got[102] == (None, None)  # predates first version: left-kept
    assert got[103] == (None, None)  # unknown key: left-kept


def test_pit_join_inner_drops_unmatched(spark):
    dim = spark.createDataFrame(PIT_DIM, DIM_SCHEMA)
    facts = spark.createDataFrame(PIT_FACTS, FACT_SCHEMA)
    ids = {
        r["fact_id"]
        for r in scd.point_in_time_join(facts, dim, ["k"], "ts", how="inner").collect()
    }
    assert ids == {100, 101}


def test_pit_join_never_fans_out(spark):
    # SCD2 windows per key are non-overlapping, so row count is
    # preserved under the left join
    dim = spark.createDataFrame(PIT_DIM, DIM_SCHEMA)
    facts = spark.createDataFrame(PIT_FACTS, FACT_SCHEMA)
    assert scd.point_in_time_join(facts, dim, ["k"], "ts").count() == len(PIT_FACTS)


def test_pit_join_rejects_bad_how(spark):
    import pytest as _pytest

    dim = spark.createDataFrame(PIT_DIM, DIM_SCHEMA)
    facts = spark.createDataFrame(PIT_FACTS, FACT_SCHEMA)
    with _pytest.raises(ValueError, match="how"):
        scd.point_in_time_join(facts, dim, ["k"], "ts", how="full")


def test_pit_join_is_hash_join_not_nested_loop(spark):
    # the validity range rides as a RESIDUAL on the key equi-join: a
    # broadcast dim must plan BroadcastHashJoin, never a nested loop
    dim = spark.createDataFrame(PIT_DIM, DIM_SCHEMA)
    facts = spark.createDataFrame(PIT_FACTS, FACT_SCHEMA)
    plan = (
        scd.point_in_time_join(facts, F.broadcast(dim), ["k"], "ts")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "NestedLoop" not in plan


def test_scd2_null_key_rows_classify_by_presence(spark):
    """A NULL-keyed current row must not emit a garbage all-NULL
    opened version (presence is not tested via key IS NOT NULL)."""
    dim = spark.createDataFrame(
        [(None, "a", date(2024, 1, 1), None), (1, "b", date(2024, 1, 1), None)],
        "k long, v string, valid_from date, valid_to date",
    )
    snap = spark.createDataFrame([(None, "a"), (1, "b")], "k long, v string")
    out = scd.scd2_apply(dim, snap, ["k"], ["v"], date(2024, 6, 1))
    acts = sorted(
        (r["k"], r["version_action"]) for r in out.collect()
        if r["k"] is not None
    ) + sorted(
        (r["k"], r["version_action"]) for r in out.collect() if r["k"] is None
    )
    assert acts == [(1, "kept"), (None, "kept")]
    # idempotent: re-apply keeps keeping
    again = scd.scd2_apply(
        out.drop("version_action"), snap, ["k"], ["v"], date(2024, 12, 1)
    )
    assert {r["version_action"] for r in again.collect()} == {"kept"}


def test_cdc_compaction_rejects_reserved_column(spark):
    from integritychecksforvldbs_spark.operators import scd as _scd

    df = spark.createDataFrame(
        [(1, 1, "u", 9)], "k long, seq long, op string, __cdc_latest_rn long"
    )
    with pytest.raises(ValueError, match="__cdc_latest_rn"):
        _scd.cdc_latest_snapshot(df, ["k"], "seq", "op")
