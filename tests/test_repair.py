"""Anti-entropy repair plans (kernels.repair_plan / apply_repair):
classification, round-trip equality, degenerate inputs."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from integritychecksforvldbs_spark.operators.kernels import (
    apply_repair,
    repair_plan,
)

SCHEMA = "k long, x string, y long"


def test_repair_plan_classification(spark):
    a = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, None, 30)], SCHEMA
    )
    b = spark.createDataFrame(
        [(1, "a", 10), (2, "B", 20), (4, "d", 40)], SCHEMA
    )
    plan = {r["k"]: (r["op"], r["x"], r["y"]) for r in repair_plan(a, b, ["k"]).collect()}
    assert plan == {
        2: ("update", "b", 20),   # payload is a's row
        3: ("insert", None, 30),  # NULL payload value preserved
        4: ("delete", None, None),
    }


def test_repair_round_trip_equals_authoritative(spark):
    rng = random.Random(7)
    rows_a = [(i, f"v{rng.randint(0, 5)}", rng.randint(0, 9)) for i in range(200)]
    a = spark.createDataFrame(rows_a, SCHEMA)
    # damage: drop some keys, corrupt some values, add foreign keys
    rows_b = [
        (k, (x if k % 7 else "CORRUPT"), y)
        for k, x, y in rows_a
        if k % 11 != 0
    ] + [(1000 + i, "extra", i) for i in range(5)]
    b = spark.createDataFrame(rows_b, SCHEMA)

    plan = repair_plan(a, b, ["k"])
    ops = {r["op"] for r in plan.collect()}
    assert ops == {"insert", "update", "delete"}
    repaired = apply_repair(b, plan, ["k"])
    assert sorted(map(tuple, repaired.collect())) == sorted(rows_a)


def test_repair_plan_empty_on_identical(spark):
    a = spark.createDataFrame([(1, "a", 1)], SCHEMA)
    assert repair_plan(a, a, ["k"]).count() == 0


def test_repair_null_vs_value_is_update(spark):
    a = spark.createDataFrame([(1, None, 1)], SCHEMA)
    b = spark.createDataFrame([(1, "x", 1)], SCHEMA)
    rows = repair_plan(a, b, ["k"]).collect()
    assert [(r["op"], r["x"]) for r in rows] == [("update", None)]
    repaired = apply_repair(b, repair_plan(a, b, ["k"]), ["k"])
    assert sorted(map(repr, repaired.collect())) == sorted(map(repr, a.collect()))


def test_repair_plan_keys_only_table(spark):
    """No compare columns: membership repair alone (not a reduce()
    of an empty iterable)."""
    a = spark.createDataFrame([(1,), (2,)], "k long")
    b = spark.createDataFrame([(2,), (3,)], "k long")
    plan = {(r["op"], r["k"]) for r in repair_plan(a, b, ["k"]).collect()}
    assert plan == {("insert", 1), ("delete", 3)}
