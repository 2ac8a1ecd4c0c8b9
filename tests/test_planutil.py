"""Plan-construction helpers (functions/planutil.py): ``local_relation``
carries non-finite doubles and numpy scalars into a Spark frame
unchanged."""

import math

import numpy as np

from integritychecksforvldbs_spark.functions.planutil import local_relation


def test_local_relation_non_finite_doubles(spark):
    rows = [
        (1, float("nan")),
        (2, float("inf")),
        (3, float("-inf")),
        (4, 0.5),
        (5, None),
    ]
    df = local_relation(spark, rows, [("id", "BIGINT"), ("v", "DOUBLE")])
    got = {r["id"]: r["v"] for r in df.collect()}
    assert math.isnan(got[1])
    assert got[2] == float("inf")
    assert got[3] == float("-inf")
    assert got[4] == 0.5
    assert got[5] is None


def test_local_relation_numpy_scalars(spark):
    rows = [(np.int64(7), np.float64(1.25), np.float32(2.0))]
    df = local_relation(
        spark, rows, [("a", "BIGINT"), ("b", "DOUBLE"), ("c", "DOUBLE")]
    )
    r = df.collect()[0]
    assert (r["a"], r["b"], r["c"]) == (7, 1.25, 2.0)


def test_local_relation_nan_inside_array(spark):
    df = local_relation(
        spark,
        [(1, [1.0, float("nan"), float("inf")])],
        [("id", "BIGINT"), ("v", "ARRAY<DOUBLE>")],
    )
    v = df.collect()[0]["v"]
    assert math.isnan(v[1]) and v[2] == float("inf")
