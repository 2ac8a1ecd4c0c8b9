"""Bucketed co-located joins (shuffle-free) and salted skew-safe
aggregation — the explicit 100 TB techniques, proven on real plans."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from integritychecksforvldbs_spark.operators.skew import salted_agg
from integritychecksforvldbs_spark.sources.bucketing import (
    cobucketed_join,
    plan_has_shuffle,
    write_bucketed,
)
from integritychecksforvldbs_spark.sources.loader import load_table

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def bucketed_tables(spark, tmp_path_factory):
    wh = tmp_path_factory.mktemp("warehouse")
    orders = load_table(spark, f"{SF_DIR}/orders.parquet")
    lineitem = load_table(spark, f"{SF_DIR}/lineitem.parquet")
    write_bucketed(
        orders.withColumnRenamed("o_orderkey", "orderkey"),
        "orders_b", ["orderkey"], 8, sort_cols=["orderkey"],
        path=str(wh / "orders_b"),
    )
    write_bucketed(
        lineitem.withColumnRenamed("l_orderkey", "orderkey"),
        "lineitem_b", ["orderkey"], 8, sort_cols=["orderkey"],
        path=str(wh / "lineitem_b"),
    )
    yield "orders_b", "lineitem_b"
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_cobucketed_join_is_shuffle_free(spark, bucketed_tables):
    left, right = bucketed_tables
    # disable broadcast so the planner must pick a merge join — the
    # case bucketing exists for (at 100 TB neither side broadcasts)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = cobucketed_join(spark, left, right, ["orderkey"])
        assert not plan_has_shuffle(joined), (
            joined._jdf.queryExecution().executedPlan().toString()[:800]
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    # and it is still a correct join
    plain = load_table(spark, f"{SF_DIR}/lineitem.parquet").join(
        load_table(spark, f"{SF_DIR}/orders.parquet"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    assert joined.count() == plain.count()


def test_unbucketed_join_does_shuffle(spark):
    """Control: the same join on plain parquet plans an Exchange."""
    a = load_table(spark, f"{SF_DIR}/orders.parquet")
    b = load_table(spark, f"{SF_DIR}/lineitem.parquet")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = a.join(b, a.o_orderkey == b.l_orderkey)
        assert plan_has_shuffle(j)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")


def test_checktable_dup_key_probe_bucketed_no_data_shuffle(spark, tmp_path_factory):
    """CHECKTABLE's COUNT DISTINCT pk probe over a lineitem mirror
    bucketed by the PK plans ZERO data shuffles — the distinct's hash
    repartition is satisfied by the bucket layout; only the one-row-
    per-task gather remains.  The same kernel on plain parquet
    repartitions the fact table (the control)."""
    from integritychecksforvldbs_spark.expectations import expectations_for
    from integritychecksforvldbs_spark.operators.kernels import checktable_sql, sql_frame
    from integritychecksforvldbs_spark.sources.bucketing import (
        bucketed_mirror,
        plan_data_shuffles,
    )

    wh = tmp_path_factory.mktemp("wh_ct")
    li = load_table(spark, f"{SF_DIR}/lineitem.parquet")
    exp = expectations_for("lineitem")
    bucketed = bucketed_mirror(
        spark, li, "lineitem_pk_b", ["l_orderkey", "l_linenumber"], 8,
        path=str(wh / "lineitem_pk_b"),
    )
    def checktable(df):
        return sql_frame(spark, checktable_sql(exp), {"lineitem": df})

    try:
        assert plan_data_shuffles(checktable(bucketed)) == 0
        assert plan_data_shuffles(checktable(li)) > 0  # control
        # identical counters either way
        assert checktable(bucketed).collect() == checktable(li).collect()
    finally:
        spark.sql("DROP TABLE IF EXISTS lineitem_pk_b")


def test_fk_orphan_probe_cobucketed_no_data_shuffle(spark, tmp_path_factory):
    """The FK-orphan anti-join between lineitem and orders co-bucketed
    on the key plans ZERO data shuffles (merge join straight off the
    buckets) and returns the same counts as the plain-parquet path."""
    from integritychecksforvldbs_spark.expectations import (
        ForeignKey,
        TableExpectations,
    )
    from integritychecksforvldbs_spark.operators.kernels import checktable_sql, sql_frame
    from integritychecksforvldbs_spark.sources.bucketing import (
        bucketed_mirror,
        plan_data_shuffles,
    )

    wh = tmp_path_factory.mktemp("wh_fk")
    li = load_table(spark, f"{SF_DIR}/lineitem.parquet")
    orders = load_table(spark, f"{SF_DIR}/orders.parquet")
    li_b = bucketed_mirror(
        spark, li, "lineitem_fk_b", ["l_orderkey"], 8,
        path=str(wh / "lineitem_fk_b"), sort_cols=["l_orderkey"],
    )
    o_b = bucketed_mirror(
        spark, orders, "orders_fk_b", ["o_orderkey"], 8,
        path=str(wh / "orders_fk_b"), sort_cols=["o_orderkey"],
    )
    exp = TableExpectations(
        table="lineitem",
        foreign_keys=[ForeignKey(["l_orderkey"], "orders", ["o_orderkey"])],
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # the FK count alone, as an anti-join arm (no broadcast parent)
        text = checktable_sql(exp, counters=False, broadcast_parents=set())
        probe = sql_frame(spark, text, {"lineitem": li_b, "orders": o_b})
        assert plan_data_shuffles(probe) == 0
        plain = sql_frame(spark, text, {"lineitem": li, "orders": orders})
        assert plan_data_shuffles(plain) > 0  # control
        assert probe.collect() == plain.collect()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS lineitem_fk_b")
        spark.sql("DROP TABLE IF EXISTS orders_fk_b")


def test_salted_agg_equals_plain(spark):
    ev = load_table(spark, f"{SF_DIR}/events.parquet")
    got = {
        r["event_type"]: (r["n"], r["total"], r["mx"])
        for r in salted_agg(
            ev,
            ["event_type"],
            {"n": ("count", "*"), "total": ("sum", "value"), "mx": ("max", "value")},
            n_salts=8,
        ).collect()
    }
    want = {
        r["event_type"]: (r["n"], r["total"], r["mx"])
        for r in ev.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("value").alias("total"),
            F.max("value").alias("mx"),
        )
        .collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0]
        assert got[k][2] == want[k][2]
        assert abs(got[k][1] - want[k][1]) < 1e-6  # FP sum order differs


def test_salted_agg_rejects_nonalgebraic(spark):
    ev = load_table(spark, f"{SF_DIR}/events.parquet")
    with pytest.raises(ValueError, match="does not decompose"):
        salted_agg(ev, ["event_type"], {"d": ("countDistinct", "user_id")})


# ---------------------------------------------------------------------------
# runtime bloom-filter join pruning
# ---------------------------------------------------------------------------


def test_runtime_bloom_filter_prunes_selective_join(spark):
    """At cluster scale Spark injects a runtime bloom filter on the
    probe side of a selective shuffle join (fact rows that cannot match
    the filtered dim are dropped BEFORE the shuffle).  The default
    thresholds (10 GB probe scan) suppress it at fixture scale, so pin
    the capability by lowering them on a cloned session and assert (a)
    the filter is injected for this engine's fact⋈filtered-dim shape
    and (b) results are bit-identical with and without it.
    """
    from integritychecksforvldbs_spark.plans.audit import plan_audit

    s2 = spark.newSession()
    s2.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "0",
    )
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

    def q(sess):
        o = load_table(sess, f"{SF_DIR}/orders.parquet").filter(
            "o_orderpriority = '1-URGENT'"
        )
        li = load_table(sess, f"{SF_DIR}/lineitem.parquet")
        return (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
        )

    with_bloom = q(s2)
    assert plan_audit(with_bloom).bloom_filters > 0

    s3 = spark.newSession()
    s3.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
    s3.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    without = q(s3)
    assert plan_audit(without).bloom_filters == 0

    assert sorted(map(tuple, with_bloom.collect())) == sorted(
        map(tuple, without.collect())
    )
