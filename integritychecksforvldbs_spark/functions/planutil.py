"""Logical-plan hygiene helpers.

Iterative and composed pipelines (label-propagation clustering, the
curation funnel) build DataFrames whose LOGICAL plan re-derives every
upstream stage even when execution is bounded by per-stage persists:
the returned frame replays the whole chain on any cache eviction or
re-execution, and Catalyst pays optimization time proportional to the
accumulated plan (round-4 audit: the funnel's returned frame compiled
to a 12,848-scan plan).  The fix is to truncate lineage at stage
boundaries so the frame's plan is stage-local.

:func:`scoped_conf` is the one way session settings change for a
block of work.
"""

from __future__ import annotations

import threading
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

# session settings are global to the session, not to a thread
_CONF_LOCK = threading.RLock()


@contextmanager
def scoped_conf(spark: SparkSession, conf: dict[str, str]) -> Iterator[None]:
    """Set ``conf`` on the session for the block, then put back what
    was there on entry.

    A key that had a value, including one the session was built with,
    is restored with ``set(previous)``, never ``unset``: an unset key
    falls back to Spark's built-in default (200 shuffle partitions),
    not the builder's value.  Only a key that was unset is unset again.
    Scopes are serialized across threads, so a kernel thread that
    outlives its lock timeout restores before the next command reads
    the "previous" values.
    """
    if not conf:
        yield
        return
    with _CONF_LOCK:
        prev = {k: spark.conf.get(k, None) for k in conf}
        for k, v in conf.items():
            spark.conf.set(k, v)
        try:
            yield
        finally:
            for k, v in prev.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)


def truncate_lineage(df: DataFrame, rebalance: bool = False) -> DataFrame:
    """Materialize ``df`` and return a frame whose plan is a scan of
    the materialized blocks (``localCheckpoint(eager=True)``) —
    downstream plans stop compounding.

    Trade-off vs ``persist()``: persist keeps lineage (recomputable
    after executor loss, plan still grows); localCheckpoint drops
    lineage (plan is flat, but blocks lost with their executor — a
    lost block fails the job instead of recomputing).  That is the
    right trade INSIDE an iterative stage whose recompute would replay
    the entire chain anyway; long-lived results that must survive
    executor churn on a real cluster should be written to storage
    instead (``reliable`` checkpoint or parquet).  Blocks are
    reclaimed by the ContextCleaner once the frame is unreachable —
    do NOT ``unpersist()`` a checkpointed frame (that would destroy
    its only copy).

    ``rebalance=True`` restores cluster parallelism when the
    materialized frame collapsed below it: AQE rightly coalesces a
    shrunken join output to one small partition, but a checkpoint
    FREEZES that layout, and every CPU-heavy consumer downstream
    (gram building, signatures) then runs on one core (measured: the
    curation funnel's dedup+decontamination stages ran 11 s
    single-threaded on a 1-partition survivors frame).  The check
    fires only when partitions < defaultParallelism — which at scale
    implies the frame is at most cores × the AQE advisory size, so
    the extra round-robin shuffle is bounded by construction.
    """
    out = df.localCheckpoint(eager=True)
    if rebalance:
        p = out.sparkSession.sparkContext.defaultParallelism
        if out.rdd.getNumPartitions() < p:
            out = out.repartition(p).localCheckpoint(eager=True)
    return out


def local_relation(spark, rows, fields: list[tuple[str, str]]) -> DataFrame:
    """A driver-literal DataFrame as a pure JVM LocalRelation
    (``SELECT * FROM VALUES ...``).  ``spark.createDataFrame(list)``
    routes a Python RDD through pickled rows and Python workers
    (``applySchemaToPythonRDD`` in the plan) — every ACTION re-spins
    workers even for a 10-row relation (~0.26 s per frame measured);
    a VALUES relation evaluates JVM-side with no job at all and
    broadcasts directly.  ``fields``: (name, DDL type) pairs; every
    literal is CAST so the schema is exact.  Metadata-sized inputs
    only (the text is part of the plan)."""
    from pyspark.sql import functions as F

    import math

    def lit(v) -> str:
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, int):
            return repr(v)
        if isinstance(v, float):
            # bare nan/inf tokens parse as column references and fail
            # analysis; the string forms cast exactly (a NaN embedding
            # norm is a realistic corrupt-vector sentinel)
            if math.isnan(v):
                return "'NaN'"
            if math.isinf(v):
                return "'Infinity'" if v > 0 else "'-Infinity'"
            return repr(v)  # repr round-trips finite doubles exactly
        if type(v).__module__ == "numpy" and hasattr(v, "item"):
            return lit(v.item())  # numpy scalar → python scalar
        if isinstance(v, (list, tuple)):
            return "ARRAY(" + ", ".join(lit(x) for x in v) + ")"
        s = str(v).replace("\\", "\\\\").replace("'", "\\'")
        return f"'{s}'"

    if not rows:
        ddl = ", ".join(f"{n} {t}" for n, t in fields)
        return spark.createDataFrame([], ddl)
    body = ", ".join(
        "("
        + ", ".join(
            f"CAST({lit(v)} AS {t})" for v, (_, t) in zip(r, fields)
        )
        + ")"
        for r in rows
    )
    names = ", ".join(n for n, _ in fields)
    return spark.sql(f"SELECT * FROM VALUES {body} AS t({names})")


def fan_out(df: DataFrame) -> DataFrame:
    """Round-robin repartition to cluster parallelism IFF the frame's
    current partitioning sits below it.

    Small reference-scale inputs (a single-row-group parquet file, an
    AQE-coalesced intermediate) plan as one scan task, so CPU-heavy
    per-row pipelines downstream (gram building, signatures, hashing)
    run on one core regardless of cluster size.  The repartition
    shuffles the payload once — bounded by construction, because it
    only fires when the input has fewer partitions than cores, which
    at 100 TB means the input is small (a large scan already splits
    into ≥ cores tasks).  Round-robin keeps results identical: every
    consumer here is row-local work feeding keyed aggregations/joins.
    """
    p = df.sparkSession.sparkContext.defaultParallelism
    try:
        cur = df.rdd.getNumPartitions()
    except Exception:  # un-plannable input (streaming frame): leave as-is
        return df
    return df.repartition(p) if cur < p else df
