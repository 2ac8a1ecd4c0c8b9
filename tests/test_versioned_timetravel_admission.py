"""TIMESTAMP AS OF time travel + streaming admission control.

Commit bodies record ``committed_at`` (epoch seconds); manifests
predating it fall back to the artifact's mtime — the Delta
TIMESTAMP AS OF resolution rule.  The streaming source gains
``maxVersionsPerTrigger``/``maxFilesPerTrigger`` so a commit burst
drains as bounded micro-batches; the first trigger of a reader
instance is deliberately uncapped (the reader cannot see the
checkpoint, and a capped first offset could regress below it).
"""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from integritychecksforvldbs_spark.sources import versioned
from integritychecksforvldbs_spark.sources import versioned_datasource as vds


def _mk(spark, lo, hi):
    return spark.range(lo, hi).select(F.col("id").alias("k"))


def _ks(df):
    return sorted(r["k"] for r in df.collect())


# ---------------------------------------------------------------------------
# TIMESTAMP AS OF
# ---------------------------------------------------------------------------


def test_read_as_of_timestamp(spark, tmp_path):
    path = str(tmp_path / "tbl")
    versioned.commit(spark, _mk(spark, 0, 5), path)
    t1 = time.time()
    time.sleep(0.05)
    versioned.commit(spark, _mk(spark, 5, 10), path)
    assert versioned.version_at(path, t1) == 1
    assert _ks(versioned.read(spark, path, timestamp=t1)) == list(range(5))
    assert _ks(versioned.read(spark, path, timestamp=time.time())) == list(
        range(10)
    )
    with pytest.raises(FileNotFoundError, match="committed at or before"):
        versioned.version_at(path, t1 - 3600)
    with pytest.raises(ValueError, match="not both"):
        versioned.read(spark, path, version=1, timestamp=t1)


def test_history_exposes_monotone_commit_times(spark, tmp_path):
    path = str(tmp_path / "tbl")
    for i in range(3):
        versioned.commit(spark, _mk(spark, i, i + 1), path)
    ts = [vi.committed_at for vi in versioned.history(path)]
    assert all(t is not None for t in ts)
    assert ts == sorted(ts)


def test_legacy_manifest_falls_back_to_artifact_mtime(spark, tmp_path):
    path = str(tmp_path / "tbl")
    versioned.commit(spark, _mk(spark, 0, 3), path)
    # simulate a pre-timestamp manifest: strip the recorded field
    import json
    import os

    f = os.path.join(path, "_versions", "v0000000001.json")
    man = json.load(open(f))
    del man["committed_at"]
    json.dump(man, open(f, "w"))
    old = time.time() - 500
    os.utime(f, (old, old))
    assert versioned.version_at(path, time.time() - 250) == 1
    with pytest.raises(FileNotFoundError):
        versioned.version_at(path, time.time() - 1000)


def test_datasource_timestamp_option(spark, tmp_path):
    vds.register(spark)
    path = str(tmp_path / "tbl")
    versioned.commit(spark, _mk(spark, 0, 5), path)
    t1 = time.time()
    time.sleep(0.05)
    versioned.commit(spark, _mk(spark, 5, 10), path)
    got = (
        spark.read.format("versioned")
        .option("timestamp", t1)
        .load(path)
    )
    assert _ks(got) == list(range(5))
    with pytest.raises(Exception, match="not both"):
        (
            spark.read.format("versioned")
            .option("timestamp", t1)
            .option("version", 2)
            .load(path)
            .collect()
        )


# ---------------------------------------------------------------------------
# streaming admission control
# ---------------------------------------------------------------------------


def _reader(path, **kw):
    from pyspark.sql.types import LongType, StructField, StructType

    return vds._VersionedStreamReader(
        path, 0, StructType([StructField("k", LongType(), True)]), **kw
    )


def test_max_versions_per_trigger_bounds_steady_state(spark, tmp_path):
    path = str(tmp_path / "tbl")
    for i in range(4):
        versioned.commit(spark, _mk(spark, i, i + 1), path)
    r = _reader(path, max_versions=2)
    # first call: uncapped catch-up (checkpoint-safety rule)
    assert r.latestOffset() == {"version": 4}
    for i in range(4, 9):
        versioned.commit(spark, _mk(spark, i, i + 1), path)
    # steady state: at most 2 versions per trigger
    assert r.latestOffset() == {"version": 6}
    assert r.latestOffset() == {"version": 8}
    assert r.latestOffset() == {"version": 9}
    assert r.latestOffset() == {"version": 9}  # caught up: no progress


def test_max_files_per_trigger_bounds_steady_state(spark, tmp_path):
    path = str(tmp_path / "tbl")
    versioned.commit(spark, _mk(spark, 0, 1).coalesce(1), path)
    r = _reader(path, max_files=3)
    assert r.latestOffset() == {"version": 1}  # uncapped first call
    # six more single-file commits land in a burst
    for i in range(1, 7):
        versioned.commit(spark, _mk(spark, i, i + 1).coalesce(1), path)
    # ~3 files admitted per trigger
    assert r.latestOffset() == {"version": 4}
    assert r.latestOffset() == {"version": 7}
    # every admitted batch resolves
    assert len(r._files_between(1, 4)) == 3
    assert len(r._files_between(4, 7)) == 3


def test_oversized_single_commit_still_progresses(spark, tmp_path):
    path = str(tmp_path / "tbl")
    versioned.commit(spark, _mk(spark, 0, 1).coalesce(1), path)
    r = _reader(path, max_files=1)
    assert r.latestOffset() == {"version": 1}
    # one commit with MANY files: must still be admitted whole
    versioned.commit(spark, _mk(spark, 1, 9).repartition(8), path)
    assert r.latestOffset() == {"version": 2}


def test_replayed_batch_pins_floor_for_later_caps(spark, tmp_path):
    path = str(tmp_path / "tbl")
    for i in range(8):
        versioned.commit(spark, _mk(spark, i, i + 1).coalesce(1), path)
    r = _reader(path, max_versions=2)
    # Spark replays an in-flight batch on restart BEFORE any
    # latestOffset: the reader learns the checkpoint floor from it
    r.partitions({"version": 5}, {"version": 6})
    # subsequent triggers cap from that floor, never below it
    assert r.latestOffset() == {"version": 8}


def test_rollback_to_timestamp(spark, tmp_path):
    path = str(tmp_path / "tbl")
    versioned.commit(spark, _mk(spark, 0, 3), path)
    t1 = time.time()
    time.sleep(0.05)
    versioned.commit(spark, _mk(spark, 3, 6), path)
    v = versioned.rollback(spark, path, timestamp=t1)
    assert v == 3
    assert _ks(versioned.read(spark, path)) == [0, 1, 2]
    with pytest.raises(ValueError, match="not both"):
        versioned.rollback(spark, path, version=1, timestamp=t1)
    with pytest.raises(ValueError, match="needs a version"):
        versioned.rollback(spark, path)


def test_version_at_reads_o_versions_after_timestamp(
    spark, tmp_path, monkeypatch
):
    path = str(tmp_path / "tbl")
    for i in range(12):
        versioned.commit(spark, _mk(spark, i, i + 1), path)
    ts_latest = versioned._committed_at(
        path, 12, versioned._read_manifest(path, 12)
    )
    reads = []
    orig = versioned._read_manifest

    def spy(p, v):
        reads.append(v)
        return orig(p, v)

    monkeypatch.setattr(versioned, "_read_manifest", spy)
    assert versioned.version_at(path, ts_latest + 1.0) == 12
    # newest-first with early stop: one manifest read, not twelve
    assert len(reads) == 1 and reads[0] == 12
    reads.clear()
    ts_v10 = versioned._committed_at(
        path, 10, versioned._read_manifest(path, 10)
    )
    monkeypatch.setattr(versioned, "_read_manifest", spy)
    assert versioned.version_at(path, ts_v10) == 10
    assert set(reads) == {12, 11, 10}


def test_version_at_still_errors_before_first_commit(spark, tmp_path):
    path = str(tmp_path / "tbl")
    versioned.commit(spark, _mk(spark, 0, 3), path)
    ts = versioned._committed_at(path, 1, versioned._read_manifest(path, 1))
    with pytest.raises(FileNotFoundError):
        versioned.version_at(path, ts - 100.0)
