"""Python Data Source binding for versioned tables
(sources/versioned_datasource.py): batch format parity with
versioned.read, and the streaming reader whose offsets are table
versions — incremental delivery, checkpoint restart, append-only
contract."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from integritychecksforvldbs_spark.sources import versioned
from integritychecksforvldbs_spark.sources import versioned_datasource as vds


@pytest.fixture()
def registered(spark):
    vds.register(spark)
    return spark


def _mk(spark, lo, hi):
    return spark.range(lo, hi).select(F.col("id").alias("k"))


def _ks(df):
    return sorted(r["k"] for r in df.collect())


def test_batch_format_matches_native_read(registered, tmp_path):
    spark = registered
    path = str(tmp_path / "tbl")
    versioned.commit(spark, _mk(spark, 0, 10), path)
    versioned.commit(spark, _mk(spark, 10, 15), path)
    got = spark.read.format("versioned").load(path)
    assert got.schema == versioned.read(spark, path).schema
    assert _ks(got) == list(range(15))
    # time travel through the format option
    v1 = spark.read.format("versioned").option("version", 1).load(path)
    assert _ks(v1) == list(range(10))


def test_stream_delivers_each_commit_once(registered, tmp_path):
    spark = registered
    path = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    versioned.commit(spark, _mk(spark, 0, 5), path)

    def run():
        (
            spark.readStream.format("versioned").load(path)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    run()
    assert _ks(spark.read.parquet(out)) == list(range(5))
    # two more commits land; a restarted stream emits ONLY them —
    # the checkpointed offset is the manifest version
    versioned.commit(spark, _mk(spark, 5, 8), path)
    versioned.commit(spark, _mk(spark, 8, 9), path)
    run()
    assert _ks(spark.read.parquet(out)) == list(range(9))
    # idle restart: nothing new, nothing re-emitted
    run()
    assert _ks(spark.read.parquet(out)) == list(range(9))


def test_stream_starting_version_skips_backlog(registered, tmp_path):
    spark = registered
    path = str(tmp_path / "tbl")
    versioned.commit(spark, _mk(spark, 0, 5), path)
    versioned.commit(spark, _mk(spark, 5, 7), path)
    out = str(tmp_path / "out")
    (
        spark.readStream.format("versioned")
        .option("startingVersion", 1)
        .load(path)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    assert _ks(spark.read.parquet(out)) == [5, 6]


def test_stream_refuses_overwrite_commits(registered, tmp_path):
    spark = registered
    path = str(tmp_path / "tbl")
    versioned.commit(spark, _mk(spark, 0, 5), path)
    versioned.commit(spark, _mk(spark, 100, 102), path, mode="overwrite")
    from pyspark.errors import StreamingQueryException

    with pytest.raises(StreamingQueryException) as ei:
        (
            spark.readStream.format("versioned").load(path)
            .writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    assert "non-append commit" in str(ei.value)


def test_versioned_to_versioned_exactly_once(registered, tmp_path):
    """End-to-end: versioned streaming source → versioned_batch_sink.
    Replaying the whole pipeline re-delivers nothing: the source's
    checkpoint offset and the sink's batch_id-in-manifest are both
    idempotence ledgers."""
    spark = registered
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    ckpt = str(tmp_path / "ckpt")
    versioned.commit(spark, _mk(spark, 0, 4), src)

    def run():
        (
            spark.readStream.format("versioned").load(src)
            .writeStream.foreachBatch(versioned.versioned_batch_sink(dst))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    run()
    versioned.commit(spark, _mk(spark, 4, 6), src)
    run()
    run()  # idle replay
    assert _ks(versioned.read(spark, dst)) == list(range(6))


def test_pyds_reads_evolved_table_nullfilled(registered, tmp_path):
    """format('versioned') plans against the manifest schema after an
    allow_schema_change append: old files null-fill the new column in
    the Arrow path exactly as the native read does."""
    spark = registered
    p = str(tmp_path / "tbl")
    versioned.commit(spark, spark.range(3).selectExpr("id AS k"), p)
    versioned.commit(
        spark,
        spark.range(10, 12).selectExpr("id AS k", "id * 2 AS extra"),
        p,
        allow_schema_change=True,
    )
    got = spark.read.format("versioned").load(p)
    assert got.columns == ["k", "extra"]
    rows = {r["k"]: r["extra"] for r in got.collect()}
    assert rows == {0: None, 1: None, 2: None, 10: 20, 11: 22}
    native = {
        r["k"]: r["extra"] for r in versioned.read(spark, p).collect()
    }
    assert rows == native


def test_stream_skip_change_commits_survives_dml(registered, tmp_path):
    """skipChangeCommits (r9; Delta's option of the same name): a
    stream over a MUTATING table keeps running append-only — DML
    versions (here a deletion-vector delete and a copy-path update)
    contribute nothing, later appends still arrive exactly once."""
    spark = registered
    path = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    versioned.commit(spark, _mk(spark, 0, 5), path)

    def run():
        (
            spark.readStream.format("versioned")
            .option("skipChangeCommits", "true")
            .load(path)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    run()
    assert _ks(spark.read.parquet(out)) == list(range(5))
    versioned.delete_where(spark, path, "k = 2", strategy="dv")
    versioned.commit(spark, _mk(spark, 5, 8), path)
    versioned.delete_where(spark, path, "k = 6", strategy="copy")
    run()
    # the appends arrived; neither delete replayed or re-emitted rows
    assert _ks(spark.read.parquet(out)) == list(range(8))
    # and WITHOUT the option the same table still fails loudly
    from pyspark.sql.types import LongType, StructField, StructType

    from integritychecksforvldbs_spark.sources.versioned_datasource import (
        _VersionedStreamReader,
    )

    r = _VersionedStreamReader(
        path, 0, StructType([StructField("k", LongType(), True)])
    )
    with pytest.raises(ValueError, match="skipChangeCommits"):
        r._files_between(0, versioned._latest_committed(path)[0])


def test_stream_read_change_feed_matches_batch_changes(
    registered, tmp_path
):
    """readChangeFeed (r9): the CDF STREAM over appends + merge-on-read
    DML equals the batch versioned.changes() feed, with
    _commit_version attributing every row to its commit."""
    spark = registered
    path = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    versioned.commit(
        spark,
        spark.range(0, 10).selectExpr("id as k", "id * 2 as v"),
        path,
    )  # v1
    versioned.delete_where(spark, path, "k in (2, 3)", strategy="dv")  # v2
    versioned.commit(
        spark,
        spark.range(10, 13).selectExpr("id as k", "id * 2 as v"),
        path,
    )  # v3
    versioned.update_where(
        spark, path, "k = 5", {"v": "v + 100"}, strategy="dv"
    )  # v4

    (
        spark.readStream.format("versioned")
        .option("readChangeFeed", "true")
        .load(path)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    got = spark.read.parquet(out)
    rows = sorted(
        (r["_commit_version"], r["_change_type"], r["k"], r["v"])
        for r in got.collect()
    )
    expect = sorted(
        [(1, "insert", k, 2 * k) for k in range(10)]
        + [(2, "delete", 2, 4), (2, "delete", 3, 6)]
        + [(3, "insert", k, 2 * k) for k in (10, 11, 12)]
        + [(4, "delete", 5, 10), (4, "insert", 5, 110)]
    )
    assert rows == expect
    # per-COMMIT agreement with the batch feed (the stream is
    # per-commit; batch changes() over a wider range reports the NET
    # diff, where an insert-then-delete cancels)
    for v in (1, 2, 3, 4):
        batch = sorted(
            (r["_change_type"], r["k"], r["v"])
            for r in versioned.changes(spark, path, v - 1, v).collect()
        )
        stream = sorted(
            (r["_change_type"], r["k"], r["v"])
            for r in got.filter(
                F.col("_commit_version") == v
            ).collect()
        )
        assert stream == batch, v
    # and APPLYING the whole stream reproduces the latest snapshot
    state: dict = {}
    for _v, ctype, k, val in rows:
        if ctype == "insert":
            state[(k, val)] = state.get((k, val), 0) + 1
        else:
            state[(k, val)] -= 1
    applied = sorted(kv for kv, n in state.items() for _ in range(n))
    latest = sorted(
        (r["k"], r["v"])
        for r in versioned.read(spark, path).collect()
    )
    assert applied == latest


def test_stream_change_feed_rejects_copy_rewrites(registered, tmp_path):
    spark = registered
    path = str(tmp_path / "tbl")
    versioned.commit(spark, _mk(spark, 0, 10).coalesce(1), path)
    versioned.delete_where(spark, path, "k = 1", strategy="copy")
    r = _stream_reader_cdf(path)
    with pytest.raises(ValueError, match="not file-local"):
        r._cdf_partitions_between(1, 2)
    # while a whole-file (pure-removal) delete IS expressible
    path2 = str(tmp_path / "tbl2")
    versioned.commit(spark, _mk(spark, 0, 5), path2)
    versioned.commit(spark, _mk(spark, 5, 10), path2)
    versioned.delete_where(spark, path2, "k >= 5")  # drops whole band
    parts = _stream_reader_cdf(path2)._cdf_partitions_between(2, 3)
    assert [p.ctype for p in parts] == ["delete"] * len(parts)


def _stream_reader_cdf(path):
    from pyspark.sql.types import LongType, StructField, StructType

    from integritychecksforvldbs_spark.sources.versioned_datasource import (
        _VersionedStreamReader,
    )

    return _VersionedStreamReader(
        path, 0,
        StructType([StructField("k", LongType(), True)]),
        change_feed=True,
    )


def test_stream_fails_loudly_on_midstream_mapping_change(
    spark, tmp_path
):
    """r10 advice (medium): the reader pins the column mapping at
    construction; files appended after a MID-STREAM mapping change
    (rename / DROP+re-ADD / overwrite reset) bind physical names the
    pinned arrow target cannot see and were silently null-filled.
    Pinned: a version beyond the pin with a different mapping raises
    loudly (Delta's no-schemaTrackingLocation stance — restart to
    re-pin); a benign post-pin append still streams; pre-pin mapping
    history never fires."""
    from integritychecksforvldbs_spark.sources.versioned_datasource import (
        _VersionedStreamReader,
    )

    t = str(tmp_path / "t")
    versioned.commit(
        spark,
        spark.createDataFrame(
            [(1, "a")], "id int, name string"
        ).coalesce(1),
        t,
    )
    reader = _VersionedStreamReader(
        t, 0, versioned.read(spark, t).schema
    )
    # benign post-pin append: same mapping, streams fine
    versioned.commit(
        spark,
        spark.createDataFrame(
            [(2, "b")], "id int, name string"
        ).coalesce(1),
        t,
    )
    assert len(reader._files_between(0, 2)) == 2

    versioned.rename_column(t, "name", "label")  # v3, mapping changes
    versioned.commit(
        spark,
        spark.createDataFrame(
            [(3, "c")], "id int, label string"
        ).coalesce(1),
        t,
    )  # v4: files bind the label physical name
    with pytest.raises(ValueError, match="mid-stream"):
        reader._files_between(2, 4)

    # a reader constructed AFTER the rename pins the new mapping and
    # replays the whole history (physical names stable at or before
    # the pin)
    fresh = _VersionedStreamReader(
        t, 0, versioned.read(spark, t).schema
    )
    assert len(fresh._files_between(0, 4)) == 3


def test_cdf_stream_fails_loudly_on_midstream_mapping_change(
    spark, tmp_path
):
    t = str(tmp_path / "t")
    versioned.commit(spark, _mk(spark, 0, 5), t)
    reader = _stream_reader_cdf(t)
    versioned.rename_column(t, "k", "kk")  # v2
    versioned.commit(
        spark,
        spark.range(5, 8).select(F.col("id").alias("kk")),
        t,
    )  # v3
    with pytest.raises(ValueError, match="mid-stream"):
        reader._cdf_partitions_between(1, 3)


# ---------------------------------------------------------------------------
# schema tracking (r12; VERDICT r11 #5 — Delta's schemaTrackingLocation)
# ---------------------------------------------------------------------------


def test_schema_tracking_resumes_across_rename(spark, tmp_path):
    """kill → RENAME → restart: the restarted reader validates the
    rename against the tracked bindings (same physical, same type
    under a new logical name) and resumes; the tracking file is
    re-pinned to the new state."""
    import json

    from integritychecksforvldbs_spark.sources.versioned_datasource import (
        _VersionedStreamReader,
    )

    t = str(tmp_path / "t")
    track = str(tmp_path / "track")
    versioned.commit(
        spark,
        spark.createDataFrame([(1, "a")], "id int, name string"),
        t,
    )
    r1 = _VersionedStreamReader(
        t, 0, versioned.read(spark, t).schema, schema_tracking_dir=track
    )
    assert len(r1._files_between(0, 1)) >= 1
    state1 = json.load(open(f"{track}/schema_tracking.json"))
    assert state1["columns"]["name"][0] == "name"
    # stream dies; the table renames and appends while it is down
    versioned.rename_column(t, "name", "label")
    versioned.commit(
        spark,
        spark.createDataFrame([(2, "b")], "id int, label string"),
        t,
    )
    r2 = _VersionedStreamReader(
        t, 0, versioned.read(spark, t).schema, schema_tracking_dir=track
    )  # resumes: pure rename
    assert len(r2._files_between(0, 3)) >= 2
    state2 = json.load(open(f"{track}/schema_tracking.json"))
    assert "label" in state2["columns"] and "name" not in state2["columns"]
    assert state2["columns"]["label"][0] == "name"  # physical stable


def test_schema_tracking_refuses_rebind_on_restart(spark, tmp_path):
    """DROP+re-ADD binds the same logical name to a FRESH physical
    column: without tracking a restarted reader silently null-fills
    the old files; with tracking the restart is refused loudly."""
    import pytest as _pytest

    from integritychecksforvldbs_spark.sources.versioned_datasource import (
        _VersionedStreamReader,
    )

    t = str(tmp_path / "t")
    track = str(tmp_path / "track")
    versioned.commit(
        spark,
        spark.createDataFrame([(1, "a")], "id int, name string"),
        t,
    )
    _VersionedStreamReader(
        t, 0, versioned.read(spark, t).schema, schema_tracking_dir=track
    )
    versioned.drop_column(t, "name")
    versioned.add_column(t, "name", "string")  # fresh physical name
    with _pytest.raises(ValueError, match="fresh checkpoint"):
        _VersionedStreamReader(
            t, 0, versioned.read(spark, t).schema,
            schema_tracking_dir=track,
        )
    # without the tracking dir the old (unsafe-on-rebind) behavior is
    # untouched — construction succeeds
    _VersionedStreamReader(t, 0, versioned.read(spark, t).schema)


def test_schema_tracking_allows_adds_and_drops(spark, tmp_path):
    from integritychecksforvldbs_spark.sources.versioned_datasource import (
        _VersionedStreamReader,
    )

    t = str(tmp_path / "t")
    track = str(tmp_path / "track")
    versioned.commit(
        spark,
        spark.createDataFrame([(1, "a")], "id int, name string"),
        t,
    )
    _VersionedStreamReader(
        t, 0, versioned.read(spark, t).schema, schema_tracking_dir=track
    )
    versioned.add_column(t, "extra", "long")
    _VersionedStreamReader(
        t, 0, versioned.read(spark, t).schema, schema_tracking_dir=track
    )
    versioned.drop_column(t, "extra")
    _VersionedStreamReader(
        t, 0, versioned.read(spark, t).schema, schema_tracking_dir=track
    )


def test_schema_tracking_e2e_kill_rename_restart(registered, tmp_path):
    """The verdict's done-criterion e2e: a checkpointed stream with
    schemaTrackingLocation delivers, dies, the table RENAMES and
    appends, and the restarted stream resumes past the rename with
    correct VALUES (no null-fill) and no re-delivery."""
    spark = registered
    path = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    track = str(tmp_path / "track")
    got: list[tuple] = []

    def run():
        (
            spark.readStream.format("versioned")
            .option("schemaTrackingLocation", track)
            .load(path)
            .writeStream.foreachBatch(
                lambda df, _eid: got.extend(
                    tuple(r) for r in df.collect()
                )
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    versioned.commit(
        spark,
        spark.createDataFrame([(1, "a"), (2, "b")], "id int, name string"),
        path,
    )
    run()
    assert sorted(got) == [(1, "a"), (2, "b")]
    versioned.rename_column(path, "name", "label")
    versioned.commit(
        spark,
        spark.createDataFrame([(3, "c")], "id int, label string"),
        path,
    )
    run()  # restarted reader validates the rename and resumes
    assert sorted(got) == [(1, "a"), (2, "b"), (3, "c")]


def _stream_reader(path, starting_version=0):
    from pyspark.sql.types import LongType, StructField, StructType

    from integritychecksforvldbs_spark.sources.versioned_datasource import (
        _VersionedStreamReader,
    )

    return _VersionedStreamReader(
        path, starting_version,
        StructType([StructField("k", LongType(), True)]),
    )


def test_latest_offset_raises_on_vacuumed_hole(spark, tmp_path):
    path = str(tmp_path / "tbl")
    versioned.commit(spark, _mk(spark, 0, 3), path)
    versioned.commit(spark, _mk(spark, 3, 6), path)
    versioned.commit(spark, _mk(spark, 6, 9), path)
    os.unlink(os.path.join(path, "_versions", "v0000000002.json"))
    r = _stream_reader(path)
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        r.latestOffset()


def test_latest_offset_stops_below_unlinked_body(spark, tmp_path):
    """A tmp body at the next slot (a commit in flight, or one that
    died before its link) is not a version: the offset stays at the
    last committed version without raising, and advances once the
    slot really commits."""
    path = str(tmp_path / "tbl")
    versioned.commit(spark, _mk(spark, 0, 3), path)
    with open(
        os.path.join(path, "_versions", ".tmp-v0000000002-deadbeef"), "w"
    ) as f:
        f.write('{"version": 2, "mode": "append", "files": []}')
    r = _stream_reader(path)
    assert r.latestOffset() == {"version": 1}
    versioned.commit(spark, _mk(spark, 3, 6), path)
    assert r.latestOffset() == {"version": 2}
    assert len(r._files_between(1, 2)) > 0


def test_restarted_stream_survives_vacuum_behind_checkpoint(
    spark, tmp_path
):
    """Twelve commits (checkpoint at v10), vacuum retains the last
    two: a reader whose checkpoint (batch start) is past the vacuumed
    range must keep running — latestOffset seeds at the retained
    horizon instead of raising on the expired hole."""
    path = str(tmp_path / "tbl")
    for i in range(12):
        versioned.commit(spark, _mk(spark, i * 3, (i + 1) * 3), path)
    versioned.vacuum(path, keep_versions=2, min_age_s=0)
    # v11 checkpointed, chain expired: only the retained tail remains
    assert versioned._versions(path) == [11, 12]
    r = _stream_reader(path)  # a RESTART re-instantiates the reader
    assert r.latestOffset() == {"version": 12}
    # the batch its checkpoint actually needs resolves fine
    files = r._files_between(11, 12)
    assert len(files) >= 1
    # a second trigger keeps working (frontier caches past the hole)
    assert r.latestOffset() == {"version": 12}


def test_replay_from_vacuumed_range_still_fails_loudly(spark, tmp_path):
    """The loud error lives where it belongs: a batch RANGE that needs
    an expired manifest cannot be served and must not be skipped."""
    path = str(tmp_path / "tbl")
    for i in range(12):
        versioned.commit(spark, _mk(spark, i * 3, (i + 1) * 3), path)
    versioned.vacuum(path, keep_versions=2, min_age_s=0)
    r = _stream_reader(path)
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        r._files_between(0, 12)


def test_mid_log_hole_still_raises(spark, tmp_path):
    """An EXTERNALLY damaged log (hole between retained manifests) is
    not the vacuum case and still fails loudly at latestOffset."""
    path = str(tmp_path / "tbl")
    for i in range(3):
        versioned.commit(spark, _mk(spark, i * 3, (i + 1) * 3), path)
    os.unlink(os.path.join(path, "_versions", "v0000000002.json"))
    r = _stream_reader(path)
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        r.latestOffset()
