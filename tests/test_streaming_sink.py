"""Exactly-once foreachBatch sinks: idempotent under batch replay,
correct under incremental arrival."""

import json
import os
import shutil
import sys
import tempfile

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, "/root/repo")

from integritychecksforvldbs_spark.sources.catalog import rename_or_raise  # noqa: E402
from integritychecksforvldbs_spark.sources.loader import load_table  # noqa: E402
from integritychecksforvldbs_spark.streaming import freshness, sink  # noqa: E402
from tests.conftest import SF_DIR  # noqa: E402


@pytest.fixture()
def stream_dir():
    d = tempfile.mkdtemp(prefix="sink_stream_")
    shutil.copy(f"{SF_DIR}/events.parquet", os.path.join(d, "part-000.parquet"))
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _counts_stream(spark, stream_dir):
    return (
        freshness.events_stream(spark, stream_dir)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    )


def test_upsert_sink_end_to_end_and_incremental(spark, stream_dir, tmp_path):
    state = str(tmp_path / "counts_state")
    writer = sink.upsert_counts_sink(state, ["event_type"])

    def run():
        q = (
            _counts_stream(spark, stream_dir)
            .writeStream.outputMode("update")
            .foreachBatch(writer)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    batch = load_table(spark, f"{SF_DIR}/events.parquet")
    want = {
        r["event_type"]: r["n"]
        for r in batch.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    got = {
        r["event_type"]: r["n_events"] for r in spark.read.parquet(state).collect()
    }
    assert got == want

    # incremental arrival: append a file, resume from the checkpoint —
    # only the new data processes, state upserts to the doubled counts
    shutil.copy(f"{SF_DIR}/events.parquet", os.path.join(stream_dir, "part-001.parquet"))
    run()
    got2 = {
        r["event_type"]: r["n_events"] for r in spark.read.parquet(state).collect()
    }
    assert got2 == {k: 2 * v for k, v in want.items()}


def test_upsert_sink_replay_is_noop(spark, tmp_path):
    state = str(tmp_path / "state")
    writer = sink.upsert_counts_sink(state, ["k"])
    df = spark.createDataFrame([("a", 3), ("b", 5)], "k string, n_events long")
    writer(df, 0)
    before = sorted(map(tuple, spark.read.parquet(state).collect()))
    # replay of the SAME batch id (even with different rows — the
    # ledger wins) must change nothing
    writer(spark.createDataFrame([("a", 999)], "k string, n_events long"), 0)
    after = sorted(map(tuple, spark.read.parquet(state).collect()))
    assert before == after == [("a", 3), ("b", 5)]
    # a NEW batch id upserts: replaces 'a', inserts 'c'
    writer(
        spark.createDataFrame([("a", 7), ("c", 1)], "k string, n_events long"), 1
    )
    assert sorted(map(tuple, spark.read.parquet(state).collect())) == [
        ("a", 7),
        ("b", 5),
        ("c", 1),
    ]


def test_partitioned_batch_sink_overwrites_on_replay(spark, tmp_path):
    out = str(tmp_path / "out")
    writer = sink.partitioned_batch_sink(out)
    writer(spark.createDataFrame([(1,)], "v long"), 7)
    writer(spark.createDataFrame([(2,), (3,)], "v long"), 7)  # replay
    got = sorted(r["v"] for r in spark.read.parquet(f"{out}/batch_id=7").collect())
    assert got == [2, 3]  # second write replaced, not appended

def test_upsert_sink_null_key_replaced_not_duplicated(spark, tmp_path):
    # NULL keys (expected contamination, e.g. NULL event_type) must
    # upsert like any other key — the anti-join is null-SAFE
    state = str(tmp_path / "state_nullk")
    writer = sink.upsert_counts_sink(state, ["k"])
    writer(spark.createDataFrame([(None, 3), ("a", 1)], "k string, n_events long"), 0)
    writer(spark.createDataFrame([(None, 7)], "k string, n_events long"), 1)
    got = sorted(
        ((r["k"], r["n_events"]) for r in spark.read.parquet(state).collect()),
        key=lambda t: (t[0] is None, t[0]),
    )
    assert got == [("a", 1), (None, 7)]  # one NULL row, replaced


def test_upsert_sink_file_scheme_path(spark, tmp_path):
    # the ledger goes through the Hadoop FS of the state path's scheme,
    # so an explicit file:-scheme URI must work end to end
    state = "file://" + str(tmp_path / "state_uri")
    writer = sink.upsert_counts_sink(state, ["k"])
    writer(spark.createDataFrame([("a", 2)], "k string, n_events long"), 0)
    writer(spark.createDataFrame([("a", 2)], "k string, n_events long"), 0)  # replay
    writer(spark.createDataFrame([("b", 4)], "k string, n_events long"), 1)
    got = sorted(map(tuple, spark.read.parquet(state).collect()))
    assert got == [("a", 2), ("b", 4)]


def test_upsert_sink_recovers_from_crashed_swap(spark, tmp_path):
    # simulate a crash between rename-aside and rename-in: state dir
    # missing, .bak holds the last good state — next batch restores it
    state = str(tmp_path / "state_crash")
    writer = sink.upsert_counts_sink(state, ["k"])
    writer(spark.createDataFrame([("a", 3), ("b", 5)], "k string, n_events long"), 0)
    os.rename(state, state + ".bak")  # the mid-swap crash window
    writer(spark.createDataFrame([("b", 9)], "k string, n_events long"), 1)
    got = sorted(map(tuple, spark.read.parquet(state).collect()))
    assert got == [("a", 3), ("b", 9)]  # prior state survived the crash


def test_scd2_snapshot_sink_versions_and_replay(spark, tmp_path):
    from datetime import date

    dim = str(tmp_path / "dim_state")
    writer = sink.scd2_snapshot_sink(
        dim, ["k"], ["attr"], lambda bid: date(2024, 1, 1 + bid)
    )
    snap = "k long, attr string"
    # batch 0 bootstraps: every entity opens at 2024-01-01
    writer(spark.createDataFrame([(1, "a"), (2, "b")], snap), 0)
    got0 = {(r["k"], r["attr"], r["valid_from"], r["valid_to"])
            for r in spark.read.parquet(dim).collect()}
    assert got0 == {
        (1, "a", date(2024, 1, 1), None),
        (2, "b", date(2024, 1, 1), None),
    }
    # batch 1: k=1 changes, k=2 vanishes, k=3 appears
    writer(spark.createDataFrame([(1, "a2"), (3, "c")], snap), 1)
    got1 = {(r["k"], r["attr"], r["valid_from"], r["valid_to"])
            for r in spark.read.parquet(dim).collect()}
    assert got1 == {
        (1, "a", date(2024, 1, 1), date(2024, 1, 2)),
        (1, "a2", date(2024, 1, 2), None),
        (2, "b", date(2024, 1, 1), date(2024, 1, 2)),
        (3, "c", date(2024, 1, 2), None),
    }
    # replay of batch 1 (ledger) and a re-delivery under a NEW batch id
    # with identical data (SCD2 idempotency at the batch-2 as_of after
    # a crash-between-swap-and-ledger) both change nothing
    writer(spark.createDataFrame([(99, "x")], snap), 1)
    writer(spark.createDataFrame([(1, "a2"), (3, "c")], snap), 2)
    got2 = {(r["k"], r["attr"], r["valid_from"], r["valid_to"])
            for r in spark.read.parquet(dim).collect()}
    assert got2 == got1


def test_scd2_snapshot_sink_empty_batch_is_noop(spark, tmp_path):
    from datetime import date

    dim = str(tmp_path / "dim_state2")
    writer = sink.scd2_snapshot_sink(
        dim, ["k"], ["attr"], lambda bid: date(2024, 1, 1 + bid)
    )
    snap = "k long, attr string"
    writer(spark.createDataFrame([(1, "a")], snap), 0)
    writer(spark.createDataFrame([], snap), 1)  # trigger without data
    got = {(r["k"], r["valid_to"]) for r in spark.read.parquet(dim).collect()}
    assert got == {(1, None)}  # nothing was closed


class _FakeFS:
    """Hadoop FileSystem stand-in whose rename() reports failure the
    Hadoop way: boolean false, no exception."""

    def __init__(self, ok: bool):
        self.ok = ok
        self.calls: list[tuple] = []

    def rename(self, src, dst):
        self.calls.append((src, dst))
        return self.ok


def test_rename_or_raise_surfaces_boolean_failure():
    """A false return from FileSystem.rename() must
    abort the swap (before .bak delete / ledger append), not proceed."""
    rename_or_raise(_FakeFS(True), "a", "b")  # success: no raise
    with pytest.raises(IOError, match="rename failed"):
        rename_or_raise(_FakeFS(False), "a", "b")


def test_sink_swap_aborts_on_failed_rename(spark, tmp_path, monkeypatch):
    """A rename-in failure mid-swap must leave the .bak restorable and
    the batch NOT in the ledger, so the replay re-applies it."""
    from integritychecksforvldbs_spark.streaming import sink

    state = str(tmp_path / "state")
    w = sink.upsert_counts_sink(state, ["k"])
    w(spark.createDataFrame([(1, 10)], "k long, n long"), 0)
    assert {tuple(r) for r in spark.read.parquet(state).collect()} == {(1, 10)}

    import integritychecksforvldbs_spark.sources.catalog as catalog

    real = catalog._fs_and_path

    class _FailingRenameFS:
        def __init__(self, fs, fail_dst_suffix):
            self._fs = fs
            self._suffix = fail_dst_suffix

        def rename(self, src, dst):
            if str(dst).endswith(self._suffix):
                return False  # the Hadoop way: silent boolean failure
            return self._fs.rename(src, dst)

        def __getattr__(self, name):
            return getattr(self._fs, name)

    def patched(sp, path):
        fs, hp = real(sp, path)
        # fail only the rename INTO the live state path (tmp -> state)
        return _FailingRenameFS(fs, "/state"), hp

    monkeypatch.setattr(catalog, "_fs_and_path", patched)
    batch2 = spark.createDataFrame([(1, 20)], "k long, n long")
    with pytest.raises(IOError, match="rename failed"):
        w(batch2, 1)
    monkeypatch.undo()

    # the .bak still holds the installed copy; the ledger does NOT
    # contain batch 1 — a replay applies it for real
    raw = catalog.read_text_file(spark, state + "._batches.json")
    assert 1 not in set(json.loads(raw))
    w(batch2, 1)  # replay succeeds now that renames work again
    assert {tuple(r) for r in spark.read.parquet(state).collect()} == {(1, 20)}


def test_corrupt_ledger_recovers_idempotently(spark, tmp_path):
    """Partial JSON in the batch ledger (crash mid-write) must not
    wedge the stream; re-applying is idempotent (not a permanent
    JSONDecodeError loop)."""
    state = str(tmp_path / "state")
    writer = sink.upsert_counts_sink(state, ["k"])
    writer(spark.createDataFrame([("a", 1)], "k string, n long"), 0)
    with open(state + "._batches.json", "w") as f:
        f.write("[0, 1")  # truncated write
    writer(spark.createDataFrame([("a", 1)], "k string, n long"), 0)  # replay
    writer(spark.createDataFrame([("b", 2)], "k string, n long"), 1)
    got = sorted(map(tuple, spark.read.parquet(state).collect()))
    assert got == [("a", 1), ("b", 2)]
