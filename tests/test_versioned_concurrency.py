"""Deterministic interleaving tests for the versioned-log commit
protocol (round-8 follow-up to the r7 stress test, which is
probabilistic and caught the lost-update TOCTOU only ~half the time).

The r7 race: ``commit`` read ``_latest_committed`` and then,
separately, ``_versions`` to pick its claim number — a commit landing
BETWEEN the two reads made the victim claim a free higher slot with a
file list built from the stale base, so the CAS *succeeded* and the
interloper's acknowledged files vanished from the latest snapshot.

The fix derives base and claim from ONE view (``_next_claim``): the
claim is exactly ``latest_committed + 1``, so an interleaved commit
surfaces as a stale-view ``None`` or a lost CAS — both re-base — never a silent skip.  These
tests FORCE the interleaving at each window instead of hoping a
thread scheduler finds it.
"""

from __future__ import annotations

import json
import os
import threading

import pytest
from pyspark.sql import functions as F

from integritychecksforvldbs_spark.sources import versioned


def _mk(spark, lo, hi):
    return spark.range(lo, hi).select(F.col("id").alias("k"))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _inject_between_read_and_install(monkeypatch, spark, path, lo, hi):
    """Arrange for a competing append of ``[lo, hi)`` to land fully
    inside the victim's read→install window: the victim has already
    computed its base, files, and claim number when the interloper
    commits.  Returns a dict recording the interloper's version."""
    orig = versioned._install_manifest
    state = {"armed": True, "interloper_v": None}

    def hooked(p, v, man):
        if state["armed"]:
            state["armed"] = False  # the interloper itself installs freely
            state["interloper_v"] = versioned.commit(
                spark, _mk(spark, lo, hi), path
            )
        return orig(p, v, man)

    monkeypatch.setattr(versioned, "_install_manifest", hooked)
    return state


def test_interleaved_commit_forces_rebase_not_lost_update(
    spark, tmp_path, monkeypatch
):
    """The exact r7 scenario, deterministically: a commit lands after
    the victim read the log but before it installs.  The victim's CAS
    on latest+1 must LOSE, and its retry must re-base on the
    interloper — the final snapshot holds BOTH appends."""
    path = str(tmp_path / "tbl")
    versioned.commit(spark, _mk(spark, 0, 5), path)
    state = _inject_between_read_and_install(
        monkeypatch, spark, path, 5, 10
    )
    v = versioned.commit(spark, _mk(spark, 10, 15), path)
    assert state["interloper_v"] == 2
    assert v == 3  # re-based PAST the interloper, never onto its slot
    assert _rows(versioned.read(spark, path)) == [(i,) for i in range(15)]
    # log is gap-free and every version complete
    assert versioned._versions(path) == [1, 2, 3]
    assert all(
        versioned._read_manifest(path, n) is not None for n in (1, 2, 3)
    )


def test_stale_view_at_claim_time_returns_none_and_rebases(
    spark, tmp_path, monkeypatch
):
    """The narrower window: the interloper lands between the victim's
    ``_latest_committed`` read and its ``_next_claim`` call.  The slot
    latest+1 is then already committed, so ``_next_claim`` must return
    None (stale view) rather than skip past it — and the commit loop
    must re-base."""
    path = str(tmp_path / "tbl")
    versioned.commit(spark, _mk(spark, 0, 5), path)
    orig = versioned._next_claim
    state = {"armed": True, "saw_none": False}

    def hooked(p, cur_v):
        if state["armed"]:
            state["armed"] = False
            versioned.commit(spark, _mk(spark, 5, 10), path)
        got = orig(p, cur_v)
        if got is None:
            state["saw_none"] = True
        return got

    monkeypatch.setattr(versioned, "_next_claim", hooked)
    v = versioned.commit(spark, _mk(spark, 10, 15), path)
    assert state["saw_none"]  # the stale view was DETECTED, not skipped
    assert v == 3
    assert _rows(versioned.read(spark, path)) == [(i,) for i in range(15)]


def test_interleaved_commit_vs_overwrite_conflicts_loudly(
    spark, tmp_path, monkeypatch
):
    """An overwrite racing an append must NOT silently erase it: the
    overwrite's re-check sees the moved base and raises."""
    path = str(tmp_path / "tbl")
    versioned.commit(spark, _mk(spark, 0, 5), path)
    _inject_between_read_and_install(monkeypatch, spark, path, 5, 10)
    with pytest.raises(versioned.ConflictError, match="overwrite"):
        versioned.commit(spark, _mk(spark, 10, 15), path, mode="overwrite")
    # the interloper's acknowledged rows are intact
    assert _rows(versioned.read(spark, path)) == [(i,) for i in range(10)]


def test_rollback_rebases_past_interleaved_commit(
    spark, tmp_path, monkeypatch
):
    """Last-write-wins rollback: an append landing mid-rollback is in
    HISTORY (the parent chain records it) but the restored snapshot is
    exactly the target version's — and the rollback never claims the
    interloper's slot."""
    path = str(tmp_path / "tbl")
    versioned.commit(spark, _mk(spark, 0, 5), path)     # v1
    versioned.commit(spark, _mk(spark, 5, 10), path)    # v2
    _inject_between_read_and_install(monkeypatch, spark, path, 10, 15)
    v = versioned.rollback(spark, path, 1)
    assert v == 4  # v3 = the interloper, v4 = the rollback
    assert _rows(versioned.read(spark, path)) == [(i,) for i in range(5)]
    # the interloper's version is committed history, readable by number
    assert _rows(versioned.read(spark, path, version=3)) == [
        (i,) for i in range(15)
    ]
    hist = {vi.version: vi for vi in versioned.history(path)}
    assert hist[4].parent == 3  # the chain RECORDS the racing commit


def test_rollback_expected_parent_conflicts_on_race(
    spark, tmp_path, monkeypatch
):
    path = str(tmp_path / "tbl")
    versioned.commit(spark, _mk(spark, 0, 5), path)   # v1
    versioned.commit(spark, _mk(spark, 5, 10), path)  # v2
    _inject_between_read_and_install(monkeypatch, spark, path, 10, 15)
    with pytest.raises(versioned.ConflictError, match="rollback"):
        versioned.rollback(spark, path, 1, expected_parent=2)
    # nothing restored; the interloper's commit is the latest
    assert _rows(versioned.read(spark, path)) == [(i,) for i in range(15)]


def test_stream_and_batch_agree_under_concurrent_appends(spark, tmp_path):
    """r7 verdict "What's wrong #2": after a lost update, the dropped
    commit's manifest stayed in the log, so the STREAMING source
    emitted files the latest BATCH read never showed.  With the claim
    fix there are no dropped commits — pin that the stream's
    cumulative file set equals the latest snapshot's file set when
    appends race."""
    import threading

    from pyspark.sql.types import LongType, StructField, StructType

    from integritychecksforvldbs_spark.sources.versioned_datasource import (
        _VersionedStreamReader,
    )

    path = str(tmp_path / "tbl")
    errs: list[Exception] = []

    def worker(i: int) -> None:
        try:
            versioned.commit(spark, _mk(spark, i * 4, (i + 1) * 4), path)
        except Exception as e:  # pragma: no cover - diagnostic
            errs.append(e)

    ts = [threading.Thread(target=worker, args=(i,)) for i in range(5)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs
    r = _VersionedStreamReader(
        path, 0, StructType([StructField("k", LongType(), True)])
    )
    latest = r.latestOffset()["version"]
    assert latest == 5
    streamed = set(r._files_between(0, latest))
    batch = set(versioned._snapshot(path, latest)["files"])
    assert streamed == batch


def test_append_racing_optimize_is_never_lost(
    spark, tmp_path, monkeypatch
):
    """r7 verdict item 8: an append landing inside optimize's
    read-rewrite window must either land after the rewrite or force a
    re-base — never vanish into the rewritten file set."""
    path = str(tmp_path / "tbl")
    versioned.commit(spark, _mk(spark, 0, 10).repartition(4), path)
    versioned.commit(spark, _mk(spark, 10, 20).repartition(4), path)
    state = _inject_between_read_and_install(monkeypatch, spark, path, 20, 25)
    v, before, after = versioned.optimize(spark, path, n_files=1)
    assert state["interloper_v"] == 3  # the racing append committed
    # the re-based rewrite contains BOTH the original table and the
    # racing append's acknowledged rows
    assert _rows(versioned.read(spark, path)) == [
        (i,) for i in range(25)
    ]
    assert after == 1  # and it really is the compacted layout


def test_racing_dv_deletes_serialize_without_lost_deletes(
    spark, tmp_path
):
    """N threads issue merge-on-read deletes of DISJOINT key bands
    concurrently: the replace-on-exact-base protocol serializes them
    (losers re-probe against the winner's snapshot, whose DV they must
    union into their superseding sidecar), so EVERY band ends up dead —
    a lost DV update would resurrect a band."""
    import threading

    from pyspark.sql import functions as F

    path = str(tmp_path / "tbl")
    versioned.commit(
        spark,
        spark.range(0, 400).select(F.col("id").alias("k")).coalesce(2),
        path,
    )
    errs = []

    def worker(i):
        try:
            v, n = versioned.delete_where(
                spark, path, f"k >= {i * 20} AND k < {i * 20 + 10}",
                strategy="dv", max_retries=30,
            )
            assert n == 10
        except Exception as e:  # noqa: BLE001 — collected for the assert
            errs.append(e)

    ts = [threading.Thread(target=worker, args=(i,)) for i in range(4)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert errs == []
    got = sorted(r["k"] for r in versioned.read(spark, path).collect())
    expect = [
        k for k in range(400)
        if not any(i * 20 <= k < i * 20 + 10 for i in range(4))
    ]
    assert got == expect
    assert versioned.row_count(spark, path) == 360


def test_v1_race_conflicts_on_divergent_winner_metadata(
    spark, tmp_path, monkeypatch
):
    """r10 advice (low): an append prepared against an EMPTY table
    that loses the v1 race used to retry with NO metadata check and
    install identity-physical-named files beneath the winner's
    schema.  Pinned: a winner with a DIFFERENT schema → ConflictError;
    a winner with the IDENTICAL schema → clean re-based v2 append."""
    path = str(tmp_path / "t")
    real = versioned._write_data
    raced: list[int] = []

    def race_once(spark_, df_, path_, *a, **kw):
        out = real(spark_, df_, path_, *a, **kw)
        if not raced:
            raced.append(1)
            # the winner lands v1 with a DIFFERENT schema mid-window
            versioned.commit(
                spark,
                spark.range(5).select(
                    F.col("id").alias("k"),
                    F.lit("w").alias("extra"),
                ),
                path,
            )
        return out

    monkeypatch.setattr(versioned, "_write_data", race_once)
    with pytest.raises(versioned.ConflictError):
        versioned.commit(spark, _mk(spark, 0, 10), path)
    monkeypatch.undo()
    # the winner's table is intact
    assert versioned.read(spark, path).columns == ["k", "extra"]

    # identical-schema winner: the loser's re-base commutes cleanly
    path2 = str(tmp_path / "t2")
    raced.clear()

    def race_same(spark_, df_, path_, *a, **kw):
        out = real(spark_, df_, path_, *a, **kw)
        if not raced:
            raced.append(1)
            versioned.commit(spark, _mk(spark, 100, 105), path2)
        return out

    monkeypatch.setattr(versioned, "_write_data", race_same)
    v = versioned.commit(spark, _mk(spark, 0, 10), path2)
    assert v == 2
    assert versioned.read(spark, path2).count() == 15


def test_manifest_is_atomic_file_never_bodyless(spark, tmp_path):
    """A committed version is ONE complete json file — there is no
    claim-then-write window in which a version number exists without a
    readable body."""
    path = str(tmp_path / "tbl")
    versioned.commit(spark, _mk(spark, 0, 3), path)
    vdir = os.path.join(path, "_versions")
    # ignore the `_latest` pointer (a hint, not part of the log's
    # version records): the invariant here is about version ARTIFACTS
    names = sorted(n for n in os.listdir(vdir) if n.startswith("v"))
    assert names == ["v0000000001.json"]
    with open(os.path.join(vdir, names[0])) as f:
        man = json.load(f)
    assert man["version"] == 1 and man["files"]


def test_install_cas_loser_leaves_no_residue(spark, tmp_path):
    """The loser of the version CAS changes nothing: the winner's
    manifest is untouched and no tmp file remains."""
    path = str(tmp_path / "tbl")
    versioned.commit(spark, _mk(spark, 0, 3), path)
    won = versioned._install_manifest(
        path, 1, {"version": 1, "mode": "append", "files": ["bogus"]}
    )
    assert won is False
    man = versioned._read_manifest(path, 1)
    assert man["files"] != ["bogus"]
    assert not [
        n for n in os.listdir(os.path.join(path, "_versions"))
        if n.startswith(".tmp-")
    ]


def test_next_claim_is_exactly_one_past_the_view(spark, tmp_path):
    """The claim is ``cur_v + 1`` or None, never a higher slot: an
    unlinked tmp body does not take its slot, and a committed slot
    marks the caller's view stale."""
    path = str(tmp_path / "tbl")
    versioned.commit(spark, _mk(spark, 0, 3), path)
    assert versioned._next_claim(path, 1) == 2
    with open(
        os.path.join(path, "_versions", ".tmp-v0000000002-deadbeef"), "w"
    ) as f:
        json.dump({"version": 2, "mode": "append", "files": []}, f)
    assert versioned._next_claim(path, 1) == 2
    assert versioned.commit(spark, _mk(spark, 3, 6), path) == 2
    assert versioned._next_claim(path, 1) is None  # stale view
    assert versioned._next_claim(path, 2) == 3


def test_crashed_install_tmp_is_invisible_and_vacuumed(spark, tmp_path):
    """A committer that died BEFORE the link leaves only a tmp file:
    it consumes no version number, no reader sees it, and vacuum
    reclaims it (age-guarded)."""
    path = str(tmp_path / "tbl")
    versioned.commit(spark, _mk(spark, 0, 3), path)
    vdir = os.path.join(path, "_versions")
    tmp = os.path.join(vdir, ".tmp-v0000000002-deadbeef")
    with open(tmp, "w") as f:
        json.dump({"version": 2, "mode": "append", "files": []}, f)
    assert versioned._versions(path) == [1]  # number NOT consumed
    v = versioned.commit(spark, _mk(spark, 3, 6), path)
    assert v == 2  # the crash did not burn a slot
    versioned.vacuum(path)  # young tmp: possibly in-flight, retained
    assert os.path.exists(tmp)
    versioned.vacuum(path, min_age_s=0)
    assert not os.path.exists(tmp)
    assert _rows(versioned.read(spark, path)) == [(i,) for i in range(6)]


def test_concurrent_appends_never_lose_an_acknowledged_commit(
    spark, tmp_path
):
    """The lost-update scenario, stress-raced: every commit
    that RETURNED a version must have its rows in the final snapshot —
    no committer may re-base past another's in-flight commit."""
    path = str(tmp_path / "tbl")
    n_threads, per = 6, 5
    errs: list[Exception] = []

    def worker(i: int) -> None:
        try:
            versioned.commit(
                spark, _mk(spark, i * per, (i + 1) * per), path
            )
        except Exception as e:  # pragma: no cover - diagnostic
            errs.append(e)

    threads = [
        threading.Thread(target=worker, args=(i,)) for i in range(n_threads)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    assert _rows(versioned.read(spark, path)) == [
        (i,) for i in range(n_threads * per)
    ]
    # and the log is gap-free: versions 1..n, each complete
    assert versioned._versions(path) == list(range(1, n_threads + 1))
    assert all(
        versioned._read_manifest(path, v) is not None
        for v in versioned._versions(path)
    )
