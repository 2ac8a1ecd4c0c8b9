"""Versioned parquet tables (sources/versioned.py): snapshot
isolation, optimistic concurrency, time travel, rollback, vacuum."""

from __future__ import annotations

import json
import os
import threading

import pytest
from pyspark.sql import functions as F

from integritychecksforvldbs_spark.sources import versioned


def _rows(df):
    return sorted(
        (tuple(r) for r in df.collect()),
        key=lambda t: tuple((x is None, x) for x in t),
    )


def _mk(spark, lo, hi):
    return spark.range(lo, hi).select(F.col("id").alias("k"))


def test_append_read_history_timetravel(spark, tmp_path):
    path = str(tmp_path / "tbl")
    v1 = versioned.commit(spark, _mk(spark, 0, 10), path)
    v2 = versioned.commit(spark, _mk(spark, 10, 20), path)
    assert (v1, v2) == (1, 2)
    assert _rows(versioned.read(spark, path)) == [(i,) for i in range(20)]
    assert _rows(versioned.read(spark, path, version=1)) == [
        (i,) for i in range(10)
    ]
    hist = versioned.history(path)
    assert [(h.version, h.mode, h.parent) for h in hist] == [
        (1, "append", None), (2, "append", 1),
    ]


def test_overwrite_and_rollback(spark, tmp_path):
    path = str(tmp_path / "tbl")
    versioned.commit(spark, _mk(spark, 0, 5), path)
    versioned.commit(spark, _mk(spark, 100, 103), path, mode="overwrite")
    assert _rows(versioned.read(spark, path)) == [(100,), (101,), (102,)]
    v3 = versioned.rollback(spark, path, 1)
    assert v3 == 3
    assert _rows(versioned.read(spark, path)) == [(i,) for i in range(5)]
    # history is never rewritten: the overwrite stays queryable
    assert _rows(versioned.read(spark, path, version=2)) == [
        (100,), (101,), (102,)
    ]


def test_snapshot_isolation_across_overwrite(spark, tmp_path):
    """A frame resolved at v1 keeps answering v1 even after an
    overwrite commits — the manifest pinned its files, and the files
    are immutable."""
    path = str(tmp_path / "tbl")
    versioned.commit(spark, _mk(spark, 0, 10), path)
    snapshot = versioned.read(spark, path)
    versioned.commit(spark, _mk(spark, 500, 502), path, mode="overwrite")
    assert _rows(snapshot) == [(i,) for i in range(10)]  # unaffected
    assert _rows(versioned.read(spark, path)) == [(500,), (501,)]


def test_concurrent_appends_both_commit(spark, tmp_path):
    """The CAS arbitration: racing appends must both land (appends
    commute — losers re-base), and the final version sees both."""
    path = str(tmp_path / "tbl")
    versioned.commit(spark, _mk(spark, 0, 5), path)
    errs = []

    def worker(lo):
        try:
            versioned.commit(spark, _mk(spark, lo, lo + 5), path)
        except Exception as exc:  # pragma: no cover - would fail the test
            errs.append(exc)

    ts = [threading.Thread(target=worker, args=(lo,)) for lo in (100, 200)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs
    got = _rows(versioned.read(spark, path))
    want = sorted(
        [(i,) for i in range(5)]
        + [(i,) for i in range(100, 105)]
        + [(i,) for i in range(200, 205)]
    )
    assert got == want
    assert [h.version for h in versioned.history(path)] == [1, 2, 3]


def test_overwrite_conflict_raises(spark, tmp_path, monkeypatch):
    """An overwrite based on a state another commit has since replaced
    must raise, not silently erase the racing commit."""
    path = str(tmp_path / "tbl")
    versioned.commit(spark, _mk(spark, 0, 5), path)

    real = versioned._latest_committed
    lied = {"done": False}

    def stale_once(p):
        out = real(p)
        if not lied["done"]:
            lied["done"] = True
            # a commit lands between the overwriter's base load and
            # its CAS attempt
            versioned.commit(spark, _mk(spark, 50, 52), path)
        return out

    monkeypatch.setattr(versioned, "_latest_committed", stale_once)
    with pytest.raises(versioned.ConflictError, match="conflicts with"):
        versioned.commit(spark, _mk(spark, 9, 10), path, mode="overwrite")
    monkeypatch.undo()
    # the racing append survived untouched
    assert _rows(versioned.read(spark, path)) == [
        (i,) for i in list(range(5)) + [50, 51]
    ]


def test_crash_orphans_invisible_and_vacuumed(spark, tmp_path):
    """Data files written but never manifested (a committer died
    before its CAS) are invisible to readers and reclaimed by
    vacuum; manifested files are untouched."""
    path = str(tmp_path / "tbl")
    versioned.commit(spark, _mk(spark, 0, 5), path)
    # the crash: data lands, no manifest ever commits
    orphan = f"{path}/data/deadbeefdead"
    _mk(spark, 900, 905).write.parquet(orphan)
    assert _rows(versioned.read(spark, path)) == [(i,) for i in range(5)]
    assert versioned.vacuum(path) == []  # age guard: in-flight?
    removed = versioned.vacuum(path, min_age_s=0)
    assert removed == [orphan]
    assert not os.path.exists(orphan)
    assert _rows(versioned.read(spark, path)) == [(i,) for i in range(5)]


def test_vacuum_keep_versions_bounds_time_travel(spark, tmp_path):
    path = str(tmp_path / "tbl")
    versioned.commit(spark, _mk(spark, 0, 5), path)
    versioned.commit(spark, _mk(spark, 10, 12), path, mode="overwrite")
    versioned.commit(spark, _mk(spark, 20, 22), path)
    removed = versioned.vacuum(path, keep_versions=2, min_age_s=0)
    assert removed  # v1's files are referenced by NO retained version
    assert [h.version for h in versioned.history(path)] == [2, 3]
    with pytest.raises(FileNotFoundError):
        versioned.read(spark, path, version=1)
    assert _rows(versioned.read(spark, path)) == [(10,), (11,), (20,), (21,)]


def test_merge_into_upserts_atomically(spark, tmp_path):
    path = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (None, "n")], "k long, v string"
    )
    versioned.commit(spark, base, path)
    src = spark.createDataFrame(
        [(2, "B"), (3, "c"), (None, "N")], "k long, v string"
    )
    v = versioned.merge_into(spark, path, src, ["k"])
    assert v == 2
    assert _rows(versioned.read(spark, path)) == [
        (1, "a"), (2, "B"), (3, "c"), (None, "N"),
    ]
    # the pre-merge state stays time-travelable
    assert _rows(versioned.read(spark, path, version=1)) == [
        (1, "a"), (2, "b"), (None, "n"),
    ]


def test_merge_into_rebases_after_conflict(spark, tmp_path, monkeypatch):
    """A commit racing the merge forces a ConflictError; the merge
    must re-base on the NEW state and retry, losing neither side."""
    path = str(tmp_path / "tbl")
    versioned.commit(
        spark, spark.createDataFrame([(1, "a")], "k long, v string"), path
    )
    real = versioned._latest_committed
    raced = {"done": False}

    def stale_once(p):
        out = real(p)
        if not raced["done"]:
            raced["done"] = True
            versioned.commit(
                spark,
                spark.createDataFrame([(9, "z")], "k long, v string"),
                path,
            )
        return out

    monkeypatch.setattr(versioned, "_latest_committed", stale_once)
    versioned.merge_into(
        spark,
        path,
        spark.createDataFrame([(1, "A")], "k long, v string"),
        ["k"],
    )
    monkeypatch.undo()
    assert _rows(versioned.read(spark, path)) == [(1, "A"), (9, "z")]


def test_compact_preserves_rows_and_history(spark, tmp_path):
    path = str(tmp_path / "tbl")
    for lo in (0, 5, 10):
        versioned.commit(
            spark, _mk(spark, lo, lo + 5).repartition(3), path
        )
    v, before, after = versioned.compact(spark, path, n_files=1)
    assert before > after == 1
    assert _rows(versioned.read(spark, path)) == [(i,) for i in range(15)]
    # pre-compaction versions still answer
    assert _rows(versioned.read(spark, path, version=1)) == [
        (i,) for i in range(5)
    ]


def test_versioned_batch_sink_exactly_once(spark, tmp_path):
    """Replays are no-ops because the batch id rides inside the
    committed manifest — one atomic event for data + bookkeeping."""
    path = str(tmp_path / "tbl")
    w = versioned.versioned_batch_sink(path)
    b0 = spark.createDataFrame([(1, "a")], "k long, v string")
    b1 = spark.createDataFrame([(2, "b")], "k long, v string")
    w(b0, 0)
    w(b1, 1)
    w(b1, 1)  # replay after a post-commit crash
    w(b0, 0)  # late replay of an older batch
    assert _rows(versioned.read(spark, path)) == [(1, "a"), (2, "b")]
    assert [h.version for h in versioned.history(path)] == [1, 2]


def test_versioned_batch_sink_crash_before_body_retries_cleanly(
    spark, tmp_path
):
    """A commit that died before its manifest link (a stale tmp body
    naming batch 1) committed NOTHING — the replay must land the
    batch at v2, not skip it."""
    path = str(tmp_path / "tbl")
    w = versioned.versioned_batch_sink(path)
    w(spark.createDataFrame([(1, "a")], "k long, v string"), 0)
    # simulate the dead committer for batch 1: body written, never linked
    with open(
        os.path.join(path, "_versions", ".tmp-v0000000002-deadbeef"), "w"
    ) as f:
        json.dump(
            {"version": 2, "mode": "append", "batch_id": 1, "files": []}, f
        )
    b1 = spark.createDataFrame([(2, "b")], "k long, v string")
    w(b1, 1)  # the "replay" after that crash
    assert _rows(versioned.read(spark, path)) == [(1, "a"), (2, "b")]
    assert [h.version for h in versioned.history(path)] == [1, 2]


def test_version_directory_is_not_a_version(spark, tmp_path):
    """A version is a ``vN.json`` file and nothing else: a ``vN/``
    directory holding a ``manifest.json`` is not listed, not read and
    holds no slot, so the next commit lands at vN beside it."""
    path = str(tmp_path / "tbl")
    versioned.commit(spark, _mk(spark, 0, 3), path)
    d = os.path.join(path, "_versions", "v0000000002")
    os.mkdir(d)
    with open(os.path.join(d, "manifest.json"), "w") as f:
        json.dump({"version": 2, "mode": "overwrite", "files": []}, f)
    assert versioned._versions(path) == [1]
    assert versioned._read_manifest(path, 2) is None
    assert [h.version for h in versioned.history(path)] == [1]
    v = versioned.commit(spark, _mk(spark, 3, 6), path)
    assert v == 2
    assert _rows(versioned.read(spark, path)) == [(i,) for i in range(6)]
    assert versioned.history(path)[-1].mode == "append"


def _feed(df):
    return sorted(
        (r["_change_type"], r["k"]) for r in df.collect()
    )


def test_changes_append_only(spark, tmp_path):
    path = str(tmp_path / "tbl")
    versioned.commit(spark, _mk(spark, 0, 3), path)
    versioned.commit(spark, _mk(spark, 10, 12), path)
    # from empty = full initial load
    assert _feed(versioned.changes(spark, path, 0, 1)) == [
        ("insert", 0), ("insert", 1), ("insert", 2)
    ]
    # from v1 to latest = only the appended rows
    assert _feed(versioned.changes(spark, path, 1)) == [
        ("insert", 10), ("insert", 11)
    ]
    # no-op span
    assert versioned.changes(spark, path, 2, 2).count() == 0


def test_changes_merge_is_delete_insert_pairs(spark, tmp_path):
    path = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(0, "a"), (1, "b"), (2, "c")], "k long, v string"
    )
    versioned.commit(spark, df, path)
    src = spark.createDataFrame([(1, "B"), (9, "z")], "k long, v string")
    versioned.merge_into(spark, path, src, ["k"])
    feed = sorted(
        (r["_change_type"], r["k"], r["v"])
        for r in versioned.changes(spark, path, 1, 2).collect()
    )
    # update = delete old + insert new; untouched rows rewritten by the
    # overwrite cancel in the multiset diff
    assert feed == [
        ("delete", 1, "b"), ("insert", 1, "B"), ("insert", 9, "z")
    ]


def test_changes_compaction_is_invisible(spark, tmp_path):
    path = str(tmp_path / "tbl")
    versioned.commit(spark, _mk(spark, 0, 50).repartition(8), path)
    v, before, after = versioned.compact(spark, path, n_files=1)
    assert before > after
    # identical rows, new files: the change feed is EMPTY
    assert versioned.changes(spark, path, 1, v).count() == 0


def test_changes_duplicate_rows_multiset(spark, tmp_path):
    """exceptAll is multiset: going 2→1 copies of a duplicate row
    surfaces exactly one delete."""
    path = str(tmp_path / "tbl")
    dup = spark.createDataFrame([(7,), (7,), (8,)], "k long")
    versioned.commit(spark, dup, path)
    versioned.commit(
        spark, spark.createDataFrame([(7,), (8,)], "k long"), path,
        mode="overwrite",
    )
    assert _feed(versioned.changes(spark, path, 1, 2)) == [("delete", 7)]


def test_changes_errors(spark, tmp_path):
    path = str(tmp_path / "tbl")
    versioned.commit(spark, _mk(spark, 0, 3), path)
    with pytest.raises(FileNotFoundError):
        versioned.changes(spark, path, 0, 99)
    with pytest.raises(ValueError):
        versioned.changes(spark, path, 1, 0)


def test_delete_where_atomic_and_time_travelable(spark, tmp_path):
    path = str(tmp_path / "tbl")
    versioned.commit(spark, _mk(spark, 0, 10), path)
    v, n = versioned.delete_where(spark, path, "k % 2 = 0")
    assert (v, n) == (2, 5)
    assert _rows(versioned.read(spark, path)) == [(i,) for i in range(1, 10, 2)]
    # history still answers with the deleted rows until vacuum
    assert _rows(versioned.read(spark, path, version=1)) == [
        (i,) for i in range(10)
    ]
    assert versioned.history(path)[-1].mode == "delete"
    # file-scoped: the body is a replace delta, not a full snapshot
    raw = versioned._read_manifest(path, v)
    assert raw["mode"] == "delete" and raw["data_change"] is True
    assert raw["remove_files"]  # only the touched files were swapped


def test_delete_where_null_condition_rows_are_kept(spark, tmp_path):
    path = str(tmp_path / "tbl")
    df = spark.createDataFrame([(1, 5), (2, None), (3, 50)], "id long, x long")
    versioned.commit(spark, df, path)
    # x > 10 is NULL for id 2 -> kept (SQL DELETE semantics)
    _, n = versioned.delete_where(spark, path, "x > 10")
    assert n == 1
    assert sorted(r["id"] for r in versioned.read(spark, path).collect()) == [1, 2]


def test_delete_where_no_match_still_commits_audit_version(spark, tmp_path):
    path = str(tmp_path / "tbl")
    versioned.commit(spark, _mk(spark, 0, 3), path)
    v, n = versioned.delete_where(spark, path, "k > 99")
    assert (v, n) == (2, 0)
    assert len(versioned.history(path)) == 2


def test_delete_where_missing_table_raises(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        versioned.delete_where(spark, str(tmp_path / "nope"), "id = 1")


def test_delete_where_rebases_after_conflict(spark, tmp_path, monkeypatch):
    """A commit racing ahead of the delete re-bases it: the predicate
    re-evaluates against the NEW state, so rows the race appended are
    deleted too when they match."""
    path = str(tmp_path / "tbl")
    versioned.commit(spark, _mk(spark, 0, 4), path)

    real_replace = versioned._commit_replace
    hits = {"n": 0}

    def racing_replace(*args, **kw):
        if hits["n"] == 0:
            hits["n"] += 1
            # an append lands AFTER the delete computed its rewrite:
            # the replace must refuse the moved base and re-evaluate
            versioned.commit(spark, _mk(spark, 100, 102), path)
        return real_replace(*args, **kw)

    monkeypatch.setattr(versioned, "_commit_replace", racing_replace)
    _, n = versioned.delete_where(spark, path, "k % 2 = 0")
    # 0,2 from the base plus 100 from the raced append
    assert n == 3
    assert sorted(r["k"] for r in versioned.read(spark, path).collect()) == [
        1, 3, 101,
    ]


# ---------------------------------------------------------------------------
# schema recording, enforcement, and evolution
# ---------------------------------------------------------------------------


def test_append_schema_drift_refused_then_allowed(spark, tmp_path):
    p = str(tmp_path / "tbl")
    df = spark.range(3).selectExpr("id AS k", "CAST(id AS STRING) AS v")
    versioned.commit(spark, df, p)
    wider = df.withColumn("extra", F.lit(1))
    with pytest.raises(versioned.SchemaDriftError, match="extra"):
        versioned.commit(spark, wider, p)
    # history unchanged by the refused commit
    assert [vi.version for vi in versioned.history(p)] == [1]
    v2 = versioned.commit(spark, wider, p, allow_schema_change=True)
    assert v2 == 2
    hist = versioned.schema_history(p)
    assert hist[0][1] == "struct<k:bigint,v:string>"
    assert "extra" in hist[1][1]


def test_overwrite_replaces_schema_freely(spark, tmp_path):
    p = str(tmp_path / "tbl")
    versioned.commit(spark, spark.range(3).selectExpr("id AS k"), p)
    narrow = spark.range(2).selectExpr("CAST(id AS STRING) AS name")
    v2 = versioned.commit(spark, narrow, p, mode="overwrite")
    assert versioned.read(spark, p).columns == ["name"]
    ch = versioned.schema_changes(p, 1, v2)
    assert ch == {"added": ["name"], "removed": ["k"], "retyped": []}


def test_schema_changes_detects_retype(spark, tmp_path):
    p = str(tmp_path / "tbl")
    versioned.commit(spark, spark.range(3).selectExpr("id AS k", "id AS x"), p)
    versioned.commit(
        spark,
        spark.range(3).selectExpr("id AS k", "CAST(id AS DOUBLE) AS x"),
        p,
        allow_schema_change=True,
    )
    ch = versioned.schema_changes(p, 1, 2)
    assert ch == {"added": [], "removed": [], "retyped": ["x"]}


def test_rollback_carries_schema(spark, tmp_path):
    p = str(tmp_path / "tbl")
    versioned.commit(spark, spark.range(3).selectExpr("id AS k"), p)
    versioned.commit(
        spark,
        spark.range(2).selectExpr("CAST(id AS STRING) AS name"),
        p,
        mode="overwrite",
    )
    v3 = versioned.rollback(spark, p, 1)
    assert versioned.schema_changes(p, 1, v3) == {
        "added": [], "removed": [], "retyped": []
    }
    # appends against the rolled-back schema are clean again
    versioned.commit(spark, spark.range(1).selectExpr("id AS k"), p)


def test_evolved_append_read_nullfills_old_files(spark, tmp_path):
    """After an allow_schema_change append, reads plan against the
    manifest's recorded schema: old files null-fill the new column
    instead of the reader sampling one file's schema and silently
    dropping it."""
    p = str(tmp_path / "tbl")
    versioned.commit(spark, spark.range(3).selectExpr("id AS k"), p)
    versioned.commit(
        spark,
        spark.range(10, 12).selectExpr("id AS k", "id * 2 AS extra"),
        p,
        allow_schema_change=True,
    )
    got = versioned.read(spark, p)
    assert got.columns == ["k", "extra"]
    rows = {r["k"]: r["extra"] for r in got.collect()}
    assert rows == {0: None, 1: None, 2: None, 10: 20, 11: 22}


def test_merge_into_raises_on_duplicate_source_keys(spark, tmp_path):
    path = str(tmp_path / "tbl")
    versioned.commit(
        spark,
        spark.createDataFrame([(1, "a")], "k long, v string"),
        path,
    )
    dup_src = spark.createDataFrame(
        [(2, "b"), (2, "B")], "k long, v string"
    )
    with pytest.raises(ValueError, match="not unique"):
        versioned.merge_into(spark, path, dup_src, ["k"])
    # NULL keys group together too (null-safe semantics)
    null_dup = spark.createDataFrame(
        [(None, "n"), (None, "N")], "k long, v string"
    )
    with pytest.raises(ValueError, match="not unique"):
        versioned.merge_into(spark, path, null_dup, ["k"])
    # the table is untouched by the refused merges
    assert _rows(versioned.read(spark, path)) == [(1, "a")]


def test_merge_into_key_column_named_count(spark, tmp_path):
    path = str(tmp_path / "tbl")
    versioned.commit(
        spark,
        spark.createDataFrame([(1, "a"), (2, "b")], "count long, v string"),
        path,
    )
    src = spark.createDataFrame([(2, "B"), (3, "c")], "count long, v string")
    versioned.merge_into(spark, path, src, keys=["count"])
    assert _rows(versioned.read(spark, path)) == [
        (1, "a"), (2, "B"), (3, "c")
    ]
    # and the duplicate-source error still fires under that name
    dup = spark.createDataFrame(
        [(9, "x"), (9, "y")], "count long, v string"
    )
    with pytest.raises(ValueError, match="not unique"):
        versioned.merge_into(spark, path, dup, keys=["count"])


def test_vacuum_expires_manifests_newest_first(spark, tmp_path, monkeypatch):
    """The removal sequence vacuum issues is strictly descending, so a
    delta is always removed before the base it folds through."""
    path = str(tmp_path / "tbl")
    for i in range(7):  # v1..v7: v1 full, v2..v7 deltas (ckpt at 10 never hit)
        versioned.commit(spark, _mk(spark, i, i + 1), path)
    removed_order = []
    orig = versioned._remove_manifest

    def spy(p, v):
        removed_order.append(v)
        orig(p, v)

    monkeypatch.setattr(versioned, "_remove_manifest", spy)
    versioned.vacuum(path, keep_versions=2, min_age_s=0.0)
    expired = [v for v in removed_order if v <= 5]
    assert expired == sorted(expired, reverse=True), removed_order
    # survivors still read
    assert len(_rows(versioned.read(spark, path))) == 7


def test_vacuum_survives_broken_delta_chain(spark, tmp_path):
    """A log where an interrupted ascending-order vacuum deleted a
    delta's base but not the delta itself: history() skips the
    unresolvable expired delta instead of raising, vacuum() completes
    and removes the orphan manifest, and the retained tip still
    reads."""
    path = str(tmp_path / "tbl")
    for i in range(5):  # v1 full, v2..v5 deltas
        versioned.commit(spark, _mk(spark, i, i + 1), path)
    # materialize the tip's fold as a checkpoint (what a completed
    # vacuum would have done), then simulate the interrupted state:
    # v1 (the base) deleted, v2 (an expired delta) still present
    versioned._write_checkpoint(path, 5)
    versioned._remove_manifest(path, 1)
    # history() must not raise, and must still report the resolvable tip
    hist = versioned.history(path)
    assert 5 in [vi.version for vi in hist]
    assert 2 not in [vi.version for vi in hist]  # unresolvable orphan skipped
    # vacuum can now run to completion and removes the orphan manifest
    versioned.vacuum(path, keep_versions=1, min_age_s=0.0)
    assert versioned._read_manifest(path, 2) is None
    assert len(_rows(versioned.read(spark, path))) == 5
    # and a second vacuum is a no-op, not an error
    versioned.vacuum(path, keep_versions=1, min_age_s=0.0)


def test_latest_pointer_bounds_manifest_io(spark, tmp_path, monkeypatch):
    """On a long log, resolving the latest version costs one hint GET
    + one manifest read + one miss probe — not O(#versions) listing
    plus reads (the object-store LIST-per-read hazard)."""
    path = str(tmp_path / "tbl")
    for i in range(25):
        versioned.commit(spark, _mk(spark, i, i + 1), path)
    reads, lists = [], []
    orig_read, orig_versions = versioned._read_manifest, versioned._versions

    def spy_read(p, v):
        reads.append(v)
        return orig_read(p, v)

    def spy_versions(p):
        lists.append(p)
        return orig_versions(p)

    monkeypatch.setattr(versioned, "_read_manifest", spy_read)
    monkeypatch.setattr(versioned, "_versions", spy_versions)
    v, man = versioned._latest_committed(path)
    assert v == 25 and man["version"] == 25
    assert lists == []  # never listed the log
    # hint read + v25 body (+ its delta chain fold) + one v26 miss;
    # chain length is bounded by CHECKPOINT_EVERY, never O(history)
    assert len(reads) <= versioned.CHECKPOINT_EVERY + 2


def test_latest_pointer_stale_low_probes_forward(spark, tmp_path):
    path = str(tmp_path / "tbl")
    for i in range(5):
        versioned.commit(spark, _mk(spark, i, i + 1), path)
    # regress the pointer as a lagging racer would leave it
    versioned._write_latest_hint(path, 2)
    v, man = versioned._latest_committed(path)
    assert v == 5
    assert len(_rows(versioned.read(spark, path))) == 5


def test_latest_pointer_missing_or_damaged_falls_back(spark, tmp_path):
    path = str(tmp_path / "tbl")
    for i in range(3):
        versioned.commit(spark, _mk(spark, i, i + 1), path)
    hint = os.path.join(path, "_versions", "_latest.json")
    os.unlink(hint)  # a table predating the pointer
    assert versioned._latest_committed(path)[0] == 3
    with open(hint, "w") as f:
        f.write("{not json")  # a torn/damaged pointer
    assert versioned._latest_committed(path)[0] == 3
    with open(hint, "w") as f:
        json.dump({"version": 999}, f)  # names a version that never existed
    assert versioned._latest_committed(path)[0] == 3


def test_latest_pointer_written_by_every_commit_kind(spark, tmp_path):
    path = str(tmp_path / "tbl")
    versioned.commit(spark, _mk(spark, 0, 4), path)
    assert versioned._read_latest_hint(path) == 1
    versioned.delete_where(spark, path, "k = 1")
    assert versioned._read_latest_hint(path) == 2
    versioned.rollback(spark, path, version=1)
    assert versioned._read_latest_hint(path) == 3
    dst = str(tmp_path / "clone")
    versioned.clone(spark, path, dst)
    assert versioned._read_latest_hint(dst) == 1
