"""Incremental CHECKTABLE: per-file mergeable partials + narrow global
PK probe must equal the full one-pass kernel, scanning only new files
on each visit."""

import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, "/root/repo")

from integritychecksforvldbs_spark.expectations import expectations_for  # noqa: E402
from integritychecksforvldbs_spark.operators import kernels  # noqa: E402
from integritychecksforvldbs_spark.sources.catalog import (  # noqa: E402
    ObjectMeta,
    list_parquet_files,
)
from integritychecksforvldbs_spark.sources.loader import load_table  # noqa: E402
from tests.conftest import SF_DIR  # noqa: E402


def _obj(spark, path, name="documents"):
    return ObjectMeta(
        database_name="testdb",
        schema_name="main",
        object_name=name,
        object_type="U",
        path=path,
        files=list_parquet_files(spark, path),
    )


@pytest.fixture()
def doc_dir(spark, tmp_path):
    """documents split across 4 files."""
    p = str(tmp_path / "documents")
    load_table(spark, f"{SF_DIR}/documents.parquet").repartition(4).write.mode(
        "overwrite"
    ).parquet(p)
    return p


def _full_row(spark, path):
    exp = expectations_for("documents")
    return kernels.sql_frame(
        spark, kernels.checktable_sql(exp), {"documents": load_table(spark, path)}
    ).collect()[0].asDict()


def test_incremental_equals_full(spark, doc_dir, tmp_path):
    state = str(tmp_path / "state")
    res = kernels.run_checktable_incremental(spark, _obj(spark, doc_dir), state)
    full = _full_row(spark, doc_dir)
    for k, v in full.items():
        assert res.metrics[k] == v, k
    assert res.metrics["files_scanned"] == 4  # first visit scans all


def test_second_visit_scans_nothing_new(spark, doc_dir, tmp_path):
    state = str(tmp_path / "state")
    kernels.run_checktable_incremental(spark, _obj(spark, doc_dir), state)
    res2 = kernels.run_checktable_incremental(spark, _obj(spark, doc_dir), state)
    assert res2.metrics["files_scanned"] == 0
    assert res2.metrics["files_reused"] == 4
    full = _full_row(spark, doc_dir)
    for k, v in full.items():
        assert res2.metrics[k] == v, k


def test_appended_file_scans_only_itself_and_detects_violations(
    spark, doc_dir, tmp_path
):
    state = str(tmp_path / "state")
    kernels.run_checktable_incremental(spark, _obj(spark, doc_dir), state)

    # append one file carrying a NULL-text violation and a duplicate id
    bad = spark.createDataFrame(
        [
            (10_000_001, None, "xx", "web", 0),
            (0, "dup of doc zero", "en", "web", 15),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    bad.coalesce(1).write.mode("append").parquet(doc_dir)

    res = kernels.run_checktable_incremental(spark, _obj(spark, doc_dir), state)
    assert res.metrics["files_scanned"] == 1  # only the appended file
    assert res.metrics["files_reused"] == 4
    full = _full_row(spark, doc_dir)
    for k, v in full.items():
        assert res.metrics[k] == v, k
    assert res.metrics["null_text"] >= 1
    assert res.metrics["pk_dup_rows"] >= 1  # cross-file dup caught globally
    assert not res.passed


def test_vanished_file_drops_from_state(spark, doc_dir, tmp_path):
    import glob
    import os

    state = str(tmp_path / "state")
    kernels.run_checktable_incremental(spark, _obj(spark, doc_dir), state)
    victim = sorted(glob.glob(f"{doc_dir}/part-*.parquet"))[0]
    os.remove(victim)

    res = kernels.run_checktable_incremental(spark, _obj(spark, doc_dir), state)
    assert res.metrics["files_scanned"] == 0
    assert res.metrics["files_reused"] == 3
    full = _full_row(spark, doc_dir)
    assert res.metrics["n_rows"] == full["n_rows"]


def test_scheduler_uses_incremental_path(spark, tmp_path):
    """@incremental_state_dir routes CHECKTABLE through the partials
    kernel: run 1 scans every file, run 2 (next day) reuses them all."""
    from tests.test_scheduler import make

    state_dir = str(tmp_path / "inc_state")
    checker = make(spark, tmp_path, incremental_state_dir=state_dir)
    report = checker.run()
    cts = [o for o in report.outcomes if o.spec.kind == "CHECKTABLE"]
    assert cts and all(
        o.result is not None and o.result.metrics.get("files_reused") == 0
        for o in cts
    )

    # same-day idempotency skips re-checks; force a fresh visit by
    # clearing the state store (new tmp ledger), keeping the partials
    second = tmp_path / "second"
    second.mkdir()
    checker2 = make(spark, second, incremental_state_dir=state_dir)
    report2 = checker2.run()
    cts2 = [o for o in report2.outcomes if o.spec.kind == "CHECKTABLE"]
    assert cts2 and all(
        o.result.metrics.get("files_scanned") == 0
        and o.result.metrics.get("files_reused", 0) >= 1
        for o in cts2
    )


def test_rewritten_file_rescans(spark, doc_dir, tmp_path):
    """In-place rewrite (same path, different size/content) must
    invalidate that file's partial — the (path, size) contract."""
    import glob

    state = str(tmp_path / "state")
    kernels.run_checktable_incremental(spark, _obj(spark, doc_dir), state)

    victim = sorted(glob.glob(f"{doc_dir}/part-*.parquet"))[0]
    keep = load_table(spark, victim).limit(10).collect()
    schema = load_table(spark, victim).schema
    spark.createDataFrame(keep, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "rewrite"))
    import shutil
    import glob as g

    new_file = g.glob(str(tmp_path / "rewrite" / "part-*.parquet"))[0]
    shutil.copyfile(new_file, victim)
    # Hadoop LocalFS keeps a .crc sidecar per file; the in-place
    # rewrite invalidates it (ChecksumException on read otherwise)
    import os

    crc = f"{os.path.dirname(victim)}/.{os.path.basename(victim)}.crc"
    if os.path.exists(crc):
        os.remove(crc)

    res = kernels.run_checktable_incremental(spark, _obj(spark, doc_dir), state)
    assert res.metrics["files_scanned"] == 1  # the rewritten file only
    full = _full_row(spark, doc_dir)
    assert res.metrics["n_rows"] == full["n_rows"]


def test_embedding_invariant_survives_incremental(spark, tmp_path):
    """The ragged-vector-length check must hold on the partials path."""
    p = str(tmp_path / "embeddings")
    load_table(spark, f"{SF_DIR}/embeddings.parquet").repartition(2).write.mode(
        "overwrite"
    ).parquet(p)
    state = str(tmp_path / "state")
    obj = _obj(spark, p, name="embeddings")
    res = kernels.run_checktable_incremental(spark, obj, state)
    assert res.passed
    assert res.metrics["vector_len_min"] == res.metrics["vector_len_max"]

    # append a ragged vector
    bad = spark.createDataFrame(
        [(9_000_001, [0.1, 0.2, 0.3])], "vec_id long, embedding array<float>"
    )
    bad.coalesce(1).write.mode("append").parquet(p)
    res2 = kernels.run_checktable_incremental(spark, _obj(spark, p, "embeddings"), state)
    assert res2.metrics["files_scanned"] == 1
    assert not res2.passed
    assert any("inconsistent vector length" in e for e in res2.errors)


def test_expectation_change_triggers_full_rescan(spark, doc_dir, tmp_path):
    """Stored partials whose column set no longer matches the current
    expectations are discarded (full rescan), never unioned."""
    from integritychecksforvldbs_spark.expectations import TableExpectations

    state = str(tmp_path / "state")
    exp = expectations_for("documents")
    kernels.run_checktable_incremental(spark, _obj(spark, doc_dir), state, exp)

    wider = TableExpectations(
        table=exp.table,
        primary_key=exp.primary_key,
        not_null=list(exp.not_null) + ["lang"],
        domain_rules=exp.domain_rules,
        foreign_keys=exp.foreign_keys,
    )
    res = kernels.run_checktable_incremental(
        spark, _obj(spark, doc_dir), state, wider
    )
    assert res.metrics["files_scanned"] == 4  # state discarded, rebuilt
    assert "null_lang" in res.metrics


def test_incremental_checksum_equals_full_and_detects_append(
    spark, doc_dir, tmp_path
):
    """Modular row-hash sums merge exactly across per-file partials."""
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    state = str(tmp_path / "state")

    r1 = kernels.table_checksum_incremental(
        spark, _obj(spark, doc_dir), cols, state
    )
    full = kernels.table_checksum_df(load_table(spark, doc_dir), cols).collect()[0]
    assert r1["n_rows"] == full["n_rows"]
    assert r1["checksum"] == full["checksum"]
    assert r1["files_scanned"] == 4

    # idempotent second visit
    r2 = kernels.table_checksum_incremental(
        spark, _obj(spark, doc_dir), cols, state
    )
    assert r2 == {**r1, "files_scanned": 0, "files_reused": 4}

    # append one row -> checksum moves, only the new file scans
    spark.createDataFrame(
        [(10_000_002, "a new doc", "en", "web", 9)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("append").parquet(doc_dir)
    r3 = kernels.table_checksum_incremental(
        spark, _obj(spark, doc_dir), cols, state
    )
    assert r3["files_scanned"] == 1 and r3["files_reused"] == 4
    full3 = kernels.table_checksum_df(load_table(spark, doc_dir), cols).collect()[0]
    assert r3["n_rows"] == full3["n_rows"] == r1["n_rows"] + 1
    assert r3["checksum"] == full3["checksum"] != r1["checksum"]


def test_zero_row_file_settles_into_state(spark, doc_dir, tmp_path):
    """A 0-row parquet file yields no scan group; it must still get a
    state row (all-zero counters) so it never re-lists as 'new'."""
    empty = load_table(spark, doc_dir).limit(0)
    empty.coalesce(1).write.mode("append").parquet(doc_dir)

    state = str(tmp_path / "state")
    r1 = kernels.run_checktable_incremental(spark, _obj(spark, doc_dir), state)
    assert r1.metrics["files_scanned"] == 5
    r2 = kernels.run_checktable_incremental(spark, _obj(spark, doc_dir), state)
    assert r2.metrics["files_scanned"] == 0  # the 0-row file settled
    assert r2.metrics["files_reused"] == 5
    full = _full_row(spark, doc_dir)
    assert r2.metrics["n_rows"] == full["n_rows"]


def test_idempotent_visit_is_read_only(spark, doc_dir, tmp_path):
    """A visit that scans nothing and drops nothing must not rewrite
    the state parquet (no delete/rename window on no-op days).  The
    state file's inode and mtime tell a rewrite apart even though
    every write uses the same file name."""
    import glob
    import os

    def stamp():
        return [
            (p, os.stat(p).st_ino, os.stat(p).st_mtime_ns)
            for p in sorted(glob.glob(f"{state}/checktable_partials/documents/*.parquet"))
        ]

    state = str(tmp_path / "state")
    kernels.run_checktable_incremental(spark, _obj(spark, doc_dir), state)
    state_files = stamp()
    assert state_files
    kernels.run_checktable_incremental(spark, _obj(spark, doc_dir), state)
    assert stamp() == state_files


def test_checksum_state_is_per_column_list(spark, doc_dir, tmp_path):
    """Partials hashed over different column lists are different
    states — never silently reused."""
    state = str(tmp_path / "state")
    a = kernels.table_checksum_incremental(
        spark, _obj(spark, doc_dir), ["doc_id"], state
    )
    b = kernels.table_checksum_incremental(
        spark, _obj(spark, doc_dir), ["doc_id", "text"], state
    )
    # second call with different cols re-scanned (fresh state), and
    # each matches its own full-scan value
    assert b["files_scanned"] == 4
    for cols, got in ((["doc_id"], a), (["doc_id", "text"], b)):
        full = kernels.table_checksum_df(load_table(spark, doc_dir), cols).collect()[0]
        assert got["checksum"] == full["checksum"], cols
    assert a["checksum"] != b["checksum"]


def test_crashed_swap_recovers_from_bak(spark, doc_dir, tmp_path):
    """A crash between rename-aside and rename-in leaves the state
    missing and its .old copy behind; the next visit must read the
    .old copy and stay incremental (0 files re-scanned), not
    full-rescan."""
    import os

    state = str(tmp_path / "state")
    kernels.run_checktable_incremental(spark, _obj(spark, doc_dir), state)
    sp = f"{state}/checktable_partials/documents"
    os.rename(sp, sp + ".old")  # the mid-swap crash window
    res = kernels.run_checktable_incremental(spark, _obj(spark, doc_dir), state)
    assert res.metrics["files_scanned"] == 0
    assert res.metrics["files_reused"] == 4
    full = _full_row(spark, doc_dir)
    for k, v in full.items():
        assert res.metrics[k] == v, k


def _visit_jobs(spark, fn):
    """``fn()`` and the number of Spark jobs it started."""
    import uuid

    sc = spark.sparkContext
    group = f"incremental-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "incremental visit")
    try:
        out = fn()
    finally:
        sc.setJobGroup("", "")
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_visit_job_counts(spark, doc_dir, tmp_path):
    """State I/O starts no Spark job: an append visit runs the new
    files' partials, the PK probe and one schema read; an idle visit
    only the last two; an idle checksum visit nothing at all."""
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    state = str(tmp_path / "state")
    kernels.run_checktable_incremental(spark, _obj(spark, doc_dir), state)
    kernels.table_checksum_incremental(spark, _obj(spark, doc_dir), cols, state)
    spark.createDataFrame(
        [(10_000_003, "one more", "en", "web", 8)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("append").parquet(doc_dir)

    res, jobs = _visit_jobs(
        spark, lambda: kernels.run_checktable_incremental(spark, _obj(spark, doc_dir), state)
    )
    assert res.metrics["files_scanned"] == 1 and 1 <= jobs <= 3
    res, jobs = _visit_jobs(
        spark, lambda: kernels.run_checktable_incremental(spark, _obj(spark, doc_dir), state)
    )
    assert res.metrics["files_scanned"] == 0 and jobs <= 2
    r, _ = _visit_jobs(
        spark, lambda: kernels.table_checksum_incremental(spark, _obj(spark, doc_dir), cols, state)
    )
    assert r["files_scanned"] == 1
    r, jobs = _visit_jobs(
        spark, lambda: kernels.table_checksum_incremental(spark, _obj(spark, doc_dir), cols, state)
    )
    assert r["files_scanned"] == 0 and jobs == 0


@pytest.mark.parametrize("seed, composite", [(1, False), (2, True), (3, False)])
def test_seeded_walk_matches_full_kernel_and_duckdb(spark, tmp_path, seed, composite):
    """A seeded walk over appends, in-place rewrites (a size change),
    deletions, 0-row files and duplicate keys.  After every visit the
    incremental row equals the full kernel and the DuckDB oracle, the
    incremental checksum equals the DuckDB checksum, and exactly the
    new or rewritten files were scanned."""
    import os
    import random

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from integritychecksforvldbs_spark.expectations import TableExpectations

    rng = random.Random(seed)
    base = expectations_for("documents")
    exp = TableExpectations(
        table="documents",
        primary_key=["doc_id", "lang"] if composite else ["doc_id"],
        not_null=base.not_null,
        domain_rules=base.domain_rules,
    )
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
                        ("source", pa.string()), ("n_chars", pa.int64())])
    d = tmp_path / "documents"
    d.mkdir()
    state = str(tmp_path / "state")
    names = iter(f"part-{i:05d}.parquet" for i in range(1000))

    def rows(n):
        out = []
        for _ in range(n):
            text = rng.choice([None, "ab", "abc", "hello"])
            out.append({
                "doc_id": rng.choice([None] + list(range(12))),  # duplicates and NULLs
                "text": text,
                "lang": rng.choice([None, "en", "de", "xyz"]),
                "source": "web",
                "n_chars": rng.choice([len(text or ""), 99]),
            })
        return out

    def write(name, n):
        pq.write_table(pa.Table.from_pylist(rows(n), schema), str(d / name))

    for _ in range(3):
        write(next(names), rng.randint(1, 6))
    kernels.run_checktable_incremental(spark, _obj(spark, str(d)), state, exp)
    kernels.table_checksum_incremental(spark, _obj(spark, str(d)), cols, state)
    con = duckdb.connect()
    try:
        for step in range(8):
            files = sorted(os.listdir(d))
            op = rng.choice(["append", "append", "rewrite", "delete", "empty"])
            if op == "delete" and len(files) < 2:
                op = "append"
            changed = 0
            if op == "append":
                write(next(names), rng.randint(1, 6))
                changed = 1
            elif op == "empty":
                write(next(names), 0)
                changed = 1
            elif op == "rewrite":
                victim = rng.choice(files)
                size = os.path.getsize(d / victim)
                while os.path.getsize(d / victim) == size:
                    write(victim, rng.randint(1, 8))
                changed = 1
            else:
                os.remove(d / rng.choice(files))

            obj = _obj(spark, str(d))
            res = kernels.run_checktable_incremental(spark, obj, state, exp)
            chk = kernels.table_checksum_incremental(spark, obj, cols, state)
            assert res.metrics["files_scanned"] == changed == chk["files_scanned"], (step, op)
            full = kernels.sql_frame(
                spark, kernels.checktable_sql(exp), {"documents": load_table(spark, str(d))}
            ).collect()[0].asDict()
            con.execute(
                f"CREATE OR REPLACE VIEW documents AS SELECT * FROM read_parquet('{d}/*.parquet')"
            )
            cur = con.execute(kernels.checktable_oracle_sql("documents", exp))
            oracle = dict(zip([c[0] for c in cur.description], cur.fetchone()))
            assert {k: res.metrics[k] for k in full} == full == oracle, (step, op)
            n_rows, checksum = con.execute(
                kernels.table_checksum_oracle("documents", cols)
            ).fetchone()
            assert (chk["n_rows"], chk["checksum"]) == (n_rows, checksum), (step, op)
    finally:
        con.close()


def test_file_uri_state_dir_is_the_local_path(spark, doc_dir, tmp_path):
    """A ``file:`` state dir names the same local directory as its
    plain path."""
    kernels.run_checktable_incremental(spark, _obj(spark, doc_dir), f"file://{tmp_path}/state")
    res = kernels.run_checktable_incremental(spark, _obj(spark, doc_dir), str(tmp_path / "state"))
    assert res.metrics["files_scanned"] == 0
