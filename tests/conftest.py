import os
import re
import sys

import pytest
from hypothesis import settings

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Property tests are a gate by default: the same examples on every run,
# and a failure prints the blob that reproduces it.  Search for new
# counterexamples with `pytest --hypothesis-profile explore`.
settings.register_profile("default", derandomize=True, print_blob=True)
settings.register_profile("explore", max_examples=1000, print_blob=True)


# ---------------------------------------------------------------------------
# full-suite sharding (VERDICT r13 #2: the driver's single-process
# `pytest tests/ -x -q` run takes ~65 min — past its verify window —
# and pytest-xdist is not installable in this offline sandbox).  When
# the invocation targets the WHOLE tests directory, this hook fans the
# test files out over N subprocess shards (each a plain pytest run over
# a file subset on local[cpus/N]) and aggregates their exit codes —
# every test still runs, nothing is deselected.  Measured: 65 min →
# ~10 min wall on 32 cores.  Opt out with SPARK_GRAFT_TEST_NO_SHARD=1
# (or by naming specific files/tests, which bypasses it naturally).
# Any error in the wrapper falls back to the normal in-process run.
# ---------------------------------------------------------------------------


def _shard_files(tests_dir: str, n: int) -> list[list[str]]:
    import glob

    files = sorted(glob.glob(os.path.join(tests_dir, "test_*.py")))
    shards: list[list[str]] = [[] for _ in range(n)]
    # round-robin over the sorted list spreads the heavy families
    # (versioned_*, curation*) across shards
    for i, f in enumerate(files):
        shards[i % n].append(f)
    return [s for s in shards if s]


_SECTION = re.compile(r"^=+ (.+?) =+$")
_SUMMARY = re.compile(r"^=*\s*(\d+ \w+.*|no tests ran.*) in [\d.]+s\b")
_KEPT_SECTIONS = ("FAILURES", "ERRORS", "short test summary info")


def _shard_report(text: str) -> tuple[str, dict[str, int]]:
    """What to print of one shard's pytest output, and its counts.

    Keeps the FAILURES and ERRORS sections (tracebacks, Hypothesis
    reproduce blobs) and the short test summary, then the final summary
    line, which alone supplies the counts.  A shard that died before
    printing a summary is shown by its last 2,000 characters.
    """
    lines = text.splitlines()
    end = next((i for i in reversed(range(len(lines))) if _SUMMARY.match(lines[i])), None)
    if end is None:
        return text[-2000:], {}
    kept, keep = [], False
    for line in lines[:end]:
        m = _SECTION.match(line)
        if m:
            keep = m.group(1) in _KEPT_SECTIONS
        if keep:
            kept.append(line)
    kept.append(lines[end])
    counts: dict[str, int] = {}
    for n, word in re.findall(r"(\d+) (\w+)", lines[end]):
        word = {"error": "errors", "warning": "warnings"}.get(word, word)
        counts[word] = counts.get(word, 0) + int(n)
    return "\n".join(kept), counts


_WATCHDOG_LAUNCHER = """
import os, sys, threading, time
import pytest

def _watch(parent):
    while True:
        time.sleep(5)
        if os.getppid() != parent:
            os._exit(124)  # parent died (driver timeout): don't leak

threading.Thread(target=_watch, args=(os.getppid(),), daemon=True).start()
sys.exit(pytest.main(sys.argv[1:]))
"""


def pytest_cmdline_main(config):
    try:
        if os.environ.get("SPARK_GRAFT_TEST_SHARD") is not None:
            return None  # already inside a shard
        if os.environ.get("SPARK_GRAFT_TEST_NO_SHARD"):
            return None
        tests_dir = os.path.dirname(os.path.abspath(__file__))
        raw_args = [a for a in config.args if not a.startswith("-")]
        paths = [os.path.normpath(os.path.abspath(a)) for a in raw_args]
        # shard ONLY a full-suite run (the bare tests/ directory);
        # file- or test-scoped invocations run normally
        if not paths or any(p != tests_dir for p in paths):
            return None
        import subprocess
        import tempfile
        import time

        cpus = os.cpu_count() or 8
        n = max(2, min(4, cpus // 8)) if cpus >= 16 else 2
        shards = _shard_files(tests_dir, n)
        per_shard_cpus = str(max(2, cpus // len(shards)))
        procs = []
        t0 = time.time()
        for i, files in enumerate(shards):
            env = dict(os.environ)
            env["SPARK_GRAFT_TEST_SHARD"] = str(i)
            env["SPARK_GRAFT_CPUS"] = per_shard_cpus
            out = tempfile.NamedTemporaryFile(
                mode="w+", prefix=f"pytest_shard{i}_", suffix=".log",
                delete=False,
            )
            cmd = [sys.executable, "-c", _WATCHDOG_LAUNCHER] + files + [
                "-q", "-p", "no:cacheprovider",
            ]
            if getattr(config.option, "exitfirst", False) or getattr(
                config.option, "maxfail", 0
            ) == 1:
                cmd.append("-x")
            procs.append(
                (i, subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, env=env), out)
            )
        print(
            f"[shard-runner] {len(shards)} shards x local[{per_shard_cpus}] "
            f"over {sum(len(s) for s in shards)} test files",
            flush=True,
        )
        rcs = {}
        pending = dict((i, p) for i, p, _ in procs)
        while pending:
            time.sleep(10)
            for i in list(pending):
                rc = pending[i].poll()
                if rc is not None:
                    rcs[i] = rc
                    del pending[i]
                    print(
                        f"[shard-runner] shard {i} finished rc={rc} "
                        f"({time.time() - t0:.0f}s elapsed)",
                        flush=True,
                    )
        totals = {"passed": 0, "failed": 0, "errors": 0, "skipped": 0}
        for i, _, out in procs:
            out.seek(0)
            report, counts = _shard_report(out.read())
            out.close()
            print(f"----- shard {i} ({out.name}) -----\n{report}", flush=True)
            for k in totals:
                totals[k] += counts.get(k, 0)
        dt = time.time() - t0
        bits = [f"{totals['passed']} passed"] + [
            f"{totals[k]} {k}" for k in ("failed", "errors", "skipped") if totals[k]
        ]
        print(f"{', '.join(bits)} in {dt:.2f}s", flush=True)
        return 0 if all(rc == 0 for rc in rcs.values()) else 1
    except Exception as e:  # any wrapper problem: run normally
        print(f"[shard-runner] disabled ({e}); running in-process", flush=True)
        return None

from integritychecksforvldbs_spark.session import get_spark  # noqa: E402
from integritychecksforvldbs_spark.sources.loader import load_table  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
TESTDATA_ROOT = "/root/testdata"
TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(autouse=True)
def _restore_process_memos():
    """Put the process-global memos and registries back as they were
    before each test, so a test that registers a log backend, binds a
    SQL table name or fills a schema memo cannot change what a later
    test on the same shard sees."""
    from integritychecksforvldbs_spark.sources import loader, versioned, versioned_sql

    saved = [
        (d, dict(d))
        for d in (
            loader._SCHEMA_MEMO,
            loader._NANOS_MEMO,
            versioned._LOG_BACKENDS,
            versioned_sql._TABLES,
        )
    ]
    last_bound = versioned_sql.LAST_BOUND
    yield
    for d, before in saved:
        d.clear()
        d.update(before)
    versioned_sql.LAST_BOUND = last_bound


@pytest.fixture(scope="session")
def tables(spark):
    return {t: load_table(spark, f"{SF_DIR}/{t}.parquet") for t in TABLES}


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()
