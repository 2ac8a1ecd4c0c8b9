"""The workloads, their timed loops and their output checks.

Each workload drives the program through its public entry points
(``IntegrityChecker.run`` with ``CheckParams``, and
``__spark_entry__.queries()``) in one process: one client in a closed
loop, because the scheduler is a sequential driver loop.  A *unit* is
the piece of work timed as a whole: one budgeted plus one resuming
invocation, one daily pass, or one sweep of the headline queries.
Units repeat until the run's seconds are spent, and at least one (two
headline sweeps) always completes.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field

import duckdb
import pandas as pd
import pyarrow.parquet as pq

import inputs
from spans import SPARK_METRICS, SparkCounters, Tracer, WRAP_POINTS, SELF_TIMED, plan_ms

# The headline query set: every operator family that the scheduler
# workloads never reach (dedup, text, similarity, analytics) and the
# versioned-table read paths, plus the CHECK* kernels as queries.
HEADLINE = [
    "checktable_lineitem", "checktable_orders", "checktable_documents",
    "checktable_embeddings", "checkalloc_rowcounts", "fk_orphans",
    "agg_pricing_summary", "row_number_ordering", "dedup_minhash_lsh",
    "dedup_simhash", "text_winnow", "text_quality", "ann_topk_prefiltered",
    "events_hourly_counts", "versioned_latest_orders", "versioned_dv_delete",
    "versioned_partitioned_prune", "versioned_sql_in_prune",
    "versioned_sql_star_prune",
]

# invocation A's wall-clock budget on budget_resume, fixed so that a
# faster program shows as more of the fleet covered: about half of one
# unbounded invocation after the warm-up pass (~13 s; A + B together
# take ~20 s) on a 4-core machine
BUDGET_TIME_LIMIT_S = 7
# the first set-up also starts the JVM, so the median is the second
# largest of four session builds on a running one
SETUPS = 5
SKIP_MSG = "Skipped due to TimeLimit Constraint"

END_TO_END = ("setup_s", "cycle_s", "command_p50_ms", "command_tail_ms",
              "checks_per_s", "peak_rss_mb")
UNITS = {"setup_s": "s", "cycle_s": "s", "command_p50_ms": "ms", "command_tail_ms": "ms",
         "checks_per_s": "1/s", "peak_rss_mb": "MB"}


def per_layer_names() -> list[str]:
    """Every per-layer metric a traced run prints, in a fixed order."""
    names = []
    for span in WRAP_POINTS:
        names += [f"{span}.calls", f"{span}.s"]
        if span in SELF_TIMED:
            names.append(f"{span}.self_s")
    names += ["scheduler.budget_coverage_frac", "runner.overhead_ms",
              "kernels.incremental.files_scanned",
              "kernels.incremental.files_reused", "kernels.incremental.reuse_frac",
              "kernels.full_rescan_s"]
    names += [f"spark.{m}" for m in SPARK_METRICS]
    for q in HEADLINE:
        names += [f"q.{q}.construct_s", f"q.{q}.plan_ms", f"q.{q}.execute_s"]
    names += ["q.construct_s", "q.plan_ms", "q.execute_s",
              "command.samples", "command.tail_pct",
              "trace.cycle_s"]
    return names


def layer_unit(name: str) -> str:
    for suffix, unit in ((".s", "s"), ("_s", "s"), ("_ms", "ms"), ("_mb", "MB"),
                         ("_frac", "ratio"), ("_pct", "%")):
        if name.endswith(suffix):
            return unit
    return "count"


def tail(latencies_ms: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples) of the highest percentile that has
    at least ten samples beyond it; the maximum when there are fewer
    than 21 samples, where that percentile would not lie above the median."""
    xs = sorted(latencies_ms)
    n = len(xs)
    if n < 21:
        return xs[-1], 100.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


@dataclass
class Tally:
    """Outcome tally behind the result's ``attempted``/``failed``."""
    attempted: int = 0
    failures: list[str] = field(default_factory=list)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(what)
            print(f"# check failed: {what}", file=sys.stderr)


class Bench:
    """State shared by one benchmark run: the session, work directory,
    DuckDB oracle connection, tracer and the units' measurements."""

    def __init__(self, seconds: float, traced: bool, work: str, spans_path: str):
        self.seconds, self.traced, self.work = seconds, traced, work
        self.spans_path = spans_path
        self.spark = None
        self.jvm_pid: int | None = None
        self.tracer = Tracer() if traced else None
        self.duck = duckdb.connect()
        self.tally = Tally()
        self.unit_s: list[float] = []
        self.latencies_ms: list[float] = []
        self.coverage: list[float] = []  # budget_resume: share of due objects A checked
        self.checks = 0
        self.check_wall_s = 0.0
        self.layer: dict[str, float] = dict.fromkeys(per_layer_names(), 0.0)
        self.units = 0
        # headline_queries sums per-query medians instead
        self.cycle = lambda: statistics.median(self.unit_s)
        # what cycle_s is on this workload, printed beside it on standard error
        self.cycle_name = "cycle_s"

    # -- session --------------------------------------------------------
    def conf(self) -> dict[str, str]:
        conf = {
            "spark.driver.memory": "2g",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} -XX:-UsePerfData "
                # a fixed-size heap collected on allocation, so peak RSS
                # follows the work done rather than collector timing
                "-Xms2g -XX:+UseSerialGC",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.traced:  # keep every job and stage for the counters
            conf |= {"spark.ui.retainedJobs": "1000000", "spark.ui.retainedStages": "1000000"}
        return conf

    def setup(self, probe_table: str) -> float:
        """Build the session and run a one-table CHECKTABLE warm-up,
        SETUPS times (the first also launches the JVM); median seconds."""
        from integritychecksforvldbs_spark import session
        from integritychecksforvldbs_spark.operators.kernels import run_checktable
        from integritychecksforvldbs_spark.sources.loader import load_table
        from pyspark import SparkContext

        times = []
        for _ in range(SETUPS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            self.spark = session.get_spark(app_name="perfbench", extra_conf=self.conf())
            run_checktable(self.spark, load_table(self.spark, probe_table), "setup", "orders")
            times.append(time.perf_counter() - t0)
        self.jvm_pid = SparkContext._gateway.proc.pid
        self.t_setup = time.perf_counter()
        print(f"# set-ups {[round(t, 3) for t in times]}", file=sys.stderr)
        return statistics.median(times)

    def close(self) -> None:
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            gw.proc.stdin.close()
            try:
                gw.proc.wait(timeout=30)
            except Exception:
                gw.proc.kill()
                gw.proc.wait()
        self.duck.close()

    def peak_rss_mb(self) -> float:
        total = 0
        for pid in ("self", str(self.jvm_pid)):
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        return total / 1024.0

    # -- timed loop -----------------------------------------------------
    def loop(self, unit, min_units: int = 1) -> None:
        """Run ``unit(i)`` until the run's seconds are spent, at least
        ``min_units`` times."""
        print(f"# timing starts {time.perf_counter() - self.t_setup:.1f}s after set-up",
              file=sys.stderr)
        if self.traced:  # spans and Spark figures of the timed units only
            self.tracer.spans.clear()
            counters = SparkCounters(self.spark)
            counters.mark()
        start = time.perf_counter()
        i = 0
        while i < min_units or time.perf_counter() - start < self.seconds:
            unit(i)
            i += 1
        self.units = i
        if self.traced:
            self.tracer.uninstall()
            for k, v in self.tracer.layer_metrics().items():
                if not k.startswith("session."):
                    self.layer[k] = v if k == "runner.overhead_ms" else v / i
            self.layer.update({k: v / i for k, v in counters.totals().items()})
            if self.coverage:
                self.layer["scheduler.budget_coverage_frac"] = statistics.mean(self.coverage)
            self.tracer.dump(self.spans_path)
            print(f"# spans written to {self.spans_path}", file=sys.stderr)

    def result(self, setup_s: float) -> dict:
        value, pct, n = tail(self.latencies_ms)
        print(f"# units={self.units} unit_s={[round(u, 3) for u in self.unit_s]} "
              f"command samples={n} tail=p{pct:.1f}", file=sys.stderr)
        if self.traced:
            self.layer["command.samples"] = n
            self.layer["command.tail_pct"] = pct
            self.layer["trace.cycle_s"] = self.cycle()
            metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in self.layer.items()}
        else:
            e2e = {
                "setup_s": setup_s,
                "cycle_s": self.cycle(),
                "command_p50_ms": statistics.median(self.latencies_ms),
                "command_tail_ms": value,
                "checks_per_s": self.checks / self.check_wall_s,
                "peak_rss_mb": self.peak_rss_mb(),
            }
            metrics = {k: {"value": e2e[k], "unit": UNITS[k]} for k in END_TO_END}
        failed = len(self.tally.failures)
        # the workload's own names for figures the result line carries
        # under shared names or not at all (a metric that can read 0 has
        # no relative bound, so failed_frac is not a result metric)
        named = [f"{self.cycle_name}={self.cycle()} s",
                 f"failed_frac={failed / self.tally.attempted} ratio"]
        if self.coverage:
            named.append(f"budget_coverage={statistics.mean(self.coverage)} ratio")
        print(f"# {' '.join(named)}", file=sys.stderr)
        return {"correct": failed == 0, "attempted": self.tally.attempted,
                "failed": failed, "metrics": metrics}

    # -- oracle helpers -------------------------------------------------
    def view(self, name: str, files: list[str]) -> None:
        listing = ", ".join(f"'{f}'" for f in files)
        self.duck.execute(f'CREATE OR REPLACE VIEW "{name}" AS '
                          f"SELECT * FROM read_parquet([{listing}])")

    def check_checktable(self, db: str, table: str, files: list[str], metrics: dict) -> None:
        """CHECKTABLE counters against the same aggregation in DuckDB."""
        from integritychecksforvldbs_spark.operators.kernels import checktable_oracle_sql

        self.view(table, files)
        cur = self.duck.execute(checktable_oracle_sql(table))
        want = dict(zip([d[0] for d in cur.description], cur.fetchone()))
        bad = {k: (metrics.get(k), v) for k, v in want.items() if metrics.get(k) != v}
        self.tally.check(not bad, f"CHECKTABLE {db}.{table} disagrees with oracle: {bad}")

    def check_fks(self, db: str, table: str, files: dict[str, list[str]], metrics: dict) -> None:
        """FK orphan counts against DuckDB anti-joins."""
        from integritychecksforvldbs_spark.expectations import expectations_for

        for fk in expectations_for(table).foreign_keys:
            self.view("child", files[table])
            self.view("parent", files[fk.parent_table])
            on = " AND ".join(f"p.{p} = c.{c}" for c, p in zip(fk.columns, fk.parent_columns))
            nn = " AND ".join(f"c.{c} IS NOT NULL" for c in fk.columns)
            want = self.duck.execute(
                f"SELECT count(*) FROM child c WHERE {nn} AND NOT EXISTS "
                f"(SELECT 1 FROM parent p WHERE {on})").fetchone()[0]
            key = f"orphans_{'_'.join(fk.columns)}"
            self.tally.check(metrics.get(key) == want,
                              f"FK {db}.{table}.{key}: {metrics.get(key)} != oracle {want}")


# ---------------------------------------------------------------------------
# Scheduler workloads
# ---------------------------------------------------------------------------

def checker(b: Bench, base_dir: str, state: str, log: str, **params):
    from integritychecksforvldbs_spark.plans.scheduler import CheckParams, IntegrityChecker

    return IntegrityChecker(b.spark, base_dir, state_path=state, log_path=log,
                            params=CheckParams(**params))


def log_rows(path: str) -> list[dict]:
    """The command log's rows, timestamps as naive UTC like the scheduler's."""
    rows = pq.read_table(path).to_pylist() if os.path.exists(path) else []
    for r in rows:
        r["start_time"] = r["start_time"].replace(tzinfo=None)
        r["end_time"] = r["end_time"].replace(tzinfo=None)
    return rows


def command_ms(rows: list[dict]) -> list[float]:
    return [(r["end_time"] - r["start_time"]).total_seconds() * 1000.0 for r in rows]


def check_outcomes(b: Bench, spec: dict, outcomes, files_now: dict | None = None) -> None:
    """Every command must have run (no infrastructure error) and every
    CHECKTABLE / FK result must agree with DuckDB over the same files.
    An 8900 finding the oracle agrees with (lineitem's duplicate keys,
    the injected violations) is correct output."""
    for o in outcomes:
        name = f"{o.spec.command_type} {o.spec.database}.{o.spec.object}"
        if o.error_number not in (0, 8900) or o.result is None:
            b.tally.check(False, f"{name} errored: {o.error_number} {o.error_message}")
            continue
        if o.result.kind != "CHECKTABLE":
            b.tally.check(o.error_number == 0, f"{name}: {o.error_message}")
            continue
        files = (files_now or spec["databases"][o.spec.database]["files"])
        b.check_checktable(o.spec.database, o.spec.object, files[o.spec.object], o.result.metrics)
        if any(k.startswith("orphans_") for k in o.result.metrics):
            b.check_fks(o.spec.database, o.spec.object, files, o.result.metrics)


def checked_tables(report) -> list[tuple[str, str]]:
    """(database, table) of each CHECKTABLE a run issued, in order."""
    return [(o.spec.database, o.spec.object) for o in report.outcomes
            if o.spec.kind == "CHECKTABLE"]


def budget_resume(b: Bench, spec: dict) -> None:
    """Invocation A with a time limit, then unbounded invocation B on
    the same day with the same ledger and log, from the seeded ledger."""
    seeded = {(r["database_name"], r["object_name"]): r for r in spec["ledger_rows"]}
    due = {(db, t) for db in spec["databases"] for t in spec["tables"]}
    too_long = {k for k, r in seeded.items() if int(r["avg_run_duration_ms"]) >=
                inputs.BUDGET_TOO_LONG_MS}

    def seeded_date(db: str, t: str) -> str:
        r = seeded.get((db, t))
        return r["last_check_date"] if r else "1900-01-01"

    def unit(i: int) -> None:
        d = os.path.join(b.work, f"budget-{i}")
        shutil.copytree(spec["ledger"], f"{d}/state")
        t0 = time.perf_counter()
        a = checker(b, spec["base_dir"], f"{d}/state", f"{d}/log",
                    time_limit=BUDGET_TIME_LIMIT_S, extended_logical_checks="Y").run()
        wall = time.perf_counter() - t0
        after_a = {(r["database_name"], r["object_name"]): r["command"]
                   for r in pq.read_table(f"{d}/state").to_pylist()}
        t0 = time.perf_counter()
        bb = checker(b, spec["base_dir"], f"{d}/state", f"{d}/log",
                     extended_logical_checks="Y").run()
        wall += time.perf_counter() - t0
        b.unit_s.append(wall)
        b.latencies_ms += command_ms(log_rows(f"{d}/log"))

        in_a, in_b = checked_tables(a), checked_tables(bb)
        b.checks += len(in_a) + len(in_b)
        b.check_wall_s += wall
        # the fraction of due objects the budgeted run checked
        b.coverage.append(len(set(in_a) & due) / len(due))
        check_outcomes(b, spec, a.outcomes + bb.outcomes)
        b.tally.check(len(in_a + in_b) == len(set(in_a + in_b)),
                       "an object was checked twice on one day")
        b.tally.check(due <= set(in_a + in_b), f"A+B missed {sorted(due - set(in_a + in_b))}")
        # the too-long objects are their database's oldest, so A picks
        # them first once its table pass reaches that database
        if any(db in {k[0] for k in too_long} for db, _ in in_a):
            b.tally.check(
                all(after_a[k].startswith(SKIP_MSG) for k in too_long)
                and not too_long & set(in_a),
                f"too-long objects not skipped by A: {sorted(too_long)}")
        db_key = {db: min(seeded_date(db, t) for t in spec["tables"]) for db in spec["databases"]}
        visits = list(dict.fromkeys(db for db, _ in in_a))
        per_db_sorted = all(
            [seeded_date(db, t) for d2, t in in_a if d2 == db]
            == sorted(seeded_date(db, t) for d2, t in in_a if d2 == db)
            for db in visits)
        b.tally.check(visits == sorted(visits, key=lambda db: (db_key[db], db))
                       and per_db_sorted, f"A did not visit oldest-first: {in_a}")

    # untimed: one unbounded pass over the first database with its own
    # ledger and log, so that every command type, ledger save and log
    # flush has been compiled before A starts.  Without it, which of A's
    # commands pay the JIT depends on the seeded visit order, and the
    # per-command median spread twice as wide across seeds.
    d = os.path.join(b.work, "warm-up")
    os.makedirs(d)
    t0 = time.perf_counter()
    checker(b, spec["base_dir"], f"{d}/state", f"{d}/log", databases="db00",
            extended_logical_checks="Y").run()
    print(f"# warm-up pass {time.perf_counter() - t0:.1f}s", file=sys.stderr)
    b.loop(unit)


def incremental_daily(b: Bench, spec: dict) -> None:
    """Day 0 builds the per-file CHECKTABLE partials; each timed day
    appends ~2% new rows as one new part file per daily table and runs
    an incremental CHECKTABLE pass (fresh ledger, so every object is
    due; shared partial-state directory and command log)."""
    db = "db00"
    files = spec["databases"][db]["files"]
    state_dir = os.path.join(b.work, "partials")
    log = os.path.join(b.work, "daily-log")
    day = {"n": 0}
    files_seen = {"scanned": 0, "reused": 0}

    def run_day(i: int | None) -> None:
        """One daily pass; ``i`` is the timed unit index, None untimed."""
        n = day["n"]
        if n:
            inputs.append_day(spec, n)
        d = os.path.join(b.work, f"day-{n}")
        os.makedirs(d)
        t0 = time.perf_counter()
        report = checker(b, spec["base_dir"], f"{d}/state", log, check_commands="CHECKTABLE",
                         incremental_state_dir=state_dir).run()
        wall = time.perf_counter() - t0
        day["n"] += 1
        rows = [r for r in log_rows(log) if r["start_time"] >= report.job_start_time]
        scanned = reused = 0
        for r in rows:
            m = json.loads(r["extended_info"]).get("metrics", {})
            scanned += m.get("files_scanned", 0)
            reused += m.get("files_reused", 0)
            if n:  # exactly the day's one new part file
                b.tally.check(m.get("files_scanned") == 1,
                               f"day {n} {r['object_name']} scanned {m.get('files_scanned')}"
                               " files, expected 1")
        check_outcomes(b, spec, report.outcomes, files)
        b.tally.check(len(report.outcomes) == len(spec["tables"]),
                       f"day {n} ran {len(report.outcomes)} commands")
        if i is not None:
            b.unit_s.append(wall)
            b.latencies_ms += command_ms(rows)
            b.checks += len(report.outcomes)
            b.check_wall_s += wall
            files_seen["scanned"] += scanned
            files_seen["reused"] += reused

    run_day(None)  # day 0: full scan, builds the partials
    b.cycle_name = "day_cycle_s"
    b.loop(run_day)
    if b.traced:
        s, r = files_seen["scanned"], files_seen["reused"]
        b.layer["kernels.incremental.files_scanned"] = s / b.units
        b.layer["kernels.incremental.files_reused"] = r / b.units
        b.layer["kernels.incremental.reuse_frac"] = r / (s + r)
        # the same pass as a full rescan: no partial state
        d = os.path.join(b.work, "full-rescan")
        os.makedirs(d)
        t0 = time.perf_counter()
        report = checker(b, spec["base_dir"], f"{d}/state", f"{d}/log",
                         check_commands="CHECKTABLE").run()
        b.layer["kernels.full_rescan_s"] = time.perf_counter() - t0
        check_outcomes(b, spec, report.outcomes, files)


# ---------------------------------------------------------------------------
# Headline queries
# ---------------------------------------------------------------------------

def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def headline_queries(b: Bench, spec: dict) -> None:
    """Each headline query once against its DuckDB oracle (untimed; this
    pass also builds the versioned mirrors and warms the JIT), then
    timed sweeps of construct + noop write per query."""
    import __spark_entry__ as entry

    sf = spec["sf_dir"]
    qs, oracles = entry.queries(), entry.oracle_sql()
    for t, paths in spec["files"].items():
        b.view(t, paths)
    for name in HEADLINE:
        t0 = time.perf_counter()
        got = _normalize(qs[name](b.spark, sf).toPandas())
        t1 = time.perf_counter()
        want = _normalize(b.duck.execute(oracles[name]).df())
        print(f"# oracle {name} spark {t1 - t0:.2f}s duckdb {time.perf_counter() - t1:.2f}s",
              file=sys.stderr)
        try:
            pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=False,
                                          rtol=1e-9, atol=1e-9)
            ok, why = True, ""
        except AssertionError as exc:
            ok, why = False, str(exc)[:300]
        b.tally.check(ok, f"query {name} disagrees with oracle: {why}")
    b.spark.catalog.clearCache()

    samples: dict[str, list[float]] = {n: [] for n in HEADLINE}
    parts: dict[str, list[tuple[float, float, float]]] = {n: [] for n in HEADLINE}

    def unit(i: int) -> None:
        t_unit = time.perf_counter()
        for name in HEADLINE:
            t0 = time.perf_counter()
            df = qs[name](b.spark, sf)
            t1 = time.perf_counter()
            p = plan_ms(df) if b.traced else 0.0
            t2 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t3 = time.perf_counter()
            wall = (t1 - t0) + (t3 - t2)
            samples[name].append(wall)
            parts[name].append((t1 - t0, p, t3 - t2))
            b.latencies_ms.append(wall * 1000.0)
            b.checks += 1
            b.check_wall_s += wall
        b.spark.catalog.clearCache()
        b.unit_s.append(time.perf_counter() - t_unit)

    # two sweeps give 38 latency samples, enough for a tail percentile
    # above the median (ten samples beyond it)
    b.loop(unit, min_units=2)
    b.cycle = lambda: sum(statistics.median(v) for v in samples.values())
    b.cycle_name = "headline_s"
    if b.traced:
        for name in HEADLINE:
            for k, key in enumerate(("construct_s", "plan_ms", "execute_s")):
                v = statistics.median(p[k] for p in parts[name])
                b.layer[f"q.{name}.{key}"] = v
                b.layer[f"q.{key}"] += v


WORKLOADS = {
    "budget_resume": budget_resume,
    "incremental_daily": incremental_daily,
    "headline_queries": headline_queries,
}


def probe_table(spec: dict) -> str:
    if "sf_dir" in spec:
        return spec["files"]["orders"][0]
    return spec["databases"]["db00"]["files"]["orders"][0]


def run(workload: str, seed: int, seconds: float, traced: bool, work: str) -> dict:
    t0 = time.perf_counter()
    spec = inputs.build(workload, seed, os.path.join(work, "inputs"))
    print(f"# inputs {workload} seed={seed} digest={spec['digest']} "
          f"built in {time.perf_counter() - t0:.1f}s", file=sys.stderr)
    spans_path = os.path.join(os.path.dirname(work), f"spans-{workload}-{seed}.json")
    b = Bench(seconds, traced, work, spans_path)
    try:
        if traced:
            b.tracer.install()
        setup_s = b.setup(probe_table(spec))
        if traced:
            m = b.tracer.layer_metrics()
            b.layer["session.get_spark.calls"] = m["session.get_spark.calls"] / SETUPS
            b.layer["session.get_spark.s"] = m["session.get_spark.s"] / SETUPS
            b.tracer.spans.clear()
        WORKLOADS[workload](b, spec)
        return b.result(setup_s)
    finally:
        if traced:
            b.tracer.uninstall()
        b.close()
