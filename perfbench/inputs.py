"""Seeded input generator for the benchmark workloads.

Every input is synthesised from the seed alone: the base tables follow
the star schema, value domains and key distributions of the repository's
test fixtures (TPC-H-like ``region nation customer supplier part orders
lineitem`` plus ``events``, ``documents`` and ``embeddings``), so the
program sees the same shapes it is tested on without the benchmark
reading anything outside its checkout.  Same seed, same bytes: every
file's SHA-256 goes into ``manifest.json`` with the injected violations
and seeded ledger rows, and the manifest digest identifies the inputs.

Run ``python3 perfbench/inputs.py --workload budget_resume --seed 1
--out /some/dir`` to build one workload's inputs and print its manifest.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
from datetime import date, datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "new"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "screw", "valve", "pin"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]

US_PER_DAY = 86_400_000_000


def _days_ts(rng, n: int, first: date, last: date) -> pa.Array:
    """Midnight timestamps drawn uniformly from [first, last]."""
    epoch = date(1970, 1, 1)
    lo, hi = (first - epoch).days, (last - epoch).days
    days = rng.integers(lo, hi + 1, n, dtype=np.int64)
    return pa.array(days * US_PER_DAY, pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _rows(scale: float, per_unit: int, floor: int = 1) -> int:
    return max(floor, int(round(per_unit * scale)))


def customer_table(rng, scale: float) -> pa.Table:
    n = _rows(scale, 150_000)
    return pa.table({
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n, dtype=np.int32)),
        "c_acctbal": _money(rng, n, -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n)],
    })


def supplier_table(rng, scale: float) -> pa.Table:
    n = _rows(scale, 10_000)
    return pa.table({
        "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n, dtype=np.int32)),
        "s_acctbal": _money(rng, n, -999.99, 9999.99),
    })


def part_table(rng, scale: float) -> pa.Table:
    n = _rows(scale, 200_000)
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    return pa.table({
        "p_partkey": pa.array(np.arange(n, dtype=np.int64)),
        "p_name": names[rng.integers(0, len(names), n)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n)],
        "p_size": pa.array(rng.integers(1, 51, n, dtype=np.int32)),
        "p_retailprice": 900.0 + (np.arange(n) % 1000) / 10.0,
    })


def orders_table(rng, scale: float, first_key: int = 0, n: int | None = None) -> pa.Table:
    n = _rows(scale, 1_500_000) if n is None else n
    n_cust = _rows(scale, 150_000)
    return pa.table({
        "o_orderkey": pa.array(np.arange(first_key, first_key + n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n, dtype=np.int64)),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, n, 1000.0, 500_000.0),
        "o_orderdate": _days_ts(rng, n, date(1995, 1, 1), date(2001, 8, 1)),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n)],
    })


def lineitem_table(rng, scale: float, n: int | None = None) -> pa.Table:
    """Keys are drawn uniformly, so ``(l_orderkey, l_linenumber)`` has
    the fixtures' ~23% duplicate rate: CHECKTABLE's ``pk_dup_rows``
    finding on lineitem is expected output."""
    n = _rows(scale, 6_000_000) if n is None else n
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, _rows(scale, 1_500_000), n, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, _rows(scale, 200_000), n, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, _rows(scale, 10_000), n, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n, dtype=np.int32)),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, n, 900.0, 105_000.0),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": _days_ts(rng, n, date(1995, 1, 2), date(2001, 11, 4)),
    })


def events_table(rng, scale: float, first_id: int = 0, n: int | None = None) -> pa.Table:
    n = _rows(scale, 1_000_000) if n is None else n
    start = int((datetime(2024, 1, 1) - datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    ts = np.sort(rng.integers(start, start + 30 * US_PER_DAY, n, dtype=np.int64))
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, _rows(scale, 15_000), n, dtype=np.int64)),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def documents_table(rng, scale: float) -> pa.Table:
    """Random-word documents; one in twenty is an edited copy of an
    earlier one (a word replaced, ``dup`` appended), so the dedup
    operators find near-duplicate pairs."""
    n = _rows(scale, 50_000, floor=500)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(words + ["dup"]))
        else:
            k = int(rng.integers(10, 90))
            texts.append(" ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), k)]))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings_table(rng, scale: float) -> pa.Table:
    """Unit-norm 64-d vectors around ten label centroids."""
    n = _rows(scale, 20_000, floor=500)
    centers = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, n)
    vecs = centers[labels] + rng.normal(0.0, 1.5, (n, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })


def base_tables(rng, scale: float) -> dict[str, pa.Table]:
    """One database's ten tables at ``scale`` (1.0 ≈ TPC-H sf1 row counts)."""
    return {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }),
        "customer": customer_table(rng, scale),
        "supplier": supplier_table(rng, scale),
        "part": part_table(rng, scale),
        "orders": orders_table(rng, scale),
        "lineitem": lineitem_table(rng, scale),
        "events": events_table(rng, scale),
        "documents": documents_table(rng, scale),
        "embeddings": embeddings_table(rng, scale),
    }


def inject_violations(rng, tables: dict[str, pa.Table]) -> dict[str, int]:
    """Overwrite a few seeded rows with logical violations CHECKTABLE and
    the FK probes must find: NULL order keys, negative quantities and
    lineitem rows whose order does not exist.  Returns the counts."""
    orders, li = tables["orders"], tables["lineitem"]
    n_null, n_neg, n_orphan = (int(x) for x in rng.integers(1, 8, 3))
    null_mask = np.zeros(orders.num_rows, dtype=bool)
    null_mask[rng.choice(orders.num_rows, n_null, replace=False)] = True
    keys = pa.array(orders["o_orderkey"].to_numpy(), mask=null_mask)
    tables["orders"] = orders.set_column(0, "o_orderkey", keys)

    rows = rng.choice(li.num_rows, n_neg + n_orphan, replace=False)
    qty = li["l_quantity"].to_numpy().copy()
    qty[rows[:n_neg]] *= -1
    okey = li["l_orderkey"].to_numpy().copy()
    okey[rows[n_neg:]] = orders.num_rows + 1000 + np.arange(n_orphan)
    li = li.set_column(li.schema.get_field_index("l_quantity"), "l_quantity", pa.array(qty))
    tables["lineitem"] = li.set_column(0, "l_orderkey", pa.array(okey))
    return {
        "orders.null_pk": n_null,
        "lineitem.negative_quantity": n_neg,
        "lineitem.fk_orphan_orderkey": n_orphan,
    }


def write_table(table: pa.Table, db_dir: str, name: str, n_parts: int) -> list[str]:
    """One ``<name>.parquet`` file, or a ``<name>/`` directory of
    ``n_parts`` part files (the layout the catalog lists per file)."""
    if n_parts <= 1:
        path = os.path.join(db_dir, f"{name}.parquet")
        pq.write_table(table, path)
        return [path]
    tdir = os.path.join(db_dir, name)
    os.makedirs(tdir, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, n_parts + 1).astype(int)
    paths = []
    for k in range(n_parts):
        path = os.path.join(tdir, f"part-{k:05d}.parquet")
        pq.write_table(table.slice(bounds[k], bounds[k + 1] - bounds[k]), path)
        paths.append(path)
    return paths


# ---------------------------------------------------------------------------
# Workload layouts
# ---------------------------------------------------------------------------

BUDGET_DBS = 2
BUDGET_SCALE = 0.001
# the TPC-H core: every foreign key's parent is in the database
BUDGET_TABLES = ("region", "nation", "supplier", "customer", "part", "orders", "lineitem")
BUDGET_TOO_LONG_MS = 600_000  # 10 min: never fits a budget (+1 min grace)
DAILY_SCALE = 0.005
DAILY_APPEND_FRAC = 0.02
DAILY_TABLES = ("lineitem", "orders", "events")
HEADLINE_SCALE = 0.005


def _fleet(rng, root: str, n_dbs: int, scale: float, tables: tuple[str, ...]) -> dict:
    dbs = {}
    for d in range(n_dbs):
        name = f"db{d:02d}"
        db_dir = os.path.join(root, "fleet", name)
        os.makedirs(db_dir)
        data = base_tables(rng, scale)
        violations = inject_violations(rng, data)
        files = {t: write_table(data[t], db_dir, t, 1) for t in tables}
        dbs[name] = {"violations": violations, "files": files}
    return {"base_dir": os.path.join(root, "fleet"), "databases": dbs, "tables": list(tables)}


def _seed_ledger(rng, spec: dict, path: str) -> list[dict]:
    """A prior resume ledger (plans.state.STATE_SCHEMA): db00 holds the
    too-long objects, dated oldest so invocation A reaches them first;
    db01 is never checked (an initial run); the rest have seeded
    ``last_check_date``s from the past month."""
    from_day = date(2000, 1, 1)  # any past date is due; only "today" is not
    rows = []
    dbs = sorted(spec["databases"])
    too_long = {(dbs[0], t) for t in rng.choice(spec["tables"], 2, replace=False)}
    for db in dbs:
        if db == dbs[1]:
            continue
        for t in spec["tables"]:
            size = sum(os.path.getsize(p) for p in spec["databases"][db]["files"][t])
            long = (db, t) in too_long
            last = date(1900, 1, 1) if long else from_day + timedelta(days=int(rng.integers(0, 30)))
            avg = BUDGET_TOO_LONG_MS if long else int(rng.integers(100, 800))
            start = datetime.combine(last, datetime.min.time()) + timedelta(hours=2)
            rows.append({
                "id": len(rows) + 1,
                "database_name": db,
                "schema": "main",
                "object_name": t,
                "object_type": "U",
                "used_page_count": size,
                "start_time": start,
                "end_time": start + timedelta(milliseconds=avg),
                "run_duration_ms": avg,
                "command": "Command Executed: seeded",
                "number_of_executions": int(rng.integers(1, 10)),
                "avg_run_duration_ms": avg,
                "previous_run_date": None,
                "previous_run_duration_ms": None,
                "last_check_date": last,
                "active": True,
            })
    ts = pa.timestamp("us", tz="UTC")
    schema = pa.schema([
        ("id", pa.int64()), ("database_name", pa.string()), ("schema", pa.string()),
        ("object_name", pa.string()), ("object_type", pa.string()),
        ("used_page_count", pa.int64()), ("start_time", ts), ("end_time", ts),
        ("run_duration_ms", pa.int64()), ("command", pa.string()),
        ("number_of_executions", pa.int64()), ("avg_run_duration_ms", pa.int64()),
        ("previous_run_date", ts), ("previous_run_duration_ms", pa.int64()),
        ("last_check_date", pa.date32()), ("active", pa.bool_()),
    ])
    os.makedirs(path)
    pq.write_table(pa.Table.from_pylist(rows, schema), os.path.join(path, "part-00000.parquet"))
    return rows


def build(workload: str, seed: int, root: str) -> dict:
    """Write ``workload``'s inputs for ``seed`` under ``root`` (which must
    not exist) and return the manifest, also saved as manifest.json."""
    rng = np.random.default_rng([seed, sum(map(ord, workload))])
    os.makedirs(root)
    spec: dict = {"workload": workload, "seed": seed}
    if workload == "budget_resume":
        spec.update(_fleet(rng, root, BUDGET_DBS, BUDGET_SCALE, BUDGET_TABLES))
        ledger = os.path.join(root, "ledger")
        rows = _seed_ledger(rng, spec, ledger)
        spec["ledger"] = ledger
        spec["ledger_rows"] = [
            {k: str(v) for k, v in r.items() if k in (
                "database_name", "object_name", "avg_run_duration_ms", "last_check_date")}
            for r in rows
        ]
    elif workload == "incremental_daily":
        spec.update(_fleet(rng, root, 1, DAILY_SCALE, DAILY_TABLES))
        db = spec["databases"]["db00"]
        db_dir = os.path.join(spec["base_dir"], "db00")
        tables = {t: pq.read_table(db["files"][t][0]) for t in DAILY_TABLES}
        for t in DAILY_TABLES:
            os.remove(db["files"][t][0])
            db["files"][t] = write_table(tables[t], db_dir, t, 4)
        spec["day_rows"] = {t: max(1, int(tables[t].num_rows * DAILY_APPEND_FRAC))
                            for t in DAILY_TABLES}
        spec["next_key"] = {"orders": tables["orders"].num_rows,
                            "events": tables["events"].num_rows}
    elif workload == "headline_queries":
        sf_dir = os.path.join(root, "sf")
        os.makedirs(sf_dir)
        tables = base_tables(rng, HEADLINE_SCALE)
        spec["sf_dir"] = sf_dir
        spec["files"] = {t: write_table(tables[t], sf_dir, t, 1) for t in TABLES}
    else:
        raise ValueError(f"unknown workload {workload!r}")
    return _finish_manifest(spec, root)


def append_day(spec: dict, day: int) -> dict[str, str]:
    """Append day ``day``'s new part file (~2% new rows, seeded) to each
    daily table of the incremental workload; returns {table: path}."""
    rng = np.random.default_rng([spec["seed"], 7919, day])
    db_dir = os.path.join(spec["base_dir"], "db00")
    n = spec["day_rows"]
    key = spec["next_key"]
    new = {
        "lineitem": lineitem_table(rng, DAILY_SCALE, n=n["lineitem"]),
        "orders": orders_table(rng, DAILY_SCALE, first_key=key["orders"], n=n["orders"]),
        "events": events_table(rng, DAILY_SCALE, first_id=key["events"], n=n["events"]),
    }
    key["orders"] += n["orders"]
    key["events"] += n["events"]
    out = {}
    for t, table in new.items():
        path = os.path.join(db_dir, t, f"part-day{day:03d}.parquet")
        pq.write_table(table, path)
        spec["databases"]["db00"]["files"][t].append(path)
        out[t] = path
    return out


def _finish_manifest(spec: dict, root: str) -> dict:
    files = {}
    for dirpath, _, names in os.walk(root):
        for name in sorted(names):
            path = os.path.join(dirpath, name)
            with open(path, "rb") as fh:
                digest = hashlib.sha256(fh.read()).hexdigest()
            files[os.path.relpath(path, root)] = {"bytes": os.path.getsize(path), "sha256": digest}
    spec["manifest_files"] = dict(sorted(files.items()))
    # absolute paths differ per run directory: the digest covers the
    # relative file listing, contents, violations and ledger rows only
    ident = {
        "files": spec["manifest_files"],
        "violations": {d: v["violations"] for d, v in spec.get("databases", {}).items()},
        "ledger_rows": spec.get("ledger_rows"),
    }
    spec["digest"] = hashlib.sha256(json.dumps(ident, sort_keys=True).encode()).hexdigest()
    with open(os.path.join(root, "manifest.json"), "w") as fh:
        json.dump(spec, fh, sort_keys=True, indent=1, default=str)
    return spec


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True, help="directory to create")
    args = ap.parse_args()
    spec = build(args.workload, args.seed, args.out)
    print(json.dumps({k: spec[k] for k in ("workload", "seed", "digest", "manifest_files")},
                     indent=1))


if __name__ == "__main__":
    main()
