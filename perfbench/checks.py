"""Output checks for one benchmark run, recomputed independently in DuckDB.

Each check returns the set of unit indices whose output is wrong, plus a
list of human-readable problems. Nothing here is timed.
"""
import glob
import os
import sys

import duckdb
import pandas as pd

# the repo's own oracle compare: its table list and frame normalisation
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from local_verify import TABLES, norm  # noqa: E402

CSV_COLUMNS = ("{'start_time': 'TIMESTAMP', 'end_time': 'TIMESTAMP', "
               "'samples': 'INTEGER', 'temperature': 'DOUBLE'}")

# The reference's faithful densify, in the shape of the Flagship oracle:
# `floor(su + idx * delta)` over IEEE doubles, plus quirk Q3 (samples=0
# gives the two indices [0, -1] at delta 0) and Q4 (samples NULL gives a
# NULL index list, so the row vanishes).
EXPAND_SQL = """
WITH r AS (
  SELECT temperature,
         CAST(floor(epoch(start_time)) AS BIGINT) AS su,
         CASE WHEN samples IS NOT NULL AND samples <> 0
              THEN (epoch(end_time) - epoch(start_time)) / samples ELSE 0 END AS delta,
         CASE WHEN samples = 0 THEN [0, -1] ELSE range(0, samples) END AS idxs
  FROM read_csv({files}, header = true, columns = {columns})),
e AS (SELECT temperature, su, delta, unnest(idxs) AS idx FROM r)
SELECT strftime(make_timestamp(CAST(floor(su + idx * delta) AS BIGINT) * 1000000),
                '%Y-%m-%d %H:%M:%S') AS start_time,
       strftime(make_timestamp(CAST(floor(su + (idx + 1) * delta) AS BIGINT) * 1000000),
                '%Y-%m-%d %H:%M:%S') AS end_time,
       temperature
FROM e"""

# Row count plus an order-independent hash of every output row.
DIGEST = "SELECT count(*), coalesce(sum(hash(start_time, end_time, temperature)), 0) FROM ({})"


def _files_sql(paths):
    return "[" + ", ".join("'" + p + "'" for p in sorted(paths)) + "]"


def expected_digest(con, csv_files):
    return con.execute(DIGEST.format(
        EXPAND_SQL.format(files=_files_sql(csv_files), columns=CSV_COLUMNS))).fetchone()


def partition_digest(con, part_dir):
    files = glob.glob(os.path.join(part_dir, "*.parquet"))
    if not files:
        return None
    return con.execute(DIGEST.format(
        f"SELECT * FROM read_parquet({_files_sql(files)}, hive_partitioning = false)")).fetchone()


def partitions(target):
    return sorted(os.path.basename(p).split("=", 1)[1]
                  for p in glob.glob(os.path.join(target, "ingest_date=*")))


def check_latest(units, data):
    con = duckdb.connect()
    problems, bad = [], set()
    latest = os.path.join(data["landing"], data["latest"])
    want = expected_digest(con, [latest])
    date = data["latest"][:8]
    date = f"{date[:4]}-{date[4:6]}-{date[6:]}"
    for u in units:
        if u["error"] is None and u["data"].get("rows") != want[0]:
            bad.add(u["k"])
            problems.append(f"unit {u['k']}: run returned {u['data'].get('rows')} rows, expected {want[0]}")
    parts = partitions(data["target"])
    got = partition_digest(con, os.path.join(data["target"], f"ingest_date={date}"))
    if parts != [date] or tuple(got or ()) != tuple(want):
        bad.add(units[-1]["k"])
        problems.append(f"target partitions {parts} digest {got}, expected [{date}] {want}")
    return bad, problems


def _dated(names):
    return {n for n in names if n[:8].isdigit() and n.endswith(".csv")}


def check_backfill(units, data):
    con = duckdb.connect()
    problems, bad = [], set()
    landing, late = data["landing"], data["late"]
    base = _dated(os.listdir(landing))
    extra = _dated(os.listdir(late))
    by_date = {}
    for d, n in [(landing, n) for n in base] + [(late, n) for n in extra]:
        by_date.setdefault(n[:8], []).append(os.path.join(d, n))
    want = {f"{k[:4]}-{k[4:6]}-{k[6:]}": expected_digest(con, v) for k, v in by_date.items()}
    first_dates = {f"{n[:4]}-{n[4:6]}-{n[6:8]}" for n in base}
    late_dates = {f"{n[:4]}-{n[4:6]}-{n[6:8]}" for n in extra}
    rows1 = sum(expected_digest(con, [os.path.join(landing, n)])[0] for n in base)
    rows2 = sum(want[d][0] for d in late_dates)
    for u in units:
        if u["error"] is not None:
            continue
        k, d = u["k"], u["data"]
        issues = []
        if d["rows1"] != rows1 or d["rows2"] != rows2:
            issues.append(f"rows {d['rows1']}/{d['rows2']}, expected {rows1}/{rows2}")
        names1 = {os.path.basename(p) for p in d["files1"]}
        names2 = {os.path.basename(p) for p in d["files2"]}
        if names1 != base or names2 != extra:
            issues.append("files processed differ from the landing files")
        recorded = set()
        for m in glob.glob(os.path.join(d["ledger"], "*")):
            with open(m) as f:
                recorded |= {os.path.basename(line.strip()) for line in f if line.strip()}
        if recorded != names1 | names2:
            issues.append(f"ledger records {len(recorded)} files, processed {len(names1 | names2)}")
        parts = partitions(d["target"])
        if set(parts) != first_dates | late_dates:
            issues.append(f"partitions {parts}")
        for p in parts:
            got = partition_digest(con, os.path.join(d["target"], f"ingest_date={p}"))
            if tuple(got or ()) != tuple(want.get(p, ())):
                issues.append(f"partition {p}: {got}, expected {want.get(p)}")
        if issues:
            bad.add(k)
            problems.append(f"unit {k}: " + "; ".join(issues))
    return bad, problems


def check_catalog(units, data):
    """Every query's result against its DuckDB oracle (`SparkEntry.oracleSql`)
    over the same generated tables, compared as `tools/local_verify.py`
    compares them; a query without an oracle must return rows. One wrong
    query fails every pass, since every pass ran it."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data['data']}/{t}.parquet')")
    problems = []
    for q in sorted(data["queries"]):
        files = sorted(glob.glob(os.path.join(data["results"], q, "*.parquet")))
        if not files:
            problems.append(f"{q}: no result written")
            continue
        got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        sql = data["oracles"].get(q)
        if sql is None:
            if len(got) == 0:
                problems.append(f"{q}: no rows")
            continue
        want = con.execute(sql).fetchdf()
        a, b = norm(got), norm(want)
        if list(a.columns) != list(b.columns) or len(a) != len(b):
            problems.append(f"{q}: shape {list(a.columns)} x {len(a)} vs {list(b.columns)} x {len(b)}")
            continue
        kinds = [(c, a[c].dtype.kind, b[c].dtype.kind) for c in a.columns
                 if a[c].dtype.kind != b[c].dtype.kind]
        if kinds:
            problems.append(f"{q}: dtype kinds differ {kinds}")
            continue
        try:
            pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)
        except AssertionError as e:
            problems.append(f"{q}: " + " | ".join(str(e).split("\n")[:3]))
    bad = {u["k"] for u in units} if problems else set()
    return bad, problems


def check_pipeline(units, data):
    """The monthly run's and the backfill's checks; a unit fails if either part does."""
    bad, problems = set(), []
    for part, check in (("latest", check_latest), ("backfill", check_backfill)):
        part_units = [dict(u, data=u["data"].get(part, {})) for u in units]
        b, p = check(part_units, data[part])
        bad |= b
        problems += [f"{part}: {x}" for x in p]
    return bad, problems


CHECKS = {"pipeline": check_pipeline, "catalog": check_catalog}
