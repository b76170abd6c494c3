"""Seeded generator for the catalog workload's ten tables.

Writes one parquet file per table (`<dir>/<table>.parquet`), the layout the
query catalog reads: a TPC-H-shaped star schema at about sf0.01 plus the
`events`, `documents` and `embeddings` tables. Every value is a pure
function of (seed, row id), so the same seed gives the same tables.
Timestamps are written as plain (timezone-less) TIMESTAMP columns.
"""
import os

import duckdb

ROWS = {"region": 5, "nation": 25, "customer": 1500, "supplier": 100, "part": 2000,
        "orders": 15000, "lineitem": 60000, "events": 10000, "documents": 500,
        "embeddings": 500}

VOCAB = ["the", "a", "data", "table", "row", "column", "key", "value", "join", "scan",
         "sort", "merge", "agg", "group", "filter", "window", "batch", "stream", "query",
         "spark", "part", "line", "order", "customer", "fast", "slow", "big", "small",
         "hash", "vector"]


def _lst(xs):
    return "[" + ", ".join("'" + x + "'" for x in xs) + "]"


def write(out_dir, seed):
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads = 4")

    def u(k, n):
        return f"CAST(hash({seed}, {k}, id) % {n} AS BIGINT)"

    def pick(k, xs):
        return f"{_lst(xs)}[1 + {u(k, len(xs))}]"

    def money(k, lo, hi):
        return f"CAST({u(k, (hi - lo) * 100)} + {lo * 100} AS DOUBLE) / 100"

    def days_after(day, k, span):
        return f"TIMESTAMP '{day}' + to_days(CAST({u(k, span)} AS INTEGER))"

    r = ROWS
    tables = {
        "region": f"""SELECT CAST(id AS INTEGER) AS r_regionkey,
            {_lst(['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST'])}[1 + id] AS r_name""",
        "nation": """SELECT CAST(id AS INTEGER) AS n_nationkey, 'NATION_' || id AS n_name,
            CAST(id % 5 AS INTEGER) AS n_regionkey""",
        "customer": f"""SELECT id AS c_custkey, printf('Customer#%09d', id) AS c_name,
            CAST({u(1, 25)} AS INTEGER) AS c_nationkey, {money(2, -999, 9999)} AS c_acctbal,
            {pick(3, ['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY'])} AS c_mktsegment""",
        "supplier": f"""SELECT id AS s_suppkey, printf('Supplier#%09d', id) AS s_name,
            CAST({u(1, 25)} AS INTEGER) AS s_nationkey, {money(2, -999, 9999)} AS s_acctbal""",
        "part": f"""SELECT id AS p_partkey,
            {pick(1, ['small', 'red', 'large', 'blue', 'green'])} || ' ' ||
              {pick(2, ['ring', 'widget', 'bolt', 'gear', 'panel'])} AS p_name,
            'Brand#' || ({u(3, 25)} + 1) AS p_brand,
            {pick(4, ['ECONOMY', 'STANDARD', 'PROMO', 'MEDIUM', 'LARGE'])} AS p_type,
            CAST({u(5, 50)} + 1 AS INTEGER) AS p_size,
            900.0 + (id % 1000) / 10.0 AS p_retailprice""",
        "orders": f"""SELECT id AS o_orderkey, {u(1, r['customer'])} AS o_custkey,
            {pick(2, ['F', 'O', 'P'])} AS o_orderstatus, {money(3, 1000, 500000)} AS o_totalprice,
            {days_after('1992-01-01', 4, 2555)} AS o_orderdate,
            {pick(5, ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'])} AS o_orderpriority""",
        "lineitem": f"""SELECT {u(1, r['orders'])} AS l_orderkey, {u(2, r['part'])} AS l_partkey,
            {u(3, r['supplier'])} AS l_suppkey, CAST({u(4, 7)} + 1 AS INTEGER) AS l_linenumber,
            CAST({u(5, 50)} + 1 AS DOUBLE) AS l_quantity, {money(6, 900, 100000)} AS l_extendedprice,
            {u(7, 11)} / 100.0 AS l_discount, {u(8, 9)} / 100.0 AS l_tax,
            {pick(9, ['A', 'N', 'R'])} AS l_returnflag, {pick(10, ['F', 'O'])} AS l_linestatus,
            {days_after('1992-01-02', 11, 3650)} AS l_shipdate""",
        # one event every ~259 s over January 2024, with sub-second jitter
        "events": f"""SELECT id AS event_id,
            make_timestamp(1704067200000000 + id * {30 * 86400 * 1000000 // r['events']}
              + {u(1, 30 * 86400 * 1000000 // r['events'])}) AS ts,
            {u(2, 150)} AS user_id,
            {pick(3, ['click', 'signup', 'error', 'view', 'purchase'])} AS event_type,
            CAST({u(4, 49000)} + 1 AS DOUBLE) / 100 AS value, '{{"k": ' || {u(5, 100)} || '}}' AS props""",
        "documents": f"""SELECT id AS doc_id, text,
            {pick(2, ['en', 'en', 'en', 'en', 'de', 'fr', 'es', 'zh'])} AS lang,
            'src' || {u(3, 20)} AS source, CAST(length(text) AS BIGINT) AS n_chars
            FROM (SELECT id, string_agg({_lst(VOCAB)}[1 + CAST(hash({seed}, id, i) % {len(VOCAB)} AS BIGINT)], ' ' ORDER BY i) AS text
                  FROM (SELECT id, unnest(range(15 + {u(1, 45)})) AS i FROM range({r['documents']}) t(id))
                  GROUP BY id)""",
        # ten clusters: a per-label centre plus small per-vector noise
        "embeddings": f"""SELECT id AS vec_id,
            CAST(list(e ORDER BY d) AS FLOAT[]) AS embedding, CAST(any_value(label) AS INTEGER) AS label
            FROM (SELECT id, d, label,
                    (CAST(hash({seed}, label, d) % 2001 AS DOUBLE) - 1000) / 8000.0 +
                    (CAST(hash({seed}, id, d) % 2001 AS DOUBLE) - 1000) / 40000.0 AS e
                  FROM (SELECT id, {u(1, 10)} AS label, unnest(range(64)) AS d
                        FROM range({r['embeddings']}) t(id)))
            GROUP BY id""",
    }
    for name, sql in tables.items():
        src = sql if name in ("documents", "embeddings") else f"{sql} FROM range({r[name]}) t(id)"
        path = os.path.join(out_dir, f"{name}.parquet")
        con.execute(f"COPY ({src} ORDER BY 1) TO '{path}' (FORMAT PARQUET)")
    con.close()
