#!/usr/bin/env python3
"""Seeded input generator for the pipeline benchmark.

    python3 perfbench/gen.py <dir> <seed> <scale> <factor>

Writes the fixture star schema (the ten tables graft.Tables loads) with the
shapes and value domains of the sf0.1 fixture; `scale` 1.0 gives its row
counts (600k lineitem, 100k events, 5k documents). Every "random" choice is
DuckDB's hash(seed, column tag, key...), so one seed gives the same tables
and another seed the same row counts with other values and foreign keys.

`factor` > 1 then replicates the base with graft.ScaleUp's rules, the seed
mixed into every hash: key columns shift by r * (max key + 1), region and
nation are shared, replica 0 is verbatim, and replicas r > 0 get a hashed
token permutation plus a ~10% token salt (documents) and hashed sign flips
(embeddings).

Each table lands as ONE plain parquet file <dir>/<table>.parquet, the
layout the streaming queries stage into their FileFeed sources. The row
counts go to <dir>/_rows.txt and stdout.
"""
import os
import shutil
import sys

import duckdb

BASE_ROWS = {"customer": 15000, "supplier": 1000, "part": 20000, "orders": 150000,
             "lineitem": 600000, "events": 100000, "documents": 5000,
             "embeddings": 2000}
VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream", "value",
         "data", "small", "join", "filter", "big", "group", "hash", "customer", "sort",
         "order", "slow", "line", "part", "fast", "row", "the", "agg", "key", "query",
         "a", "scan", "batch"]


def lst(values):
    return "[" + ", ".join(f"'{v}'" for v in values) + "]"


def base_sql(seed, rows):
    """SELECT statement per table for the factor-1 base. Key column `i`
    orders the rows and is dropped on write."""
    def h(tag, *keys):
        return f"hash({seed}, '{tag}', {', '.join(keys)})"

    def pick(tag, n, *keys):
        return f"CAST({h(tag, *keys)} % {n} AS BIGINT)"

    def unit(tag, *keys):
        return f"(({h(tag, *keys)} >> 11)::DOUBLE / 9007199254740992.0)"

    def one_of(tag, values, *keys):
        return f"{lst(values)}[{pick(tag, len(values), *keys)} + 1]"

    def money(lo, hi, u):
        return f"round({lo} + {u} * {hi - lo}, 2)"

    def day(start, n, tag, k):
        return (f"CAST(DATE '{start}' + CAST({pick(tag, n, k)} AS INTEGER) AS TIMESTAMP)")

    def words(doc):
        return (f"array_to_string(list_transform(range(10 + {pick('doc.len', 90, doc)}), "
                f"j -> {lst(VOCAB)}[{pick('doc.tok', len(VOCAB), doc, 'j')} + 1]), ' ')")

    n_ev = rows["events"]
    slot = 30 * 86400 * 1000000 // n_ev
    users = max(1, n_ev * 3 // 200)
    gauss = (f"list_transform(range(64), k -> sqrt(-2 * ln(1 - {unit('v.u1', 'i', 'k')}))"
             f" * cos(2 * pi() * {unit('v.u2', 'i', 'k')}))")
    return {
        "region": "SELECT i, CAST(i AS INTEGER) AS r_regionkey, "
                  f"{lst(['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST'])}[i + 1] "
                  "AS r_name FROM range(5) t(i)",
        "nation": "SELECT i, CAST(i AS INTEGER) AS n_nationkey, 'NATION_' || i AS n_name, "
                  "CAST(i % 5 AS INTEGER) AS n_regionkey FROM range(25) t(i)",
        "customer": f"""SELECT i, i AS c_custkey, printf('Customer#%09d', i) AS c_name,
            CAST({pick('c.nation', 25, 'i')} AS INTEGER) AS c_nationkey,
            {money(-999.99, 9999.99, unit('c.bal', 'i'))} AS c_acctbal,
            {one_of('c.seg', ['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD',
                              'MACHINERY'], 'i')} AS c_mktsegment
            FROM range({rows['customer']}) t(i)""",
        "supplier": f"""SELECT i, i AS s_suppkey, printf('Supplier#%09d', i) AS s_name,
            CAST({pick('s.nation', 25, 'i')} AS INTEGER) AS s_nationkey,
            {money(-999.99, 9999.99, unit('s.bal', 'i'))} AS s_acctbal
            FROM range({rows['supplier']}) t(i)""",
        "part": f"""SELECT i, i AS p_partkey,
            {one_of('p.adj', ['blue', 'old', 'red', 'small', 'new', 'large', 'hot',
                              'cold'], 'i')} || ' ' ||
            {one_of('p.noun', ['widget', 'gizmo', 'ring', 'gear', 'bolt', 'plate', 'rod',
                               'anvil'], 'i')} AS p_name,
            'Brand#' || ({pick('p.brand', 25, 'i')} + 1) AS p_brand,
            {one_of('p.type', ['ECONOMY', 'LARGE', 'MEDIUM', 'PROMO', 'SMALL',
                               'STANDARD'], 'i')} AS p_type,
            CAST({pick('p.size', 50, 'i')} + 1 AS INTEGER) AS p_size,
            900.0 + (i % 1000) / 10.0 AS p_retailprice
            FROM range({rows['part']}) t(i)""",
        "orders": f"""SELECT i, i AS o_orderkey,
            {pick('o.cust', rows['customer'], 'i')} AS o_custkey,
            {one_of('o.status', ['F', 'O', 'P'], 'i')} AS o_orderstatus,
            {money(1000.0, 500000.0, unit('o.price', 'i'))} AS o_totalprice,
            {day('1995-01-01', 2404, 'o.date', 'i')} AS o_orderdate,
            {one_of('o.prio', ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED',
                               '5-LOW'], 'i')} AS o_orderpriority
            FROM range({rows['orders']}) t(i)""",
        "lineitem": f"""SELECT i,
            {pick('l.order', rows['orders'], 'i')} AS l_orderkey,
            {pick('l.part', rows['part'], 'i')} AS l_partkey,
            {pick('l.supp', rows['supplier'], 'i')} AS l_suppkey,
            CAST({pick('l.line', 7, 'i')} + 1 AS INTEGER) AS l_linenumber,
            CAST({pick('l.qty', 50, 'i')} + 1 AS DOUBLE) AS l_quantity,
            {money(900.0, 105000.0, unit('l.price', 'i'))} AS l_extendedprice,
            {pick('l.disc', 11, 'i')} / 100.0 AS l_discount,
            {pick('l.tax', 9, 'i')} / 100.0 AS l_tax,
            {one_of('l.rflag', ['A', 'N', 'R'], 'i')} AS l_returnflag,
            {one_of('l.lstatus', ['F', 'O'], 'i')} AS l_linestatus,
            {day('1995-01-02', 2498, 'l.ship', 'i')} AS l_shipdate
            FROM range({rows['lineitem']}) t(i)""",
        # ts rises with event_id over 30 days, one hashed jitter per slot
        "events": f"""SELECT i, i AS event_id,
            TIMESTAMP '2024-01-01 00:00:00'
              + to_microseconds(i * {slot} + {pick('e.ts', slot, 'i')}) AS ts,
            {pick('e.user', users, 'i')} AS user_id,
            {one_of('e.type', ['click', 'error', 'purchase', 'signup', 'view'], 'i')}
              AS event_type,
            round(-ln(1 - {unit('e.value', 'i')}) * 50, 2) AS value,
            '{{"k": ' || {pick('e.k', 100, 'i')} || '}}' AS props
            FROM range({n_ev}) t(i)""",
        # 10-99 vocabulary tokens; 5% near duplicates: another document's
        # text + " dup", the fixture's dedup signal
        "documents": f"""WITH d AS (
              SELECT i, {pick('doc.src', rows['documents'], 'i')} AS src,
                     {pick('doc.dup', 20, 'i')} = 0 AS dup, {words('i')} AS own
              FROM range({rows['documents']}) t(i)),
            texts AS (
              SELECT d.i, CASE WHEN d.dup THEN s.own || ' dup' ELSE d.own END AS text
              FROM d JOIN d AS s ON s.i = d.src)
            SELECT i, i AS doc_id, text,
              CASE WHEN {pick('doc.lang', 100, 'i')} < 41 THEN 'en'
                   ELSE {one_of('doc.lang2', ['de', 'es', 'fr', 'zh'], 'i')} END AS lang,
              'src' || (i % 20) AS source, CAST(length(text) AS BIGINT) AS n_chars
            FROM texts""",
        # 64-dim unit vectors from hashed Gaussians, labels 0-9
        "embeddings": f"""SELECT i, i AS vec_id,
              CAST(list_transform(g, x -> x / sqrt(list_sum(list_transform(g, y -> y * y))))
                AS FLOAT[]) AS embedding,
              CAST({pick('v.label', 10, 'i')} AS INTEGER) AS label
            FROM (SELECT i, {gauss} AS g FROM range({rows['embeddings']}) t(i))""",
    }


def replicate_sql(seed, table, sql, cols, rows, factor):
    """graft.ScaleUp's replication of one base table (columns `cols`, in
    order) over replicas r in [0, factor)."""
    if factor == 1 or table in ("region", "nation"):
        return sql
    users = max(1, rows["events"] * 3 // 200)
    shifts = {
        "customer": {"c_custkey": rows["customer"]},
        "supplier": {"s_suppkey": rows["supplier"]},
        "part": {"p_partkey": rows["part"]},
        "orders": {"o_orderkey": rows["orders"], "o_custkey": rows["customer"]},
        "lineitem": {"l_orderkey": rows["orders"], "l_partkey": rows["part"],
                     "l_suppkey": rows["supplier"]},
        "events": {"event_id": rows["events"], "user_id": users},
        "documents": {"doc_id": rows["documents"]},
        "embeddings": {"vec_id": rows["embeddings"]},
    }[table]
    repl = {c: f"{c} + r * {base}" for c, base in shifts.items()}
    if table == "customer":
        repl["c_name"] = f"printf('Customer#%09d', c_custkey + r * {rows['customer']})"
    if table == "documents":
        # salted tokens, then sorted by a per-(token, doc, replica) hash
        salted = (f"list_transform(string_split(text, ' '), w -> CASE WHEN "
                  f"hash({seed}, 'rep.salt', w, doc_id, r) % 10 = 0 THEN w || 'x' || r "
                  f"ELSE w END)")
        permuted = (f"array_to_string(list_transform(list_sort(list_transform({salted}, "
                    f"w -> {{'h': hash({seed}, 'rep.perm', w, doc_id, r), 'w': w}})), "
                    f"x -> x.w), ' ')")
        repl["text"] = f"CASE WHEN r = 0 THEN text ELSE {permuted} END"
        repl["n_chars"] = f"CAST(length({repl['text']}) AS BIGINT)"
    if table == "embeddings":
        repl["embedding"] = (
            f"CASE WHEN r = 0 THEN embedding ELSE list_transform(embedding, (x, k) -> "
            f"CASE WHEN hash({seed}, 'rep.sign', k, r) % 2 = 0 THEN x ELSE -x END) END")
    select = ", ".join(f"{repl[c]} AS {c}" if c in repl else c for c in cols)
    return (f"SELECT r * 1000000000000 + i AS i, {select} "
            f"FROM ({sql}) CROSS JOIN range({factor}) rr(r)")


def generate(out, seed, scale, factor):
    """Write every table into `out` (emptied first); return row counts."""
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    rows = {t: max(10, round(n * scale)) for t, n in BASE_ROWS.items()}
    con = duckdb.connect()
    con.execute("SET threads = 1")  # one writer, rows in key order
    counts = {}
    for table, sql in base_sql(seed, rows).items():
        cols = [c[0] for c in con.execute(f"DESCRIBE {sql}").fetchall() if c[0] != "i"]
        full = replicate_sql(seed, table, sql, cols, rows, factor)
        path = os.path.join(out, f"{table}.parquet")
        con.execute(f"COPY (SELECT * EXCLUDE (i) FROM ({full}) ORDER BY i) "
                    f"TO '{path}' (FORMAT PARQUET)")
        counts[table] = con.execute(f"SELECT count(*) FROM '{path}'").fetchone()[0]
    con.close()
    with open(os.path.join(out, "_rows.txt"), "w") as f:
        f.writelines(f"{t} {n}\n" for t, n in counts.items())
    return counts


def main():
    if len(sys.argv) != 5:
        sys.exit("usage: gen.py <dir> <seed> <scale> <factor>")
    out, seed, scale, factor = sys.argv[1], int(sys.argv[2]), float(sys.argv[3]), \
        int(sys.argv[4])
    for t, n in generate(out, seed, scale, factor).items():
        print(f"[gen] {t} {n}")


if __name__ == "__main__":
    main()
