#!/usr/bin/env python3
"""Compares generated fixture tables with a reference set of the same scale.

Prints, per table, row counts and for every column the distinct count,
min, max and nulls on both sides; then key fan-outs (rows per foreign key),
category frequencies and the structural properties the query keys depend
on (event gaps, duplicate documents, embedding geometry).
Usage: python3 perfbench/fidelity.py <reference_dir> <generated_dir>
"""
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
FANOUTS = [("lineitem", "l_orderkey"), ("lineitem", "l_partkey"), ("lineitem", "l_suppkey"),
           ("orders", "o_custkey"), ("events", "user_id")]
CATEGORIES = [("lineitem", "l_linenumber"), ("lineitem", "l_returnflag"),
              ("orders", "o_orderstatus"), ("customer", "c_mktsegment"),
              ("events", "event_type"), ("documents", "lang")]
STRUCTURE = {
    "event gap s (avg, stddev, max)": """SELECT round(avg(g), 2), round(stddev(g), 2), round(max(g), 1)
        FROM (SELECT epoch(ts) - epoch(lag(ts) OVER (ORDER BY event_id)) g FROM {d}/events.parquet)""",
    "event ids out of time order": """SELECT count(*) FILTER (WHERE ts < p)
        FROM (SELECT ts, lag(ts) OVER (ORDER BY event_id) p FROM {d}/events.parquet)""",
    "documents ending ' dup', repeated texts": """SELECT count(*) FILTER (WHERE text LIKE '% dup'),
        count(*) - count(DISTINCT text) FROM {d}/documents.parquet""",
    "document chars, words (avg)": """SELECT round(avg(n_chars), 1),
        round(avg(len(string_split(text, ' '))), 1) FROM {d}/documents.parquet""",
    "embedding cosine same / other label (first 400)": """WITH e AS (SELECT vec_id, label,
        embedding::DOUBLE[] v FROM {d}/embeddings.parquet WHERE vec_id < 400)
        SELECT round(avg(list_dot_product(a.v, b.v)) FILTER (WHERE a.label = b.label), 3),
               round(avg(list_dot_product(a.v, b.v)) FILTER (WHERE a.label <> b.label), 3)
        FROM e a JOIN e b ON a.vec_id < b.vec_id""",
}


def main(ref, gen):
    con = duckdb.connect()
    con.execute("SET threads TO 2")

    def q(sql, d):
        return con.execute(sql.replace("{d}/", f"'{d}/").replace(".parquet", ".parquet'")).fetchall()

    layout = ("SELECT count(*), sum(total_compressed_size), count(DISTINCT row_group_id) "
              "FROM parquet_metadata({d}/{t}.parquet)")
    for t in TABLES:
        cols = q(f"DESCRIBE SELECT * FROM {{d}}/{t}.parquet", ref)
        lay = [q(layout.replace("{t}", t), d)[0] for d in (ref, gen)]
        print(f"{t}: rows {q(f'SELECT count(*) FROM {{d}}/{t}.parquet', ref)[0][0]} / "
              f"{q(f'SELECT count(*) FROM {{d}}/{t}.parquet', gen)[0][0]}; column chunks, "
              f"compressed bytes, row groups {lay[0]} / {lay[1]} (reference / generated)")
        for c, ty, *_ in cols:
            if ty.endswith("[]"):
                sql = f"SELECT min(len({c})), max(len({c})), count(*) - count({c}) FROM {{d}}/{t}.parquet"
            else:
                sql = f"SELECT count(DISTINCT {c}), min({c}), max({c}), count(*) - count({c}) FROM {{d}}/{t}.parquet"
            a, b = q(sql, ref)[0], q(sql, gen)[0]
            fmt = lambda r: " ".join(str(x)[:19] for x in r)
            print(f"  {c:<16} {fmt(a):<60} | {fmt(b)}")
    print("rows per key: keys min avg max p99 (reference | generated)")
    for t, c in FANOUTS:
        sql = f"""SELECT count(*), min(n), round(avg(n), 2), max(n), quantile_cont(n, 0.99)
                  FROM (SELECT {c}, count(*) n FROM {{d}}/{t}.parquet GROUP BY 1)"""
        print(f"  {t}.{c:<14} {q(sql, ref)[0]} | {q(sql, gen)[0]}")
    print("category frequencies (reference | generated)")
    for t, c in CATEGORIES:
        sql = f"SELECT list(n ORDER BY v) FROM (SELECT {c} v, count(*) n FROM {{d}}/{t}.parquet GROUP BY 1)"
        print(f"  {t}.{c:<14} {q(sql, ref)[0][0]} | {q(sql, gen)[0][0]}")
    print("structure (reference | generated)")
    for name, sql in STRUCTURE.items():
        print(f"  {name}: {q(sql, ref)[0]} | {q(sql, gen)[0]}")
    con.close()


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
