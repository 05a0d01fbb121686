"""Deterministic TPC-H-like fixture tables for the benchmark.

Writes one parquet file per table (region nation customer supplier part
orders lineitem events documents embeddings) with the column names, types
and value distributions of the project's test data, so every query key
reads the shapes it was written for (perfbench/fidelity.py compares the
two column by column).  Values come from DuckDB's hash of
(row, column salt, generator seed): the same seed gives byte-identical
tables.  Usage: python3 perfbench/datagen.py <out_dir> <sf> [seed]
"""
import os
import sys

import duckdb
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
ADJ = "red new hot small cold large old blue".split()
NOUN = "bolt anvil ring rod plate gear widget gizmo".split()


def sql_list(xs):
    return "[" + ",".join("'" + x + "'" for x in xs) + "]"


def tables(sf):
    n = lambda base, lo=1: max(lo, int(round(base * sf)))
    return {
        "customer": n(150000), "supplier": n(10000), "part": n(200000),
        "orders": n(1500000), "lineitem": n(6000000), "events": n(1000000),
        "documents": n(50000, 500), "embeddings": n(20000, 500),
        "users": n(15000),
    }


def generate(out_dir, sf, seed=42):
    os.makedirs(out_dir, exist_ok=True)
    n = tables(sf)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    # u(i, salt): uniform [0, 1) keyed by row, column and generator seed
    con.execute(f"CREATE MACRO u(i, s) AS "
                f"(hash(i, s, {int(seed)}) % 1000000007) / 1000000007.0")
    con.execute("CREATE MACRO pick(i, s, k) AS CAST(floor(u(i, s) * k) AS BIGINT)")
    # standard normal by Box-Muller
    con.execute("CREATE MACRO gauss(i, s) AS "
                "sqrt(-2 * ln(1 - u(i, s))) * cos(2 * pi() * u(i, s + 7919))")
    views = {
        "region": """SELECT CAST(i AS INTEGER) r_regionkey,
            ['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'][i + 1] r_name
            FROM range(5) t(i)""",
        "nation": """SELECT CAST(i AS INTEGER) n_nationkey, 'NATION_' || i n_name,
            CAST(i % 5 AS INTEGER) n_regionkey FROM range(25) t(i)""",
        "customer": f"""SELECT i c_custkey, 'Customer#' || lpad(CAST(i AS VARCHAR), 9, '0') c_name,
            CAST(pick(i, 1, 25) AS INTEGER) c_nationkey,
            round(-999.99 + pick(i, 2, 1099999) / 100.0, 2) c_acctbal,
            ['AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY'][pick(i, 3, 5) + 1] c_mktsegment
            FROM range({n['customer']}) t(i)""",
        "supplier": f"""SELECT i s_suppkey, 'Supplier#' || lpad(CAST(i AS VARCHAR), 9, '0') s_name,
            CAST(pick(i, 11, 25) AS INTEGER) s_nationkey,
            round(-999.99 + pick(i, 12, 1099999) / 100.0, 2) s_acctbal
            FROM range({n['supplier']}) t(i)""",
        "part": f"""SELECT i p_partkey,
            {sql_list(ADJ)}[pick(i, 21, 8) + 1] || ' ' || {sql_list(NOUN)}[pick(i, 22, 8) + 1] p_name,
            'Brand#' || (pick(i, 23, 25) + 1) p_brand,
            ['ECONOMY','LARGE','MEDIUM','PROMO','SMALL','STANDARD'][pick(i, 24, 6) + 1] p_type,
            CAST(pick(i, 25, 50) + 1 AS INTEGER) p_size,
            round(900 + (i % 1000) / 10.0, 1) p_retailprice
            FROM range({n['part']}) t(i)""",
        "orders": f"""SELECT i o_orderkey, pick(i, 31, {n['customer']}) o_custkey,
            ['F','O','P'][pick(i, 32, 3) + 1] o_orderstatus,
            round(1000 + pick(i, 33, 49900000) / 100.0, 2) o_totalprice,
            TIMESTAMP '1995-01-01' + to_days(CAST(pick(i, 34, 2404) AS INTEGER)) o_orderdate,
            ['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'][pick(i, 35, 5) + 1] o_orderpriority
            FROM range({n['orders']}) t(i)""",
        "lineitem": f"""SELECT pick(i, 41, {n['orders']}) l_orderkey,
            pick(i, 42, {n['part']}) l_partkey, pick(i, 43, {n['supplier']}) l_suppkey,
            CAST(pick(i, 44, 7) + 1 AS INTEGER) l_linenumber,
            CAST(pick(i, 45, 50) + 1 AS DOUBLE) l_quantity,
            round(900 + pick(i, 46, 10410000) / 100.0, 2) l_extendedprice,
            pick(i, 47, 11) / 100.0 l_discount, pick(i, 48, 9) / 100.0 l_tax,
            ['A','N','R'][pick(i, 49, 3) + 1] l_returnflag,
            ['F','O'][pick(i, 50, 2) + 1] l_linestatus,
            TIMESTAMP '1995-01-02' + to_days(CAST(pick(i, 51, 2499) AS INTEGER)) l_shipdate
            FROM range({n['lineitem']}) t(i)""",
        # times uniform over 30 days (so gaps are exponential); event ids
        # follow event time; value ~ exponential with mean 50
        "events_raw": f"""SELECT i, TIMESTAMP '2024-01-01'
            + to_microseconds(CAST(floor((u(i, 61) + u(i, 66) / 1000000007.0)
                * 30 * 86400e6) AS BIGINT)) ts
            FROM range({n['events']}) t(i)""",
        "events": f"""SELECT row_number() OVER (ORDER BY ts, i) - 1 event_id, ts,
            pick(i, 62, {n['users']}) user_id,
            ['click','error','purchase','signup','view'][pick(i, 63, 5) + 1] event_type,
            round(-50 * ln(1 - u(i, 64)), 2) AS "value",
            '{{"k": ' || pick(i, 65, 100) || '}}' props
            FROM events_raw ORDER BY event_id""",
    }
    # documents: random word sequences; 5% are an earlier document plus " dup"
    views["docs_base"] = f"""SELECT i doc_id, array_to_string(list_transform(
            range(CAST(10 + pick(i, 71, 90) AS BIGINT)),
            j -> {sql_list(VOCAB)}[CAST(floor(u(i * 131 + j, 72) * 30) AS BIGINT) + 1]), ' ') base,
            i > 0 AND row_number() OVER (ORDER BY i = 0, u(i, 73), i) <= {n['documents'] // 20} dup
            FROM range({n['documents']}) t(i)"""
    views["documents"] = """SELECT d.doc_id,
            CASE WHEN d.dup THEN s.base || ' dup' ELSE d.base END AS text,
            CASE WHEN u(d.doc_id, 75) < 0.4 THEN 'en'
                 ELSE ['de','es','fr','zh'][pick(d.doc_id, 76, 4) + 1] END AS lang,
            'src' || (d.doc_id % 20) AS source,
            CAST(length(CASE WHEN d.dup THEN s.base || ' dup' ELSE d.base END) AS BIGINT) AS n_chars
            FROM docs_base d JOIN docs_base s
              ON s.doc_id = CAST(floor(u(d.doc_id, 74) * greatest(d.doc_id, 1)) AS BIGINT)
            ORDER BY d.doc_id"""
    # embeddings: isotropic random unit vectors; the label is independent
    views["emb_raw"] = f"""SELECT i vec_id, CAST(pick(i, 81, 10) AS INTEGER) AS label,
            list_transform(range(64), j -> gauss(i * 64 + j, 83)) AS v
            FROM range({n['embeddings']}) t(i)"""
    views["embeddings"] = """SELECT vec_id,
            CAST(list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS FLOAT[]) AS embedding,
            label FROM emb_raw ORDER BY vec_id"""
    for name, q in views.items():
        con.execute(f"CREATE VIEW {name} AS {q}")
    for name in ["region", "nation", "customer", "supplier", "part", "orders",
                 "lineitem", "events", "documents", "embeddings"]:
        # pyarrow's writer, as the test data was written: one row group per
        # table, dictionary encoding, snappy
        pq.write_table(con.execute(f"SELECT * FROM {name}").arrow(),
                       os.path.join(out_dir, f"{name}.parquet"))
    con.close()


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]),
             int(sys.argv[3]) if len(sys.argv) > 3 else 42)
