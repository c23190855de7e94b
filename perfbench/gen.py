"""Seeded input generator for the benchmark.

Writes the ten graft tables (region nation customer supplier part orders
lineitem events documents embeddings) as one parquet file each, in the
schema and value ranges of the repo's synthetic TPC-H-ish test data.
Every value is a DuckDB `hash` of (row, column, seed) or of a numpy generator seeded
with the seed, so the same seed always gives identical tables.

    python3 perfbench/gen.py OUT_DIR --seed N --sf 0.1

`--sf` scales every table but region/nation (sf 0.1 = 600k lineitem
rows).
"""
import argparse
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("batch sort value hash filter big data query row stream the part "
         "column order scan a slow agg key window table merge vector join "
         "spark line small fast group customer").split()
NATIONS = 25


def rows(sf, per_sf1):
    return max(1, int(round(per_sf1 * sf)))


def generate(out, seed, sf):
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    nc, ns, np_, no = rows(sf, 150000), rows(sf, 10000), rows(sf, 200000), rows(sf, 1500000)
    nl, ne, nv = rows(sf, 6000000), rows(sf, 1000000), rows(sf, 20000)
    nd = rows(sf, 50000)
    nu = max(10, nc // 10)
    # u(i, c): uniform [0, 1) from row i, column tag c and the seed
    con.execute(f"CREATE MACRO u(i, c) AS (hash(i, c, {seed}) % 1000000007) / 1000000007.0")
    con.execute("CREATE MACRO pick(i, c, xs) AS xs[1 + CAST(floor(u(i, c) * len(xs)) AS BIGINT)]")
    con.execute("CREATE MACRO money(x) AS round(x, 2)")
    vocab = "[" + ",".join(f"'{w}'" for w in VOCAB) + "]"
    tables = {
        "region": """SELECT CAST(i AS INTEGER) AS r_regionkey,
            ['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'][i + 1] AS r_name
            FROM range(5) t(i)""",
        "nation": f"""SELECT CAST(i AS INTEGER) AS n_nationkey, 'NATION_' || i AS n_name,
            CAST(i % 5 AS INTEGER) AS n_regionkey FROM range({NATIONS}) t(i)""",
        "customer": f"""SELECT i AS c_custkey, 'Customer#' || lpad(CAST(i AS VARCHAR), 9, '0') AS c_name,
            CAST(floor(u(i, 1) * {NATIONS}) AS INTEGER) AS c_nationkey,
            money(u(i, 2) * 11000 - 1000) AS c_acctbal,
            pick(i, 3, ['AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY']) AS c_mktsegment
            FROM range({nc}) t(i)""",
        "supplier": f"""SELECT i AS s_suppkey, 'Supplier#' || lpad(CAST(i AS VARCHAR), 9, '0') AS s_name,
            CAST(floor(u(i, 11) * {NATIONS}) AS INTEGER) AS s_nationkey,
            money(u(i, 12) * 11000 - 1000) AS s_acctbal
            FROM range({ns}) t(i)""",
        "part": f"""SELECT i AS p_partkey,
            pick(i, 21, ['blue','old','large','hot','cold','small','new','red']) || ' ' ||
            pick(i, 22, ['widget','gizmo','ring','gear','bolt','plate','rod','anvil']) AS p_name,
            'Brand#' || (1 + CAST(floor(u(i, 23) * 25) AS BIGINT)) AS p_brand,
            pick(i, 24, ['LARGE','ECONOMY','STANDARD','PROMO','SMALL','MEDIUM']) AS p_type,
            CAST(1 + floor(u(i, 25) * 50) AS INTEGER) AS p_size,
            CAST(round(900 + (i % 1000) * 0.1, 1) AS DOUBLE) AS p_retailprice
            FROM range({np_}) t(i)""",
        "orders": f"""SELECT i AS o_orderkey, CAST(floor(u(i, 31) * {nc}) AS BIGINT) AS o_custkey,
            pick(i, 32, ['O','F','P']) AS o_orderstatus,
            money(1000 + u(i, 33) * 499000) AS o_totalprice,
            TIMESTAMP '1995-01-01' + to_days(CAST(floor(u(i, 34) * 2404) AS INTEGER)) AS o_orderdate,
            pick(i, 35, ['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW']) AS o_orderpriority
            FROM range({no}) t(i)""",
        "lineitem": f"""SELECT CAST(floor(u(i, 41) * {no}) AS BIGINT) AS l_orderkey,
            CAST(floor(u(i, 42) * {np_}) AS BIGINT) AS l_partkey,
            CAST(floor(u(i, 43) * {ns}) AS BIGINT) AS l_suppkey,
            CAST(1 + floor(u(i, 44) * 7) AS INTEGER) AS l_linenumber,
            CAST(1 + floor(u(i, 45) * 50) AS DOUBLE) AS l_quantity,
            money(900 + u(i, 46) * 104000) AS l_extendedprice,
            floor(u(i, 47) * 11) / 100 AS l_discount,
            floor(u(i, 48) * 9) / 100 AS l_tax,
            pick(i, 49, ['A','N','R']) AS l_returnflag,
            pick(i, 50, ['O','F']) AS l_linestatus,
            TIMESTAMP '1995-01-02' + to_days(CAST(floor(u(i, 51) * 2498) AS INTEGER)) AS l_shipdate
            FROM range({nl}) t(i)""",
        "events": f"""SELECT i AS event_id,
            TIMESTAMP '2024-01-01' + to_microseconds(CAST(floor((i + u(i, 61)) * 2592000000000.0 / {ne}) AS BIGINT)) AS ts,
            CAST(floor(u(i, 62) * {nu}) AS BIGINT) AS user_id,
            pick(i, 63, ['signup','click','error','view','purchase']) AS event_type,
            money(-ln(1 - u(i, 64)) * 50) AS value,
            '{{"k": ' || CAST(floor(u(i, 65) * 100) AS BIGINT) || '}}' AS props
            FROM range({ne}) t(i)""",
        "embeddings": f"""SELECT i AS vec_id,
            list_transform(range(64), j -> CAST(
              (u(CAST(floor(u(i, 81) * 10) AS BIGINT) * 64 + j, 82) - 0.5) * 0.4
              + (u(i * 64 + j, 83) - 0.5) * 0.3 AS FLOAT)) AS embedding,
            CAST(floor(u(i, 81) * 10) AS INTEGER) AS label
            FROM range({nv}) t(i)""",
    }
    for name, sql in tables.items():
        pq.write_table(con.sql(sql).arrow(), os.path.join(out, f"{name}.parquet"))
    con.close()
    pq.write_table(documents(nd, seed), os.path.join(out, "documents.parquet"))


def documents(nd, seed):
    """10-100 words from a 31-word vocabulary; 5% of docs are an earlier
    doc's text + ' dup' (near-duplicates), 0.2% exact copies."""
    rng = np.random.default_rng([seed, 71])
    lengths = rng.integers(10, 101, nd)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(lengths.sum()))]
    ends = np.cumsum(lengths)
    text = [" ".join(words[e - n:e]) for e, n in zip(ends, lengths)]
    kind, src = rng.random(nd), rng.random(nd)
    for i in range(1, nd):
        if kind[i] < 0.052:
            text[i] = text[int(src[i] * i)] + (" dup" if kind[i] < 0.05 else "")
    langs = np.where(rng.random(nd) < 0.5, "en",
                     np.array(["zh", "de", "fr", "es"])[rng.integers(0, 4, nd)])
    return pa.table({
        "doc_id": pa.array(np.arange(nd, dtype=np.int64)),
        "text": pa.array(text),
        "lang": pa.array(langs.tolist()),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, nd)]),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })


def permute_documents(out, seed):
    """Renumbers the documents by a seeded permutation of their ids and
    stores them in that order: the same corpus, duplicates and lengths,
    met in another order."""
    path = os.path.join(out, "documents.parquet")
    t = pq.read_table(path)
    perm = np.random.default_rng([seed, 79]).permutation(t.num_rows)
    ids = perm[t.column("doc_id").to_numpy()]
    t = t.set_column(0, "doc_id", pa.array(ids, pa.int64())).take(np.argsort(ids))
    pq.write_table(t, path)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("out")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--sf", type=float, default=0.1)
    a = ap.parse_args()
    generate(a.out, a.seed, a.sf)


if __name__ == "__main__":
    main()
