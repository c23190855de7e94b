"""Correctness checks the runner makes on a workload's outputs, outside
every timed span. Each returns a list of failure messages."""
import glob
import os
import re
import subprocess
import sys

import duckdb

# Ingest.deadLetterRoute: props without a numeric "k", or k >= 80, is dead.
DEAD_RULE = ("TRY_CAST(NULLIF(regexp_extract(props, '\"k\": ([0-9]+)', 1), '') AS BIGINT)")


# The benchmark's DLP config (ImportWorkload.Config) in DuckDB: per
# output table, its source table, the rows it keeps and, per column, the
# value each transform must give. Timestamps compare as epoch micros.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"[0-9]{3}-[0-9]{3}-[0-9]{4}"


def _bucket(c, w):
    lo = f"CAST(floor({c} / {w}) AS BIGINT) * {w}"
    return f"CAST({lo} AS VARCHAR) || '_' || CAST({lo} + {w} AS VARCHAR)"


def _shift(c, ctx, days):
    return f"epoch_us({c} + to_days(CAST({ctx} % {2 * days + 1} - {days} AS INTEGER)))"


_CUSTOMER = ("customer", "true", {
    "c_custkey": "c_custkey",
    "c_name": "'TOK_' || substr(sha256('bench-token:' || c_name), 1, 32)",
    "c_acctbal": _bucket("c_acctbal", 500),
    "c_mktsegment": "substr(c_mktsegment, 1, 2) || repeat('#', greatest(length(c_mktsegment) - 2, 0))",
})
DLP_EXPECTED = {
    "extracted/customer": _CUSTOMER,
    "imported/customer": _CUSTOMER,
    "imported/supplier": ("supplier", "true", {
        "s_suppkey": "s_suppkey",
        "s_name": "array_to_string(list_transform(range(1, length(s_name) + 1), i -> CASE "
                  "WHEN substr(s_name, i, 1) BETWEEN '0' AND '9' THEN CAST((CAST(substr(s_name, i, 1) "
                  "AS INTEGER) + ascii(substr(md5('bench-fpe:' || i), 1, 1))) % 10 AS VARCHAR) "
                  "ELSE substr(s_name, i, 1) END), '')",
    }),
    "imported/orders": ("orders", "true", {
        "o_orderkey": "o_orderkey",
        "o_orderdate": _shift("o_orderdate", "o_custkey", 30),
        "o_orderpriority": f"regexp_replace(o_orderpriority, '{EMAIL_RE}|{PHONE_RE}', '[REDACTED]', 'g')",
    }),
    "imported/lineitem": ("lineitem", "true", {
        "l_orderkey": "l_orderkey",
        "l_shipdate": _shift("l_shipdate", "l_orderkey", 30),
        "l_extendedprice": _bucket("l_extendedprice", 1000),
        "l_suppkey": "sha256('bench-hash:' || CAST(l_suppkey AS VARCHAR))",
    }),
    "imported/events": ("events", f"NOT ({DEAD_RULE} IS NULL OR {DEAD_RULE} >= 80)", {
        "event_id": "event_id",
        "props": f"regexp_replace(regexp_replace(props, '{EMAIL_RE}', '[EMAIL_ADDRESS]', 'g'), "
                 f"'{PHONE_RE}', '[PHONE_NUMBER]', 'g')",
    }),
}


def dlp_mismatches(con, data, d):
    """(output table, rows in one multiset but not the other) for every
    table whose transformed columns differ from the DuckDB recomputation."""
    out = []
    for table, (src, keep, cols) in DLP_EXPECTED.items():
        # as text, so that an output of the wrong type is a mismatch, not an error
        got = ", ".join(f"CAST({f'epoch_us({c})' if e.startswith('epoch_us(') else c} AS VARCHAR)"
                        for c, e in cols.items())
        want = ", ".join(f"CAST({e} AS VARCHAR)" for e in cols.values())
        a = f"SELECT {got} FROM {_pq(d + '/' + table)}"
        b = f"SELECT {want} FROM read_parquet('{data}/{src}.parquet') WHERE {keep}"
        n = con.sql(f"SELECT count(*) FROM (({a} EXCEPT ALL {b}) UNION ALL ({b} EXCEPT ALL {a}))").fetchone()[0]
        if n:
            out.append((table, n))
    return out


def _pq(path):
    return f"read_parquet('{path}/*.parquet')"


def import_checks(res, data):
    w = res["workload"]
    src = w["source_rows"]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{data}/events.parquet')")
    n_dead = con.sql(f"SELECT count(*) FROM events WHERE {DEAD_RULE} IS NULL OR {DEAD_RULE} >= 80").fetchone()[0]
    bad = {}  # pass index -> messages
    passes = w["passes"]
    for k, p in enumerate(passes):
        msgs = []
        for t, m in p["manifest"].items():
            if m["n_rows"] + m["n_dead"] != src[t]:
                msgs.append(f"{t}: loaded {m['n_rows']} + dead {m['n_dead']} != source {src[t]}")
        if p["manifest"]["events"]["n_dead"] != n_dead:
            msgs.append(f"events dead {p['manifest']['events']['n_dead']} != DuckDB rule {n_dead}")
        if p["jdbc_rows"] != src["customer"]:
            msgs.append(f"jdbc extract {p['jdbc_rows']} != {src['customer']}")
        if msgs:
            bad[k] = msgs
    dirs = [(0, w["first_dir"])] + ([(len(passes) - 1, w["last_dir"])] if w["last_dir"] else [])
    cuts, af = w["cuts"], w["always_fail"]
    exhausted = con.sql(
        f"SELECT count(*) FROM events WHERE event_id >= {cuts[af]} AND event_id < {cuts[af + 1]} "
        f"AND {DEAD_RULE} < 80").fetchone()[0]
    for k, d in dirs:
        msgs = []
        loaded = con.sql(f"SELECT count(*) FROM {_pq(d + '/stream/events_loaded')}").fetchone()[0]
        dead = con.sql(f"SELECT count(*) FILTER (WHERE reason LIKE 'retry_exhausted%'), count(*) "
                       f"FROM {_pq(d + '/stream/events_dead')}").fetchone()
        if loaded + dead[1] != src["events"]:
            msgs.append(f"micro-batch: loaded {loaded} + dead {dead[1]} != {src['events']}")
        if dead[0] != exhausted or dead[1] - dead[0] != n_dead:
            msgs.append(f"micro-batch dead letters {dead} != (exhausted {exhausted}, rule {n_dead})")
        pub = con.sql(f"SELECT count(*) FROM read_json_auto('{d}/topics/reid/*.json')").fetchone()[0]
        if pub != src["customer"]:
            msgs.append(f"reid published {pub} != {src['customer']}")
        for t, n in dlp_mismatches(con, data, d):
            msgs.append(f"{t}: {n} rows differ from the DLP config applied in DuckDB")
        plain = con.sql(
            f"SELECT count(*) FROM {_pq(d + '/imported/customer')} i "
            f"JOIN read_parquet('{data}/customer.parquet') s USING (c_custkey) WHERE i.c_name = s.c_name"
        ).fetchone()[0]
        plain += con.sql(
            f"SELECT count(*) FROM {_pq(d + '/imported/lineitem')} WHERE CAST(l_suppkey AS VARCHAR) IN "
            f"(SELECT CAST(l_suppkey AS VARCHAR) FROM read_parquet('{data}/lineitem.parquet'))").fetchone()[0]
        if plain:
            msgs.append(f"{plain} token/hash values equal their plaintext")
        if msgs:
            bad.setdefault(k, []).extend(msgs)
    con.close()
    return bad


def oracle_checks(root, data, out_dir):
    """Compares results with the registry's DuckDB oracles using the
    repo's unmodified tools/check_oracle.py. Returns failure lines."""
    p = subprocess.run([sys.executable, os.path.join(root, "tools/check_oracle.py"), data, out_dir],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    m = re.search(r"== (\d+) pass, (\d+) fail, (\d+) rows-only ==", p.stdout)
    fails = [l for l in p.stdout.splitlines() if l.startswith(("FAIL", "SKIP"))]
    if p.returncode != 0 or not m or int(m.group(2)) or not int(m.group(1)):
        return fails or ["check_oracle.py: " + p.stdout[-500:]]
    return []
