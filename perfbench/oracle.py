"""DuckDB oracle for the query_mix workload.

A query's result is reduced to one hash of its canonical form: columns
sorted by name, every value rendered with str(), doubles rounded to two
places (negative zero folded), rows sorted. The engine's parquet output and
the DuckDB oracle SQL the engine registers for the same query
(`SparkEntry.oracleSql`) must hash equal.

oracle.json holds the hashes for the tables datagen.py writes, keyed by the
table digest; when the digest differs (a different DuckDB or generator),
the oracle runs live and the result is cached next to the tables.
"""
import hashlib
import json
import math
import os

import duckdb

import datagen

COMMITTED = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "oracle.json")


def _canon_hash(rel):
    cols = rel.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = []
    for r in rel.fetchall():
        out = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "NaN"
                else:
                    v = round(v, 2)
                    if v == 0:
                        v = 0.0
            out.append(str(v))
        rows.append(tuple(out))
    rows.sort()
    h = hashlib.sha256(repr(([cols[i] for i in order], rows)).encode())
    return h.hexdigest()


def connect(data_dir, tmp_dir):
    con = duckdb.connect()
    con.sql("SET threads = 4")
    con.sql(f"SET temp_directory = '{tmp_dir}'")
    for t in datagen.TABLES:
        con.sql(f"CREATE VIEW {t} AS FROM '{data_dir}/{t}.parquet'")
    return con


def result_hash(con, parquet_dir):
    return _canon_hash(con.sql(f"FROM '{parquet_dir}/*.parquet'"))


def expected_hashes(con, data_dir, digest, oracle_sql):
    """Oracle hash per query: committed if the tables match, else live."""
    for path in (COMMITTED, os.path.join(data_dir, "oracle.json")):
        if os.path.exists(path):
            with open(path) as f:
                known = json.load(f)
            if known.get("digest") == digest and \
                    set(oracle_sql) <= set(known["hashes"]):
                return known["hashes"]
    hashes = {q: _canon_hash(con.sql(sql)) for q, sql in oracle_sql.items()}
    with open(os.path.join(data_dir, "oracle.json"), "w") as f:
        json.dump({"digest": digest, "hashes": hashes}, f, indent=1)
    return hashes
