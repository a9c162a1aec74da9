"""Seeded sf0.1-shaped tables for the index_maintain and query_mix workloads.

The tables follow the layout the engine's registry queries read (TPC-H-ish
star schema plus `events`, `documents` and `embeddings`, one parquet file
each) at the sf0.1 row counts. Every value is a function of the row key and
a fixed salt through DuckDB's `hash`, so one generator version always
writes the same table contents. `digest` fingerprints those contents; the
committed oracle hashes in oracle.json are valid only for the digest they
were computed on.
"""
import duckdb

VERSION = 1
DATA_SEED = 42

WORDS = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]

TABLES = ["region", "nation", "supplier", "customer", "orders", "lineitem",
          "events", "documents", "embeddings"]


def _u(expr, salt, mod):
    """Deterministic integer in [0, mod) from a row key and a salt."""
    return f"(hash({expr}, {DATA_SEED * 1000 + salt}) % {mod})::BIGINT"


def _sql(name):
    words = "[" + ", ".join(f"'{w}'" for w in WORDS) + "]"
    segs = "['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY']"
    prios = "['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW']"
    types = "['signup', 'click', 'error', 'view', 'purchase']"
    langs = "['en', 'en', 'en', 'en', 'en', 'en', 'de', 'de', 'fr', 'fr', 'es', 'es', 'zh', 'zh']"
    return {
        "region": """
            SELECT i::INTEGER AS r_regionkey,
              ['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST'][i + 1] AS r_name
            FROM range(5) t(i)""",
        "nation": """
            SELECT i::INTEGER AS n_nationkey, 'NATION_' || i AS n_name,
              (i % 5)::INTEGER AS n_regionkey
            FROM range(25) t(i)""",
        "supplier": f"""
            SELECT i::BIGINT AS s_suppkey, printf('Supplier#%09d', i) AS s_name,
              {_u('i', 1, 25)}::INTEGER AS s_nationkey,
              ({_u('i', 2, 1099980)}::BIGINT - 99999) / 100.0 AS s_acctbal
            FROM range(1000) t(i)""",
        "customer": f"""
            SELECT i::BIGINT AS c_custkey, printf('Customer#%09d', i) AS c_name,
              {_u('i', 3, 25)}::INTEGER AS c_nationkey,
              ({_u('i', 4, 1099980)}::BIGINT - 99999) / 100.0 AS c_acctbal,
              {segs}[{_u('i', 5, 5)} + 1] AS c_mktsegment
            FROM range(15000) t(i)""",
        "orders": f"""
            SELECT i::BIGINT AS o_orderkey, {_u('i', 6, 15000)}::BIGINT AS o_custkey,
              ['O', 'F', 'P'][{_u('i', 7, 3)} + 1] AS o_orderstatus,
              (100000 + {_u('i', 8, 49899200)}::BIGINT) / 100.0 AS o_totalprice,
              TIMESTAMP '1995-01-01' + to_days({_u('i', 9, 2404)}::INTEGER) AS o_orderdate,
              {prios}[{_u('i', 10, 5)} + 1] AS o_orderpriority
            FROM range(150000) t(i)""",
        "lineitem": f"""
            SELECT {_u('i', 11, 150000)}::BIGINT AS l_orderkey,
              {_u('i', 12, 20000)}::BIGINT AS l_partkey,
              {_u('i', 13, 1000)}::BIGINT AS l_suppkey,
              (1 + {_u('i', 14, 7)})::INTEGER AS l_linenumber,
              (1 + {_u('i', 15, 50)})::DOUBLE AS l_quantity,
              (90068 + {_u('i', 16, 10409924)}::BIGINT) / 100.0 AS l_extendedprice,
              {_u('i', 17, 11)} / 100.0 AS l_discount,
              {_u('i', 18, 9)} / 100.0 AS l_tax,
              ['A', 'N', 'R'][{_u('i', 19, 3)} + 1] AS l_returnflag,
              ['O', 'F'][{_u('i', 20, 2)} + 1] AS l_linestatus,
              TIMESTAMP '1995-01-02' + to_days({_u('i', 21, 2498)}::INTEGER) AS l_shipdate
            FROM range(600000) t(i)""",
        "events": f"""
            SELECT i::BIGINT AS event_id,
              TIMESTAMP '2024-01-01' + to_microseconds({_u('i', 22, 2592000000000)}::BIGINT) AS ts,
              {_u('i', 23, 1500)}::BIGINT AS user_id,
              {types}[{_u('i', 24, 5)} + 1] AS event_type,
              {_u('i', 25, 56022)} / 100.0 AS value,
              '{{"k": ' || {_u('i', 26, 100)} || '}}' AS props
            FROM range(100000) t(i)""",
        # ~1 in 600 documents repeats an earlier one's text verbatim, so the
        # dedup-flavoured queries see real duplicates
        "documents": f"""
            WITH base AS (
              SELECT i,
                CASE WHEN {_u('i', 27, 600)} = 0 AND i > 0
                  THEN {_u('i', 28, 1000000)} % i ELSE i END AS src
              FROM range(5000) t(i)),
            txt AS (
              SELECT i, array_to_string(list_transform(
                  range(8 + {_u('src', 29, 89)}::BIGINT),
                  j -> CASE WHEN hash(src, j, {DATA_SEED * 1000 + 30}) % 250 = 0
                    THEN 'dup'
                    ELSE {words}[(hash(src, j, {DATA_SEED * 1000 + 31}) % 30)::BIGINT + 1]
                  END), ' ') AS text
              FROM base)
            SELECT i::BIGINT AS doc_id, text,
              {langs}[{_u('i', 32, 14)} + 1] AS lang,
              'src' || (i % 20) AS source, length(text)::BIGINT AS n_chars
            FROM txt""",
        "embeddings": f"""
            WITH lab AS (SELECT i, {_u('i', 33, 10)}::INTEGER AS label FROM range(2000) t(i))
            SELECT i::BIGINT AS vec_id,
              list_transform(range(64), j ->
                ((hash(label, j, {DATA_SEED * 1000 + 34}) % 2001)::DOUBLE / 10000.0 - 0.1
                 + ((hash(i, j, {DATA_SEED * 1000 + 35}) % 2001)::DOUBLE / 10000.0 - 0.1)
                )::FLOAT) AS embedding,
              label
            FROM lab""",
    }[name]


def digest(con, data_dir):
    """Order-free fingerprint of every table's contents."""
    parts = []
    for t in TABLES:
        n, h = con.sql(
            f"SELECT count(*), bit_xor(hash(t)) FROM '{data_dir}/{t}.parquet' t"
        ).fetchone()
        parts.append(f"{t}:{n}:{h}")
    return ";".join(parts)


def generate(data_dir):
    """Write every table under data_dir (which must exist)."""
    con = duckdb.connect()
    con.sql("SET threads = 2")
    for t in TABLES:
        con.sql(f"COPY (SELECT * FROM ({_sql(t)}) ORDER BY 1) "
                f"TO '{data_dir}/{t}.parquet' (FORMAT parquet)")
    return digest(con, data_dir)
