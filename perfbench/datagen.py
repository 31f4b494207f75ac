"""Seeded input tables for the query workloads.

The star schema, value domains and column types follow the tables graft's
entries are written against (region, nation, customer, supplier, part,
orders, lineitem, documents, embeddings). Every column is a DuckDB hash of
(row id, column salt, seed), so the same seed gives byte-identical tables
and another seed gives other values at the same row counts.
"""
import os

# Row counts, fixed for every seed so that run time does not depend on it.
ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "documents": 500,
    "embeddings": 500,
}

VOCAB = ["spark", "line", "column", "order", "small", "sort", "fast", "value",
         "scan", "hash", "slow", "group", "batch", "agg", "filter", "query",
         "a", "big", "key", "window", "row", "part", "table", "stream",
         "merge", "data", "the", "join", "vector", "customer"]


def _lst(vals):
    return "[" + ", ".join("'%s'" % v for v in vals) + "]"


def _queries(seed):
    n = ROWS

    def h(expr, salt):
        return f"hash({expr}, {salt}, {seed})"

    def pick(expr, salt, vals):
        return f"({_lst(vals)})[1 + CAST({h(expr, salt)} % {len(vals)} AS INTEGER)]"

    def money(expr, salt, hi):
        return f"round(CAST({h(expr, salt)} % {hi * 100} AS DOUBLE) / 100.0, 2)"

    def order_date(key):
        return (f"(TIMESTAMP '1995-01-01' + "
                f"to_days(CAST({h(key, 40)} % 2400 AS INTEGER)))")

    return {
        "region": """SELECT CAST(i AS INTEGER) AS r_regionkey,
            (['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST'])[i + 1] AS r_name
            FROM range(5) t(i)""",
        "nation": """SELECT CAST(i AS INTEGER) AS n_nationkey, 'NATION_' || i AS n_name,
            CAST(i % 5 AS INTEGER) AS n_regionkey FROM range(25) t(i)""",
        "customer": f"""SELECT i AS c_custkey, printf('Customer#%09d', i) AS c_name,
            CAST({h('i', 1)} % 25 AS INTEGER) AS c_nationkey,
            {money('i', 2, 10000)} AS c_acctbal,
            {pick('i', 3, ['BUILDING', 'HOUSEHOLD', 'MACHINERY', 'AUTOMOBILE', 'FURNITURE'])}
              AS c_mktsegment
            FROM range({n['customer']}) t(i)""",
        "supplier": f"""SELECT i AS s_suppkey, printf('Supplier#%09d', i) AS s_name,
            CAST({h('i', 10)} % 25 AS INTEGER) AS s_nationkey,
            {money('i', 11, 10000)} AS s_acctbal
            FROM range({n['supplier']}) t(i)""",
        "part": f"""SELECT i AS p_partkey,
            {pick('i', 20, ['large', 'hot', 'blue', 'old', 'cold', 'red', 'green', 'tiny'])}
              || ' ' || {pick('i', 21, ['ring', 'bolt', 'plate', 'wheel', 'box', 'pipe', 'cap', 'rod'])}
              AS p_name,
            'Brand#' || CAST({h('i', 22)} % 25 + 1 AS VARCHAR) AS p_brand,
            {pick('i', 23, ['ECONOMY', 'LARGE', 'MEDIUM', 'PROMO', 'SMALL', 'STANDARD'])} AS p_type,
            CAST({h('i', 24)} % 50 + 1 AS INTEGER) AS p_size,
            round(900.0 + CAST({h('i', 25)} % 1000 AS DOUBLE) / 10.0, 2) AS p_retailprice
            FROM range({n['part']}) t(i)""",
        "orders": f"""SELECT i AS o_orderkey,
            CAST({h('i', 30)} % {n['customer']} AS BIGINT) AS o_custkey,
            {pick('i', 31, ['O', 'O', 'F', 'F', 'P'])} AS o_orderstatus,
            round(1000.0 + CAST({h('i', 32)} % 49900000 AS DOUBLE) / 100.0, 2) AS o_totalprice,
            {order_date('i')} AS o_orderdate,
            {pick('i', 33, ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'])}
              AS o_orderpriority
            FROM range({n['orders']}) t(i)""",
        "lineitem": f"""SELECT i // 4 AS l_orderkey,
            CAST({h('i', 50)} % {n['part']} AS BIGINT) AS l_partkey,
            CAST({h('i', 51)} % {n['supplier']} AS BIGINT) AS l_suppkey,
            CAST({h('i', 52)} % 7 + 1 AS INTEGER) AS l_linenumber,
            CAST({h('i', 53)} % 50 + 1 AS DOUBLE) AS l_quantity,
            round(900.0 + CAST({h('i', 54)} % 10400000 AS DOUBLE) / 100.0, 2) AS l_extendedprice,
            CAST({h('i', 55)} % 11 AS DOUBLE) / 100.0 AS l_discount,
            CAST({h('i', 56)} % 9 AS DOUBLE) / 100.0 AS l_tax,
            {pick('i', 57, ['R', 'N', 'A'])} AS l_returnflag,
            {pick('i', 58, ['O', 'F'])} AS l_linestatus,
            {order_date('i // 4')} + to_days(CAST({h('i', 59)} % 120 + 1 AS INTEGER)) AS l_shipdate
            FROM range({n['lineitem']}) t(i)""",
        "documents": f"""SELECT doc_id, text, lang, source, CAST(length(text) AS BIGINT) AS n_chars
            FROM (SELECT i AS doc_id,
              array_to_string(list_transform(range(CAST({h('i', 70)} % 90 + 11 AS BIGINT)),
                j -> ({_lst(VOCAB)})[1 + CAST(hash(i, j, 71, {seed}) % {len(VOCAB)} AS INTEGER)]),
                ' ') AS text,
              {pick('i', 72, ['en', 'en', 'de', 'es', 'fr', 'zh'])} AS lang,
              'src' || CAST({h('i', 73)} % 20 AS VARCHAR) AS source
            FROM range({n['documents']}) t(i))""",
        # label-clustered vectors: a per-label centroid plus per-vector noise
        "embeddings": f"""SELECT i AS vec_id,
            list_transform(range(64), j -> CAST(
              (CAST(hash(CAST({h('i', 80)} % 10 AS BIGINT), j, 81, {seed}) % 1000 AS DOUBLE) - 500)
                / 2500.0
              + (CAST(hash(i, j, 82, {seed}) % 2000 AS DOUBLE) - 1000) / 5000.0 AS FLOAT))
              AS embedding,
            CAST({h('i', 80)} % 10 AS INTEGER) AS label
            FROM range({n['embeddings']}) t(i)""",
    }


def generate(con, out_dir, seed):
    """Write one parquet file per table under out_dir; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    for name, sql in _queries(seed).items():
        con.execute(f"COPY ({sql}) TO '{out_dir}/{name}.parquet' (FORMAT PARQUET)")
    return dict(ROWS)


def make_views(con, data_dir):
    for name in ROWS:
        con.execute(f"CREATE OR REPLACE VIEW {name} AS "
                    f"SELECT * FROM read_parquet('{data_dir}/{name}.parquet')")
