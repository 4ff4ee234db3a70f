"""Seeded batch tables for the batch_surface workload.

Writes the ten parquet tables the query surface reads (a TPC-H-shaped star
schema plus `events`, `documents` and `embeddings`) with the same column
names, types and value domains as the repository's test data, at scale
factor `sf` (sf 0.01: 60k lineitem rows).  DuckDB runs single-threaded
after `setseed`, so the same seed writes the same tables.
"""
import os

import duckdb

WORDS = ["the", "stream", "query", "row", "fast", "small", "spark", "group",
         "customer", "line", "sort", "hash", "batch", "dup", "data", "filter",
         "value", "big", "key", "order", "table", "scan", "merge", "part",
         "window", "join", "slow", "agg", "column", "a", "vector"]


def sql_list(xs):
    return "[" + ",".join("'%s'" % x for x in xs) + "]"


def write_tables(seed, out_dir, sf=0.01):
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads=1")
    con.execute("SELECT setseed(?)", [((seed * 7919) % 10007) / 10007.0])
    n_cust = int(150000 * sf)
    n_supp = max(10, int(10000 * sf))
    n_part = int(200000 * sf)
    n_ord = int(1500000 * sf)
    n_evt = int(1000000 * sf)
    n_user = max(15, int(15000 * sf))
    words = sql_list(WORDS)

    def pick(lst):
        return "%s[1 + floor(random() * %d)::INT]" % (lst, len(eval(lst)))

    tables = {
        "region": """SELECT i::INTEGER AS r_regionkey,
            ['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'][i + 1] AS r_name
            FROM range(5) t(i)""",
        "nation": """SELECT i::INTEGER AS n_nationkey, 'NATION_' || i AS n_name,
            floor(random() * 5)::INTEGER AS n_regionkey FROM range(25) t(i)""",
        "customer": f"""SELECT i AS c_custkey,
            'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name,
            floor(random() * 25)::INTEGER AS c_nationkey,
            round(random() * 10800 - 999.99, 2) AS c_acctbal,
            {pick("['AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY']")}
              AS c_mktsegment
            FROM range({n_cust}) t(i)""",
        "supplier": f"""SELECT i AS s_suppkey,
            'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name,
            floor(random() * 25)::INTEGER AS s_nationkey,
            round(random() * 10800 - 999.99, 2) AS s_acctbal
            FROM range({n_supp}) t(i)""",
        "part": f"""SELECT i AS p_partkey,
            {pick("['small','blue','cold','old','new','hot','red','large']")} || ' ' ||
            {pick("['widget','rod','ring','anvil','plate','bolt','gear','gizmo']")}
              AS p_name,
            'Brand#' || (1 + floor(random() * 25)::INT) AS p_brand,
            {pick("['ECONOMY','LARGE','STANDARD','MEDIUM','SMALL','PROMO']")} AS p_type,
            (1 + floor(random() * 50))::INTEGER AS p_size,
            round(900 + random() * 99.9, 1) AS p_retailprice
            FROM range({n_part}) t(i)""",
        "orders": f"""SELECT i AS o_orderkey,
            floor(random() * {n_cust})::BIGINT AS o_custkey,
            {pick("['F','O','P']")} AS o_orderstatus,
            round(1300 + random() * 498000, 2) AS o_totalprice,
            TIMESTAMP '1995-01-01' + to_days(floor(random() * 2404)::INT) AS o_orderdate,
            {pick("['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW']")}
              AS o_orderpriority
            FROM range({n_ord}) t(i)""",
        "lineitem": f"""WITH o AS (
              SELECT i AS k, floor(random() * 8)::INT AS n FROM range({n_ord}) t(i)),
            l AS (SELECT k, unnest(range(1, n + 1)) AS ln FROM o WHERE n > 0)
            SELECT k AS l_orderkey,
            floor(random() * {n_part})::BIGINT AS l_partkey,
            floor(random() * {n_supp})::BIGINT AS l_suppkey,
            ln::INTEGER AS l_linenumber,
            (1 + floor(random() * 50))::DOUBLE AS l_quantity,
            round(900 + random() * 104000, 2) AS l_extendedprice,
            floor(random() * 11) / 100.0 AS l_discount,
            floor(random() * 9) / 100.0 AS l_tax,
            {pick("['A','N','R']")} AS l_returnflag,
            {pick("['F','O']")} AS l_linestatus,
            TIMESTAMP '1995-01-02' + to_days(floor(random() * 2498)::INT) AS l_shipdate
            FROM l ORDER BY l_orderkey, l_linenumber""",
        "events": f"""SELECT i AS event_id,
            TIMESTAMP '2024-01-01' + to_microseconds(floor(random() * 2592000e6)::BIGINT) AS ts,
            floor(random() * {n_user})::BIGINT AS user_id,
            {pick("['click','error','purchase','signup','view']")} AS event_type,
            round(random() * random() * 490, 2) AS value,
            '{{"k": ' || floor(random() * 101)::INT || '}}' AS props
            FROM range({n_evt}) t(i)""",
        "documents": f"""WITH d AS (SELECT i, 8 + floor(random() * 100)::INT AS nw
              FROM range(500) t(i))
            SELECT i AS doc_id,
            array_to_string(list_transform(range(nw), x -> {pick(words)}), ' ') AS text,
            {pick("['en','en','en','de','es','fr','zh']")} AS lang,
            'src' || floor(random() * 20)::INT AS source
            FROM d""",
        "embeddings": """WITH v AS (SELECT i,
              list_transform(range(64), x -> random() - 0.5) AS e FROM range(500) t(i))
            SELECT i AS vec_id,
            list_transform(e, x -> (x / sqrt(list_sum(list_transform(e, y -> y * y))))::FLOAT)
              AS embedding,
            floor(random() * 10)::INTEGER AS label FROM v""",
    }
    for name, q in tables.items():
        path = os.path.join(out_dir, name + ".parquet")
        if name == "documents":
            q = "SELECT doc_id, text, lang, source, length(text)::BIGINT AS n_chars " \
                "FROM (%s)" % q
        con.execute("COPY (%s) TO '%s' (FORMAT PARQUET)" % (q, path))
    con.close()
