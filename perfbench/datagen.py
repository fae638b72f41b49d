"""Deterministic synthetic tables for the benchmark, generated with DuckDB.

The tables have the schemas the engine's workloads read (a TPC-H-like
star schema plus a `documents` text corpus): same column names, types and
value domains. Every value is a function of the row number through
DuckDB's `hash`, so two builds produce byte-identical tables. The data
seed is fixed; the workload seed given to `run.py` only chooses what the
load generator does with these tables.

Tables are written once per scale factor into the build directory and
reused by later runs; a half-written build is never seen, because each
scale factor is written to a temporary directory and renamed into place.
"""

from __future__ import annotations

import os
import shutil

import duckdb

TABLES = (
    "region", "nation", "supplier", "customer", "part",
    "orders", "lineitem", "documents",
)

_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window data column join small customer query order "
    "group filter stream big vector index plan cache shuffle node edge "
    "graph fold"
).split()

# `u(i, salt, m)`: a uniform integer in [0, m) drawn from row i
_MACROS = """
CREATE MACRO u(i, salt, m) AS CAST(hash(i, salt) % m AS BIGINT);
CREATE MACRO cents(i, salt, lo, hi) AS CAST(lo + u(i, salt, hi - lo + 1) AS DOUBLE) / 100.0;
CREATE MACRO pick(i, salt, xs) AS xs[1 + u(i, salt, len(xs))];
"""


def _sql(sf: float) -> dict[str, str]:
    n_supp = int(10_000 * sf)
    n_cust = int(150_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_docs = int(50_000 * sf)
    words = "[" + ", ".join(f"'{w}'" for w in _WORDS) + "]"
    return {
        "region": """
            SELECT CAST(i AS INTEGER) AS r_regionkey,
                   ['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST'][i + 1] AS r_name
            FROM range(5) t(i) ORDER BY i""",
        "nation": """
            SELECT CAST(i AS INTEGER) AS n_nationkey, 'NATION_' || i AS n_name,
                   CAST(i % 5 AS INTEGER) AS n_regionkey
            FROM range(25) t(i) ORDER BY i""",
        "supplier": f"""
            SELECT i AS s_suppkey, 'Supplier#' || lpad(CAST(i AS VARCHAR), 9, '0') AS s_name,
                   CAST(u(i, 'sn', 25) AS INTEGER) AS s_nationkey,
                   cents(i, 'sa', -99999, 999999) AS s_acctbal
            FROM range({n_supp}) t(i) ORDER BY i""",
        "customer": f"""
            SELECT i AS c_custkey, 'Customer#' || lpad(CAST(i AS VARCHAR), 9, '0') AS c_name,
                   CAST(u(i, 'cn', 25) AS INTEGER) AS c_nationkey,
                   cents(i, 'ca', -99999, 999999) AS c_acctbal,
                   pick(i, 'cm', ['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY'])
                     AS c_mktsegment
            FROM range({n_cust}) t(i) ORDER BY i""",
        "part": f"""
            SELECT i AS p_partkey,
                   pick(i, 'pa', ['red', 'hot', 'new', 'small', 'big', 'old', 'blue', 'cold'])
                     || ' ' ||
                   pick(i, 'pb', ['bolt', 'anvil', 'ring', 'rod', 'plate', 'widget', 'gear', 'nut'])
                     AS p_name,
                   'Brand#' || (1 + u(i, 'pc', 25)) AS p_brand,
                   pick(i, 'pt', ['ECONOMY', 'LARGE', 'MEDIUM', 'PROMO', 'SMALL', 'STANDARD'])
                     AS p_type,
                   CAST(1 + u(i, 'ps', 50) AS INTEGER) AS p_size,
                   cents(i, 'pr', 90000, 99990) AS p_retailprice
            FROM range({n_part}) t(i) ORDER BY i""",
        "orders": f"""
            SELECT i AS o_orderkey, u(i, 'oc', {n_cust}) AS o_custkey,
                   pick(i, 'os', ['F', 'O', 'P']) AS o_orderstatus,
                   cents(i, 'op', 100191, 49999318) AS o_totalprice,
                   TIMESTAMP '1995-01-01' + to_days(CAST(u(i, 'od', 2404) AS INTEGER)) AS o_orderdate,
                   pick(i, 'oq', ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'])
                     AS o_orderpriority
            FROM range({n_ord}) t(i) ORDER BY i""",
        "lineitem": f"""
            SELECT u(i, 'lo', {n_ord}) AS l_orderkey, u(i, 'lp', {n_part}) AS l_partkey,
                   u(i, 'ls', {n_supp}) AS l_suppkey,
                   CAST(1 + u(i, 'ln', 7) AS INTEGER) AS l_linenumber,
                   CAST(1 + u(i, 'lq', 50) AS DOUBLE) AS l_quantity,
                   cents(i, 'le', 90068, 10499991) AS l_extendedprice,
                   CAST(u(i, 'ld', 11) AS DOUBLE) / 100.0 AS l_discount,
                   CAST(u(i, 'lt', 9) AS DOUBLE) / 100.0 AS l_tax,
                   pick(i, 'lr', ['A', 'N', 'R']) AS l_returnflag,
                   pick(i, 'lx', ['F', 'O']) AS l_linestatus,
                   TIMESTAMP '1995-01-02' + to_days(CAST(u(i, 'lh', 2498) AS INTEGER)) AS l_shipdate
            FROM range({n_line}) t(i) ORDER BY i""",
        # One document in 50 is a near-duplicate of an earlier one: the
        # same words with one of them replaced, so the dedup queries have
        # candidate pairs to verify.
        "documents": f"""
            WITH d AS (
              SELECT i,
                     CASE WHEN u(i, 'dd', 50) = 0 AND i > 20 THEN i - 1 - u(i, 'dr', 20)
                          ELSE i END AS src
              FROM range({n_docs}) t(i)
            ),
            pos AS (
              SELECT i, src, unnest(range(CAST(8 + u(src, 'dl', 93) AS BIGINT))) AS p FROM d
            ),
            w AS (
              SELECT i, p,
                     CASE WHEN src <> i AND p = 3 THEN {words}[1 + u(i * 1000 + p, 'dn', {len(_WORDS)})]
                          ELSE {words}[1 + u(src * 1000 + p, 'dw', {len(_WORDS)})] END AS word
              FROM pos
            ),
            txt AS (SELECT i, string_agg(word, ' ' ORDER BY p) AS text FROM w GROUP BY i)
            SELECT i AS doc_id, text,
                   CASE WHEN u(i, 'dg', 8) < 4 THEN 'en'
                        ELSE ['de', 'es', 'fr', 'zh'][1 + u(i, 'dg', 8) - 4] END AS lang,
                   'src' || u(i, 'ds', 20) AS source,
                   CAST(length(text) AS BIGINT) AS n_chars
            FROM txt ORDER BY i""",
    }


def ensure(build_dir: str, sf: float) -> str:
    """Return the directory holding the tables at scale factor `sf`,
    generating them first if an earlier run has not."""
    out = os.path.join(build_dir, f"sf{sf}")
    if os.path.isdir(out):
        return out
    tmp = f"{out}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    con = duckdb.connect()
    try:
        con.execute("SET enable_progress_bar = false")
        con.execute(_MACROS)
        for name, sql in _sql(sf).items():
            path = os.path.join(tmp, f"{name}.parquet")
            con.execute(f"COPY ({sql}) TO '{path}' (FORMAT parquet)")
    finally:
        con.close()
    try:
        os.rename(tmp, out)
    except OSError:  # another run finished the same build first
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def duck_views(con: duckdb.DuckDBPyConnection, sf_dir: str) -> None:
    """Expose the tables at `sf_dir` to DuckDB under their own names."""
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
