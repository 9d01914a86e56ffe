"""Seeded input tables for the query workloads, written with DuckDB.

The query workload reads only `orders`, so only `orders` is generated. It has
the columns, types and value ranges of the repository's seed-42 testdata
(TESTDATA.md), at any scale factor: `sf` 0.1 gives the row count of `sf0.1`.
Every value is a hash of (seed, column, row), so one seed always gives the
same bytes, whatever the thread count.
"""
from pathlib import Path

import duckdb


def _orders_sql(seed: int, sf: float) -> str:
    n_cust, n_ord = int(150000 * sf), int(1500000 * sf)

    def u(salt: str) -> str:
        """Uniform [0, 1) from a hash of the seed, a salt and the row."""
        return f"(hash({seed}, '{salt}', i) % 1000000007) / 1000000007.0"

    def pick(salt: str, options) -> str:
        arr = "[" + ",".join(f"'{o}'" for o in options) + "]"
        return f"{arr}[1 + floor({u(salt)} * {len(options)})::INT]"

    return f"""SELECT i AS o_orderkey, floor({u('oc')} * {n_cust})::BIGINT AS o_custkey,
        {pick('os', ['F', 'O', 'P'])} AS o_orderstatus,
        round(1000 + {u('op')} * 499000, 2) AS o_totalprice,
        TIMESTAMP '1995-01-01' + to_days(floor({u('od')} * 2404)::INT) AS o_orderdate,
        {pick('oy', ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'])}
          AS o_orderpriority FROM range({n_ord}) t(i)"""


def generate(out: Path, seed: int, sf: float) -> dict:
    """Writes the tables under `out`; returns {table: rows}."""
    out.mkdir(parents=True, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    path = out / "orders.parquet"
    con.execute(f"COPY ({_orders_sql(seed, sf)}) TO '{path}' (FORMAT parquet)")
    rows = {"orders": con.execute(f"SELECT count(*) FROM '{path}'").fetchone()[0]}
    con.close()
    return rows

