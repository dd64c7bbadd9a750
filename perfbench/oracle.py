"""Expected answers from DuckDB over the same parquet the program reads,
and the comparison rule of ``scripts/check_entry.py`` (imported from it,
so the benchmark and the repository's correctness gate cannot drift).

The views below restate the project's models in SQL (see
``dbt_databricks_metrics_spark/project.py``); every expected answer is
computed outside the timed intervals.
"""

from __future__ import annotations

import decimal
import importlib.util
import os

import duckdb

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_check_entry():
    spec = importlib.util.spec_from_file_location(
        "perfbench_check_entry", os.path.join(_ROOT, "scripts", "check_entry.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


_check_entry = _load_check_entry()
norm = _check_entry.norm
values_close = _check_entry.values_close


def _conv(v):
    if hasattr(v, "isoformat"):
        return v.isoformat()[:19]
    if isinstance(v, list):
        return tuple(v)
    if isinstance(v, decimal.Decimal):
        return float(v)
    return v


def _canonical(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    key = lambda t: tuple(str(norm(x)) for x in t)  # noqa: E731
    return (
        [cols[i] for i in order],
        sorted((tuple(_conv(r[i]) for i in order) for r in rows), key=key),
    )


def same_result(got: tuple[list, list], want: tuple[list, list]) -> bool:
    """check_entry's rule: same column names, same row count, and every
    value equal within ``values_close`` after both sides are sorted by the
    ``norm`` key."""
    gcols, grows = _canonical(*got)
    wcols, wrows = _canonical(*want)
    return (
        gcols == wcols
        and len(grows) == len(wrows)
        and all(values_close(a, b) for a, b in zip(grows, wrows))
    )


def _views(li: str) -> str:
    return f"""
CREATE OR REPLACE VIEW fct_orders AS
SELECT o.o_orderkey AS order_id, o.o_custkey AS customer_id,
       c.c_mktsegment AS market_segment, o.o_orderstatus AS order_status,
       o.o_totalprice AS total_price, CAST(o.o_orderdate AS DATE) AS order_date,
       o.o_orderpriority AS order_priority,
       year(CAST(o.o_orderdate AS DATE)) AS order_year,
       month(CAST(o.o_orderdate AS DATE)) AS order_month
FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey;
CREATE OR REPLACE VIEW fct_customer_summary AS
SELECT c.c_custkey AS customer_id, c.c_mktsegment AS market_segment,
       count(o.o_orderkey) AS total_orders, sum(o.o_totalprice) AS total_spent
FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
GROUP BY ALL;
CREATE OR REPLACE VIEW stg_lineitem AS
SELECT l_orderkey AS order_id, l_partkey AS part_id, l_suppkey AS supplier_id,
       l_quantity AS quantity, l_extendedprice AS extended_price,
       l_discount AS discount, l_tax AS tax, l_returnflag AS return_flag,
       l_linestatus AS line_status, CAST(l_shipdate AS DATE) AS ship_date,
       year(CAST(l_shipdate AS DATE)) AS ship_year,
       month(CAST(l_shipdate AS DATE)) AS ship_month
FROM {li};
CREATE OR REPLACE VIEW pricing AS
SELECT * FROM stg_lineitem WHERE ship_date <= DATE '2001-09-02';
CREATE OR REPLACE VIEW sales_star AS
SELECT l.*, n.n_name AS nation_name, r.r_name AS region_name,
       c.c_mktsegment AS market_segment, p.p_retailprice AS retail_price
FROM stg_lineitem l
JOIN orders o ON l.order_id = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
JOIN part p ON l.part_id = p.p_partkey;
"""


class Oracle:
    """A DuckDB connection whose views mirror the project's models over
    the parquet files in *data_dir*."""

    def __init__(self, data_dir: str) -> None:
        self.con = duckdb.connect()
        for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem"):
            path = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )
        self.con.execute(_views("lineitem"))

    def use_lineitem(self, arrow_table) -> None:
        """Point the lineitem-based views at *arrow_table* (a modified
        source) instead of the parquet file."""
        self.con.register("lineitem_mod", arrow_table)
        self.con.execute(_views("lineitem_mod"))

    def use_lineitem_glob(self, pattern: str) -> None:
        self.con.execute(_views(f"read_parquet('{pattern}')"))

    def answer(self, sql: str) -> tuple[list, list]:
        res = self.con.execute(sql)
        return [d[0] for d in res.description], res.fetchall()

    def close(self) -> None:
        self.con.close()
