"""``refresh`` workload: delta batches folded into a cached lineitem cube.

The base holds about 80% of lineitem, split off by a seeded hash of
``l_orderkey``; the remaining orders arrive as batches of about 2% each,
folded in with ``CuttingBoard.refresh`` (a write). After each batch a small
dashboard, which fits the slice cache and includes a non-mergeable
``Average``, is read again (one op per dashboard query).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pandas as pd

import oracle

BASE_SHARE = 80  # percent of orders in the base
BATCH_SHARE = 2  # percent of orders per delta batch
#: delta batches per second of --seconds
BATCHES_PER_SECOND = 0.5

#: dashboard: (axes, filters, values); ship_year filters are dates
DASHBOARD = (
    (("returnflag", "linestatus"), (), ("quantity", "extendedprice", "n_items")),
    (("ship_year",), (), ("extendedprice", "n_items")),
    (("returnflag",), (), ("avg_discount",)),
    (("linestatus", "ship_year"), (), ("min_price", "max_price")),
    ((), (), ("quantity", "n_items")),
    (("ship_month",), (("ship_year", "eq", dt.date(1997, 1, 1)),), ("quantity",)),
    (("returnflag", "ship_year"), (("linestatus", "eq", "F"),), ("extendedprice", "avg_discount")),
)

#: the same dashboard in SQL over a view ``li`` (DuckDB), column order as
#: the engine returns it
DASHBOARD_SQL = (
    "SELECT l_returnflag AS returnflag, l_linestatus AS linestatus, sum(l_quantity) AS quantity,"
    " sum(l_extendedprice) AS extendedprice, count(l_linenumber) AS n_items FROM li GROUP BY 1, 2",
    "SELECT cast(date_trunc('year', l_shipdate) AS date) AS ship_year,"
    " sum(l_extendedprice) AS extendedprice, count(l_linenumber) AS n_items FROM li GROUP BY 1",
    "SELECT l_returnflag AS returnflag, avg(l_discount) AS avg_discount FROM li GROUP BY 1",
    "SELECT l_linestatus AS linestatus, cast(date_trunc('year', l_shipdate) AS date) AS ship_year,"
    " min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price FROM li GROUP BY 1, 2",
    "SELECT sum(l_quantity) AS quantity, count(l_linenumber) AS n_items FROM li",
    "SELECT cast(date_trunc('month', l_shipdate) AS date) AS ship_month, sum(l_quantity) AS quantity"
    " FROM li WHERE date_trunc('year', l_shipdate) = DATE '1997-01-01' GROUP BY 1",
    "SELECT l_returnflag AS returnflag, cast(date_trunc('year', l_shipdate) AS date) AS ship_year,"
    " sum(l_extendedprice) AS extendedprice, avg(l_discount) AS avg_discount"
    " FROM li WHERE l_linestatus = 'F' GROUP BY 1, 2",
)


def cubedef():
    from bacon_spark.accumulators import Average, Count, Max, Min, Sum
    from bacon_spark.cubedef import CubeDef, Label, Measure, MonthLabel, YearLabel

    cd = CubeDef("lineitem")
    cd.add_label(Label("returnflag", "l_returnflag"))
    cd.add_label(Label("linestatus", "l_linestatus"))
    cd.add_label(YearLabel("ship_year", "l_shipdate"))
    cd.add_label(MonthLabel("ship_month", "l_shipdate"))
    cd.add_hierarchy("ship_month", "ship_year")
    cd.add_measure(Measure("quantity", "l_quantity", acc=Sum()))
    cd.add_measure(Measure("extendedprice", "l_extendedprice", acc=Sum()))
    cd.add_measure(Measure("n_items", "l_linenumber", acc=Count()))
    cd.add_measure(Measure("avg_discount", "l_discount", acc=Average()))
    cd.add_measure(Measure("min_price", "l_extendedprice", acc=Min()))
    cd.add_measure(Measure("max_price", "l_extendedprice", acc=Max()))
    return cd


def dashboard_queries():
    from bacon_spark.cubequery import CubeQuery

    out = []
    for axes, filters, values in DASHBOARD:
        q = CubeQuery()
        for a in axes:
            q = q.add_axis(a)
        for name, op, v in filters:
            q = q.add_filter(name, op, v)
        for v in values:
            q = q.add_value(v)
        out.append(q)
    return out


def split_lineitem(data_dir: str, seed: int, n_batches: int) -> list[str]:
    """Write base.parquet and one delta parquet per batch; returns the file
    names in fold order, base first."""
    li = pd.read_parquet(os.path.join(data_dir, "lineitem.parquet"))
    n_orders = int(li["l_orderkey"].max()) + 1
    bucket = np.random.default_rng([seed, 7]).permutation(n_orders)[li["l_orderkey"].to_numpy()] % 100
    parts = [("base", bucket < BASE_SHARE)]
    for b in range(n_batches):
        lo = BASE_SHARE + b * BATCH_SHARE
        parts.append((f"delta{b:02d}", (bucket >= lo) & (bucket < lo + BATCH_SHARE)))
    names = []
    for name, mask in parts:
        li[mask].to_parquet(os.path.join(data_dir, f"{name}.parquet"), index=False)
        names.append(name)
    return names


class Refresh:
    name = "refresh"
    build_jobs = 0

    def __init__(self, data_dir: str, seed: int, seconds: int):
        n_batches = min((100 - BASE_SHARE) // BATCH_SHARE, max(1, round(BATCHES_PER_SECOND * seconds)))
        self.data_dir = data_dir
        self.files = split_lineitem(data_dir, seed, n_batches)
        self.n_batches = n_batches
        per_batch = 1 + len(DASHBOARD)
        self.n_ops = n_batches * per_batch
        self.per_batch = per_batch

    def _path(self, name: str) -> str:
        return os.path.join(self.data_dir, f"{name}.parquet")

    def setup(self, spark) -> None:
        from bacon_spark.engine import CuttingBoard

        self.spark = spark
        self.queries = dashboard_queries()
        self.board = CuttingBoard(cubedef(), spark.read.parquet(self._path("base")))
        for q in self.queries:  # warm the cache: the dashboard as first shown
            self.board.slice(q).collect()

    def reset(self, spark) -> None:
        spark.catalog.clearCache()  # the last pass's persisted slices
        self.setup(spark)

    def kind(self, i: int) -> str:
        return "write" if i % self.per_batch == 0 else "op"

    def label(self, i: int) -> str:
        b, j = divmod(i, self.per_batch)
        return f"batch{b}:refresh" if j == 0 else f"batch{b}:q{j - 1}"

    def run_op(self, i: int, tracer=None):
        b, j = divmod(i, self.per_batch)
        if j == 0:
            self.board.refresh(self.spark.read.parquet(self._path(self.files[1 + b])))
            return None
        return self.board.slice(self.queries[j - 1]).collect()

    def after_op(self, i: int) -> None:
        pass

    def check(self, spark, phase: dict) -> tuple[bool, list[str]]:
        """After every batch, each dashboard read must equal DuckDB over the
        base and the deltas applied so far."""
        con = oracle.connect(self.data_dir)
        problems = []
        try:
            for b in range(self.n_batches):
                files = ", ".join(f"'{self._path(n)}'" for n in self.files[: b + 2])
                con.execute(f"CREATE OR REPLACE VIEW li AS SELECT * FROM read_parquet([{files}])")
                for j, sql in enumerate(DASHBOARD_SQL):
                    res = phase["results"][b * self.per_batch + 1 + j]
                    if isinstance(res, Exception):
                        continue
                    dcols, drows = oracle.query(con, sql)
                    cols = list(res[0].__fields__) if res else dcols
                    if not oracle.close_rows(cols, [tuple(r) for r in res], dcols, drows):
                        problems.append(f"batch {b} query {j}: differs from DuckDB")
        finally:
            con.close()
        return not problems, problems
