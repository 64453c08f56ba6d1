"""Warm-path (navigation-sequence) head-to-head: the reference's
differentiator is its slice cache (/root/reference/bacon/cutting.py:
137-202,235-522) — an interactive user parses a DSL query, slices, then
drills/filters/rolls up, and every step after the first is served from
cached slices. The engine has the analogue: one LRU of earlier results
and one reuse rule (engine.py CuttingBoard._derive) that answers exact
repeats, drills and roll-ups from collected rows with no Spark job. The
cold-query bench (tools/bench_reference.py) never exercises either
cache, which is exactly where Spark's ~0.3-0.6 s per-query floor loses
to a preloaded Python loop on small tables (VERDICT r6 q07/q10 `weak`).
This tool measures the NAVIGATION sequence on BOTH engines, same data,
same session.

Sequence (identical shapes on both engines):
  parse      parse the axes/values DSL string (builders/url.py both sides)
  s1_cold    slice: returnflag x linestatus, 4 Sum measures, month<= filter
  s2_repeat  the exact same query again           (exact repeat)
  s3_drill   +returnflag='R' filter, drop axis    (drill: eq-pinned, projected)
  s4_drill2  +linestatus='F' filter, drop axis    (drill from s3's slice)
  s5_rollup  original minus linestatus axis       (roll-up: re-aggregated)
plus the VERDICT r6 `weak` shapes re-run warm:
  q07_cold / q07_repeat   min/max/stddev over customer (small table)
  q10_cold / q10_repeat   in/ni membership filters over part
  q12_cold / q12_repeat   set-algebra filters over part tags
  q04_cold / q04_repeat   order-by-measure top-10 over orders

Usage: python tools/bench_nav.py [sf_dir] [--skip-reference]
Prints ONE JSON line:
  {"sf_dir":..., "engine": {"steps": {...}, "warm_p50": s},
   "reference": {"load_seconds":..., "steps": {...}, "warm_p50": s}}

Engine cache-hit steps are additionally plan-asserted (no base-table
scan) in tests/test_engine.py::test_nav_sequence_cache_hits_never_rescan.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

DSL = "a:returnflag/a:linestatus/v:sum_qty/v:sum_base_price/v:disc_price/v:charge"
#: every step engine_nav times, in the order it runs them
ENGINE_STEPS = (
    "parse", "s1_cold", "s2_repeat", "s3_drill", "s4_drill2", "s5_rollup",
    "q07_cold", "q07_repeat", "q10_cold", "q10_repeat",
    "q12_cold", "q12_repeat", "q04_cold", "q04_repeat",
)
WARM_STEPS = (
    "s2_repeat", "s3_drill", "s4_drill2", "s5_rollup",
    "q07_repeat", "q10_repeat", "q12_repeat", "q04_repeat",
)


def _pq(sf_dir: str, name: str) -> str:
    p = f"{sf_dir}/{name}.parquet"
    return f"{p}/*.parquet" if os.path.isdir(p) else p


# --------------------------------------------------------------------------
# engine side
# --------------------------------------------------------------------------


def engine_nav(sf_dir: str) -> dict:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from bacon_spark import Count, CubeDef, CubeQuery, CuttingBoard, StdDev, Sum
    from bacon_spark.accumulators import Max, Min
    from bacon_spark.builders.url import parse_query
    from bacon_spark.cubedef import Label, MonthLabel, Measure
    from bacon_spark.sources.star import read_table

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("bacon_spark-bench-nav")
        .config("spark.sql.shuffle.partitions", str(max(int(cpus), 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    cd = CubeDef("lineitem")
    cd.add_label(Label("returnflag", "l_returnflag"))
    cd.add_label(Label("linestatus", "l_linestatus"))
    cd.add_label(MonthLabel("ship_month", "l_shipdate"))
    cd.add_measure(Measure("sum_qty", "l_quantity", acc=Sum()))
    cd.add_measure(Measure("sum_base_price", "l_extendedprice", acc=Sum()))
    cd.add_measure(Measure("disc_price", "l_extendedprice*(1-l_discount)", acc=Sum()))
    cd.add_measure(
        Measure("charge", "l_extendedprice*(1-l_discount)*(1+l_tax)", acc=Sum())
    )
    # eager_snapshot_rows: the engine's answer to the reference's preloaded
    # dataset — small tables are extracted driver-side ONCE at board
    # construction (untimed, like the reference's load_seconds) and FIRST-hit
    # point queries fold them in Python with zero Spark jobs. lineitem
    # exceeds the cap at every SF (the probe disables the path); customer and
    # part fit through sf1.
    SNAP_CAP = 300_000
    board = CuttingBoard(
        cd, read_table(spark, sf_dir, "lineitem"), eager_snapshot_rows=SNAP_CAP
    )

    # JVM/codegen warmup on a DISJOINT query shape (grand total over a
    # different measure set) so step timings measure plans, not Janino.
    warm = CubeQuery().add_value("sum_qty")
    board.slice(warm).collect()
    board.clear_cache()

    q1 = parse_query(DSL, cd).add_filter("ship_month", "le", dt.date(1998, 9, 1))
    q3 = q1.add_filter("returnflag", "eq", "R").remove_axis("returnflag")
    q4 = q3.add_filter("linestatus", "eq", "F").remove_axis("linestatus")
    q5 = q1.remove_axis("linestatus")

    # q07-shaped: Min/Max/StdDev over customer
    cd7 = CubeDef("customer")
    cd7.add_label(Label("nation", "c_nationkey"))
    cd7.add_measure(Measure("min_bal", "c_acctbal", acc=Min()))
    cd7.add_measure(Measure("max_bal", "c_acctbal", acc=Max()))
    cd7.add_measure(Measure("std_bal", "c_acctbal", acc=StdDev()))
    b7 = CuttingBoard(
        cd7, read_table(spark, sf_dir, "customer"), eager_snapshot_rows=SNAP_CAP
    )
    q7 = (
        CubeQuery().add_axis("nation")
        .add_value("min_bal").add_value("max_bal").add_value("std_bal")
    )

    # q10-shaped: in/ni membership filters over part
    cd10 = CubeDef("part")
    cd10.add_label(Label("brand", "p_brand"))
    cd10.add_label(Label("size", "p_size"))
    cd10.add_measure(Measure("n", "p_partkey", acc=Count()))
    cd10.add_measure(Measure("sum_price", "p_retailprice", acc=Sum()))
    b10 = CuttingBoard(
        cd10, read_table(spark, sf_dir, "part"), eager_snapshot_rows=SNAP_CAP
    )
    q10 = (
        CubeQuery().add_axis("brand").add_value("n").add_value("sum_price")
        .add_filter("brand", "in", frozenset({"Brand#1", "Brand#2", "Brand#3"}))
        .add_filter("size", "ni", frozenset({1, 2, 3}))
    )

    # q12-shaped: set-algebra filters over part tags (round 10 — the
    # driver-side set-op twins make this a local fold like q10)
    from bacon_spark.cubedef import SetLabel

    cd12 = CubeDef("part")
    cd12.add_label(Label("brand", "p_brand"))
    cd12.add_label(SetLabel("tags"))
    cd12.add_measure(Measure("n", "p_partkey", acc=Count()))
    df12 = read_table(spark, sf_dir, "part").withColumn("tags", F.split("p_name", " "))
    b12 = CuttingBoard(cd12, df12, eager_snapshot_rows=SNAP_CAP)
    q12 = (
        CubeQuery().add_axis("brand").add_value("n")
        .add_filter("tags", "hasany", frozenset({"red", "blue", "green"}))
        .add_filter("tags", "hasall", frozenset({"widget"}))
        .add_filter("tags", "hasnone", frozenset({"bolt", "gear"}))
    )

    # q04-shaped: order-by-measure + top-10, the renderer's driver-side
    # sort over the slice (orders fits the snapshot cap at sf0.1 and
    # falls to the Spark plan at sf1 — both measured as the user gets)
    cd4 = CubeDef("orders")
    cd4.add_label(Label("custkey", "o_custkey"))
    cd4.add_measure(Measure("total", "o_totalprice", acc=Sum()))
    b4 = CuttingBoard(
        cd4, read_table(spark, sf_dir, "orders"), eager_snapshot_rows=SNAP_CAP
    )
    # the engine's NATIVE top-k surface: order-by-measure in the query;
    # locally-served slices come back already ordered (engine._py_order),
    # the Spark path pushes the limit into the plan (TakeOrdered) — the
    # reference has no in-query top-k, its renderer sorts in Python
    # (observers/tables.py:411-427), which its side below replays.
    q04 = (
        CubeQuery().add_axis("custkey").add_value("total")
        .set_order("total", descending=True)
    )

    def top10() -> None:
        sl = b4.slice(q04)
        if sl._rows is not None:
            top = [tuple(r) for r in sl._rows[:10]]
        else:
            top = [tuple(r) for r in sl.to_df().limit(10).collect()]
        assert len(top) == 10

    work = {
        "parse": lambda: parse_query(DSL, cd),
        "s1_cold": lambda: board.slice(q1).collect(),
        "s2_repeat": lambda: board.slice(q1).collect(),
        "s3_drill": lambda: board.slice(q3).collect(),
        "s4_drill2": lambda: board.slice(q4).collect(),
        "s5_rollup": lambda: board.slice(q5).collect(),
        "q07_cold": lambda: b7.slice(q7).collect(),
        "q07_repeat": lambda: b7.slice(q7).collect(),
        "q10_cold": lambda: b10.slice(q10).collect(),
        "q10_repeat": lambda: b10.slice(q10).collect(),
        "q12_cold": lambda: b12.slice(q12).collect(),
        "q12_repeat": lambda: b12.slice(q12).collect(),
        "q04_cold": top10,
        "q04_repeat": top10,
    }
    steps: dict[str, float] = {}
    for name in ENGINE_STEPS:
        t = time.perf_counter()
        work[name]()
        steps[name] = round(time.perf_counter() - t, 4)

    spark.stop()
    return {
        "steps": steps,
        "warm_p50": round(statistics.median(steps[s] for s in WARM_STEPS), 4),
    }


# --------------------------------------------------------------------------
# reference side (imported from /root/reference, unmodified)
# --------------------------------------------------------------------------


def reference_nav(sf_dir: str) -> dict:
    sys.path.insert(0, "/root/reference")
    from collections import namedtuple

    import duckdb

    from bacon import accumulators as accs
    from bacon import cubedef as cd_mod
    from bacon.builders.url import UrlQueryBuilder
    from bacon.cubedef import AttributeLabel, CubeDef, Label, Measure
    from bacon.cubequery import CubeQuery
    from bacon.cutting import CuttingBoard

    t0 = time.perf_counter()
    con = duckdb.connect()
    rows = con.execute(
        f"""SELECT l_returnflag, l_linestatus, l_quantity, l_extendedprice,
                   l_discount, l_tax, cast(l_shipdate as date) AS l_shipdate
            FROM '{_pq(sf_dir, 'lineitem')}'"""
    ).fetchall()
    Item = namedtuple(
        "Item",
        "l_returnflag l_linestatus l_quantity l_extendedprice l_discount l_tax l_shipdate",
    )
    data = [Item(*r) for r in rows]
    load_s = round(time.perf_counter() - t0, 3)

    cd = CubeDef()
    cd.add_label(AttributeLabel("l_returnflag"))
    cd.add_label(AttributeLabel("l_linestatus"))
    cd.add_label(cd_mod.MonthLabel("l_shipdate"))
    cd.add_measure(Measure("sum_qty", extract=lambda r: r.l_quantity))
    cd.add_measure(Measure("sum_base_price", extract=lambda r: r.l_extendedprice))
    cd.add_measure(
        Measure("disc_price", extract=lambda r: r.l_extendedprice * (1 - r.l_discount))
    )
    cd.add_measure(
        Measure(
            "charge",
            extract=lambda r: r.l_extendedprice * (1 - r.l_discount) * (1 + r.l_tax),
        )
    )
    board = CuttingBoard(cd, data)

    steps: dict[str, float] = {}
    # the reference DSL uses its own label names (attribute-derived)
    dsl = DSL.replace("a:returnflag", "a:l_returnflag").replace(
        "a:linestatus", "a:l_linestatus"
    )
    t0 = time.perf_counter()
    q1 = UrlQueryBuilder({"q": dsl}, cubedef=cd).parse("q", CubeQuery())
    steps["parse"] = round(time.perf_counter() - t0, 4)
    q1 = q1.add_filter("l_shipdate_month", dt.date(1998, 9, 1), operator="le")

    def run(name: str, q) -> None:
        t = time.perf_counter()
        board.slice(q)
        steps[name] = round(time.perf_counter() - t, 4)

    run("s1_cold", q1)
    run("s2_repeat", q1)
    q3 = q1.add_filter("l_returnflag", "R").remove_axis("l_returnflag")
    run("s3_drill", q3)
    q4 = q3.add_filter("l_linestatus", "F").remove_axis("l_linestatus")
    run("s4_drill2", q4)
    q5 = q1.remove_axis("l_linestatus")
    run("s5_rollup", q5)

    # q07-shaped over customer
    crows = con.execute(
        f"SELECT c_nationkey, c_acctbal FROM '{_pq(sf_dir, 'customer')}'"
    ).fetchall()
    Cust = namedtuple("Cust", "c_nationkey c_acctbal")
    cust = [Cust(*r) for r in crows]
    cd7 = CubeDef()
    cd7.add_label(AttributeLabel("c_nationkey"))
    cd7.add_measure(Measure("min_bal", extract=lambda r: r.c_acctbal, acc=accs.Min))
    cd7.add_measure(Measure("max_bal", extract=lambda r: r.c_acctbal, acc=accs.Max))
    cd7.add_measure(Measure("std_bal", extract=lambda r: r.c_acctbal, acc=accs.StdDev))
    b7 = CuttingBoard(cd7, cust)
    q7 = (
        CubeQuery().add_axis("c_nationkey")
        .add_value("min_bal").add_value("max_bal").add_value("std_bal")
    )
    for name in ("q07_cold", "q07_repeat"):
        t = time.perf_counter()
        b7.slice(q7)
        steps[name] = round(time.perf_counter() - t, 4)

    # q10-shaped over part
    prows = con.execute(
        f"SELECT p_partkey, p_brand, p_size, p_retailprice FROM '{_pq(sf_dir, 'part')}'"
    ).fetchall()
    Part = namedtuple("Part", "p_partkey p_brand p_size p_retailprice")
    part = [Part(*r) for r in prows]
    cd10 = CubeDef()
    cd10.add_label(AttributeLabel("p_brand"))
    cd10.add_label(AttributeLabel("p_size"))
    cd10.add_measure(Measure("n", extract=lambda r: 1, acc=accs.Count))
    cd10.add_measure(Measure("sum_price", extract=lambda r: r.p_retailprice))
    b10 = CuttingBoard(cd10, part)
    q10 = (
        CubeQuery().add_axis("p_brand").add_value("n").add_value("sum_price")
        .add_filter("p_brand", frozenset({"Brand#1", "Brand#2", "Brand#3"}), operator="in")
        .add_filter("p_size", frozenset({1, 2, 3}), operator="ni")
    )
    for name in ("q10_cold", "q10_repeat"):
        t = time.perf_counter()
        b10.slice(q10)
        steps[name] = round(time.perf_counter() - t, 4)

    # q12-shaped: set-algebra filters on an extract-derived tag label
    prows12 = con.execute(
        f"SELECT p_brand, p_name FROM '{_pq(sf_dir, 'part')}'"
    ).fetchall()
    PartN = namedtuple("PartN", "p_brand p_name")
    parts12 = [PartN(*r) for r in prows12]
    cd12 = CubeDef()
    cd12.add_label(AttributeLabel("p_brand"))
    cd12.add_label(Label("tags", extract=lambda r: r.p_name.split(" ")))
    cd12.add_measure(Measure("n", extract=lambda r: 1, acc=accs.Count))
    b12 = CuttingBoard(cd12, parts12)
    q12 = (
        CubeQuery().add_axis("p_brand").add_value("n")
        .add_filter("tags", frozenset({"red", "blue", "green"}), operator="hasany")
        .add_filter("tags", frozenset({"widget"}), operator="hasall")
        .add_filter("tags", frozenset({"bolt", "gear"}), operator="hasnone")
    )
    for name in ("q12_cold", "q12_repeat"):
        t = time.perf_counter()
        b12.slice(q12)
        steps[name] = round(time.perf_counter() - t, 4)

    # q04-shaped: slice + the renderer's order-by-measure sort + top-10
    orows = con.execute(
        f"SELECT o_custkey, o_totalprice FROM '{_pq(sf_dir, 'orders')}'"
    ).fetchall()
    Order = namedtuple("Order", "o_custkey o_totalprice")
    orders = [Order(*r) for r in orows]
    cd4 = CubeDef()
    cd4.add_label(AttributeLabel("o_custkey"))
    cd4.add_measure(Measure("total", extract=lambda r: r.o_totalprice))
    b4 = CuttingBoard(cd4, orders)
    q4 = CubeQuery().add_axis("o_custkey").add_value("total")
    for name in ("q04_cold", "q04_repeat"):
        t = time.perf_counter()
        s4 = b4.slice(q4)
        rows4 = [(lv.value, sub.record["total"].get()) for lv, sub in s4]
        rows4.sort(key=lambda x: (-(x[1] or 0), x[0]))
        top = rows4[:10]
        steps[name] = round(time.perf_counter() - t, 4)
        assert len(top) == 10

    return {
        "load_seconds": load_s,
        "rows": len(data),
        "steps": steps,
        "warm_p50": round(statistics.median(steps[s] for s in WARM_STEPS), 4),
    }


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out = {"sf_dir": sf_dir, "engine": engine_nav(sf_dir)}
    if "--skip-reference" not in sys.argv:
        out["reference"] = reference_nav(sf_dir)
    print(json.dumps(out, separators=(",", ":")), flush=True)


if __name__ == "__main__":
    main()
