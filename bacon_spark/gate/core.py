"""Reference-parity cube core: aggregation, filters, dates, pivot,
navigation, paging, window functions, set ops, star queries
(SURVEY §2.2–§2.9).

Split from the original single-module query inventory (r4); the
registration registry and helpers live in gate/_base.py.
"""

from ._base import *  # noqa: F401,F403


@query(
    "q01_pricing_summary",
    """
    SELECT l_returnflag AS returnflag, l_linestatus AS linestatus,
           round(cast(sum(cast(l_quantity as decimal(38,4))) as double), 2) AS sum_qty,
           round(cast(sum(cast(l_extendedprice as decimal(38,4))) as double), 2) AS sum_base_price,
           round(cast(sum(cast(l_extendedprice*(1-l_discount) as decimal(38,6))) as double), 2) AS sum_disc_price,
           round(cast(sum(cast(l_extendedprice*(1-l_discount)*(1+l_tax) as decimal(38,6))) as double), 2) AS sum_charge,
           round(cast(sum(cast(l_quantity as decimal(38,4))) as double) / count(*), 6) AS avg_qty,
           count(*) AS count_order
    FROM lineitem
    WHERE cast(l_shipdate as date) <= DATE '1998-09-01'
    GROUP BY 1, 2
    """,
)
def q01_pricing_summary(spark, sf_dir):
    """Flagship: TPC-H Q1-shaped pricing summary through the cube engine —
    conjunctive filter + multi-measure hash aggregation (the reference's
    core operator, /root/reference/bacon/cutting.py:87-116)."""
    cd = CubeDef("lineitem")
    cd.add_label(Label("returnflag", "l_returnflag"))
    cd.add_label(Label("linestatus", "l_linestatus"))
    cd.add_label(DayLabel("shipdate", "l_shipdate"))
    cd.add_measure(Measure("sum_qty", dec("l_quantity"), acc=Sum()))
    cd.add_measure(Measure("sum_base_price", dec("l_extendedprice"), acc=Sum()))
    cd.add_measure(Measure("sum_disc_price", dec("l_extendedprice*(1-l_discount)", 6), acc=Sum()))
    cd.add_measure(Measure("sum_charge", dec("l_extendedprice*(1-l_discount)*(1+l_tax)", 6), acc=Sum()))
    cd.add_measure(Measure("avg_qty", dec("l_quantity"), acc=Average()))
    cd.add_measure(Measure("count_order", "l_quantity", acc=Count()))
    q = (
        CubeQuery()
        .add_axis("returnflag")
        .add_axis("linestatus")
        .add_value("sum_qty")
        .add_value("sum_base_price")
        .add_value("sum_disc_price")
        .add_value("sum_charge")
        .add_value("avg_qty")
        .add_value("count_order")
        .add_filter("shipdate", "le", dt.date(1998, 9, 1))
    )
    df = board(cd, _read(spark, sf_dir, "lineitem")).slice(q).to_df()
    return finalize(
        df,
        {"sum_qty": 2, "sum_base_price": 2, "sum_disc_price": 2, "sum_charge": 2, "avg_qty": 6},
    )


@query(
    "q02_revenue_by_region_nation",
    """
    SELECT r.r_name AS region, n.n_name AS nation,
           round(cast(sum(cast(l.l_extendedprice*(1-l.l_discount) as decimal(38,6))) as double), 2) AS revenue,
           count(*) AS n_items
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY 1, 2
    """,
)
def q02_revenue_by_region_nation(spark, sf_dir):
    """Star-schema join (broadcast dims) + cube over the denormalized fact
    — bacon's pre-joined dataset re-expressed as declared joins (SURVEY
    §2.4)."""
    from ..sources.star import StarTables, fact_for_cube

    cd = CubeDef("sales")
    cd.add_label(Label("region"))
    cd.add_label(Label("nation", child_of="region"))
    cd.add_measure(Measure("revenue", dec("l_extendedprice*(1-l_discount)", 6), acc=Sum()))
    cd.add_measure(Measure("n_items", "l_orderkey", acc=Count()))
    q = CubeQuery().add_axis("region").add_axis("nation").add_value("revenue").add_value("n_items")
    # join culling: part/supplier joins are dropped (query never touches them)
    fact = fact_for_cube(StarTables(spark, sf_dir), cd, q)
    df = board(cd, fact).slice(q).to_df()
    return finalize(df, {"revenue": 2})


@query(
    "q03_orders_by_month",
    """
    SELECT cast(date_trunc('month', o_orderdate) as date) AS order_month,
           round(cast(sum(cast(o_totalprice as decimal(38,4))) as double), 2) AS total,
           count(*) AS n_orders
    FROM orders
    GROUP BY 1
    """,
)
def q03_orders_by_month(spark, sf_dir):
    """MonthLabel date-hierarchy axis (SURVEY §1.2 date family)."""
    cd = CubeDef("orders")
    cd.add_label(MonthLabel("order_month", "o_orderdate"))
    cd.add_measure(Measure("total", dec("o_totalprice"), acc=Sum()))
    cd.add_measure(Measure("n_orders", "o_orderkey", acc=Count()))
    q = CubeQuery().add_axis("order_month").add_value("total").add_value("n_orders")
    df = board(cd, _read(spark, sf_dir, "orders")).slice(q).to_df()
    return finalize(df, {"total": 2})


@query(
    "q04_top_customers",
    """
    SELECT o_custkey AS custkey,
           round(cast(sum(cast(o_totalprice as decimal(38,4))) as double), 2) AS total
    FROM orders
    GROUP BY 1
    ORDER BY total DESC, custkey ASC
    LIMIT 10
    """,
)
def q04_top_customers(spark, sf_dir):
    """Order-by-measure (desc, None-as-0) + top-k limit (SURVEY §2.6); axis
    sort after the measure gives the deterministic tiebreak."""
    cd = CubeDef("orders")
    cd.add_label(IntLabel("custkey", "o_custkey"))
    cd.add_measure(Measure("total", dec("o_totalprice"), acc=Sum()))
    q = (
        CubeQuery()
        .add_axis("custkey")
        .add_value("total")
        .set_order("total", descending=True)
    )
    df = board(cd, _read(spark, sf_dir, "orders")).slice(q).to_df().limit(10)
    return finalize(df, {"total": 2})


@query(
    "q05_group_accumulator",
    """
    SELECT n.n_name AS nation,
           CASE WHEN count(DISTINCT r.r_name) + max(CASE WHEN r.r_name IS NULL THEN 1 ELSE 0 END) = 1
                THEN min(r.r_name) END AS region_group,
           CASE WHEN count(DISTINCT c.c_mktsegment) + max(CASE WHEN c.c_mktsegment IS NULL THEN 1 ELSE 0 END) = 1
                THEN min(c.c_mktsegment) END AS segment_group,
           count(*) AS n_customers
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY 1
    """,
)
def q05_group_accumulator(spark, sf_dir):
    """Group accumulator: single-distinct-else-null, null counts as a value
    (/root/reference/bacon/accumulators.py:259-296). region_group is always
    single (hierarchy), segment_group is Inconsistent -> null."""
    c = _read(spark, sf_dir, "customer")
    n = _read(spark, sf_dir, "nation").withColumnRenamed("n_name", "nation")
    r = _read(spark, sf_dir, "region")
    df = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    cd = CubeDef("cust")
    cd.add_label(Label("nation"))
    cd.add_measure(Measure("region_group", "r_name", acc=Group()))
    cd.add_measure(Measure("segment_group", "c_mktsegment", acc=Group()))
    cd.add_measure(Measure("n_customers", "c_custkey", acc=Count()))
    q = (
        CubeQuery()
        .add_axis("nation")
        .add_value("region_group")
        .add_value("segment_group")
        .add_value("n_customers")
    )
    return board(cd, df).slice(q).to_df()


@query(
    "q06_discount_ratio",
    """
    SELECT l_returnflag AS returnflag,
           round(cast(sum(cast(l_extendedprice*l_discount as decimal(38,8))) as double)
                 / nullif(cast(sum(cast(l_extendedprice as decimal(38,4))) as double), 0), 8) AS discount_rate
    FROM lineitem
    GROUP BY 1
    """,
)
def q06_discount_ratio(spark, sf_dir):
    """RatioSum accumulator: sum(num)/sum(den), zero/null den -> null
    (/root/reference/bacon/accumulators.py:355-393)."""
    cd = CubeDef("li")
    cd.add_label(Label("returnflag", "l_returnflag"))
    cd.add_measure(
        Measure(
            "discount_rate",
            F.lit(None),
            acc=RatioSum(dec("l_extendedprice*l_discount", 8), dec("l_extendedprice", 4)),
        )
    )
    q = CubeQuery().add_axis("returnflag").add_value("discount_rate")
    df = board(cd, _read(spark, sf_dir, "lineitem")).slice(q).to_df()
    return df.select("returnflag", F.round(F.col("discount_rate"), 8).alias("discount_rate"))


@query(
    "q07_minmax_stddev",
    """
    SELECT c_nationkey AS nationkey,
           min(c_acctbal) AS min_bal, max(c_acctbal) AS max_bal,
           round(sqrt((cast(sum(cast(c_acctbal*c_acctbal as decimal(38,8))) as double)
                       - cast(sum(cast(c_acctbal as decimal(38,4))) as double)
                         * cast(sum(cast(c_acctbal as decimal(38,4))) as double) / count(c_acctbal))
                      / (count(c_acctbal) - 1)), 6) AS std_bal
    FROM customer
    GROUP BY 1
    """,
)
def q07_minmax_stddev(spark, sf_dir):
    """Min/Max/StdDev accumulators (/root/reference/bacon/accumulators.py:79-134,193-231).
    StdDev is computed from exact decimal moments on both sides so the
    doubles agree bit-for-bit (Welford vs textbook differ in ulps)."""
    cd = CubeDef("cust")
    cd.add_label(IntLabel("nationkey", "c_nationkey"))
    cd.add_measure(Measure("min_bal", "c_acctbal", acc=Min()))
    cd.add_measure(Measure("max_bal", "c_acctbal", acc=Max()))
    q = CubeQuery().add_axis("nationkey").add_value("min_bal").add_value("max_bal")
    df = board(cd, _read(spark, sf_dir, "customer")).slice(q).to_df()
    moments = (
        _read(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.sum(F.expr(dec("c_acctbal*c_acctbal", 8))).cast("double").alias("_s2"),
            F.sum(F.expr(dec("c_acctbal", 4))).cast("double").alias("_s1"),
            F.count("c_acctbal").alias("_n"),
        )
        .select(
            "nationkey",
            F.round(
                F.sqrt((F.col("_s2") - F.col("_s1") * F.col("_s1") / F.col("_n")) / (F.col("_n") - 1)),
                6,
            ).alias("std_bal"),
        )
    )
    return df.join(moments, "nationkey")


@query(
    "q08_count_distinct",
    """
    SELECT l_returnflag AS returnflag,
           count(DISTINCT l_suppkey) AS n_suppliers,
           count(DISTINCT l_partkey) AS n_parts
    FROM lineitem
    GROUP BY 1
    """,
)
def q08_count_distinct(spark, sf_dir):
    """Exact distinct aggregation (engine extension of Group/Union,
    SURVEY §2.3)."""
    cd = CubeDef("li")
    cd.add_label(Label("returnflag", "l_returnflag"))
    cd.add_measure(Measure("n_suppliers", "l_suppkey", acc=CountDistinct()))
    cd.add_measure(Measure("n_parts", "l_partkey", acc=CountDistinct()))
    q = CubeQuery().add_axis("returnflag").add_value("n_suppliers").add_value("n_parts")
    return board(cd, _read(spark, sf_dir, "lineitem")).slice(q).to_df()


@query(
    "q09_filter_scalar_ops",
    """
    SELECT l_linestatus AS linestatus, count(*) AS n,
           round(cast(sum(cast(l_quantity as decimal(38,4))) as double), 2) AS sum_qty
    FROM lineitem
    WHERE l_quantity > 10 AND l_quantity <= 45 AND l_discount >= 0.02
          AND l_discount < 0.08 AND l_returnflag <> 'A'
    GROUP BY 1
    """,
)
def q09_filter_scalar_ops(spark, sf_dir):
    """gt/le/ge/lt/ne conjunctive filters pushed to the parquet scan
    (/root/reference/bacon/cutting.py:846-852; ne passes nulls — no nulls
    in this fixture so SQL <> is the exact oracle)."""
    cd = CubeDef("li")
    cd.add_label(Label("linestatus", "l_linestatus"))
    cd.add_label(Label("returnflag", "l_returnflag"))
    cd.add_label(Label("discount", "l_discount"))
    cd.add_label(Label("quantity", "l_quantity"))
    cd.add_measure(Measure("n", "l_quantity", acc=Count()))
    cd.add_measure(Measure("sum_qty", dec("l_quantity"), acc=Sum()))
    q = (
        CubeQuery()
        .add_axis("linestatus")
        .add_value("n")
        .add_value("sum_qty")
        .add_filter("quantity", "gt", 10)
        .add_filter("quantity", "le", 45)
        .add_filter("discount", "ge", 0.02)
        .add_filter("discount", "lt", 0.08)
        .add_filter("returnflag", "ne", "A")
    )
    df = board(cd, _read(spark, sf_dir, "lineitem")).slice(q).to_df()
    return finalize(df, {"sum_qty": 2})


@query(
    "q10_filter_in_ni",
    """
    SELECT p_brand AS brand, count(*) AS n,
           round(cast(sum(cast(p_retailprice as decimal(38,4))) as double), 2) AS sum_price
    FROM part
    WHERE p_brand IN ('Brand#1', 'Brand#2', 'Brand#3')
          AND p_size NOT IN (1, 2, 3)
    GROUP BY 1
    """,
)
def q10_filter_in_ni(spark, sf_dir):
    """in/ni membership filters with frozenset values
    (/root/reference/bacon/cutting.py:776-782)."""
    cd = CubeDef("part")
    cd.add_label(Label("brand", "p_brand"))
    cd.add_label(IntLabel("size", "p_size"))
    cd.add_measure(Measure("n", "p_partkey", acc=Count()))
    cd.add_measure(Measure("sum_price", dec("p_retailprice"), acc=Sum()))
    q = (
        CubeQuery()
        .add_axis("brand")
        .add_value("n")
        .add_value("sum_price")
        .add_filter("brand", "in", frozenset({"Brand#1", "Brand#2", "Brand#3"}))
        .add_filter("size", "ni", frozenset({1, 2, 3}))
    )
    df = board(cd, _read(spark, sf_dir, "part")).slice(q).to_df()
    return finalize(df, {"sum_price": 2})


@query(
    "q11_filter_regex",
    """
    SELECT p_name AS pname, count(*) AS n
    FROM part
    WHERE regexp_matches(p_name, 'red|blue') AND NOT regexp_matches(p_name, 'bolt$')
    GROUP BY 1
    """,
)
def q11_filter_regex(spark, sf_dir):
    """match/nmatch regex filters, null-safe
    (/root/reference/bacon/cutting.py:842-844,869-870)."""
    cd = CubeDef("part")
    cd.add_label(Label("pname", "p_name"))
    cd.add_measure(Measure("n", "p_partkey", acc=Count()))
    q = (
        CubeQuery()
        .add_axis("pname")
        .add_value("n")
        .add_filter("pname", "match", "red|blue")
        .add_filter("pname", "nmatch", "bolt$")
    )
    return board(cd, _read(spark, sf_dir, "part")).slice(q).to_df()


@query(
    "q12_set_filters",
    """
    WITH tagged AS (
      SELECT p_brand, string_split(p_name, ' ') AS tags FROM part
    )
    SELECT p_brand AS brand, count(*) AS n
    FROM tagged
    WHERE list_has_any(tags, ['red', 'blue', 'green'])
      AND list_has_all(tags, ['widget'])
      AND NOT list_has_any(tags, ['bolt', 'gear'])
    GROUP BY 1
    """,
)
def q12_set_filters(spark, sf_dir):
    """Set-algebra filter ops over array<string> (hasany + hasall +
    hasnone; /root/reference/bacon/cutting.py:799-870) on a derived
    SetLabel column."""
    df = _read(spark, sf_dir, "part").withColumn("tags", F.split("p_name", " "))
    cd = CubeDef("part")
    cd.add_label(Label("brand", "p_brand"))
    cd.add_label(SetLabel("tags"))
    cd.add_measure(Measure("n", "p_partkey", acc=Count()))
    q = (
        CubeQuery()
        .add_axis("brand")
        .add_value("n")
        .add_filter("tags", "hasany", frozenset({"red", "blue", "green"}))
        .add_filter("tags", "hasall", frozenset({"widget"}))
        .add_filter("tags", "hasnone", frozenset({"bolt", "gear"}))
    )
    return board(cd, df).slice(q).to_df()


@query(
    "q13_union_accumulator",
    """
    WITH tagged AS (
      SELECT p_brand, list_filter(string_split(p_type, ' '), x -> x IS NOT NULL AND x <> '') AS tags
      FROM part
    )
    SELECT p_brand AS brand,
           array_to_string(list_sort(list_distinct(flatten(list(tags)))), ',') AS tag_union,
           max(CASE WHEN len(tags) = 0 THEN 1 ELSE 0 END) = 1 AS included_empty
    FROM tagged
    GROUP BY 1
    """,
)
def q13_union_accumulator(spark, sf_dir):
    """Union accumulator: set union + saw-empty flag
    (/root/reference/bacon/accumulators.py:53-76), exposed as two flat
    columns for the oracle.

    The set-valued column is emitted as a sorted comma-joined STRING, not
    array<string>: the driver's canonicalizer sorts via pandas, which
    cannot factorize list cells (round-1 q13 'unhashable type: list')."""
    df = _read(spark, sf_dir, "part").withColumn("tags", F.split("p_type", " "))
    cd = CubeDef("part")
    cd.add_label(Label("brand", "p_brand"))
    cd.add_measure(Measure("u", "tags", acc=Union()))
    q = CubeQuery().add_axis("brand").add_value("u")
    out = board(cd, df).slice(q).to_df()
    return out.select(
        "brand",
        F.array_join(F.array_sort("u.values"), ",").alias("tag_union"),
        F.col("u.included_empty").alias("included_empty"),
    )


@query(
    "q14_date_parts",
    """
    SELECT cast(date_trunc('year', o_orderdate) as date) AS order_year,
           cast(quarter(o_orderdate) as int) AS order_quarternum,
           cast(month(o_orderdate) as int) AS order_monthnum,
           round(cast(sum(cast(o_totalprice as decimal(38,4))) as double), 2) AS total
    FROM orders
    GROUP BY 1, 2, 3
    """,
)
def q14_date_parts(spark, sf_dir):
    """Year / QuarterNum / MonthOfYear labels (SQL semantics per SURVEY §7
    for the reference's QuarterNum classify bug)."""
    cd = CubeDef("orders")
    cd.add_label(YearLabel("order_year", "o_orderdate"))
    cd.add_label(QuarterNumLabel("order_quarternum", "o_orderdate"))
    cd.add_label(MonthOfYearLabel("order_monthnum", "o_orderdate"))
    cd.add_measure(Measure("total", dec("o_totalprice"), acc=Sum()))
    q = (
        CubeQuery()
        .add_axis("order_year")
        .add_axis("order_quarternum")
        .add_axis("order_monthnum")
        .add_value("total")
    )
    df = board(cd, _read(spark, sf_dir, "orders")).slice(q).to_df()
    return finalize(df, {"total": 2})


@query(
    "q15_week_weekday_doy",
    """
    SELECT cast(date_trunc('week', l_shipdate) as date) AS ship_week,
           cast(isodow(l_shipdate) as int) AS ship_weekday,
           cast(dayofyear(l_shipdate) as int) AS ship_doy,
           count(*) AS n
    FROM lineitem
    WHERE cast(l_shipdate as date) >= DATE '1995-01-01' AND cast(l_shipdate as date) < DATE '1995-03-01'
    GROUP BY 1, 2, 3
    """,
)
def q15_week_weekday_doy(spark, sf_dir):
    """Week / ISO-weekday (Spark dayofweek remap, SURVEY §1.2) / DOY labels
    with a day-range filter."""
    cd = CubeDef("li")
    cd.add_label(WeekLabel("ship_week", "l_shipdate"))
    cd.add_label(WeekdayLabel("ship_weekday", "l_shipdate"))
    cd.add_label(DOYLabel("ship_doy", "l_shipdate"))
    cd.add_label(DayLabel("ship_day", "l_shipdate"))
    cd.add_measure(Measure("n", "l_orderkey", acc=Count()))
    q = (
        CubeQuery()
        .add_axis("ship_week")
        .add_axis("ship_weekday")
        .add_axis("ship_doy")
        .add_value("n")
        .add_filter("ship_day", "ge", dt.date(1995, 1, 1))
        .add_filter("ship_day", "lt", dt.date(1995, 3, 1))
    )
    return board(cd, _read(spark, sf_dir, "lineitem")).slice(q).to_df()


@query(
    "q16_events_by_hour",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
           event_type,
           count(*) AS n,
           round(cast(sum(cast(value as decimal(38,4))) as double), 2) AS sum_value
    FROM events
    WHERE ts < TIMESTAMP '2024-01-03 00:00:00'
    GROUP BY 1, 2
    """,
)
def q16_events_by_hour(spark, sf_dir):
    """HourLabel truncation over the events table; key rendered as a string
    to keep timestamp representations engine-neutral."""
    cd = CubeDef("events")
    cd.add_label(HourLabel("hour", "ts"))
    cd.add_label(Label("event_type"))
    cd.add_label(Label("ts"))
    cd.add_measure(Measure("n", "event_id", acc=Count()))
    cd.add_measure(Measure("sum_value", dec("value"), acc=Sum()))
    q = (
        CubeQuery()
        .add_axis("hour")
        .add_axis("event_type")
        .add_value("n")
        .add_value("sum_value")
        .add_filter("ts", "lt", dt.datetime(2024, 1, 3))
    )
    df = board(cd, _read(spark, sf_dir, "events")).slice(q).to_df()
    df = df.withColumn("hour", F.date_format("hour", "yyyy-MM-dd HH:mm:ss"))
    return finalize(df, {"sum_value": 2})


@query(
    "q17_pivot_returnflag",
    """
    SELECT l_linestatus AS linestatus,
           round(cast(sum(CASE WHEN l_returnflag = 'A' THEN cast(l_quantity as decimal(38,4)) END) as double), 2) AS qty_A,
           round(cast(sum(CASE WHEN l_returnflag = 'N' THEN cast(l_quantity as decimal(38,4)) END) as double), 2) AS qty_N,
           round(cast(sum(CASE WHEN l_returnflag = 'R' THEN cast(l_quantity as decimal(38,4)) END) as double), 2) AS qty_R
    FROM lineitem
    GROUP BY 1
    """,
)
def q17_pivot_returnflag(spark, sf_dir):
    """Pivot: trailing axis cross-tabulated into columns
    (/root/reference/bacon/observers/tables.py:325-508) via Spark's native
    groupBy().pivot() with explicit values (no extra scan for value
    discovery)."""
    df = (
        _read(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_linestatus").alias("linestatus"))
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(F.sum(F.expr(dec("l_quantity"))))
    )
    for v in ["A", "N", "R"]:
        df = df.withColumnRenamed(v, f"qty_{v}")
    return finalize(df, {f"qty_{v}": 2 for v in ["A", "N", "R"]})


@query(
    "q18_rollup_totals",
    """
    SELECT coalesce(r.r_name, '(all)') AS region,
           coalesce(n.n_name, '(all)') AS nation,
           cast(grouping(r.r_name)*2 + grouping(n.n_name) as int) AS lvl,
           round(cast(sum(cast(s.s_acctbal as decimal(38,4))) as double), 2) AS total_bal
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP(r.r_name, n.n_name)
    """,
)
def q18_rollup_totals(spark, sf_dir):
    """Totals rows via native rollup + grouping() — the Spark-idiomatic form
    of the reference's accumulator-merge totals
    (/root/reference/bacon/observers/tables.py:285-315)."""
    s = _read(spark, sf_dir, "supplier")
    n = _read(spark, sf_dir, "nation")
    r = _read(spark, sf_dir, "region")
    joined = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    df = (
        joined.rollup("r_name", "n_name")
        .agg(
            (F.grouping("r_name") * 2 + F.grouping("n_name")).cast("int").alias("lvl"),
            F.sum(F.expr(dec("s_acctbal"))).alias("total_bal"),
        )
        .select(
            F.coalesce("r_name", F.lit("(all)")).alias("region"),
            F.coalesce("n_name", F.lit("(all)")).alias("nation"),
            "lvl",
            "total_bal",
        )
    )
    return finalize(df, {"total_bal": 2})


@query(
    "q19_pagination",
    """
    SELECT * FROM (
      SELECT p_brand AS brand, p_type AS ptype, count(*) AS n,
             round(cast(sum(cast(p_retailprice as decimal(38,4))) as double), 2) AS sum_price
      FROM part
      GROUP BY 1, 2
      ORDER BY n DESC, brand ASC, ptype ASC
      LIMIT 20 OFFSET 40
    ) t
    """,
)
def q19_pagination(spark, sf_dir):
    """limit/offset pagination pushdown (SURVEY §2.6; reference pages via
    list slices / SQL LIMIT-OFFSET, /root/reference/bacon/sql.py:100-108)."""
    cd = CubeDef("part")
    cd.add_label(Label("brand", "p_brand"))
    cd.add_label(Label("ptype", "p_type"))
    cd.add_measure(Measure("n", "p_partkey", acc=Count()))
    cd.add_measure(Measure("sum_price", dec("p_retailprice"), acc=Sum()))
    q = (
        CubeQuery()
        .add_axis("brand")
        .add_axis("ptype")
        .add_value("n")
        .add_value("sum_price")
        .set_order("n", descending=True)
    )
    df = board(cd, _read(spark, sf_dir, "part")).slice(q).to_df().offset(40).limit(20)
    return finalize(df, {"sum_price": 2})


@query(
    "q20_drilldown",
    """
    SELECT cast(date_trunc('month', o.o_orderdate) as date) AS order_month,
           round(cast(sum(cast(l.l_extendedprice*(1-l.l_discount) as decimal(38,6))) as double), 2) AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'AMERICA' AND o.o_orderstatus = 'F'
    GROUP BY 1
    """,
)
def q20_drilldown(spark, sf_dir):
    """Drill-down: eq-filter on an axis value + axis removal
    (/root/reference/bacon/cubenav.py:164-174), over the star fact."""
    cd = CubeDef("sales")
    cd.add_label(Label("region"))
    cd.add_label(Label("orderstatus", "o_orderstatus"))
    cd.add_label(MonthLabel("order_month", "o_orderdate"))
    cd.add_measure(Measure("revenue", dec("l_extendedprice*(1-l_discount)", 6), acc=Sum()))
    q0 = (
        CubeQuery()
        .add_axis("region")
        .add_axis("order_month")
        .add_value("revenue")
        .add_filter("orderstatus", "eq", "F")
    )
    from ..sources.star import StarTables, fact_for_cube

    # drill: filter region='AMERICA', drop the region axis
    q1 = q0.add_filter("region", "eq", "AMERICA").remove_axis("region")
    df = board(cd, fact_for_cube(StarTables(spark, sf_dir), cd, q1)).slice(q1).to_df()
    return finalize(df, {"revenue": 2})


@query(
    "q21_events_json",
    """
    SELECT event_type, cast(json_extract_string(props, '$.k') as int) % 10 AS k_mod,
           count(*) AS n
    FROM events
    GROUP BY 1, 2
    """,
)
def q21_events_json(spark, sf_dir):
    """JSON scalar functions over the events props column (engine extension
    — absent in the reference, free in Spark; SURVEY §2.9)."""
    df = (
        _read(spark, sf_dir, "events")
        .select(
            "event_type",
            (F.get_json_object("props", "$.k").cast("int") % 10).alias("k_mod"),
        )
        .groupBy("event_type", "k_mod")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return df


@query(
    "q34_topk_per_group",
    """
    SELECT brand, pname, revenue, rk FROM (
      SELECT p.p_brand AS brand, p.p_name AS pname,
             round(cast(sum(cast(l.l_extendedprice*(1-l.l_discount) as decimal(38,6))) as double), 2) AS revenue,
             cast(row_number() OVER (PARTITION BY p.p_brand
                 ORDER BY round(cast(sum(cast(l.l_extendedprice*(1-l.l_discount) as decimal(38,6))) as double), 2) DESC,
                          p.p_name ASC) as int) AS rk
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY 1, 2
    ) t WHERE rk <= 3
    """,
)
def q34_topk_per_group(spark, sf_dir):
    """Top-k per group via row_number window (SURVEY §2.5: window functions
    absent in the reference, first-class here).

    Plan: pre-aggregate lineitem by the *integer* l_partkey before touching
    part, so the big shuffle carries (int, decimal) rows instead of two
    part-description strings per lineitem; the broadcast join and the
    (brand, pname) re-aggregation then run over ~|part| rows, not
    ~|lineitem|. Decimal sums re-sum exactly, so results are bit-identical
    to the direct GROUP BY. At 100 TB this is the difference between
    shuffling the fact table wide vs narrow."""
    from pyspark.sql import Window

    li = _read(spark, sf_dir, "lineitem")
    p = _read(spark, sf_dir, "part")
    per_part = li.groupBy("l_partkey").agg(
        F.sum(F.expr(dec("l_extendedprice*(1-l_discount)", 6))).alias("_rev")
    )
    rev = (
        per_part.join(F.broadcast(p), per_part.l_partkey == p.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"), F.col("p_name").alias("pname"))
        .agg(F.round(F.sum("_rev").cast("double"), 2).alias("revenue"))
    )
    w = Window.partitionBy("brand").orderBy(F.col("revenue").desc(), F.col("pname").asc())
    return rev.withColumn("rk", F.row_number().over(w).cast("int")).filter(F.col("rk") <= 3)


@query(
    "q35_raw_rows",
    """
    SELECT * FROM (
      SELECT o_orderkey AS orderkey, o_custkey AS custkey, o_totalprice AS totalprice
      FROM orders
      WHERE o_orderstatus = 'O' AND o_totalprice > 100000
      ORDER BY orderkey
      LIMIT 25 OFFSET 10
    ) t
    """,
)
def q35_raw_rows(spark, sf_dir):
    """Raw-rows sink: unaggregated filtered records with limit/offset
    paging through CuttingBoard.rows (reference RowsProxy,
    /root/reference/bacon/sql.py:340-370)."""
    cd = CubeDef("orders")
    cd.add_label(Label("orderstatus", "o_orderstatus"))
    cd.add_label(Label("totalprice", "o_totalprice"))
    q = (
        CubeQuery()
        .add_filter("orderstatus", "eq", "O")
        .add_filter("totalprice", "gt", 100000)
    )
    b = board(cd, _read(spark, sf_dir, "orders").orderBy("o_orderkey"))
    rows = b.rows(q, limit=25, offset=10)
    return rows.select(
        F.col("o_orderkey").alias("orderkey"),
        F.col("o_custkey").alias("custkey"),
        F.col("o_totalprice").alias("totalprice"),
    )


@query(
    "q36_labeled_acc",
    """
    SELECT c_nationkey AS nationkey,
           CASE WHEN count(DISTINCT c_mktsegment)
                     + max(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END) <= 1
                THEN round(cast(sum(cast(c_acctbal as decimal(38,4))) as double), 2) END AS guarded_bal,
           count(*) AS n
    FROM customer
    WHERE c_custkey <= 200
    GROUP BY 1
    """,
)
def q36_labeled_acc(spark, sf_dir):
    """LabeledAcc: inner Sum guarded by a context label — groups spanning
    more than one mktsegment yield null (Inconsistent)
    (/root/reference/bacon/accumulators.py:299-352)."""
    from ..accumulators import LabeledAcc

    cd = CubeDef("cust")
    cd.add_label(IntLabel("nationkey", "c_nationkey"))
    cd.add_label(IntLabel("custkey", "c_custkey"))
    cd.add_measure(
        Measure("guarded_bal", dec("c_acctbal"), acc=LabeledAcc("c_mktsegment", Sum()))
    )
    cd.add_measure(Measure("n", "c_custkey", acc=Count()))
    q = (
        CubeQuery()
        .add_axis("nationkey")
        .add_value("guarded_bal")
        .add_value("n")
        .add_filter("custkey", "le", 200)
    )
    df = board(cd, _read(spark, sf_dir, "customer")).slice(q).to_df()
    return finalize(df, {"guarded_bal": 2})


@query(
    "q37_set_ops_extended",
    """
    WITH tagged AS (
      SELECT p_partkey, p_brand, list_sort(list_distinct(string_split(p_name, ' '))) AS tags
      FROM part
    )
    SELECT p_brand AS brand,
           count(CASE WHEN tags = ['red', 'widget'] THEN 1 END) AS n_equals,
           count(CASE WHEN list_has_all(['red','widget','blue','bolt'], tags) THEN 1 END) AS n_subset,
           count(CASE WHEN NOT list_has_all(tags, ['red','widget']) THEN 1 END) AS n_notsuperset
    FROM tagged
    GROUP BY 1
    """,
)
def q37_set_ops_extended(spark, sf_dir):
    """Remaining set algebra: hasonly/equals, subsetof, notsupersetof
    (/root/reference/bacon/cutting.py:799-870) as conditional counts."""
    from ..filters import build_predicate

    df = _read(spark, sf_dir, "part").withColumn("tags", F.split("p_name", " "))
    tags = F.col("tags")
    eq_pred = build_predicate(tags, "equals", frozenset({"red", "widget"}))
    sub_pred = build_predicate(tags, "subsetof", frozenset({"red", "widget", "blue", "bolt"}))
    nsup_pred = build_predicate(tags, "notsupersetof", frozenset({"red", "widget"}))
    return df.groupBy(F.col("p_brand").alias("brand")).agg(
        F.count(F.when(eq_pred, 1)).alias("n_equals"),
        F.count(F.when(sub_pred, 1)).alias("n_subset"),
        F.count(F.when(nsup_pred, 1)).alias("n_notsuperset"),
    )


@query(
    "q38_hidden_values",
    """
    SELECT c_mktsegment AS segment,
           round(cast(sum(cast(o_totalprice as decimal(38,4))) as double)
                 / count(*), 6) AS avg_order_value
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1
    """,
)
def q38_hidden_values(spark, sf_dir):
    """Hidden-but-computed values: total and count are computed (feeding
    the visible ratio) but only the visible column is selected
    (/root/reference/bacon/cutting.py:752-770)."""
    o = _read(spark, sf_dir, "orders")
    c = _read(spark, sf_dir, "customer")
    joined = o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
    cd = CubeDef("oc")
    cd.add_label(Label("segment", "c_mktsegment"))
    cd.add_measure(Measure("total", dec("o_totalprice"), acc=Sum()))
    cd.add_measure(Measure("n", "o_orderkey", acc=Count()))
    cd.add_measure(Measure("avg_order_value", dec("o_totalprice"), acc=Average()))
    q = (
        CubeQuery()
        .add_axis("segment")
        .add_value("total", visible=False)
        .add_value("n", visible=False)
        .add_value("avg_order_value")
    )
    sl = board(cd, joined).slice(q)
    # renderers select only visible values; mirror that here
    out = sl.to_df().select("segment", *sl.query.visible_values)
    return out.select("segment", F.round(F.col("avg_order_value"), 6).alias("avg_order_value"))


@query(
    "q39_cube_lattice",
    """
    SELECT coalesce(l_returnflag, '(all)') AS returnflag,
           coalesce(l_linestatus, '(all)') AS linestatus,
           cast(grouping(l_returnflag)*2 + grouping(l_linestatus) as int) AS lvl,
           round(cast(sum(cast(l_quantity as decimal(38,4))) as double), 2) AS sum_qty,
           count(*) AS n
    FROM lineitem
    GROUP BY CUBE(l_returnflag, l_linestatus)
    """,
)
def q39_cube_lattice(spark, sf_dir):
    """Full cube lattice in one pass (operators/lattice.py — the
    Spark-idiomatic upgrade of the reference's roll-up reuse,
    /root/reference/bacon/cutting.py:336-522): every grain is exact even
    for non-additive accumulators because finished values are stored per
    grouping set."""
    from ..operators.lattice import CubeLattice

    cd = CubeDef("li")
    cd.add_label(Label("returnflag", "l_returnflag"))
    cd.add_label(Label("linestatus", "l_linestatus"))
    cd.add_measure(Measure("sum_qty", dec("l_quantity"), acc=Sum()))
    cd.add_measure(Measure("n", "l_orderkey", acc=Count()))
    lat = CubeLattice(
        cd,
        _read(spark, sf_dir, "lineitem"),
        axes=("returnflag", "linestatus"),
        values=("sum_qty", "n"),
        persist=False,
    )
    out = lat.lattice.select(
        F.coalesce("returnflag", F.lit("(all)")).alias("returnflag"),
        F.coalesce("linestatus", F.lit("(all)")).alias("linestatus"),
        F.col("_gid").cast("int").alias("lvl"),
        "sum_qty",
        "n",
    )
    return finalize(out, {"sum_qty": 2})


@query(
    "q41_iso_date_parts",
    """
    SELECT cast(isoyear(o_orderdate) as int) AS iso_year,
           cast(weekofyear(o_orderdate) as int) AS iso_week,
           cast(dayofmonth(o_orderdate) as int) AS monthday,
           count(*) AS n
    FROM orders
    WHERE cast(o_orderdate as date) >= DATE '1996-12-20'
      AND cast(o_orderdate as date) < DATE '1997-01-10'
    GROUP BY 1, 2, 3
    """,
)
def q41_iso_date_parts(spark, sf_dir):
    """ISO year / ISO week number / monthday labels across a year boundary
    (where isoyear != year — the interesting case, SURVEY §1.2)."""
    cd = CubeDef("orders")
    cd.add_label(ISOYearLabel("iso_year", "o_orderdate"))
    cd.add_label(ISOWeekNumLabel("iso_week", "o_orderdate"))
    cd.add_label(MonthdayLabel("monthday", "o_orderdate"))
    cd.add_label(DayLabel("order_day", "o_orderdate"))
    cd.add_measure(Measure("n", "o_orderkey", acc=Count()))
    q = (
        CubeQuery()
        .add_axis("iso_year")
        .add_axis("iso_week")
        .add_axis("monthday")
        .add_value("n")
        .add_filter("order_day", "ge", dt.date(1996, 12, 20))
        .add_filter("order_day", "lt", dt.date(1997, 1, 10))
    )
    return board(cd, _read(spark, sf_dir, "orders")).slice(q).to_df()


@query(
    "q42_table_set_ops",
    """
    WITH y95 AS (SELECT DISTINCT o_custkey FROM orders
                 WHERE year(o_orderdate) = 1995),
         y96 AS (SELECT DISTINCT o_custkey FROM orders
                 WHERE year(o_orderdate) = 1996)
    SELECT 'both' AS bucket, count(*) AS n FROM (SELECT * FROM y95 INTERSECT SELECT * FROM y96) t
    UNION ALL
    SELECT 'only_1995' AS bucket, count(*) AS n FROM (SELECT * FROM y95 EXCEPT SELECT * FROM y96) t
    UNION ALL
    SELECT 'either' AS bucket, count(*) AS n FROM (SELECT * FROM y95 UNION SELECT * FROM y96) t
    """,
)
def q42_table_set_ops(spark, sf_dir):
    """Table-level set operations (absent in the reference, SURVEY §2.7 —
    free in Spark): intersect / except / union of customer key sets."""
    o = _read(spark, sf_dir, "orders")
    y95 = o.filter(F.year("o_orderdate") == 1995).select("o_custkey").distinct()
    y96 = o.filter(F.year("o_orderdate") == 1996).select("o_custkey").distinct()
    counts = [
        ("both", y95.intersect(y96)),
        ("only_1995", y95.exceptAll(y96).distinct()),
        ("either", y95.union(y96).distinct()),
    ]
    out = None
    for name, df in counts:
        one = df.agg(F.count(F.lit(1)).alias("n")).select(F.lit(name).alias("bucket"), "n")
        out = one if out is None else out.union(one)
    return out


@query(
    "q43_pandas_udaf_median",
    """
    SELECT c_nationkey AS nationkey,
           round(median(c_acctbal), 4) AS median_bal,
           count(*) AS n
    FROM customer
    GROUP BY 1
    """,
)
def q43_pandas_udaf_median(spark, sf_dir):
    """Custom UDAF via Arrow-batched pandas_udf GROUPED_AGG (the escape
    hatch for aggregates Catalyst can't express — the reference's
    Accumulator-subclass extension point, SURVEY §2.11). Median matches
    DuckDB's interpolated median for doubles."""
    from ..functions.udaf import median_udaf

    c = _read(spark, sf_dir, "customer")
    # pandas GROUPED_AGG UDFs can't mix with JVM aggregates in one agg();
    # compute the count separately and join (both tiny, broadcast)
    med = c.groupBy(F.col("c_nationkey").alias("nationkey")).agg(
        F.round(median_udaf("c_acctbal"), 4).alias("median_bal")
    )
    n = c.groupBy(F.col("c_nationkey").alias("nationkey")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return med.join(F.broadcast(n), "nationkey")


@query(
    "q48_multi_pivot",
    """
    SELECT cast(year(o_orderdate) as int) AS order_year,
           round(cast(sum(CASE WHEN l_returnflag='A' AND l_linestatus='F' THEN cast(l_quantity as decimal(38,4)) END) as double), 2) AS qty_A_F,
           round(cast(sum(CASE WHEN l_returnflag='N' AND l_linestatus='F' THEN cast(l_quantity as decimal(38,4)) END) as double), 2) AS qty_N_F,
           round(cast(sum(CASE WHEN l_returnflag='N' AND l_linestatus='O' THEN cast(l_quantity as decimal(38,4)) END) as double), 2) AS qty_N_O,
           round(cast(sum(CASE WHEN l_returnflag='R' AND l_linestatus='F' THEN cast(l_quantity as decimal(38,4)) END) as double), 2) AS qty_R_F
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
    """,
)
def q48_multi_pivot(spark, sf_dir):
    """Multi-axis pivot via a composed key (SURVEY §2.8: Spark pivot is
    single-column; multiple pivot axes compose through concat), lowered to
    conditional aggregation with the explicit value list. One aggregate +
    one exchange on the row axis — Spark's native .pivot() plans TWO
    aggregation phases and TWO shuffles (groupBy(year,pk) then pivotfirst
    by year); with a known value list the sum-of-CASE form is strictly
    better, and at 100 TB it halves the shuffled bytes."""
    from ..sources.star import StarTables, sales_fact_for

    fact = sales_fact_for(StarTables(spark, sf_dir), {"l_", "o_"})
    combos = ["A_F", "N_F", "N_O", "R_F"]
    pk = F.concat_ws("_", "l_returnflag", "l_linestatus")
    df = fact.groupBy(F.year("o_orderdate").cast("int").alias("order_year")).agg(
        *[
            F.sum(F.when(pk == cbo, F.expr(dec("l_quantity")))).alias(f"qty_{cbo}")
            for cbo in combos
        ]
    )
    return finalize(df, {f"qty_{cbo}": 2 for cbo in combos})


@query(
    "q49_json_label",
    """
    SELECT event_type,
           cast(json_extract_string(props, '$.k') as int) // 25 AS k_bucket,
           count(*) AS n,
           round(cast(sum(cast(value as decimal(38,4))) as double), 2) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q49_json_label(spark, sf_dir):
    """JsonLabel: a JSON-path dimension through the cube engine (engine
    extension, SURVEY §2.9)."""
    from ..cubedef import JsonLabel

    cd = CubeDef("events")
    cd.add_label(Label("event_type"))
    cd.add_label(JsonLabel("k_raw", "props", "$.k", cast="int"))
    # derived bucket label on top of the JSON extraction
    cd.add_label(Label("k_bucket", "cast(get_json_object(props, '$.k') as int) div 25"))
    cd.add_measure(Measure("n", "event_id", acc=Count()))
    cd.add_measure(Measure("sum_value", dec("value"), acc=Sum()))
    q = (
        CubeQuery()
        .add_axis("event_type")
        .add_axis("k_bucket")
        .add_value("n")
        .add_value("sum_value")
    )
    df = board(cd, _read(spark, sf_dir, "events")).slice(q).to_df()
    return finalize(df, {"sum_value": 2})


@query(
    "q50_semi_anti_join",
    """
    SELECT n.n_name AS nation,
           count(CASE WHEN EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
                 THEN 1 END) AS with_orders,
           count(CASE WHEN NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
                 THEN 1 END) AS without_orders
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY 1
    """,
)
def q50_semi_anti_join(spark, sf_dir):
    """Semi/anti joins (EXISTS / NOT EXISTS): customers with and without
    orders per nation. left_semi/left_anti shuffle only the keys — the
    scale-correct existence check."""
    c = _read(spark, sf_dir, "customer")
    o = _read(spark, sf_dir, "orders").select("o_custkey")
    n = _read(spark, sf_dir, "nation")
    witho = c.join(o, c.c_custkey == o.o_custkey, "left_semi")
    without = c.join(o, c.c_custkey == o.o_custkey, "left_anti")
    tag = witho.withColumn("_has", F.lit(1)).unionByName(
        without.withColumn("_has", F.lit(0))
    )
    return (
        tag.join(F.broadcast(n), tag.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.when(F.col("_has") == 1, 1)).alias("with_orders"),
            F.count(F.when(F.col("_has") == 0, 1)).alias("without_orders"),
        )
    )


@query(
    "q51_percentile",
    """
    SELECT l_returnflag AS returnflag,
           quantile_cont(cast(l_quantity as bigint), 0.5) AS median_qty,
           quantile_cont(cast(l_quantity as bigint), 0.9) AS p90_qty,
           quantile_cont(cast(round(l_extendedprice*100, 0) as bigint), 0.5) AS median_price_cents,
           count(*) AS n
    FROM lineitem
    GROUP BY 1
    """,
)
def q51_percentile(spark, sf_dir):
    """Percentile accumulator (engine extension): exact continuous
    percentiles through the cube engine. Determinism: inputs are
    integer-valued (quantity; price scaled to cents with an explicit
    half-up round), so the closest-rank interpolation is IEEE-exact in
    both engines — no output rounding needed."""
    from ..accumulators import Percentile

    cd = CubeDef("lineitem")
    cd.add_label(Label("returnflag", "l_returnflag"))
    qty = "cast(l_quantity as bigint)"
    cents = "cast(round(l_extendedprice*100, 0) as bigint)"
    cd.add_measure(Measure("median_qty", qty, acc=Percentile(0.5)))
    cd.add_measure(Measure("p90_qty", qty, acc=Percentile(0.9)))
    cd.add_measure(Measure("median_price_cents", cents, acc=Percentile(0.5)))
    cd.add_measure(Measure("n", "l_quantity", acc=Count()))
    q = (
        CubeQuery()
        .add_axis("returnflag")
        .add_value("median_qty")
        .add_value("p90_qty")
        .add_value("median_price_cents")
        .add_value("n")
    )
    return board(cd, _read(spark, sf_dir, "lineitem")).slice(q).to_df()


@query(
    "q52_keyset_page",
    """
    SELECT cast(o_orderdate as date) AS orderdate,
           o_orderkey AS orderkey,
           o_totalprice AS totalprice
    FROM orders
    WHERE cast(o_orderdate as date) > DATE '1995-06-15'
       OR (cast(o_orderdate as date) = DATE '1995-06-15' AND o_orderkey > 3000)
    ORDER BY 1, 2
    LIMIT 20
    """,
)
def q52_keyset_page(spark, sf_dir):
    """Keyset (seek) pagination: the page after composite key
    (1995-06-15, 3000) — the scale-correct replacement for the reference's
    OFFSET paging (engine.keyset_page; the seek predicate is sargable so
    parquet min/max skipping prunes earlier pages at scale). The unique
    orderkey tiebreaker makes the page set deterministic."""
    from ..engine import keyset_page

    o = _read(spark, sf_dir, "orders").select(
        F.col("o_orderdate").cast("date").alias("orderdate"),
        F.col("o_orderkey").alias("orderkey"),
        F.col("o_totalprice").alias("totalprice"),
    )
    return keyset_page(o, ["orderdate", "orderkey"], (dt.date(1995, 6, 15), 3000), 20)


@query(
    "q53_capped_distinct",
    """
    SELECT o_orderpriority AS priority,
           array_to_string(list_slice(list_sort(list(DISTINCT o_custkey)), 1, 10), ',')
             AS first_custkeys,
           count(DISTINCT o_custkey) AS n_cust
    FROM orders
    GROUP BY 1
    """,
)
def q53_capped_distinct(spark, sf_dir):
    """Capped distinct collection (engine extension): first-10 distinct
    customers per priority via the CappedCollectSet accumulator. The
    bounded-intermediate twin (operators.scale.capped_distinct) produces
    the identical result with per-group state capped end-to-end — the
    100 TB form; equivalence is asserted in tests.

    The capped set is emitted as a sorted comma-joined STRING, not
    array<bigint>: the driver's canonicalizer sorts via pandas, which
    cannot factorize list cells (same contract as q13's tag_union)."""
    from ..accumulators import CappedCollectSet

    cd = CubeDef("orders")
    cd.add_label(Label("priority", "o_orderpriority"))
    cd.add_measure(Measure("first_custkeys", "o_custkey", acc=CappedCollectSet(10)))
    cd.add_measure(Measure("n_cust", "o_custkey", acc=CountDistinct()))
    q = (
        CubeQuery()
        .add_axis("priority")
        .add_value("first_custkeys")
        .add_value("n_cust")
    )
    out = board(cd, _read(spark, sf_dir, "orders")).slice(q).to_df()
    return out.select(
        "priority",
        F.array_join(
            F.expr("transform(array_sort(first_custkeys), x -> cast(x as string))"),
            ",",
        ).alias("first_custkeys"),
        "n_cust",
    )


@query(
    "q115_window_suite",
    """
    SELECT c_custkey, c_mktsegment,
           cast(rank()       OVER w as bigint) AS rnk,
           cast(dense_rank() OVER w as bigint) AS drnk,
           round(percent_rank() OVER w, 8) AS prnk,
           round(cume_dist()    OVER w, 8) AS cdist,
           cast(ntile(4) OVER w as int) AS quartile,
           lag(cast(round(c_acctbal * 100) as bigint))  OVER w AS prev_cents,
           lead(cast(round(c_acctbal * 100) as bigint)) OVER w AS next_cents
    FROM customer
    WHERE c_custkey < 300
    WINDOW w AS (PARTITION BY c_mktsegment
                 ORDER BY round(c_acctbal * 100) DESC, c_custkey)
    ORDER BY c_mktsegment, rnk
    """,
)
def q115_window_suite(spark, sf_dir):
    """Full ANSI window-function suite (rank / dense_rank / percent_rank
    / cume_dist / ntile / lag / lead) over a total per-segment order —
    §2.5 parity widening (the reference has no window functions at all;
    Spark's are ANSI-identical to DuckDB's, pinned here including ntile's
    position-split rule, which is deterministic BECAUSE the order is
    total).

    Scale shape: one shuffle on the segment key; every function rides
    the same sort."""
    from pyspark.sql import Window

    cust = _read(spark, sf_dir, "customer").filter(F.col("c_custkey") < 300)
    cents = F.expr("cast(round(c_acctbal * 100) as bigint)")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc(F.expr("round(c_acctbal * 100)")), F.asc("c_custkey")
    )
    return (
        cust.select(
            "c_custkey",
            "c_mktsegment",
            F.rank().over(w).cast("long").alias("rnk"),
            F.dense_rank().over(w).cast("long").alias("drnk"),
            F.round(F.percent_rank().over(w), 8).alias("prnk"),
            F.round(F.cume_dist().over(w), 8).alias("cdist"),
            F.ntile(4).over(w).cast("int").alias("quartile"),
            F.lag(cents).over(w).alias("prev_cents"),
            F.lead(cents).over(w).alias("next_cents"),
        )
        .orderBy("c_mktsegment", "rnk")
    )


@query(
    "q116_multiset_ops",
    """
    WITH _c AS (SELECT c_nationkey AS nk FROM customer),
    _s AS (SELECT s_nationkey AS nk FROM supplier),
    _i AS (SELECT nk FROM _c INTERSECT ALL SELECT nk FROM _s),
    _e AS (SELECT nk FROM _c EXCEPT ALL SELECT nk FROM _s)
    SELECT nk, cast(sum(ni) as bigint) AS n_intersect_all,
           cast(sum(ne) as bigint) AS n_except_all
    FROM (
        SELECT nk, 1 AS ni, 0 AS ne FROM _i
        UNION ALL
        SELECT nk, 0 AS ni, 1 AS ne FROM _e
    )
    GROUP BY nk
    ORDER BY nk
    """,
)
def q116_multiset_ops(spark, sf_dir):
    """Multiset table ops — INTERSECT ALL / EXCEPT ALL (§2.7 widening
    beyond q42's distinct-set forms): bag semantics with per-key
    multiplicity min/difference, summarized as per-nationkey counts.

    Scale shape: Spark lowers both to a single hash aggregation over
    tagged counts — no sort, no join."""
    c = _read(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk"))
    s = _read(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    i = c.intersectAll(s).groupBy("nk").agg(F.count(F.lit(1)).alias("n_intersect_all"))
    e = c.exceptAll(s).groupBy("nk").agg(F.count(F.lit(1)).alias("n_except_all"))
    return (
        i.join(e, "nk", "full")
        .select(
            "nk",
            F.coalesce("n_intersect_all", F.lit(0)).alias("n_intersect_all"),
            F.coalesce("n_except_all", F.lit(0)).alias("n_except_all"),
        )
        .orderBy("nk")
    )


@query(
    "q117_json_roundtrip",
    """
    SELECT user_id,
           cast(count(*) as bigint) AS n_events,
           cast(sum(cast(round(value * 100) as bigint)) as bigint) AS sum_cents
    FROM events
    WHERE user_id < 60
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def q117_json_roundtrip(spark, sf_dir):
    """Nested-JSON round-trip (to_json → from_json → lateral explode):
    per-user events are packed into a JSON array-of-structs document,
    parsed back with an explicit schema, exploded, and re-aggregated.
    The oracle computes the aggregates DIRECTLY from the base rows — so
    equality proves the serialize/parse/flatten path is lossless, the
    property log-ingestion pipelines rely on.

    Scale shape: pack and unpack are map-side expression work around one
    user-keyed aggregation; the JSON documents never exceed one user's
    events."""
    ev = _read(spark, sf_dir, "events").filter(F.col("user_id") < 60)
    packed = ev.groupBy("user_id").agg(
        F.to_json(
            F.collect_list(
                F.struct(
                    F.col("event_type").alias("t"),
                    F.expr("cast(round(value * 100) as bigint)").alias("v"),
                )
            )
        ).alias("doc")
    )
    item_schema = "array<struct<t: string, v: bigint>>"
    exploded = packed.select(
        "user_id",
        F.explode(F.from_json(F.col("doc"), item_schema)).alias("item"),
    )
    return (
        exploded.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("item.v").alias("sum_cents"),
        )
        .orderBy("user_id")
    )


@query(
    "q127_listagg",
    """
    SELECT c_mktsegment,
           string_agg(c_name, ',' ORDER BY round(c_acctbal * 100) DESC, c_name)
               AS top_names,
           cast(count(*) as bigint) AS n
    FROM (
        SELECT c_mktsegment, c_name, c_acctbal,
               row_number() OVER (PARTITION BY c_mktsegment
                                  ORDER BY round(c_acctbal * 100) DESC, c_name)
                   AS rn
        FROM customer
    )
    WHERE rn <= 5
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def q127_listagg(spark, sf_dir):
    """Ordered string aggregation (LISTAGG/string_agg parity): the top-5
    customers per segment by balance, concatenated IN ORDER.  Spark has
    no ordered listagg; the engine form collects (sort-key, value)
    structs, sorts the group-local array, then projects — deterministic
    because the sort key is total (cents desc, name).

    Scale shape: the top-5 cut happens via WindowGroupLimit inside the
    shuffle (same shape as q107's postings cap), so per-group state is
    O(5) before any collection."""
    from pyspark.sql import Window

    cust = _read(spark, sf_dir, "customer")
    cents = F.expr("cast(round(c_acctbal * 100) as bigint)")
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc(cents), F.asc("c_name"))
    top = cust.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= 5)
    return (
        top.groupBy("c_mktsegment")
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.struct(
                                (-cents).alias("_k"), F.col("c_name").alias("_v")
                            )
                        )
                    ),
                    lambda s: s["_v"],
                ),
            ).alias("top_names"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "q128_filtered_aggregates",
    """
    SELECT l_returnflag,
           cast(count(*) as bigint) AS n_all,
           cast(count(*) FILTER (WHERE l_discount > 0.05) as bigint)
               AS n_discounted,
           cast(sum(cast(round(l_extendedprice * 100) as bigint))
                FILTER (WHERE l_tax > 0.04) as bigint) AS taxed_cents,
           cast(max(cast(l_quantity as bigint))
                FILTER (WHERE l_linestatus = 'F') as bigint) AS max_qty_f
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q128_filtered_aggregates(spark, sf_dir):
    """FILTER-clause conditional aggregation parity (§2.3): multiple
    differently-filtered aggregates in ONE pass over the fact — the
    idiom that replaces N self-joins in report queries.  All integer
    sums; one partial-aggregated shuffle."""
    li = _read(spark, sf_dir, "lineitem")
    cents = F.expr("cast(round(l_extendedprice * 100) as bigint)")
    qty = F.col("l_quantity").cast("bigint")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_all"),
            F.count(F.when(F.col("l_discount") > 0.05, 1)).alias("n_discounted"),
            F.sum(F.when(F.col("l_tax") > 0.04, cents)).alias("taxed_cents"),
            F.max(F.when(F.col("l_linestatus") == "F", qty)).alias("max_qty_f"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q129_grouping_sets",
    """
    SELECT coalesce(o_orderstatus, '<all>') AS status,
           coalesce(o_orderpriority, '<all>') AS priority,
           cast(grouping(o_orderstatus) * 2 + grouping(o_orderpriority)
                as int) AS gid,
           cast(count(*) as bigint) AS n,
           cast(sum(cast(round(o_totalprice * 100) as bigint)) as bigint)
               AS cents
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                            (o_orderstatus), (o_orderpriority), ())
    ORDER BY gid, status, priority
    """,
)
def q129_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS + grouping() parity (§2.3; the lattice
    operator q39/q65 SERVES these shapes from a materialization — this
    query pins Spark's native one-pass form, grouping_id semantics
    included, against the identical ANSI SQL in DuckDB).

    Scale shape: Spark expands grouping sets map-side (each row feeds
    its sets' partial aggregates) — one shuffle keyed on (keys, gid)."""
    orders = _read(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("_q129_orders")
    return spark.sql(
        """
        SELECT coalesce(o_orderstatus, '<all>') AS status,
               coalesce(o_orderpriority, '<all>') AS priority,
               cast(grouping(o_orderstatus) * 2 + grouping(o_orderpriority)
                    as int) AS gid,
               count(*) AS n,
               sum(cast(round(o_totalprice * 100) as bigint)) AS cents
        FROM _q129_orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderstatus), (o_orderpriority), ())
        ORDER BY gid, status, priority
        """
    )


@query(
    "q130_correlated_subquery",
    """
    SELECT c_custkey, c_mktsegment,
           cast(round(c_acctbal * 100) as bigint) AS acct_cents,
           (SELECT cast(max(round(o_totalprice * 100)) as bigint)
            FROM orders WHERE o_custkey = c_custkey) AS max_order_cents
    FROM customer
    WHERE c_custkey < 200
      AND (SELECT count(*) FROM orders WHERE o_custkey = c_custkey) >= 3
    ORDER BY c_custkey
    """,
)
def q130_correlated_subquery(spark, sf_dir):
    """Correlated scalar subqueries (SELECT-list + WHERE) — Catalyst
    DECORRELATES both into aggregate-then-join plans (no per-row
    re-execution; the rewrite that makes subquery-style reports viable
    on 100 TB).  Identical ANSI text runs on DuckDB as the oracle."""
    cust = _read(spark, sf_dir, "customer")
    orders = _read(spark, sf_dir, "orders")
    cust.createOrReplaceTempView("_q130_customer")
    orders.createOrReplaceTempView("_q130_orders")
    return spark.sql(
        """
        SELECT c_custkey, c_mktsegment,
               cast(round(c_acctbal * 100) as bigint) AS acct_cents,
               (SELECT cast(max(round(o_totalprice * 100)) as bigint)
                FROM _q130_orders WHERE o_custkey = c_custkey)
                   AS max_order_cents
        FROM _q130_customer
        WHERE c_custkey < 200
          AND (SELECT count(*) FROM _q130_orders
               WHERE o_custkey = c_custkey) >= 3
        ORDER BY c_custkey
        """
    )


@query(
    "q165_sketch_distinct_measure",
    f"""
    WITH reg AS MATERIALIZED (
      {_sk.hll_registers_sql('lineitem', 'l_suppkey', 'l_returnflag AS returnflag, ')}
    ),
    est AS ({_sk.hll_estimate_sql('reg', 'returnflag, ')}),
    ex AS (
      SELECT l_returnflag AS returnflag, count(*) AS n_rows,
             count(DISTINCT l_suppkey) AS n_suppliers
      FROM lineitem GROUP BY 1
    )
    SELECT ex.returnflag AS returnflag, ex.n_rows AS n_rows,
           est.hll_estimate AS approx_suppliers, ex.n_suppliers AS n_suppliers
    FROM ex JOIN est USING (returnflag)
    """,
)
def q165_sketch_distinct_measure(spark, sf_dir):
    """SketchDistinct as a first-class CUBE MEASURE: the deterministic
    HLL estimate (operators/sketch.py) declared like any other
    accumulator and planned by the engine (engine._aggregate_with_
    sketches) as a per-(axis, bucket) register aggregation joined to the
    ordinary-measure frame — count_distinct economics inside the OLAP
    surface (the reference has no approximate aggregates; and unlike the
    ApproxCountDistinct/HLL++ accumulator, this estimate is
    bit-reproducible and DuckDB-checkable). The exact n_suppliers column
    alongside is the gate's verification side.

    Scale shape: the sketch measure's shuffle is <= |groups|*4096
    register rows with map-side partial max — the value column itself
    never shuffles; the join inputs are result-sized."""
    cd = CubeDef("li")
    cd.add_label(Label("returnflag", "l_returnflag"))
    cd.add_measure(Measure("n_rows", "l_suppkey", acc=Count()))
    cd.add_measure(Measure("approx_suppliers", "l_suppkey", acc=SketchDistinct()))
    cd.add_measure(Measure("n_suppliers", "l_suppkey", acc=CountDistinct()))
    q = (
        CubeQuery()
        .add_axis("returnflag")
        .add_value("n_rows")
        .add_value("approx_suppliers")
        .add_value("n_suppliers")
    )
    return board(cd, _read(spark, sf_dir, "lineitem")).slice(q).to_df()


@query(
    "q170_sketch_lattice_rollup",
    f"""
    WITH base AS MATERIALIZED (
      SELECT l_returnflag AS returnflag, l_suppkey
      FROM lineitem WHERE l_linestatus <> 'F'
    ),
    reg AS MATERIALIZED ({_sk.hll_registers_sql('base', 'l_suppkey', 'returnflag, ')}),
    per AS ({_sk.hll_estimate_sql('reg', 'returnflag, ')}),
    merged_reg AS (SELECT bucket, max(reg) AS reg FROM reg GROUP BY 1),
    merged AS ({_sk.hll_estimate_sql('merged_reg')})
    SELECT returnflag, hll_estimate AS approx_suppliers FROM per
    UNION ALL
    SELECT '__all__' AS returnflag, hll_estimate FROM merged
    ORDER BY returnflag
    """,
)
def q170_sketch_lattice_rollup(spark, sf_dir):
    """SketchLattice (operators/lattice.py): approximate distinct as a
    full ROLLUP citizen. One register frame materialized at the finest
    grain (returnflag x linestatus — at most |groups|*2^p tiny rows)
    serves every coarser grain, every filter drill (eq or NOT — here a
    `ne` on the DROPPED linestatus axis, the shape a finished-value
    lattice can never serve), and the grand total, by re-maxing
    registers before estimating — bit-identical to direct computation
    over the filtered base, which is exactly what the DuckDB oracle
    replays. A CubeLattice of finished HLL estimates would be a dead
    end (estimates don't merge); registers merge exactly by max.

    Scale shape: the base is scanned ONCE at build (ingest-time, like
    an index); every served query aggregates register rows — shuffle
    <= |groups|*4096 rows with map-side partial max, independent of
    fact-table size. refresh() folds deltas in by max (exact IVM)."""
    from ..operators.lattice import SketchLattice
    from ..utils.caching import managed_persist

    cd = CubeDef("li")
    cd.add_label(Label("returnflag", "l_returnflag"))
    cd.add_label(Label("linestatus", "l_linestatus"))
    cd.add_measure(Measure("approx_suppliers", "l_suppkey", acc=SketchDistinct()))
    lat = SketchLattice(
        cd,
        _read(spark, sf_dir, "lineitem"),
        axes=("returnflag", "linestatus"),
        values=("approx_suppliers",),
        persist=False,
    )
    fil = (("linestatus", "ne", "F"),)
    per = lat.serve_query(("returnflag",), ("approx_suppliers",), fil)
    total = lat.serve_query((), ("approx_suppliers",), fil).select(
        F.lit("__all__").alias("returnflag"), "approx_suppliers"
    )
    return per.unionByName(total).orderBy("returnflag")


@query(
    "q177_sketch_percentile_measure",
    f"""
    WITH li AS MATERIALIZED (
      SELECT l_returnflag AS returnflag,
             cast(round(l_extendedprice * 100) as bigint) AS cents
      FROM lineitem
    ),
    h AS MATERIALIZED ({_sk.hist_sketch_sql('li', 'cents', 'returnflag, ')}),
    est AS ({_sk.hist_quantiles_sql('h', (50, 95), 'returnflag, ')}),
    piv AS (
      SELECT returnflag,
             cast(max(CASE WHEN pct = 50 THEN q_est END) as double) AS p50_cents,
             cast(max(CASE WHEN pct = 95 THEN q_est END) as double) AS p95_cents
      FROM est GROUP BY 1
    ),
    ranked AS (
      SELECT returnflag, cents,
             row_number() OVER (PARTITION BY returnflag ORDER BY cents) AS _rn,
             count(*) OVER (PARTITION BY returnflag) AS _n
      FROM li
    ),
    ex AS (
      SELECT returnflag,
             max(CASE WHEN _rn = (50 * _n + 99) // 100 THEN cents END) AS exact_p50_cents,
             max(CASE WHEN _rn = (95 * _n + 99) // 100 THEN cents END) AS exact_p95_cents,
             count(*)::BIGINT AS n_rows
      FROM ranked GROUP BY 1
    )
    SELECT p.returnflag AS returnflag, ex.n_rows AS n_rows,
           p.p50_cents AS p50_cents, p.p95_cents AS p95_cents,
           ex.exact_p50_cents AS exact_p50_cents,
           ex.exact_p95_cents AS exact_p95_cents
    FROM piv p JOIN ex USING (returnflag)
    """,
)
def q177_sketch_percentile_measure(spark, sf_dir):
    """SketchPercentile as a first-class CUBE MEASURE: the log-bucketed
    histogram quantile (q172's sketch) declared like any accumulator —
    Measure(..., acc=SketchPercentile(95)) — and planned by the engine
    (engine._aggregate_with_sketches) as a per-(axis, bucket) COUNT
    aggregation joined to the ordinary-measure frame, exactly how
    SketchDistinct plugs in. Percentile economics inside the OLAP
    surface: the exact accumulator (Percentile) needs every group value
    sorted; this one shuffles <= 488 count rows per group at any input
    size, and the estimate is integer-deterministic, so the oracle
    replays it bit-for-bit. The exact_p* columns (rank quantiles) are
    the gate's verification side — computed in ONE pass over DISTINCT
    values (r9, VERDICT r8 'wrong #1'): groupBy (flag, cents) partial-
    aggregates map-side, then the rank walk (cumulative counts, pick the
    first value covering rank k) runs over the value-vocabulary-sized
    frame. The old form ranked EVERY row through two full-table windows
    (row_number + unbounded count) — a full sort of the fact table just
    to read off two ranks per group."""
    from pyspark.sql.window import Window

    cents = F.expr("cast(round(l_extendedprice * 100) as bigint)")
    cd = CubeDef("li")
    cd.add_label(Label("returnflag", "l_returnflag"))
    cd.add_measure(Measure("n_rows", "l_quantity", acc=Count()))
    cd.add_measure(Measure("p50_cents", cents, acc=SketchPercentile(50)))
    cd.add_measure(Measure("p95_cents", cents, acc=SketchPercentile(95)))
    q = (
        CubeQuery()
        .add_axis("returnflag")
        .add_value("n_rows")
        .add_value("p50_cents")
        .add_value("p95_cents")
    )
    sliced = board(cd, _read(spark, sf_dir, "lineitem")).slice(q).to_df()

    li = _read(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("returnflag"), cents.alias("cents")
    )
    # (flag, value) -> occurrence count: the only full-table pass, and it
    # partial-aggregates map-side. Everything after is vocabulary-sized.
    vals = li.groupBy("returnflag", "cents").agg(F.count(F.lit(1)).alias("cnt"))
    wp = Window.partitionBy("returnflag")
    cum = vals.select(
        "returnflag",
        "cents",
        F.sum("cnt")
        .over(wp.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0))
        .alias("_cum"),
        F.sum("cnt").over(wp).alias("_n"),
    )
    # the k-th smallest value is the first whose cumulative count reaches
    # rank k — identical to row_number()==k over the sorted rows
    ex = cum.groupBy("returnflag").agg(
        F.min(
            F.when(F.col("_cum") >= F.expr("(50 * _n + 99) div 100"), F.col("cents"))
        ).alias("exact_p50_cents"),
        F.min(
            F.when(F.col("_cum") >= F.expr("(95 * _n + 99) div 100"), F.col("cents"))
        ).alias("exact_p95_cents"),
    )
    return sliced.join(ex, "returnflag").select(
        "returnflag", "n_rows", "p50_cents", "p95_cents",
        "exact_p50_cents", "exact_p95_cents",
    )
