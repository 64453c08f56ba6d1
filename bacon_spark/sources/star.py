"""Star-schema sources: load the TPC-H-ish fixtures and build the
denormalized fact view that plays the role of bacon's single pre-joined
dataset (/root/reference/README:14-16 — "operates on pre-aggregated data";
the reference expects the caller to hand it one denormalized record stream,
SURVEY §2.4).

Scale design (100 TB): the fact table (lineitem) is the only big input;
every dimension (region/nation/customer/supplier/part/orders header) is
orders of magnitude smaller, so all dimension joins are explicit
``broadcast()`` hash joins — zero shuffle of the fact side, and Catalyst
pushes fact-side filters and column pruning below the joins. ``orders`` is
the one dimension that grows with SF; at true cluster scale it would be
bucketed on o_orderkey alongside lineitem's l_orderkey — we keep it
broadcast here (driver-defined fixtures keep it ~1/4 the fact rows) and
expose ``join_orders_broadcast=False`` to switch to a shuffle join that AQE
can convert as it sees fit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table.

    ``events.parquet`` is written with nanosecond timestamps. Depending on
    the Spark version the parquet reader surfaces the ns column as either
    ``bigint`` (with ``spark.sql.legacy.parquet.nanosAsLong``; Spark ≤3.x
    behavior) or ``timestamp_ntz`` (Spark 4.x reads ns natively, truncated
    to µs, timezone-naive). Both paths are normalized to a session-local
    ``timestamp`` (LTZ) column JVM-side — stays distributed, pushdown on
    the other columns unaffected. Every downstream consumer
    (``withWatermark``, ``unix_micros``, window functions) requires LTZ.
    Callers pin ``spark.sql.session.timeZone=UTC`` (queries.py:_read), so
    the NTZ→LTZ cast is exact and matches DuckDB's tz-naive reading."""
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        dtype = dict(df.dtypes).get("ts")
        if dtype == "bigint":
            # `div` (integer division) = floor for positive epochs — the
            # same truncation DuckDB's parquet reader applies to ns
            # timestamps, so sub-second arithmetic agrees with the oracle.
            # A float `/ 1000` drifts ±1us at 2024 epoch magnitudes
            # (ns values exceed double's 53-bit mantissa).
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif dtype == "timestamp_ntz":
            # Spark 4.x: ns parquet → NTZ µs. Cast reinterprets the naive
            # wall-clock in the session TZ (UTC) — the same instant DuckDB
            # computes, and the LTZ type watermarks/temporal ops need.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    return {t: read_table(spark, sf_dir, t) for t in names}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs


def sales_fact(
    spark: SparkSession,
    sf_dir: str,
    join_orders_broadcast: bool = True,
) -> DataFrame:
    """The denormalized fact view: lineitem ⋈ orders ⋈ customer ⋈ nation ⋈
    region ⋈ part ⋈ supplier, with cube-ready derived columns.

    This is bacon's "dataset" (one wide record stream) expressed the
    idiomatic Spark way: declared joins the optimizer can reorder, with
    small sides broadcast.
    """
    t = load_tables(
        spark,
        sf_dir,
        ("lineitem", "orders", "customer", "nation", "region", "part", "supplier"),
    )
    orders = t["orders"]
    if join_orders_broadcast:
        orders = F.broadcast(orders)
    fact = (
        t["lineitem"]
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(t["nation"].withColumnRenamed("n_name", "nation")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(t["region"].withColumnRenamed("r_name", "region")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
    )
    return fact.withColumn(
        "revenue", F.col("l_extendedprice") * (1 - F.col("l_discount"))
    ).withColumn("charge", F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax")))


def sales_cubedef():
    """Default CubeDef over the denormalized sales fact — the analogue of
    the reference demo cube (/root/reference/bacon_demo/data.py:59-98):
    date hierarchy year→{month,week}→day on o_orderdate, geography
    hierarchy region→nation, independent labels, sum/ratio measures."""
    from ..accumulators import Average, Count, CountDistinct, Max, Min, Sum
    from ..cubedef import (
        CubeDef,
        DayLabel,
        Label,
        Measure,
        MonthLabel,
        QuarterLabel,
        RatioMeasure,
        WeekLabel,
        WeekdayLabel,
        YearLabel,
    )

    cd = CubeDef("sales")
    cd.add_label(YearLabel("order_year", "o_orderdate"))
    cd.add_label(QuarterLabel("order_quarter", "o_orderdate"))
    cd.add_label(MonthLabel("order_month", "o_orderdate"))
    cd.add_label(WeekLabel("order_week", "o_orderdate"))
    cd.add_label(DayLabel("order_day", "o_orderdate"))
    cd.add_label(WeekdayLabel("order_weekday", "o_orderdate"))
    cd.add_hierarchy("order_quarter", "order_year")
    cd.add_hierarchy("order_month", "order_quarter")
    cd.add_hierarchy("order_week", "order_year")
    cd.add_hierarchy("order_day", "order_month")

    cd.add_label(Label("region"))
    cd.add_label(Label("nation", child_of="region"))
    cd.add_label(Label("mktsegment", "c_mktsegment"))
    cd.add_label(Label("returnflag", "l_returnflag"))
    cd.add_label(Label("linestatus", "l_linestatus"))
    cd.add_label(Label("orderpriority", "o_orderpriority"))
    cd.add_label(Label("orderstatus", "o_orderstatus"))
    cd.add_label(Label("brand", "p_brand"))
    cd.add_label(Label("ptype", "p_type"))

    cd.add_measure(Measure("quantity", "l_quantity", acc=Sum()))
    cd.add_measure(Measure("extendedprice", "l_extendedprice", acc=Sum()))
    cd.add_measure(Measure("revenue", "revenue", acc=Sum()))
    cd.add_measure(Measure("charge", "charge", acc=Sum()))
    cd.add_measure(Measure("n_items", "l_linenumber", acc=Count()))
    cd.add_measure(Measure("avg_quantity", "l_quantity", acc=Average()))
    cd.add_measure(Measure("min_price", "l_extendedprice", acc=Min()))
    cd.add_measure(Measure("max_price", "l_extendedprice", acc=Max()))
    cd.add_measure(Measure("n_parts", "l_partkey", acc=CountDistinct()))
    cd.add_measure(
        RatioMeasure("discount_rate", "l_extendedprice * l_discount", "l_extendedprice")
    )
    return cd


# ---------------------------------------------------------------------------
# Join culling
# ---------------------------------------------------------------------------

#: column-name prefix -> (table, join build order dependency)
_PREFIX_TABLE = {
    "l_": "lineitem",
    "o_": "orders",
    "c_": "customer",
    "n_": "nation",
    "r_": "region",
    "p_": "part",
    "s_": "supplier",
}
#: derived fact-view columns -> the source prefixes they pull in
_DERIVED = {
    "revenue": {"l_"},
    "charge": {"l_"},
    "region": {"r_", "n_", "c_", "o_"},
    "nation": {"n_", "c_", "o_"},
}
#: which joins each prefix requires (transitively, through the star)
_REQUIRES = {
    "o_": ("orders",),
    "c_": ("orders", "customer"),
    "n_": ("orders", "customer", "nation"),
    "r_": ("orders", "customer", "nation", "region"),
    "p_": ("part",),
    "s_": ("supplier",),
}

_IDENT_RE = None


def referenced_prefixes(exprs: list) -> set[str]:
    """Source-column prefixes referenced by label/measure expressions.

    String expressions are scanned for identifiers; Column objects are
    conservatively treated as referencing everything (we can't introspect a
    compiled Column cheaply)."""
    import re

    global _IDENT_RE
    if _IDENT_RE is None:
        _IDENT_RE = re.compile(r"\b([a-z])_[a-z_]+\b")
    out: set[str] = set()
    for e in exprs:
        if isinstance(e, str):
            for m in _IDENT_RE.finditer(e):
                p = m.group(1) + "_"
                if p in _PREFIX_TABLE:
                    out.add(p)
            for name, pulls in _DERIVED.items():
                if re.search(rf"\b{name}\b", e):
                    out |= pulls
        else:
            return set(_PREFIX_TABLE)  # unknown expr: keep everything
    return out


def sales_fact_for(
    spark: SparkSession, sf_dir: str, prefixes: set[str], join_orders_broadcast: bool = True
) -> DataFrame:
    """The denormalized fact view with unused dimension joins CULLED.

    Catalyst cannot drop an inner join on its own (it changes cardinality
    only if keys mismatch — which the engine, knowing the star's FK
    integrity, asserts). A cube query touching only lineitem+orders columns
    therefore scans exactly those two tables. This is the reference's
    Django `select_related` pushdown (/root/reference/bacon/sql.py:301-330)
    re-expressed as join-graph pruning."""
    needed: list[str] = []
    for p in prefixes:
        for t in _REQUIRES.get(p, ()):
            if t not in needed:
                needed.append(t)
    order = ["orders", "customer", "nation", "region", "part", "supplier"]
    needed.sort(key=order.index)

    t = load_tables(spark, sf_dir, ("lineitem", *needed))
    fact = t["lineitem"]
    if "orders" in needed:
        o = F.broadcast(t["orders"]) if join_orders_broadcast else t["orders"]
        fact = fact.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
    if "customer" in needed:
        fact = fact.join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
    if "nation" in needed:
        fact = fact.join(
            F.broadcast(t["nation"].withColumnRenamed("n_name", "nation")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
    if "region" in needed:
        fact = fact.join(
            F.broadcast(t["region"].withColumnRenamed("r_name", "region")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
    if "part" in needed:
        fact = fact.join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
    if "supplier" in needed:
        fact = fact.join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
    return fact.withColumn(
        "revenue", F.col("l_extendedprice") * (1 - F.col("l_discount"))
    ).withColumn(
        "charge", F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
    )


def _label_exprs(obj) -> tuple:
    """The source expressions a label or measure reads: its ``_expr``,
    plus the ``_base`` column a date-hierarchy label truncates."""
    return getattr(obj, "_expr", None), getattr(obj, "_base", None)


def fact_for_cube(spark: SparkSession, sf_dir: str, cubedef, query) -> DataFrame:
    """Build the minimal fact view for a specific query: collect every
    expression the query references (axes, values incl. hidden, filters)
    and cull unreferenced dimension joins."""
    exprs = []
    for a in query.axes:
        exprs.extend(_label_exprs(cubedef.get_label(a)))
    for v in query.values:
        m = cubedef.get_value(v)
        exprs.extend(_label_exprs(m))
        acc = m.acc
        for attr in ("num", "den", "label_expr"):
            exprs.append(getattr(acc, attr, None))
    for name, _op, _val in query.filters:
        exprs.extend(_label_exprs(cubedef.get_label(name)))
    exprs = [e for e in exprs if e is not None]
    return sales_fact_for(spark, sf_dir, referenced_prefixes(exprs))


class StarCuttingBoard:
    """CuttingBoard over the star schema with automatic join culling: each
    query gets the minimal fact view for the labels/measures/filters it
    references (see fact_for_cube). Everything else — slice cache, reuse
    strategies, ordering — is inherited."""

    def __new__(cls, cubedef, spark: SparkSession, sf_dir: str, cache_results: bool = True):
        from ..engine import CuttingBoard

        class _Board(CuttingBoard):
            def _frame_for(self, query):
                return fact_for_cube(spark, sf_dir, self.cubedef, query)

        full = sales_fact(spark, sf_dir)
        board = _Board(cubedef, full, cache_results=cache_results)
        return board


def events_cubedef():
    """Cube over the events stream table: time hierarchy on ts, event-type
    label, JSON prop label, sum/count measures — the batch-side twin of the
    streaming window aggs."""
    from ..accumulators import Average, Count, Sum
    from ..cubedef import (
        CubeDef,
        DayLabel,
        HourLabel,
        IntLabel,
        JsonLabel,
        Label,
        Measure,
        MonthLabel,
        WeekdayLabel,
    )

    cd = CubeDef("events")
    cd.add_label(DayLabel("event_day", "ts"))
    cd.add_label(HourLabel("event_hour", "ts"))
    cd.add_label(MonthLabel("event_month", "ts"))
    cd.add_label(WeekdayLabel("event_weekday", "ts"))
    cd.add_hierarchy("event_day", "event_month")
    cd.add_hierarchy("event_hour", "event_day")
    cd.add_label(Label("event_type"))
    cd.add_label(IntLabel("user_id"))
    cd.add_label(JsonLabel("prop_k", "props", "$.k", cast="int"))
    cd.add_measure(Measure("n", "event_id", acc=Count()))
    cd.add_measure(Measure("total_value", "value", acc=Sum()))
    cd.add_measure(Measure("avg_value", "value", acc=Average()))
    return cd
