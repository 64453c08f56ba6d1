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

Cold slices: a ``StarCuttingBoard`` that caches results extracts one
snapshot of the full view at construction (one collect, capped at
``CuttingBoard.MEMO_MAX_ROWS`` rows) and folds first hits from it on the
driver, as the reference answers from its preloaded dataset. Over the cap,
each cold slice joins only the tables it references (``fact_for_cube``).

Freshness: a ``StarTables`` reads each table once, so a board's file
listings are fixed when it is constructed, as its base frame's and its
snapshot's already are; ``refresh`` appends the delta to the snapshot and
``refresh(..., grow_base=False)`` also re-reads the tables.
"""

from __future__ import annotations

import re

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


def sales_fact(spark: SparkSession, sf_dir: str, join_orders_broadcast: bool = True) -> DataFrame:
    """The denormalized fact view: lineitem ⋈ orders ⋈ customer ⋈ nation ⋈
    region ⋈ part ⋈ supplier, with cube-ready derived columns — the culled
    view (``sales_fact_for``) with every table joined.

    This is bacon's "dataset" (one wide record stream) expressed the
    idiomatic Spark way: declared joins the optimizer can reorder, with
    small sides broadcast.
    """
    return sales_fact_for(StarTables(spark, sf_dir), _PREFIXES, join_orders_broadcast)


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

#: column-name prefixes of the star's tables
_PREFIXES = {"l_", "o_", "c_", "n_", "r_", "p_", "s_"}
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

_IDENT_RE = re.compile(r"\b([a-z])_[a-z_]+\b")
_DERIVED_RES = [(re.compile(rf"\b{name}\b"), pulls) for name, pulls in _DERIVED.items()]


def referenced_prefixes(exprs: list) -> set[str]:
    """Source-column prefixes referenced by label/measure expressions.

    String expressions are scanned for identifiers; Column objects are
    conservatively treated as referencing everything (we can't introspect a
    compiled Column cheaply)."""
    out: set[str] = set()
    for e in exprs:
        if isinstance(e, str):
            for m in _IDENT_RE.finditer(e):
                p = m.group(1) + "_"
                if p in _PREFIXES:
                    out.add(p)
            for name_re, pulls in _DERIVED_RES:
                if name_re.search(e):
                    out |= pulls
        else:
            return set(_PREFIXES)  # unknown expr: keep everything
    return out


#: lineitem's join chain in build order: (table, fact key, dimension key, rename)
_JOINS = (
    ("orders", "l_orderkey", "o_orderkey", None),
    ("customer", "o_custkey", "c_custkey", None),
    ("nation", "c_nationkey", "n_nationkey", ("n_name", "nation")),
    ("region", "n_regionkey", "r_regionkey", ("r_name", "region")),
    ("part", "l_partkey", "p_partkey", None),
    ("supplier", "l_suppkey", "s_suppkey", None),
)


class StarTables:
    """The star's tables and culled fact views for one owner, each built
    once: ``tables[name]`` reads a table on first use (a parquet read runs
    one schema-inference job), ``tables.fact(needed)`` joins a join set on
    first use. An owner is a ``StarCuttingBoard`` for its life or one gate
    query call; there is no process-wide cache. File listings are fixed at
    the first read, as any DataFrame's are; ``reread`` drops both memos."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = spark
        self.sf_dir = sf_dir
        self._tables: dict[str, DataFrame] = {}
        self._facts: dict[tuple, DataFrame] = {}
        self._delta: DataFrame | None = None  # rows absorbed so far

    def __getitem__(self, name: str) -> DataFrame:
        if name not in self._tables:
            self._tables[name] = read_table(self.spark, self.sf_dir, name)
        return self._tables[name]

    def fact(self, needed, join_orders_broadcast: bool = True) -> DataFrame:
        """lineitem joined to the tables in *needed*, with derived columns."""
        key = (tuple(j[0] for j in _JOINS if j[0] in needed), join_orders_broadcast)
        if key not in self._facts:
            fact = self["lineitem"]
            for name, fact_key, dim_key, rename in _JOINS:
                if name in needed:
                    dim = self[name].withColumnRenamed(*rename) if rename else self[name]
                    if name != "orders" or join_orders_broadcast:
                        dim = F.broadcast(dim)
                    fact = fact.join(dim, F.col(fact_key) == F.col(dim_key))
            revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
            fact = fact.withColumns({"revenue": revenue, "charge": revenue * (1 + F.col("l_tax"))})
            if self._delta is not None:
                fact = fact.unionByName(self._delta.select(*fact.columns))
            self._facts[key] = fact
        return self._facts[key]

    def absorb(self, delta: DataFrame) -> None:
        """Fold *delta* (full fact view rows) into every view, kept or later."""
        self._delta = delta if self._delta is None else self._delta.unionByName(delta)
        for key, fact in self._facts.items():
            self._facts[key] = fact.unionByName(delta.select(*fact.columns))

    def reread(self) -> None:
        """Drop the table reads and views; absorbed rows are kept."""
        self._tables.clear()
        self._facts.clear()


def sales_fact_for(
    tables: StarTables, prefixes: set[str], join_orders_broadcast: bool = True
) -> DataFrame:
    """The denormalized fact view with unused dimension joins CULLED.

    Catalyst cannot drop an inner join on its own (it changes cardinality
    only if keys mismatch — which the engine, knowing the star's FK
    integrity, asserts). A cube query touching only lineitem+orders columns
    therefore scans exactly those two tables. This is the reference's
    Django `select_related` pushdown (/root/reference/bacon/sql.py:301-330)
    re-expressed as join-graph pruning."""
    needed = {t for p in prefixes for t in _REQUIRES.get(p, ())}
    return tables.fact(needed, join_orders_broadcast)


def fact_for_cube(tables: StarTables, cubedef, query) -> DataFrame:
    """Build the minimal fact view for a specific query: collect every
    expression the query references (axes, values incl. hidden, filters)
    and cull unreferenced dimension joins."""
    labels = [cubedef.get_label(n) for n in (*query.axes, *(f[0] for f in query.filters))]
    measures = [cubedef.get_value(v) for v in query.values]
    # a label or measure reads its ``_expr``, plus the ``_base`` column a
    # date-hierarchy label truncates; a ratio or group accumulator its own.
    # A ratio's ``_expr`` is a per-record callable over its num/den, which
    # are collected already: reading it would keep every join.
    exprs = [getattr(o, "_base", None) for o in labels + measures]
    exprs += [
        o._expr
        for o in labels + measures
        if not (callable(o._expr) and hasattr(getattr(o, "acc", None), "num"))
    ]
    exprs += [getattr(m.acc, a, None) for m in measures for a in ("num", "den", "label_expr")]
    return sales_fact_for(tables, referenced_prefixes([e for e in exprs if e is not None]))


class StarCuttingBoard:
    """CuttingBoard over the star schema. Everything — slice cache, reuse
    strategies, ordering — is inherited; what differs is how a cold slice
    is answered.

    With ``cache_results`` the board extracts the full view's label values
    and measure inputs once, at construction (one collect behind a
    ``limit(MEMO_MAX_ROWS + 1)`` probe: seven Spark jobs, one per
    broadcast dimension and the collect), and folds cold slices from that
    snapshot on the driver with no job. A view over ``MEMO_MAX_ROWS`` rows
    keeps no snapshot, and neither does a non-caching board: each cold
    slice then gets the minimal fact view for the labels, measures and
    filters it references (join culling, see ``fact_for_cube``), as does a
    query the fold cannot answer (``match``/``nmatch`` filters). The
    ``snapshot`` decision records which way the board went.

    The board reads each table once and builds each culled view once, in
    one ``StarTables`` for its life. So its file listings are fixed when it
    is constructed, as its base frame's and snapshot's already are.
    ``refresh`` folds the delta (full-view rows) into every view and the
    snapshot; ``refresh(..., grow_base=False)`` re-reads the tables
    instead of growing the views."""

    def __new__(cls, cubedef, spark: SparkSession, sf_dir: str, cache_results: bool = True):
        from ..engine import CuttingBoard

        tables = StarTables(spark, sf_dir)

        class _Board(CuttingBoard):
            def _frame_for(self, query):
                with self._lock:
                    return fact_for_cube(tables, self.cubedef, query)

            def refresh(self, delta_df, grow_base=True):
                with self._lock:
                    if grow_base:
                        tables.absorb(delta_df)
                    else:
                        tables.reread()
                super().refresh(delta_df, grow_base)

        full = sales_fact_for(tables, _PREFIXES)
        return _Board(
            cubedef,
            full,
            cache_results=cache_results,
            eager_snapshot_rows=CuttingBoard.MEMO_MAX_ROWS,
        )


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
