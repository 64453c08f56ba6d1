"""Warehouse / graph / maintenance gates: bucketed & salted joins,
profiling, z-order, CDC compaction, ranking, stats, integrity audits,
full-star queries, higher moments.

Split from the original single-module query inventory (r4); the
registration registry and helpers live in gate/_base.py.
"""

from ._base import *  # noqa: F401,F403
from ..utils.conf import conf_override


def bucketed_star_tables(spark, sf_dir: str) -> tuple[str, str]:
    """Bucketed lineitem/orders catalog tables for *sf_dir*, built once
    per (session, sf). Both sides bucket+sort on the order key, so the
    join plans as a zero-exchange SortMergeJoin (asserted in
    tests/test_scale_ops.py). Data lands under the repo's spark-warehouse
    regardless of the session's cwd-relative warehouse dir."""
    import hashlib
    import os

    h = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    li, od = f"lineitem_bkt_{h}", f"orders_bkt_{h}"
    # anchor on the state root (the checkout for repo runs; for wheel
    # installs $SPARK_GRAFT_STATE_DIR or ~/.cache — NOT site-packages,
    # and NOT this file: the gate/ split once moved __file__ a level
    # deeper and a __file__-relative path silently rebuilt the tables)
    from ..utils.state import state_root

    base = os.path.join(state_root(), "spark-warehouse")
    for name, table, bkey in (
        ("lineitem", li, "l_orderkey"),
        ("orders", od, "o_orderkey"),
    ):
        path = os.path.join(base, table)
        has_data = os.path.exists(os.path.join(path, "_SUCCESS"))
        if spark.catalog.tableExists(table):
            if has_data:
                continue
            # catalog entry whose data dir was deleted: rebuild below
            spark.sql(f"DROP TABLE IF EXISTS `{table}`")
        if has_data:
            # fixtures are immutable: re-register the bucketed files a
            # previous session wrote instead of rewriting them (bucket
            # ids live in the file names, so an external CLUSTERED BY
            # table over them keeps the zero-exchange join plan)
            schema = _read(spark, sf_dir, name).schema
            ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in schema.fields)
            spark.sql(
                f"CREATE TABLE {table} ({ddl}) USING parquet "
                f"CLUSTERED BY ({bkey}) SORTED BY ({bkey}) INTO 16 BUCKETS "
                f"LOCATION '{path}'"
            )
        else:
            _scale.write_bucketed(
                _read(spark, sf_dir, name), table, bkey, buckets=16, path=path
            )
    return li, od


@query(
    "q61_bucketed_star_join",
    """
    SELECT o.o_orderpriority AS priority,
           count(*) AS n_items,
           round(cast(sum(cast(l.l_extendedprice * (1 - l.l_discount) as decimal(38,4))) as double), 2) AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderstatus = 'F'
    GROUP BY 1
    """,
    # once-per-ingest layout (r13): the bucketed tables were already a
    # registered layout build (tools/scale_sweep_builds.py) but the
    # bench had no prepare hook for them, so a fresh session's FIRST
    # timed q61 paid the catalog DDL + bucket-file listing (~3.5 s of a
    # 3.97 s bench cell; the join itself is 0.47 s isolated) — exactly
    # the ingest-amortized cost the prepare contract exists to exclude.
    prepare=bucketed_star_tables,
)
def q61_bucketed_star_join(spark, sf_dir):
    """Fact-to-fact join on co-bucketed tables: lineitem and orders are
    bucket+sorted on the order key, so the SortMergeJoin needs no exchange
    and no sort on either side — the plan a 100 TB fact join must have
    once `orders` outgrows broadcast (SCALE.md §star-joins)."""
    li, od = bucketed_star_tables(spark, sf_dir)
    l, o = spark.table(li), spark.table(od)
    joined = l.join(o, l["l_orderkey"] == o["o_orderkey"]).filter(
        F.col("o_orderstatus") == "F"
    )
    out = joined.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(38,4)")).alias("revenue"),
    )
    return finalize(out, {"revenue": 2})


_PROFILE_COLS = ["o_orderkey", "o_orderstatus", "o_orderpriority", "o_orderdate"]


@query("q76_table_profile", _profile_sql("orders", _PROFILE_COLS))
def q76_table_profile(spark, sf_dir):
    """ANALYZE-style table profile (operators/profile.py): per-column
    null count, exact distinct count, min/max in ONE aggregation pass
    (Catalyst multi-distinct Expand — each shuffle carries one column's
    values with map-side partials), unpivoted JVM-side via stack.

    The conditional widen spreads the Expand's x5 row multiplication
    across cores when the fixture ships orders as ONE file/partition; at
    real scale the scan is already wide and widen adds no Exchange (same
    rationale as _read_docs)."""
    from ..operators.scale import widen

    # project to the profiled columns BEFORE the widen (r13, guide
    # "project before the exchange"): the conditional repartition
    # otherwise carries every orders column — o_comment included —
    # through its Exchange for a profile that reads four.
    return _profile(
        widen(_read(spark, sf_dir, "orders").select(*_PROFILE_COLS)), _PROFILE_COLS
    )


@query(
    "q78_salted_agg",
    """
    SELECT l_returnflag AS returnflag,
           round(cast(sum(cast(l_quantity as decimal(38,4))) as double), 2) AS sum_qty,
           count(*) AS n
    FROM lineitem
    GROUP BY 1
    """,
)
def q78_salted_agg(spark, sf_dir):
    """Skew-salted two-phase aggregation in the gate
    (operators/scale.salted_agg): l_returnflag has only 3 values — the
    canonical hot-key shape — so the partial aggregate groups on
    (key, salt) to spread each hot key over 16 reducers, and the final
    merge handles 3×16 rows. Decimal partials keep the re-aggregated
    double sum bit-identical to the oracle's single-phase GROUP BY."""
    from ..operators.scale import salted_agg

    li = _read(spark, sf_dir, "lineitem")
    out = salted_agg(
        li.select("l_returnflag", "l_quantity"),
        key="l_returnflag",
        aggs={
            "p_sum": F.sum(F.expr(dec("l_quantity"))),
            "p_n": F.count(F.lit(1)),
        },
        merges={
            "sum_qty": F.round(F.sum("p_sum").cast("double"), 2),
            "n": F.sum("p_n"),
        },
    )
    return out.select(F.col("l_returnflag").alias("returnflag"), "sum_qty", "n")


_Z_BITS = 8


_Z_COLS = [("l_partkey", 0, 1 << 20), ("l_suppkey", 0, 1 << 14)]


@query(
    "q79_zorder_key",
    f"""
    SELECT l_orderkey, l_linenumber,
           {zorder_key_sql(_Z_COLS, bits=_Z_BITS)} AS zkey
    FROM lineitem
    WHERE l_orderkey < 500
    """,
)
def q79_zorder_key(spark, sf_dir):
    """Morton (z-order) clustering key in the gate
    (operators/maintenance.zorder_key): bit-interleaved quantized
    (l_partkey, l_suppkey) — the key `compact(cluster_by=...)` sorts on
    so multi-dimension range predicates prune files. Pure codegen bit
    arithmetic; the oracle replicates quantization and interleaving
    bit-for-bit."""
    li = _read(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 500)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        zorder_key(_Z_COLS, bits=_Z_BITS).alias("zkey"),
    )


@query(
    "q80_synthetic_source",
    """
    WITH g AS (
      SELECT i, cast(('0x' || substr(md5('42:' || i::VARCHAR), 1, 15)) as bigint) AS h
      FROM range(0, 5000) t(i)
    ),
    ev AS (
      SELECT i AS event_id,
             ['view','click','purchase','error'][(h % 4) + 1] AS event_type,
             round((h % 1000000) / 100.0, 2) AS value
      FROM g
    )
    SELECT event_type, count(*) AS n,
           round(cast(sum(cast(value as decimal(38,4))) as double), 2) AS total
    FROM ev GROUP BY 1
    """,
)
def q80_synthetic_source(spark, sf_dir):
    """Custom Python DataSource in the gate (sources/synthetic.py,
    Spark 4 DataSource API): the seeded generator plans real input
    partitions and runs distributedly; the oracle regenerates the same
    rows from range() via the shared md5 construction, so the source's
    CONTENT is hash-checked, not just its row count. Falls back to a
    driver-built DataFrame of the same generator when the API is absent
    (content identical — gen_row is the single source of truth)."""
    from ..sources import synthetic

    if synthetic.register(spark):
        ev = (
            spark.read.format("synthetic_events")
            .option("numRows", 5000)
            .option("seed", 42)
            .option("numPartitions", 8)
            .load()
        )
    else:  # pragma: no cover - pyspark without the DataSource API
        ev = spark.createDataFrame(
            [synthetic.gen_row(42, i) for i in range(5000)], synthetic.SCHEMA
        )
    out = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.expr(dec("value"))).alias("total"),
    )
    return finalize(out, {"total": 2})


@query(
    "q81_cdc_latest_by_key",
    """
    WITH ranked AS (
      SELECT user_id, event_id, ts, event_type, value,
             row_number() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rk
      FROM events
    )
    SELECT user_id, event_id, event_type,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s,
           round(value, 2) AS value
    FROM ranked WHERE rk = 1
    """,
)
def q81_cdc_latest_by_key(spark, sf_dir):
    """CDC / upsert compaction: latest record per key (event time, then
    id as the deterministic tie-break) — the canonical changelog
    materialization. One hash shuffle on the key + a per-partition sort;
    row_number (not max+join-back) so the whole row survives without a
    second pass. At table scale this is the MERGE-less way to compact an
    append log into current state."""
    from pyspark.sql import Window

    ev = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        ev.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "user_id",
            "event_id",
            "event_type",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_s"),
            F.round("value", 2).alias("value"),
        )
    )


@query(
    "q89_histogram",
    _hist_sql("lineitem", "l_extendedprice", 0.0, 110000.0, 22),
)
def q89_histogram(spark, sf_dir):
    """Fixed-width histogram profile (operators/profile.histogram):
    width_bucket binning of l_extendedprice into 22 bins over
    [0, 110000), zero-filled spine, under/overflow buckets. One narrow
    groupBy over a bounded key domain — the partial agg collapses every
    partition to <= 24 rows before the shuffle, so cost is scan-bound at
    any scale."""
    li = _read(spark, sf_dir, "lineitem")
    return _hist(li, "l_extendedprice", 0.0, 110000.0, 22)


@query(
    "q105_price_quantity_regression",
    f"""
    WITH _r AS ({_stats.grouped_regression_sql(
        'lineitem', 'l_returnflag',
        'cast(l_quantity as bigint)',
        'cast(round(l_extendedprice * 100) as bigint)')})
    SELECT l_returnflag, n, round(slope, 6) AS slope,
           round(intercept, 2) AS intercept, round(r2, 8) AS r2
    FROM _r ORDER BY l_returnflag
    """,
)
def q105_price_quantity_regression(spark, sf_dir):
    """Per-returnflag OLS of extended price (cents) on quantity
    (operators/stats.grouped_regression): slope/intercept/r² from
    decimal-exact power sums — one partial-aggregated shuffle, division
    only at the very end on identical integers in both engines.

    The reference's accumulator set stops at StdDev; this extends the
    same one-pass-sums pattern to second-order cross moments."""
    li = _read(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").cast("bigint").alias("_x"),
        F.expr("cast(round(l_extendedprice * 100) as bigint)").alias("_y"),
    )
    r = _stats.grouped_regression(li, "l_returnflag", "_x", "_y")
    return r.select(
        "l_returnflag",
        "n",
        F.round("slope", 6).alias("slope"),
        F.round("intercept", 2).alias("intercept"),
        F.round("r2", 8).alias("r2"),
    ).orderBy("l_returnflag")


@query(
    "q106_pagerank_doc_graph",
    _graph.pagerank_sql(
        "SELECT doc_id AS id FROM documents",
        "SELECT doc_id AS src, "
        "(doc_id * 31 + t.i * 97) % (SELECT count(*) FROM documents) AS dst "
        "FROM documents, generate_series(1, 4) AS t(i)",
        iters=5,
    )
    + " ORDER BY rank_q DESC, id LIMIT 50",
)
def q106_pagerank_doc_graph(spark, sf_dir):
    """Integer-quantized PageRank (operators/graph.pagerank_quantized)
    over a deterministic synthetic citation graph on the document ids
    (4 out-links per doc via a fixed affine map) — 5 power iterations
    with 85/100 damping, all arithmetic 64-bit floor division so the
    DuckDB oracle's unrolled-CTE replica matches bit-for-bit.

    Scale shape: per iteration, one edge-table shuffle joined against
    the node-sized rank vector; lineage cut per round.  The
    domain-authority scoring step of web-corpus curation."""
    # r13: NOT _read_docs — that widens (an Exchange) the full table,
    # text bodies included, while this query touches only doc_id. The
    # narrow id column comes straight off the parquet scan (column
    # pruning reaches the reader), and `nodes` is lazily checkpointed so
    # the five iteration joins + final mapping reuse one materialized id
    # vector instead of re-scanning per use (the count() right below is
    # the materializing action).
    docs = _read(spark, sf_dir, "documents").select("doc_id")
    nodes = docs.select(F.col("doc_id").alias("id")).localCheckpoint(eager=False)
    n = nodes.count()
    links = [((F.col("doc_id") * 31 + F.lit(i * 97)) % F.lit(n)) for i in range(1, 5)]
    edges = docs.select(
        F.col("doc_id").alias("src"), F.explode(F.array(*links)).alias("dst")
    )
    ranks = _graph.pagerank_quantized(nodes, edges, iters=5)
    return ranks.orderBy(F.desc("rank_q"), F.asc("id")).limit(50)


@query(
    "q107_inverted_index",
    _rank.inverted_index_sql("documents", "text", "doc_id", 2, 100, 20),
)
def q107_inverted_index(spark, sf_dir):
    """Inverted-index construction (llm/ranking.inverted_index): per
    term the document frequency, collection frequency, and a capped
    posting list of the 20 lowest doc ids — the batch job behind corpus
    search/retrieval indexes.  Postings are bounded BEFORE collection by
    a per-term row_number on the same term-keyed exchange, so state per
    term is O(cap) at any corpus size."""
    docs = _read_docs(spark, sf_dir)
    return _rank.inverted_index(docs, "text", "doc_id", min_df=2, top_terms=100, postings_cap=20)


@query(
    "q108_acctbal_robust_outliers",
    _stats.mad_outliers_sql(
        "customer", "c_mktsegment", "cast(round(c_acctbal * 100) as bigint)", 3.0
    )
    + " ORDER BY c_mktsegment",
)
def q108_acctbal_robust_outliers(spark, sf_dir):
    """Robust per-segment outlier counts on account balances
    (operators/stats.mad_outliers): median + MAD with the 1.4826
    consistency constant, k=3.  Exact interpolated medians over integer
    cents are multiples of 0.5 — deterministic across engines, unlike
    mean/stddev z-scores on floats.

    Scale shape: two group-keyed aggregations + broadcast joins of
    group-sized tables back onto the fact."""
    cust = _read(spark, sf_dir, "customer").select(
        "c_mktsegment",
        F.expr("cast(round(c_acctbal * 100) as bigint)").alias("_cents"),
    )
    return _stats.mad_outliers(cust, "c_mktsegment", "_cents", k=3.0).orderBy(
        "c_mktsegment"
    )


@query(
    "q111_global_rank",
    """
    SELECT doc_id, n_chars,
           row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rank
    FROM documents
    ORDER BY rank
    """,
)
def q111_global_rank(spark, sf_dir):
    """Global total-order ranking WITHOUT a single-partition window
    (operators/ranking.global_rank — the TeraSort numbering step): range
    exchange + local sort + Arrow-batched partition/ordinal stamping + a
    partition-count-sized offset join.  The oracle's row_number() is the
    semantic spec; the implementation never funnels the corpus through
    one task — the pattern behind corpus sharding and deterministic
    pagination at 100 TB."""
    docs = _read_docs(spark, sf_dir).select("doc_id", "n_chars")
    ranked = _grank.global_rank(
        docs, [F.desc("n_chars"), F.asc("doc_id")], out="rank"
    )
    return ranked.select("doc_id", "n_chars", "rank").orderBy("rank")


@query(
    "q112_quantile_buckets",
    f"""
    WITH _b AS ({{}}
    )
    SELECT bucket, cast(count(*) as bigint) AS n,
           min(_cents) AS min_cents, max(_cents) AS max_cents
    FROM _b GROUP BY bucket ORDER BY bucket
    """.format(
        _grank.quantile_buckets_sql(
            "SELECT cast(round(o_totalprice * 100) as bigint) AS _cents "
            "FROM orders",
            "_cents",
            10,
        )
    ),
)
def q112_quantile_buckets(spark, sf_dir):
    """Exact-decile banding of order value (operators/ranking
    .quantile_buckets): thresholds from one exact-percentile
    aggregation, assignment as a broadcast threshold chain — quality-
    band bucketing with NO global sort and no ntile tie divergence.
    Verified as per-bucket count/min/max."""
    orders = _read(spark, sf_dir, "orders").select(
        F.expr("cast(round(o_totalprice * 100) as bigint)").alias("_cents")
    )
    bucketed = _grank.quantile_buckets(orders, "_cents", n_buckets=10)
    return (
        bucketed.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("_cents").alias("min_cents"),
            F.max("_cents").alias("max_cents"),
        )
        .orderBy("bucket")
    )


@query(
    "q114_pair_cooccurrence",
    """
    WITH _ut AS (SELECT DISTINCT user_id, event_type FROM events),
    _n AS (SELECT count(DISTINCT user_id) AS n_users FROM events),
    _tc AS (SELECT event_type, count(*) AS n FROM _ut GROUP BY event_type),
    _pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               count(*) AS n_ab
        FROM _ut a JOIN _ut b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY a.event_type, b.event_type
    )
    SELECT type_a, type_b, cast(n_ab as bigint) AS n_ab,
           cast(ta.n as bigint) AS n_a, cast(tb.n as bigint) AS n_b,
           round(cast(n_ab as double) * n_users / (ta.n * tb.n), 6) AS lift
    FROM _pairs
    JOIN _tc ta ON ta.event_type = type_a
    JOIN _tc tb ON tb.event_type = type_b
    CROSS JOIN _n
    ORDER BY type_a, type_b
    """,
)
def q114_pair_cooccurrence(spark, sf_dir):
    """Market-basket 2-itemset support + lift over (user, event_type)
    baskets — the co-occurrence/association-mining step of behavioural
    feature pipelines.  lift = N·n_ab / (n_a·n_b), computed as doubles
    from identical integers in both engines.

    Scale shape: the self-join is keyed on user_id (bounded by each
    user's distinct-type set, domain-sized output); type totals are a
    tiny broadcast; no all-pairs anywhere."""
    ev = _read(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct()
    n_users = ev.select(F.countDistinct("user_id").alias("n")).collect()[0]["n"]
    tc = ut.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a = ut.alias("a")
    b = ut.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    return (
        pairs.join(
            F.broadcast(tc.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))),
            "type_a",
        )
        .join(
            F.broadcast(tc.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))),
            "type_b",
        )
        .select(
            "type_a",
            "type_b",
            "n_ab",
            "n_a",
            "n_b",
            F.round(
                F.col("n_ab").cast("double") * F.lit(n_users) / (F.col("n_a") * F.col("n_b")),
                6,
            ).alias("lift"),
        )
        .orderBy("type_a", "type_b")
    )


@query(
    "q118_salted_skew_join",
    """
    WITH _ev AS (
        SELECT CASE WHEN user_id % 20 < 17 THEN 7 ELSE user_id END AS uid,
               cast(round(value * 100) as bigint) AS cents
        FROM events
    ),
    _dim AS (
        SELECT DISTINCT user_id AS uid, user_id % 5 AS cohort FROM events
    )
    SELECT cohort, cast(count(*) as bigint) AS n,
           cast(sum(cents) as bigint) AS sum_cents
    FROM _ev JOIN _dim USING (uid)
    GROUP BY cohort ORDER BY cohort
    """,
)
def q118_salted_skew_join(spark, sf_dir):
    """Skew-proof salted join (operators/scale.salted_join): 85% of the
    fact rows are remapped onto ONE hot key — the power-law shape of
    user/domain keys at web scale, where a plain hash join serializes
    the hot key on a single reducer.  The salted form spreads it over 16
    salt buckets by replicating only the dimension side; the oracle is
    the PLAIN join, proving row-identical results.

    (AQE's skew-join split does this adaptively for plain shuffles;
    the manual form covers known-skew pipelines and co-grouped ops.)"""
    from ..operators.scale import salted_join

    ev = _read(spark, sf_dir, "events").select(
        F.when(F.col("user_id") % 20 < 17, F.lit(7))
        .otherwise(F.col("user_id"))
        .cast("long")
        .alias("uid"),
        F.expr("cast(round(value * 100) as bigint)").alias("cents"),
    )
    dim = (
        _read(spark, sf_dir, "events")
        .select(F.col("user_id").alias("uid"))
        .distinct()
        .withColumn("cohort", (F.col("uid") % 5).cast("long"))
    )
    joined = salted_join(ev, dim, "uid", salt_buckets=16)
    return (
        joined.groupBy("cohort")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("sum_cents"))
        .orderBy("cohort")
    )


@query(
    "q120_triangle_count",
    _graph.triangle_count_sql(
        "SELECT doc_id AS src, "
        "(doc_id * 31 + t.i * 97) % (SELECT count(*) FROM documents) AS dst "
        "FROM documents, generate_series(1, 4) AS t(i)"
    ),
)
def q120_triangle_count(spark, sf_dir):
    """Exact triangle counting (operators/graph.triangle_count) over the
    q106 deterministic doc graph — wedge-join with DEGREE ORIENTATION
    (Schank/Wagner 2005): every undirected edge points low-degree →
    high-degree, bounding the quadratic wedge step at O(E^1.5) on any
    graph, hot hubs included.  Both phases are node-keyed equi-joins;
    the oracle runs the identical orientation in SQL."""
    docs = _read_docs(spark, sf_dir)
    n = docs.count()
    links = [((F.col("doc_id") * 31 + F.lit(i * 97)) % F.lit(n)) for i in range(1, 5)]
    edges = docs.select(
        F.col("doc_id").alias("src"), F.explode(F.array(*links)).alias("dst")
    )
    return _graph.triangle_count(edges)


@query(
    "q121_grouped_fit_pandas",
    f"""
    WITH _r AS ({_stats.grouped_regression_sql(
        'lineitem', 'l_returnflag',
        'cast(l_quantity as bigint)',
        'cast(round(l_extendedprice * 100) as bigint)')})
    SELECT l_returnflag, n, round(slope, 6) AS slope,
           round(intercept, 2) AS intercept, round(r2, 8) AS r2
    FROM _r ORDER BY l_returnflag
    """,
)
def q121_grouped_fit_pandas(spark, sf_dir):
    """Grouped-map applyInPandas surface (§2.11): the SAME per-group OLS
    spec as q105, executed imperatively in Arrow-batched pandas
    (operators/timeseries.grouped_fit_pandas — Python bignum sums are
    exact like the decimal path, so the grouped-map answer hash-matches
    the declarative closed-form oracle bit-for-bit).  The template for
    per-group fits Catalyst can't express; the declarative q105 form
    remains the production path."""
    li = _read(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").cast("bigint").alias("_x"),
        F.expr("cast(round(l_extendedprice * 100) as bigint)").alias("_y"),
    )
    r = _ts.grouped_fit_pandas(li, "l_returnflag", "_x", "_y")
    return r.select(
        "l_returnflag",
        "n",
        F.round("slope", 6).alias("slope"),
        F.round("intercept", 2).alias("intercept"),
        F.round("r2", 8).alias("r2"),
    ).orderBy("l_returnflag")


@query(
    "q125_integrity_audit",
    """
    SELECT 'customer_without_orders' AS check_name,
           cast((SELECT count(*) FROM customer
                 WHERE c_custkey NOT IN (SELECT o_custkey FROM orders))
                as bigint) AS n_violations
    UNION ALL
    SELECT 'orders_without_customer',
           cast((SELECT count(*) FROM orders
                 WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
                as bigint)
    UNION ALL
    SELECT 'lineitem_without_order',
           cast((SELECT count(*) FROM lineitem
                 WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
                as bigint)
    ORDER BY check_name
    """,
)
def q125_integrity_audit(spark, sf_dir):
    """Referential-integrity audit — the data-quality gate run before
    any pipeline consumes a snapshot: per foreign-key edge, the count of
    orphan rows via LEFT ANTI joins (null-safe, unlike raw NOT IN with
    nulls — key columns here are non-null by schema).

    Scale shape: each check is one anti join on the key (broadcast when
    the parent side is dim-sized) collapsing to a single count — no
    row-level output, no sort."""
    cust = _read(spark, sf_dir, "customer")
    orders = _read(spark, sf_dir, "orders")
    li = _read(spark, sf_dir, "lineitem")

    def check(name, df, key, parent, pkey):
        n = (
            df.join(parent.select(F.col(pkey).alias(key)), key, "left_anti")
            .agg(F.count(F.lit(1)).alias("n_violations"))
            .select(F.lit(name).alias("check_name"), "n_violations")
        )
        return n

    return (
        check("customer_without_orders", cust.select(F.col("c_custkey").alias("k")), "k", orders, "o_custkey")
        .unionByName(check("orders_without_customer", orders.select(F.col("o_custkey").alias("k")), "k", cust, "c_custkey"))
        .unionByName(check("lineitem_without_order", li.select(F.col("l_orderkey").alias("k")), "k", orders, "o_orderkey"))
        .orderBy("check_name")
    )


_Q134_EDGES = (
    "SELECT doc_id AS src, "
    "(doc_id * 31 + t.i * 97) % (SELECT count(*) FROM documents) AS dst "
    "FROM documents, generate_series(1, 4) AS t(i)"
)


@query(
    "q134_bounded_reachability",
    _graph.bounded_reachability_sql(
        _Q134_EDGES,
        "SELECT doc_id AS id FROM documents WHERE doc_id % 100 = 0",
        3,
    )
    + " ORDER BY id",
)
def q134_bounded_reachability(spark, sf_dir):
    """Depth-limited transitive closure (operators/graph
    .bounded_reachability): vertices within 3 directed hops of the seed
    set with minimal hop distance — the recursive-CTE query class
    (dependency cones, contamination blast radius) as frontier-driven
    iterated joins.  Each round joins only the NEW frontier against the
    edge table; the DuckDB oracle is a genuine depth-limited RECURSIVE
    CTE over the same graph."""
    docs = _read_docs(spark, sf_dir)
    n = docs.count()
    links = [((F.col("doc_id") * 31 + F.lit(i * 97)) % F.lit(n)) for i in range(1, 5)]
    edges = docs.select(
        F.col("doc_id").alias("src"), F.explode(F.array(*links)).alias("dst")
    )
    seeds = docs.filter(F.col("doc_id") % 100 == 0).select(
        F.col("doc_id").alias("id")
    )
    out = _graph.bounded_reachability(edges, seeds, hops=3)
    return out.select("id", F.col("min_hops").cast("int").alias("min_hops")).orderBy(
        "id"
    )


_Q145_URL = (
    "' see https://host' || cast(doc_id % 7 as varchar) || "
    "'.example.com/p/' || cast(doc_id as varchar) || ' and '"
    "|| 'http://host' || cast(doc_id % 3 as varchar) || '.example.org/q'"
)


@query(
    "q145_domain_stats",
    f"""
    WITH _aug AS (
        SELECT doc_id, text || {_Q145_URL} AS text FROM documents
    ),
    _urls AS (
        SELECT doc_id,
               unnest(regexp_extract_all(text,
                      'https?://([a-z0-9.-]+)', 1)) AS domain
        FROM _aug
    )
    SELECT domain,
           cast(count(*) as bigint) AS n_links,
           cast(count(DISTINCT doc_id) as bigint) AS n_docs
    FROM _urls
    GROUP BY domain
    ORDER BY domain
    """,
)
def q145_domain_stats(spark, sf_dir):
    """URL extraction + domain-level link statistics (the web-corpus
    provenance/outlink analysis every crawl pipeline runs): URLs pulled
    by a shared Spark∩DuckDB regex dialect, aggregated per domain.
    Deterministic links are injected in-query on BOTH engines (q70's
    pattern) so the check can't pass vacuously.

    Scale shape: map-side regexp_extract_all + one domain-keyed
    aggregation with map-side combine; domains are a bounded key
    space."""
    docs = _read_docs(spark, sf_dir)
    aug = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" see https://host"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.com/p/"),
            F.col("doc_id").cast("string"),
            F.lit(" and http://host"),
            (F.col("doc_id") % 3).cast("string"),
            F.lit(".example.org/q"),
        ),
    )
    urls = aug.select(
        "doc_id",
        F.explode(
            F.expr("regexp_extract_all(text, 'https?://([a-z0-9.-]+)', 1)")
        ).alias("domain"),
    )
    return (
        urls.groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_links"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy("domain")
    )


@query(
    "q146_full_star_query",
    """
    SELECT r.r_name AS region, p.p_brand AS brand,
           cast(sum(cast(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                         as bigint)) as bigint) AS revenue_cents,
           cast(count(*) as bigint) AS n_lines
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    JOIN part p     ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    WHERE s.s_acctbal >= 0
    GROUP BY r.r_name, p.p_brand
    ORDER BY region, brand
    """,
)
def q146_full_star_query(spark, sf_dir):
    """The FULL star schema in one query — all seven tables: revenue by
    (region, brand) with a supplier-side predicate, exercising the
    complete dimension chain the join-culling engine usually prunes
    (q02 keeps 4 joins; this one needs every edge).

    Scale shape: fact-sized work is one scan + broadcast hash joins for
    every dimension (all dim tables are broadcast-sized by star-schema
    construction); one aggregation keyed on the two output dims."""
    li = _read(spark, sf_dir, "lineitem")
    o = _read(spark, sf_dir, "orders")
    c = _read(spark, sf_dir, "customer")
    n = _read(spark, sf_dir, "nation")
    r = _read(spark, sf_dir, "region")
    p = _read(spark, sf_dir, "part")
    s = _read(spark, sf_dir, "supplier")
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .filter(s.s_acctbal >= 0)
    )
    rev = F.expr(
        "cast(round(l_extendedprice * (1 - l_discount) * 100) as bigint)"
    )
    return (
        joined.groupBy(F.col("r_name").alias("region"), F.col("p_brand").alias("brand"))
        .agg(F.sum(rev).alias("revenue_cents"), F.count(F.lit(1)).alias("n_lines"))
        .orderBy("region", "brand")
    )


@query(
    "q147_local_supplier_revenue",
    """
    SELECT n.n_name AS nation,
           cast(sum(cast(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                         as bigint)) as bigint) AS local_revenue_cents,
           cast(count(*) as bigint) AS n_lines
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE s.s_nationkey = c.c_nationkey
    GROUP BY n.n_name
    ORDER BY nation
    """,
)
def q147_local_supplier_revenue(spark, sf_dir):
    """TPC-H Q5's signature shape: revenue where the SUPPLIER is in the
    CUSTOMER's nation (s_nationkey = c_nationkey — a cross-dimension
    equality predicate, not a star edge).  The predicate evaluates
    after both broadcast joins, filtering fact rows without any extra
    shuffle — the pattern for same-region/same-owner co-location
    analytics."""
    li = _read(spark, sf_dir, "lineitem")
    o = _read(spark, sf_dir, "orders")
    c = _read(spark, sf_dir, "customer")
    s = _read(spark, sf_dir, "supplier")
    n = _read(spark, sf_dir, "nation")
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .filter(s.s_nationkey == c.c_nationkey)
    )
    rev = F.expr(
        "cast(round(l_extendedprice * (1 - l_discount) * 100) as bigint)"
    )
    return (
        joined.groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(rev).alias("local_revenue_cents"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("nation")
    )


@query(
    "q149_higher_moments",
    """
    WITH _v AS (
        SELECT l_returnflag AS g,
               cast(round(l_extendedprice * 100) as bigint) AS x
        FROM lineitem
    ),
    _s AS (
        SELECT g, count(*) AS n,
               sum(cast(x as hugeint)) AS s1,
               sum(cast(x as hugeint) * cast(x as hugeint)) AS s2,
               sum(cast(x as hugeint) * cast(x as hugeint) * cast(x as hugeint)) AS s3,
               sum(cast(x as hugeint) * cast(x as hugeint) * cast(x as hugeint)
                   * cast(x as hugeint)) AS s4
        FROM _v GROUP BY g
    ),
    _d AS (
        SELECT g, cast(n as double) AS n, cast(s1 as double) AS s1,
               cast(s2 as double) AS s2, cast(s3 as double) AS s3,
               cast(s4 as double) AS s4
        FROM _s
    ),
    _m AS (
        SELECT g, n,
               s1 / n AS m1,
               s2 / n - (s1 / n) * (s1 / n) AS m2,
               s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * (s1 / n) * (s1 / n) * (s1 / n)
                   AS m3,
               s4 / n - 4 * (s1 / n) * (s3 / n)
                      + 6 * (s1 / n) * (s1 / n) * (s2 / n)
                      - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
        FROM _d
    )
    SELECT g AS l_returnflag, cast(n as bigint) AS n,
           round(m3 / (m2 * sqrt(m2)), 8) AS skewness,
           round(m4 / (m2 * m2) - 3, 8) AS excess_kurtosis
    FROM _m
    ORDER BY l_returnflag
    """,
)
def q149_higher_moments(spark, sf_dir):
    """Third/fourth central moments per group — skewness and excess
    kurtosis from one pass of exact power sums (completing the q07
    Sum/StdDev family upward; distribution-shape monitoring for drift
    beyond mean/variance).  Power sums are exact integers (decimal /
    HUGEINT); the moment algebra is a fixed sequence of identical IEEE
    ops, with x^1.5 spelled m2*sqrt(m2) — both correctly-rounded ops,
    never libm pow.

    Overflow guard (ADVICE r3): x⁴ sums approach 38 digits at ~10⁶-10⁷
    rows of 10⁷-cent values; non-ANSI Spark would go NULL silently while
    DuckDB's HUGEINT raises.  Same-pass max|x| feeds a raise_error guard
    (n·max⁴ < 9.9e37) so overflow is an error on both engines."""
    li = _read(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("g"),
        F.expr("cast(round(l_extendedprice * 100) as bigint)").alias("x"),
    )
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    x = F.col("x")
    sums = li.groupBy("g").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d(x)).alias("s1"),
        F.sum((d(x) * d(x)).cast("decimal(38,0)")).alias("s2"),
        F.sum((d(x) * d(x) * d(x)).cast("decimal(38,0)")).alias("s3"),
        F.sum((d(x) * d(x) * d(x) * d(x)).cast("decimal(38,0)")).alias("s4"),
        F.max(F.abs(x)).cast("double").alias("_mx"),
    )
    mx = F.col("_mx")
    n_raw = F.col("n").cast("double")
    sums = sums.withColumn(
        "n",
        F.when(
            mx * mx * mx * mx * n_raw >= F.lit(9.9e37),
            F.raise_error(
                F.lit("q149 overflow risk: n*max|x|^4 approaches decimal(38,0); "
                      "rescale x")
            ).cast("long"),
        ).otherwise(F.col("n")),
    )
    n = F.col("n").cast("double")
    s1, s2 = F.col("s1").cast("double"), F.col("s2").cast("double")
    s3, s4 = F.col("s3").cast("double"), F.col("s4").cast("double")
    m1 = s1 / n
    m2 = s2 / n - m1 * m1
    m3 = s3 / n - 3 * m1 * (s2 / n) + 2 * m1 * m1 * m1
    m4 = s4 / n - 4 * m1 * (s3 / n) + 6 * m1 * m1 * (s2 / n) - 3 * m1 * m1 * m1 * m1
    return sums.select(
        F.col("g").alias("l_returnflag"),
        F.col("n").cast("long").alias("n"),
        F.round(m3 / (m2 * F.sqrt(m2)), 8).alias("skewness"),
        F.round(m4 / (m2 * m2) - 3, 8).alias("excess_kurtosis"),
    ).orderBy("l_returnflag")


@query(
    "q166_ams_selfjoin_size",
    f"""
    WITH est AS ({_sk.ams_f2_sql('events', 'user_id')}),
    ex AS (
      SELECT cast(sum(cnt * cnt) as bigint) AS f2_exact,
             cast(sum(cnt) as bigint) AS n_rows
      FROM (SELECT count(*) AS cnt FROM events
            WHERE user_id IS NOT NULL GROUP BY user_id)
    )
    SELECT est.f2_estimate AS f2_estimate, ex.f2_exact AS f2_exact,
           ex.n_rows AS n_rows,
           round(((est.f2_estimate - ex.f2_exact) / ex.f2_exact) * 100, 4)
             AS rel_err_pct
    FROM est, ex
    """,
)
def q166_ams_selfjoin_size(spark, sf_dir):
    """AMS F2 sketch (operators/sketch.ams_f2, Alon-Matias-Szegedy):
    the SELF-JOIN SIZE of events.user_id — sum of per-key frequency
    squared, the quantity that decides whether a join key is skewed
    enough to salt (operators/scale.salted_join) — estimated in ONE
    map-side pass with 64 +-1 counters and NO groupBy on the key. The
    exact F2 (which needs the per-key shuffle the sketch avoids) is the
    gate's verification side.

    Scale shape: the sketch aggregates 64 longs with map-side partial
    sums — constant state, no per-key anything; counters merge by
    addition so per-shard sketches re-aggregate for free. Signs come
    from md5 bits, so the estimate is bit-identical across engines and
    partitionings (exact integers until one division)."""
    ev = _read(spark, sf_dir, "events")
    est = _sk.ams_f2(ev, "user_id")
    ex = (
        ev.where(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .agg(
            F.sum(F.col("cnt") * F.col("cnt")).alias("f2_exact"),
            F.sum("cnt").alias("n_rows"),
        )
    )
    return est.crossJoin(ex).select(
        "f2_estimate",
        "f2_exact",
        "n_rows",
        F.round(
            ((F.col("f2_estimate") - F.col("f2_exact")) / F.col("f2_exact")) * 100, 4
        ).alias("rel_err_pct"),
    )


@query(
    "q168_auto_salted_join",
    """
    WITH _ev AS (
        SELECT CASE WHEN user_id % 20 < 17 THEN 7 ELSE user_id END AS uid,
               cast(round(value * 100) as bigint) AS cents
        FROM events
    ),
    _dim AS (
        SELECT DISTINCT user_id AS uid, user_id % 5 AS cohort FROM events
    )
    SELECT cohort, cast(count(*) as bigint) AS n,
           cast(sum(cents) as bigint) AS sum_cents
    FROM _ev JOIN _dim USING (uid)
    GROUP BY cohort ORDER BY cohort
    """,
)
def q168_auto_salted_join(spark, sf_dir):
    """Statistics-driven salting (operators/scale.auto_salt_join): the
    q118 skew construction again, but the SALTING DECISION is made by
    the AMS F2 sketch (q166's operator) instead of the caller's
    knowledge — one map-side 64-counter pass estimates the mean
    collision factor F2/n (~0.85^2·n here, far over the threshold), so
    the join runs salted; a uniform key would run plain (unit-tested
    plan shapes in tests/test_sketch.py). Oracle is the PLAIN join —
    the decision must never change results, only the shuffle shape.

    Scale note: the sketch pass is scan-bound with constant state; at
    real scale the decision is table metadata — pass ``big_path`` and
    ``operators/scale.key_skew_stats`` serves the (n, F2) moments from a
    manifest-stamped sidecar, rescanned only when the table's files
    change (tested in tests/test_sketch.py). The gate keeps the inline
    form because the fact side here is a derived view of a read-only
    table."""
    from ..operators.scale import auto_salt_join

    ev = _read(spark, sf_dir, "events").select(
        F.when(F.col("user_id") % 20 < 17, F.lit(7))
        .otherwise(F.col("user_id"))
        .cast("long")
        .alias("uid"),
        F.expr("cast(round(value * 100) as bigint)").alias("cents"),
    )
    dim = (
        _read(spark, sf_dir, "events")
        .select(F.col("user_id").alias("uid"))
        .distinct()
        .withColumn("cohort", (F.col("uid") % 5).cast("long"))
    )
    joined = auto_salt_join(ev, dim, "uid", salt_buckets=16)
    return (
        joined.groupBy("cohort")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("sum_cents"))
        .orderBy("cohort")
    )


_funnel = __import__("bacon_spark.operators.funnel", fromlist=["x"])


@query("q178_event_funnel", _funnel.funnel_sql("events", ("view", "click", "purchase")))
def q178_event_funnel(spark, sf_dir):
    """Ordered event funnel (operators/funnel.funnel): users completing
    view -> click -> purchase IN ORDER, each step within 7 days of the
    previous — a conditional-min chain (step i = earliest qualifying
    event after the user's step i-1 timestamp), the deterministic
    first-touch funnel the cube surface can't express (it needs
    per-user ORDERED logic, not per-row labels).

    Scale shape: events repartition by user ONCE and every step
    aggregation groups on that key, so the chain costs one full shuffle
    of (user, type, ts) triples regardless of step count; the per-step
    joins are against one-row-per-user frames, and per-user state is one
    timestamp per step — no event arrays, no collect."""
    from ..operators.funnel import funnel

    ev = _read(spark, sf_dir, "events")
    return funnel(ev, ("view", "click", "purchase"), horizon="7 days")


@query("q179_cohort_retention", _funnel.cohort_retention_sql("events"))
def q179_cohort_retention(spark, sf_dir):
    """Cohort retention triangle (operators/funnel.cohort_retention):
    users bucketed by FIRST-SEEN ISO week, distinct-user activity per
    (cohort week, week offset), retained_pct against the cohort's
    offset-0 size — the standard product-analytics retention matrix,
    as two user-keyed aggregations (first-seen, then distinct activity
    periods). All arithmetic is integer (datediff div 7) until the one
    rounded percentage division, so both engines agree exactly.

    Scale shape: per-user state is one timestamp; the activity frame is
    (user, period) distinct pairs — bounded by users x live periods, not
    event count; the cohort-size join is against an offset-0 frame of at
    most |cohorts| rows (broadcast at any scale)."""
    from ..operators.funnel import cohort_retention

    ev = _read(spark, sf_dir, "events")
    return cohort_retention(ev)


def _stats_layout_path(sf_dir):
    """Per-dataset clustered-events layout for q180, anchored on the
    state root (cwd varies) and keyed by dataset path."""
    import hashlib
    import os

    from ..utils.state import state_root

    key = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    return os.path.join(state_root(), ".stats_demo", f"events-{key}")


def _stats_layout_prebuilt(spark, sf_dir):
    """Build-if-absent the q180 layout: events rewritten range-clustered
    on ts into ~8 files (disjoint time ranges), then footer min/max
    stats for ts committed to the manifest (operators/maintenance.
    attach_file_stats) — the once-per-ingest half of file skipping."""
    import os

    from ..operators.maintenance import attach_file_stats, read_manifest

    path = _stats_layout_path(sf_dir)
    man = read_manifest(path)
    if man is not None and "file_stats" in man:
        return path
    if man is None:
        os.makedirs(path, exist_ok=True)
        ev = _read(spark, sf_dir, "events")
        # Spark's default parquet timestamp encoding is legacy INT96,
        # which carries NO footer min/max — write TIMESTAMP_MICROS so
        # the stats the skip relies on actually exist
        with conf_override(
            spark, {"spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS"}
        ):
            ev.repartitionByRange(8, F.col("ts")).sortWithinPartitions(
                "ts"
            ).write.mode("overwrite").parquet(path)
    attach_file_stats(path, ["ts"])
    return path


@query(
    "q180_stats_pruned_scan",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
           count(*) AS n,
           cast(sum(cast(round(value * 100) as bigint)) as bigint) AS sum_cents
    FROM events
    WHERE strftime(ts, '%Y-%m-%d') = '2024-01-15'
    GROUP BY 1
    """,
    prepare=_stats_layout_prebuilt,
)
def q180_stats_pruned_scan(spark, sf_dir):
    """Manifest-driven FILE skipping (operators/maintenance.
    attach_file_stats + stats_pruned_read): footer min/max statistics
    per file, committed into the manifest once per ingest, prune a
    time-range scan to only the files whose [min, max] ts overlaps the
    queried day — Delta-style data skipping without a metastore, the
    file-level complement to hive partition pruning (directories) and
    parquet row-group skipping (pages). Paired with the range-clustered
    layout (compact(cluster_by=ts)'s disjoint file ranges), one queried
    day of a 30-day table touches 1-2 of 8 files; the skip rate is
    asserted in tests/test_maintenance.py.

    Pruning is a superset guarantee — the residual day filter still
    applies — so results are identical to the full scan, which is what
    the oracle (a plain filter over the original events) checks."""
    import datetime as dt

    from ..operators.maintenance import stats_pruned_read

    path = _stats_layout_prebuilt(spark, sf_dir)
    df, _info = stats_pruned_read(
        spark, path, "ts", lo=dt.datetime(2024, 1, 15), hi=dt.datetime(2024, 1, 16)
    )
    return (
        df.where(F.date_format("ts", "yyyy-MM-dd") == "2024-01-15")
        .groupBy(
            F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias(
                "hour"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.expr("cast(round(value * 100) as bigint)")).alias("sum_cents"),
        )
    )


def _orders_month_layout_prebuilt(spark, sf_dir):
    """Build-if-absent the MONTH-PARTITIONED orders layout (q187): orders
    rewritten ``months-*/o_month=YYYY-MM/`` via operators/maintenance.
    write_hive_partitioned, published under a manifest commit (data in a
    subdirectory so partition discovery never sees the manifest files).
    The once-per-ingest half of directory pruning — the physical layout
    the reference's sargable date-label rewrite
    (/root/reference/bacon/cubedef.py:728-741) wants underneath it: the
    reference adds an index-friendly raw-column bound for Postgres;
    at lake scale the same bound must select DIRECTORIES."""
    import os
    import uuid

    from ..operators.maintenance import (
        commit_manifest,
        read_manifest,
        table_files,
        write_hive_partitioned,
    )

    path = artifact_path(sf_dir, "omonth")
    man = read_manifest(path)
    if man is not None and "layout" in man:
        return path
    orders = _read(spark, sf_dir, "orders")
    data_dir = f"months-{uuid.uuid4().hex[:8]}"
    write_hive_partitioned(
        orders.withColumn("o_month", F.date_format("o_orderdate", "yyyy-MM")),
        os.path.join(path, data_dir),
        ["o_month"],
    )
    files = [
        (os.path.relpath(f, path), b)
        for f, b in table_files(os.path.join(path, data_dir))
    ]
    commit_manifest(
        path,
        files,
        op="omonth-build",
        extra={"layout": {"data_dir": data_dir, "partition_col": "o_month"}},
    )
    return path


@query(
    "q187_partition_pruned_month_drill",
    """
    SELECT strftime(o_orderdate, '%Y-%m') AS o_month,
           count(*) AS n_orders,
           round(cast(sum(cast(o_totalprice as decimal(38,4))) as double), 2) AS total
    FROM orders
    WHERE strftime(o_orderdate, '%Y-%m') >= '1997-01'
      AND strftime(o_orderdate, '%Y-%m') <= '1997-03'
    GROUP BY 1
    ORDER BY o_month
    """,
    prepare=_orders_month_layout_prebuilt,
)
def q187_partition_pruned_month_drill(spark, sf_dir):
    """A quarter drill over the month-PARTITIONED orders layout: the
    partition-key range predicate becomes DIRECTORY pruning at plan time
    (``PartitionFilters`` in the scan; only the three matching
    ``o_month=`` directories are listed — plan- and file-asserted in
    tests/test_maintenance.py). This is the hive-layout realization of
    the cube's sargable date drill (SURVEY §4): the reference rewrites a
    truncating date-label filter into a raw-column bound for a Postgres
    index; here the same drill selects 3 of ~80 directories, which at
    100 TB is the first-order scan lever (file skipping, q180, is the
    second). Results are identical to the full scan by the pruning
    superset guarantee — what the oracle (a plain filter over raw
    orders) checks."""
    import os

    from ..operators.maintenance import read_manifest

    path = _orders_month_layout_prebuilt(spark, sf_dir)
    dd = read_manifest(path)["layout"]["data_dir"]
    df = spark.read.parquet(os.path.join(path, dd))
    return (
        df.filter((F.col("o_month") >= "1997-01") & (F.col("o_month") <= "1997-03"))
        .groupBy("o_month")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(
                F.sum(F.expr(dec("o_totalprice"))).cast("double"), 2
            ).alias("total"),
        )
        .orderBy("o_month")
    )
