"""Plan-shape regression tests: pin the physical-plan properties SCALE.md
claims (pushdown, broadcast-only star joins, top-k without global sort).
A change that silently degrades one of these should fail CI, not show up
as a 10x bench regression later."""

import pytest

from bacon_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    df = QUERIES[name](spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(spark, name: str) -> str:
    df = QUERIES[name](spark, SF)
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_q01_filter_pushed_to_scan(spark):
    df = QUERIES["q01_pricing_summary"](spark, SF)
    explained = df._jdf.queryExecution().toString()
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate" in explained


def test_q02_star_join_all_broadcast(spark):
    # 4 joins after culling (part+supplier dropped); all broadcast
    plan = plan_of(spark, "q02_revenue_by_region_nation")
    assert plan.count("BroadcastHashJoin") == 4
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q04_topk_is_take_ordered(spark):
    plan = plan_of(spark, "q04_top_customers")
    assert "TakeOrderedAndProject" in plan


def test_q31_cosine_topk_is_take_ordered(spark):
    plan = plan_of(spark, "q31_cosine_topk")
    assert "TakeOrderedAndProject" in plan


def test_q22_dedup_shuffles_digest_not_bodies(spark):
    # the exchange below the dedup aggregation must not carry the text
    # column — only (digest, id)
    opt = optimized_of(spark, "q22_dedup_exact")
    import re

    aggs = [ln for ln in opt.splitlines() if "Aggregate" in ln and "_digest" in ln]
    assert aggs, opt
    assert not any("text#" in ln for ln in aggs)


def test_no_python_row_udfs_in_core_queries(spark):
    # hot-path queries stay JVM-side: no BatchEvalPython (row-at-a-time
    # python UDF) anywhere; ArrowEvalPython only in the declared UDAF query
    for name in ["q01_pricing_summary", "q02_revenue_by_region_nation",
                 "q24_lang_id", "q27_minhash_signature", "q31_cosine_topk"]:
        plan = plan_of(spark, name)
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name


def test_join_culling(spark):
    from bacon_spark import CubeDef, CubeQuery, Label, Measure, Sum
    from bacon_spark.cubedef import DayLabel
    from bacon_spark.sources.star import StarTables, fact_for_cube, referenced_prefixes

    # expression scan
    assert referenced_prefixes(["l_quantity * 2"]) == {"l_"}
    assert referenced_prefixes(["cast(o_totalprice as decimal(38,4))"]) == {"o_"}
    assert "r_" in referenced_prefixes(["region"])

    cd = CubeDef("t")
    cd.add_label(Label("orderstatus", "o_orderstatus"))
    cd.add_measure(Measure("qty", "l_quantity", acc=Sum()))
    q = CubeQuery().add_axis("orderstatus").add_value("qty")
    fact = fact_for_cube(StarTables(spark, SF), cd, q)
    plan = fact._jdf.queryExecution().executedPlan().toString()
    # only the lineitem<->orders join remains; 5 dimension joins culled
    assert plan.count("Join") == 1, plan

    # a date-hierarchy label keeps its column in _base, not _expr: a query
    # whose only orders column is o_orderdate still joins orders
    cd.add_label(DayLabel("order_day", "o_orderdate"))
    qd = CubeQuery().add_axis("order_day").add_value("qty")
    fact = fact_for_cube(StarTables(spark, SF), cd, qd)
    plan = fact._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Join") == 1, plan
    assert fact.groupBy("o_orderdate").count().limit(1).collect()

    # a ratio measure reads its num/den, not its per-record callable: a
    # (region, discount_rate) query joins the chain to region and no more
    from bacon_spark.sources.star import sales_cubedef

    tables = StarTables(spark, SF)
    qr = CubeQuery().add_axis("region").add_value("discount_rate")
    fact_for_cube(tables, sales_cubedef(), qr)
    assert list(tables._facts) == [(("orders", "customer", "nation", "region"), True)]

    # q02's plan keeps the chain to region but culls part+supplier
    from bacon_spark.queries import QUERIES

    df = QUERIES["q02_revenue_by_region_nation"](spark, "/root/testdata/sf0.001")
    plan2 = df._jdf.queryExecution().executedPlan().toString()
    assert plan2.count("BroadcastHashJoin") == 4


def _slice_rows(board, q) -> list[tuple]:
    """A slice's rows as sorted tuples, floats rounded past summation-order
    noise."""
    return sorted(
        tuple(round(v, 6) if isinstance(v, float) else v for v in r)
        for r in board.slice(q).rows()
    )


def test_star_board_culls_per_query(spark):
    from bacon_spark import CubeQuery
    from bacon_spark.engine import CuttingBoard
    from bacon_spark.sources.star import StarCuttingBoard, sales_cubedef, sales_fact

    board = StarCuttingBoard(sales_cubedef(), spark, SF, cache_results=False)
    ref = CuttingBoard(sales_cubedef(), sales_fact(spark, SF), cache_results=False)
    # lineitem+orders query -> 1 join
    q1 = CubeQuery().add_axis("orderstatus").add_value("quantity")
    p1 = board.slice(q1).to_df()._jdf.queryExecution().executedPlan().toString()
    assert p1.count("BroadcastHashJoin") == 1
    # brand axis needs only lineitem<->part -> still 1 join, no orders scan
    q2 = CubeQuery().add_axis("brand").add_value("quantity")
    p2 = board.slice(q2).to_df()._jdf.queryExecution().executedPlan().toString()
    assert p2.count("BroadcastHashJoin") == 1
    assert "part.parquet" in p2 and "orders.parquet" not in p2
    # both together -> 2 joins
    q3 = CubeQuery().add_axis("brand").add_axis("orderstatus").add_value("quantity")
    p3 = board.slice(q3).to_df()._jdf.queryExecution().executedPlan().toString()
    assert p3.count("BroadcastHashJoin") == 2
    # every join set answers as the unculled fact view does
    q4 = CubeQuery().add_axis("region").add_axis("nation").add_value("n_items")
    q5 = CubeQuery().add_axis("returnflag").add_value("revenue").add_value("n_parts")
    for q in (q1, q2, q3, q4, q5):
        got = _slice_rows(board, q)
        assert got and got == _slice_rows(ref, q), q


#: queries over distinct join sets of the sales cube
_JOIN_SET_AXES = [
    ("orderstatus",),
    ("brand",),
    ("region", "brand"),
    ("returnflag",),
    ("mktsegment",),
    ("nation",),
    ("orderpriority", "ptype"),
    ("mktsegment", "brand"),
]


#: ``MEMO_MAX_ROWS`` for a star board that folds its snapshot (the class
#: default) and for one over the cap (sf0.001 has 6,000 lineitem rows)
_STAR_CAPS = [None, 1_000]


def _star_board(spark, sf_dir, cap, monkeypatch):
    """A caching StarCuttingBoard that keeps a snapshot (*cap* None) or,
    with ``MEMO_MAX_ROWS`` patched to *cap*, is over the cap and plans
    cold slices over culled views."""
    from bacon_spark.engine import CuttingBoard
    from bacon_spark.operators import decisions
    from bacon_spark.sources.star import StarCuttingBoard, sales_cubedef

    if cap is not None:
        monkeypatch.setattr(CuttingBoard, "MEMO_MAX_ROWS", cap)
    board = StarCuttingBoard(sales_cubedef(), spark, sf_dir)
    route = decisions.last("snapshot", context=board.decisions_context).route
    assert route == ("built" if cap is None else "over_cap")
    assert (board._snap is None) == (cap is not None)
    return board


@pytest.mark.parametrize("cap", _STAR_CAPS, ids=["snapshot", "over_cap"])
def test_star_board_plans_cold_slices_without_jobs(spark, cap, monkeypatch):
    """A board reads each table once, at construction: planning a cold
    slice on a new join set launches no Spark job (each parquet read
    infers its schema in one), and folding it from the snapshot launches
    none either. Threads slicing distinct join sets on one board get the
    serial rows."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    from bacon_spark import CubeQuery

    def query(axes):
        q = CubeQuery()
        for a in axes:
            q = q.add_axis(a)
        return q.add_value("quantity").add_value("n_items")

    queries = [query(axes) for axes in _JOIN_SET_AXES]
    sc = spark.sparkContext
    board = _star_board(spark, SF, cap, monkeypatch)
    sc.setJobGroup("star-board-plan", "plan cold slices")
    try:
        for q in queries[:3]:
            board.slice(q)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("star-board-plan")) == []

    serial = [_slice_rows(board, q) for q in queries]
    assert all(serial)
    shared = _star_board(spark, SF, cap, monkeypatch)
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-4)
    try:
        with ThreadPoolExecutor(8) as pool:
            got = list(pool.map(lambda q: _slice_rows(shared, q), queries, timeout=300))
    finally:
        sys.setswitchinterval(interval)
    assert got == serial


def test_star_board_folds_cold_navigation_without_jobs(spark):
    """A caching star board extracts its full view once, at construction,
    and folds nav-shaped cold slices from it: every measure, a date label
    with no other orders label, eq/ne/in filters and a grand total launch
    no job and answer as the unculled view does on Spark."""
    from bacon_spark import CubeQuery
    from bacon_spark.engine import CuttingBoard
    from bacon_spark.operators import decisions
    from bacon_spark.sources.star import StarCuttingBoard, sales_cubedef, sales_fact

    cd = sales_cubedef()
    measures = [m.name for m in cd.measures]
    assert len(measures) == 10
    board = StarCuttingBoard(cd, spark, SF)
    ref = CuttingBoard(sales_cubedef(), sales_fact(spark, SF), cache_results=False)

    def query(axes, values, filters=()):
        q = CubeQuery()
        for a in axes:
            q = q.add_axis(a)
        for v in values:
            q = q.add_value(v)
        for f in filters:
            q = q.add_filter(*f)
        return q

    queries = [
        query(["region"], measures),
        query(["order_day"], ["quantity", "n_items"]),
        query(["nation"], ["revenue", "discount_rate"], [("region", "eq", "ASIA")]),
        query(["linestatus"], ["charge", "avg_quantity"], [("returnflag", "ne", "R")]),
        query(
            ["brand", "orderpriority"],
            ["n_parts", "max_price"],
            [("mktsegment", "in", ["BUILDING", "MACHINERY"])],
        ),
        query([], measures),
    ]
    sc = spark.sparkContext
    sc.setJobGroup("star-board-fold", "fold cold slices")
    try:
        got = []
        for q in queries:
            got.append(_slice_rows(board, q))
            d = decisions.last("cold_fold", context=board.decisions_context)
            assert d.route == "local_cold", (q, d)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("star-board-fold")) == []
    for q, rows in zip(queries, got):
        assert rows and rows == _slice_rows(ref, q), q


def test_q40_no_cartesian_or_bnlj(spark):
    # exact all-pairs via block-partitioned equi-join: the round-1
    # BroadcastNestedLoopJoin (single-task cartesian) must never return
    plan = plan_of(spark, "q40_embedding_near_dup")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_blocked_all_pairs_matches_naive(spark, sf_dir):
    # exactness: block decomposition compares every unordered pair once
    from pyspark.sql import functions as F

    from bacon_spark.llm import similarity as sim
    from bacon_spark.sources.star import read_table

    emb = read_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 60)
    blocked = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in sim.blocked_all_pairs_cosine(emb, 0.2, blocks=4).collect()
    }
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb"))
    naive = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(sim.cosine(F.col("ea"), F.col("eb")), 6).alias("cos_sim"))
        .filter(F.col("cos_sim") >= 0.2)
        .collect()
    }
    assert blocked == naive


def test_q73_lsh_join_is_equi_join(spark):
    # candidate generation must join on the bucket key, never BNLJ
    plan = plan_of(spark, "q73_embedding_lsh_pairs")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q74_packing_single_window_exchange(spark):
    # one hash exchange on shard feeds the cumulative-sum window; no
    # total-order (rangepartitioning over all rows) anywhere
    plan = plan_of(spark, "q74_sequence_packing")
    assert plan.count("Window") == 1
    assert "rangepartitioning" not in plan.lower()


def test_widen_no_exchange_when_already_wide(spark):
    # the corpus widening must be conditional: a scan that is already at
    # least defaultParallelism partitions wide gets NO round-robin
    # Exchange (at 100 TB an unconditional repartition re-shuffles the
    # full corpus, bodies included, before every text operator)
    from bacon_spark.operators.scale import widen

    par = spark.sparkContext.defaultParallelism
    wide = spark.range(0, 10_000, 1, numPartitions=par * 2)
    out = widen(wide)
    assert out is wide  # no new plan node at all
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "roundrobinpartitioning" not in plan.lower()

    # and a single-partition scan IS widened (the fixture's shape)
    narrow = spark.range(0, 10_000, 1, numPartitions=1)
    out2 = widen(narrow)
    assert out2.rdd.getNumPartitions() == par
    plan2 = out2._jdf.queryExecution().executedPlan().toString()
    assert "roundrobinpartitioning" in plan2.lower()


def test_q78_salted_agg_two_phase(spark):
    # partial agg on (key, salt) then final on key: exactly two
    # aggregate exchanges, no single-key hot reducer
    plan = plan_of(spark, "q78_salted_agg")
    assert "_salt" in plan
    assert plan.count("Exchange hashpartitioning") == 2


def test_q87_boilerplate_set_is_broadcast_probe(spark):
    # the per-doc scoring join probes the (small, high-DF) boilerplate
    # set via broadcast — corpus bodies are never exchanged for it
    plan = plan_of(spark, "q87_boilerplate_ngrams")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q88_dsir_bucket_model_broadcast(spark):
    # the 64-row bucket model joins the per-doc features via broadcast;
    # no sort-merge join of the corpus against it
    plan = plan_of(spark, "q88_dsir_importance")
    assert "BroadcastHashJoin" in plan


def test_q89_histogram_partial_agg_before_shuffle(spark):
    # bounded key domain: a partial_count aggregate must sit below the
    # exchange, so each map task emits <= nbins+2 rows
    plan = plan_of(spark, "q89_histogram")
    assert "partial_count" in plan or "HashAggregate" in plan
    assert "CartesianProduct" not in plan


def test_q97_knn_join_no_corpus_shuffle(spark):
    # probe batch broadcast; the only wide exchange ranks the
    # pre-top-k'd (|Q| * k * partitions) rows — the corpus embedding
    # column must not appear in any Exchange
    plan = plan_of(spark, "q97_knn_join")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    ex = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert not any("embedding#" in ln for ln in ex), ex


def test_canonical_dedup_corpus_joins_are_equi(spark):
    # left_anti + left joins of the corpus against dup-sized cluster
    # tables: hash/broadcast equi-joins only, never nested-loop
    plan = plan_of(spark, "q91_canonical_dedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q102_bpe_pairs_explode_after_vocab_agg(spark):
    # the pair explode must sit ABOVE the word-count aggregate (vocab-
    # sized input), and the only corpus-sized exchange carries the bare
    # word column, never text bodies
    opt = optimized_of(spark, "q102_bpe_pair_counts")
    lines = opt.splitlines()
    gen_idx = [i for i, ln in enumerate(lines) if "Generate explode" in ln]
    agg_idx = [i for i, ln in enumerate(lines) if "Aggregate" in ln and "wcnt" in ln]
    assert gen_idx and agg_idx
    # tree prints root-first: the pair explode (first Generate) must be a
    # parent of (printed before) the vocab aggregate
    assert min(gen_idx) < max(agg_idx)
    assert not any("text#" in ln for ln in lines if "Exchange" in ln)


def test_q104_sweep_window_is_day_partitioned(spark):
    # the event-level prefix-sum window must be partitioned (by the day
    # chunk) — a global unpartitioned window over the sweep events would
    # serialize the corpus through one task. The only unpartitioned
    # window allowed is the chunk-carry (day-cardinality input).
    opt = optimized_of(spark, "q104_hourly_concurrency")
    import re

    wins = re.findall(r"Window \[.*?windowspecdefinition\(([^,]*),", opt)
    assert wins, opt
    partitioned = [w for w in wins if "_chunk" in w]
    assert partitioned, f"no day-partitioned window in: {wins}"


def test_q105_regression_is_single_aggregate_pass(spark):
    # one partial+final aggregate pair, no join, no window
    plan = plan_of(spark, "q105_price_quantity_regression")
    assert "Join" not in plan
    assert "Window" not in plan


def test_q107_postings_window_rides_term_exchange(spark):
    # the row_number cap and the term aggregates hash-partition on term;
    # no broadcast of the (term, doc) table, no global sort below the
    # final top-k
    plan = plan_of(spark, "q107_inverted_index")
    assert "hashpartitioning(term" in plan
    assert "TakeOrderedAndProject" in plan
    # Spark pushes the rn <= cap filter into the shuffle as a group limit:
    # no executor ever buffers an unbounded posting list
    opt = optimized_of(spark, "q107_inverted_index")
    assert "WindowGroupLimit" in opt


def test_q109_winnow_join_is_equi_on_minimizer(spark):
    # fingerprint self-join must be an equi-join (hash-partitioned or
    # broadcast on m) — never a cartesian/BNLJ pair enumeration
    plan = plan_of(spark, "q109_winnow_overlap_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q110_spans_shuffle_carries_hashes_not_text(spark):
    opt = optimized_of(spark, "q110_duplicate_spans")
    exchanges = [ln for ln in opt.splitlines() if "Exchange" in ln]
    assert not any("text#" in ln for ln in exchanges)


def test_q111_global_rank_has_no_rank_window(spark):
    # the global ordinal comes from range partition + offset stitching:
    # no row_number window anywhere (the oracle's row_number is spec,
    # not implementation), corpus flows through MapInPandas stamping
    plan = plan_of(spark, "q111_global_rank")
    assert "row_number" not in plan
    assert "MapInPandas" in plan


def test_q112_quantile_buckets_no_sort_no_window(spark):
    # bucket assignment is a broadcast threshold chain: no window, no
    # join (thresholds are literals), single aggregate for the summary
    plan = plan_of(spark, "q112_quantile_buckets")
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan


def test_q127_listagg_top5_cut_inside_shuffle(spark):
    opt = optimized_of(spark, "q127_listagg")
    assert "WindowGroupLimit" in opt  # O(5) per-group state before collect


def test_q130_subqueries_decorrelated_to_joins(spark):
    # both correlated subqueries must become aggregate+join plans —
    # no per-row subquery execution survives in the physical plan
    plan = plan_of(spark, "q130_correlated_subquery")
    assert plan.count("Join") >= 2
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q146_full_star_all_dims_broadcast(spark):
    # all six dimension joins broadcast; no SMJ, no cartesian; the only
    # possibly-shuffled join is lineitem x orders (both fact-scale)
    plan = plan_of(spark, "q146_full_star_query")
    assert plan.count("BroadcastHashJoin") >= 5
    assert "CartesianProduct" not in plan


def test_q147_cross_dim_predicate_no_extra_shuffle(spark):
    # s_nationkey = c_nationkey must evaluate as a filter over the
    # joined rows, not create a join between the two dimensions
    plan = plan_of(spark, "q147_local_supplier_revenue")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q140_reads_counts_table_never_documents(spark):
    # r8 shape: the query runs ENTIRELY over the persisted vocabulary-
    # sized (tok, cnt) table (llm/tokens_table) — the corpus is
    # tokenized once at ingest, so the plan must scan the artifact's
    # counts parquet, never documents, and contain NO aggregation at
    # all (the exact count is stored); the CM estimate probe
    # (least(element_at...)) remains a map-side Filter
    df = QUERIES["q140_cm_heavy_hitters"](spark, SF)
    try:
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "documents" not in plan
        assert "counts-" in plan  # the token table's counts directory
        assert "HashAggregate" not in plan and "SortAggregate" not in plan
        opt = df._jdf.queryExecution().optimizedPlan().toString()
        assert "least(" in opt  # the sketch prefilter survives
    finally:
        spark.catalog.clearCache()


def test_q139_quantization_cached_once(spark):
    # the persist fix (r4): both join sides read the quantized frame from
    # cache — quantization (array transform over every vector) appears in
    # no more than one scan
    df = QUERIES["q139_quantized_ann_topk"](spark, SF)
    try:
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("InMemoryTableScan") >= 2  # probe + corpus sides
    finally:
        spark.catalog.clearCache()


def test_star_edge_ops_have_no_inequality_pair_joins(spark):
    # r4 scalable dedup: the star-edge graph must be built from EQUALITY
    # joins only (bucket key, hub id) — the sum-bucket^2 pair enumeration
    # shows up as a self-join with an `id < id` condition, which must not
    # exist anywhere in these plans
    from pyspark.sql import functions as F

    from bacon_spark.llm.dedup import lsh_star_edges
    from bacon_spark.llm.similarity import embedding_dedup_scalable
    from bacon_spark.sources.star import read_table

    docs = read_table(spark, SF, "documents")
    plan = lsh_star_edges(docs)._jdf.queryExecution().optimizedPlan().toString()
    for line in plan.splitlines():
        if "Join" in line:
            assert " < " not in line, line

    emb = read_table(spark, SF, "embeddings")
    out = embedding_dedup_scalable(emb, dim=64, threshold=0.2)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    for line in plan.splitlines():
        if "Join" in line and "LeftAnti" not in line:
            assert " < " not in line, line


def test_q86_candidate_recount_isin_pushed_to_scan(spark):
    """r9b gram heads: the exact-recount phase must reach the full gram
    table's parquet scan as a pushed In() filter (point lookups into the
    range-sorted lookup table), never as a post-scan join — and the
    candidate phase must read the head table, not the full synopsis."""
    df = QUERIES["q86_top_ngrams_sampled"](spark, SF)
    explained = df._jdf.queryExecution().toString()
    assert "PushedFilters: [In(gram, [" in explained
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan  # both phases are scans + local top-k
