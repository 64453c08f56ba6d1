"""Incremental slice refresh, keyset pagination, capped distinct
collection, percentile accumulators — the scale-path extensions added on
top of the reference's batch/offset/unbounded forms.

Refresh soundness rests on the accumulator partial/final contract
(/root/reference/bacon/accumulators.py add/__iadd__); keyset paging
replaces the reference's OFFSET paging
(/root/reference/bacon/observers/tables.py:16-130) with a sargable seek.
"""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from bacon_spark import (
    Average,
    Count,
    CubeDef,
    CubeQuery,
    CuttingBoard,
    Label,
    Measure,
    MonthLabel,
    Sum,
)
from bacon_spark.accumulators import CappedCollectSet, Percentile
from bacon_spark.cubedef import RatioMeasure
from bacon_spark.engine import keyset_page
from bacon_spark.operators import decisions
from bacon_spark.operators.scale import capped_distinct

SCHEMA = "date date, item string, place string, number long"

BASE = [
    (dt.date(2010, 1, 1), "apples", "italy", 100),
    (dt.date(2010, 1, 1), "pears", "italy", 101),
    (dt.date(2010, 1, 1), "apples", "england", 80),
    (dt.date(2010, 2, 1), "apples", "italy", 50),
]
DELTA = [
    (dt.date(2010, 2, 1), "pears", "france", 7),
    (dt.date(2010, 1, 1), "apples", "italy", 20),
]


@pytest.fixture()
def cubedef():
    cd = CubeDef("sells")
    cd.add_label(MonthLabel("month", "date"))
    cd.add_label(Label("item"))
    cd.add_label(Label("place"))
    cd.add_measure(Measure("number", acc=Sum()))
    cd.add_measure(Measure("n", "number", acc=Count()))
    cd.add_measure(Measure("avg_number", "number", acc=Average()))
    return cd


# --- incremental refresh ----------------------------------------------------


def _served_from(b):
    """What the board's last Spark-planned slice read: base, frame or lattice."""
    d = decisions.last("cold_fold", context=b.decisions_context)
    assert d.route == "spark", d
    return d.detail["served_from"]


def _jobs(spark, fn):
    """Run *fn* under a fresh job group; returns (its result, Spark jobs it launched)."""
    sc = spark.sparkContext
    group = f"refresh-test-{id(fn)}"
    sc.setJobGroup(group, "count jobs")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _exact_repeat(b):
    """Was the board's last slice an exact cache hit on collected rows?"""
    d = decisions.last("cold_fold", context=b.decisions_context)
    return (d.route, d.detail.get("kind")) == ("local_warm", "exact_repeat")


def _fresh_rows(cubedef, frame, q):
    return [tuple(r) for r in CuttingBoard(cubedef, frame, cache_results=False).slice(q).collect()]


def test_refresh_merges_cached_slices(cubedef, spark):
    base = spark.createDataFrame(BASE, SCHEMA)
    delta = spark.createDataFrame(DELTA, SCHEMA)
    b = CuttingBoard(cubedef, base)
    q = CubeQuery().add_axis("month").add_axis("item").add_value("number").add_value("n")
    b.slice(q).rows()  # populate the cache
    assert _served_from(b) == "base"

    b.refresh(delta)
    d = decisions.last("refresh", context=b.decisions_context)
    assert (d.route, d.detail["delta_from"]) == ("merged", "snapshot")

    jan, feb = dt.date(2010, 1, 1), dt.date(2010, 2, 1)
    s, jobs = _jobs(spark, lambda: b.slice(q))
    assert _exact_repeat(b) and jobs == 0  # merged rows, no Spark job
    assert s[jan]["apples"].record == {"number": 200, "n": 3}
    assert s[feb]["pears"].record == {"number": 7, "n": 1}

    # merged result == full recompute over base+delta, in the same order
    assert [tuple(r) for r in s.collect()] == _fresh_rows(cubedef, base.unionByName(delta), q)
    b.clear_cache()


def test_refresh_evicts_non_mergeable(cubedef, spark):
    base = spark.createDataFrame(BASE, SCHEMA)
    delta = spark.createDataFrame(DELTA, SCHEMA)
    b = CuttingBoard(cubedef, base)
    # a label used as a value aggregates with Group: no partial state
    q = CubeQuery().add_axis("month").add_value("item")
    assert b.slice(q)[dt.date(2010, 2, 1)].record["item"] == "apples"

    b.refresh(delta)
    d = decisions.last("refresh", context=b.decisions_context)
    assert (d.route, d.detail["reason"]) == ("evicted", "not_reaggregatable")

    # Group's finished values can't absorb the delta: the slice was
    # evicted, and the recompute over the grown frame is still correct:
    # Feb now holds apples and pears, so no single item
    s = b.slice(q)
    assert _served_from(b) == "base"
    assert s[dt.date(2010, 1, 1)].record["item"] is None
    assert s[dt.date(2010, 2, 1)].record["item"] is None
    b.clear_cache()


def test_refresh_merges_axes_only_slices(cubedef, spark):
    """An axes-only slice (distinct label values) absorbs a delta too:
    its merge is a distinct over old and new rows (an empty agg() list
    used to fail the refresh)."""
    base = spark.createDataFrame(BASE, SCHEMA)
    delta = spark.createDataFrame([(dt.date(2010, 3, 1), "plums", "italy", 1)], SCHEMA)
    b = CuttingBoard(cubedef, base)
    q = CubeQuery().add_axis("item")
    b.slice(q).rows()
    b.refresh(delta)
    rows, jobs = _jobs(spark, lambda: b.slice(q).rows())
    assert [r["item"] for r in rows] == ["apples", "pears", "plums"]
    assert _exact_repeat(b) and jobs == 0
    assert [(r["item"],) for r in rows] == _fresh_rows(cubedef, base.unionByName(delta), q)
    b.clear_cache()


def test_refresh_runs_one_extraction_and_rereads_run_none(cubedef, spark):
    """One refresh over four collected mergeable slices launches at most
    the delta extraction's jobs (a limit probe may take two), not a merge
    job per slice; every re-read is then an exact hit with no job. Frame
    merges used to run a union, re-aggregation and checkpoint per slice,
    and each re-read went back to Spark."""
    base = spark.createDataFrame(BASE, SCHEMA)
    delta = spark.createDataFrame(DELTA, SCHEMA)
    b = CuttingBoard(cubedef, base)
    queries = [
        CubeQuery().add_axis("month").add_axis("item").add_value("number").add_value("n"),
        CubeQuery().add_axis("place").add_value("number"),
        CubeQuery().add_value("n").add_value("number"),
        CubeQuery().add_axis("item").add_value("n").add_filter("place", "eq", "italy"),
    ]
    for q in queries:
        b.slice(q).collect()
    _, jobs = _jobs(spark, lambda: b.refresh(delta))
    assert jobs <= 2, jobs
    grown = base.unionByName(delta)
    for q in queries:
        rows, jobs = _jobs(spark, lambda q=q: [tuple(r) for r in b.slice(q).collect()])
        assert _exact_repeat(b) and jobs == 0, q
        assert rows == _fresh_rows(cubedef, grown, q), q
    b.clear_cache()


def test_refresh_aggregates_the_delta_on_spark_without_a_python_twin(cubedef, spark):
    """A cached slice filtered by an op without a Python twin (``match``,
    Java regex) takes its delta partials from Spark, and still ends up
    holding merged rows; so does every slice when the delta exceeds
    ``MEMO_MAX_ROWS`` and is not extracted."""
    base = spark.createDataFrame(BASE, SCHEMA)
    delta = spark.createDataFrame(DELTA, SCHEMA)
    q = CubeQuery().add_axis("item").add_value("number").add_filter("place", "match", "^ital")
    want = _fresh_rows(cubedef, base.unionByName(delta), q)
    b = CuttingBoard(cubedef, base)
    b.slice(q).collect()
    b.refresh(delta)
    d = decisions.last("refresh", context=b.decisions_context)
    assert (d.route, d.detail["delta_from"]) == ("merged", "spark")
    assert [tuple(r) for r in b.slice(q).collect()] == want and _exact_repeat(b)
    b.clear_cache()

    small = CuttingBoard(cubedef, base)
    small.MEMO_MAX_ROWS = 1  # the two-row delta is over the bound
    q1 = CubeQuery().add_value("number")
    small.slice(q1).collect()
    small.refresh(delta)
    d = decisions.last("refresh", context=small.decisions_context)
    assert (d.route, d.detail["delta_from"]) == ("merged", "spark")
    assert [tuple(r) for r in small.slice(q1).collect()] == [(358,)]
    assert _exact_repeat(small)
    small.clear_cache()


def test_slice_planned_before_refresh_does_not_store_stale_rows(cubedef, spark):
    """A slice planned before a refresh and collected after it returns
    the rows it was planned over, but must not store them over the
    refreshed entry (every later read served the pre-refresh rows)."""
    base = spark.createDataFrame(BASE, SCHEMA)
    delta = spark.createDataFrame(DELTA, SCHEMA)
    b = CuttingBoard(cubedef, base)
    q = CubeQuery().add_axis("item").add_value("number").add_value("n").add_filter(
        "place", "eq", "italy"
    )
    s = b.slice(q)
    b.refresh(delta)
    s.collect()
    got = {r["item"]: (r["number"], r["n"]) for r in b.slice(q).collect()}
    assert got == {"apples": (170, 3), "pears": (101, 1)}
    b.clear_cache()


def test_refresh_under_concurrent_reads_stores_no_stale_rows(cubedef, spark):
    """Readers slicing and collecting on one board while refreshes land:
    a slice planned before a refresh may finish after it, and must neither
    store its rows over the refreshed entry nor be merged twice. Once the
    readers stop, every query equals a fresh board over all the rows."""
    import sys
    import threading

    base = spark.createDataFrame(BASE, SCHEMA)
    cubedef.add_measure(RatioMeasure("per_letter", "number", "length(item)"))
    b = CuttingBoard(cubedef, base)
    queries = [
        CubeQuery().add_axis("month").add_axis("item").add_value("number").add_value("n"),
        CubeQuery().add_axis("item").add_value("number"),
        CubeQuery().add_value("n"),
        CubeQuery().add_axis("place").add_value("n").add_filter("item", "eq", "apples"),
        # their partial states must stay out of the cache when stale too
        CubeQuery().add_axis("month").add_value("avg_number"),
        CubeQuery().add_axis("place").add_value("per_letter").add_value("number"),
    ]
    stop = threading.Event()
    errors = []

    def reader(i):
        try:
            while not stop.is_set():
                b.slice(queries[i % len(queries)]).collect()
        except Exception as e:  # pragma: no cover
            errors.append(e)

    grown = base
    threads = [threading.Thread(target=reader, args=(i,)) for i in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-4)
    try:
        for t in threads:
            t.start()
        for i in range(4):
            delta = spark.createDataFrame(
                [(dt.date(2010, 1 + i % 2, 1), ("apples", "plums")[i % 2], "spain", 10 + i)],
                SCHEMA,
            )
            b.refresh(delta)
            grown = grown.unionByName(delta)
    finally:
        stop.set()
        for t in threads:
            t.join(timeout=120)
        sys.setswitchinterval(interval)
    assert not errors and not any(t.is_alive() for t in threads)
    for q in queries:
        assert [tuple(r) for r in b.slice(q).collect()] == _fresh_rows(cubedef, grown, q), q
    b.clear_cache()


def test_count_rollup_reuse(cubedef, spark):
    """Count is mergeable (sum of finished counts), so a Count-bearing
    cached slice now serves coarser queries without rescanning."""
    base = spark.createDataFrame(BASE, SCHEMA)
    b = CuttingBoard(cubedef, base)
    fine = CubeQuery().add_axis("month").add_axis("item").add_value("n")
    b.slice(fine).rows()
    coarse = CubeQuery().add_axis("month").add_value("n")
    s = b.slice(coarse)
    assert s[dt.date(2010, 1, 1)].record["n"] == 3
    d = decisions.last("cold_fold", context=b.decisions_context)
    assert d.route == "local_warm" and d.detail["reaggregated"]  # rollup served from cache
    b.clear_cache()


# --- keyset pagination ------------------------------------------------------


@pytest.mark.parametrize("cap", [None, 1_000], ids=["snapshot", "over_cap"])
def test_star_board_refresh_reaches_cold_slices(spark, sf_dir, tmp_path, cap, monkeypatch):
    """A StarCuttingBoard folds cold slices from its snapshot or, over the
    cap (``MEMO_MAX_ROWS`` patched to *cap*, under sf0.001's 6,000 lineitem
    rows and over the delta), plans them over culled fact views, not its
    base frame: the snapshot and every view, kept or built later, must
    absorb a refreshed delta, and a ``grow_base=False`` refresh re-reads
    the tables."""
    import shutil

    from bacon_spark.sources.star import StarCuttingBoard, sales_cubedef, sales_fact

    if cap is not None:
        monkeypatch.setattr(CuttingBoard, "MEMO_MAX_ROWS", cap)
    cold = "spark" if cap else "local_cold"

    def counts(board, label):
        q = CubeQuery().add_axis(label).add_value("n_items")
        return {r[label]: r["n_items"] for r in board.slice(q).rows()}

    def route(board):
        return decisions.last("cold_fold", context=board.decisions_context).route

    delta = sales_fact(spark, sf_dir).filter("l_orderkey <= 40")
    grown = sales_fact(spark, sf_dir).unionByName(delta)
    want = CuttingBoard(sales_cubedef(), grown, cache_results=False)
    board = StarCuttingBoard(sales_cubedef(), spark, sf_dir)
    assert (board._snap is None) == (cap is not None)
    counts(board, "orderstatus")  # builds the lineitem+orders view
    assert route(board) == cold
    board.refresh(delta)
    # a new view, the kept one, and a new view with every dimension
    for label in ("returnflag", "orderpriority", "region"):
        assert counts(board, label) == counts(want, label), label
        assert route(board) == cold

    # the delta's lineitem rows land in the board's own storage
    data = tmp_path / "sf"
    data.mkdir()
    for name in ("orders", "customer", "nation", "region", "part", "supplier"):
        shutil.copyfile(f"{sf_dir}/{name}.parquet", data / f"{name}.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    lineitem.write.parquet(str(data / "lineitem.parquet"))
    board = StarCuttingBoard(sales_cubedef(), spark, str(data))
    counts(board, "orderstatus")
    lineitem.filter("l_orderkey <= 40").write.mode("append").parquet(str(data / "lineitem.parquet"))
    board.refresh(delta, grow_base=False)
    for label in ("returnflag", "orderpriority"):
        assert counts(board, label) == counts(want, label), label
        assert route(board) == cold
    board.clear_cache()


def test_keyset_walk_covers_all_rows_once(spark, sf_dir):
    from bacon_spark.sources.star import read_table

    o = read_table(spark, sf_dir, "orders").select(
        F.col("o_orderdate").cast("date").alias("d"), F.col("o_orderkey").alias("k")
    )
    total = o.count()
    seen = []
    after = None
    while True:
        page = keyset_page(o, ["d", "k"], after, 400).collect()
        if not page:
            break
        seen.extend((r["d"], r["k"]) for r in page)
        after = (page[-1]["d"], page[-1]["k"])
    assert len(seen) == total
    assert len(set(seen)) == total  # no row repeated across pages
    assert seen == sorted(seen)  # global key order preserved across pages


def test_keyset_matches_offset_paging(spark):
    rows = [(i // 3, i) for i in range(30)]
    df = spark.createDataFrame(rows, "g long, k long")
    ordered = df.orderBy("g", "k").collect()
    page2_offset = [tuple(r) for r in ordered[10:20]]
    last = tuple(ordered[9])
    page2_keyset = [tuple(r) for r in keyset_page(df, ["g", "k"], last, 10).collect()]
    assert page2_keyset == page2_offset


def test_keyset_arity_error(spark):
    df = spark.createDataFrame([(1, 2)], "a long, b long")
    with pytest.raises(Exception, match="arity"):
        keyset_page(df, ["a", "b"], (1,), 5).collect()


# --- capped distinct --------------------------------------------------------


def test_capped_forms_equivalent(spark, sf_dir):
    from bacon_spark.sources.star import read_table

    o = read_table(spark, sf_dir, "orders")
    via_op = {
        r["o_orderpriority"]: r["ck"]
        for r in capped_distinct(o, ["o_orderpriority"], "o_custkey", 5, out="ck").collect()
    }
    via_acc = {
        r["o_orderpriority"]: r["ck"]
        for r in o.groupBy("o_orderpriority")
        .agg(CappedCollectSet(5).agg(F.col("o_custkey")).alias("ck"))
        .collect()
    }
    assert via_op == via_acc
    assert all(len(v) <= 5 for v in via_op.values())
    assert all(v == sorted(v) for v in via_op.values())


def test_capped_distinct_bounds_rows_before_collect(spark):
    """The scale form ranks and drops BEFORE collecting: the plan contains
    a window + filter upstream of the final aggregate."""
    df = spark.createDataFrame([(1, i % 7) for i in range(50)], "g long, v long")
    plan = capped_distinct(df, ["g"], "v", 3)._jdf.queryExecution().optimizedPlan().toString()
    assert "row_number" in plan
    rows = capped_distinct(df, ["g"], "v", 3).collect()
    assert rows[0]["v_capped"] == [0, 1, 2]


# --- percentile -------------------------------------------------------------


def test_percentile_golden(spark):
    # median of 1..4 = 2.5 (interpolated); p90 of 1..4 = 3.7
    df = spark.createDataFrame([(1,), (2,), (3,), (4,)], "x long")
    row = df.agg(
        Percentile(0.5).agg(F.col("x")).alias("med"),
        Percentile(0.9).agg(F.col("x")).alias("p90"),
    ).collect()[0]
    assert row["med"] == pytest.approx(2.5)
    assert row["p90"] == pytest.approx(3.7)


def test_percentile_validates_p():
    with pytest.raises(ValueError):
        Percentile(1.5)


def test_snapshot_cache_survives_source_writes(spark, tmp_path):
    """Writing to the base path invalidates persisted plans (refreshByPath)
    — a snapshot_cache board pins cached slices against that, so refresh
    never double-counts a delta that also landed in the base dir."""
    path = str(tmp_path / "data")
    spark.createDataFrame(BASE, SCHEMA).write.mode("append").parquet(path)

    cd = CubeDef("sells")
    cd.add_label(Label("item"))
    cd.add_measure(Measure("number", acc=Sum()))
    b = CuttingBoard(cd, spark.read.schema(SCHEMA).parquet(path), snapshot_cache=True)
    q = CubeQuery().add_axis("item").add_value("number")
    # cache the frame only: the read after the write must come from it
    assert {r["item"]: r["number"] for r in b.slice(q).to_df().collect()}["apples"] == 230

    # delta lands in the SAME path (what a stream sink does), then refresh
    spark.createDataFrame(DELTA, SCHEMA).write.mode("append").parquet(path)
    frozen = b.slice(q)
    assert _served_from(b) == "frame"
    assert frozen["apples"].record["number"] == 230  # snapshot did NOT absorb the new files

    b.refresh(spark.createDataFrame(DELTA, SCHEMA), grow_base=False)
    s = b.slice(q)
    assert s["apples"].record["number"] == 250  # 230 + 20, not 250 + 20
    assert s["pears"].record["number"] == 101 + 7
    b.clear_cache()
