"""End-to-end cube semantics over the micro-fixture.

Resurrects the reference's skipped test_cutboard expectations
(/root/reference/tests/test_cutboard.py:41-212, all @unittest.skip) — the
best executable spec of intended slice semantics: month×item sums
apples:Jan=180, pears:Jan=101, apples:Feb=50; 1-D month sums Jan=281,
Feb=50; missing cells are absent/null.
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
    Group,
    Label,
    Measure,
    MonthLabel,
    Sum,
    YearLabel,
)


@pytest.fixture(scope="module")
def sells(spark):
    # /root/reference/tests/test_cutboard.py:14-38 fixture
    rows = [
        (dt.date(2010, 1, 1), "apples", "italy", 100),
        (dt.date(2010, 1, 1), "pears", "italy", 101),
        (dt.date(2010, 1, 1), "apples", "england", 80),
        (dt.date(2010, 2, 1), "apples", "italy", 50),
    ]
    return spark.createDataFrame(rows, "date date, item string, place string, number long")


@pytest.fixture(scope="module")
def cubedef():
    cd = CubeDef("sells")
    cd.add_label(YearLabel("year", "date"))
    cd.add_label(MonthLabel("month", "date"))
    cd.add_label(Label("date"))
    cd.add_hierarchy("month", "year")
    cd.add_hierarchy("date", "month")
    cd.add_label(Label("item"))
    cd.add_label(Label("place"))
    cd.add_measure(Measure("number", acc=Sum()))
    cd.add_measure(Measure("twice", F.col("number") * 2, acc=Sum()))
    cd.add_measure(Measure("n", "number", acc=Count()))
    cd.add_measure(Measure("avg_number", "number", acc=Average()))
    return cd


def board(cubedef, sells):
    return CuttingBoard(cubedef, sells, cache_results=False)


def test_month_by_item(cubedef, sells):
    q = CubeQuery().add_axis("month").add_axis("item").add_value("number")
    s = board(cubedef, sells).slice(q)
    jan, feb = dt.date(2010, 1, 1), dt.date(2010, 2, 1)
    assert s[jan]["apples"].record["number"] == 180
    assert s[jan]["pears"].record["number"] == 101
    assert s[feb]["apples"].record["number"] == 50
    # missing cell
    assert "pears" not in s[feb].keys()


def test_1d_month(cubedef, sells):
    q = CubeQuery().add_axis("month").add_value("number").add_value("twice")
    s = board(cubedef, sells).slice(q)
    jan, feb = dt.date(2010, 1, 1), dt.date(2010, 2, 1)
    assert list(s) == [jan, feb]
    assert s[jan].record == {"number": 281, "twice": 562}
    assert s[feb].record == {"number": 50, "twice": 100}


def test_grand_total(cubedef, sells):
    q = CubeQuery().add_value("number").add_value("n")
    s = board(cubedef, sells).slice(q)
    assert s.record == {"number": 331, "n": 4}


def test_filter(cubedef, sells):
    q = (
        CubeQuery()
        .add_axis("item")
        .add_value("number")
        .add_filter("place", "eq", "italy")
    )
    s = board(cubedef, sells).slice(q)
    assert s["apples"].record["number"] == 150
    assert s["pears"].record["number"] == 101


def test_group_accumulator(cubedef, sells, spark):
    # 'place' used as a value aggregates with Group: single distinct -> the
    # value, multiple -> null (/root/reference/bacon/accumulators.py:259-296)
    q = CubeQuery().add_axis("item").add_value("place")
    s = board(cubedef, sells).slice(q)
    assert s["pears"].record["place"] == "italy"
    assert s["apples"].record["place"] is None  # italy + england -> Inconsistent


def test_average_counts_all_rows(cubedef, spark):
    # Average = sum / total row count INCLUDING nulls (SURVEY §7 hard part)
    rows = [("a", 10), ("a", None), ("a", 20), ("b", None)]
    df = spark.createDataFrame(rows, "item string, number long")
    cd = CubeDef("t")
    cd.add_label(Label("item"))
    cd.add_measure(Measure("avg_number", "number", acc=Average()))
    cd.add_measure(Measure("number", acc=Sum()))
    q = CubeQuery().add_axis("item").add_value("avg_number").add_value("number")
    s = CuttingBoard(cd, df, cache_results=False).slice(q)
    assert s["a"].record["avg_number"] == 10.0  # 30/3, NOT 30/2
    assert s["a"].record["number"] == 30
    assert s["b"].record["avg_number"] is None  # sum null -> null
    assert s["b"].record["number"] is None  # Sum of all-nulls is null, not 0


def test_order_by_measure(cubedef, sells):
    q = (
        CubeQuery()
        .add_axis("item")
        .add_value("number")
        .set_order("number", descending=True)
    )
    s = board(cubedef, sells).slice(q)
    rows = s.rows()
    assert [r["item"] for r in rows] == ["apples", "pears"]


def test_nulls_first_axis_order(spark):
    rows = [("b", 1), (None, 2), ("a", 3)]
    df = spark.createDataFrame(rows, "k string, v long")
    cd = CubeDef("t")
    cd.add_label(Label("k"))
    cd.add_measure(Measure("v", acc=Sum()))
    q = CubeQuery().add_axis("k").add_value("v")
    s = CuttingBoard(cd, df, cache_results=False).slice(q)
    assert [r["k"] for r in s.rows()] == [None, "a", "b"]


def _route(b):
    """(route, detail) of the board's last slice decision."""
    from bacon_spark.operators import decisions

    d = decisions.last("cold_fold", context=b.decisions_context)
    return d.route, d.detail


def test_slice_cache_reuse(cubedef, sells):
    b = CuttingBoard(cubedef, sells)
    q = CubeQuery().add_axis("month").add_axis("item").add_value("number")
    s1 = b.slice(q)
    assert _route(b)[1]["served_from"] == "base"
    s1.rows()
    # exact reuse
    s2 = b.slice(q)
    assert s2.df is not None
    assert _route(b) == ("local_warm", {"kind": "exact_repeat", "rows": 3})
    # roll-up reuse: coarser axes, same filters
    q2 = CubeQuery().add_axis("month").add_value("number")
    s3 = b.slice(q2)
    jan = dt.date(2010, 1, 1)
    assert s3[jan].record["number"] == 281
    route, detail = _route(b)  # answered from cache, not recomputed
    assert route == "local_warm" and detail["reaggregated"]
    # drill reuse: eq-filter on a cached axis
    q3 = (
        CubeQuery()
        .add_axis("month")
        .add_value("number")
        .add_filter("item", "eq", "apples")
    )
    s4 = b.slice(q3)
    assert s4[jan].record["number"] == 180
    route, detail = _route(b)
    assert route == "local_warm" and detail["drilled"] and not detail["reaggregated"]
    b.clear_cache()


def test_board_concurrent_slicing_is_safe(cubedef, sells):
    """Many threads hammering one cached board (the web-server reality):
    the LRU cache, drill reuse, and Spark job submission must all be
    thread-safe, and every thread must see correct results."""
    import threading

    from bacon_spark import CuttingBoard

    b = CuttingBoard(cubedef, sells, cache_results=True)
    queries = [
        CubeQuery(axes=("month",), values=("number",)),
        CubeQuery(axes=("item",), values=("number",)),
        CubeQuery(axes=("month", "item"), values=("number", "n")),
        CubeQuery(axes=("item",), values=("number",)).add_filter("place", "eq", "italy"),
    ]
    expected = [
        {tuple(sorted(r.asDict().items())) for r in b.slice(q).to_df().collect()}
        for q in queries
    ]
    errors = []

    def worker(i):
        try:
            q = queries[i % len(queries)]
            # odd workers go through Slice.collect, which stores rows in
            # the entry other threads are reading and promoting
            s = b.slice(q)
            got = {
                tuple(sorted(r.asDict().items()))
                for r in (s.collect() if i % 2 else s.to_df().collect())
            }
            assert got == expected[i % len(queries)]
        except Exception as e:  # pragma: no cover
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(12)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors


# --- warm navigation path (driver-side rows memo) ---------------------------


def test_local_serving_matches_spark(cubedef, sells):
    """Every warm-path answer (exact repeat, drill, drill+drop, rollup)
    equals the cold Spark computation of the same query."""
    b = CuttingBoard(cubedef, sells, cache_results=True)
    q1 = CubeQuery().add_axis("month").add_axis("item").add_value("number").add_value("n")
    b.slice(q1).collect()  # populate the rows memo
    assert b.local_hits == 0

    def cold(q):
        return sorted(
            map(tuple, CuttingBoard(cubedef, sells, cache_results=False).slice(q).collect())
        )

    # exact repeat
    s2 = b.slice(q1)
    assert b.local_hits == 1
    assert sorted(map(tuple, s2.collect())) == cold(q1)
    # drill: eq filter on a cached axis, axis kept (pure row filter)
    q3 = q1.add_filter("item", "eq", "apples")
    assert sorted(map(tuple, b.slice(q3).collect())) == cold(q3)
    assert b.local_hits == 2
    # drill + drop: eq filter on a cached axis, axis removed (py re-agg)
    q4 = q1.add_filter("item", "eq", "apples").remove_axis("item")
    assert sorted(map(tuple, b.slice(q4).collect())) == cold(q4)
    assert b.local_hits == 3
    # rollup: coarser axes, same filters (py re-agg)
    q5 = q1.remove_axis("item")
    assert sorted(map(tuple, b.slice(q5).collect())) == cold(q5)
    assert b.local_hits == 4
    # null drill values match null axis rows (none here: result empty)
    q6 = q1.add_filter("item", "eq", None).remove_axis("item")
    assert b.slice(q6).collect() == []
    b.clear_cache()


def test_local_serving_falls_back_for_non_mergeable(cubedef, sells):
    """Group (a label used as a value) keeps no partial state: a rollup
    of it must recompute (Spark path), never silently mis-merge — and
    still be correct."""
    b = CuttingBoard(cubedef, sells, cache_results=True)
    q1 = CubeQuery().add_axis("month").add_axis("item").add_value("place")
    b.slice(q1).collect()
    q2 = q1.remove_axis("item")
    s = b.slice(q2)
    assert b.local_hits == 0  # not served locally
    assert _route(b)[1]["served_from"] == "base"
    got = {r["month"]: r["place"] for r in s.collect()}
    # Jan spans italy and england: no single place
    assert got == {dt.date(2010, 1, 1): None, dt.date(2010, 2, 1): "italy"}
    b.clear_cache()


def test_nav_sequence_cache_hits_never_rescan(cubedef, spark, tmp_path):
    """VERDICT r6 #1 plan assertion: after the first slice, repeat /
    drill / rollup steps never rescan the base table — they are served
    from the rows memo (LocalTableScan) or, when the memo can't answer,
    from the persisted slice cache (InMemoryRelation)."""
    path = str(tmp_path / "sells")
    rows = [
        (dt.date(2010, 1 + i % 3, 1 + i % 25), ["apples", "pears"][i % 2],
         ["italy", "england"][i % 3 == 0], float(i))
        for i in range(500)
    ]
    spark.createDataFrame(
        rows, "date date, item string, place string, number double"
    ).write.mode("overwrite").parquet(path)
    cd = CubeDef("sells")
    cd.add_label(MonthLabel("month", "date"))
    cd.add_label(Label("item"))
    cd.add_measure(Measure("number", acc=Sum()))
    b = CuttingBoard(cd, spark.read.parquet(path), cache_results=True)
    q1 = CubeQuery().add_axis("month").add_axis("item").add_value("number")
    b.slice(q1).collect()

    # warm steps: served from the rows memo — collect() uses prefetched
    # rows (no job at all), and even the to_df() plan is a local scan of
    # those rows, never a base-table read
    for q in (q1, q1.add_filter("item", "eq", "apples").remove_axis("item"),
              q1.remove_axis("item")):
        s = b.slice(q)
        assert s._rows is not None  # prefetched: collect() is job-free
        plan = s.to_df()._jdf.queryExecution().executedPlan().toString()
        assert "FileScan" not in plan, plan
        assert "LocalTableScan" in plan or "ExistingRDD" in plan, plan
    assert b.local_hits == 3

    # memo bypassed (fresh board state, slice never collected): the
    # persisted-DataFrame cache serves — still no base-table rescan
    b2 = CuttingBoard(cd, spark.read.parquet(path), cache_results=True)
    b2.slice(q1).to_df().count()  # plan cached, rows never collected
    drill = b2.slice(q1.remove_axis("item")).to_df()
    plan = drill._jdf.queryExecution().optimizedPlan().toString()
    assert "Relation" not in plan.replace("InMemoryRelation", "") , plan
    assert "InMemoryRelation" in plan, plan
    b.clear_cache()
    b2.clear_cache()


def test_frame_reuse_reordered_axes_keeps_average(cubedef, sells):
    """A cached frame answers the same axes in another order by
    projection: nothing is re-aggregated, so a non-mergeable Average
    is served as computed (re-aggregating it raised NotImplementedError)."""
    b = CuttingBoard(cubedef, sells)
    q1 = CubeQuery().add_axis("month").add_axis("item").add_value("avg_number")
    b.slice(q1).to_df()  # frame cached, rows never collected
    q2 = CubeQuery().add_axis("item").add_axis("month").add_value("avg_number")
    got = sorted(map(tuple, b.slice(q2).collect()))
    assert _route(b)[1]["served_from"] == "frame"
    want = sorted(map(tuple, board(cubedef, sells).slice(q2).collect()))
    assert got == want
    b.clear_cache()


def test_clear_cache_unpersists_every_frame(cubedef, sells):
    """Two slices with the same axes and filters but different values
    get one cache entry each, and clear_cache() releases both frames
    (the second used to overwrite the first's entry, leaving it
    persisted in Spark's cache manager)."""
    b = CuttingBoard(cubedef, sells)
    q1 = CubeQuery().add_axis("item").add_value("number")
    s1 = b.slice(q1)
    df1 = s1.to_df()
    s1.collect()
    b.slice(q1.add_value("avg_number")).collect()
    b.clear_cache()
    plan = df1.select("*")._jdf.queryExecution().optimizedPlan().toString()
    assert "InMemoryRelation" not in plan, plan


def test_store_keeps_the_frame_a_concurrent_slice_reads(cubedef, sells):
    """Two threads that miss on one query both plan and persist it; the
    second to store must not unpersist the frame the first may still be
    collecting (a collect under unpersist can return no rows, even for a
    grand total). Both frames share one Spark cache entry: the held
    frame wins and stays cached."""
    b = CuttingBoard(cubedef, sells)
    q = CubeQuery().add_value("number")
    first = b._aggregate(q).persist()
    late = b._aggregate(q).persist()
    assert b._store(q, frame=first) is first
    assert b._store(q, frame=late) is first
    assert first.storageLevel.useMemory
    assert [r["number"] for r in b.slice(q).collect()] == [331]
    b.clear_cache()


def test_local_serving_invalidated_by_refresh(cubedef, spark, sells):
    """refresh() merges the delta into the rows memo: post-refresh answers
    include the delta instead of serving stale memoized rows."""
    b = CuttingBoard(cubedef, sells, cache_results=True)
    q = CubeQuery().add_axis("item").add_value("number")
    before = {r["item"]: r["number"] for r in b.slice(q).collect()}
    assert before["apples"] == 230
    delta = spark.createDataFrame(
        [(dt.date(2010, 3, 1), "apples", "italy", 20)],
        "date date, item string, place string, number long",
    )
    b.refresh(delta)
    after = {r["item"]: r["number"] for r in b.slice(q).collect()}
    assert after["apples"] == 250
    b.clear_cache()


def test_pivot_render_cardinality_guard(cubedef, sells):
    """VERDICT r6 #7: a pivot over a too-large slice fails fast with a
    clear error instead of collecting the world."""
    from bacon_spark.errors import QueryError
    from bacon_spark.observers.tables import TablePivot

    b = CuttingBoard(cubedef, sells, cache_results=False)
    q = CubeQuery().add_axis("month").add_axis("item").add_value("number").set_pivot("item")
    with pytest.raises(QueryError, match="refusing to collect"):
        TablePivot(b, q, max_render_rows=2)
    # generous cap renders normally
    t = TablePivot(b, q, max_render_rows=1000)
    assert t.nrows > 0


def test_warm_path_randomized_navigation_equivalence(cubedef, spark):
    """Randomized navigation fuzz: a cached board driven through many
    repeat/drill/rollup/reorder/refresh sequences must answer every step
    identically to a fresh no-cache board over the rows folded in so far
    (integer measures -> exact equality). Refreshed deltas bring null
    labels, a new label value and null Sum/Min/Max inputs. Seeded, so
    failures replay."""
    import random

    from bacon_spark import Count, CuttingBoard, Max, Min, Sum
    from bacon_spark.cubedef import Label, Measure

    rows = []
    for i in range(300):
        g = None if i % 11 == 0 else f"g{i % 5}"
        h = f"h{i % 3}"
        rows.append((g, h, i % 7, i % 100))
    schema = "g string, h string, d long, number long"
    df = spark.createDataFrame(rows, schema)
    # held out of the base and folded in by "refresh" moves
    held = [
        (None if i % 4 == 0 else f"g{i % 6}", f"h{i % 3}", i % 7, None if i % 5 == 0 else i % 100)
        for i in range(300, 380)
    ]
    cd = CubeDef("t")
    for name in ("g", "h", "d"):
        cd.add_label(Label(name))
    cd.add_measure(Measure("number", acc=Sum()))
    cd.add_measure(Measure("n", "number", acc=Count()))
    cd.add_measure(Measure("mn", "number", acc=Min()))
    cd.add_measure(Measure("mx", "number", acc=Max()))
    axes_pool = ["g", "h", "d"]
    vals_pool = ["number", "n", "mn", "mx"]
    value_of = {"g": [None, "g0", "g1", "g2"], "h": ["h0", "h1"], "d": [0, 1, 2, 3]}

    warm = CuttingBoard(cd, df, cache_results=True)

    current = df  # the base plus every delta folded in so far, as one frame

    def cold(q):
        b = CuttingBoard(cd, current, cache_results=False)
        return [tuple(r) for r in b.slice(q).collect()]

    total_local = 0
    for seed in range(12):
        rng = random.Random(seed)
        axes = rng.sample(axes_pool, rng.randint(1, 3))
        vals = rng.sample(vals_pool, rng.randint(1, 4))
        q = CubeQuery()
        for a in axes:
            q = q.add_axis(a)
        for v in vals:
            q = q.add_value(v)
        for _step in range(5):
            got = [tuple(r) for r in warm.slice(q).collect()]
            assert got == cold(q), (seed, _step, q.axes, q.values, q.filters)
            move = rng.choice(
                ["repeat", "drill", "drop", "rollup", "reorder", "reproject", "refresh"]
            )
            if move == "refresh":
                k = rng.randint(1, 4)
                delta = spark.createDataFrame(held[:k], schema)
                warm.refresh(delta)
                rows += held[:k]
                held = held[k:]
                current = spark.createDataFrame(rows, schema)
            elif move == "reproject":
                # value subset / reorder against the SAME cached slices —
                # regression for the cost-1 projection bug the deep fuzz
                # found (a subset query served the parent's extra columns)
                q2 = CubeQuery()
                for a in q.axes:
                    q2 = q2.add_axis(a)
                for v in rng.sample(vals_pool, rng.randint(1, 4)):
                    q2 = q2.add_value(v)
                for n, op, v in q.filters:
                    q2 = q2.add_filter(n, op, v)
                q = q2
            elif move == "drill" and q.axes:
                a = rng.choice(q.axes)
                op = rng.choice(["eq", "ne", "gt", "ge", "lt", "le", "in", "ni"])
                v = rng.choice(value_of[a])
                if op in ("gt", "ge", "lt", "le") and v is None:
                    v = value_of[a][-1]
                if op in ("in", "ni"):
                    v = frozenset(
                        rng.sample(value_of[a], rng.randint(1, len(value_of[a])))
                    )
                q2 = q.add_filter(a, op, v)
                if rng.random() < 0.5 and len(q.axes) > 1:
                    q2 = q2.remove_axis(a)
                q = q2
            elif move in ("drop", "rollup") and len(q.axes) > 1:
                q = q.remove_axis(rng.choice(q.axes))
            elif move == "reorder":
                q = q.set_order(rng.choice(q.values), -1 if rng.random() < 0.5 else 1)
        total_local += warm.local_hits
    assert warm.local_hits > 20, warm.local_hits  # the warm path actually served
    assert len(rows) > 300, len(rows)  # refresh moves folded deltas in
    warm.clear_cache()


def test_cached_value_superset_projects_to_query_columns(cubedef, sells):
    """Regression (deep navigation fuzz): a cached slice holding a value
    SUPERSET must serve a subset/reordered query with EXACTLY the
    query's columns in the query's order — never the parent's extras."""
    b = CuttingBoard(cubedef, sells, cache_results=True)
    q_all = (
        CubeQuery().add_axis("month").add_axis("item")
        .add_value("number").add_value("n").add_value("twice")
    )
    b.slice(q_all).collect()
    q_sub = CubeQuery().add_axis("month").add_axis("item").add_value("n")
    s = b.slice(q_sub)
    assert s.to_df().columns == ["month", "item", "n"]
    got = {(r["month"], r["item"]): r["n"] for r in s.collect()}
    want = {
        (r["month"], r["item"]): r["n"]
        for r in CuttingBoard(cubedef, sells, cache_results=False).slice(q_sub).collect()
    }
    assert got == want
    # reordered values: same set, different declared order
    q_re = (
        CubeQuery().add_axis("month").add_axis("item")
        .add_value("twice").add_value("number").add_value("n")
    )
    s2 = b.slice(q_re)
    assert s2.to_df().columns == ["month", "item", "twice", "number", "n"]
    b.clear_cache()
