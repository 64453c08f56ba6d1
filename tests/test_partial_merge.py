"""Average and RatioSum keep their partial state in the slice cache.

A cached result of a value whose finished value does not merge (Average:
sum(x) / count(*); RatioSum: sum(num) / sum(den)) carries that value's
partial state in hidden columns. ``CuttingBoard.refresh`` merges deltas
into it and roll-ups are served from it driver-side, with no Spark job.
Every answer is compared with a fresh ``cache_results=False`` board over
the same rows, and no hidden column may reach a caller.
"""

import itertools
import math
import random
from decimal import Decimal

import pytest

from bacon_spark import Average, Count, CubeDef, CubeQuery, CuttingBoard, Label, Measure, Sum
from bacon_spark.cubedef import RatioMeasure
from bacon_spark.engine import _memo_key
from bacon_spark.observers.tables import Table1D
from bacon_spark.operators import decisions
from bacon_spark.operators.lattice import CubeLattice

SCHEMA = {
    "double": "g string, h string, k long, x double, num double, den double",
    "decimal": "g string, h string, k long, x decimal(12,2), num decimal(12,2), den decimal(12,2)",
}


def _rows(rng, n, kind, groups=("g0", "g1", "g2", None), ks=(0, 1, 2), null_inputs=False):
    """*n* seeded rows. Measure inputs are null now and then (Average
    still counts those rows) and ``den`` is zero now and then (RatioSum's
    null-on-zero rule); *null_inputs* makes every input null."""

    def num(lo, hi):
        v = round(rng.uniform(lo, hi), 2)
        return Decimal(f"{v:.2f}") if kind == "decimal" else v

    out = []
    for _ in range(n):
        x = None if null_inputs or rng.random() < 0.15 else num(-50, 100)
        nu = None if null_inputs or rng.random() < 0.1 else num(0, 20)
        de = None if null_inputs else (num(0, 0) if rng.random() < 0.2 else num(1, 30))
        out.append((rng.choice(groups), rng.choice(("h0", "h1", "h2")), rng.choice(ks), x, nu, de))
    return out


def _cubedef():
    cd = CubeDef("partials")
    for name in ("g", "h", "k"):
        cd.add_label(Label(name))
    cd.add_measure(Measure("sum_x", "x", acc=Sum()))
    cd.add_measure(Measure("n", "x", acc=Count()))
    cd.add_measure(Measure("avg_x", "x", acc=Average()))
    cd.add_measure(RatioMeasure("ratio", "num", "den"))
    return cd


_GROUPS = itertools.count()


def _jobs(spark, fn):
    """Run *fn* under a fresh job group; returns (its result, Spark jobs it launched)."""
    sc = spark.sparkContext
    group = f"partial-merge-{next(_GROUPS)}"
    sc.setJobGroup(group, "count jobs")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _route(b):
    d = decisions.last("cold_fold", context=b.decisions_context)
    return d.route, d.detail


def _fresh(cd, frame, q):
    return [tuple(r) for r in CuttingBoard(cd, frame, cache_results=False).slice(q).collect()]


def _same(got, want, exact, ctx):
    """Row lists equal; floats within the equivalence tests' 1e-9
    relative tolerance unless *exact*."""

    def eq(a, b):
        if not exact and isinstance(a, float) and isinstance(b, float):
            return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
        return a == b

    assert len(got) == len(want), (ctx, got, want)
    for g, w in zip(got, want):
        assert len(g) == len(w) and all(eq(a, b) for a, b in zip(g, w)), (ctx, g, w)


def _refresh_decisions(b, fn):
    """Run *fn* and return the ``refresh`` decisions *b* recorded meanwhile."""
    before = decisions.log()
    seen = {id(d) for d in before}
    fn()
    return [
        d
        for d in decisions.log()
        if id(d) not in seen and d.operator == "refresh" and d.context == b.decisions_context
    ]


def _query(axes=(), values=(), filters=()):
    q = CubeQuery()
    for a in axes:
        q = q.add_axis(a)
    for v in values:
        q = q.add_value(v)
    for f in filters:
        q = q.add_filter(*f)
    return q


@pytest.mark.parametrize("kind", ["double", "decimal"])
def test_refresh_merges_partials_randomized(spark, kind):
    """Seeded cached slices absorb a delta with new groups, a delta of
    null inputs and an empty delta: every slice is merged, every re-read
    is an exact hit with no job, and each equals a fresh board over base
    and deltas (floats within 1e-9, decimal inputs exactly)."""
    rng = random.Random(f"partials-{kind}")
    cd = _cubedef()
    exact = kind == "decimal"
    rows = _rows(rng, 60, kind)
    b = CuttingBoard(cd, spark.createDataFrame(rows, SCHEMA[kind]))
    g_eq = rng.choice(("g0", "g1", "g2"))
    h_in = frozenset(rng.sample(("h0", "h1", "h2"), 2))
    queries = [
        _query(("g", "h")),  # axes only
        _query((), ("sum_x", "n", "avg_x", "ratio")),  # grand total
        _query(("g",), ("avg_x", "ratio", "n")),
        _query(("h",), ("avg_x", "sum_x"), [("g", "eq", g_eq)]),
        _query(("g", "k"), ("ratio", "avg_x"), [("h", "in", h_in)]),
        # the refresh dashboard's q6: two axes, eq on a third label
        _query(("g", "k"), ("sum_x", "avg_x"), [("h", "eq", rng.choice(("h0", "h1", "h2")))]),
        _query(("g", "h", "k"), ("sum_x", "n", "avg_x", "ratio")),
    ]
    rng.shuffle(queries)
    for q in queries:
        b.slice(q).collect()

    deltas = [
        _rows(rng, 12, kind, groups=("g1", "g9", None), ks=(2, 7)),  # new groups
        _rows(rng, 8, kind, null_inputs=True),
        [],
    ]
    # one roll-up of a cached Average slice: derived after the first
    # delta, then cached and merged by the refreshes like the others
    rollup = _query(("h",), ("avg_x", "ratio"))
    for i, delta in enumerate(deltas):
        delta_df = spark.createDataFrame(delta, SCHEMA[kind])
        cached = len(b._cache)  # the queries, and the roll-up after the first delta
        recs = _refresh_decisions(b, lambda delta_df=delta_df: b.refresh(delta_df))
        assert len(recs) == cached >= len(queries)
        assert all(d.route == "merged" for d in recs), recs
        rows += delta
        grown = spark.createDataFrame(rows, SCHEMA[kind])
        for q in queries:
            got, jobs = _jobs(spark, lambda q=q: [tuple(r) for r in b.slice(q).collect()])
            assert jobs == 0 and _route(b)[1]["kind"] == "exact_repeat", q
            _same(got, _fresh(cd, grown, q), exact, q)
        got, jobs = _jobs(spark, lambda: [tuple(r) for r in b.slice(rollup).collect()])
        route, detail = _route(b)
        assert (jobs, route) == (0, "local_warm")
        assert detail["kind"] == ("exact_repeat" if i else "derived")
        _same(got, _fresh(cd, grown, rollup), exact, rollup)
    b.clear_cache()


def test_average_rollup_served_from_cached_rows(spark):
    """A roll-up of a cached Average/RatioSum slice is merged from its
    partial states driver-side: served ``local_warm`` ``derived``, no job."""
    cd = _cubedef()
    frame = spark.createDataFrame(_rows(random.Random(3), 40, "double"), SCHEMA["double"])
    b = CuttingBoard(cd, frame)
    b.slice(_query(("g", "h"), ("avg_x", "ratio", "sum_x"))).collect()
    q = _query(("g",), ("ratio", "avg_x"))
    got, jobs = _jobs(spark, lambda: [tuple(r) for r in b.slice(q).collect()])
    route, detail = _route(b)
    assert (route, detail["kind"], detail["reaggregated"], jobs) == ("local_warm", "derived", True, 0)
    _same(got, _fresh(cd, frame, q), False, q)
    b.clear_cache()


def test_star_board_cold_fold_keeps_partials(spark, sf_dir):
    """A StarCuttingBoard's cold fold keeps the partial states too: its
    Average/RatioSum result rolls up with no job."""
    from bacon_spark.sources.star import StarCuttingBoard, sales_cubedef, sales_fact

    board = StarCuttingBoard(sales_cubedef(), spark, sf_dir)
    fine = _query(("region", "returnflag"), ("avg_quantity", "discount_rate"))
    board.slice(fine).collect()
    assert _route(board)[0] == "local_cold"
    assert board._cache[_memo_key(fine)].parts is not None
    q = _query(("returnflag",), ("discount_rate", "avg_quantity"))
    got, jobs = _jobs(spark, lambda: [tuple(r) for r in board.slice(q).collect()])
    route, detail = _route(board)
    assert (route, detail["kind"], jobs) == ("local_warm", "derived", 0)
    _same(got, _fresh(sales_cubedef(), sales_fact(spark, sf_dir), q), False, q)
    board.clear_cache()


def test_no_hidden_column_reaches_a_caller(spark):
    """For one Average + Sum query, the collected fields, the frame's
    columns, ``tuple(r)``, ``rows()`` and a rendered table hold exactly
    the axes and values on every route, after a refresh too."""
    cd = _cubedef()
    rows = _rows(random.Random(5), 40, "double")
    frame = spark.createDataFrame(rows, SCHEMA["double"])
    q = _query(("g",), ("sum_x", "avg_x"))
    fine = _query(("g", "h"), ("sum_x", "avg_x"))
    cols = ["g", "sum_x", "avg_x"]
    want = _fresh(cd, frame, q)

    def check(b, route, served=None):
        s = b.slice(q)
        r, detail = _route(b)
        assert r == route, (r, detail)
        if served is not None:
            assert detail.get("served_from", detail.get("kind")) == served, detail
        got = s.collect()
        assert s.to_df().columns == cols and s.df.columns == cols, route
        assert all(list(r.__fields__) == cols for r in got), route
        assert all(set(d) == set(cols) for d in s.rows()), route
        _same([tuple(r) for r in got], want, False, route)
        table = Table1D(b, q)
        assert all(set(d) == set(cols) for d in table.rows())
        assert set(table.totals()) == {"sum_x", "avg_x"}

    b = CuttingBoard(cd, frame)
    check(b, "spark", "base")
    check(b, "local_warm", "exact_repeat")

    b2 = CuttingBoard(cd, frame)
    b2.slice(fine).to_df()  # a frame cached, rows never collected
    check(b2, "spark", "frame")

    b3 = CuttingBoard(cd, frame)
    b3.slice(fine).collect()
    check(b3, "local_warm", "derived")

    b4 = CuttingBoard(cd, frame, eager_snapshot_rows=1_000)
    check(b4, "local_cold")

    delta = [("g1", "h0", 0, 4.0, 1.0, 2.0)]
    b.refresh(spark.createDataFrame(delta, SCHEMA["double"]))
    want = _fresh(cd, spark.createDataFrame(rows + delta, SCHEMA["double"]), q)
    check(b, "local_warm", "exact_repeat")
    for board in (b, b2, b3, b4):
        board.clear_cache()


def test_lattice_still_refuses_average_rollup(spark):
    """A registered lattice holds finished values only: a caching board
    still rescans an Average roll-up it covers (``reagg_gate``)."""
    cd = _cubedef()
    frame = spark.createDataFrame(_rows(random.Random(7), 30, "double"), SCHEMA["double"])
    b = CuttingBoard(cd, frame)
    lat = CubeLattice(cd, frame, axes=("g", "h"), values=("avg_x", "sum_x"))
    b.register_lattice(lat)
    try:
        q = _query(("g",), ("avg_x",), [("h", "in", frozenset({"h0", "h1"}))])
        got = [tuple(r) for r in b.slice(q).collect()]
        d = decisions.last("lattice", context=b.decisions_context)
        assert (d.route, d.detail["reason"]) == ("rescan", "reagg_gate")
        _same(got, _fresh(cd, frame, q), False, q)
    finally:
        lat.unpersist()
        b.clear_cache()


def test_refresh_dashboard_job_budget(spark):
    """A cube in the shape of the refresh benchmark's dashboard (seven
    cached queries, two of them Average): each refresh launches at most
    the delta extraction's jobs, and every re-read after it none."""
    cd = _cubedef()
    rng = random.Random(11)
    b = CuttingBoard(cd, spark.createDataFrame(_rows(rng, 80, "decimal"), SCHEMA["decimal"]))
    dashboard = [
        _query(("g", "h"), ("sum_x", "n")),
        _query(("k",), ("sum_x", "n")),
        _query(("g",), ("avg_x",)),
        _query(("h", "k"), ("sum_x",)),
        _query((), ("sum_x", "n")),
        _query(("k",), ("sum_x",), [("g", "eq", "g1")]),
        _query(("g", "k"), ("sum_x", "avg_x"), [("h", "eq", "h0")]),
    ]
    for q in dashboard:
        b.slice(q).collect()
    for _ in range(2):
        delta = spark.createDataFrame(_rows(rng, 10, "decimal"), SCHEMA["decimal"])
        _, jobs = _jobs(spark, lambda delta=delta: b.refresh(delta))
        assert jobs <= 2, jobs
        for q in dashboard:
            _, jobs = _jobs(spark, lambda q=q: b.slice(q).collect())
            assert jobs == 0, q
    b.clear_cache()
