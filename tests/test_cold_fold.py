"""The COLD small-table driver path (round 8): an eager construction-time
snapshot of label values + measure inputs, folded driver-side on the FIRST
hit via the accumulators' ``py_agg`` twins — the engine's answer to the
reference's preloaded in-memory dataset (/root/reference/bacon/
cutting.py:122-135), where a point query over a 20k-row dimension table
costs a Python loop, not a Spark job.

Every test compares the snapshot board against a fresh ``cache_results=
False`` board (pure Spark path) — the same ground-truth pattern as the
warm-navigation fuzz in test_engine.py.
"""

import math
import random

import pytest

from bacon_spark import (
    Average,
    Count,
    CubeDef,
    CubeQuery,
    CuttingBoard,
    Group,
    Label,
    Measure,
    StdDev,
    Sum,
)
from bacon_spark.accumulators import (
    CountDistinct,
    LabeledAcc,
    Max,
    Min,
    RatioSum,
)
from bacon_spark.cubedef import RatioMeasure
from bacon_spark.operators import decisions


@pytest.fixture(scope="module")
def frame(spark):
    rows = []
    for i in range(400):
        g = None if i % 11 == 0 else f"g{i % 5}"
        h = f"h{i % 3}"
        num = None if i % 13 == 0 else float(i % 100) + 0.25
        den = float(i % 7)  # zeros included: RatioSum null-on-zero path
        cur = "EUR" if i % 50 < 45 else "USD"  # LabeledAcc guard
        rows.append((g, h, i % 7, num, den, cur))
    return spark.createDataFrame(
        rows, "g string, h string, d long, num double, den double, cur string"
    )


@pytest.fixture(scope="module")
def cd():
    cd = CubeDef("t")
    for name in ("g", "h", "d", "cur"):
        cd.add_label(Label(name))
    cd.add_measure(Measure("s", "num", acc=Sum()))
    cd.add_measure(Measure("n", "num", acc=Count()))
    cd.add_measure(Measure("mn", "num", acc=Min()))
    cd.add_measure(Measure("mx", "num", acc=Max()))
    cd.add_measure(Measure("avg", "num", acc=Average()))
    cd.add_measure(Measure("sd", "num", acc=StdDev()))
    cd.add_measure(Measure("one_h", "h", acc=Group()))
    cd.add_measure(Measure("nd", "h", acc=CountDistinct()))
    cd.add_measure(RatioMeasure("ratio", "num", "den"))
    cd.add_measure(Measure("eur_sum", "num", acc=LabeledAcc("cur", Sum())))
    return cd


def _match(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
    return a == b


def _assert_same(got_rows, want_rows, ctx):
    got = [tuple(r) for r in got_rows]
    want = [tuple(r) for r in want_rows]
    assert len(got) == len(want), (ctx, len(got), len(want))
    for gr, wr in zip(got, want):
        assert len(gr) == len(wr) and all(
            _match(a, b) for a, b in zip(gr, wr)
        ), (ctx, gr, wr)


def test_cold_fold_serves_first_hit_without_spark(cd, frame):
    b = CuttingBoard(cd, frame, eager_snapshot_rows=10_000)
    assert b._snap is not None
    ref = CuttingBoard(cd, frame, cache_results=False)
    q = (
        CubeQuery().add_axis("g").add_value("s").add_value("n")
        .add_value("mn").add_value("avg").add_value("sd")
    )
    sl = b.slice(q)
    assert sl._rows is not None  # prefetched: no job ran for this slice
    assert b.local_hits == 1
    _assert_same(sl.collect(), ref.slice(q).collect(), "first hit")
    # the result also lands in the rows memo: repeat and drill stay local
    b.slice(q)
    assert b.local_hits == 2


def test_cold_fold_randomized_equivalence(cd, frame):
    """Cold fuzz twin of the warm navigation fuzz: every query runs against
    a cache-cleared snapshot board (so _local_cold, not the memo, answers)
    and a no-cache Spark board."""
    axes_pool = ["g", "h", "d"]
    vals_pool = ["s", "n", "mn", "mx", "avg", "sd", "one_h", "nd", "ratio", "eur_sum"]
    value_of = {
        "g": [None, "g0", "g1", "g2"],
        "h": ["h0", "h1"],
        "d": [0, 1, 2, 3],
        "cur": ["EUR", "USD"],
    }
    b = CuttingBoard(cd, frame, eager_snapshot_rows=10_000)
    ref = CuttingBoard(cd, frame, cache_results=False)
    served = 0
    for seed in range(25):
        rng = random.Random(seed)
        q = CubeQuery()
        for a in rng.sample(axes_pool, rng.randint(0, 3)):
            q = q.add_axis(a)
        for v in rng.sample(vals_pool, rng.randint(1, 4)):
            q = q.add_value(v)
        for _ in range(rng.randint(0, 2)):
            a = rng.choice(list(value_of))
            op = rng.choice(["eq", "ne", "gt", "ge", "lt", "le", "in", "ni"])
            v = rng.choice(value_of[a])
            if op in ("gt", "ge", "lt", "le") and v is None:
                v = value_of[a][-1]
            if op in ("in", "ni"):
                v = frozenset(
                    rng.sample(value_of[a], rng.randint(1, len(value_of[a])))
                )
            q = q.add_filter(a, op, v)
        # order only by numeric measures: the None-sorts-as-0 coalesce
        # (engine._order, reference tables.py:258-275) is numeric by contract
        orderable = [v for v in q.values if v != "one_h"]
        if rng.random() < 0.4 and orderable:
            q = q.set_order(rng.choice(orderable), -1 if rng.random() < 0.5 else 1)
        b.clear_cache()  # memo gone: the snapshot fold must answer alone
        before = b.local_hits
        _assert_same(
            b.slice(q).collect(),
            ref.slice(q).collect(),
            (seed, q.axes, q.values, q.filters),
        )
        served += b.local_hits - before
    assert served >= 20, served  # the cold path actually answered


def test_cold_fold_dim0_over_empty_selection(cd, frame):
    """A grand total whose filters match nothing is still ONE row (count 0,
    null sums) — matching df.agg() over empty input."""
    b = CuttingBoard(cd, frame, eager_snapshot_rows=10_000)
    ref = CuttingBoard(cd, frame, cache_results=False)
    q = (
        CubeQuery().add_value("s").add_value("n")
        .add_filter("g", "eq", "no-such-group")
    )
    got, want = b.slice(q).collect(), ref.slice(q).collect()
    assert b.local_hits == 1
    _assert_same(got, want, "empty dim0")
    assert got[0]["n"] == 0 and got[0]["s"] is None


def test_cap_exceeded_disables_and_falls_back(cd, frame):
    b = CuttingBoard(cd, frame, eager_snapshot_rows=10)
    assert b._snap is None  # 400 rows > 10: snapshot refused
    ref = CuttingBoard(cd, frame, cache_results=False)
    q = CubeQuery().add_axis("h").add_value("s")
    _assert_same(b.slice(q).collect(), ref.slice(q).collect(), "fallback")
    assert b.local_hits == 0


def test_non_caching_board_extracts_no_snapshot(cd, frame, spark):
    """Only a caching board folds its snapshot, so a board that does not
    cache extracts none: neither construction nor a refresh launches a
    job."""
    delta = spark.createDataFrame(
        [("g9", "h9", 9, 5.0, 1.0, "EUR")],
        "g string, h string, d long, num double, den double, cur string",
    )
    sc = spark.sparkContext
    sc.setJobGroup("non-caching-snapshot", "build and refresh a non-caching board")
    try:
        b = CuttingBoard(cd, frame, cache_results=False, eager_snapshot_rows=10_000)
        b.refresh(delta)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("non-caching-snapshot")) == []
    assert b._snap is None
    assert decisions.last("snapshot", context=b.decisions_context) is None


def test_snapshot_decisions_say_why_a_board_has_none(cd, frame, spark):
    """Construction records whether the snapshot was built or the frame
    was over the cap; a refresh that drops it records why."""

    def last(board):
        d = decisions.last("snapshot", context=board.decisions_context)
        return d.route, d.detail

    delta = spark.createDataFrame(
        [("g9", "h9", 9, 5.0, 1.0, "EUR")],
        "g string, h string, d long, num double, den double, cur string",
    )
    full = CuttingBoard(cd, frame, eager_snapshot_rows=400)
    assert last(full) == ("built", {"rows": 400, "cap": 400})
    over = CuttingBoard(cd, frame, eager_snapshot_rows=10)
    assert last(over) == ("over_cap", {"rows": 11, "cap": 10})
    full.refresh(delta)  # 401 rows
    assert full._snap is None
    assert last(full) == ("dropped", {"reason": "over_cap", "rows": 401, "cap": 400})
    unbounded = CuttingBoard(cd, frame, eager_snapshot_rows=10_000)
    unbounded.MEMO_MAX_ROWS = 0  # the delta is over the extraction bound
    unbounded.refresh(delta)
    assert unbounded._snap is None
    assert last(unbounded) == (
        "dropped",
        {"reason": "delta_not_extracted", "rows": None, "cap": 10_000},
    )


def test_ops_without_python_twin_fall_through(cd, frame):
    b = CuttingBoard(cd, frame, eager_snapshot_rows=10_000)
    ref = CuttingBoard(cd, frame, cache_results=False)
    q = (
        CubeQuery().add_axis("h").add_value("s")
        .add_filter("g", "match", "g[01]")
    )
    before = b.local_hits
    _assert_same(b.slice(q).collect(), ref.slice(q).collect(), "regex")
    assert b.local_hits == before  # regex has no twin: Spark planned it


def test_cold_fold_set_ops_randomized_equivalence(spark):
    """Round 10: the 13 set-algebra ops now have driver-side twins (the
    head-to-head showed the reference folding q12-shaped set filters
    in-memory while we paid a Spark job). Fuzz: random tag soups with
    null cells, empty arrays, '' and duplicate elements — every set op,
    snapshot fold vs pure Spark board, exact equality, and the local
    path must actually serve."""
    from bacon_spark.cubedef import SetLabel
    from bacon_spark.filters import FILTER_OPS

    set_ops = [
        op
        for op in FILTER_OPS
        if op not in ("eq", "ne", "gt", "ge", "lt", "le", "in", "ni", "match", "nmatch")
    ]
    rng = random.Random(0x512)
    vocab = ["red", "blue", "green", "widget", "bolt", "gear", ""]
    rows = []
    for i in range(300):
        if i % 17 == 0:
            tags = None
        else:
            tags = rng.sample(vocab, rng.randint(0, 4))
            if tags and rng.random() < 0.3:
                tags.append(tags[0])  # duplicate element: distinct conflation
        rows.append((f"b{i % 4}", tags, float(i % 9)))
    frame = spark.createDataFrame(rows, "brand string, tags array<string>, price double")
    cd = CubeDef("t")
    cd.add_label(Label("brand"))
    cd.add_label(SetLabel("tags"))
    cd.add_measure(Measure("n", "brand", acc=Count()))
    cd.add_measure(Measure("sp", "price", acc=Sum()))
    b = CuttingBoard(cd, frame, eager_snapshot_rows=10_000)
    ref = CuttingBoard(cd, frame, cache_results=False)
    assert b._snap is not None
    served = 0
    lit_pool = ["red", "blue", "green", "widget", "bolt", "gear", "", None]
    for trial in range(30):
        q = CubeQuery().add_axis("brand").add_value("n").add_value("sp")
        for _ in range(rng.randint(1, 2)):
            v = frozenset(rng.sample(lit_pool, rng.randint(1, 3)))
            q = q.add_filter("tags", rng.choice(set_ops), v)
        b.clear_cache()
        before = b.local_hits
        _assert_same(
            b.slice(q).collect(),
            ref.slice(q).collect(),
            (trial, q.filters),
        )
        served += b.local_hits - before
    assert served == 30, served  # every trial answered driver-side


def test_set_ops_on_scalar_column_rejected_both_paths(cd, frame):
    """ADVICE r10: a set-algebra op on a SCALAR column must fail the
    same way on both paths. Before the guard, the snapshot fold served
    hasany('brand', {...}) by iterating the string's CHARACTERS while
    the Spark path raised — the same query succeeded or failed depending
    on which path caught it. Now the twin compile rejects non-array
    dtypes (KeyError -> Spark plan) and Spark rejects array_* on a
    string column, so both boards raise."""
    import pytest

    b = CuttingBoard(cd, frame, eager_snapshot_rows=10_000)
    ref = CuttingBoard(cd, frame, cache_results=False)
    assert b._snap is not None
    q = (
        CubeQuery().add_axis("h").add_value("s")
        .add_filter("g", "hasany", frozenset({"red"}))
    )
    before = b.local_hits
    with pytest.raises(Exception):
        b.slice(q).collect()
    assert b.local_hits == before  # never served driver-side
    with pytest.raises(Exception):
        ref.slice(q).collect()


def test_py_clean_cell_rejects_scalar_cells():
    """The row-level guard behind the compile-time check: _py_clean_cell
    accepts only None and array-cell shapes; a plain string raises
    instead of being iterated into its characters."""
    import pytest

    from bacon_spark.filters import _py_clean_cell

    assert _py_clean_cell(None) == frozenset()
    assert _py_clean_cell(["a", None, "", "a"]) == frozenset({"a"})
    assert _py_clean_cell(("x", "y")) == frozenset({"x", "y"})
    with pytest.raises(TypeError, match="array cell"):
        _py_clean_cell("red")
    with pytest.raises(TypeError, match="array cell"):
        _py_clean_cell(7)


def test_py_clean_cell_non_string_elements():
    """ADVICE r12: off the array<string> contract the twin must keep the
    pre-round-12 per-element stringify semantics — unhashable elements
    (nested arrays) fall back instead of raising from frozenset(), and
    values that hash-conflate pre-stringify (True vs 1) stay distinct
    because str() is applied to the ORIGINAL cell, not the deduped set."""
    from bacon_spark.filters import _py_clean_cell

    # unhashable (array<array<...>> cell materialized as nested lists)
    assert _py_clean_cell([[1, 2], [1, 2], "a", None, ""]) == frozenset(
        {"[1, 2]", "a"}
    )
    # hash-equal pre-stringify, distinct after: frozenset({True, 1}) would
    # collapse to one element; the twin keeps both
    assert _py_clean_cell([True, 1, "x"]) == frozenset({"True", "1", "x"})
    # ints drop the None/"" sentinels like strings do
    assert _py_clean_cell([0, None, 3, ""]) == frozenset({"0", "3"})


def test_refresh_rebuilds_snapshot(cd, frame, spark):
    """The snapshot takes the refreshed delta from the refresh's one
    extraction (a limit probe may take two jobs) instead of re-collecting
    the grown base."""
    b = CuttingBoard(cd, frame, eager_snapshot_rows=10_000)
    n0 = len(b._snap.rows)
    delta = spark.createDataFrame(
        [("g9", "h9", 9, 5.0, 1.0, "EUR")],
        "g string, h string, d long, num double, den double, cur string",
    )
    sc = spark.sparkContext
    sc.setJobGroup("snapshot-refresh", "refresh a snapshot board")
    try:
        b.refresh(delta)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("snapshot-refresh")) <= 2
    assert len(b._snap.rows) == n0 + 1
    q = CubeQuery().add_axis("g").add_value("s").add_filter("g", "eq", "g9")
    rows = b.slice(q).collect()
    assert len(rows) == 1 and rows[0]["s"] == 5.0


def test_labeled_acc_empty_group_is_null_both_paths(cd, frame):
    """ADVICE r8: a dim-0 LabeledAcc query whose filters match NOTHING must
    be null on BOTH paths — Spark's guard (count_distinct 0 + max(null) =
    null) and the driver-side fold twin, which used to delegate
    inner.py_agg([]) (a Count inner would say 0)."""
    b = CuttingBoard(cd, frame, eager_snapshot_rows=10_000)
    ref = CuttingBoard(cd, frame, cache_results=False)
    q = (
        CubeQuery().add_value("eur_sum").add_value("s")
        .add_filter("g", "eq", "no-such-group")
    )
    b.clear_cache()
    before = b.local_hits
    got = [tuple(r) for r in b.slice(q).collect()]
    assert b.local_hits == before + 1  # the fold actually served
    want = [tuple(r) for r in ref.slice(q).collect()]
    assert got == want == [(None, None)]


def test_cold_fold_decision_recorded(cd, frame):
    """VERDICT r11 next #6: the cold-fold vs Spark-plan choice is in the
    decisions log — 'local_cold' for the first-hit snapshot fold,
    'local_warm' for memoized repeats, 'spark' when no driver-side form
    answers — each tagged with the board's decisions_context."""
    from bacon_spark.operators import decisions

    decisions.clear()
    b = CuttingBoard(cd, frame, eager_snapshot_rows=10_000)
    ctx = b.decisions_context
    q = CubeQuery().add_axis("g").add_value("s")
    b.slice(q).collect()
    d = decisions.last("cold_fold", context=ctx)
    assert d is not None and d.route == "local_cold"
    assert d.detail["snapshot_rows"] == 400

    # exact repeat: served from memoized rows
    b.slice(q).collect()
    d = decisions.last("cold_fold", context=ctx)
    assert d.route == "local_warm" and d.detail["kind"] == "exact_repeat"

    # eq-drill on a cached extra axis: derived warm fold
    b.slice(CubeQuery().add_axis("g").add_axis("h").add_value("s")).collect()
    b.slice(
        CubeQuery().add_axis("g").add_value("s").add_filter("h", "eq", "h1")
    ).collect()
    d = decisions.last("cold_fold", context=ctx)
    assert d.route == "local_warm" and d.detail["kind"] == "derived"

    # a board with no snapshot takes the Spark plan, and its record is
    # distinguishable by context from the snapshot board's (ADVICE r11)
    b2 = CuttingBoard(cd, frame)
    b2.slice(q).collect()
    assert decisions.last("cold_fold", context=b2.decisions_context).route == "spark"
    assert decisions.last("cold_fold", context=ctx).route == "local_warm"
    decisions.clear()


def test_fused_same_column_set_filters_match_unfused(spark):
    """Round 12: several set-algebra filters on the SAME SetLabel column
    are fused to share one cell-clean per row (fuse_py_filters). The
    fused fold must equal both the unfused Spark path and the reference
    semantics for every op combination, including ops that disagree on
    the same cell."""
    import itertools
    from bacon_spark import CubeQuery as CQ
    from bacon_spark.cubedef import SetLabel

    rows = [
        (i, None if i % 7 == 0 else
         [x for x in ("red", "blue", "", None, f"t{i % 4}")][: i % 5])
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, "k long, tags array<string>")
    cd = CubeDef("f")
    cd.add_label(Label("k"))
    cd.add_label(SetLabel("tags"))
    cd.add_measure(Measure("n", "k", acc=Count()))
    ops = ["hasany", "hasall", "hasnone", "subsetof", "notequals"]
    # explicit op -> literal map (ADVICE r12: hash(op) % 3 made the
    # covered combinations vary with PYTHONHASHSEED, so a red run was
    # not reproducible from the reported op pair alone)
    lit_for = {
        "hasany": frozenset({"red"}),
        "hasall": frozenset({"blue", ""}),
        "hasnone": frozenset({"red", "t1"}),
        "subsetof": frozenset({"red", "t1"}),
        "notequals": frozenset({"red"}),
    }
    combos = list(itertools.islice(itertools.product(ops, ops), 12))
    for op1, op2 in combos:
        q = (
            CQ().add_axis("k").add_value("n")
            .add_filter("tags", op1, lit_for[op1])
            .add_filter("tags", op2, lit_for[op2])
        )
        warm = CuttingBoard(cd, df, eager_snapshot_rows=10_000)
        cold = CuttingBoard(cd, df, cache_results=False)
        got = sorted(tuple(r) for r in warm.slice(q).collect())
        want = sorted(tuple(r) for r in cold.slice(q).collect())
        assert got == want, (op1, lit_for[op1], op2, lit_for[op2])
        assert warm.local_hits == 1  # the fused fold actually served
