"""HLL / KMV sketch operators (operators/sketch.py): accuracy against
exact distinct counts, the register-merge (re-aggregation) property, the
small-range linear-counting branch, and bounded-memory KMV semantics."""

import pytest
from pyspark.sql import functions as F

from bacon_spark.operators import sketch as sk


def _est(df):
    return df.collect()[0]["hll_estimate"]


def test_hll_accuracy_large(spark):
    # 50k distinct values: the raw-estimate branch; m=4096 registers give
    # ~1.04/sqrt(m) ~ 1.6% standard error — assert a generous 5%
    df = spark.range(50_000).select(F.col("id").alias("v"))
    reg = sk.hll_registers(df, "v")
    est = _est(sk.hll_estimate(reg))
    assert abs(est - 50_000) / 50_000 < 0.05


def test_hll_linear_counting_small(spark):
    # 100 distinct values << 2.5*m: the ln small-range correction branch
    # is near-exact there
    df = spark.range(100).select(F.col("id").alias("v"))
    est = _est(sk.hll_estimate(sk.hll_registers(df, "v")))
    assert abs(est - 100) / 100 < 0.05


def test_hll_duplicates_do_not_inflate(spark):
    # registers are max-based: 100x duplication must not move the estimate
    base = spark.range(5_000).select(F.col("id").alias("v"))
    dup = spark.range(500_000).select((F.col("id") % 5_000).alias("v"))
    assert _est(sk.hll_estimate(sk.hll_registers(base, "v"))) == _est(
        sk.hll_estimate(sk.hll_registers(dup, "v"))
    )


def test_hll_merge_equals_global(spark):
    # the re-aggregation property: merging per-group register frames must
    # give EXACTLY the estimate of a single global sketch
    df = spark.range(20_000).select(
        (F.col("id") % 4).cast("string").alias("g"), F.col("id").alias("v")
    )
    merged = _est(sk.hll_merge(sk.hll_registers(df, "v", ["g"])))
    direct = _est(sk.hll_estimate(sk.hll_registers(df, "v")))
    assert merged == direct


def test_kmv_exact_below_k(spark):
    # fewer distinct values than k: the synopsis IS the distinct set and
    # the estimator returns the exact count
    df = spark.range(1_000).select((F.col("id") % 37).alias("v"))
    syn = sk.kmv_synopsis(df, "v", k=256)
    assert syn.count() == 37
    assert sk.kmv_estimate(syn, k=256).collect()[0]["kmv_estimate"] == 37.0


def test_kmv_accuracy_large(spark):
    # 100k distinct, k=256: std error ~ 1/sqrt(k-2) ~ 6.3%; assert 20%
    df = spark.range(100_000).select(F.col("id").alias("v"))
    syn = sk.kmv_synopsis(df, "v", k=256)
    est = sk.kmv_estimate(syn, k=256).collect()[0]["kmv_estimate"]
    assert abs(est - 100_000) / 100_000 < 0.20


def test_kmv_partitioning_invariant(spark):
    # per-partition k-minima then global top-k must equal the single-
    # partition answer — the bounded-memory path can't change the set
    df = spark.range(30_000).select(F.col("id").alias("v"))
    one = {r["h"] for r in sk.kmv_synopsis(df.coalesce(1), "v", k=64).collect()}
    many = {r["h"] for r in sk.kmv_synopsis(df.repartition(17), "v", k=64).collect()}
    assert one == many and len(one) == 64


@pytest.mark.parametrize("p", [8, 12])
def test_hll_register_bounds(spark, p):
    # at most 2^p register rows regardless of input size, rho within
    # [1, 60-p+1]
    df = spark.range(200_000).select(F.col("id").alias("v"))
    reg = sk.hll_registers(df, "v", p=p).collect()
    assert len(reg) <= (1 << p)
    assert all(1 <= r["reg"] <= 60 - p + 1 for r in reg)


# --- SketchDistinct as a cube measure (engine._aggregate_with_sketches) ---


def _board(spark, rows):
    from bacon_spark import (
        Count,
        CountDistinct,
        CubeDef,
        CubeQuery,
        CuttingBoard,
        SketchDistinct,
    )
    from bacon_spark.cubedef import Label, Measure

    df = spark.createDataFrame(rows, "g string, v long")
    cd = CubeDef("t")
    cd.add_label(Label("g", "g"))
    cd.add_measure(Measure("n", "v", acc=Count()))
    cd.add_measure(Measure("approx_v", "v", acc=SketchDistinct()))
    cd.add_measure(Measure("exact_v", "v", acc=CountDistinct()))
    return CubeDef, CubeQuery, CuttingBoard(cd, df, cache_results=False)


def test_sketch_measure_mixed_slice(spark):
    from bacon_spark import CubeQuery

    rows = [("a", i % 100) for i in range(1_000)] + [("b", i) for i in range(5_000)]
    _, _, board = _board(spark, rows)
    q = CubeQuery().add_axis("g").add_value("n").add_value("approx_v").add_value("exact_v")
    out = {r["g"]: r for r in board.slice(q).to_df().collect()}
    assert out["a"]["n"] == 1_000 and out["a"]["exact_v"] == 100
    # small cardinalities sit in the near-exact linear-counting regime
    assert abs(out["a"]["approx_v"] - 100) / 100 < 0.05
    assert abs(out["b"]["approx_v"] - 5_000) / 5_000 < 0.05


def test_sketch_measure_only_and_grand_total(spark):
    from bacon_spark import CubeQuery

    rows = [("a", i) for i in range(2_000)] + [("b", i) for i in range(2_000)]
    _, _, board = _board(spark, rows)
    # sketch-only slice (no ordinary aggregate to anchor the groupBy)
    q = CubeQuery().add_axis("g").add_value("approx_v")
    got = {r["g"]: r["approx_v"] for r in board.slice(q).to_df().collect()}
    assert set(got) == {"a", "b"}
    assert all(abs(e - 2_000) / 2_000 < 0.05 for e in got.values())
    # dim=0 grand total: values shared across groups dedup globally
    q0 = CubeQuery().add_value("approx_v").add_value("exact_v")
    r0 = board.slice(q0).to_df().collect()[0]
    assert r0["exact_v"] == 2_000
    assert abs(r0["approx_v"] - 2_000) / 2_000 < 0.05


def test_sketch_measure_all_null_group_is_zero(spark):
    from bacon_spark import CubeQuery

    rows = [("a", 1), ("a", 2), ("nullgrp", None), ("nullgrp", None)]
    _, _, board = _board(spark, rows)
    q = CubeQuery().add_axis("g").add_value("n").add_value("approx_v")
    out = {r["g"]: r for r in board.slice(q).to_df().collect()}
    assert out["nullgrp"]["n"] == 2  # Count counts rows, nulls included
    assert out["nullgrp"]["approx_v"] == 0.0  # distinct of all-null = empty


def test_sketch_measure_refused_by_lattice(spark):
    import pytest as _pytest

    from bacon_spark.operators.lattice import CubeLattice

    rows = [("a", 1), ("b", 2)]
    _, _, board = _board(spark, rows)
    with _pytest.raises(ValueError, match="SketchDistinct"):
        CubeLattice(board.cubedef, board.df, ("g",), ("approx_v",))


def test_sketch_measure_sql_pushdown_compiles_exact(spark):
    # sources that can't build registers (SQL pushdown) fall back to an
    # exact distinct count — a correct answer under the approx contract
    from bacon_spark import CubeDef, CubeQuery, SketchDistinct
    from bacon_spark.cubedef import Label, Measure
    from bacon_spark.sql import SqlCuttingBoard

    cd = CubeDef("t")
    cd.add_label(Label("g", "g"))
    cd.add_measure(Measure("approx_v", "v", acc=SketchDistinct()))
    q = CubeQuery().add_axis("g").add_value("approx_v")
    sql = SqlCuttingBoard(cd, spark, "tbl").compile(q)
    assert "count(DISTINCT" in sql


def test_ams_f2_accuracy_and_nulls(spark):
    # uniform column: every key unique -> F2 = n exactly; rel std error
    # ~ sqrt(2/64) ~ 18%, assert 3 sigma. Nulls are skipped.
    df = spark.range(20_000).select(
        F.when(F.col("id") % 100 == 0, None).otherwise(F.col("id")).alias("v")
    )
    n = 20_000 - 200
    est = sk.ams_f2(df, "v").collect()[0]["f2_estimate"]
    assert abs(est - n) / n < 0.55


def test_ams_f2_sees_skew(spark):
    # one hot key with 5k occurrences dominates: F2 >= 25M, while the
    # uniform remainder contributes 5k — the sketch must see the square
    hot = spark.range(5_000).select(F.lit(7).cast("long").alias("v"))
    uni = spark.range(5_000).select((F.col("id") + 100).alias("v"))
    est = sk.ams_f2(hot.union(uni), "v").collect()[0]["f2_estimate"]
    assert est > 10_000_000  # far beyond the uniform-only F2 of ~10k


def test_auto_salt_join_decision_and_equivalence(spark):
    from bacon_spark.operators.scale import auto_salt_join

    # skewed: 90% of fact rows on one key -> F2/n ~ 0.81*n >> threshold
    skew = spark.range(2_000).select(
        F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("x"),
    )
    uni = spark.range(2_000).select(F.col("id").alias("k"), F.col("id").alias("x"))
    dim = spark.range(2_000).select(F.col("id").alias("k"), (F.col("id") % 3).alias("c"))

    j_skew = auto_salt_join(skew, dim, "k")
    j_uni = auto_salt_join(uni, dim, "k")
    # decision is visible in the plan: the salted path hashes whole rows
    assert "xxhash64" in j_skew._jdf.queryExecution().toString()
    assert "xxhash64" not in j_uni._jdf.queryExecution().toString()
    # and must never change results
    plain = sorted((r["k"], r["x"], r["c"]) for r in skew.join(dim, "k").collect())
    auto = sorted((r["k"], r["x"], r["c"]) for r in j_skew.collect())
    assert plain == auto


def test_routing_decisions_log(spark):
    """VERDICT r10 next #4: routers record into the composition-safe
    decisions log; last()/log()/clear() behave; auto_salt_join's entry
    carries the sketch evidence that drove the pick."""
    from bacon_spark.operators import decisions
    from bacon_spark.operators.scale import auto_salt_join

    decisions.clear()
    assert decisions.last() is None and decisions.log() == ()
    skew = spark.range(2_000).select(
        F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("x"),
    )
    uni = spark.range(2_000).select(F.col("id").alias("k"), F.col("id").alias("x"))
    dim = spark.range(2_000).select(F.col("id").alias("k"), (F.col("id") % 3).alias("c"))
    auto_salt_join(skew, dim, "k")
    d = decisions.last("salt_join")
    assert d is not None and d.route == "salted" and d.detail["key"] == "k"
    assert d.detail["collision_factor"] > d.detail["skew_threshold"]
    auto_salt_join(uni, dim, "k")
    assert decisions.last("salt_join").route == "plain"
    assert [x.route for x in decisions.log()] == ["salted", "plain"]
    # unknown operator filter -> None, not the latest entry
    assert decisions.last("funnel") is None
    decisions.clear()


def test_sketch_measure_plan_partial_aggregates(spark):
    # the register aggregation must partial-aggregate map-side (the
    # whole point: only registers cross the exchange, never values)
    rows = [("a", i) for i in range(500)]
    _, _, board = _board(spark, rows)
    from bacon_spark import CubeQuery

    q = CubeQuery().add_axis("g").add_value("approx_v")
    plan = board.slice(q).to_df()._jdf.queryExecution().executedPlan().toString()
    assert "partial_max" in plan


def test_sketch_measure_null_axis_group(spark):
    # ADVICE r5: the estimate frame must attach null-SAFELY — a NULL axis
    # value is a real group and its estimate must not collapse to 0.0
    from bacon_spark import CubeQuery

    rows = [(None, 1), (None, 2), (None, 3), ("a", 1)]
    _, _, board = _board(spark, rows)
    q = CubeQuery().add_axis("g").add_value("n").add_value("approx_v").add_value("exact_v")
    out = {r["g"]: r for r in board.slice(q).to_df().collect()}
    assert out[None]["exact_v"] == 3
    assert abs(out[None]["approx_v"] - 3) < 0.5  # linear-counting regime: near-exact
    assert abs(out["a"]["approx_v"] - 1) < 0.5


def test_sketch_only_null_axis_multi_measure(spark):
    # sketch-only slice with >1 sketch measure exercises the est-to-est
    # join; NULL groups must survive that path too
    from bacon_spark import CubeDef, CubeQuery, CuttingBoard, SketchDistinct
    from bacon_spark.cubedef import Label, Measure

    df = spark.createDataFrame(
        [(None, 1, 10), (None, 2, 10), ("a", 1, 20)], "g string, v long, w long"
    )
    cd = CubeDef("t")
    cd.add_label(Label("g", "g"))
    cd.add_measure(Measure("av", "v", acc=SketchDistinct()))
    cd.add_measure(Measure("aw", "w", acc=SketchDistinct()))
    board = CuttingBoard(cd, df, cache_results=False)
    q = CubeQuery().add_axis("g").add_value("av").add_value("aw")
    out = {r["g"]: r for r in board.slice(q).to_df().collect()}
    assert abs(out[None]["av"] - 2) < 0.5 and abs(out[None]["aw"] - 1) < 0.5
    assert abs(out["a"]["av"] - 1) < 0.5 and abs(out["a"]["aw"] - 1) < 0.5


def test_kmv_null_values_excluded(spark):
    # ADVICE r5: kmv_synopsis must filter NULLs like hll_registers does —
    # and the DuckDB twin must agree (below-k exact branch is where the
    # engines diverged)
    import duckdb

    df = spark.createDataFrame(
        [(v,) for v in ["x", "y", "z", None, None]], "v string"
    )
    syn = sk.kmv_synopsis(df, "v", k=256)
    assert syn.count() == 3
    assert sk.kmv_estimate(syn, k=256).collect()[0]["kmv_estimate"] == 3.0
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT * FROM (VALUES ('x'),('y'),('z'),(NULL),(NULL)) v(v)")
    sql = sk.kmv_estimate_sql(f"({sk.kmv_synopsis_sql('t', 'v', k=256)})", k=256)
    assert con.execute(sql).fetchone()[0] == 3.0


# --- SketchLattice: register-level rollup (operators/lattice.SketchLattice) ---


def _two_axis_board(spark):
    from bacon_spark import (
        CubeDef,
        CubeQuery,
        CuttingBoard,
        SketchDistinct,
    )
    from bacon_spark.cubedef import Label, Measure

    rows = []
    for i in range(3_000):
        rows.append((f"s{i % 3}", f"c{i % 5}", i % 400))
    rows += [(None, "c9", 1), (None, "c9", 2), ("s0", None, None)]
    df = spark.createDataFrame(rows, "state string, city string, v long")
    cd = CubeDef("t")
    cd.add_label(Label("state"))
    cd.add_label(Label("city"))
    cd.add_measure(Measure("approx_v", "v", acc=SketchDistinct()))
    return CubeQuery, CuttingBoard(cd, df, cache_results=False), df


def _sketch_lattice(board, df):
    from bacon_spark.operators.lattice import SketchLattice

    return SketchLattice(
        board.cubedef, df, axes=("state", "city"), values=("approx_v",)
    )


def test_sketch_lattice_serves_all_grains_bit_identical(spark):
    # registers merge exactly by max, so every coarser grain served from
    # the finest-grain register frame must equal direct computation over
    # the base BIT-for-bit (same p, same registers -> same estimate)
    CubeQuery, board, df = _two_axis_board(spark)
    lat = _sketch_lattice(board, df)
    try:
        for wanted in [("state", "city"), ("state",), ("city",), ()]:
            got = {
                tuple(r[a] for a in wanted): r["approx_v"]
                for r in lat.slice_df(wanted).collect()
            }
            q = CubeQuery().add_value("approx_v")
            for a in wanted:
                q = q.add_axis(a)
            want = {
                tuple(r[a] for a in wanted): r["approx_v"]
                for r in board.slice(q).to_df().collect()
            }
            assert got == want, wanted  # exact equality, not tolerance
    finally:
        lat.unpersist()


def test_sketch_lattice_planner_routing_and_filter_drills(spark):
    # a board with a registered SketchLattice must answer covered queries
    # from it — including non-eq filters on a DROPPED axis, the shape the
    # finished-value lattice path cannot serve — bit-identical to a
    # lattice-free board
    CubeQuery, board, df = _two_axis_board(spark)
    plain_board = type(board)(board.cubedef, df, cache_results=False)
    lat = _sketch_lattice(board, df)
    board.register_lattice(lat)
    try:
        queries = [
            CubeQuery().add_axis("state").add_value("approx_v"),
            CubeQuery()
            .add_axis("state")
            .add_value("approx_v")
            .add_filter("city", "eq", "c1"),
            CubeQuery()
            .add_axis("state")
            .add_value("approx_v")
            .add_filter("city", "in", ("c1", "c2")),
            CubeQuery()
            .add_axis("state")
            .add_value("approx_v")
            .add_filter("city", "ge", "c2"),
            CubeQuery().add_value("approx_v").add_filter("state", "ne", "s1"),
        ]
        for q in queries:
            axes = tuple(q.axes)
            got = {
                tuple(r[a] for a in axes): r["approx_v"]
                for r in board.slice(q).to_df().collect()
            }
            want = {
                tuple(r[a] for a in axes): r["approx_v"]
                for r in plain_board.slice(q).to_df().collect()
            }
            assert got == want, q
    finally:
        lat.unpersist()


def test_sketch_lattice_null_axis_groups(spark):
    # NULL axis values are real groups (null-safe register attach); the
    # all-NULL-input group estimates 0.0, matching engine semantics
    CubeQuery, board, df = _two_axis_board(spark)
    lat = _sketch_lattice(board, df)
    try:
        got = {
            (r["state"], r["city"]): r["approx_v"]
            for r in lat.slice_df(("state", "city")).collect()
        }
        assert abs(got[(None, "c9")] - 2) < 0.5
        assert got[("s0", None)] == 0.0
    finally:
        lat.unpersist()


def test_sketch_lattice_refresh_matches_rebuild(spark):
    # fold a delta in by register max == rebuild over base ∪ delta,
    # bit-identical (the IVM property finished estimates lack)
    from bacon_spark.operators.lattice import SketchLattice

    CubeQuery, board, df = _two_axis_board(spark)
    delta = spark.createDataFrame(
        [("s0", "c1", 10_000 + i) for i in range(500)] + [("s9", "c0", 1)],
        "state string, city string, v long",
    )
    lat = _sketch_lattice(board, df)
    rebuilt = SketchLattice(
        board.cubedef,
        df.unionByName(delta),
        axes=("state", "city"),
        values=("approx_v",),
    )
    try:
        lat.refresh(delta)
        for wanted in [("state", "city"), ("state",), ()]:
            got = {
                tuple(r[a] for a in wanted): r["approx_v"]
                for r in lat.slice_df(wanted).collect()
            }
            want = {
                tuple(r[a] for a in wanted): r["approx_v"]
                for r in rebuilt.slice_df(wanted).collect()
            }
            assert got == want, wanted
    finally:
        lat.unpersist()
        rebuilt.unpersist()


def test_sketch_lattice_board_refresh_keeps_it_registered(spark):
    # board.refresh must fold the delta into a registered SketchLattice
    # (reaggregatable=True) and keep consulting it — and the answers
    # must track the grown base
    CubeQuery, board, df = _two_axis_board(spark)
    lat = _sketch_lattice(board, df)
    board.register_lattice(lat)
    delta = spark.createDataFrame(
        [("s0", "c0", 50_000 + i) for i in range(1_000)],
        "state string, city string, v long",
    )
    try:
        board.refresh(delta)
        assert lat in board._lattices  # still registered (mergeable)
        q = CubeQuery().add_axis("state").add_value("approx_v")
        got = {r["state"]: r["approx_v"] for r in board.slice(q).to_df().collect()}
        plain = type(board)(board.cubedef, df.unionByName(delta), cache_results=False)
        want = {r["state"]: r["approx_v"] for r in plain.slice(q).to_df().collect()}
        assert got == want
    finally:
        lat.unpersist()


def test_sketch_lattice_rejects_ordinary_measures(spark):
    import pytest as _pytest

    from bacon_spark import Count
    from bacon_spark.cubedef import Measure
    from bacon_spark.operators.lattice import SketchLattice

    CubeQuery, board, df = _two_axis_board(spark)
    board.cubedef.add_measure(Measure("n", "v", acc=Count()))
    with _pytest.raises(ValueError, match="measures only"):
        SketchLattice(board.cubedef, df, ("state",), ("n",))


def test_key_cardinality_stats_sidecar_and_funnel_routing(spark, tmp_path):
    """Round 10: the funnel router's cardinality estimate is table
    metadata, same contract as the skew sidecar — computed once, served
    cached, recomputed only when the table's files change — and
    streaming_funnel_steps_auto(estimate_path=...) routes from it."""
    from bacon_spark.streaming.funnel import funnel_route
    from bacon_spark.operators.scale import key_cardinality_stats

    path = str(tmp_path / "events_t")
    spark.range(5_000).select(
        (F.col("id") % 300).alias("user_id"), F.col("id").alias("x")
    ).write.parquet(path)
    first = key_cardinality_stats(spark, path, "user_id")
    assert first["cached"] is False and 270 <= first["ndv"] <= 330
    second = key_cardinality_stats(spark, path, "user_id")
    assert second["cached"] is True and second["ndv"] == first["ndv"]
    assert funnel_route(second["ndv"]) == "per_user"
    # file change -> stale -> recomputed at the new cardinality
    spark.range(200_000).select(
        F.col("id").alias("user_id"), F.col("id").alias("x")
    ).write.mode("overwrite").parquet(path)
    third = key_cardinality_stats(spark, path, "user_id")
    assert third["cached"] is False and third["ndv"] > 150_000
    assert funnel_route(third["ndv"]) == "sharded"


def test_max_event_time_stats_sidecar(spark, tmp_path):
    """Round 14: the streaming gates' sentinel-exclusion bound (max REAL
    event time of the staged input) is table metadata — the exact inline
    aggregate, computed once, served cached, recomputed when the table's
    files change."""
    import datetime as dt

    from bacon_spark.operators.scale import max_event_time_stats

    path = str(tmp_path / "staged_ev")
    base = dt.datetime(2024, 1, 1)
    rows = [
        (base + dt.timedelta(hours=h), "click" if h < 5 else "sent")
        for h in range(7)
    ]
    spark.createDataFrame(rows, "ts timestamp, event_type string").write.parquet(
        path
    )
    first = max_event_time_stats(spark, path, "ts", exclude_type="sent")
    # value == the exact inline aggregate the gates previously ran
    inline = (
        spark.read.parquet(path)
        .filter(F.col("event_type") != "sent")
        .agg(F.max(F.unix_micros("ts")))
        .first()[0]
    )
    assert first["cached"] is False and first["max_us"] == inline
    assert dt.datetime(1970, 1, 1) + dt.timedelta(
        microseconds=first["max_us"]
    ) == base + dt.timedelta(hours=4)
    second = max_event_time_stats(spark, path, "ts", exclude_type="sent")
    assert second["cached"] is True and second["max_us"] == first["max_us"]
    # sentinel-inclusive variant caches under its own key
    full = max_event_time_stats(spark, path, "ts")
    assert full["max_us"] > first["max_us"]
    # file change -> stale -> recomputed
    spark.createDataFrame(
        [(base + dt.timedelta(days=30), "click")], "ts timestamp, event_type string"
    ).write.mode("append").parquet(path)
    third = max_event_time_stats(spark, path, "ts", exclude_type="sent")
    assert third["cached"] is False and third["max_us"] > first["max_us"]


def test_sentinel_bound_is_exact_under_non_utc_os_timezone(spark, tmp_path, monkeypatch):
    """q85/q99's sentinel-exclusion bound goes into F.lit(), which converts
    a NAIVE datetime through the driver's OS timezone: the bound must be
    UTC-aware so its instant is the staged max under any TZ. An input
    with no real events raises a clear error instead of a TypeError."""
    import datetime as dt
    import time

    from bacon_spark.errors import DataError
    from bacon_spark.gate.streaming import _max_real_ts

    path = str(tmp_path / "staged_ev")
    base = dt.datetime(2024, 1, 1)
    rows = [(base + dt.timedelta(hours=h), "click" if h < 5 else "sent") for h in range(7)]
    spark.createDataFrame(rows, "ts timestamp, event_type string").write.parquet(path)
    want = (
        spark.read.parquet(path)
        .filter(F.col("event_type") != "sent")
        .agg(F.max(F.unix_micros("ts")))
        .first()[0]
    )
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        hi = _max_real_ts(spark, path)
        got = spark.range(1).select(F.unix_micros(F.lit(hi))).first()[0]
    finally:
        monkeypatch.undo()
        time.tzset()
    assert got == want

    sentinels = str(tmp_path / "sentinels_only")
    spark.createDataFrame(rows[5:], "ts timestamp, event_type string").write.parquet(sentinels)
    with pytest.raises(DataError, match="no non-sentinel events"):
        _max_real_ts(spark, sentinels)


def test_key_skew_stats_sidecar_cached_and_staleness(spark, tmp_path):
    # VERDICT r5 task #6: the auto-salt decision is table metadata —
    # computed once per ingest, reused across calls, recomputed only
    # after a refresh that changes the table's files.
    from bacon_spark.operators.scale import auto_salt_join, key_skew_stats

    path = str(tmp_path / "facts")
    skew = spark.range(2_000).select(
        F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("x"),
    )
    skew.write.parquet(path)

    first = key_skew_stats(spark, path, "k")
    assert first["cached"] is False and first["collision_factor"] > 8.0
    second = key_skew_stats(spark, path, "k")
    assert second["cached"] is True  # served from the sidecar, no scan
    assert {k: second[k] for k in ("n", "f2_estimate", "signature")} == {
        k: first[k] for k in ("n", "f2_estimate", "signature")
    }

    # the stats-fed join is plan-identical to the inline-scan decision
    # and row-identical to the plain join
    dim = spark.range(2_000).select(F.col("id").alias("k"), (F.col("id") % 3).alias("c"))
    big = spark.read.parquet(path)
    j = auto_salt_join(big, dim, "k", big_path=path)
    assert "xxhash64" in j._jdf.queryExecution().toString()  # salted
    assert sorted(map(tuple, j.collect())) == sorted(
        map(tuple, big.join(dim, "k").collect())
    )

    # refresh the table with uniform keys: the file listing changes, the
    # sidecar goes stale, and the recomputed decision flips to plain
    uni = spark.range(2_000).select(F.col("id").alias("k"), F.col("id").alias("x"))
    uni.write.mode("overwrite").parquet(path)
    third = key_skew_stats(spark, path, "k")
    assert third["cached"] is False and third["signature"] != first["signature"]
    assert third["collision_factor"] < 8.0
    j2 = auto_salt_join(spark.read.parquet(path), dim, "k", big_path=path)
    assert "xxhash64" not in j2._jdf.queryExecution().toString()  # plain


def test_key_skew_stats_caller_df_never_poisons_sidecar(spark, tmp_path):
    """ADVICE r6: moments of a caller-supplied (possibly filtered) frame
    are served UNCACHED — they must never be written as, or read from,
    the table's stats; a view_tag opts into a separately-keyed cache."""
    import os as _os

    import pytest as _pytest

    from bacon_spark.operators.scale import auto_salt_join, key_skew_stats

    path = str(tmp_path / "facts")
    # table is skewed; the filtered view below removes the hot key
    skew = spark.range(2_000).select(
        F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("x"),
    )
    skew.write.parquet(path)
    view = spark.read.parquet(path).where(F.col("k") != 7)

    v = key_skew_stats(spark, path, "k", df=view)
    assert v["cached"] is False and v["collision_factor"] < 8.0
    assert not _os.path.isdir(_os.path.join(path, "_stats"))  # nothing written
    # the canonical record is computed from the TABLE, not the view
    t = key_skew_stats(spark, path, "k")
    assert t["cached"] is False and t["collision_factor"] > 8.0
    # and a later view call does not serve the table's cached moments
    v2 = key_skew_stats(spark, path, "k", df=view)
    assert v2["cached"] is False and v2["collision_factor"] < 8.0

    # view_tag: separately-keyed cache, never crosses with the canonical
    w = key_skew_stats(spark, path, "k", df=view, view_tag="no-hot")
    assert w["cached"] is False
    assert key_skew_stats(spark, path, "k", df=view, view_tag="no-hot")["cached"] is True
    assert key_skew_stats(spark, path, "k")["cached"] is True  # canonical intact
    assert key_skew_stats(spark, path, "k")["collision_factor"] > 8.0
    with _pytest.raises(ValueError, match="view_tag"):
        key_skew_stats(spark, path, "k", df=view, view_tag="../evil")

    # auto_salt_join(big_path=...) decides from TABLE metadata even when
    # handed a filtered frame — and still salts (the table is hot)
    dim = spark.range(2_000).select(F.col("id").alias("k"), (F.col("id") % 3).alias("c"))
    j = auto_salt_join(view, dim, "k", big_path=path)
    assert "xxhash64" in j._jdf.queryExecution().toString()
    assert sorted(map(tuple, j.collect())) == sorted(
        map(tuple, view.join(dim, "k").collect())
    )


def test_auto_salt_join_computed_key_falls_back_inline(spark, tmp_path):
    """A computed join key absent from the raw table can't use the
    sidecar: auto_salt_join degrades to the inline scan, uncached."""
    import os as _os

    from bacon_spark.operators.scale import auto_salt_join

    path = str(tmp_path / "raw")
    spark.range(1_000).select(
        F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(F.col("id")).alias("base"),
    ).write.parquet(path)
    big = spark.read.parquet(path).select((F.col("base") * 2).alias("k"))
    dim = spark.range(3_000).select(F.col("id").alias("k"), F.lit("d").alias("c"))
    j = auto_salt_join(big, dim, "k", big_path=path)
    assert "xxhash64" in j._jdf.queryExecution().toString()  # skew detected inline
    assert not _os.path.isdir(_os.path.join(path, "_stats"))
    assert sorted(map(tuple, j.collect())) == sorted(
        map(tuple, big.join(dim, "k").collect())
    )


def test_key_skew_stats_manifest_version_signature(spark, tmp_path):
    # with a manifest log the signature is the committed version — a new
    # commit (even re-listing the same files) invalidates the sidecar
    from bacon_spark.operators import maintenance as M
    from bacon_spark.operators.scale import key_skew_stats

    path = str(tmp_path / "man")
    spark.range(100).select(F.col("id").alias("k")).write.parquet(path)
    files = M.table_files(path)
    M.commit_manifest(path, files, base_version=0)

    a = key_skew_stats(spark, path, "k")
    assert a["signature"] == "manifest:v1" and a["cached"] is False
    assert key_skew_stats(spark, path, "k")["cached"] is True
    M.commit_manifest(path, files, base_version=1)
    b = key_skew_stats(spark, path, "k")
    assert b["signature"] == "manifest:v2" and b["cached"] is False


def test_key_skew_stats_unwritable_location_degrades(spark, tmp_path):
    # a table location where the sidecar can't be created (read-only
    # mounts like /root/testdata; here: "_stats" name already taken by a
    # non-directory) still gets stats, just uncached — never a crash
    import os as _os

    from bacon_spark.operators.scale import key_skew_stats

    path = str(tmp_path / "ro")
    spark.range(50).select(F.col("id").alias("k")).write.parquet(path)
    blocker = _os.path.join(path, "_stats")
    with open(blocker, "w") as fh:
        fh.write("not a directory")
    rec = key_skew_stats(spark, path, "k")
    assert rec["n"] == 50 and rec["cached"] is False
    assert _os.path.isfile(blocker)  # untouched, nothing cached
    # and the next call recomputes rather than trusting anything stale
    assert key_skew_stats(spark, path, "k")["cached"] is False


def test_hist_bucket_boundaries_and_lower_bound(spark):
    from bacon_spark.operators import sketch as sk

    vals = [0, 1, 15, 16, 17, 18, 31, 32, 63, 64, 100, 1000, 123456, (1 << 40) + 5]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    rows = df.select(
        "v",
        sk.hist_bucket(F.col("v")).alias("b"),
    ).withColumn("lo", sk.hist_lower(F.col("b"))).collect()
    for r in rows:
        # exact below 16; above, lower bound sandwiches within 12.5%
        if r["v"] < 16:
            assert r["b"] == r["v"] and r["lo"] == r["v"]
        else:
            assert r["lo"] <= r["v"] < r["lo"] * 1.125, (r["v"], r["b"], r["lo"])
    # buckets are monotone in v
    bs = [r["b"] for r in sorted(rows, key=lambda r: r["v"])]
    assert bs == sorted(bs)


def test_hist_sketch_merge_and_state_bound(spark):
    from bacon_spark.operators import sketch as sk

    rows = [("a" if i % 2 else "b", (i * 37) % 5000) for i in range(4000)]
    rows += [("a", None), ("b", -5)]  # excluded
    df = spark.createDataFrame(rows, "g string, v long")
    hist = sk.hist_sketch(df, "v", ["g"])
    # constant state: <= 488 buckets per group regardless of input size
    assert hist.count() <= 2 * 488
    assert hist.agg(F.sum("cnt")).collect()[0][0] == 4000  # null/neg dropped
    # merge by addition == direct global sketch
    merged = hist.groupBy("bucket").agg(F.sum("cnt").alias("cnt"))
    direct = sk.hist_sketch(df, "v")
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, direct.collect()))


def test_hist_quantiles_sandwich_exact(spark):
    from bacon_spark.operators import sketch as sk

    vals = [(i * 7919) % 100000 for i in range(3000)]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    got = {r["pct"]: r["q_est"] for r in sk.hist_quantiles(sk.hist_sketch(df, "v")).collect()}
    sv = sorted(vals)
    for p in (50, 90, 99):
        exact = sv[(p * len(sv) + 99) // 100 - 1]
        assert got[p] <= exact < max(got[p] * 1.125, got[p] + 1), (p, got[p], exact)


# --- SketchPercentile as a cube measure ---


def _pct_board(spark, rows):
    from bacon_spark import Count, CubeDef, CubeQuery, CuttingBoard, SketchPercentile
    from bacon_spark.cubedef import Label, Measure

    df = spark.createDataFrame(rows, "g string, v long")
    cd = CubeDef("t")
    cd.add_label(Label("g", "g"))
    cd.add_measure(Measure("n", "v", acc=Count()))
    cd.add_measure(Measure("p50", "v", acc=SketchPercentile(50)))
    cd.add_measure(Measure("p95", "v", acc=SketchPercentile(95)))
    return CubeQuery, CuttingBoard(cd, df, cache_results=False)


def test_sketch_percentile_measure_sandwich_and_nulls(spark):
    rows = [("a", (i * 37) % 5000) for i in range(2000)]
    rows += [("a", None), ("a", -9)]  # excluded from the histogram
    rows += [("b", i) for i in range(100)]
    CubeQuery, board = _pct_board(spark, rows)
    q = CubeQuery().add_axis("g").add_value("n").add_value("p50").add_value("p95")
    out = {r["g"]: r for r in board.slice(q).to_df().collect()}
    va = sorted(v for g, v in rows if g == "a" and v is not None and v >= 0)
    for pct, col in ((50, "p50"), (95, "p95")):
        exact = va[(pct * len(va) + 99) // 100 - 1]
        est = out["a"][col]
        assert est <= exact < max(est * 1.125, est + 1), (pct, est, exact)
    # second group gets its own independent sandwich
    vb = sorted(v for g, v in rows if g == "b")
    eb = vb[(50 * 100 + 99) // 100 - 1]
    assert out["b"]["p50"] <= eb < max(out["b"]["p50"] * 1.125, out["b"]["p50"] + 1)
    assert out["a"]["n"] == 2002  # Count counts rows incl. null/neg


def test_sketch_percentile_grand_total_and_plan(spark):
    CubeQuery, board = _pct_board(spark, [("a", i % 700) for i in range(3000)])
    q0 = CubeQuery().add_value("p95")
    r0 = board.slice(q0).to_df().collect()[0]
    vs = sorted(i % 700 for i in range(3000))
    exact = vs[(95 * len(vs) + 99) // 100 - 1]
    assert r0["p95"] <= exact < max(r0["p95"] * 1.125, r0["p95"] + 1)
    # bucket counts partial-aggregate map-side: only counts cross the wire
    q = CubeQuery().add_axis("g").add_value("p50")
    plan = board.slice(q).to_df()._jdf.queryExecution().executedPlan().toString()
    assert "partial_count" in plan


def test_sketch_percentile_sql_pushdown_matches_engine(spark):
    """Engine-equivalence invariant: a SQL-pushed SketchPercentile must
    return the SAME histogram lower-bound estimate as the engine plan —
    including null/negative exclusion and an all-excluded group (NULL)."""
    from bacon_spark.sql import SqlCuttingBoard

    rows = [("a", (i * 37) % 5000) for i in range(2000)]
    rows += [("a", None), ("a", -9)]
    rows += [("b", i) for i in range(100)]
    rows += [("c", -1), ("c", -2), ("c", None)]  # nothing survives the filter
    CubeQuery, board = _pct_board(spark, rows)
    board.df.createOrReplaceTempView("t_pct_push")
    q = CubeQuery().add_axis("g").add_value("p50").add_value("p95")
    engine = {r["g"]: (r["p50"], r["p95"]) for r in board.slice(q).to_df().collect()}
    pushed = {
        r["g"]: (r["p50"], r["p95"])
        for r in SqlCuttingBoard(board.cubedef, spark, "t_pct_push").df(q).collect()
    }
    assert pushed == engine
    assert pushed["c"] == (0.0, 0.0)  # all-excluded group: engine convention


def test_sketch_percentile_refused_by_lattice(spark):
    import pytest as _pytest

    from bacon_spark.operators.lattice import CubeLattice

    CubeQuery, board = _pct_board(spark, [("a", 1), ("b", 2)])
    with _pytest.raises(ValueError):
        CubeLattice(board.cubedef, board.df, ("g",), ("p50",))


def test_hist_lattice_serves_percentiles_exactly(spark):
    """SketchLattice generalized to histogram state: bucket counts merge
    by ADDITION, so every coarser grain / filter drill / grand total /
    refresh is served bit-identically to direct computation."""
    from bacon_spark import Count, CubeDef, CubeQuery, CuttingBoard, SketchPercentile
    from bacon_spark.cubedef import Label, Measure
    from bacon_spark.operators.lattice import SketchLattice

    rows = [
        ((("a", "x") if i % 2 else ("b", "y"))[0], ("x" if i % 3 else "y"), (i * 37) % 5000)
        for i in range(3000)
    ]
    df = spark.createDataFrame(rows, "g string, h string, v long")
    cd = CubeDef("t")
    cd.add_label(Label("g", "g"))
    cd.add_label(Label("h", "h"))
    cd.add_measure(Measure("p90", "v", acc=SketchPercentile(90)))
    board = CuttingBoard(cd, df, cache_results=False)
    lat = SketchLattice(cd, df, ("g", "h"), ("p90",), persist=False)

    def direct(axes, flt=None):
        b = df if flt is None else df.filter(flt)
        brd = CuttingBoard(cd, b, cache_results=False)
        from bacon_spark import CubeQuery as Q

        q = Q()
        for a in axes:
            q = q.add_axis(a)
        q = q.add_value("p90")
        return sorted(map(tuple, brd.slice(q).to_df().collect()))

    # coarser grain
    assert sorted(map(tuple, lat.serve_query(("g",), ("p90",)).collect())) == direct(("g",))
    # grand total
    assert sorted(map(tuple, lat.serve_query((), ("p90",)).collect())) == direct(())
    # non-eq filter drill on a DROPPED axis
    got = sorted(map(tuple, lat.serve_query(("g",), ("p90",), (("h", "ne", "y"),)).collect()))
    assert got == direct(("g",), F.col("h") != "y")
    # refresh folds a delta exactly (counts add)
    delta = spark.createDataFrame([("a", "x", 4999)] * 50, "g string, h string, v long")
    lat.refresh(delta)
    brd2 = CuttingBoard(cd, df.unionByName(delta), cache_results=False)
    from bacon_spark import CubeQuery as Q

    q = Q().add_axis("g").add_value("p90")
    want = sorted(map(tuple, brd2.slice(q).to_df().collect()))
    assert sorted(map(tuple, lat.serve_query(("g",), ("p90",)).collect())) == want


def test_hist_lattice_engine_routing_no_rescan(spark):
    """The engine routes a covered SketchPercentile query through the
    registered lattice — the served plan never rescans the base table."""
    from bacon_spark import CubeDef, CubeQuery, CuttingBoard, SketchPercentile
    from bacon_spark.cubedef import Label, Measure
    from bacon_spark.operators.lattice import SketchLattice

    rows = [("a" if i % 2 else "b", i % 3000) for i in range(4000)]
    df = spark.createDataFrame(rows, "g string, v long")
    cd = CubeDef("t")
    cd.add_label(Label("g", "g"))
    cd.add_measure(Measure("p95", "v", acc=SketchPercentile(95)))
    board = CuttingBoard(cd, df, cache_results=False)
    lat = SketchLattice(cd, df, ("g",), ("p95",))
    try:
        board.register_lattice(lat)
        q = CubeQuery().add_axis("g").add_value("p95")
        served = board.slice(q).to_df()
        direct = CuttingBoard(cd, df, cache_results=False).slice(q).to_df()
        assert sorted(map(tuple, served.collect())) == sorted(
            map(tuple, direct.collect())
        )
        plan = served._jdf.queryExecution().optimizedPlan().toString()
        assert "InMemoryRelation" in plan  # served from the persisted state
    finally:
        lat.unpersist()


def test_auto_salt_default_vs_aqe_pinned(spark):
    """VERDICT r6 #8, the adjudicated default (SALT_VS_AQE_R7.json):
    statistics-driven salting stays ON even when AQE skew-join is
    enabled — measured 2.1x faster than AQE's runtime split on the q168
    shape, deterministic across runs, and composes with AQE (salted+AQE
    was the fastest variant). Uniform keys stay plain: AQE alone is the
    right tool for UNKNOWN residual skew."""
    from bacon_spark.operators.scale import auto_salt_join

    prev = spark.conf.get("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    try:
        skew = spark.range(2_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(F.col("id")).alias("k")
        )
        uni = spark.range(2_000).select(F.col("id").alias("k"))
        dim = spark.range(2_000).select(F.col("id").alias("k"), (F.col("id") % 3).alias("c"))
        assert "xxhash64" in auto_salt_join(skew, dim, "k")._jdf.queryExecution().toString()
        assert "xxhash64" not in auto_salt_join(uni, dim, "k")._jdf.queryExecution().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", prev)
