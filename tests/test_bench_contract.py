"""Bench output-line contract (r14, VERDICT r13 #3): the driver parses
ONE JSON line from a bounded stdout tail window — the r12 bench record
was lost because the emitted line outgrew it (the tail started mid-key
and the round-over-round PERF comparison was erased). Pin the two things
that bound the line: the nav block is trimmed to its headline steps, and
the worst-case serialized length of a full 189-query line stays inside a
conservative window estimate."""

import json


def test_nav_emitted_steps_are_the_headline_sequence():
    import bench

    from tools import bench_nav

    assert bench.NAV_EMITTED_STEPS == (
        "parse", "s1_cold", "s2_repeat", "s3_drill", "s4_drill2", "s5_rollup",
    )
    # every emitted step is one engine_nav runs (it times exactly
    # ENGINE_STEPS), so a rename there cannot empty the bench's nav block
    assert set(bench.NAV_EMITTED_STEPS) <= set(bench_nav.ENGINE_STEPS)
    assert set(bench_nav.WARM_STEPS) <= set(bench_nav.ENGINE_STEPS)


def test_worst_case_bench_line_length():
    """Serialize the bench result dict exactly as bench.py does, with
    every registered query at a worst-case 3-digit/2-decimal value and
    the trimmed nav block at 4-decimal values, and assert the line stays
    under 3 KB (the r12-lost line was ~2.5 KB with the 14-key nav block;
    the driver's window demonstrably held r13's 2.49 KB, so the bound
    pins that queries-growth plus nav can't silently regress past it)."""
    from bacon_spark.queries import QUERIES

    import bench

    per_query = {name.split("_", 1)[0]: 999.99 for name in QUERIES}
    nav = {k: 99.9999 for k in bench.NAV_EMITTED_STEPS}
    line = json.dumps(
        {
            "metric": "total_query_wall_seconds",
            "value": 99999.999,
            "unit": "sec",
            "queries": per_query,
            "nav": nav,
            "sf": 0.1,
        },
        separators=(",", ":"),
    )
    assert len(per_query) >= 189  # nothing dropped from the inventory
    assert len(line) < 3072, f"bench line worst case {len(line)} B"
    # and at the r13 observed magnitudes it fits the proven window
    per_query_typ = {k: 9.99 for k in per_query}
    nav_typ = {k: 9.9999 for k in nav}
    typical = json.dumps(
        {
            "metric": "total_query_wall_seconds",
            "value": 999.999,
            "unit": "sec",
            "queries": per_query_typ,
            "nav": nav_typ,
            "sf": 0.1,
        },
        separators=(",", ":"),
    )
    assert len(typical) < 2400, f"typical bench line {len(typical)} B"
