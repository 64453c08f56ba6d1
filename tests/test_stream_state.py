"""State-store provider policy + per-operator state-size bounds
(VERDICT r5 task #8): the provider knob encodes STREAM_BENCH_R5's
measured RocksDB crossover (~1e5 state rows) as configuration, and a
3-batch run asserts each operator's live state stays inside SCALE.md's
state-bound table — numRowsTotal equals the predicted (key x open
window) count, watermark eviction actually shrinks it, and on-heap
bytes-per-state-row stays under a red-on-regression ceiling."""

import datetime as dt
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from bacon_spark.streaming import windows as W
from bacon_spark.streaming.state import (
    HDFS_PROVIDER,
    ROCKSDB_CROSSOVER_STATE_ROWS,
    ROCKSDB_PROVIDER,
    choose_state_store_provider,
    state_operator_metrics,
    state_store_conf,
)

SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double"


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="bacon_stream_state_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_provider_policy_encodes_measured_crossover():
    # the bench's operating points: 3.6k state rows -> on-heap wins,
    # 260k -> RocksDB wins (565k vs 336k rows/s in STREAM_BENCH_R5)
    assert choose_state_store_provider("auto", 3_600) == HDFS_PROVIDER
    assert choose_state_store_provider("auto", 260_000) == ROCKSDB_PROVIDER
    assert (
        choose_state_store_provider("auto", ROCKSDB_CROSSOVER_STATE_ROWS)
        == ROCKSDB_PROVIDER
    )
    # unknown cardinality defaults to on-heap (bounded-state operators)
    assert choose_state_store_provider("auto", None) == HDFS_PROVIDER
    # explicit choice always wins, aliases resolve, class names pass through
    assert choose_state_store_provider("rocksdb", 10) == ROCKSDB_PROVIDER
    assert choose_state_store_provider("hdfs", 10**9) == HDFS_PROVIDER
    assert choose_state_store_provider("com.example.MyProvider") == (
        "com.example.MyProvider"
    )


def test_state_store_conf_sets_and_restores(spark):
    conf = "spark.sql.streaming.stateStore.providerClass"
    before = spark.conf.get(conf)
    with state_store_conf(spark, "auto", expected_state_rows=10**6) as resolved:
        assert resolved == ROCKSDB_PROVIDER
        assert spark.conf.get(conf) == ROCKSDB_PROVIDER
    assert spark.conf.get(conf) == before
    with state_store_conf(spark, None) as resolved:  # None = untouched
        assert resolved is None
        assert spark.conf.get(conf) == before


def _staged_stream(spark, tmpdir, n_users=25):
    """Batch 0: n_users users x 2 hour-windows; batch 1: one event far in
    the future (advances the watermark past every batch-0 window); batch
    2: one event further still (the watermark computed at batch 1's END
    applies in batch 2, which is when batch-0 state actually evicts)."""
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    b0 = [
        (h * n_users + u, t0 + dt.timedelta(hours=h, minutes=u % 50), u, "c", 1.0)
        for h in range(2)
        for u in range(n_users)
    ]
    b1 = [(10_000, t0 + dt.timedelta(hours=48), 1, "c", 1.0)]
    b2 = [(10_001, t0 + dt.timedelta(hours=96), 2, "c", 1.0)]
    mk = lambda rows: spark.createDataFrame(rows, SCHEMA)
    W.stage_ordered_files(
        [(tmpdir, mk(b0), "overwrite"), (tmpdir, mk(b1), "append"), (tmpdir, mk(b2), "append")]
    )
    return spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(
        tmpdir
    )


# SCALE.md state-bound table, made executable. Ceiling is per STATE ROW
# on the on-heap store (key struct + window struct + partial aggregate +
# store overhead); measured ~0.4-0.6 KB/row at these shapes — 4 KB is a
# regression alarm, not a target.
ON_HEAP_BYTES_PER_ROW_CEILING = 4096
FIXED_OVERHEAD_BYTES = 4 << 20  # empty-partition store objects, 32 shuffle parts


def test_window_agg_state_rows_bounded_and_evicted(spark, tmpdir):
    n_users = 25
    stream = _staged_stream(spark, tmpdir, n_users)
    agg = W.tumbling_window_agg(
        stream,
        {"n": F.count(F.lit(1))},
        window="1 hour",
        keys=("user_id",),
        watermark="1 hour",
    )
    q = W.run_stream_to_memory(
        agg, "t_state_bound", mode="append", state_provider="auto",
        expected_state_rows=2 * n_users,
    )
    ms = state_operator_metrics(q)
    assert ms, "no state operators reported"
    by_batch = {}
    for m in ms:
        by_batch.setdefault(m["batchId"], []).append(m)
    last = max(by_batch)
    assert len(by_batch) >= 3, "expected a 3-batch run"
    # bound: one state row per (live key, open window) — batch 0 holds
    # 2 windows x n_users, batches 1/2 add one (key, window) each;
    # never more (eviction lags the watermark by one batch)
    peak = max(m["numRowsTotal"] for m in ms)
    assert 0 < peak <= 2 * n_users + 2
    # eviction: the watermark computed at batch 1's end (hour 48 - 1h)
    # closes every batch-0 window during batch 2 — only the last two
    # singleton windows may remain live
    final_rows = max(m["numRowsTotal"] for m in by_batch[last])
    assert final_rows <= 2
    assert final_rows < peak  # state actually shrank
    # red-on-regression memory bound (on-heap store reports memoryUsedBytes)
    for m in ms:
        used = m.get("memoryUsedBytes") or 0
        budget = FIXED_OVERHEAD_BYTES + m["numRowsTotal"] * ON_HEAP_BYTES_PER_ROW_CEILING
        assert used <= budget, (m["batchId"], used, budget)


def test_dedup_state_one_marker_per_key(spark, tmpdir):
    n_users = 25
    stream = _staged_stream(spark, tmpdir, n_users)
    # duplicate user_id+hour keys collapse to one seen-marker each
    dedup = W.dedup_within_watermark(
        stream, keys=("user_id", "event_type"), ts_col="ts", delay="1 hour"
    )
    q = W.run_stream_to_memory(dedup, "t_state_dedup", mode="append",
                               state_provider="hdfs")
    ms = state_operator_metrics(q)
    peak = max(m["numRowsTotal"] for m in ms)
    # one marker per distinct (user_id, event_type) live inside the
    # watermark horizon — n_users distinct keys (plus the two horizon
    # restarts), never event count (52)
    assert 0 < peak <= n_users + 2
    for m in ms:
        used = m.get("memoryUsedBytes") or 0
        budget = FIXED_OVERHEAD_BYTES + m["numRowsTotal"] * ON_HEAP_BYTES_PER_ROW_CEILING
        assert used <= budget


def test_rocksdb_provider_actually_engaged(spark, tmpdir):
    stream = _staged_stream(spark, tmpdir, 10)
    agg = W.tumbling_window_agg(
        stream, {"n": F.count(F.lit(1))}, window="1 hour",
        keys=("user_id",), watermark="1 hour",
    )
    q = W.run_stream_to_memory(
        agg, "t_state_rocks", mode="append", state_provider="rocksdb"
    )
    ms = state_operator_metrics(q)
    assert ms
    # RocksDB reports its own custom metrics; their presence proves the
    # per-query conf was pinned at start (session default is on-heap)
    customs = [m.get("customMetrics") or {} for m in ms]
    assert any(any("rocksdb" in k.lower() for k in c) for c in customs), customs


def test_streaming_hist_append_mode_with_watermark(spark, tmpdir):
    """q176's production claim made executable: the histogram bucket
    counts run APPEND-mode with a watermark — finalized (window, bucket)
    rows are emitted once their window passes the watermark and they
    equal the batch histogram of those windows exactly; the still-open
    window is withheld."""
    from bacon_spark.operators.sketch import hist_bucket

    n_users = 10
    stream = _staged_stream(spark, tmpdir, n_users)

    def hist_windows(df):
        return (
            df.withWatermark("ts", "1 hour")
            .groupBy(
                F.window("ts", "1 hour").alias("w"),
                hist_bucket(F.col("user_id")).alias("bucket"),
            )
            .count()
            .select(
                F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
                "bucket",
                F.col("count").alias("cnt"),
            )
        )

    q = W.run_stream_to_memory(
        hist_windows(stream), "t_hist_append", mode="append", state_provider="hdfs"
    )
    got = {
        (r["window_start"], r["bucket"]): r["cnt"]
        for r in spark.table("t_hist_append").collect()
    }
    # batches 0+1's windows finalize (batch 2's watermark passes them);
    # batch 2's own hour-96 window is still open and must be withheld
    batch = spark.read.schema(SCHEMA).parquet(tmpdir)
    closed = batch.where(F.col("ts") < dt.datetime(2024, 1, 1) + dt.timedelta(hours=90))
    want = {
        (r["window_start"], r["bucket"]): r["cnt"]
        for r in hist_windows(closed).collect()
    }
    assert got == want and got
    open_key = "2024-01-05 00:00:00"  # hour 96
    assert not any(k[0] == open_key for k in got)
    # state stayed bounded: <= 488 buckets x live windows
    ms = state_operator_metrics(q)
    assert max(m["numRowsTotal"] for m in ms) <= 488 * 4


def test_streaming_funnel_matches_batch_and_state_bounded(spark, tmpdir):
    """VERDICT r6 #6: the streaming ordered funnel's cross-batch result
    equals batch q178 exactly, and its state is one row of len(steps)+1
    longs per user — event-count-independent."""
    from bacon_spark.operators.funnel import funnel
    from bacon_spark.streaming.funnel import (
        funnel_counts_from_steps,
        latest_funnel_steps,
        streaming_funnel_steps,
    )

    t0 = dt.datetime(2024, 1, 1)
    steps = ("view", "click", "purchase")
    rows = []
    eid = 0
    for u in range(30):
        # a zoo of orderings: complete, order-violating, horizon-breaking,
        # same-timestamp step pairs, repeats — split across both batches
        seq = [
            ("view", 0), ("click", 1 + u % 3), ("purchase", 2 + u % 5),
            ("click", 0),                      # pre-view click (no-op)
            ("view", 5), ("click", 300),       # late click outside 7d? (300h > 168h)
            ("purchase", 2 + u % 5),           # duplicate ts purchase
        ]
        if u % 4 == 0:
            seq.append(("click", 1))           # same-ts-as-view edge at hour 1? varies
        for typ, hours in seq:
            rows.append((eid, t0 + dt.timedelta(hours=hours + (u % 7) * 24), u, typ, 1.0))
            eid += 1
    df = spark.createDataFrame(rows, SCHEMA)
    # two batches split at the median timestamp: per-user event-time order
    split = df.agg(F.expr("percentile_approx(ts, 0.5)")).head()[0]
    W.stage_ordered_files(
        [
            (tmpdir, df.filter(F.col("ts") <= F.lit(split)), "overwrite"),
            (tmpdir, df.filter(F.col("ts") > F.lit(split)), "append"),
        ]
    )
    stream = spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(tmpdir)
    snaps = streaming_funnel_steps(stream, steps, horizon="7 days", watermark="3650 days")
    q = W.run_stream_to_memory(snaps, "t_funnel_state", mode="update",
                               state_provider="hdfs")
    latest = latest_funnel_steps(spark.table("t_funnel_state"))
    got = sorted(map(tuple, funnel_counts_from_steps(latest, steps).collect()))
    want = sorted(map(tuple, funnel(df, steps, horizon="7 days").collect()))
    assert got == want
    # state bound: exactly one state row per user, never per event
    ms = state_operator_metrics(q)
    assert ms
    peak = max(m["numRowsTotal"] for m in ms)
    assert 0 < peak <= 30
    for m in ms:
        used = m.get("memoryUsedBytes") or 0
        budget = FIXED_OVERHEAD_BYTES + m["numRowsTotal"] * ON_HEAP_BYTES_PER_ROW_CEILING
        assert used <= budget


def test_streaming_funnel_state_bounded_by_entrants(spark, tmpdir):
    """Round 9: emission and state are ON CHANGE only — a user whose
    step-0 event never arrives holds NO state row, and an unchanged user
    emits no snapshot in later batches. State is bounded by funnel
    ENTRANTS, not by every user the stream has seen."""
    from bacon_spark.operators.funnel import funnel
    from bacon_spark.streaming.funnel import (
        funnel_counts_from_steps,
        latest_funnel_steps,
        streaming_funnel_steps,
    )

    t0 = dt.datetime(2024, 1, 1)
    steps = ("view", "click", "purchase")
    rows, eid = [], 0
    # users 0-9: full funnel in batch 1, then only non-step noise in
    # batch 2 (no change -> no emission). users 10-29: never a "view" —
    # clicks/purchases/noise only, so NO state row, ever.
    for u in range(10):
        for typ, hours in (("view", 0), ("click", 1), ("purchase", 2)):
            rows.append((eid, t0 + dt.timedelta(hours=hours), u, typ, 1.0))
            eid += 1
        rows.append((eid, t0 + dt.timedelta(hours=60), u, "error", 1.0))
        eid += 1
    for u in range(10, 30):
        for typ, hours in (("click", 0), ("purchase", 1), ("error", 50)):
            rows.append((eid, t0 + dt.timedelta(hours=hours), u, typ, 1.0))
            eid += 1
    df = spark.createDataFrame(rows, SCHEMA)
    cut = t0 + dt.timedelta(hours=24)
    W.stage_ordered_files(
        [
            (tmpdir, df.filter(F.col("ts") <= F.lit(cut)), "overwrite"),
            (tmpdir, df.filter(F.col("ts") > F.lit(cut)), "append"),
        ]
    )
    stream = (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(tmpdir)
    )
    snaps = streaming_funnel_steps(stream, steps, horizon="7 days", watermark="3650 days")
    q = W.run_stream_to_memory(
        snaps, "t_funnel_entrants", mode="update", state_provider="hdfs"
    )
    sink = spark.table("t_funnel_entrants")
    # 10 entrants x 1 change-batch = 10 emissions total; batch 2 is all
    # noise (entrants unchanged, non-entrants never materialize)
    assert sink.count() == 10
    assert sink.select("user_id").distinct().count() == 10
    # state rows == entrants (10), not users seen (30)
    ms = state_operator_metrics(q)
    assert ms and max(m["numRowsTotal"] for m in ms) == 10
    # and the folded result still equals the batch funnel exactly
    got = sorted(
        map(tuple, funnel_counts_from_steps(latest_funnel_steps(sink), steps).collect())
    )
    want = sorted(map(tuple, funnel(df, steps, horizon="7 days").collect()))
    assert got == want


def test_streaming_funnel_sharded_equals_per_user_form(spark, tmpdir):
    """Round 9: the sharded-state funnel (state keyed by
    pmod(xxhash64(user), shards)) produces EXACTLY the per-user form's
    fold — same latest snapshots, same counts as the batch funnel — with
    state rows bounded by shards, not users."""
    from bacon_spark.operators.funnel import funnel
    from bacon_spark.streaming.funnel import (
        funnel_counts_from_steps,
        latest_funnel_steps,
        streaming_funnel_steps_sharded,
    )

    t0 = dt.datetime(2024, 1, 1)
    steps = ("view", "click", "purchase")
    rows, eid = [], 0
    for u in range(40):
        seq = [
            ("view", 0), ("click", 1 + u % 3), ("purchase", 2 + u % 5),
            ("click", 0),                 # pre-view click (no-op)
            ("view", 5), ("click", 300),  # outside the 7d horizon
            ("purchase", 2 + u % 5),      # duplicate-ts purchase
        ]
        if u % 4 == 0:
            seq.append(("click", 1))      # same-ts tie against a step
        if u % 5 == 0:
            seq = seq[3:4] + [("error", 7)]  # never enters the funnel
        for typ, hours in seq:
            rows.append((eid, t0 + dt.timedelta(hours=hours + (u % 7) * 24), u, typ, 1.0))
            eid += 1
    df = spark.createDataFrame(rows, SCHEMA)
    split = df.agg(F.expr("percentile_approx(ts, 0.5)")).head()[0]
    W.stage_ordered_files(
        [
            (tmpdir, df.filter(F.col("ts") <= F.lit(split)), "overwrite"),
            (tmpdir, df.filter(F.col("ts") > F.lit(split)), "append"),
        ]
    )
    stream = (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(tmpdir)
    )
    snaps = streaming_funnel_steps_sharded(
        stream, steps, horizon="7 days", watermark="3650 days", shards=8
    )
    q = W.run_stream_to_memory(
        snaps, "t_funnel_sharded", mode="update", state_provider="hdfs"
    )
    sink = spark.table("t_funnel_sharded")
    latest = latest_funnel_steps(sink)
    # per-user step timestamps == the per-user streaming form's, on the
    # SAME staged input (both emit entrants only)
    from bacon_spark.streaming.funnel import streaming_funnel_steps

    stream2 = (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(tmpdir)
    )
    W.run_stream_to_memory(
        streaming_funnel_steps(stream2, steps, horizon="7 days", watermark="3650 days"),
        "t_funnel_peruser_ref",
        mode="update",
        state_provider="hdfs",
    )
    got_steps = {
        r["user_id"]: tuple(r[f"t{i}"] for i in range(3)) for r in latest.collect()
    }
    want_steps = {
        r["user_id"]: tuple(r[f"t{i}"] for i in range(3))
        for r in latest_funnel_steps(
            spark.table("t_funnel_peruser_ref")
        ).collect()
    }
    assert got_steps == want_steps
    got = sorted(map(tuple, funnel_counts_from_steps(latest, steps).collect()))
    want = sorted(map(tuple, funnel(df, steps, horizon="7 days").collect()))
    assert got == want
    # state rows = entrant-bearing shards (<= 8), never users (40)
    ms = state_operator_metrics(q)
    assert ms and 0 < max(m["numRowsTotal"] for m in ms) <= 8


def test_funnel_route_decision_at_both_cardinalities():
    """Round 10 (VERDICT r9 next #1): the routing decision is pinned at
    both cardinalities — per-user at/below the threshold, sharded above
    it, and sharded when no estimate exists (the form that cannot
    collapse on a wrong guess)."""
    from bacon_spark.streaming.funnel import (
        DEFAULT_USER_THRESHOLD,
        funnel_route,
    )

    assert funnel_route(10_000) == "per_user"
    assert funnel_route(DEFAULT_USER_THRESHOLD) == "per_user"
    assert funnel_route(DEFAULT_USER_THRESHOLD + 1) == "sharded"
    assert funnel_route(1_000_000) == "sharded"
    assert funnel_route(None) == "sharded"
    assert funnel_route(1_000_000, user_threshold=2_000_000) == "per_user"


def test_streaming_funnel_auto_routes_and_matches_batch(spark, tmpdir):
    """streaming_funnel_steps_auto: the HLL estimate over the staged
    input routes a 40-user corpus per-user; a forced high cardinality
    routes sharded; BOTH routes produce exactly the batch funnel's
    counts on the same staged input (oracle hashes are route-invariant),
    and the decision + estimate are recorded in the decisions log."""
    from bacon_spark.operators import decisions
    from bacon_spark.operators.funnel import funnel
    from bacon_spark.streaming.funnel import (
        funnel_counts_from_steps,
        latest_funnel_steps,
        streaming_funnel_steps_auto,
    )

    t0 = dt.datetime(2024, 1, 1)
    steps = ("view", "click", "purchase")
    rows, eid = [], 0
    for u in range(40):
        for typ, hours in (
            ("view", 0), ("click", 1 + u % 3), ("purchase", 2 + u % 5),
            ("view", 5), ("click", 300),
        ):
            rows.append((eid, t0 + dt.timedelta(hours=hours + (u % 7) * 24), u, typ, 1.0))
            eid += 1
    df = spark.createDataFrame(rows, SCHEMA)
    split = df.agg(F.expr("percentile_approx(ts, 0.5)")).head()[0]
    W.stage_ordered_files(
        [
            (tmpdir, df.filter(F.col("ts") <= F.lit(split)), "overwrite"),
            (tmpdir, df.filter(F.col("ts") > F.lit(split)), "append"),
        ]
    )
    want = sorted(map(tuple, funnel(df, steps, horizon="7 days").collect()))
    for forced, expect_route, sink in (
        (None, "per_user", "t_auto_small"),   # estimate: 40 users
        (10_000_000, "sharded", "t_auto_big"),
    ):
        stream = (
            spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(tmpdir)
        )
        snaps = streaming_funnel_steps_auto(
            stream,
            steps,
            horizon="7 days",
            watermark="3650 days",
            shards=8,
            n_users=forced,
            estimate_from=spark.read.parquet(tmpdir),
        )
        d = decisions.last("funnel")
        assert d is not None and d.route == expect_route
        if forced is None:
            assert 0 < d.detail["n_users"] < 100
        W.run_stream_to_memory(snaps, sink, mode="update", state_provider="hdfs")
        got = sorted(
            map(
                tuple,
                funnel_counts_from_steps(
                    latest_funnel_steps(spark.table(sink)), steps
                ).collect(),
            )
        )
        assert got == want, f"route {expect_route} diverged from batch funnel"


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_streaming_funnel_forms_random_soup_differential(spark, tmpdir, seed):
    """Seeded random-soup differential (the r7 nav-fuzz pattern that
    found two real bugs): random step/noise events with duplicate
    timestamps, ts-tied step pairs, horizon stragglers and random batch
    splits — BOTH streaming forms must equal the batch funnel's counts
    and each other's per-user step frames exactly."""
    import random

    from bacon_spark.operators.funnel import funnel
    from bacon_spark.streaming.funnel import (
        funnel_counts_from_steps,
        latest_funnel_steps,
        streaming_funnel_steps,
        streaming_funnel_steps_sharded,
    )

    rng = random.Random(seed)
    steps = ("view", "click", "purchase")
    types = [*steps, "error", "signup"]
    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for eid in range(400):
        u = rng.randrange(25)
        # coarse hour grid -> plenty of exact ts collisions
        hours = rng.choice([0, 1, 2, 3, 24, 25, 170, 200, 400])
        rows.append(
            (eid, t0 + dt.timedelta(hours=hours), u, rng.choice(types), 1.0)
        )
    df = spark.createDataFrame(rows, SCHEMA)
    # 3 batches split at random ts quantiles (event-time order preserved
    # across triggers — the operator's documented arrival contract)
    qs = sorted({rng.choice([0.2, 0.35, 0.5, 0.65, 0.8]) for _ in range(2)})
    cuts = df.agg(
        F.expr(f"percentile_approx(ts, array({','.join(map(str, qs))}), 1000)")
    ).head()[0]
    bounds = [None, *cuts, None]
    stages = []
    for i in range(len(bounds) - 1):
        sl = df
        if bounds[i] is not None:
            sl = sl.filter(F.col("ts") > F.lit(bounds[i]))
        if bounds[i + 1] is not None:
            sl = sl.filter(F.col("ts") <= F.lit(bounds[i + 1]))
        stages.append((tmpdir, sl, "overwrite" if i == 0 else "append"))
    W.stage_ordered_files(stages)

    def run(form, name, **kw):
        stream = (
            spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(tmpdir)
        )
        W.run_stream_to_memory(
            form(stream, steps, horizon="7 days", watermark="3650 days", **kw),
            name,
            mode="update",
            state_provider="hdfs",
        )
        return latest_funnel_steps(spark.table(name))

    per_user = run(streaming_funnel_steps, f"t_soup_pu_{seed}")
    sharded = run(streaming_funnel_steps_sharded, f"t_soup_sh_{seed}", shards=5)
    as_map = lambda frame: {  # noqa: E731
        r["user_id"]: tuple(r[f"t{i}"] for i in range(3)) for r in frame.collect()
    }
    assert as_map(per_user) == as_map(sharded)
    want = sorted(map(tuple, funnel(df, steps, horizon="7 days").collect()))
    for frame in (per_user, sharded):
        got = sorted(map(tuple, funnel_counts_from_steps(frame, steps).collect()))
        assert got == want
