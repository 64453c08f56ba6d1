"""TRUE Structured Streaming gate queries: tumbling/sliding/session
windows, watermark late-drop, stream-stream joins, streaming as-of /
overlap / dedup, exactly-once CDC (SURVEY §2.10).

Split from the original single-module query inventory (r4); the
registration registry and helpers live in gate/_base.py.
"""

from ._base import *  # noqa: F401,F403
from ..utils.conf import conf_override

#: skip the trailing no-data micro-batch: a complete/update-mode memory
#: sink (or a join whose emission has no watermark-gated flush) would
#: only recompute and re-emit the same state in it
_NO_DATA_BATCHES_OFF = {"spark.sql.streaming.noDataMicroBatches.enabled": "false"}


@query(
    "q32_tumbling_window",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           count(*) AS n,
           round(cast(sum(cast(value as decimal(38,4))) as double), 2) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q32_tumbling_window(spark, sf_dir):
    """Tumbling-window aggregation via F.window — identical code path for
    batch and Structured Streaming; epoch-aligned 1h windows match
    date_trunc('hour')."""
    ev = _read(spark, sf_dir, "events")
    out = _win.tumbling_window_agg(
        ev,
        {
            "n": F.count(F.lit(1)),
            "sum_value": F.sum(F.expr(dec("value"))),
        },
        window="1 hour",
        keys=("event_type",),
    )
    out = out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n",
        "sum_value",
    )
    return finalize(out, {"sum_value": 2})


@query(
    "q33_session_window",
    """
    WITH marked AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, value)
    ),
    sessions AS (
      SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, value
                                    ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM marked
    )
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           count(*) AS n_events,
           round(cast(sum(cast(value as decimal(38,4))) as double), 2) AS sum_value
    FROM sessions
    GROUP BY user_id, sess_id
    """,
)
def q33_session_window(spark, sf_dir):
    """Session windows (30-minute gap) via F.session_window; the oracle is
    the classic gaps-and-islands construction, proving the semantics match.
    Session start is second-truncated for the string key (micro vs nano
    parquet precision)."""
    ev = _read(spark, sf_dir, "events")
    out = _win.session_window_agg(
        ev,
        {
            "n_events": F.count(F.lit(1)),
            "sum_value": F.sum(F.expr(dec("value"))),
        },
        gap="30 minutes",
        keys=("user_id",),
    )
    out = out.select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        "n_events",
        "sum_value",
    )
    return finalize(out, {"sum_value": 2})


def _stage_q44(spark, sf_dir):
    """Persistent staged input for q44 (two ordered files = two triggers):
    fabricating the stream's arrival order from the batch fixture is
    ingest work — billed once, like the other per-dataset artifacts."""
    from ..streaming.windows import staged_input

    def stages():
        ev = _read(spark, sf_dir, "events").filter(F.col("event_id") < 5000)
        return [
            ("", ev.filter(F.col("event_id") < 2500), "overwrite"),
            ("", ev.filter(F.col("event_id") >= 2500), "append"),
        ]

    return staged_input("q44", sf_dir, stages)


@query(
    "q44_streaming_tumbling",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           count(*) AS n,
           round(cast(sum(cast(value as decimal(38,4))) as double), 2) AS sum_value
    FROM events
    WHERE event_id < 5000
    GROUP BY 1, 2
    """,
    prepare=_stage_q44,
)
def q44_streaming_tumbling(spark, sf_dir):
    """TRUE Structured Streaming execution, hash-checked against the batch
    oracle. The input is a DETERMINISTIC subset (event_id < 5000 — unlike
    the pre-r4 limit(5000) sample, reproducible in SQL), staged as TWO
    ordered files replayed one per trigger (maxFilesPerTrigger=1), so the
    final complete-mode state is the product of a genuine cross-batch
    state merge — windows populated in batch 1 are re-emitted updated
    after batch 2 — and must still equal DuckDB's one-shot GROUP BY.
    q62 pins the single-batch full-fixture case; this pins multi-batch
    incremental accumulation on a subset. Input staging is a persistent
    once-per-ingest artifact (_stage_q44, the prepare hook)."""
    from ..streaming.windows import run_stream_to_memory, tumbling_window_agg

    d = _stage_q44(spark, sf_dir)
    stream = (
        spark.readStream.schema(spark.read.parquet(d).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    agg = tumbling_window_agg(
        stream,
        {"n": F.count(F.lit(1)), "sum_value": F.round(F.sum(F.expr(dec("value"))).cast("double"), 2)},
        window="1 hour",
        keys=("event_type",),
        watermark="1 hour",
    )
    out = agg.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n",
        "sum_value",
    )
    # complete mode re-emits full state per batch; the memory sink keeps
    # only the latest emission, so the final table is the merged state.
    # Skip the trailing no-data batch (nothing to flush, see q62).
    with conf_override(spark, _NO_DATA_BATCHES_OFF):
        run_stream_to_memory(out, "q44_stream", mode="complete")
    return spark.table("q44_stream")


@query(
    "q45_sliding_window",
    """
    WITH exploded AS (
      SELECT e.*, time_bucket(INTERVAL 15 MINUTE, ts) - (off * INTERVAL 15 MINUTE) AS w
      FROM events e, unnest([0, 1, 2, 3]) AS t(off)
    )
    SELECT strftime(w, '%Y-%m-%d %H:%M:%S') AS window_start,
           count(*) AS n,
           round(cast(sum(cast(value as decimal(38,4))) as double), 2) AS sum_value
    FROM exploded
    WHERE ts < TIMESTAMP '2024-01-02 00:00:00'
    GROUP BY 1
    """,
)
def q45_sliding_window(spark, sf_dir):
    """Sliding windows (1h window, 15min slide): each event lands in 4
    overlapping windows. Oracle reconstructs window membership via
    time_bucket + unnested offsets — every window w in
    {floor15(ts) - k*15min, k=0..3} satisfies w <= ts < w+1h."""
    from ..streaming.windows import sliding_window_agg

    ev = _read(spark, sf_dir, "events").filter(
        F.col("ts") < F.lit(dt.datetime(2024, 1, 2))
    )
    out = sliding_window_agg(
        ev,
        {"n": F.count(F.lit(1)), "sum_value": F.sum(F.expr(dec("value")))},
        window="1 hour",
        slide="15 minutes",
    )
    out = out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "n",
        "sum_value",
    )
    return finalize(out, {"sum_value": 2})


@query(
    "q54_incremental_maintenance",
    """
    SELECT event_type,
           round(cast(sum(cast(value as decimal(38,4))) as double), 2) AS total_value,
           count(*) AS n
    FROM events
    GROUP BY 1
    """,
)
def q54_incremental_maintenance(spark, sf_dir):
    """Incremental view maintenance, end to end: half the events land
    first and a cached slice is primed from them; the other half arrives
    as a streaming micro-batch that CuttingBoard.refresh folds in by
    partial-aggregate merge (streaming/incremental.py). The oracle is the
    full recompute over ALL events — the merged slice must match it
    exactly, proving the accumulator partial/final contract under
    maintenance (no rescan of the primed half ever happens)."""
    import os
    import shutil

    from ..accumulators import Sum as SumAcc
    from ..engine import CuttingBoard
    from ..streaming.incremental import stream_into_board

    events = _read(spark, sf_dir, "events")
    # r14: the IVM staging dir is run-scoped scratch exactly like every
    # stream checkpoint — scratch_dir puts it on tmpfs (per-micro-batch
    # fsyncs off the data disk) and, because the final slice is eagerly
    # checkpointed below (the q141 pattern), the dir is removed instead
    # of leaking one events copy per run. Measured flat-after-warmup at
    # sf0.1 (4 interleaved pairs, hashes identical); the cleanup is the
    # point at sweep SFs, where the leaked copy is GBs of tmpfs.
    from ..streaming.windows import _SCRATCH_STREAM_CONFS, scratch_dir

    d = scratch_dir("bacon_ivm_")
    data, ckpt = os.path.join(d, "data"), os.path.join(d, "ckpt")
    try:
        events.filter("event_id % 2 = 0").write.mode("overwrite").parquet(data)

        cd = CubeDef("events")
        cd.add_label(Label("event_type"))
        cd.add_measure(Measure("total_value", dec("value"), acc=SumAcc()))
        cd.add_measure(Measure("n", "event_id", acc=Count()))
        q = CubeQuery().add_axis("event_type").add_value("total_value").add_value("n")

        b = CuttingBoard(cd, spark.read.parquet(data), snapshot_cache=True)
        stream = spark.readStream.schema(spark.read.parquet(data).schema).parquet(data)
        with conf_override(spark, _SCRATCH_STREAM_CONFS):  # run-scoped scratch ckpt
            sq = stream_into_board(stream, b, ckpt)
        try:
            sq.processAllAvailable()  # catch up before priming (consistency contract)
            b.slice(q).rows()  # prime the cached slice from the first half
            events.filter("event_id % 2 = 1").write.mode("append").parquet(data)
            sq.processAllAvailable()  # delta micro-batch -> refresh merge
        finally:
            sq.stop()
        # eager checkpoint (q141's pattern): the returned frame must not
        # read the scratch dir after the finally below removes it
        return finalize(b.slice(q).to_df(), {"total_value": 2}).localCheckpoint(
            eager=True
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _stage_q62(spark, sf_dir):
    from ..streaming.windows import staged_input

    return staged_input(
        "q62", sf_dir, lambda: [("", _read(spark, sf_dir, "events"), "overwrite")]
    )


@query(
    "q62_streaming_oracle",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           count(*) AS n,
           round(cast(sum(cast(value as decimal(38,4))) as double), 2) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    prepare=_stage_q62,
)
def q62_streaming_oracle(spark, sf_dir):
    """TRUE Structured Streaming run checked against the batch oracle: the
    FULL events fixture streams through a tumbling-window aggregation in
    complete mode (availableNow), and the final materialized state must
    hash-match DuckDB's batch GROUP BY — i.e. the streaming path computes
    exactly the batch answer on bounded input, which is the invariant
    incremental view maintenance relies on (q54). Unlike q44 (rows-only,
    limit-sampled input), the input here is deterministic, so the oracle
    is exact. Input staging is a persistent once-per-ingest artifact
    (_stage_q62, the prepare hook)."""
    from ..streaming.windows import run_stream_to_memory, tumbling_window_agg

    d = _stage_q62(spark, sf_dir)
    stream = spark.readStream.schema(spark.read.parquet(d).schema).parquet(d)
    agg = tumbling_window_agg(
        stream,
        {
            "n": F.count(F.lit(1)),
            "sum_value": F.round(F.sum(F.expr(dec("value"))).cast("double"), 2),
        },
        window="1 hour",
        keys=("event_type",),
        watermark="1 hour",
    )
    out = agg.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n",
        "sum_value",
    )
    # complete mode emits the FULL state after every batch — the trailing
    # no-data micro-batch would recompute and re-emit all of it for
    # nothing (no watermark-gated flush to trigger here), so skip it:
    # one data batch total
    with conf_override(spark, _NO_DATA_BATCHES_OFF):
        run_stream_to_memory(out, "q62_stream", mode="complete")
    return spark.table("q62_stream")


def _asof_stage_frames(spark, sf_dir, sentinel_delta):
    """(purchases, clicks, sentinel) staging frames for the streaming
    as-of joins: the sentinel's far-future ts (max ts + *sentinel_delta*)
    drives the final watermark past every real row."""
    ev = _read(spark, sf_dir, "events")
    pdf = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    cdf = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    hi = ev.agg(F.max("ts")).first()[0]  # scalar: result-sized collect
    sent = spark.createDataFrame(
        [(-1, -1, hi + sentinel_delta, 0.0)],
        "event_id long, user_id long, ts timestamp, value double",
    )
    # three scans of the few-MB fixture during the ONCE-PER-INGEST build;
    # not worth a persist's lifecycle plumbing here
    return [
        ("purchases", pdf, "overwrite"),
        ("clicks", cdf, "overwrite"),
        ("purchases", sent, "append"),
    ]


def _state_shards(sf_dir, *, floor=8, cap=64, bytes_per_shard=32 << 20):
    """Data-driven state-shard width for the gate's pandas-state streaming
    runs (round 13). The engine operators hash-shard state by design
    (streaming/asof.py:12 — width bounds per-trigger Python calls, not
    results), but the gate pinned ``shards=8`` for minimal fixed
    micro-batch cost at bench SF; at sf100 that pushed ~12M rows through
    ONE arrow round-trip per shard and the single-JVM verification run
    spiraled in sorter spills (observed: two tasks >50 CPU-min each in
    direct-buffer churn). Width now scales with the events table's
    on-disk bytes: every driver/bench fixture and .scale/sf10 stay at
    the floor of 8 — byte-identical shapes to the r12-verified runs —
    while .scale/sf100 (~1.8 GB events) gets 56, keeping per-shard rows
    near the sf10-proven load. Output is shard-count-invariant (state is
    grouped per key inside a shard); the choice only moves cost, and is
    recorded via the decisions log for audit."""
    import math
    import os

    p = os.path.join(sf_dir, "events.parquet")
    total = 0
    if os.path.isdir(p):
        for root, _dirs, files in os.walk(p):
            total += sum(
                os.path.getsize(os.path.join(root, f))
                for f in files
                if f.endswith(".parquet")
            )
    elif os.path.exists(p):
        total = os.path.getsize(p)
    shards = max(floor, min(cap, math.ceil(total / bytes_per_shard)))
    from ..operators import decisions

    decisions.record(
        "stream_shards", "auto", events_bytes=total, shards=shards, sf_dir=sf_dir
    )
    return shards


def _stage_q64(spark, sf_dir):
    from ..streaming.windows import staged_input

    return staged_input(
        "q64",
        sf_dir,
        lambda: _asof_stage_frames(spark, sf_dir, dt.timedelta(hours=3)),
    )


@query(
    "q64_streaming_asof",
    """
    SELECT e.event_id, e.user_id, e.value,
           c.event_id AS click_event_id,
           epoch_us(e.ts) - epoch_us(c.ts) AS gap_us
    FROM (SELECT * FROM events WHERE event_type = 'purchase') e
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON e.user_id = c.user_id AND e.ts >= c.ts
    """,
    prepare=_stage_q64,
)
def q64_streaming_asof(spark, sf_dir):
    """TRUE streaming as-of join (streaming/asof.py, applyInPandasWithState)
    with an EXACT oracle: q59's purchases-to-latest-click join, but the two
    sides stream file-by-file through the stateful operator. The input
    files are staged once per ingest (_stage_q64, the prepare hook; file
    order pinned by explicit mtimes), and a far-future sentinel purchase
    advances the final watermark past every real row, flushing all group
    state; the appended output must then equal the batch join exactly."""
    from ..streaming.asof import streaming_asof_join
    from ..streaming.windows import run_stream_to_memory

    d = _stage_q64(spark, sf_dir)
    ldir, rdir = d + "/purchases", d + "/clicks"
    # TWO triggers, the floor for watermark-driven append emission: batch 0
    # reads data + sentinel together (maxFilesPerTrigger=2), so the
    # watermark computed at its end already clears every real row, and the
    # single closing no-data micro-batch flushes all group state. (The
    # no-data batch IS the flush mechanism — disabling it strands the rows
    # inside the final watermark horizon; measured: 15 rows lost at sf0.1.
    # Many-file interleaving is covered by the streaming unit tests; the
    # gate run keeps trigger count, i.e. fixed micro-batch cost, minimal.)
    pschema = "event_id long, user_id long, ts timestamp, value double"
    cschema = "user_id long, ts timestamp, event_id long"
    # shards = the state partitions this run uses: each extra shard is an
    # extra pandas/arrow state round-trip per trigger (32 shards cost 2x
    # wall time at bench scale), so the width is data-driven — floor 8 at
    # every bench/driver SF, wider only when per-shard rows would blow
    # past the verified load (_state_shards; shards and the stateful
    # shuffle width below rise TOGETHER)
    shards = _state_shards(sf_dir)
    out = streaming_asof_join(
        spark.readStream.schema(pschema)
        .option("maxFilesPerTrigger", 2).parquet(ldir),
        spark.readStream.schema(cschema)
        .option("maxFilesPerTrigger", 2).parquet(rdir),
        on=["user_id"], left_ts="ts", prefix="click_", delay="30 minutes",
        shards=shards,
    )
    # run_stream_to_memory pins the stateful shuffle width to match the
    # shard count for the verification run (see its state_partitions doc)
    run_stream_to_memory(out, "q64_stream", mode="append", state_partitions=shards)
    return (
        spark.table("q64_stream")
        .filter(F.col("user_id") >= 0)
        .select(
            "event_id",
            "user_id",
            "value",
            "click_event_id",
            (F.unix_micros("ts") - F.unix_micros("click_ts")).alias("gap_us"),
        )
    )


def _stage_q66(spark, sf_dir):
    from ..streaming.windows import staged_input

    # sentinel at max ts + tolerance (1 day) + 2h
    return staged_input(
        "q66",
        sf_dir,
        lambda: _asof_stage_frames(spark, sf_dir, dt.timedelta(days=1, hours=2)),
    )


@query(
    "q66_streaming_asof_forward",
    """
    SELECT e.event_id, e.user_id, e.value,
           CASE WHEN epoch_us(c.ts) - epoch_us(e.ts) <= 86400000000
                THEN c.event_id END AS next_click_event_id,
           CASE WHEN epoch_us(c.ts) - epoch_us(e.ts) <= 86400000000
                THEN epoch_us(c.ts) - epoch_us(e.ts) END AS gap_us
    FROM (SELECT * FROM events WHERE event_type = 'purchase') e
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON e.user_id = c.user_id AND e.ts <= c.ts
    """,
    prepare=_stage_q66,
)
def q66_streaming_asof_forward(spark, sf_dir):
    """TRUE streaming FORWARD as-of join with an EXACT oracle: each
    purchase matched to the user's EARLIEST click at-or-after it, within a
    1-day tolerance (forward streaming as-of requires the tolerance — it
    bounds both when a left row can finalize and how much right state is
    retained; streaming/asof.py). Same staging as q64: both sides stream
    file-by-file, a sentinel purchase past max_ts + tolerance + delay
    flushes all state, and the appended output must hash-match DuckDB's
    forward ASOF JOIN with the tolerance applied as a post-filter (the
    nearest forward match is beyond tolerance iff no match is within it).
    Input staging is a persistent once-per-ingest artifact (_stage_q66,
    the prepare hook; sentinel at max ts + tolerance + 2h, so the
    watermark clears max left_ts + tolerance for every real purchase)."""
    from ..streaming.asof import streaming_asof_join
    from ..streaming.windows import run_stream_to_memory

    TOL_US = 86_400_000_000  # 1 day
    d = _stage_q66(spark, sf_dir)
    ldir, rdir = d + "/purchases", d + "/clicks"
    pschema = "event_id long, user_id long, ts timestamp, value double"
    cschema = "user_id long, ts timestamp, event_id long"
    # same 2-trigger shape as q64: data + sentinel in batch 0, the closing
    # no-data micro-batch flushes state once the watermark (sentinel-driven)
    # clears every left ts + tolerance
    shards = _state_shards(sf_dir)
    out = streaming_asof_join(
        spark.readStream.schema(pschema)
        .option("maxFilesPerTrigger", 2).parquet(ldir),
        spark.readStream.schema(cschema)
        .option("maxFilesPerTrigger", 2).parquet(rdir),
        on=["user_id"], left_ts="ts", prefix="click_",
        direction="forward", tolerance_us=TOL_US,
        delay="30 minutes", shards=shards,
    )
    run_stream_to_memory(out, "q66_stream", mode="append", state_partitions=shards)
    return (
        spark.table("q66_stream")
        .filter(F.col("user_id") >= 0)
        .select(
            "event_id",
            "user_id",
            "value",
            F.col("click_event_id").alias("next_click_event_id"),
            (F.unix_micros("click_ts") - F.unix_micros("ts")).alias("gap_us"),
        )
    )


def _stage_q67(spark, sf_dir):
    """Per-(user, day) error spans and per-(user, week) purchase spans,
    staged once per ingest (span frames stay distributed end-to-end; the
    shared spans aggregation is persisted across the two writes)."""
    from ..streaming.windows import staged_input
    from ..utils.caching import managed_persist

    def stages():
        ev = _read(spark, sf_dir, "events")
        spans = managed_persist(
            ev.filter(F.col("event_type").isin("error", "purchase"))
            .groupBy(
                "user_id", F.date_trunc("day", F.col("ts")).alias("d"), "event_type"
            )
            .agg(
                F.min("ts").alias("lo"),
                (F.max("ts") + F.expr("interval 1 microsecond")).alias("hi"),
            )
        )
        err = spans.filter(F.col("event_type") == "error").select(
            "user_id", "d", F.col("lo").alias("e_lo"), F.col("hi").alias("e_up")
        )
        pur = (
            spans.filter(F.col("event_type") == "purchase")
            .groupBy("user_id", F.date_trunc("week", F.col("lo")).alias("wk"))
            .agg(F.min("lo").alias("p_lo"), F.max("hi").alias("p_up"))
        )
        return [("errors", err, "overwrite"), ("purchases", pur, "overwrite")]

    return staged_input("q67", sf_dir, stages)


@query(
    "q67_streaming_overlap_join",
    """
    WITH spans AS (
      SELECT user_id, event_type, date_trunc('day', ts) AS d,
             min(ts) AS lo, max(ts) + INTERVAL 1 MICROSECOND AS hi
      FROM events GROUP BY 1, 2, 3
    ),
    err AS (SELECT * FROM spans WHERE event_type = 'error'),
    pur AS (SELECT user_id, date_trunc('week', lo) AS wk,
                   min(lo) AS lo, max(hi) AS hi
            FROM spans WHERE event_type = 'purchase' GROUP BY 1, 2)
    SELECT err.user_id, strftime(err.d, '%Y-%m-%d') AS day,
           strftime(pur.wk, '%Y-%m-%d') AS week
    FROM err JOIN pur
      ON err.user_id = pur.user_id AND err.lo < pur.hi AND pur.lo < err.hi
    """,
    prepare=_stage_q67,
)
def q67_streaming_overlap_join(spark, sf_dir):
    """TRUE streaming interval-overlap join with an EXACT oracle
    (streaming/overlap.py): per-(user, day) error-activity spans stream
    against per-(user, week) purchase-activity spans; every overlapping
    pair is emitted exactly once, in the micro-batch where the second
    side arrives — no watermark wait and no flush sentinel, unlike the
    streaming as-of queries, because symmetric-join emission only needs
    both rows present. The delay exceeds the fixture's one-month time
    span so the cross-side watermark cannot drop the later-staged side;
    state pruning under a tight watermark is covered by the unit tests.
    Input staging is a persistent once-per-ingest artifact (_stage_q67,
    the prepare hook)."""
    from ..streaming.overlap import streaming_overlap_join
    from ..streaming.windows import run_stream_to_memory

    d = _stage_q67(spark, sf_dir)
    ldir, rdir = d + "/errors", d + "/purchases"
    eschema = "user_id long, d timestamp, e_lo timestamp, e_up timestamp"
    pschema = "user_id long, wk timestamp, p_lo timestamp, p_up timestamp"
    shards = _state_shards(sf_dir)
    out = streaming_overlap_join(
        spark.readStream.schema(eschema)
        .option("maxFilesPerTrigger", 1).parquet(ldir),
        spark.readStream.schema(pschema)
        .option("maxFilesPerTrigger", 1).parquet(rdir),
        "e_lo", "e_up", "p_lo", "p_up",
        on=["user_id"], prefix="r_", delay="35 days", shards=shards,
    )
    # symmetric-join emission happens in the batch where the second side
    # arrives — the trailing no-data micro-batch emits nothing here (no
    # watermark-gated flush like the as-of queries), so skip it: ONE
    # trigger total
    with conf_override(spark, _NO_DATA_BATCHES_OFF):
        run_stream_to_memory(
            out, "q67_stream", mode="append", state_partitions=shards
        )
    return spark.table("q67_stream").select(
        "user_id",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.date_format("r_wk", "yyyy-MM-dd").alias("week"),
    )


def _stage_q75(spark, sf_dir):
    from ..streaming.windows import staged_input

    def stages():
        docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
        return [
            ("", docs.filter(F.col("doc_id") % 2 == 0), "overwrite"),
            ("", docs.filter(F.col("doc_id") % 2 == 1), "append"),
        ]

    return staged_input("q75", sf_dir, stages)


@query(
    "q75_streaming_dedup_groups",
    f"""
    SELECT {_dd.hash60_sql('text')} AS digest,
           min(doc_id) AS keep_id,
           count(*) AS n
    FROM documents
    GROUP BY 1
    """,
    prepare=_stage_q75,
)
def q75_streaming_dedup_groups(spark, sf_dir):
    """TRUE streaming exact-dedup maintenance with an exact oracle: the
    documents corpus streams in two micro-batches (split by doc_id
    parity, staged distributedly) through a digest-keyed aggregate
    (min id = keeper, count = multiplicity) in complete mode — the
    incremental form of q22's batch dedup. State is one row per distinct
    digest (digest + two longs), the same asymptotic state batch dedup
    holds in its aggregation; on an unbounded stream the key set is
    bounded by watermarked windows or dropDuplicatesWithinWatermark,
    covered in tests/test_streaming.py. Input staging is a persistent
    once-per-ingest artifact (_stage_q75, the prepare hook)."""
    from ..streaming.windows import run_stream_to_memory

    d = _stage_q75(spark, sf_dir)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    agg = (
        stream.select("doc_id", _dd.hash60(F.col("text")).alias("digest"))
        .groupBy("digest")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n"))
    )
    run_stream_to_memory(agg, "q75_stream", mode="complete")
    return spark.table("q75_stream")


def _max_real_ts(spark, staged: str) -> dt.datetime:
    """The sentinel-exclusion bound of a staged stream input: its max REAL
    event time (sentinel rows excluded), as a UTC-aware datetime.

    Read from the staged input's stats sidecar (r14): warmed at staging
    time, so this is a metadata read, where an inline agg re-scanned the
    full staged corpus for one scalar on every run. The value is the
    identical exact aggregate (pinned in tests/test_sketch.py) and
    self-heals by scanning on a cold sidecar. Aware, because ``F.lit``
    converts a naive datetime through the driver's OS timezone."""
    from ..errors import DataError
    from ..operators.scale import max_event_time_stats

    max_us = max_event_time_stats(spark, staged, "ts", exclude_type="sent")["max_us"]
    if max_us is None:
        raise DataError(f"staged stream input {staged} holds no non-sentinel events")
    return dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc) + dt.timedelta(
        microseconds=max_us
    )


def _stage_q85(spark, sf_dir):
    """Full fixture + one far-future sentinel event (its own session,
    filtered out by the query): ONE sentinel, TWO triggers — batch 0
    reads data + sentinel together (maxFilesPerTrigger=2), so its
    end-of-batch watermark clears every real session and the closing
    no-data micro-batch emits them all (it IS the flush mechanism —
    availableNow always runs it)."""
    from ..streaming.windows import staged_input

    sschema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]

    def stages():
        ev = _read(spark, sf_dir, "events")
        hi = ev.agg(F.max("ts")).first()[0]
        sent1 = spark.createDataFrame(
            [(-1, hi + dt.timedelta(days=2), -1, "sent", 0.0, "{}")], sschema
        )
        return [("", ev.select(*cols), "overwrite"), ("", sent1, "append")]

    d = staged_input("q85", sf_dir, stages)
    # r14: warm the max-REAL-ts sidecar at staging time so the query's
    # sentinel-exclusion bound is a cached-metadata read, never a timed
    # corpus scan (the q183/q189 key_cardinality_stats pattern)
    from ..operators.scale import max_event_time_stats

    max_event_time_stats(spark, d, "ts", exclude_type="sent")
    return d


@query(
    "q85_streaming_session",
    """
    WITH marked AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, value)
    ),
    sessions AS (
      SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, value
                                    ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM marked
    )
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           count(*) AS n_events,
           round(cast(sum(cast(value as decimal(38,4))) as double), 2) AS sum_value
    FROM sessions
    GROUP BY user_id, sess_id
    """,
    prepare=_stage_q85,
)
def q85_streaming_session(spark, sf_dir):
    """TRUE streaming session windows with an EXACT oracle: the full
    events fixture streams through a watermarked session_window
    aggregate in APPEND mode — a session emits only when the watermark
    passes its close, so a far-future sentinel (its own session,
    filtered out) flushes every real session. State is bounded to open
    sessions per user. The oracle is q33's batch gaps-and-islands SQL
    verbatim: streaming emission must reproduce the batch sessionization
    bit-for-bit. Input staging is a persistent once-per-ingest artifact
    (_stage_q85, the prepare hook); the sentinel-exclusion bound (max
    real ts) is recovered from the staged files themselves."""
    from ..streaming.windows import (
        run_stream_to_memory,
        session_window_agg,
        with_watermark,
    )

    d = _stage_q85(spark, sf_dir)
    hi = _max_real_ts(spark, d)
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
        )
        .option("maxFilesPerTrigger", 2)
        .parquet(d)
    )
    agg = session_window_agg(
        with_watermark(stream, "ts", "30 minutes"),
        {
            "n_events": F.count(F.lit(1)),
            "sum_value": F.round(F.sum(F.expr(dec("value"))).cast("double"), 2),
        },
        gap="30 minutes",
        keys=("user_id",),
    )
    # Drop the sentinel sessions by their START TIME, not by user_id:
    # user_id is a grouping key, so a `user_id >= 0` filter legally
    # pushes below the aggregate all the way into the parquet scan —
    # the sentinel rows then never reach the watermark operator and the
    # final real sessions never emit (observed: the last-gap sessions
    # went missing). session_start is an aggregate output that cannot
    # push through session merging, so it filters rows, not input.
    out = agg.filter(F.col("session_start") <= F.lit(hi)).select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        "n_events",
        "sum_value",
    )
    run_stream_to_memory(out, "q85_stream", mode="append")
    return spark.table("q85_stream")


def _stage_q99(spark, sf_dir):
    """Four ordered files = four triggers: on-time prefix, advancing
    slice, late replay + boundary slice, far-future sentinel (see the
    q99 docstring for why each exists)."""
    import datetime as _dt

    from ..streaming.windows import staged_input

    sschema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]

    def stages():
        from ..utils.caching import managed_persist

        ev = managed_persist(_read(spark, sf_dir, "events"))
        hi = ev.agg(F.max("ts")).first()[0]
        jan = lambda d: _dt.datetime(2024, 1, d)  # noqa: E731
        f1 = ev.filter(F.col("ts") < F.lit(jan(15)))
        f2 = ev.filter(
            (F.col("ts") >= F.lit(jan(15))) & (F.col("ts") < F.lit(jan(20)))
        )
        f3 = ev.filter(
            (F.col("ts") < F.lit(jan(4)))
            | ((F.col("ts") >= F.lit(jan(14))) & (F.col("ts") < F.lit(jan(16))))
        )
        sent = spark.createDataFrame(
            [(-1, hi + _dt.timedelta(days=2), -1, "sent", 0.0, "{}")], sschema
        )
        return [
            ("", f1.select(*cols), "overwrite"),
            ("", f2.select(*cols), "append"),
            ("", f3.select(*cols), "append"),
            ("", sent, "append"),
        ]

    d = staged_input("q99", sf_dir, stages)
    # r14: warm the max-REAL-ts sidecar (see _stage_q85)
    from ..operators.scale import max_event_time_stats

    max_event_time_stats(spark, d, "ts", exclude_type="sent")
    return d


@query(
    "q99_watermark_late_drop",
    """
    WITH f1 AS (SELECT * FROM events WHERE ts < TIMESTAMP '2024-01-15'),
    f2 AS (
      SELECT * FROM events
      WHERE ts >= TIMESTAMP '2024-01-15' AND ts < TIMESTAMP '2024-01-20'
    ),
    f3 AS (
      SELECT * FROM events
      WHERE ts < TIMESTAMP '2024-01-04'
         OR (ts >= TIMESTAMP '2024-01-14' AND ts < TIMESTAMP '2024-01-16')
    ),
    wm1 AS (
      SELECT make_timestamp((epoch_us(max(ts)) // 1000) * 1000)
             - INTERVAL 1 HOUR AS w
      FROM f1
    ),
    accepted AS (
      SELECT ts, value FROM f1
      UNION ALL
      SELECT ts, value FROM f2
      UNION ALL
      SELECT f3.ts, f3.value FROM f3, wm1
      WHERE date_trunc('hour', f3.ts) + INTERVAL 1 HOUR > wm1.w
    )
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           count(*) AS n,
           round(cast(sum(cast(value as decimal(38,4))) as double), 2) AS sum_value
    FROM accepted GROUP BY 1
    """,
    prepare=_stage_q99,
)
def q99_watermark_late_drop(spark, sf_dir):
    """Watermark LATE-DATA DROP semantics, proven exactly: trigger 1
    streams the on-time prefix (ts < Jan 15), trigger 2 an advancing
    on-time slice ([Jan 15, Jan 20)), trigger 3 a late replay (ts <
    Jan 4 — far beyond the 1-hour watermark, must be DROPPED) plus a
    boundary slice ([Jan 14, Jan 16) — windows ending after the
    effective watermark must be ACCEPTED, re-counting replayed rows
    like any at-least-once source); a far-future sentinel then advances
    the watermark so append mode flushes every real window.

    The acceptance rule the oracle replays was pinned empirically on
    Spark 4.1 (numRowsDroppedByWatermark probes): a batch's LATE FILTER
    applies the previous batch's progress-reported watermark — i.e. the
    millisecond-floored max event time through batch n-2, minus the
    delay — while state eviction uses the current one. The advancing
    trigger-2 slice exists precisely so the replay batch filters
    against max(trigger-1) - 1h. A row survives iff its window end
    exceeds that watermark; the final emitted state is hash-checked,
    dropped rows and double-counted replays included. The q62/q85
    exactness family extended to the drop path, the part of streaming
    correctness most pipelines never test. Input staging is a
    persistent once-per-ingest artifact (_stage_q99, the prepare hook);
    the sentinel-exclusion bound is recovered from the staged files."""
    from ..streaming.windows import (
        run_stream_to_memory,
        tumbling_window_agg,
        with_watermark,
    )

    sschema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    d = _stage_q99(spark, sf_dir)
    hi = _max_real_ts(spark, d)
    stream = (
        spark.readStream.schema(sschema).option("maxFilesPerTrigger", 1).parquet(d)
    )
    agg = tumbling_window_agg(
        with_watermark(stream, "ts", "1 hour"),
        {
            "n": F.count(F.lit(1)),
            "sum_value": F.round(F.sum(F.expr(dec("value"))).cast("double"), 2),
        },
        window="1 hour",
    )
    out = agg.filter(F.col("window_start") <= F.lit(hi)).select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "n",
        "sum_value",
    )
    run_stream_to_memory(out, "q99_stream", mode="append")
    return spark.table("q99_stream")


def _stage_q100(spark, sf_dir):
    from ..streaming.windows import staged_input

    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]

    def stages():
        ev = _read(spark, sf_dir, "events")
        return [
            ("clicks", ev.filter(F.col("event_type") == "click").select(*cols), "overwrite"),
            ("purchases", ev.filter(F.col("event_type") == "purchase").select(*cols), "overwrite"),
        ]

    return staged_input("q100", sf_dir, stages)


@query(
    "q100_stream_stream_join",
    """
    SELECT c.user_id,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
           round(cast(cast(p.value as decimal(38,4)) as double), 2) AS purchase_value
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND p.event_type = 'purchase' AND c.event_type = 'click'
     AND epoch_us(p.ts) >= epoch_us(c.ts)
     AND epoch_us(p.ts) < epoch_us(c.ts) + 3600000000
    ORDER BY c.user_id, click_ts, purchase_ts
    """,
    prepare=_stage_q100,
)
def q100_stream_stream_join(spark, sf_dir):
    """NATIVE stream-stream inner join (Spark's built-in symmetric hash
    join, not the custom stateful operators of q64-q67): clicks joined
    to the purchases that follow within one hour, both sides true
    streams with watermarks and an event-time range condition — the
    state-bounding shape Structured Streaming requires. Both sides
    stage in single triggers, so no state is evicted before matching
    and the final append output must equal the batch join EXACTLY —
    which the DuckDB oracle computes. Complements q99: q99 pins what
    the watermark DROPS, this pins what join state RETAINS.

    Scale shape: state is bounded by the 1-hour join window per key
    side (watermark-evicted), shuffles are keyed on user_id, and the
    range predicate prunes state probes — the standard production
    clickstream-attribution join. Input staging is a persistent
    once-per-ingest artifact (_stage_q100, the prepare hook)."""
    from ..streaming.windows import run_stream_to_memory

    sschema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    d = _stage_q100(spark, sf_dir)
    cdir, pdir = d + "/clicks", d + "/purchases"
    clicks = (
        spark.readStream.schema(sschema).parquet(cdir)
        .withWatermark("ts", "2 hours")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
    )
    purchases = (
        spark.readStream.schema(sschema).parquet(pdir)
        .withWatermark("ts", "2 hours")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("p_value"),
        )
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.unix_micros("p_ts") >= F.unix_micros("c_ts"))
        & (F.unix_micros("p_ts") < F.unix_micros("c_ts") + 3_600_000_000),
        "inner",
    )
    out = joined.select(
        F.col("c_user").alias("user_id"),
        F.date_format("c_ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        F.date_format("p_ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
        F.round(F.expr(dec("p_value")).cast("double"), 2).alias("purchase_value"),
    )
    run_stream_to_memory(out, "q100_stream", mode="append")
    return spark.table("q100_stream").orderBy("user_id", "click_ts", "purchase_ts")


def _stage_q141(spark, sf_dir):
    """The CDC change-log source, staged once per ingest as ONE file
    (stage_ordered_files writes one file per stage): batch 0 under
    maxFilesPerTrigger=2 is exactly that file, which is what the
    replay-batch-0 step in the query re-reads verbatim."""
    from ..streaming.windows import staged_input

    cols = ["event_id", "ts", "user_id", "event_type", "value"]

    def stages():
        ev = _read(spark, sf_dir, "events").filter(F.col("user_id") < 80)
        return [("", ev.select(*cols), "overwrite")]

    return staged_input("q141", sf_dir, stages)


@query(
    "q141_streaming_cdc_upsert",
    """
    WITH ranked AS (
      SELECT user_id, event_id, ts, event_type, value,
             row_number() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rk
      FROM events
      WHERE user_id < 80
    )
    SELECT user_id, event_id, event_type,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s,
           round(value, 2) AS value
    FROM ranked WHERE rk = 1
    ORDER BY user_id
    """,
    prepare=_stage_q141,
)
def q141_streaming_cdc_upsert(spark, sf_dir):
    """END-TO-END exactly-once streaming CDC materialization: the change
    log streams through the manifest-committed idempotent sink
    (streaming/sink.py — one batch is DELIBERATELY REPLAYED to simulate
    post-crash at-least-once redelivery), the manifest table is read
    back, and latest-per-key compaction (q81's operator) produces
    current state.  The oracle computes the same state straight from
    the batch table — equality proves the whole stream→exactly-once
    sink→upsert-view path drops the replay and loses nothing.

    Composes: file-source micro-batches, foreachBatch, the atomic
    manifest protocol, and the CDC window — the production changelog
    pipeline in one gate. The change-log SOURCE is a persistent
    once-per-ingest artifact (_stage_q141, the prepare hook); the sink
    table and checkpoint stay per-run scratch — they ARE the protocol
    under test."""
    import shutil

    from pyspark.sql import Window

    from ..operators.maintenance import manifest_read
    from ..streaming.sink import idempotent_batch_writer
    from ..streaming.windows import _SCRATCH_STREAM_CONFS, scratch_dir

    src = _stage_q141(spark, sf_dir)
    out = scratch_dir("bacon_q141out_")
    ckpt = scratch_dir("bacon_q141ck_")
    try:
        sschema = "event_id long, ts timestamp, user_id long, event_type string, value double"
        stream = (
            spark.readStream.schema(sschema)
            .option("maxFilesPerTrigger", "2")
            .parquet(src)
        )
        writer = idempotent_batch_writer(out)
        with conf_override(spark, _SCRATCH_STREAM_CONFS):  # per-run scratch ckpt
            q = (
                stream.writeStream.foreachBatch(writer)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
        q.awaitTermination(300)
        # simulate at-least-once redelivery after a crash: replay batch 0
        # verbatim — the sink must drop it without a version bump
        first_files = sorted(
            f for f in __import__("os").listdir(src) if f.endswith(".parquet")
        )[:2]
        replay = spark.read.parquet(*[f"{src}/{f}" for f in first_files])
        writer(replay, 0)

        table = manifest_read(spark, out)
        w = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        return (
            table.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select(
                "user_id",
                "event_id",
                "event_type",
                F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_s"),
                F.round("value", 2).alias("value"),
            )
            .orderBy("user_id")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)


_Q167_EV = """
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
             user_id
      FROM events WHERE event_id < 5000
"""


def _stage_q167(spark, sf_dir):
    from ..streaming.windows import staged_input

    def stages():
        ev = (
            _read(spark, sf_dir, "events")
            .filter(F.col("event_id") < 5000)
            .select(
                F.date_format(
                    F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss"
                ).alias("window_start"),
                "user_id",
                "event_id",
            )
        )
        return [
            ("", ev.filter(F.col("event_id") < 2500), "overwrite"),
            ("", ev.filter(F.col("event_id") >= 2500), "append"),
        ]

    return staged_input("q167", sf_dir, stages)


@query(
    "q167_streaming_distinct_sketch",
    f"""
    WITH ev AS MATERIALIZED ({_Q167_EV}),
    reg AS ({_sk.hll_registers_sql('ev', 'user_id', 'window_start, ')}),
    est AS ({_sk.hll_estimate_sql('reg', 'window_start, ')}),
    ex AS (
      SELECT window_start, count(DISTINCT user_id)::BIGINT AS n_exact
      FROM ev GROUP BY 1
    )
    SELECT e.window_start AS window_start, e.buckets_used AS buckets_used,
           e.hll_estimate AS approx_users, x.n_exact AS n_exact
    FROM est e JOIN ex x USING (window_start)
    """,
    prepare=_stage_q167,
)
def q167_streaming_distinct_sketch(spark, sf_dir):
    """Windowed distinct-user estimation as a TRUE Structured Streaming
    job, via the deterministic HLL (operators/sketch.py): the stream
    aggregates max(rho) per (hour, bucket) — an order-free, mergeable
    aggregate, so the cross-batch state merge is EXACTLY the batch
    sketch and the estimate hash-matches DuckDB's one-shot replay. The
    classic "distinct users per window" question answered with 4096
    longs of state per window instead of one state row per user (the
    thing that OOMs streaming distinct at scale — see
    tools/stream_bench.py's state-knee measurements).

    Harness (q44 pattern): deterministic subset staged as two ordered
    files, one per trigger, complete-mode memory sink keeps the final
    merged registers; the estimate is a finishing projection over that
    state. In production the same plan runs append-mode with a watermark
    on the window column (max is insensitive to the late/early split);
    the exact n_exact column is computed batch-side for verification.
    Input staging is a persistent once-per-ingest artifact (_stage_q167,
    the prepare hook); the exact side reads the same staged files."""
    from ..streaming.windows import run_stream_to_memory

    d = _stage_q167(spark, sf_dir)
    ev = spark.read.parquet(d)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    reg_stream = _sk.hll_registers(
        stream.select("window_start", "user_id"), "user_id", ["window_start"]
    )
    with conf_override(spark, _NO_DATA_BATCHES_OFF):
        run_stream_to_memory(reg_stream, "q167_stream", mode="complete")
    reg = spark.table("q167_stream")
    est = _sk.hll_estimate(reg, ["window_start"]).select(
        "window_start", "buckets_used", F.col("hll_estimate").alias("approx_users")
    )
    exact = ev.groupBy("window_start").agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    return est.join(exact, "window_start")


_Q176_EV = """
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
             cast(round(value * 100) as bigint) AS v
      FROM events WHERE event_id < 5000
"""


def _stage_q176(spark, sf_dir):
    from ..streaming.windows import staged_input

    def stages():
        ev = (
            _read(spark, sf_dir, "events")
            .filter(F.col("event_id") < 5000)
            .select(
                F.date_format(
                    F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss"
                ).alias("window_start"),
                F.expr("cast(round(value * 100) as bigint)").alias("v"),
                "event_id",
            )
        )
        return [
            ("", ev.filter(F.col("event_id") < 2500), "overwrite"),
            ("", ev.filter(F.col("event_id") >= 2500), "append"),
        ]

    return staged_input("q176", sf_dir, stages)


@query(
    "q176_streaming_quantile_sketch",
    f"""
    WITH ev AS MATERIALIZED ({_Q176_EV}),
    h AS MATERIALIZED ({_sk.hist_sketch_sql('ev', 'v', 'window_start, ')}),
    est AS ({_sk.hist_quantiles_sql('h', (50, 95, 99), 'window_start, ')}),
    ranked AS (
      SELECT window_start, v,
             row_number() OVER (PARTITION BY window_start ORDER BY v) AS _rn,
             count(*) OVER (PARTITION BY window_start) AS _n
      FROM ev WHERE v IS NOT NULL AND v >= 0
    ),
    exact AS (
      SELECT window_start, cast(50 as int) AS pct, v AS q_exact FROM ranked
      WHERE _rn = (50 * _n + 99) // 100
      UNION ALL
      SELECT window_start, cast(95 as int) AS pct, v AS q_exact FROM ranked
      WHERE _rn = (95 * _n + 99) // 100
      UNION ALL
      SELECT window_start, cast(99 as int) AS pct, v AS q_exact FROM ranked
      WHERE _rn = (99 * _n + 99) // 100
    )
    SELECT e.window_start AS window_start, e.pct AS pct, e.q_est AS q_est,
           x.q_exact AS q_exact
    FROM est e JOIN exact x ON e.window_start = x.window_start AND e.pct = x.pct
    """,
    prepare=_stage_q176,
)
def q176_streaming_quantile_sketch(spark, sf_dir):
    """Windowed p50/p95/p99 as a TRUE Structured Streaming job via the
    log-bucketed histogram sketch (operators/sketch.hist_*): the stream
    aggregates bucket COUNTS per (hour window, bucket) — sums are
    order-free and mergeable, so the cross-batch state merge is EXACTLY
    the batch histogram and the quantile estimates hash-match DuckDB's
    one-shot replay. The production "p99 latency per window" question
    answered with ≤ 488 longs of state per window instead of every
    value retained for a sort (the streaming-percentile killer: exact
    windowed percentiles need the window's full value multiset in
    state).

    Harness (q167 pattern): two ordered staged files, one per trigger,
    complete-mode memory sink holds the merged counts; quantile
    selection is a finishing projection over that state. In production
    the same plan runs append-mode with a watermark on the window
    column (count, like max, is insensitive to the late/early split
    within the horizon). Exact rank quantiles are computed batch-side
    as the gate's verification columns. Input staging is a persistent
    once-per-ingest artifact (_stage_q176, the prepare hook); the exact
    side reads the same staged files."""
    from ..streaming.windows import run_stream_to_memory

    d = _stage_q176(spark, sf_dir)
    ev = spark.read.parquet(d)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    hist_stream = _sk.hist_sketch(
        stream.select("window_start", "v"), "v", ["window_start"]
    )
    with conf_override(spark, _NO_DATA_BATCHES_OFF):
        run_stream_to_memory(hist_stream, "q176_stream", mode="complete")
    hist = spark.table("q176_stream")
    est = _sk.hist_quantiles(hist, (50, 95, 99), ["window_start"])

    from pyspark.sql.window import Window

    vals = ev.where(F.col("v").isNotNull() & (F.col("v") >= 0))
    ranked = vals.select(
        "window_start",
        "v",
        F.row_number()
        .over(Window.partitionBy("window_start").orderBy("v"))
        .alias("_rn"),
        F.count(F.lit(1)).over(Window.partitionBy("window_start")).alias("_n"),
    )
    exact = None
    for p in (50, 95, 99):
        sel = ranked.where(
            F.col("_rn") == F.expr(f"({p} * _n + 99) div 100")
        ).select(
            "window_start",
            F.lit(p).cast("int").alias("pct"),
            F.col("v").alias("q_exact"),
        )
        exact = sel if exact is None else exact.unionByName(sel)
    return est.join(exact, ["window_start", "pct"]).select(
        "window_start", "pct", "q_est", "q_exact"
    )


_funnel_b = __import__("bacon_spark.operators.funnel", fromlist=["x"])


def _stage_q183(spark, sf_dir):
    """Events split at the median timestamp into two ordered files —
    per-user event-time order across triggers, the Kafka key-ordering
    reality — staged once per ingest."""
    from ..streaming.windows import staged_input

    def stages():
        ev = _read(spark, sf_dir, "events").select("user_id", "event_type", "ts")
        split = ev.agg(F.expr("percentile_approx(ts, 0.5)")).head()[0]
        return [
            ("", ev.filter(F.col("ts") <= F.lit(split)), "overwrite"),
            ("", ev.filter(F.col("ts") > F.lit(split)), "append"),
        ]

    d = staged_input("q183", sf_dir, stages)
    # r10: warm the user-cardinality sidecar at staging time so q189's
    # routing decision is a cached-metadata read, never a timed scan
    from ..operators.scale import key_cardinality_stats

    key_cardinality_stats(spark, d, "user_id")
    return d


@query(
    "q183_streaming_funnel",
    _funnel_b.funnel_sql("events", ("view", "click", "purchase")),
    prepare=_stage_q183,
)
def q183_streaming_funnel(spark, sf_dir):
    """q178's ordered funnel as a TRUE Structured Streaming job
    (streaming/funnel.streaming_funnel_steps, VERDICT r6 #6): per-user
    step timestamps held in an applyInPandasWithState row of exactly
    len(steps)+1 longs — set-once, monotone under per-user event-time
    order, so the cross-batch result equals the batch funnel EXACTLY
    (the oracle is the same conditional-min chain replay q178 uses).

    Harness: events staged as two ordered files split at the median
    timestamp (per-user event-time order across triggers — the Kafka
    key-ordering reality), update-mode memory sink; the latest snapshot
    per user folds into the batch funnel's exact output shape. State is
    event-count-independent (asserted in tests/test_stream_state.py).
    Input staging is a persistent once-per-ingest artifact (_stage_q183,
    the prepare hook)."""
    from ..streaming.funnel import (
        funnel_counts_from_steps,
        latest_funnel_steps,
        streaming_funnel_steps,
    )
    from ..streaming.windows import run_stream_to_memory

    steps = ("view", "click", "purchase")
    d = _stage_q183(spark, sf_dir)
    stream = (
        spark.readStream.schema("user_id bigint, event_type string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    snaps = streaming_funnel_steps(
        stream, steps, horizon="7 days", watermark="3650 days"
    )
    with conf_override(spark, _NO_DATA_BATCHES_OFF):
        # width 16 (r13, measured): the per-user Python-state fold is
        # bound by per-trigger Arrow round-trips, not store commits —
        # unlike the JVM-state streams (q44/q64/q99 measured WORSE at
        # 16), doubling the stateful width runs more of those
        # round-trips in parallel: every interleaved A/B pair ahead at
        # 32 cores (median 2.47 -> 2.14 s) AND at 8 cores (3.26 ->
        # 3.18), results identical (state is per-user; the width only
        # moves cost). NB run_stream_to_memory's state_partitions is a
        # CAP on the session's shuffle-partition setting, never a
        # raise, so 16 is a no-op (and the 8-core number only holds)
        # when the session runs with >16 shuffle partitions.
        run_stream_to_memory(snaps, "q183_stream", mode="update", state_partitions=16)
    latest = latest_funnel_steps(spark.table("q183_stream"))
    return funnel_counts_from_steps(latest, steps)


@query(
    "q188_streaming_funnel_sharded",
    _funnel_b.funnel_sql("events", ("view", "click", "purchase")),
    prepare=_stage_q183,
)
def q188_streaming_funnel_sharded(spark, sf_dir):
    """q183's ordered funnel through the SHARDED-state form
    (streaming/funnel.streaming_funnel_steps_sharded, round 9): state
    keyed by pmod(xxhash64(user), shards) so a micro-batch costs
    `shards` Python invocations instead of one per active user — the
    per-key-overhead fix STREAM_BENCH_R9 motivated (6x throughput drop
    at 1M users at constant volume). Same staged two-file input, same
    update-mode sink fold, same DuckDB conditional-min-chain oracle as
    q183 — the two forms must hash-match each other through it."""
    from ..streaming.funnel import (
        funnel_counts_from_steps,
        latest_funnel_steps,
        streaming_funnel_steps_sharded,
    )
    from ..streaming.windows import run_stream_to_memory

    steps = ("view", "click", "purchase")
    d = _stage_q183(spark, sf_dir)
    stream = (
        spark.readStream.schema("user_id bigint, event_type string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    snaps = streaming_funnel_steps_sharded(
        stream, steps, horizon="7 days", watermark="3650 days", shards=64
    )
    with conf_override(spark, _NO_DATA_BATCHES_OFF):
        run_stream_to_memory(snaps, "q188_stream", mode="update")
    latest = latest_funnel_steps(spark.table("q188_stream"))
    return funnel_counts_from_steps(latest, steps)


@query(
    "q189_streaming_funnel_auto",
    _funnel_b.funnel_sql("events", ("view", "click", "purchase")),
    prepare=_stage_q183,
)
def q189_streaming_funnel_auto(spark, sf_dir):
    """The CARDINALITY-ROUTED funnel (streaming/funnel.
    streaming_funnel_steps_auto, VERDICT r9 next #1): user cardinality
    comes from a once-per-ingest HLL stats sidecar on the staged input
    (operators/scale.key_cardinality_stats — table metadata, zero
    extra scans on repeat queries), then the query runs the per-user
    form at or below DEFAULT_USER_THRESHOLD (50k) users and the
    sharded form above it — the auto-salt decision pattern
    (operators/scale.auto_salt_join + key_skew_stats) applied to
    stateful-operator keying. Both branches are oracle-equal (q183 == q188), so
    the hash is route-invariant; the chosen route is recorded as
    operators.decisions.last("funnel") and pinned at both cardinalities
    in tests/test_stream_state.py. Same staged two-file input, same
    update-mode sink fold, same DuckDB conditional-min-chain oracle."""
    from ..streaming.funnel import (
        funnel_counts_from_steps,
        latest_funnel_steps,
        streaming_funnel_steps_auto,
    )
    from ..streaming.windows import run_stream_to_memory

    steps = ("view", "click", "purchase")
    d = _stage_q183(spark, sf_dir)
    stream = (
        spark.readStream.schema("user_id bigint, event_type string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    snaps = streaming_funnel_steps_auto(
        stream,
        steps,
        horizon="7 days",
        watermark="3650 days",
        shards=64,
        # production form: the estimate is a once-per-ingest stats
        # sidecar on the staged input (key_cardinality_stats), not a
        # per-query scan — repeat funnel queries pay zero extra jobs
        estimate_path=d,
    )
    with conf_override(spark, _NO_DATA_BATCHES_OFF):
        # width 16 (r13): same measured trade as q183 — the per-user
        # route (taken at bench cardinalities) is Arrow-round-trip
        # bound (A/B median 3.22 -> 2.78 s, every pair), and the
        # sharded route's 64 logical shard keys spread over 16
        # partitions instead of 8 (the 8-shard q188 form, where width
        # beyond the key count buys nothing, keeps the default).
        run_stream_to_memory(snaps, "q189_stream", mode="update", state_partitions=16)
    latest = latest_funnel_steps(spark.table("q189_stream"))
    return funnel_counts_from_steps(latest, steps)
