"""Structured Streaming tests: run the SAME operators in true streaming
mode (file source -> memory sink, availableNow trigger) and check
equivalence with batch plus watermark late-data semantics."""

import datetime as dt
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from bacon_spark.streaming import windows as W

SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double"


def _write_events(spark, path, rows):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(path)


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="bacon_stream_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _rows():
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    out = []
    for i in range(40):
        out.append((i, t0 + dt.timedelta(minutes=7 * i), i % 3, "click", float(i)))
    return out


def test_stream_tumbling_equals_batch(spark, tmpdir):
    rows = _rows()
    _write_events(spark, tmpdir, rows)
    batch_df = spark.read.schema(SCHEMA).parquet(tmpdir)
    stream_df = spark.readStream.schema(SCHEMA).parquet(tmpdir)

    aggs = {"n": F.count(F.lit(1)), "sv": F.sum("value")}
    batch = W.tumbling_window_agg(batch_df, aggs, window="1 hour")
    stream = W.tumbling_window_agg(stream_df, aggs, window="1 hour", watermark="1 hour")

    W.run_stream_to_memory(stream, "t_tumble", mode="complete")
    got = {
        (r["window_start"], r["n"], r["sv"])
        for r in spark.sql("select * from t_tumble").collect()
    }
    want = {(r["window_start"], r["n"], r["sv"]) for r in batch.collect()}
    assert got == want and got


def test_stream_session_equals_batch(spark, tmpdir):
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0, 1, "c", 1.0),
        (2, t0 + dt.timedelta(minutes=10), 1, "c", 2.0),  # same session
        (3, t0 + dt.timedelta(minutes=60), 1, "c", 3.0),  # new session
        (4, t0, 2, "c", 4.0),
    ]
    _write_events(spark, tmpdir, rows)
    aggs = {"n": F.count(F.lit(1))}
    stream = W.session_window_agg(
        spark.readStream.schema(SCHEMA).parquet(tmpdir),
        aggs,
        gap="30 minutes",
        watermark="1 hour",
    )
    W.run_stream_to_memory(stream, "t_sess", mode="complete")
    got = {
        (r["user_id"], r["n"]) for r in spark.sql("select * from t_sess").collect()
    }
    assert got == {(1, 2), (1, 1), (2, 1)}


def test_watermark_drops_late_events(spark, tmpdir):
    """Two separate runs sharing a checkpoint: run 1 advances the watermark
    to 04:00 (max 05:00 − 1h delay); run 2 delivers an event at 01:00 —
    behind the watermark — which must be dropped, so its window never
    reaches the append-mode output."""
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    data_dir = tmpdir + "/data"
    out_dir = tmpdir + "/out"
    ckpt = tmpdir + "/ckpt"

    def run_once():
        stream_df = spark.readStream.schema(SCHEMA).parquet(data_dir)
        agg = W.tumbling_window_agg(
            stream_df, {"n": F.count(F.lit(1))}, window="1 hour", watermark="1 hour"
        )
        q = (
            agg.writeStream.format("parquet")
            .outputMode("append")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        out = spark.read.parquet(out_dir)
        return {r["window_start"] for r in out.collect()}

    _write_events(spark, data_dir, [(1, t0 + dt.timedelta(hours=5), 1, "c", 1.0)])
    starts1 = run_once()
    _write_events(spark, data_dir, [(2, t0 + dt.timedelta(hours=1), 1, "c", 1.0)])
    starts2 = run_once()

    # the late 01:00 event was dropped: its window is emitted by neither run
    assert dt.datetime(2024, 1, 1, 1, 0) not in (starts1 | starts2)


def test_dedup_within_watermark_batch_and_stream(spark, tmpdir):
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0, 1, "c", 1.0),
        (1, t0 + dt.timedelta(minutes=1), 1, "c", 1.0),  # dup id
        (2, t0, 2, "c", 2.0),
    ]
    # batch mode
    df = spark.createDataFrame(rows, SCHEMA)
    assert W.dedup_within_watermark(df).count() == 2
    # streaming mode
    _write_events(spark, tmpdir, rows)
    stream = W.dedup_within_watermark(
        spark.readStream.schema(SCHEMA).parquet(tmpdir), delay="1 hour"
    )
    W.run_stream_to_memory(stream, "t_dedup", mode="append")
    assert spark.sql("select count(*) from t_dedup").head()[0] == 2


def test_stateful_running_totals(spark, tmpdir):
    rows = _rows()
    _write_events(spark, tmpdir, rows)
    stream = W.running_totals_stateful(spark.readStream.schema(SCHEMA).parquet(tmpdir))
    W.run_stream_to_memory(stream, "t_state", mode="update")
    got = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in spark.sql(
            "select user_id, max(n_events) n_events, max(total_value) total_value "
            "from t_state group by user_id"
        ).collect()
    }
    batch = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in W.running_totals_stateful(spark.read.schema(SCHEMA).parquet(tmpdir)).collect()
    }
    assert got == batch and len(got) == 3


def test_streaming_incremental_cube_maintenance(spark, tmpdir):
    """foreachBatch -> CuttingBoard.refresh: cached slices stay current as
    micro-batches land, without rescanning the base (streaming/incremental)."""
    import os

    from bacon_spark import CubeDef, CubeQuery, CuttingBoard, Label, Measure, Sum
    from bacon_spark.accumulators import Count
    from bacon_spark.operators import decisions
    from bacon_spark.streaming.incremental import stream_into_board

    data_dir = os.path.join(tmpdir, "data")
    ckpt = os.path.join(tmpdir, "ckpt")
    batch1 = _rows()[:20]
    _write_events(spark, data_dir, batch1)

    cd = CubeDef("events")
    cd.add_label(Label("event_type"))
    cd.add_measure(Measure("total", "value", acc=Sum()))
    cd.add_measure(Measure("n", "value", acc=Count()))
    # base frame references the SAME storage the stream reads — so
    # grow_base=False inside the maintenance loop is correct
    board = CuttingBoard(cd, spark.read.schema(SCHEMA).parquet(data_dir))
    q = CubeQuery().add_axis("event_type").add_value("total").add_value("n")

    # prime the cache from batch1, then stream batch1 in: the cached slice
    # double-counts unless we start the stream BEFORE priming... instead
    # prime on an EMPTY query cache and let the stream deliver everything.
    stream_df = spark.readStream.schema(SCHEMA).parquet(data_dir)
    sq = stream_into_board(stream_df, board, ckpt)
    try:
        sq.processAllAvailable()
        # no cache yet -> nothing maintained; now cache a slice
        assert board.slice(q).rows()  # populates cache from current files

        batch2 = _rows()[20:]
        _write_events(spark, data_dir, batch2)
        sq.processAllAvailable()  # micro-batch with only batch2 rows
    finally:
        sq.stop()

    sc = spark.sparkContext
    sc.setJobGroup("maintained-read", "read a maintained slice")
    try:
        s = board.slice(q)
        got = [tuple(r) for r in s.collect()]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the maintained rows answer: an exact hit, no recompute and no job
    d = decisions.last("cold_fold", context=board.decisions_context)
    assert (d.route, d.detail["kind"]) == ("local_warm", "exact_repeat")
    assert list(sc.statusTracker().getJobIdsForGroup("maintained-read")) == []
    want_total = sum(r[4] for r in _rows())
    assert s["click"].record == {"total": pytest.approx(want_total), "n": 40}
    fresh = CuttingBoard(
        cd, spark.read.schema(SCHEMA).parquet(data_dir), cache_results=False
    ).slice(q)
    assert got == [tuple(r) for r in fresh.collect()]  # integral sums: exact


def test_streaming_asof_join_equals_batch(spark, tmpdir):
    """True streaming as-of: trades and quotes stream file-by-file (several
    micro-batches, watermark advancing between them); the appended output
    must equal the batch asof_join on every real trade. A far-future
    sentinel trade pushes the final watermark past all real rows so state
    flushes before availableNow terminates."""
    import os

    from bacon_spark.operators.temporal import asof_join
    from bacon_spark.streaming.asof import streaming_asof_join
    from bacon_spark.streaming.windows import run_stream_to_memory

    t0 = dt.datetime(2024, 1, 1)

    def mk(sec):
        return t0 + dt.timedelta(seconds=sec)

    tdir, qdir = os.path.join(tmpdir, "trades"), os.path.join(tmpdir, "quotes")
    TSCH = "sym string, tts timestamp, qty long"
    QSCH = "sym string, qts timestamp, price double"
    # interleaved files: quotes arrive ahead of / behind trades across batches
    tfiles = [
        [("A", mk(10), 1), ("B", mk(12), 2)],
        [("A", mk(30), 3), ("C", mk(31), 4)],        # C has no quotes
        [("A", mk(50), 5), ("B", mk(55), 6)],
        [("ZZ", mk(100_000), 99)],                    # sentinel: flush
    ]
    qfiles = [
        [("A", mk(0), 1.0), ("B", mk(5), 10.0)],
        [("A", mk(30), 2.0)],                         # exact tie with trade
        [("A", mk(45), 3.0), ("B", mk(40), 11.0)],
        [("A", mk(60), 9.9)],                         # after all real trades
    ]
    for i, rows in enumerate(tfiles):
        spark.createDataFrame(rows, TSCH).coalesce(1).write.mode("append").parquet(tdir)
    for i, rows in enumerate(qfiles):
        spark.createDataFrame(rows, QSCH).coalesce(1).write.mode("append").parquet(qdir)

    lstream = (
        spark.readStream.schema(TSCH).option("maxFilesPerTrigger", 1).parquet(tdir)
    )
    rstream = (
        spark.readStream.schema(QSCH).option("maxFilesPerTrigger", 1).parquet(qdir)
    )
    out = streaming_asof_join(
        lstream, rstream, on=["sym"], left_ts="tts", right_ts="qts",
        prefix="q_", delay="10 seconds",
    )
    run_stream_to_memory(out, "t_asof", mode="append")
    got = {
        r["qty"]: (r["q_price"], r["q_qts"])
        for r in spark.sql("select * from t_asof").collect()
        if r["sym"] != "ZZ"
    }

    batch = asof_join(
        spark.read.schema(TSCH).parquet(tdir).filter("sym <> 'ZZ'"),
        spark.read.schema(QSCH).parquet(qdir),
        on=["sym"], left_ts="tts", right_ts="qts", prefix="q_",
    )
    want = {r["qty"]: (r["q_price"], r["q_qts"]) for r in batch.collect()}
    assert got == want and len(got) == 6
    # the exact-tie case and the no-quote key, explicitly
    assert got[3] == (2.0, mk(30))
    assert got[4] == (None, None)


def test_streaming_asof_join_forward_equals_batch(spark, tmpdir):
    """Forward direction: each trade matches the EARLIEST quote at-or-after
    it within tolerance; a trade only finalizes once the watermark clears
    its whole match window (tts + tolerance). Same file-by-file streaming
    setup as the backward test; output must equal the batch forward join."""
    import os

    import pytest

    from bacon_spark.operators.temporal import asof_join
    from bacon_spark.streaming.asof import streaming_asof_join
    from bacon_spark.streaming.windows import run_stream_to_memory

    t0 = dt.datetime(2024, 1, 1)

    def mk(sec):
        return t0 + dt.timedelta(seconds=sec)

    tdir, qdir = os.path.join(tmpdir, "ftrades"), os.path.join(tmpdir, "fquotes")
    TSCH = "sym string, tts timestamp, qty long"
    QSCH = "sym string, qts timestamp, price double"
    tfiles = [
        [("A", mk(10), 1), ("B", mk(12), 2)],
        [("A", mk(30), 3), ("C", mk(31), 4)],         # C has no quotes
        [("A", mk(50), 5), ("B", mk(55), 6)],
        [("ZZ", mk(100_000), 99)],                    # sentinel: flush
    ]
    qfiles = [
        [("A", mk(0), 1.0), ("B", mk(5), 10.0)],
        [("A", mk(30), 2.0)],                         # exact tie with trade
        [("A", mk(45), 3.0), ("B", mk(40), 11.0)],    # B gap 28s > tolerance
        [("A", mk(60), 9.9)],
    ]
    for rows in tfiles:
        spark.createDataFrame(rows, TSCH).coalesce(1).write.mode("append").parquet(tdir)
    for rows in qfiles:
        spark.createDataFrame(rows, QSCH).coalesce(1).write.mode("append").parquet(qdir)

    kw = dict(
        on=["sym"], left_ts="tts", right_ts="qts", prefix="q_",
        direction="forward", tolerance_us=20_000_000,
    )
    out = streaming_asof_join(
        spark.readStream.schema(TSCH).option("maxFilesPerTrigger", 1).parquet(tdir),
        spark.readStream.schema(QSCH).option("maxFilesPerTrigger", 1).parquet(qdir),
        delay="10 seconds", **kw,
    )
    run_stream_to_memory(out, "t_asof_fwd", mode="append")
    got = {
        r["qty"]: (r["q_price"], r["q_qts"])
        for r in spark.sql("select * from t_asof_fwd").collect()
        if r["sym"] != "ZZ"
    }
    batch = asof_join(
        spark.read.schema(TSCH).parquet(tdir).filter("sym <> 'ZZ'"),
        spark.read.schema(QSCH).parquet(qdir), **kw,
    )
    want = {r["qty"]: (r["q_price"], r["q_qts"]) for r in batch.collect()}
    assert got == want and len(got) == 6
    # spot-check the semantics, not just the equivalence:
    assert got[1] == (2.0, mk(30))    # earliest at-or-after, exactly at tol
    assert got[3] == (2.0, mk(30))    # exact-match tie
    assert got[2] == (None, None)     # next quote beyond tolerance
    assert got[4] == (None, None)     # keyless
    assert got[5] == (9.9, mk(60))

    with pytest.raises(ValueError, match="tolerance_us"):
        streaming_asof_join(
            spark.readStream.schema(TSCH).parquet(tdir),
            spark.readStream.schema(QSCH).parquet(qdir),
            on=["sym"], left_ts="tts", right_ts="qts", direction="forward",
        )


def _overlap_fixture(spark, tmpdir, subdir):
    """Two streams of keyed intervals, staged file-by-file so pairs form
    across micro-batches: sessions (left) and incidents (right)."""
    import os

    t0 = dt.datetime(2024, 1, 1)

    def mk(sec):
        return t0 + dt.timedelta(seconds=sec)

    sdir = os.path.join(tmpdir, subdir + "_s")
    idir = os.path.join(tmpdir, subdir + "_i")
    SSCH = "sym string, s_lo timestamp, s_up timestamp, sid long"
    ISCH = "sym string, i_lo timestamp, i_up timestamp, iid long"
    sfiles = [
        [("A", mk(0), mk(100), 1), ("B", mk(10), mk(20), 2)],
        [("A", mk(150), mk(160), 3), ("C", mk(0), mk(50), 4)],
        # long session arriving late-ish: overlaps incidents already seen
        [("A", mk(5), mk(400), 5), ("B", mk(300), mk(310), 6)],
    ]
    ifiles = [
        [("A", mk(90), mk(210), 10)],                  # meets sid 1 and later 5
        [("B", mk(15), mk(16), 11), ("A", mk(380), mk(500), 12)],
        [("B", mk(305), mk(306), 13), ("C", mk(60), mk(70), 14)],  # 14: no pair
    ]
    for rows in sfiles:
        spark.createDataFrame(rows, SSCH).coalesce(1).write.mode("append").parquet(sdir)
    for rows in ifiles:
        spark.createDataFrame(rows, ISCH).coalesce(1).write.mode("append").parquet(idir)
    return sdir, idir, SSCH, ISCH


@pytest.mark.parametrize("bucket_us", [None, 60_000_000])
def test_streaming_overlap_join_equals_batch(spark, tmpdir, bucket_us):
    """Every overlapping (session, incident) pair appears exactly once in
    the appended output, equal to the batch overlap join — in both the
    keyed mode and the (key, time-bucket) mode, where interval pairs
    sharing several buckets must still emit single (sid 5 x iid 10 share
    minutes 1-3; sid 5 x iid 12 share 380-400)."""
    from bacon_spark.streaming.overlap import streaming_overlap_join
    from bacon_spark.streaming.windows import run_stream_to_memory

    sdir, idir, SSCH, ISCH = _overlap_fixture(
        spark, tmpdir, f"ov{1 if bucket_us else 0}"
    )
    kw = dict(on=["sym"], prefix="i_", bucket_us=bucket_us)
    out = streaming_overlap_join(
        spark.readStream.schema(SSCH).option("maxFilesPerTrigger", 1).parquet(sdir),
        spark.readStream.schema(ISCH).option("maxFilesPerTrigger", 1).parquet(idir),
        "s_lo", "s_up", "i_lo", "i_up", delay="10 minutes", **kw,
    )
    name = f"t_ov_{1 if bucket_us else 0}"
    run_stream_to_memory(out, name, mode="append")
    got = sorted(
        (r["sid"], r["i_iid"]) for r in spark.sql(f"select * from {name}").collect()
    )
    batch = streaming_overlap_join(
        spark.read.schema(SSCH).parquet(sdir),
        spark.read.schema(ISCH).parquet(idir),
        "s_lo", "s_up", "i_lo", "i_up", **kw,
    )
    want = sorted((r["sid"], r["i_iid"]) for r in batch.collect())
    assert got == want
    assert got == [(1, 10), (2, 11), (3, 10), (5, 10), (5, 12), (6, 13)]
    # exactly-once: no pair duplicated even across shared buckets
    assert len(got) == len(set(got))


def test_streaming_overlap_join_validation(spark, tmpdir):
    from bacon_spark.streaming.overlap import streaming_overlap_join

    sdir, idir, SSCH, ISCH = _overlap_fixture(spark, tmpdir, "ovv")
    with pytest.raises(ValueError, match="keys or bucket_us"):
        streaming_overlap_join(
            spark.readStream.schema(SSCH).parquet(sdir),
            spark.readStream.schema(ISCH).parquet(idir),
            "s_lo", "s_up", "i_lo", "i_up",
        )
    with pytest.raises(ValueError, match="collision"):
        streaming_overlap_join(
            spark.readStream.schema(SSCH).parquet(sdir),
            spark.readStream.schema(
                "sym string, s_lo timestamp, s_up timestamp, x long"
            ).parquet(idir),
            "s_lo", "s_up", "s_lo", "s_up", on=["sym"], prefix="",
        )


def test_streaming_asof_join_batch_delegates(spark):
    from bacon_spark.streaming.asof import streaming_asof_join

    t0 = dt.datetime(2024, 1, 1)
    trades = spark.createDataFrame(
        [("A", t0 + dt.timedelta(seconds=10), 1)], "sym string, tts timestamp, qty long"
    )
    quotes = spark.createDataFrame(
        [("A", t0, 5.0)], "sym string, qts timestamp, price double"
    )
    out = streaming_asof_join(
        trades, quotes, on=["sym"], left_ts="tts", right_ts="qts", prefix="q_"
    )
    assert [(r["qty"], r["q_price"]) for r in out.collect()] == [(1, 5.0)]


def test_streaming_asof_chunked_hot_key_equals_batch(spark, tmpdir):
    """Hot-key sub-sharding (chunk_us): 90% of rows on ONE key must still
    produce exactly the batch as-of result, both directions. Rows shard by
    (key, time-chunk) and right rows replicate into every chunk their
    tolerance window covers, so the per-chunk merge sees every candidate;
    equivalence over many chunks, interleaved files, and a flush sentinel
    is the proof the replication covers chunk boundaries."""
    import os
    import random

    from bacon_spark.operators.temporal import asof_join
    from bacon_spark.streaming.asof import streaming_asof_join
    from bacon_spark.streaming.windows import run_stream_to_memory

    t0 = dt.datetime(2024, 1, 1)
    rng = random.Random(7)
    TSCH = "sym string, tts timestamp, qty long"
    QSCH = "sym string, qts timestamp, price double"
    # 90% of traffic on HOT; timestamps spread over 400s -> ~40 chunks at
    # chunk_us=10s; tolerance 25s spans chunk boundaries
    trades, quotes = [], []
    for i in range(300):
        sym = "HOT" if rng.random() < 0.9 else rng.choice(["a", "b", "c"])
        trades.append((sym, t0 + dt.timedelta(seconds=rng.uniform(0, 400)), i))
    for j in range(300):
        sym = "HOT" if rng.random() < 0.9 else rng.choice(["a", "b", "c"])
        quotes.append((sym, t0 + dt.timedelta(seconds=rng.uniform(0, 400)), float(j)))
    tdir, qdir = os.path.join(tmpdir, "htrades"), os.path.join(tmpdir, "hquotes")
    # three files per side in TIME order (real streams arrive roughly in
    # order; rows later than the watermark delay are legally dropped, so
    # an arbitrarily-shuffled file layout would not equal batch for ANY
    # streaming join) + a flush sentinel; mtimes pin replay order
    from bacon_spark.streaming.windows import stage_ordered_files

    trades.sort(key=lambda r: r[1])
    quotes.sort(key=lambda r: r[1])
    stages = []
    for part in range(3):
        stages.append(
            (tdir, spark.createDataFrame(trades[part * 100:(part + 1) * 100], TSCH), "append")
        )
        stages.append(
            (qdir, spark.createDataFrame(quotes[part * 100:(part + 1) * 100], QSCH), "append")
        )
    stages.append((
        tdir,
        spark.createDataFrame([("ZZ", t0 + dt.timedelta(seconds=100_000), 9999)], TSCH),
        "append",
    ))
    stage_ordered_files(stages)

    for direction in ("backward", "forward"):
        kw = dict(
            on=["sym"], left_ts="tts", right_ts="qts", prefix="q_",
            direction=direction, tolerance_us=25_000_000,
        )
        out = streaming_asof_join(
            spark.readStream.schema(TSCH).option("maxFilesPerTrigger", 1).parquet(tdir),
            spark.readStream.schema(QSCH).option("maxFilesPerTrigger", 1).parquet(qdir),
            delay="30 seconds", shards=8, chunk_us=10_000_000, **kw,
        )
        name = f"t_asof_hot_{direction}"
        run_stream_to_memory(out, name, mode="append")
        got = {
            r["qty"]: (r["q_price"], r["q_qts"])
            for r in spark.sql(f"select * from {name}").collect()
            if r["sym"] != "ZZ"
        }
        batch = asof_join(
            spark.read.schema(TSCH).parquet(tdir).filter("sym <> 'ZZ'"),
            spark.read.schema(QSCH).parquet(qdir), **kw,
        )
        want = {r["qty"]: (r["q_price"], r["q_qts"]) for r in batch.collect()}
        assert got == want, direction
        assert len(got) == 300
        # the hot key really spread over shards via chunking: many chunks
        assert len({r["qty"] for r in batch.collect()}) == 300


def test_streaming_asof_chunked_requires_tolerance(spark):
    import pytest

    from bacon_spark.streaming.asof import streaming_asof_join

    df = spark.readStream.format("rate").load()
    with pytest.raises(ValueError, match="chunked.*tolerance"):
        streaming_asof_join(
            df, df, on=["value"], left_ts="timestamp", chunk_us=1_000_000
        )


def test_watermark_late_filter_lags_one_batch(spark):
    """Pins the empirical Spark 4.1 micro-batch watermark rule q99's
    oracle replays: batch n's LATE FILTER applies the watermark reported
    for batch n-1 (max event time through batch n-2, minus delay), while
    eviction uses the current one. A late row arriving ONE batch after
    the advancing data is still accepted (filter wm is 1970); the same
    row arriving TWO batches after is dropped. If a Spark upgrade breaks
    this test, q99's acceptance model must be re-derived."""
    from bacon_spark.streaming.windows import (
        run_stream_to_memory,
        scratch_dir,
        stage_ordered_files,
    )

    T = dt.datetime
    sch = "id long, ts timestamp, v double"

    def run(name, stages):
        d = scratch_dir(f"wmlag_{name}_")
        stage_ordered_files([(d, spark.createDataFrame(rows, sch),
                              "overwrite" if i == 0 else "append")
                             for i, rows in enumerate(stages)])
        stream = (
            spark.readStream.schema(sch).option("maxFilesPerTrigger", 1).parquet(d)
        )
        agg = (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("window.start").alias("ws"), "n")
        )
        run_stream_to_memory(agg, f"wmlag_{name}", mode="append")
        got = {r["ws"]: r["n"] for r in spark.table(f"wmlag_{name}").collect()}
        shutil.rmtree(d, ignore_errors=True)
        return got

    advance = [(1, T(2024, 1, 1, 0, 30), 1.0), (2, T(2024, 1, 1, 10, 30), 1.0)]
    late = [(3, T(2024, 1, 1, 0, 40), 1.0)]
    flush = [(9, T(2024, 2, 1), 0.0)]

    # late row one batch behind the advance: ACCEPTED (filter wm still 1970)
    got1 = run("a", [advance, late, flush])
    assert got1[T(2024, 1, 1, 0, 0)] == 2

    # same late row two batches behind: DROPPED (filter wm = 09:30)
    got2 = run("b", [advance, [(4, T(2024, 1, 1, 11, 0), 1.0)], late, flush])
    assert got2[T(2024, 1, 1, 0, 0)] == 1


def test_staged_input_persists_reuses_and_self_heals(spark, tmp_path, monkeypatch):
    """The once-per-ingest staged-stream artifact (r8): second call is a
    pure cache hit (the stages thunk must not even run), replay order
    survives persistence (deterministic mtimes), and an interrupted
    build (no _STAGED marker) rebuilds cleanly because each target's
    first stage overwrites."""
    import glob
    import os
    import shutil

    import bacon_spark
    from bacon_spark.streaming.windows import staged_input

    # point the artifact root at a scratch repo copy
    fake_root = tmp_path / "pkg" / "bacon_spark"
    fake_root.mkdir(parents=True)
    (fake_root / "__init__.py").write_text("")
    monkeypatch.setattr(
        bacon_spark, "__file__", str(fake_root / "__init__.py")
    )

    df1 = spark.range(3).selectExpr("id", "id * 2 AS v")
    df2 = spark.range(3, 5).selectExpr("id", "id * 2 AS v")
    calls = {"n": 0}

    def stages():
        calls["n"] += 1
        return [("", df1, "overwrite"), ("", df2, "append")]

    root = staged_input("t1", "/some/sf", stages)
    assert os.path.exists(os.path.join(root, "_STAGED")) and calls["n"] == 1
    files = sorted(
        glob.glob(root + "/*.parquet"), key=lambda f: os.path.getmtime(f)
    )
    assert len(files) == 2
    # mtime order == staging order: first file holds df1's ids
    first = {r["id"] for r in spark.read.parquet(files[0]).collect()}
    assert first == {0, 1, 2}

    # cache hit: thunk not re-invoked
    assert staged_input("t1", "/some/sf", stages) == root
    assert calls["n"] == 1

    # interrupted build: files present but marker missing -> rebuild
    os.remove(os.path.join(root, "_STAGED"))
    assert staged_input("t1", "/some/sf", stages) == root
    assert calls["n"] == 2 and os.path.exists(os.path.join(root, "_STAGED"))
    assert spark.read.parquet(root).count() == 5  # no duplicated stages

    # recipe rev change -> DIFFERENT key, rebuilds instead of silently
    # reusing the stale artifact (ADVICE r8)
    root2 = staged_input("t1", "/some/sf", stages, rev="2")
    assert root2 != root and calls["n"] == 3
    assert os.path.exists(os.path.join(root2, "_STAGED"))
    shutil.rmtree(root, ignore_errors=True)
    shutil.rmtree(root2, ignore_errors=True)


def test_state_shards_data_driven(tmp_path):
    """Round 13: the gate's pandas-state streaming width scales with the
    events table's on-disk bytes — floor 8 at every fixture SF (the
    r12-verified shape is unchanged), wider for replica corpora whose
    per-shard rows would blow past the verified load, decision logged."""
    from bacon_spark.gate.streaming import _state_shards
    from bacon_spark.operators import decisions

    # fixture-sized events file -> floor
    small = tmp_path / "small"
    small.mkdir()
    (small / "events.parquet").write_bytes(b"x" * 1024)
    assert _state_shards(str(small)) == 8
    d = decisions.last("stream_shards")
    assert d.route == "auto" and d.detail["shards"] == 8

    # directory-shaped table summing past the per-shard target -> wider,
    # capped
    big = tmp_path / "big" / "events.parquet"
    big.mkdir(parents=True)
    for i in range(3):
        (big / f"part-{i}.parquet").write_bytes(b"x" * (40 << 20))
    assert _state_shards(str(tmp_path / "big"), floor=2) == 4  # ceil(120M/32M)
    assert _state_shards(str(tmp_path / "big")) == 8  # default floor holds
    assert _state_shards(str(tmp_path / "big"), bytes_per_shard=1 << 20, cap=64) == 64

    # the real fixtures all sit at the floor
    assert _state_shards("/root/testdata/sf0.1") == 8
