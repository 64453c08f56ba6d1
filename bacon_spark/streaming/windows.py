"""Streaming cube extension: windowed aggregation over event streams.

Entirely absent in the reference (SURVEY §2.10 — its nearest concept is the
lazy re-pulled dataset, /root/reference/bacon/cutting.py:122-135); this is
the north-star extension built on Structured Streaming.

Design: every function here takes a DataFrame that may be BATCH or
STREAMING — ``F.window``/``F.session_window`` and the agg expressions work
identically in both modes, so batch runs (oracle-checkable against DuckDB)
pin the semantics of the streaming runs. Watermarks bound state: at 100 TB/
day stream volumes, state size is (windows in flight) × (groups), not event
count, and late events beyond the watermark are dropped deterministically.

The measure set reuses the engine's accumulators, so a streaming window agg
is exactly "a cube whose time axis is a window label".
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..utils.conf import conf_override


def with_watermark(df: DataFrame, ts_col: str = "ts", delay: str = "1 hour") -> DataFrame:
    """Watermark wrapper (no-op on batch frames)."""
    if df.isStreaming:
        return df.withWatermark(ts_col, delay)
    return df


def tumbling_window_agg(
    df: DataFrame,
    aggs: dict[str, Column],
    window: str = "1 hour",
    ts_col: str = "ts",
    keys: tuple[str, ...] = (),
    watermark: str | None = None,
) -> DataFrame:
    """Fixed windows aligned to the epoch; one result row per
    (window, keys). Batch-mode output of window('1 hour') matches
    date_trunc('hour') exactly (oracle q32)."""
    if watermark:
        df = with_watermark(df, ts_col, watermark)
    gb = df.groupBy(F.window(ts_col, window), *keys)
    out = gb.agg(*[c.alias(n) for n, c in aggs.items()])
    return out.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        *keys,
        *aggs.keys(),
    )


def sliding_window_agg(
    df: DataFrame,
    aggs: dict[str, Column],
    window: str = "1 hour",
    slide: str = "15 minutes",
    ts_col: str = "ts",
    keys: tuple[str, ...] = (),
    watermark: str | None = None,
) -> DataFrame:
    """Overlapping windows: each event lands in window/slide windows."""
    if watermark:
        df = with_watermark(df, ts_col, watermark)
    gb = df.groupBy(F.window(ts_col, window, slide), *keys)
    out = gb.agg(*[c.alias(n) for n, c in aggs.items()])
    return out.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        *keys,
        *aggs.keys(),
    )


def session_window_agg(
    df: DataFrame,
    aggs: dict[str, Column],
    gap: str = "30 minutes",
    ts_col: str = "ts",
    keys: tuple[str, ...] = ("user_id",),
    watermark: str | None = None,
) -> DataFrame:
    """Gap-based sessions: an event within *gap* of the previous extends the
    session; exactly the gaps-and-islands construction (oracle q33 pins the
    batch semantics against a lag/cumsum DuckDB query)."""
    if watermark:
        df = with_watermark(df, ts_col, watermark)
    gb = df.groupBy(F.session_window(ts_col, gap), *keys)
    out = gb.agg(*[c.alias(n) for n, c in aggs.items()])
    return out.select(
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        *keys,
        *aggs.keys(),
    )


def dedup_within_watermark(
    df: DataFrame, keys: tuple[str, ...] = ("event_id",), ts_col: str = "ts", delay: str = "1 hour"
) -> DataFrame:
    """Streaming exact dedup with bounded state: duplicates arriving within
    the watermark horizon are dropped; state for old keys is evicted."""
    if df.isStreaming:
        return df.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(list(keys))
    return df.dropDuplicates(list(keys))


def scratch_dir(prefix: str) -> str:
    """Temp dir for stream staging/checkpoints, on tmpfs when available:
    every micro-batch fsyncs offset/commit WALs and state files, so
    disk-backed /tmp adds run-to-run jitter a verification run doesn't
    need to pay (durability across process crashes is irrelevant here)."""
    import os
    import tempfile

    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    return tempfile.mkdtemp(prefix=prefix, dir=base)


#: per-query conf overrides for streams on RUN-SCOPED scratch
#: checkpoints (tmpfs dirs from :func:`scratch_dir` that die with the
#: process):
#: - checkpoint-file checksums (Spark 4.1's corruption tripwire for
#:   DURABLE checkpoint storage) are a fixed per-trigger file-count/
#:   fsync tax — measured ~10% of multi-batch gate runs — that buys
#:   nothing when the checkpoint's corruption story IS process death;
#: - unloadOnCommit closes each state-store provider at task commit
#:   (built for short-lived availableNow queries): a long session
#:   otherwise accumulates loaded providers from every finished stream,
#:   whose background maintenance keeps churning — measured ~5% on the
#:   streaming family and the accumulation grows with queries run.
_SCRATCH_STREAM_CONFS = {
    "spark.sql.streaming.checkpoint.fileChecksum.enabled": "false",
    "spark.sql.streaming.stateStore.unloadOnCommit": "true",
}


def run_stream_to_memory(
    stream_df: DataFrame, name: str, mode: str = "complete",
    state_provider: str | None = None,
    expected_state_rows: int | None = None,
    state_partitions: int | None = 8,
):
    """Drive a streaming frame to a memory sink with availableNow (process
    everything queued, then stop) — the test/verification harness path.

    *state_provider* picks the state-store backend for THIS query
    (``"hdfs"``, ``"rocksdb"``, a provider class, or ``"auto"`` to decide
    from *expected_state_rows* against the measured RocksDB crossover —
    see streaming/state.py and SCALE.md's state-bound table). ``None``
    (default) leaves the session conf untouched. The conf is pinned into
    the query at ``start()``, so concurrent queries on one session can
    use different providers.

    *state_partitions* caps ``spark.sql.shuffle.partitions`` for THIS
    query (pinned into its checkpoint at start): every stateful operator
    commits one state-store partition per shuffle partition per
    micro-batch, so a 32-partition session pays 32 store snapshots per
    trigger for fixture-sized state — measured ~30-60% of these
    verification runs' wall time. Results are partitioning-independent;
    a production job sizes this to its state volume instead (the conf is
    restored after start, and a LARGER session setting is never raised).

    The checkpoint is always a fresh :func:`scratch_dir`, removed after the
    run, so the scratch-checkpoint confs above always apply."""
    import shutil

    from .state import state_store_conf

    w = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
    )
    checkpoint = scratch_dir(f"ckpt_{name}_")
    spark = stream_df.sparkSession
    sp_conf = "spark.sql.shuffle.partitions"
    cap = (
        {sp_conf: str(state_partitions)}
        if state_partitions is not None
        and int(spark.conf.get(sp_conf)) > state_partitions
        else {}
    )
    try:
        with conf_override(spark, {**cap, **_SCRATCH_STREAM_CONFS}), state_store_conf(
            spark, state_provider, expected_state_rows
        ):
            q = w.option("checkpointLocation", checkpoint).start()
        q.awaitTermination()
    finally:
        shutil.rmtree(checkpoint, ignore_errors=True)
    return q


# ---------------------------------------------------------------------------
# Custom stateful operator (applyInPandasWithState)
# ---------------------------------------------------------------------------

RUNNING_TOTALS_SCHEMA = "user_id bigint, n_events bigint, total_value double"
_RUNNING_STATE_SCHEMA = "n bigint, total double"


def _running_totals_fn(key, pdf_iter, state):
    """Per-user running totals across micro-batches — the minimal custom
    stateful operator: state survives between triggers, bounded by key
    cardinality (not event count)."""
    import pandas as pd

    if state.exists:
        n, total = state.get
    else:
        n, total = 0, 0.0
    for pdf in pdf_iter:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
    )


def running_totals_stateful(df: DataFrame, ts_col: str = "ts", watermark: str = "1 hour") -> DataFrame:
    """Arbitrary stateful processing: per-user running (count, sum) kept in
    explicit state via applyInPandasWithState (Arrow-batched, update mode).
    The built-in windows above should be preferred whenever they fit — this
    is the escape hatch the reference's Accumulator subclassing maps to in
    a streaming world (SURVEY §2.11)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    if not df.isStreaming:
        # batch equivalent for oracle/tests
        return df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("double")).alias("total_value"),
        )
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _running_totals_fn,
            RUNNING_TOTALS_SCHEMA,
            _RUNNING_STATE_SCHEMA,
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )


def staged_input(key: str, sf_dir: str, stages, rev: str = "1") -> str:
    """Once-per-ingest STAGED stream input: a keyed, persistent directory
    of ordered files, built at most once per (key, dataset) and reused by
    every later run — the stream exists in production; fabricating its
    arrival order from the batch fixture is ingest work, so the gate
    queries expose this as their untimed ``prepare`` hook (same cost
    model as the ANN/token-table artifacts).

    *stages* is ``[(relpath, df, mode)]`` (or a 0-arg callable returning
    it, so a cache hit skips even the staging-frame construction) —
    relpath "" stages into the root, others into subdirectories
    (stream-stream joins stage left and right legs). Each target's FIRST
    stage must be mode="overwrite" so an interrupted build self-heals on
    rebuild. File mtimes are stamped from a fixed deterministic base
    (stage_ordered_files), so replay order survives persistence. A
    ``_STAGED`` marker commits completeness (underscore-prefixed:
    invisible to Spark's file listing).

    *rev* is the staging RECIPE version (ADVICE r8): it is folded into
    the directory key, so editing a stage definition (filters, sentinel
    deltas, file splits) in a caller must come with a rev bump — the old
    artifact is then simply a different key and the new recipe rebuilds
    instead of silently reusing stale files. Callers that change their
    ``stages`` construction without bumping ``rev`` are the bug this
    parameter exists to make impossible-to-miss in review."""
    import hashlib
    import os

    from ..utils.state import state_root

    base = os.path.join(state_root(), ".ann_index")
    h = hashlib.md5(
        f"{os.path.abspath(sf_dir)}|rev={rev}".encode()
    ).hexdigest()[:12]
    root = os.path.join(base, f"stream-{key}-{h}")
    marker = os.path.join(root, "_STAGED")
    if os.path.exists(marker):
        return root
    if callable(stages):
        stages = stages()
    stage_ordered_files(
        [
            (os.path.join(root, rel) if rel else root, df, mode)
            for rel, df, mode in stages
        ]
    )
    with open(marker, "w") as f:
        f.write("ok")
    return root


def stage_ordered_files(stages) -> None:
    """Stage streaming file-source input DISTRIBUTEDLY, in arrival order.

    *stages* is a sequence of ``(dir, df, mode)``: each frame is written
    by Spark itself as one file via ``repartition(1)`` — NOT ``coalesce``,
    see the inline comment below — (staging frames are micro-batch sized
    by construction; no driver ``toPandas()`` round-trip, so the gate
    queries stay honest when the staged slice grows with SF), then
    every not-yet-stamped part file gets a strictly increasing mtime so
    ``maxFilesPerTrigger=1`` replays the files in the intended order
    (FileStreamSource orders by modification time, then path).
    """
    import glob
    import os

    stamped: set[str] = set()
    t = 1_000_000_000
    for dir_, df, mode in stages:
        # one file per staged frame (file count = trigger count under
        # maxFilesPerTrigger=1). repartition(1), NOT coalesce(1):
        # coalesce on a parallelized local relation (a one-row sentinel
        # spread over defaultParallelism empty slices) degenerates to a
        # multi-second write, while the one-row shuffle is ~free.
        if df.rdd.getNumPartitions() > 1:
            df = df.repartition(1)
        df.write.mode(mode).parquet(dir_)
        for f in sorted(glob.glob(dir_ + "/*.parquet")):
            if f not in stamped:
                os.utime(f, (t, t))
                stamped.add(f)
                t += 1
