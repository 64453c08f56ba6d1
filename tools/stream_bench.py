"""Structured-Streaming throughput measurement: drive the full events
fixture through the watermarked tumbling-window pipeline (q62's shape) in
N file-triggered micro-batches and report rows/sec end-to-end — the
number behind SCALE.md's streaming-section claims.

r5 (VERDICT r4 task #8): also measures WHERE the state store bends the
throughput curve —

* ``--keys`` picks the grouping key, so state cardinality is a dial:
  ``event_type`` (the q62 shape) keeps state at #types x #windows rows;
  ``user_id`` grows state linearly with the corpus (the 100 TB shape);
* ``--rocksdb`` swaps the HDFS-backed store for RocksDB (the provider a
  real cluster runs once state outgrows executor heap);
* per-batch progress (trigger wall, state rows, state bytes) is emitted
  so the knee is visible IN the artifact instead of inferred: throughput
  bends where per-batch wall starts tracking cumulative state rows
  rather than input rows.

Usage: python tools/stream_bench.py [sf_dir] [n_batches]
       [--keys event_type|user_id] [--rocksdb] [--window 1 hour]
Prints one JSON line {"rows", "batches", "wall_s", "rows_per_s",
"state_rows_final", "state_bytes_final", "per_batch": [...]}.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402


def run_funnel(spark, args):
    """Ordered-funnel throughput (VERDICT r8 task #5): events/s for the
    applyInPandasWithState funnel at a DIALED user cardinality, with the
    one-state-row-per-user bound ASSERTED from the query's own progress
    metrics, not inferred.

    Sink is ``noop`` (not memory): in update mode every trigger emits one
    snapshot row per touched user, and collecting users x batches rows
    into the driver would measure the sink, not the state machine — the
    same rationale as the tumbling bench's --mode update note. Input is
    staged as ts-ordered files (per-user event-time order across
    triggers, the Kafka key-ordering reality q183 documents)."""
    from bacon_spark.sources.star import read_table
    from bacon_spark.streaming.funnel import (
        streaming_funnel_steps,
        streaming_funnel_steps_sharded,
    )
    from bacon_spark.streaming.windows import scratch_dir, stage_ordered_files
    from bacon_spark.utils.conf import conf_override

    steps = ("view", "click", "purchase")
    base = read_table(spark, args.sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    full = None
    for i in range(args.multiply):
        part = base
        if args.split:
            part = part.filter(
                F.pmod(F.xxhash64("event_id"), F.lit(args.multiply)) == F.lit(i)
            )
        part = part.select(
            F.pmod(F.xxhash64("user_id", F.lit(i)), F.lit(args.users))
            .cast("long")
            .alias("user_id"),
            "event_type",
            "ts",
        )
        full = part if full is None else full.unionByName(part)
    full = full.persist()
    total = full.count()
    users_seen = full.select("user_id").distinct().count()
    # the state bound under emit-on-change: users whose step-0 event
    # exists (funnel ENTRANTS) — only they ever hold a state row
    entrants = (
        full.filter(F.col("event_type") == steps[0])
        .select("user_id")
        .distinct()
        .count()
    )
    # sharded form: one state ROW per shard holding >=1 entrant (bytes
    # still scale with entrants)
    n_shards = args.sharded or (256 if args.auto else 0)
    entrant_shards = (
        full.filter(F.col("event_type") == steps[0])
        .select(F.pmod(F.xxhash64("user_id"), F.lit(n_shards)).alias("s"))
        .distinct()
        .count()
        if n_shards
        else None
    )

    n_batches = args.n_batches
    # ts-quantile cut points -> n_batches ordered slices, one file each
    if n_batches > 1:
        qs = ",".join(str(i / n_batches) for i in range(1, n_batches))
        cuts = full.agg(
            F.expr(f"percentile_approx(ts, array({qs}), 10000)")
        ).head()[0]
    else:
        cuts = []
    bounds = [None, *cuts, None]
    d = scratch_dir("funnel_bench_")
    stages = []
    for i in range(n_batches):
        sl = full
        if bounds[i] is not None:
            sl = sl.filter(F.col("ts") > F.lit(bounds[i]))
        if bounds[i + 1] is not None:
            sl = sl.filter(F.col("ts") <= F.lit(bounds[i + 1]))
        stages.append((d, sl, "overwrite" if i == 0 else "append"))
    stage_ordered_files(stages)
    full.unpersist()

    stream = (
        spark.readStream.schema("user_id bigint, event_type string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    if args.auto:
        # the router's own path: HLL estimate over the staged input picks
        # the form, exactly as gate q189 does
        from bacon_spark.operators import decisions
        from bacon_spark.streaming.funnel import streaming_funnel_steps_auto

        snaps = streaming_funnel_steps_auto(
            stream, steps, horizon="7 days", watermark="3650 days",
            shards=args.sharded or 256,
            estimate_from=spark.read.parquet(d),
        )
        route = decisions.last("funnel")
        print(
            f"auto route: {route.route} "
            f"(estimated {route.detail['n_users']} users)",
            file=sys.stderr,
        )
    elif args.sharded:
        snaps = streaming_funnel_steps_sharded(
            stream, steps, horizon="7 days", watermark="3650 days",
            shards=args.sharded,
        )
    else:
        snaps = streaming_funnel_steps(
            stream, steps, horizon="7 days", watermark="3650 days"
        )
    ckpt = scratch_dir("funnel_ckpt_")
    t0 = time.perf_counter()
    try:
        with conf_override(
            spark, {"spark.sql.shuffle.partitions": str(args.state_partitions)}
        ):
            q = (
                snaps.writeStream.format("noop")
                .outputMode("update")
                .trigger(availableNow=True)
                .option("checkpointLocation", ckpt)
                .start()
            )
            q.awaitTermination()
        wall = time.perf_counter() - t0
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(d, ignore_errors=True)

    per_batch = []
    state_rows = state_bytes = None
    for p in q.recentProgress:
        ops = p.get("stateOperators") or [{}]
        rec = {
            "batch": p.get("batchId"),
            "input_rows": p.get("numInputRows"),
            "trigger_ms": (p.get("durationMs") or {}).get("triggerExecution"),
            "state_rows": ops[0].get("numRowsTotal"),
            "state_bytes": ops[0].get("memoryUsedBytes")
            or (ops[0].get("customMetrics") or {}).get(
                "rocksdbTotalMemoryUsageBytes"
            ),
        }
        per_batch.append(rec)
        if rec["state_rows"] is not None:
            state_rows, state_bytes = rec["state_rows"], rec["state_bytes"]

    # THE state bound: per-user keying holds exactly one fixed-size state
    # row per funnel entrant (user whose step-0 event exists) — never per
    # event, and never for a user who only produced non-entry events;
    # sharded keying holds one blob per entrant-bearing shard
    routed_sharded = bool(args.sharded) if not args.auto else (
        route.route == "sharded"
    )
    if routed_sharded:
        assert state_rows == entrant_shards, (state_rows, entrant_shards)
    else:
        assert state_rows == entrants, (state_rows, entrants)
    cores = spark.sparkContext.defaultParallelism
    out = {
        "op": (
            "ordered_funnel_auto" if args.auto
            else "ordered_funnel_sharded" if args.sharded
            else "ordered_funnel"
        ),
        "route": route.route if args.auto else None,
        "route_users_estimate": route.detail["n_users"] if args.auto else None,
        "shards": n_shards if routed_sharded else None,
        "rows": total,
        "users": users_seen,
        "entrants": entrants,
        "batches": n_batches,
        "store": "rocksdb" if args.rocksdb else "hdfs",
        "state_partitions": args.state_partitions,
        "wall_s": round(wall, 2),
        "rows_per_s": round(total / wall),
        "rows_per_s_per_core": round(total / wall / cores, 1),
        "state_rows_final": state_rows,
        "state_rows_per_entrant": None
        if routed_sharded
        else round(state_rows / entrants, 6),
        "state_bytes_final": state_bytes,
        "state_bytes_per_entrant": round(state_bytes / entrants, 1)
        if state_bytes
        else None,
        "per_batch": per_batch,
    }
    print(json.dumps(out, separators=(",", ":")), flush=True)


def main():
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.1")
    ap.add_argument("n_batches", nargs="?", type=int, default=8)
    ap.add_argument("--keys", default="event_type",
                    help="comma-separated grouping keys (state-cardinality dial)")
    ap.add_argument("--rocksdb", action="store_true",
                    help="use the RocksDB state store provider")
    ap.add_argument("--window", default="1 hour")
    ap.add_argument("--mode", default="complete", choices=["complete", "update"],
                    help="complete = q62's shape (state never pruned; sink "
                         "rewrites the full result each trigger); update = "
                         "production shape (watermark evicts closed windows, "
                         "sink receives only changed rows) — use update for "
                         "high-cardinality state measurements so sink cost "
                         "doesn't mask state-store cost")
    ap.add_argument("--funnel", action="store_true",
                    help="measure the ordered-funnel operator "
                         "(streaming/funnel.py, q183's shape) instead of the "
                         "tumbling-window agg: applyInPandasWithState with one "
                         "fixed-size state row per user")
    ap.add_argument("--users", type=int, default=10_000,
                    help="funnel mode: target user cardinality — events are "
                         "remapped user_id -> pmod(xxhash64(user_id, replica), "
                         "N), the state-rows dial")
    ap.add_argument("--multiply", type=int, default=1,
                    help="funnel mode: event-volume multiplier (replicas of "
                         "the sf_dir events fixture, users re-hashed per "
                         "replica)")
    ap.add_argument("--split", action="store_true",
                    help="funnel mode: replica i keeps only the 1/multiply "
                         "event slice pmod(xxhash64(event_id), M)==i — "
                         "multiplies USER cardinality (each replica re-hashes "
                         "users) at CONSTANT event volume, isolating "
                         "state-rows scaling from input scaling")
    ap.add_argument("--state-partitions", type=int, default=32,
                    help="funnel mode: shuffle/state partitions for the "
                         "stateful stage (throughput runs want one per core; "
                         "verification runs pin 8)")
    ap.add_argument("--sharded", type=int, default=0, metavar="SHARDS",
                    help="funnel mode: use the sharded-state form with this "
                         "many shards (0 = per-user keying)")
    ap.add_argument("--auto", action="store_true",
                    help="funnel mode: route per-user vs sharded from the "
                         "HLL cardinality estimate over the staged input "
                         "(streaming_funnel_steps_auto, gate q189); "
                         "--sharded then only sets the shard count")
    args = ap.parse_args()

    builder = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.streaming.noDataMicroBatches.enabled", "false")
        # the HDFS-backed state store is ON-HEAP: high-cardinality keys
        # (--keys user_id at sf100 ≈ millions of state rows) OOM the 1g
        # local-mode default long before any real knee appears
        .config("spark.driver.memory", "24g")
        .config("spark.ui.enabled", "false")
    )
    if args.rocksdb:
        from bacon_spark.streaming.state import ROCKSDB_PROVIDER

        builder = builder.config(
            "spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if args.funnel:
        run_funnel(spark, args)
        return
    from bacon_spark.queries import dec
    from bacon_spark.sources.star import read_table
    from bacon_spark.streaming.windows import (
        run_stream_to_memory,
        scratch_dir,
        stage_ordered_files,
        tumbling_window_agg,
    )

    keys = tuple(k for k in args.keys.split(",") if k)
    ev = read_table(spark, args.sf_dir, "events")
    total = ev.count()
    n_batches = args.n_batches
    d = scratch_dir("stream_bench_")
    # N equal event_id slices, one file per trigger
    bounds = [round(i * total / n_batches) for i in range(n_batches + 1)]
    stage_ordered_files(
        [
            (
                d,
                ev.filter(
                    (F.col("event_id") >= bounds[i]) & (F.col("event_id") < bounds[i + 1])
                ),
                "overwrite" if i == 0 else "append",
            )
            for i in range(n_batches)
        ]
    )
    stream = spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(d)
    agg = tumbling_window_agg(
        stream,
        {"n": F.count(F.lit(1)), "sum_value": F.sum(F.expr(dec("value")))},
        window=args.window,
        keys=keys,
        watermark="1 hour",
    )
    t0 = time.perf_counter()
    try:
        q = run_stream_to_memory(agg, "stream_bench", mode=args.mode)
        wall = time.perf_counter() - t0
    finally:
        shutil.rmtree(d, ignore_errors=True)

    per_batch = []
    state_rows = state_bytes = None
    for p in q.recentProgress:
        ops = p.get("stateOperators") or [{}]
        rec = {
            "batch": p.get("batchId"),
            "input_rows": p.get("numInputRows"),
            "trigger_ms": (p.get("durationMs") or {}).get("triggerExecution"),
            "state_rows": ops[0].get("numRowsTotal"),
            "state_bytes": ops[0].get("memoryUsedBytes")
            or (ops[0].get("customMetrics") or {}).get("rocksdbTotalMemoryUsageBytes"),
        }
        per_batch.append(rec)
        if rec["state_rows"] is not None:
            state_rows, state_bytes = rec["state_rows"], rec["state_bytes"]

    out = {
        "rows": total,
        "batches": n_batches,
        "keys": ",".join(keys),
        "mode": args.mode,
        "store": "rocksdb" if args.rocksdb else "hdfs",
        "wall_s": round(wall, 2),
        "rows_per_s": round(total / wall),
        "state_rows_final": state_rows,
        "state_bytes_final": state_bytes,
        "per_batch": per_batch,
    }
    print(json.dumps(out, separators=(",", ":")), flush=True)


if __name__ == "__main__":
    main()
