"""State-store provider policy for streaming operators.

VERDICT r5 task #8: `tools/stream_bench.py` (STREAM_BENCH_R5.json)
measured the provider trade-off on this engine's own operators:

* HDFS-backed (on-heap) store: 982k rows/s with tiny state (3.6k rows),
  but throughput drops ~3x by 260k state rows and the default heap OOMs
  outright at ~1.9M state rows — state CAPACITY is the first knee, hit
  long before any throughput cliff.
* RocksDB store: recovers 1.7x of the high-cardinality loss (336k ->
  565k rows/s at 260k state rows) because state lives off-heap/on-disk
  and GC stops paying for it.

The measured crossover is ~1e5 state rows: below it the on-heap store's
zero-serialization reads win; above it RocksDB wins on throughput and is
the only store that survives at all once state outgrows the heap. This
module encodes that as configuration — operators/harnesses declare the
provider (or an ``expected_state_rows`` estimate and let the policy
decide) instead of every call site hand-setting a Spark conf string.

The conf is captured per-query at START (Structured Streaming pins
``spark.sql.streaming.stateStore.providerClass`` into the query's
offset-log metadata), so two queries on one session can use different
providers; :func:`state_store_conf` context-manages the session conf
around ``start()`` and restores it afterwards.
"""

from __future__ import annotations

from contextlib import contextmanager

from ..utils.conf import conf_override

HDFS_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
)
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)

#: Measured in STREAM_BENCH_R5.json: HDFS-backed wins below ~1e5 live
#: state rows, RocksDB wins above (and is mandatory once state would
#: outgrow the executor heap — the bench's on-heap OOM at ~1.9M rows).
ROCKSDB_CROSSOVER_STATE_ROWS = 100_000

_PROVIDER_CONF = "spark.sql.streaming.stateStore.providerClass"
_ALIASES = {
    "hdfs": HDFS_PROVIDER,
    "rocksdb": ROCKSDB_PROVIDER,
}


def choose_state_store_provider(
    provider: str = "auto", expected_state_rows: int | None = None
) -> str:
    """Resolve a provider request to a provider CLASS name.

    *provider* is ``"hdfs"``, ``"rocksdb"``, a fully-qualified provider
    class, or ``"auto"``: pick by *expected_state_rows* against the
    measured :data:`ROCKSDB_CROSSOVER_STATE_ROWS` (unknown cardinality
    defaults to the on-heap store — the cheap choice for the bounded
    states every operator here documents in SCALE.md's bound table)."""
    if provider != "auto":
        return _ALIASES.get(provider, provider)
    if expected_state_rows is not None and expected_state_rows >= ROCKSDB_CROSSOVER_STATE_ROWS:
        return ROCKSDB_PROVIDER
    return HDFS_PROVIDER


@contextmanager
def state_store_conf(
    spark, provider: str | None, expected_state_rows: int | None = None
):
    """Set the state-store provider conf for a query about to start, then
    restore the session's previous value. ``provider=None`` leaves the
    session conf untouched (the caller manages it)."""
    if provider is None:
        yield None
        return
    resolved = choose_state_store_provider(provider, expected_state_rows)
    with conf_override(spark, {_PROVIDER_CONF: resolved}):
        yield resolved


def state_operator_metrics(query) -> list[dict]:
    """Per-operator state metrics (`numRowsTotal`, `memoryUsedBytes`,
    custom provider metrics) from a finished/running query's progress
    history — the numbers SCALE.md's state-bound table budgets against.
    One dict per (batch, stateful operator)."""
    out = []
    for prog in query.recentProgress:
        ops = prog.get("stateOperators") if isinstance(prog, dict) else prog["stateOperators"]
        for op in ops or []:
            rec = dict(op)
            rec["batchId"] = (
                prog.get("batchId") if isinstance(prog, dict) else prog["batchId"]
            )
            out.append(rec)
    return out
