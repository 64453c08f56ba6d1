"""Streaming ordered funnel (VERDICT r6 #6): q178's ordered-step
matching as a Structured Streaming operator with PER-USER BOUNDED state.

The batch funnel (operators/funnel.py) is a conditional-min chain:
step i's timestamp is the earliest qualifying event after step i-1 and
within *horizon* of it. Processed in per-user EVENT-TIME order that
chain is a one-pass state machine whose entire state is one timestamp
per step — set-once, monotone: t0 is fixed by the first step-1 event
seen, and each later t_i by the first in-window step event after
t_{i-1}. So the streaming form is ``applyInPandasWithState`` with a
fixed-size state row of len(steps) epoch-micros longs plus an update
counter — no event buffering, state bytes independent of event count
(asserted in tests/test_stream_state.py).

Exactness contract: cross-batch equality with the batch funnel holds
when each user's events arrive in event-time order ACROSS batches (the
per-key ordering a Kafka-partitioned-by-user source provides; within a
batch arbitrary order is fine — rows are sorted before folding, with
step index as the tie-break so a same-timestamp later step still
qualifies, matching the batch chain's ``>=`` semantics). An out-of-order
straggler can only miss conversions, never invent them.

Emission and state are ON CHANGE only (round 9): a micro-batch that
advances none of a user's step timestamps writes no state and emits no
snapshot, and a user whose step-0 event never arrives holds NO state
row at all — so state is bounded by funnel ENTRANTS (users whose first
step fired), not by every user the stream has ever seen, and sink
traffic is one row per (user, step-advance), not per (user, batch).
Skipping the write is sound because the fold is deterministic in state:
replaying events against an absent state row produces exactly the
all-None state the write would have stored.

Consumers keep the LATEST emitted snapshot per user (the ``upd``
counter orders emissions); :func:`latest_funnel_steps` and
:func:`funnel_counts_from_steps` fold the update-mode sink back into
exactly the batch funnel's output shape — absent users contribute
nothing, exactly as an all-None snapshot would.

Reference analogue: none — engine extension (SURVEY §2.10).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_UNIT_US = {
    "second": 1_000_000,
    "seconds": 1_000_000,
    "minute": 60_000_000,
    "minutes": 60_000_000,
    "hour": 3_600_000_000,
    "hours": 3_600_000_000,
    "day": 86_400_000_000,
    "days": 86_400_000_000,
}


def _horizon_us(horizon: str) -> int:
    m = re.fullmatch(r"\s*(\d+)\s+(\w+)\s*", horizon)
    if not m or m.group(2) not in _UNIT_US:
        raise ValueError(f"unsupported horizon: {horizon!r}")
    return int(m.group(1)) * _UNIT_US[m.group(2)]


def streaming_funnel_steps(
    events: DataFrame,
    steps: tuple[str, ...] = ("view", "click", "purchase"),
    ts_col: str = "ts",
    user_col: str = "user_id",
    type_col: str = "event_type",
    horizon: str = "7 days",
    watermark: str = "30 days",
) -> DataFrame:
    """Per-user funnel step timestamps over a stream: emits
    (user, t0..tk, upd) snapshots in update mode, state = k+1 longs."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    k = len(steps)
    step_ix = {s: i for i, s in enumerate(steps)}
    hz = _horizon_us(horizon)
    out_schema = (
        f"{user_col} bigint, "
        + ", ".join(f"t{i} timestamp" for i in range(k))
        + ", upd bigint"
    )
    state_schema = ", ".join(f"t{i} bigint" for i in range(k)) + ", upd bigint"

    def fn(key, pdf_iter, state):
        if state.exists:
            got = list(state.get)
            t, upd = got[:k], got[k]
        else:
            t, upd = [None] * k, 0
        rows = []
        for pdf in pdf_iter:
            for typ, ts in zip(pdf[type_col], pdf[ts_col]):
                i = step_ix.get(typ)
                if i is None or pd.isna(ts):
                    continue
                rows.append((int(pd.Timestamp(ts).value // 1000), i))
        # event-time order within the batch; step index breaks ts ties so
        # an equal-timestamp later step still sees its predecessor set
        rows.sort()
        before = tuple(t)
        for us, i in rows:
            if i == 0:
                if t[0] is None or us < t[0]:
                    t[0] = us
            else:
                prev = t[i - 1]
                if prev is not None and t[i] is None and prev <= us <= prev + hz:
                    t[i] = us
        if tuple(t) == before:
            # no step advanced: skip the state-store write AND the
            # emission — state rows stay bounded by funnel entrants
            return
        upd += 1
        state.update(tuple(t) + (upd,))
        yield pd.DataFrame(
            {
                user_col: pd.array([key[0]], dtype="int64"),
                **{
                    f"t{i}": [
                        pd.Timestamp(t[i], unit="us") if t[i] is not None else pd.NaT
                    ]
                    for i in range(k)
                },
                "upd": pd.array([upd], dtype="int64"),
            }
        )

    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(user_col)
        .applyInPandasWithState(
            fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
    )


def streaming_funnel_steps_sharded(
    events: DataFrame,
    steps: tuple[str, ...] = ("view", "click", "purchase"),
    ts_col: str = "ts",
    user_col: str = "user_id",
    type_col: str = "event_type",
    horizon: str = "7 days",
    watermark: str = "30 days",
    shards: int = 256,
) -> DataFrame:
    """The SCALE form of :func:`streaming_funnel_steps`: identical
    per-user semantics, state keyed by ``pmod(xxhash64(user), shards)``.

    Why it exists: ``applyInPandasWithState`` invokes the Python state
    function once per distinct KEY per micro-batch. Keyed by user, a
    1.25M-row batch over ~1M users costs ~700k Python invocations at
    ~90 us each (STREAM_BENCH_R9: throughput drops 6x going from 100k
    to 1M users at constant volume). Keyed by shard, the same batch
    costs exactly ``shards`` invocations, each folding its users
    vectorized-in, loop-over-step-events-only — the per-key constant is
    amortized over thousands of users.

    State per shard is one binary blob: an int64 matrix of
    (user, t0..tk) rows for that shard's funnel ENTRANTS (-1 = unset),
    rewritten only when some user advanced — so state BYTES keep the
    ~(k+1)*8 B/entrant bound of the per-user form (row count becomes
    min(shards, entrant-shards) instead of entrants). Emission contract
    is unchanged (changed users only, per-shard monotone ``upd``), so
    :func:`latest_funnel_steps` / :func:`funnel_counts_from_steps`
    consume both forms interchangeably, and cross-batch equality with
    the batch funnel holds under the same per-user arrival-order
    assumption.

    Trade-off vs per-user keying: per-SHARD blob rewrite on change
    (~100 KB/shard at 1M users/256 shards — sequential write, cheap)
    and coarser state-store eviction granularity; NoTimeout is used
    either way, so nothing is lost here.
    """
    import numpy as np
    from pyspark.sql.streaming.state import GroupStateTimeout

    k = len(steps)
    step_ix = {s: i for i, s in enumerate(steps)}
    hz = _horizon_us(horizon)
    out_schema = (
        f"{user_col} bigint, "
        + ", ".join(f"t{i} timestamp" for i in range(k))
        + ", upd bigint"
    )

    def fn(key, pdf_iter, state):
        if state.exists:
            blob, upd = state.get
            arr = np.frombuffer(blob, dtype=np.int64).reshape(k + 1, -1)
            tbl = {int(arr[0, j]): arr[1:, j].copy() for j in range(arr.shape[1])}
        else:
            tbl, upd = {}, 0
        uu, us, ii = [], [], []
        for pdf in pdf_iter:
            ix = pdf[type_col].map(step_ix)
            mask = ix.notna() & pdf[ts_col].notna()
            if not mask.any():
                continue
            uu.append(pdf.loc[mask, user_col].to_numpy(dtype=np.int64))
            us.append(
                pdf.loc[mask, ts_col]
                .to_numpy(dtype="datetime64[ns]")
                .view(np.int64)
                // 1000
            )
            ii.append(ix[mask].to_numpy(dtype=np.int64))
        changed: set = set()
        if uu:
            uu = np.concatenate(uu)
            us = np.concatenate(us)
            ii = np.concatenate(ii)
            # global (ts, step) order preserves each user's (ts, step)
            # order — the same tie-break as the per-user form's sort
            for j in np.lexsort((ii, us)):
                u, t_us, i = int(uu[j]), int(us[j]), int(ii[j])
                t = tbl.get(u)
                if t is None:
                    if i == 0:
                        t = np.full(k, -1, dtype=np.int64)
                        t[0] = t_us
                        tbl[u] = t
                        changed.add(u)
                    continue
                if i == 0:
                    if t_us < t[0]:
                        t[0] = t_us
                        changed.add(u)
                else:
                    prev = t[i - 1]
                    if prev != -1 and t[i] == -1 and prev <= t_us <= prev + hz:
                        t[i] = t_us
                        changed.add(u)
        if not changed:
            return
        upd += 1
        n = len(tbl)
        buf = np.empty((k + 1, n), dtype=np.int64)
        buf[0] = np.fromiter(tbl.keys(), dtype=np.int64, count=n)
        buf[1:] = np.stack(list(tbl.values()), axis=1)
        state.update((buf.tobytes(), upd))
        cu = np.fromiter(sorted(changed), dtype=np.int64, count=len(changed))
        mat = np.stack([tbl[int(u)] for u in cu], axis=1)  # k x changed
        out = {user_col: cu}
        for i in range(k):
            col = mat[i]
            ser = pd.to_datetime(pd.Series(col * 1000), unit="ns")
            ser[col == -1] = pd.NaT
            out[f"t{i}"] = ser
        out["upd"] = np.full(len(cu), upd, dtype=np.int64)
        yield pd.DataFrame(out)

    return (
        events.withWatermark(ts_col, watermark)
        .withColumn("_shard", F.pmod(F.xxhash64(F.col(user_col)), F.lit(shards)))
        .groupBy("_shard")
        .applyInPandasWithState(
            fn,
            out_schema,
            "blob binary, upd bigint",
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )


#: Default user-cardinality cutoff for :func:`streaming_funnel_steps_auto`.
#: STREAM_BENCH_R9.json: the per-user form holds ~50-90k events/s through
#: ~100k users and collapses 6x by 1M (one Python invocation per key per
#: micro-batch), while the sharded form is flat at ~600k events/s at any
#: cardinality; streaming/state.py's provider crossover sits at ~50k state
#: rows. Below the cutoff the per-user form's finer state granularity
#: (per-user eviction, per-user store rows) costs nothing measurable, so
#: it stays the default there.
DEFAULT_USER_THRESHOLD: int = 50_000


def funnel_route(n_users: int | None, user_threshold: int = DEFAULT_USER_THRESHOLD) -> str:
    """The routing DECISION of :func:`streaming_funnel_steps_auto`, as a
    pure function so tests pin it at both cardinalities: ``"per_user"``
    when the estimated user cardinality is known and at most
    *user_threshold*, else ``"sharded"`` — including when no estimate is
    available (``None``), because the sharded form is the one that
    cannot collapse when the guess is wrong (the per-user form degrades
    6x at 1M users; the sharded form merely carries slightly coarser
    state granularity at small cardinality)."""
    if n_users is not None and n_users <= user_threshold:
        return "per_user"
    return "sharded"


def streaming_funnel_steps_auto(
    events: DataFrame,
    steps: tuple[str, ...] = ("view", "click", "purchase"),
    ts_col: str = "ts",
    user_col: str = "user_id",
    type_col: str = "event_type",
    horizon: str = "7 days",
    watermark: str = "30 days",
    shards: int = 256,
    user_threshold: int = DEFAULT_USER_THRESHOLD,
    n_users: int | None = None,
    estimate_from: DataFrame | None = None,
    estimate_path: str | None = None,
) -> DataFrame:
    """CARDINALITY-ROUTED funnel (VERDICT r9 next #1): picks
    :func:`streaming_funnel_steps` (per-user state) below
    *user_threshold* users and :func:`streaming_funnel_steps_sharded`
    above it — the auto-salt pattern (operators/scale.auto_salt_join)
    applied to the stateful-operator keying choice. Both forms are
    oracle-equal (q183 == q188 through the same DuckDB chain replay), so
    routing changes only the physical shape, never the answer.

    The cardinality estimate, in priority order:

    * *n_users* — the caller's own number (production: the user-dimension
      row count, a table-metadata lookup).
    * *estimate_path* — the PRODUCTION form: the stream's backing table
      location, whose distinct-user count is computed once per ingest
      and cached in a manifest-signed stats sidecar
      (operators/scale.key_cardinality_stats — the auto-salt join's
      "the decision is table metadata" contract), so repeated funnel
      queries pay ZERO extra scans.
    * *estimate_from* — a BATCH frame to sketch per call: one
      ``approx_count_distinct`` pass (HLL, map-side partial agg, no
      per-key shuffle). For frames with no stable table location.
    * none of the above — route SHARDED: the form that cannot collapse
      when the cardinality is unknown (the wrong per-user guess costs 6x
      throughput at 1M users, STREAM_BENCH_R9.json; the wrong sharded
      guess costs only coarser state granularity).

    The decision is recorded in the process-wide decisions log:
    ``operators.decisions.last("funnel")`` returns route ``"per_user"`` /
    ``"sharded"`` with the estimate as ``detail["n_users"]``, and the
    record survives any transformation of the returned frame."""
    if n_users is None and estimate_path is not None:
        from ..operators.scale import key_cardinality_stats

        n_users = key_cardinality_stats(
            events.sparkSession, estimate_path, user_col
        )["ndv"]
    if n_users is None and estimate_from is not None:
        n_users = int(
            estimate_from.agg(
                F.approx_count_distinct(F.col(user_col)).alias("n")
            ).head()[0]
        )
    route = funnel_route(n_users, user_threshold)
    if route == "per_user":
        out = streaming_funnel_steps(
            events, steps, ts_col=ts_col, user_col=user_col,
            type_col=type_col, horizon=horizon, watermark=watermark,
        )
    else:
        out = streaming_funnel_steps_sharded(
            events, steps, ts_col=ts_col, user_col=user_col,
            type_col=type_col, horizon=horizon, watermark=watermark,
            shards=shards,
        )
    from ..operators import decisions

    decisions.record(
        "funnel", route, n_users=n_users, user_threshold=user_threshold,
        shards=(shards if route == "sharded" else None),
    )
    return out


def latest_funnel_steps(snapshots: DataFrame, user_col: str = "user_id") -> DataFrame:
    """Latest per-user snapshot from an update-mode sink (max ``upd``)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(user_col).orderBy(F.col("upd").desc())
    return (
        snapshots.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn", "upd")
    )


def funnel_counts_from_steps(
    step_frame: DataFrame, steps: tuple[str, ...]
) -> DataFrame:
    """Fold per-user step timestamps into the batch funnel's output
    shape: (step, step_name, users, pct_of_entry) — identical aliases
    and rounding to operators/funnel.funnel, so the two forms compare
    row-for-row."""
    counts = step_frame.agg(
        *[F.count(F.col(f"t{i}")).alias(f"n{i}") for i in range(len(steps))]
    )
    rows = None
    for i, st in enumerate(steps):
        row = counts.select(
            F.lit(i + 1).cast("int").alias("step"),
            F.lit(st).alias("step_name"),
            F.col(f"n{i}").cast("long").alias("users"),
            F.round(F.col(f"n{i}") / F.col("n0"), 6).alias("pct_of_entry"),
        )
        rows = row if rows is None else rows.unionByName(row)
    return rows
