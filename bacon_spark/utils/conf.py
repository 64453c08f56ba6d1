"""Scoped Spark conf overrides: the one place the package sets session conf
for the length of a block."""

from __future__ import annotations

from contextlib import contextmanager


@contextmanager
def conf_override(spark, confs: dict[str, str]):
    """Set each key in *confs* on *spark*'s session conf, yield, then put
    every key back: its previous value if it had one, unset if it had none.
    Restores on exception too. An empty dict changes nothing.

    Assumes one session driven by one thread at a time. Spark SQL conf is
    session-global: while the block runs, every query planned on the same
    session sees the override, including queries from other threads, so a
    caller sharing a session across threads must serialize the block."""
    prev = {key: spark.conf.get(key, None) for key in confs}
    try:
        for key, value in confs.items():
            spark.conf.set(key, value)
        yield
    finally:
        for key, old in prev.items():
            if old is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, old)
