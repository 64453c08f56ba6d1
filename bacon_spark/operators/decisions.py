"""Composition-safe routing-decision log (VERDICT r10 next #4).

The engine makes several automatic physical-plan choices — funnel keying
by user cardinality (streaming/funnel.streaming_funnel_steps_auto),
containment probe-vs-inline by index-manifest match
(llm/dedup.containment_pairs_routed), join salting by a skew sketch
(operators/scale.auto_salt_join). Each is semantics-preserving (routing
changes cost, never results), but callers and harnesses need to see WHY
a plan took its shape.

This module's bounded in-process log is the one channel for those
decisions: routers :func:`record` their decision, callers read it back
with :func:`last` / :func:`log`. Routed frames carry no route attribute:
every DataFrame transformation returns a NEW frame, so an attribute set
on the routed frame would be gone after ``routed.filter(...)``, while a
log record survives whatever the caller does to the frame.

Driver-side only — decisions are made on the driver while the plan is
being built, so a plain deque (atomic appends under CPython) suffices;
nothing here ships to executors.

The log is PROCESS-GLOBAL: concurrent queries on different boards
interleave their records, so a bare ``last("funnel")`` can return a
neighbor's decision under parallel use (ADVICE r11). Recorders that own
a natural scope (CuttingBoard passes its ``decisions_context``) tag
records with *context*; harnesses running queries in parallel should
filter with ``last(op, context=board.decisions_context)``. A bare
``last(op)`` remains correct under the single-threaded-harness
assumption the gate queries run under.
"""

from __future__ import annotations

from collections import deque
from typing import Any, NamedTuple


class RouteDecision(NamedTuple):
    """One routing decision: which *operator* router fired, the *route*
    it picked, and the *detail* that drove the pick (estimates,
    thresholds, manifest keys — whatever the router knows). *context*
    scopes the record to its recorder (e.g. a board) so concurrent
    recorders can be told apart."""

    operator: str
    route: str
    detail: dict[str, Any]
    context: str | None = None


#: bounded: a long-lived session's log never grows past the last 256
#: decisions (a decision is ~100 bytes; the bound is about semantics —
#: "recent plan choices" — not memory)
_LOG: deque[RouteDecision] = deque(maxlen=256)


def record(
    operator: str, route: str, *, context: str | None = None, **detail: Any
) -> RouteDecision:
    """Append a decision to the log and return it (routers call this at
    the moment they commit to a physical shape). *context* is keyword-
    only and never part of *detail*."""
    d = RouteDecision(operator, route, detail, context)
    _LOG.append(d)
    return d


def last(
    operator: str | None = None, context: str | None = None
) -> RouteDecision | None:
    """The most recent decision, optionally filtered to one *operator*
    (``"funnel"``, ``"containment"``, ``"salt_join"``, ``"lattice"``,
    ``"cold_fold"``) and/or one recorder *context*. None when no
    matching decision has been recorded."""
    for d in reversed(_LOG):
        if (operator is None or d.operator == operator) and (
            context is None or d.context == context
        ):
            return d
    return None


def log() -> tuple[RouteDecision, ...]:
    """The full (bounded) decision history, oldest first."""
    return tuple(_LOG)


def clear() -> None:
    """Reset the log (test isolation)."""
    _LOG.clear()
