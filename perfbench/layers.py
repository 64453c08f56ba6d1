"""The traced run: wrap each layer's public entry points, run the ops
again, and reduce spans and job counts to the per-layer metrics.

Layers and their entry points (all wrapped from here, none edited):

- url: ``UrlQueryBuilder.parse`` / ``.unparse``
- engine: ``CuttingBoard.slice`` (self time: route choice and driver
  folds), ``Slice.collect``, ``CuttingBoard.refresh``, and the route
  records passed to ``operators.decisions.record``
- star: ``sources.star.fact_for_cube``
- observers: ``Table1D.__init__`` and ``render_table_json`` /
  ``render_nav_json`` as the controller calls them (self times)
- gate: the query call until its frame is returned, then forcing it
  (spans opened by the report workload itself)
- spark: jobs, stages and tasks per op from the status tracker
"""

from __future__ import annotations

import statistics
import time

import harness
from spans import Tracer, self_times, total_times

ROUTES = ("exact", "derived", "local_cold", "lattice", "spark")


def install(tracer: Tracer, route_log: list) -> None:
    from bacon_spark import engine
    from bacon_spark.builders import url
    from bacon_spark.observers import controller, tables
    from bacon_spark.operators import decisions
    from bacon_spark.sources import star

    tracer.wrap(url.UrlQueryBuilder, "parse", "url.parse")
    tracer.wrap(url.UrlQueryBuilder, "unparse", "url.unparse")
    tracer.wrap(engine.CuttingBoard, "slice", "engine.slice")
    tracer.wrap(engine.CuttingBoard, "refresh", "engine.refresh")
    tracer.wrap(engine.Slice, "collect", "engine.collect")
    tracer.wrap(star, "fact_for_cube", "star.fact_for_cube")
    tracer.wrap(tables.Table1D, "__init__", "observers.table")
    tracer.wrap(controller, "render_table_json", "observers.render_table")
    tracer.wrap(controller, "render_nav_json", "observers.render_nav")

    record = decisions.record

    def logged(operator, route, *, context=None, **detail):
        d = record(operator, route, context=context, **detail)
        route_log.append(d)
        return d

    tracer.patch(decisions, "record", logged)


def route_counts(route_log: list) -> dict[str, int]:
    out = dict.fromkeys(ROUTES, 0)
    for d in route_log:
        if d.operator == "cold_fold" and d.route == "local_warm":
            out["exact" if d.detail.get("kind") == "exact_repeat" else "derived"] += 1
        elif d.operator == "cold_fold" and d.route in ("local_cold", "spark"):
            out[d.route] += 1
        elif d.operator == "lattice" and d.route == "serve":
            out["lattice"] += 1
    return out


def _median_or_zero(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def traced_run(wl, spark, meter, jpid: int, plain: dict, timed_phase) -> tuple[dict, dict]:
    tracer = Tracer()
    route_log: list = []
    install(tracer, route_log)
    cpu0, jcpu0 = time.process_time(), harness.cpu_seconds(jpid)
    try:
        phase = timed_phase(wl, spark, meter, tracer)
    finally:
        tracer.unwrap_all()
    cpu1, jcpu1 = time.process_time(), harness.cpu_seconds(jpid)
    build_jobs = wl.build_jobs
    wl.reset(spark)
    again = timed_phase(wl, spark, meter)

    per_op = []
    for r in phase["recs"]:
        c = meter.counts(r["group"])
        per_op.append({**r, **c})
    ops = [r for r in per_op if r["kind"] == "op"]
    writes = [r for r in per_op if r["kind"] == "write"]
    grouped = sum(r["jobs"] for r in per_op)
    selfs = self_times(tracer.spans)
    totals = total_times(tracer.spans)
    routes = route_counts(route_log)

    plain_ops = [r for r in plain["recs"] if r["kind"] == "op"]
    plain_writes = [r for r in plain["recs"] if r["kind"] == "write"]

    m = {
        "url.parse_s": (totals.get("url.parse", 0.0), "s"),
        "url.unparse_s": (totals.get("url.unparse", 0.0), "s"),
        "url.unparse_calls": (tracer.calls.get("url.unparse", 0), "count"),
        "engine.slice_s": (selfs.get("engine.slice", 0.0), "s"),
        "engine.collect_s": (totals.get("engine.collect", 0.0), "s"),
        "engine.zero_job_ratio": (
            sum(1 for r in ops if r["jobs"] == 0 and not r["failed"]) / len(ops), "ratio"
        ),
        **{f"engine.route.{k}": (v, "count") for k, v in routes.items()},
        "engine.refresh_s": (totals.get("engine.refresh", 0.0), "s"),
        "engine.refresh_jobs": (sum(r["jobs"] for r in writes), "count"),
        "star.fact_for_cube_s": (totals.get("star.fact_for_cube", 0.0), "s"),
        "observers.table_s": (selfs.get("observers.table", 0.0), "s"),
        "observers.render_s": (
            selfs.get("observers.render_table", 0.0) + selfs.get("observers.render_nav", 0.0),
            "s",
        ),
        "gate.build_s": (totals.get("gate.build", 0.0), "s"),
        "gate.exec_s": (totals.get("gate.exec", 0.0), "s"),
        "spark.build_jobs": (build_jobs, "count"),
        "spark.jobs": (grouped, "count"),
        "spark.stages": (sum(r["stages"] for r in per_op), "count"),
        "spark.tasks": (sum(r["tasks"] for r in per_op), "count"),
        "spark.failed_tasks": (sum(r["failed_tasks"] for r in per_op), "count"),
        "spark.ungrouped_jobs": (sum(r["store_jobs"] for r in per_op) - grouped, "count"),
        "driver.cpu_s": (cpu1 - cpu0, "s"),
        "jvm.cpu_s": (jcpu1 - jcpu0, "s"),
        "trace.overhead_ratio": (2 * phase["wall"] / (plain["wall"] + again["wall"]), "ratio"),
        # end-to-end figures that exist only on some workloads, from the
        # untraced pass of this run
        "write_p50_s": (_median_or_zero([r["s"] for r in plain_writes]), "s"),
        "ok_1s_ratio": (
            sum(1 for r in plain_ops if not r["failed"] and r["s"] <= 1.0) / len(plain_ops),
            "ratio",
        ),
        "error_ratio": (sum(r["failed"] for r in plain_ops) / len(plain_ops), "ratio"),
    }
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in m.items()}
    records = {
        "workload": wl.name,
        "ops": [
            {k: r[k] for k in ("kind", "s", "failed", "jobs", "stages", "tasks", "store_jobs")}
            | {"label": wl.label(i)}
            for i, r in enumerate(per_op)
        ],
        "spans": tracer.spans,
        "routes": routes,
    }
    return metrics, {"phase": phase, "records": records}
