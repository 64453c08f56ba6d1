"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload nav --seed 1 --seconds 10 --trace 0

From the root of a source checkout: the program under test is the
``bacon_spark`` package beside this directory. Inputs are generated from
the seed into a run directory under the checkout, which is removed at exit.
The last line on stdout is ``{"correct", "attempted", "failed", "metrics"}``:
with ``--trace 0`` the end-to-end metrics of an untraced run, with
``--trace 1`` the per-layer metrics of a traced run. Exit code 0 only when
every output check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import harness  # noqa: E402

#: TPC-H scale factor of the generated tables (lineitem ~ 6e6 x SF rows)
SF = 0.005
#: set-ups per run; set-up time is their median
SETUPS = 3


def _workload(name: str, data_dir: str, seed: int, seconds: int):
    if name == "nav":
        from nav import Nav

        return Nav(data_dir, seed, seconds)
    if name == "report":
        from report import Report

        return Report(data_dir, seed, seconds)
    if name == "refresh":
        from refresh import Refresh

        return Refresh(data_dir, seed, seconds)
    raise SystemExit(f"unknown workload {name!r}")


def timed_phase(wl, spark, meter, tracer=None) -> dict:
    """Run every op of the workload back to back. Per op: kind, latency,
    failure, job group."""
    recs = []
    results = []
    steal0 = harness.steal_seconds()
    t_phase = time.perf_counter()
    for i in range(wl.n_ops):
        group = meter.begin()
        if tracer is not None:
            tracer.op = i
            store0 = harness.store_jobs(spark)
        t0 = time.perf_counter()
        try:
            res = wl.run_op(i, tracer)
            failed = False
        except Exception as e:  # noqa: BLE001 - a failed op is a result
            res, failed = e, True
        dt = time.perf_counter() - t0
        meter.end()
        rec = {"kind": wl.kind(i), "s": dt, "failed": failed, "group": group}
        if tracer is not None:
            rec["store_jobs"] = harness.store_jobs(spark) - store0
        recs.append(rec)
        results.append(res)
        wl.after_op(i)
    wall = time.perf_counter() - t_phase
    steal = harness.steal_seconds() - steal0
    return {"wall": wall, "steal": steal, "recs": recs, "results": results}


def end_to_end(phase: dict, setup_times: list[float], rss_mb: float) -> dict:
    ops = [r for r in phase["recs"] if r["kind"] == "op"]
    lat = harness.ranked_latencies([r["s"] for r in ops], [r["failed"] for r in ops])
    return {
        "setup_s": {"value": statistics.median(setup_times), "unit": "s"},
        "op_p50_s": {"value": harness.percentile(lat, 50), "unit": "s"},
        "op_p90_s": {"value": harness.percentile(lat, 90), "unit": "s"},
        "ops_per_s": {"value": len(ops) / phase["wall"], "unit": "1/s"},
        "peak_rss_mb": {"value": rss_mb, "unit": "MB"},
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("nav", "report", "refresh"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--trace-out", help="write spans and per-op records here (JSON)")
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(CHECKOUT, "bacon_spark", "__init__.py")):
        print(f"no bacon_spark package beside {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, CHECKOUT)

    # the JVM, py4j and worker tracebacks may write to fd 1: send it to
    # stderr for the whole run and restore it only for the result line
    real_stdout = os.dup(1)
    os.dup2(2, 1)
    run = harness.RunDir(CHECKOUT, args.workload)
    spark = None
    try:
        result, spark = _run(args, run)
    finally:
        if spark is not None:
            spark.stop()
        harness.stop_jvm()
        run.close()
        sys.stdout.flush()
        os.dup2(real_stdout, 1)
        os.close(real_stdout)
    print(json.dumps(result, separators=(",", ":")), flush=True)
    return 0 if result["correct"] else 1


def _run(args, run: harness.RunDir):
    import data

    data.write_tables(run.sub("data"), args.seed, SF)
    wl = _workload(args.workload, run.sub("data"), args.seed, args.seconds)
    cores = os.cpu_count() or 4

    setup_times = []
    spark = None
    for _ in range(SETUPS):
        t0 = time.perf_counter()
        spark = harness.new_session(run, cores)
        wl.setup(spark)
        setup_times.append(time.perf_counter() - t0)
    jpid = harness.jvm_pid(spark)
    meter = harness.JobMeter(spark)

    if args.trace:
        import layers

        # pass 1 is the untraced run's measurement; pass 2 is traced and
        # pass 3 untraced again, so the JVM's warming from pass to pass
        # averages out of the overhead ratio
        plain = timed_phase(wl, spark, meter)
        wl.reset(spark)
        metrics, trace_out = layers.traced_run(wl, spark, meter, jpid, plain, timed_phase)
        phase = trace_out["phase"]
    else:
        phase = timed_phase(wl, spark, meter)
        metrics = end_to_end(phase, setup_times, harness.peak_rss_mb(jpid))
        trace_out = None

    t_check = time.perf_counter()
    ok, problems = wl.check(spark, phase)
    print(
        f"perfbench timing: setups {[round(t, 2) for t in setup_times]}, "
        f"phase {phase['wall']:.2f} s (CPU steal {phase['steal']:.2f} s), "
        f"check {time.perf_counter() - t_check:.2f} s",
        file=sys.stderr,
    )
    for line in problems[:20]:
        print(f"perfbench check: {line}", file=sys.stderr)
    recs = [r for r in phase["recs"] if r["kind"] == "op"]
    result = {
        "correct": bool(ok),
        "attempted": len(recs),
        "failed": sum(r["failed"] for r in recs),
        "metrics": metrics,
    }
    if trace_out is not None and args.trace_out:
        with open(args.trace_out, "w") as f:
            json.dump(trace_out["records"], f)
    return result, spark


if __name__ == "__main__":
    sys.exit(main())
