"""``report`` workload: batch cube queries from ``gate/core.py``.

Each op is one registered core query: the call builds a fresh board and
returns its frame (build), then the frame is collected (exec). The memo and
the renderers do no work here, so a change to either must leave this
workload unchanged. The seed permutes the query order; every run uses the
same evenly spaced subset of the core queries, sized by --seconds.
"""

from __future__ import annotations

import random

import oracle

#: timed queries per second of --seconds
QUERIES_PER_SECOND = 1.6
#: warm-up queries per set-up, taken from the core queries not timed
WARMUP_QUERIES = 3


def core_queries() -> list[str]:
    from bacon_spark.gate import core  # noqa: F401 - registers the queries
    from bacon_spark.queries import QUERIES

    return [n for n, fn in QUERIES.items() if fn.__defaults__[0].__module__ == core.__name__]


def cleanup(spark) -> None:
    """Release the engine's managed persists and the session cache between
    queries, as bench.py does (without its temp-view sweep: listing the
    catalog runs a Spark job, and core queries register no memory sinks)."""
    from bacon_spark import release_caches

    release_caches()
    spark.catalog.clearCache()


class Report:
    name = "report"

    def __init__(self, data_dir: str, seed: int, seconds: int):
        names = core_queries()
        k = min(len(names), max(1, round(QUERIES_PER_SECOND * seconds)))
        picked = [names[i * len(names) // k] for i in range(k)]
        self.warmup = [n for n in names if n not in picked][:WARMUP_QUERIES]
        random.Random(f"perfbench-report-{seed}").shuffle(picked)
        self.names = picked
        self.n_ops = len(picked)
        self.data_dir = data_dir
        self.build_jobs = 0

    def setup(self, spark) -> None:
        from bacon_spark.queries import QUERIES

        self.spark = spark
        for n in self.warmup:
            QUERIES[n](spark, self.data_dir).collect()
            cleanup(spark)

    def reset(self, spark) -> None:
        self.build_jobs = 0

    def kind(self, i: int) -> str:
        return "op"

    def label(self, i: int) -> str:
        return self.names[i]

    def run_op(self, i: int, tracer=None):
        from bacon_spark.queries import QUERIES

        fn = QUERIES[self.names[i]]
        if tracer is None:
            df = fn(self.spark, self.data_dir)
            return df.columns, df.collect()
        from harness import store_jobs

        before = store_jobs(self.spark)
        with tracer.span("gate.build"):
            df = fn(self.spark, self.data_dir)
        self.build_jobs += store_jobs(self.spark) - before
        with tracer.span("gate.exec"):
            return df.columns, df.collect()

    def after_op(self, i: int) -> None:
        cleanup(self.spark)

    def check(self, spark, phase: dict) -> tuple[bool, list[str]]:
        """Each answered query must equal its DuckDB oracle."""
        from bacon_spark.queries import ORACLES

        con = oracle.connect(self.data_dir)
        problems = []
        try:
            for name, res in zip(self.names, phase["results"]):
                if isinstance(res, Exception):
                    continue
                cols, rows = res
                dcols, drows = oracle.query(con, ORACLES[name])
                if not oracle.same_rows(cols, [tuple(r) for r in rows], dcols, drows):
                    problems.append(f"{name}: differs from its DuckDB oracle")
        finally:
            con.close()
        return not problems, problems
