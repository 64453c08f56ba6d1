"""``nav`` workload: interactive cube navigation on the demo sales board.

Construction follows ``demo.build_app``: a ``StarCuttingBoard`` over
``sales_cubedef`` behind a ``Controller`` with a date-range and a region
widget. One request is a paged ``render_json`` plus ``render_nav`` for one
URL from the seeded stream (navgen.py). Requests run back to back from a
single client thread, several user sessions taking turns.
"""

from __future__ import annotations

import math
from concurrent.futures import ThreadPoolExecutor

import navgen

#: requests per second of --seconds (the stream is sized, not time-boxed,
#: so a run repeats exactly for one seed)
OPS_PER_SECOND = 8
#: warm-up requests (a separate seed's stream) run inside set-up
WARMUP_OPS = 2


def _controller(spark, data_dir: str, cache_results: bool = True):
    from bacon_spark.observers.controller import Controller
    from bacon_spark.observers.widgets import DatesRangeWidget, StringFilterWidget
    from bacon_spark.sources.star import StarCuttingBoard, sales_cubedef

    board = StarCuttingBoard(sales_cubedef(), spark, data_dir, cache_results=cache_results)
    # demo.build_app passes DatesRangeWidget("Order date", "day"), a label
    # the sales cube does not define, so every render_nav there raises
    # QueryError; the cube's day label is "order_day"
    widgets = [DatesRangeWidget("Order date", "order_day"), StringFilterWidget("Region", "region")]
    return Controller(board, widgets=widgets)


def request(controller, op: dict) -> dict:
    params = {"q": op["q"], "page": op["page"]}
    table = controller.render_json(params)
    controller.render_nav({"q": op["q"]})
    return table


class Nav:
    name = "nav"
    build_jobs = 0

    def __init__(self, data_dir: str, seed: int, seconds: int):
        self.data_dir = data_dir
        domains = navgen.read_domains(data_dir)
        self.ops = navgen.generate(seed, domains, max(100, OPS_PER_SECOND * seconds))
        self.warmup = navgen.generate(seed + 1_000_003, domains, WARMUP_OPS)
        self.n_ops = len(self.ops)

    def setup(self, spark) -> None:
        self.controller = _controller(spark, self.data_dir)
        for op in self.warmup:
            try:
                request(self.controller, op)
            except Exception:  # noqa: BLE001 - warm-up only primes the JVM
                pass
        self.controller.board.clear_cache()

    def reset(self, spark) -> None:
        spark.catalog.clearCache()  # the last pass's persisted slices
        self.setup(spark)

    def kind(self, i: int) -> str:
        return "op"

    def label(self, i: int) -> str:
        op = self.ops[i]
        return f"{op['user']}:{op['step']}:{op['q']}@{op['page']}"

    def run_op(self, i: int, tracer=None) -> dict:
        return request(self.controller, self.ops[i])

    def after_op(self, i: int) -> None:
        pass

    def check(self, spark, phase: dict) -> tuple[bool, list[str]]:
        """Every answered request must render as on a board without result
        caching or join culling. Failed requests are counted by the caller
        as failures, not as wrong outputs."""
        from bacon_spark.engine import CuttingBoard
        from bacon_spark.observers.controller import Controller
        from bacon_spark.sources.star import sales_cubedef, sales_fact

        ref = Controller(
            CuttingBoard(sales_cubedef(), sales_fact(spark, self.data_dir), cache_results=False)
        )
        answered = {}
        for op, res in zip(self.ops, phase["results"]):
            if not isinstance(res, Exception):
                answered.setdefault((op["q"], op["page"]), res)
        queries = sorted({q for q, _ in answered})
        with ThreadPoolExecutor(8) as pool:
            full = dict(zip(queries, pool.map(lambda q: _resolve(ref.render_json({"q": q})), queries)))
        problems = []
        for (q, page), got in answered.items():
            limit, offset = (int(x) for x in page.split(":")[:2])
            want = dict(full[q])
            want["rows"] = want["rows"][offset : offset + limit]
            if not same(_resolve(got), want):
                problems.append(f"{q} @ {page}: differs from the uncached board")
        return not problems, problems


def _resolve(table: dict) -> dict:
    """The rendered table with link indices replaced by the link URLs, so a
    page compares equal to the same rows of an unpaged render."""
    links = table.get("links", [])
    rows = []
    for r in table["rows"]:
        cells = [{**c, "drill": links[c["drill"]]} if "drill" in c else c for c in r["cells"]]
        row = {**r, "cells": cells}
        if "detail" in r:
            row["detail"] = links[r["detail"]]
        rows.append(row)
    return {**{k: v for k, v in table.items() if k != "links"}, "rows": rows}


def same(a, b, rel: float = 1e-9) -> bool:
    """Deep equality with a relative tolerance on floats (sums folded in a
    different order differ in the last digits)."""
    if isinstance(a, float) or isinstance(b, float):
        if not isinstance(a, (int, float)) or not isinstance(b, (int, float)):
            return False
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return math.isclose(a, b, rel_tol=rel, abs_tol=1e-12)
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(same(a[k], b[k], rel) for k in a)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(same(x, y, rel) for x, y in zip(a, b))
    return a == b
