"""Seeded navigation-stream generator for the ``nav`` workload.

Several user sessions take turns on one board. Each step is one request:
a URL-DSL query string plus a ``limit:offset`` page. The stream depends
only on the seed and on label value domains read from the generated
parquet files, never on anything the program returns, so the same seed
always gives the same requests.

The label names and hierarchies are those of the demo sales cube
(``sources/star.sales_cubedef``); the expand rule mirrors its navigator:
labels of one dimension may share the axes only along a hierarchy chain.
"""

from __future__ import annotations

import os
import random

PAGE = 10  # rows per rendered page
MAX_AXES = 3
MAX_FILTERS = 3
MAX_VALUES = 3
MAX_PAGE = 3  # pages a user flips through before turning back

#: label -> (dimension, parent label or None)
LABELS = {
    "order_year": ("date", None),
    "order_quarter": ("date", "order_year"),
    "order_month": ("date", "order_quarter"),
    "order_day": ("date", "order_month"),
    "order_week": ("date", "order_year"),
    "order_weekday": ("order_weekday", None),
    "region": ("region", None),
    "nation": ("region", "region"),
    "mktsegment": ("mktsegment", None),
    "returnflag": ("returnflag", None),
    "linestatus": ("linestatus", None),
    "orderpriority": ("orderpriority", None),
    "orderstatus": ("orderstatus", None),
    "brand": ("brand", None),
    "ptype": ("ptype", None),
}

#: labels over the order date; a step onto one is a peek (see _Session)
ORDER_DATE_LABELS = {n for n in LABELS if n.startswith("order_")}

#: labels a user can drill into (eq filter), with their value column
DOMAIN_COLUMNS = {
    "region": ("region", "r_name"),
    "nation": ("nation", "n_name"),
    "mktsegment": ("customer", "c_mktsegment"),
    "returnflag": ("lineitem", "l_returnflag"),
    "linestatus": ("lineitem", "l_linestatus"),
    "orderpriority": ("orders", "o_orderpriority"),
    "orderstatus": ("orders", "o_orderstatus"),
    "brand": ("part", "p_brand"),
    "ptype": ("part", "p_type"),
}

START_AXES = ("region", "returnflag", "mktsegment", "orderpriority", "ptype")
MEASURES = (
    "revenue",
    "quantity",
    "extendedprice",
    "charge",
    "n_items",
    "avg_quantity",
    "min_price",
    "max_price",
    "discount_rate",
    "n_parts",
)

#: step kind -> weight; most steps revisit a page the session has seen
ACTIONS = {
    "back": 28,
    "page": 24,
    "repeat": 31,
    "drill": 5,
    "expand": 4,
    "collapse": 4,
    "invert": 1,
    "drop_filter": 1,
    "add_measure": 2,
}

#: expand picks a date label with this weight, any other label with 3
DATE_EXPAND_WEIGHT = 1


def read_domains(data_dir: str) -> dict[str, list[str]]:
    """Distinct values of every drillable label, read from the parquet
    files (plus the order years), sorted for determinism."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    out = {}
    for label, (table, col) in DOMAIN_COLUMNS.items():
        arr = pq.read_table(os.path.join(data_dir, f"{table}.parquet"), columns=[col])[col]
        out[label] = sorted(str(v) for v in pc.unique(arr).to_pylist() if v is not None)
    dates = pq.read_table(os.path.join(data_dir, "orders.parquet"), columns=["o_orderdate"])
    years = pc.unique(pc.year(dates["o_orderdate"])).to_pylist()
    out["order_year"] = sorted(str(y) for y in years if y is not None)
    return out


def _ancestors(label: str) -> set[str]:
    out = set()
    p = LABELS[label][1]
    while p is not None:
        out.add(p)
        p = LABELS[p][1]
    return out


def _chain(label: str) -> set[str]:
    """Ancestors and descendants of *label*."""
    return _ancestors(label) | {n for n in LABELS if label in _ancestors(n)}


def can_expand(axes: list[str], label: str) -> bool:
    if label in axes:
        return False
    dim = LABELS[label][0]
    return all(label in _chain(a) for a in axes if LABELS[a][0] == dim)


class _Session:
    def __init__(self, rng: random.Random, values: random.Random, domains: dict):
        self.rng = rng  # structure: step kinds, labels, measures
        self.values_rng = values  # the seed's part: which value a drill picks
        self.domains = domains
        self.axes = [rng.choice(START_AXES)]
        self.filters: list[tuple[str, str, str]] = []
        self.values = ["revenue"]
        self.offset = 0
        self.history: list[tuple] = []
        # a step onto a date label is a peek: the user's next step is back
        self.peek = False

    def state(self):
        return (tuple(self.axes), tuple(self.filters), tuple(self.values), self.offset)

    def restore(self, st) -> None:
        axes, filters, values, offset = st
        self.axes, self.filters, self.values, self.offset = (
            list(axes), list(filters), list(values), offset,
        )

    def url(self) -> str:
        parts = []
        for name, op, value in self.filters:
            parts.append(f"f:{name}:{value}" if op == "eq" else f"f:{name}:{op}:{value}")
        parts += [f"a:{a}" for a in self.axes]
        parts += [f"v:{v}" for v in self.values]
        return "/".join(parts)

    def page(self) -> str:
        return f"{PAGE}:{self.offset}"

    # returns False when the step does not apply to the current state
    def step(self, kind: str) -> bool:
        rng = self.rng
        if kind == "back":
            if not self.history:
                return False
            self.restore(self.history.pop())
            return True
        if kind == "repeat":  # reload: the same request again
            return True
        before = self.state()
        if kind == "page":
            if self.offset >= PAGE * (MAX_PAGE - 1):
                return False
            self.offset += PAGE
        elif kind == "drill":
            cands = [a for a in self.axes if a in self.domains]
            if not cands or len(self.filters) >= MAX_FILTERS:
                return False
            axis = rng.choice(cands)
            self.filters.append((axis, "eq", self.values_rng.choice(self.domains[axis])))
            self.peek = axis in ORDER_DATE_LABELS
            self.axes.remove(axis)
            if not self.axes:
                self._expand_any()
            self.offset = 0
        elif kind == "expand":
            if len(self.axes) >= MAX_AXES or not self._expand_any():
                return False
            self.offset = 0
        elif kind == "collapse":
            if len(self.axes) < 2:
                return False
            self.axes.remove(rng.choice(self.axes))
            self.offset = 0
        elif kind == "invert":
            if not self.filters:
                return False
            i = rng.randrange(len(self.filters))
            name, op, value = self.filters[i]
            self.filters[i] = (name, "ne" if op == "eq" else "eq", value)
            self.offset = 0
        elif kind == "drop_filter":
            if not self.filters:
                return False
            self.filters.pop(rng.randrange(len(self.filters)))
            self.offset = 0
        elif kind == "add_measure":
            left = [m for m in MEASURES if m not in self.values]
            if len(self.values) >= MAX_VALUES or not left:
                return False
            self.values.append(rng.choice(left))
        self.history.append(before)
        return True

    def _expand_any(self) -> bool:
        filtered = {f[0] for f in self.filters}
        cands = [n for n in LABELS if n not in filtered and can_expand(self.axes, n)]
        if not cands:
            return False
        weights = [DATE_EXPAND_WEIGHT if n in ORDER_DATE_LABELS else 3 for n in cands]
        label = self.rng.choices(cands, weights)[0]
        self.axes.append(label)
        self.peek = label in ORDER_DATE_LABELS
        return True


def generate(seed: int, domains: dict[str, list[str]], n_ops: int, users: int = 3) -> list[dict]:
    """*n_ops* requests: ``{"user", "step", "q", "page"}`` in send order.

    Users take turns round robin; each opens on its start query. The
    walk's structure (step kinds, labels expanded, collapsed or drilled,
    measures added) comes from a fixed generator, and the seed picks the
    value every drill filters on. So streams of different seeds ask
    different questions of the same shape, and the run's cost, which the
    shape sets, varies little from seed to seed. Step kinds follow the
    weights of ACTIONS exactly: a session takes the first remaining kind
    of a shuffled plan that applies to it."""
    rng = random.Random("perfbench-nav-structure")
    values = random.Random(f"perfbench-nav-{seed}")
    sessions = [
        _Session(random.Random(rng.random()), random.Random(values.random()), domains)
        for _ in range(users)
    ]
    out = [{"user": u, "step": "start", "q": s.url(), "page": s.page()} for u, s in enumerate(sessions)]
    steps = max(0, n_ops - users)
    total = sum(ACTIONS.values())
    plan = [k for k, w in ACTIONS.items() for _ in range(round(steps * w / total))]
    rng.shuffle(plan)
    for i in range(steps):
        u = i % users
        s = sessions[u]
        if s.peek:
            s.peek = False
            s.step("back")
            kind = "back"
            if kind in plan:
                plan.remove(kind)
        else:
            kind = next((k for k in plan if s.step(k)), "repeat")
            if kind in plan:
                plan.remove(kind)
        out.append({"user": u, "step": kind, "q": s.url(), "page": s.page()})
    return out[:n_ops]
