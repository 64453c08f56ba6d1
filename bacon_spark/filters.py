"""Filter operators: compile (label, op, value) to Catalyst predicates.

Re-expression of the reference's op map
(/root/reference/bacon/cutting.py:776-870). The reference applies plain
Python operators to extracted record values, which gives NON-SQL null
semantics that we preserve exactly:

* ``eq None`` matches null rows (SQL ``= NULL`` never would) -> ``isNull()``.
* ``ne v`` PASSES null rows (Python ``None != v`` is True) ->
  ``isNull() | (col != v)``.
* ``in {None, ...}`` matches nulls; ``ni`` passes nulls unless None is in
  the set (/root/reference/bacon/cubedef.py:444-459).
* ``match`` never matches null (/root/reference/bacon/cutting.py:842-844);
  ``nmatch`` therefore PASSES null.
* set ops conflate null / empty array / "" elements via ``make_set``
  (/root/reference/bacon/cutting.py:788-796).
* ordered comparisons (gt/ge/lt/le) keep SQL semantics: the reference would
  raise TypeError comparing None, i.e. nulls never legitimately pass.

Everything compiles to built-in expressions (comparisons, ``isin``,
``rlike``, ``array_*``), so Catalyst pushes scalar predicates into the
Parquet scan and keeps set algebra inside whole-stage codegen.
"""

from __future__ import annotations

from functools import reduce
from operator import and_

from pyspark.sql import Column
from pyspark.sql import functions as F

from .errors import QueryError

__all__ = ["build_predicate", "combine_filters", "FILTER_OPS"]


def _clean_literal_set(value) -> list[str]:
    """The reference's make_set on the literal side: drop None and ''
    (/root/reference/bacon/cutting.py:788-796)."""
    if value is None:
        return []
    if isinstance(value, (set, frozenset, list, tuple)):
        return sorted({str(v) for v in value if v is not None and v != ""})
    return [str(value)] if value != "" else []


def _clean_col_set(c: Column) -> Column:
    """make_set on the column side: null -> [], drop null/'' elements,
    dedupe."""
    return F.array_distinct(
        F.filter(F.coalesce(c, F.array()), lambda x: x.isNotNull() & (x != F.lit("")))
    )


def _lit_array(items: list[str]) -> Column:
    return F.array(*[F.lit(i) for i in items]) if items else F.array().cast("array<string>")


# --- scalar ops -----------------------------------------------------------


def _eq(c, v):
    return c.isNull() if v is None else c == F.lit(v)


def _ne(c, v):
    # Python None != v is True -> nulls pass (see module docstring)
    return c.isNotNull() if v is None else c.isNull() | (c != F.lit(v))


def _in(c, v):
    vals = v if isinstance(v, (set, frozenset, list, tuple)) else {v}
    has_null = any(x is None for x in vals)
    rest = [x for x in vals if x is not None]
    pred = c.isin(rest) if rest else F.lit(False)
    return (c.isNull() | pred) if has_null else pred


def _ni(c, v):
    vals = v if isinstance(v, (set, frozenset, list, tuple)) else {v}
    has_null = any(x is None for x in vals)
    rest = [x for x in vals if x is not None]
    not_in_rest = ~c.isin(rest) if rest else F.lit(True)
    if has_null:
        return c.isNotNull() & not_in_rest
    # Python: None not in {...} is True -> nulls pass
    return c.isNull() | not_in_rest


def _match(c, v):
    return c.rlike(str(v))


def _nmatch(c, v):
    # not(ismatch): null never matches, so "not match" passes nulls
    return c.isNull() | ~c.rlike(str(v))


# --- set-algebra ops (array<string> columns) ------------------------------


def _hasall(c, v):
    s, b = _clean_col_set(c), _clean_literal_set(v)
    return F.size(F.array_except(_lit_array(b), s)) == 0


def _hasany(c, v):
    s, b = _clean_col_set(c), _clean_literal_set(v)
    return F.size(F.array_intersect(s, _lit_array(b))) > 0


def _hasnone(c, v):
    s, b = _clean_col_set(c), _clean_literal_set(v)
    return F.size(F.array_intersect(s, _lit_array(b))) == 0


def _hasonly(c, v):
    s, b = _clean_col_set(c), _clean_literal_set(v)
    return F.sort_array(s) == _lit_array(b)  # b already sorted/deduped


def _subsetof(c, v):
    s, b = _clean_col_set(c), _clean_literal_set(v)
    return F.size(F.array_except(s, _lit_array(b))) == 0


FILTER_OPS = {
    "eq": _eq,
    "ne": _ne,
    "gt": lambda c, v: c > F.lit(v),
    "ge": lambda c, v: c >= F.lit(v),
    "lt": lambda c, v: c < F.lit(v),
    "le": lambda c, v: c <= F.lit(v),
    "in": _in,
    "ni": _ni,
    "match": _match,
    "nmatch": _nmatch,
    "hasall": _hasall,
    "hasany": _hasany,
    "hasnone": _hasnone,
    "hasonly": _hasonly,
    "hasnotall": lambda c, v: ~_hasall(c, v),
    "subsetof": _subsetof,
    "notsubsetof": lambda c, v: ~_subsetof(c, v),
    "supersetof": _hasall,
    "notsupersetof": lambda c, v: ~_hasall(c, v),
    "disjointfrom": _hasnone,
    "intersects": _hasany,
    "equals": _hasonly,
    "notequals": lambda c, v: ~_hasonly(c, v),
}


# --- driver-side twins (the warm navigation path) ---------------------------
# Python evaluations of the ops above, over a single already-materialized
# axis VALUE — used by engine.CuttingBoard._serve_rows to drill cached rows and
# by the cold snapshot fold, without a Spark job. Each twin reproduces
# its Column form's null semantics exactly (SQL three-valued logic: a
# null compare filters the row out unless the op's reference semantics
# say otherwise). match/nmatch are deliberately ABSENT: rlike is
# Java-regex and a Python re twin could diverge on dialect corners, so
# those fall through to the Spark planner. The 13 set-algebra ops DO
# have twins (round 10 — the head-to-head showed the reference folding a
# q12-shaped set-filter query in-memory 12x faster than our Spark job
# floor): the make_set conflation is mirrored from _clean_col_set /
# _clean_literal_set verbatim (null cell -> empty set; null/'' elements
# dropped; elements stringified like the literal side), on the SetLabel
# contract that set-valued labels are array<string>. Twin-vs-Column
# equality is differential-fuzzed in tests/test_cold_fold.py.


def _py_vals(v):
    return v if isinstance(v, (set, frozenset, list, tuple)) else {v}


def _py_in(r, v):
    vals = _py_vals(v)
    rest = [x for x in vals if x is not None]
    has_null = len(rest) != len(list(vals))
    return (r is None and has_null) or (r is not None and r in rest)


def _py_ni(r, v):
    vals = _py_vals(v)
    rest = [x for x in vals if x is not None]
    has_null = len(rest) != len(list(vals))
    if has_null:
        return r is not None and r not in rest
    return r is None or r not in rest


def _py_clean_cell(r) -> frozenset:
    """make_set on a materialized CELL: the Python twin of _clean_col_set.
    null -> empty set; null/'' elements dropped; elements stringified the
    way _clean_literal_set stringifies the literal side (identity for the
    array<string> cells SetLabel produces).

    Guarded to the SetLabel contract (ADVICE r10): only None and the
    sequence shapes an array<string> cell materializes as are accepted.
    A scalar cell (e.g. a plain string label) raises TypeError — the
    driver-side fold then falls through to Spark, which rejects array_*
    on a non-array column, so both paths fail the same query instead of
    the twin silently evaluating hasany over a string's CHARACTERS."""
    if r is None:
        return frozenset()
    if not isinstance(r, (list, tuple, set, frozenset)):
        raise TypeError(
            f"set-algebra twin needs an array cell, got {type(r).__name__}"
        )
    # fast path (round 12): array<string> cells — the SetLabel contract —
    # build the set at C speed and subtract the dropped sentinels, only
    # falling back to the per-element stringify when a non-string element
    # actually appears. The fold calls this once per row, so the genexp +
    # str() per element was the measured hot spot of q12's 200k-row fold.
    # The fallback rebuilds from the ORIGINAL cell, not the deduped set
    # (ADVICE r12): frozenset conflates values equal pre-stringify but
    # distinct after (True vs 1 hash equal, yet str() keeps "True"/"1"
    # apart), and unhashable elements (nested arrays) must reach the
    # stringify path instead of dying in frozenset().
    try:
        s = frozenset(r)
    except TypeError:
        return frozenset(str(x) for x in r if x is not None and x != "")
    if None in s or "" in s:
        s = s.difference((None, ""))
    for x in s:
        if type(x) is not str:
            return frozenset(str(x) for x in r if x is not None and x != "")
    return s


def _py_hasall(r, v):
    return frozenset(_clean_literal_set(v)) <= _py_clean_cell(r)


def _py_hasany(r, v):
    return not frozenset(_clean_literal_set(v)).isdisjoint(_py_clean_cell(r))


def _py_hasnone(r, v):
    return frozenset(_clean_literal_set(v)).isdisjoint(_py_clean_cell(r))


def _py_hasonly(r, v):
    return _py_clean_cell(r) == frozenset(_clean_literal_set(v))


def _py_subsetof(r, v):
    return _py_clean_cell(r) <= frozenset(_clean_literal_set(v))


PY_FILTER_OPS = {
    "eq": lambda r, v: (r is None) if v is None else (r is not None and r == v),
    "ne": lambda r, v: (r is not None) if v is None else (r is None or r != v),
    "gt": lambda r, v: r is not None and v is not None and r > v,
    "ge": lambda r, v: r is not None and v is not None and r >= v,
    "lt": lambda r, v: r is not None and v is not None and r < v,
    "le": lambda r, v: r is not None and v is not None and r <= v,
    "in": _py_in,
    "ni": _py_ni,
    "hasall": _py_hasall,
    "hasany": _py_hasany,
    "hasnone": _py_hasnone,
    "hasonly": _py_hasonly,
    "hasnotall": lambda r, v: not _py_hasall(r, v),
    "subsetof": _py_subsetof,
    "notsubsetof": lambda r, v: not _py_subsetof(r, v),
    "supersetof": _py_hasall,
    "notsupersetof": lambda r, v: not _py_hasall(r, v),
    "disjointfrom": _py_hasnone,
    "intersects": _py_hasany,
    "equals": _py_hasonly,
    "notequals": lambda r, v: not _py_hasonly(r, v),
}


# (cell_set, literal_set) -> bool: the pre-bound forms compile_py_filter
# uses so the literal-side cleaning runs once per query, not per row
_PY_SET_OPS = {
    "hasall": lambda s, b: b <= s,
    "hasany": lambda s, b: not b.isdisjoint(s),
    "hasnone": lambda s, b: b.isdisjoint(s),
    "hasonly": lambda s, b: s == b,
    "hasnotall": lambda s, b: not b <= s,
    "subsetof": lambda s, b: s <= b,
    "notsubsetof": lambda s, b: not s <= b,
    "supersetof": lambda s, b: b <= s,
    "notsupersetof": lambda s, b: not b <= s,
    "disjointfrom": lambda s, b: b.isdisjoint(s),
    "intersects": lambda s, b: not b.isdisjoint(s),
    "equals": lambda s, b: s == b,
    "notequals": lambda s, b: s != b,
}


def compile_py_filter(op: str, v, dtype=None):
    """Pre-bound single-argument form of ``PY_FILTER_OPS[op](·, v)``.

    The engine's cold snapshot fold (engine.CuttingBoard._local_cold)
    evaluates a filter once per preloaded row; the generic twins normalize
    the membership/literal set PER CALL, which is O(|set|) per row.
    Binding here hoists that to once per query. Raises KeyError for ops
    without a Python twin (match/nmatch — Java-regex dialect) — callers
    fall through to Spark.

    *dtype* (the column's Spark DataType, when the caller knows it) makes
    the op-vs-column-type check compile-time: a set-algebra op on a
    non-array column raises KeyError here, so the query takes the Spark
    plan and gets Spark's AnalysisException — the same rejection the
    Column form gives — instead of relying on the per-row TypeError guard
    in :func:`_py_clean_cell`."""
    if dtype is not None and op in _PY_SET_OPS:
        from pyspark.sql.types import ArrayType

        if not isinstance(dtype, ArrayType):
            raise KeyError(op)
    if op == "in":
        vals = _py_vals(v)
        rest = frozenset(x for x in vals if x is not None)
        if any(x is None for x in vals):  # null in the filter set matches null
            return lambda r: r is None or r in rest
        return lambda r: r is not None and r in rest
    if op == "ni":
        vals = _py_vals(v)
        rest = frozenset(x for x in vals if x is not None)
        if any(x is None for x in vals):
            return lambda r: r is not None and r not in rest
        return lambda r: r is None or r not in rest
    if op == "eq":
        if v is None:
            return lambda r: r is None
        return lambda r: r is not None and r == v
    if op in _PY_SET_OPS:
        # hoist the literal-side make_set to once per query; the cell-side
        # conflation stays per row (it depends on the cell)
        b = frozenset(_clean_literal_set(v))
        base = _PY_SET_OPS[op]
        f = lambda r: base(_py_clean_cell(r), b)  # noqa: E731
        # expose the pieces so fuse_py_filters can share ONE cell clean
        # across several set filters on the same column
        f.set_base, f.set_lit = base, b
        return f
    fn = PY_FILTER_OPS[op]  # KeyError -> no Python twin
    return lambda r: fn(r, v)


def fuse_py_filters(pairs):
    """Fuse compiled set-algebra twins that target the SAME column into
    one predicate sharing a single ``_py_clean_cell`` per row (round 12:
    q12's three tag filters cleaned the same 200k cells three times —
    the dominant cost of the sf1 cold fold). *pairs* is ``[(col_idx,
    compiled_fn)]``; non-set filters and single set filters pass through
    unchanged, so semantics (ANDed, null handling, TypeError guard) are
    exactly the unfused composition's."""
    out, set_groups = [], {}
    for i, f in pairs:
        if getattr(f, "set_base", None) is None:
            out.append((i, f))
        else:
            set_groups.setdefault(i, []).append(f)
    for i, fns in set_groups.items():
        if len(fns) == 1:
            out.append((i, fns[0]))
            continue
        bl = tuple((f.set_base, f.set_lit) for f in fns)

        def fused(r, bl=bl):
            s = _py_clean_cell(r)
            for base, b in bl:
                if not base(s, b):
                    return False
            return True

        out.append((i, fused))
    return out


def build_predicate(col: Column, op: str, value) -> Column:
    try:
        fn = FILTER_OPS[op]
    except KeyError:
        raise QueryError(f"unknown operator: {op!r}")
    return fn(col, value)


def combine_filters(preds: list[Column]) -> Column | None:
    """All query filters are ANDed (/root/reference/bacon/cutting.py:873-913)."""
    if not preds:
        return None
    return reduce(and_, preds)
