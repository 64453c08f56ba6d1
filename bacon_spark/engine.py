"""Execution engine: CubeQuery -> DataFrame plan -> Slice.

Spark-first replacement for the reference's CuttingBoard
(/root/reference/bacon/cutting.py): where the reference streams Python
records through exec-compiled closures into a hash-agg dict
(/root/reference/bacon/cutting.py:87-116,696-749), we declare
``df.filter(...).groupBy(axes).agg(values).orderBy(...)`` and let Catalyst
and Tungsten own predicate pushdown, column pruning, partial aggregation,
whole-stage codegen, shuffle and spill.

The reference's cross-query slice cache (exact reuse, drill-down and
roll-up from earlier results, /root/reference/bacon/cutting.py:235-522)
is ONE engine-level LRU of ``CACHE_SIZE`` entries keyed by the query's
exact output signature. An entry holds the persisted result frame of a
Spark-planned slice, the collected rows of any slice, or both. ONE rule,
``CuttingBoard._derive``, decides whether an earlier result answers a
new query: the query's values and axes are subsets of the parent's, the
parent's filters are a subset of the query's, and every added filter
names a parent axis (filtering finished rows by a group-key value is
filtering the input by that label). Dropping an axis re-aggregates only
when no ``eq`` filter pins it; re-aggregation merges partial states (the
accumulators' partial/final contract), so it needs every value to have
one and the store to hold it. The projection needs nothing.

A cached result keeps each value's partial state. ``Sum``, ``Count``,
``Min`` and ``Max`` are their own partial, so an entry of those holds
just the finished rows. ``Average`` and ``RatioSum`` keep theirs in
hidden columns after the values: on the persisted frame, and in the
entry's ``parts`` beside its rows. No hidden column reaches a caller:
``Slice.collect`` splits them off once, and an exact hit returns the
stored finished rows as they are.

The same rule serves three stores:

* entries holding rows — answered driver-side with ZERO Spark jobs
  (``PY_FILTER_OPS`` twins, the partial components' ``py_merge`` and the
  accumulators' ``py_finish``): the reference's in-memory slice walk at
  its native cost (fuzz-verified against cold recomputes in
  tests/test_engine.py and tests/test_partial_merge.py);
* entries holding only a frame — answered on the persisted frame
  (``FILTER_OPS``, ``merge`` and ``finish``), never re-scanning the base
  table;
* registered lattice grains (operators/lattice.py). They hold finished
  values only, so they re-aggregate only ``reaggregatable`` values.

Matches are ranked rows before frames, then projection before
re-aggregation. A first hit on a small board may instead fold the eager
snapshot driver-side (``_local_cold``); its result, partial states
included, lands in the same LRU.

``refresh`` keeps the LRU current: one Spark job extracts the delta's
label values and measure inputs (``_extract``), and each entry holding
the partial state of every value merges the delta's partial states
(``_fold``) into its rows in Python. Every kept entry then holds rows, so
re-reads after a refresh launch no job. Entries with a value that keeps
no partial state (``StdDev``, ``Group``, ``CountDistinct``, sketches...)
are evicted.

Scale note (100 TB): cube *results* are small (bounded by group count) even
when inputs are huge, so persisting results is cheap; the wins come from
never re-scanning the fact table for drill/roll-up navigation sequences,
which is precisely the reference's design intent.
"""

from __future__ import annotations

import functools
import itertools
import threading
from collections import OrderedDict
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType
from pyspark.storagelevel import StorageLevel

from .cubedef import CubeDef
from .cubequery import CubeQuery
from .errors import QueryError
from .operators import decisions
from .filters import (
    FILTER_OPS,
    PY_FILTER_OPS,
    build_predicate,
    combine_filters,
    compile_py_filter,
    fuse_py_filters,
)

__all__ = ["CuttingBoard", "Slice", "keyset_page"]


def keyset_page(df: DataFrame, keys: list[str], after: tuple | None, limit: int) -> DataFrame:
    """Keyset (seek) pagination: the next *limit* rows strictly after the
    composite key *after* in lexicographic (ascending) key order.

    The scale-correct replacement for OFFSET paging (reference pagination,
    /root/reference/bacon/observers/tables.py:16-130, /root/reference/bacon/
    sql.py:100-108): OFFSET n scans and discards n rows on every page — cost
    grows linearly as a user pages through 100 TB — while the seek predicate
    ``(k1, k2) > (a1, a2)`` is sargable, so Catalyst pushes it to the scan
    (parquet min/max skipping; partition pruning when data is laid out by
    the key) and each page costs the same. Keys must uniquely identify rows
    (add a tiebreaker column if not) and be non-null."""
    if after is not None:
        if len(after) != len(keys):
            raise QueryError(f"after-key arity {len(after)} != key arity {len(keys)}")
        # (k1 > a1) OR (k1 = a1 AND k2 > a2) OR ... — each disjunct sargable
        pred = None
        for i in range(len(keys)):
            term = F.col(keys[i]) > F.lit(after[i])
            for j in range(i):
                term = (F.col(keys[j]) == F.lit(after[j])) & term
            pred = term if pred is None else pred | term
        df = df.filter(pred)
    return df.orderBy(*[F.col(k).asc() for k in keys]).limit(limit)


def _freeze_value(v):
    if isinstance(v, (set, frozenset)):
        return frozenset(v)
    if isinstance(v, list):
        return tuple(v)
    return v


def _frozen_filters(filters) -> frozenset:
    return frozenset((n, op, _freeze_value(v)) for n, op, v in filters)


def _memo_key(query: CubeQuery):
    """The slice cache's one key: the query's exact output signature."""
    return (query.axes, _frozen_filters(query.filters), query.values, query.order)


def _as_rows(schema, out: list[dict]) -> list[Row]:
    """*out*'s row dicts as Rows in *schema*'s column order."""
    mk = Row(*schema.names)
    return [mk(*(d[c] for c in schema.names)) for d in out]


def _flat(hidden: dict) -> list[str]:
    """The hidden partial-state column names of ``_partial_cols``, in order."""
    return [c for cols in hidden.values() for c in cols]


def _parts_of(hidden: dict, out: list[dict]) -> list | None:
    """The *hidden* partial-state columns of row dicts *out*, one tuple per
    row; None when there are none."""
    cols = _flat(hidden)
    return [tuple(d[c] for c in cols) for d in out] if cols else None


class _Entry(NamedTuple):
    """One slice-cache entry. *frame* is the persisted result of a
    Spark-planned slice (None otherwise), with the hidden partial-state
    columns after the values; *schema*/*rows* are the collected result
    (None until collected) and *parts* those rows' partial states, one
    tuple of hidden columns per row. *parts* is None when no value needs
    one, or when the rows came from finished values only (a lattice
    grain)."""

    query: CubeQuery
    frame: DataFrame | None
    schema: object
    rows: list | None
    parts: list | None

    @property
    def partial(self) -> bool:
        """Does the entry hold its hidden partial states? A frame always
        does. For a query without hidden columns the answer does not
        matter: every value is its own partial or has none."""
        return self.rows is None or self.parts is not None


class _Snapshot(NamedTuple):
    """Label values and measure inputs collected from a frame into Python
    (``CuttingBoard._extract``). *rows* are tuples laid out by
    *idx* (column name -> position); *fields* are the extracted columns'
    StructFields, *minputs* each py-foldable measure's input columns and
    *ftypes* its finished-value StructField."""

    rows: list
    idx: dict
    fields: dict
    minputs: dict
    ftypes: dict


class CuttingBoard:
    """Answers CubeQuery objects over a DataFrame, with result caching.

    Reference CuttingBoard (/root/reference/bacon/cutting.py:37-179). The
    dataset here is any DataFrame — a parquet scan, a star-schema join view
    (sources/star.py), or a streaming source.
    """

    CACHE_SIZE = 20  # reference cap (/root/reference/bacon/cutting.py:183)

    def __init__(
        self,
        cubedef: CubeDef,
        df: DataFrame,
        cache_results: bool = True,
        snapshot_cache: bool = False,
        eager_snapshot_rows: int | None = None,
    ):
        self.cubedef = cubedef
        self.df = df
        self.cache_results = cache_results
        # snapshot_cache pins cached slices via localCheckpoint instead of
        # persist: a persisted plan that reads a path is INVALIDATED (and
        # silently recomputed over the new file listing) whenever anything
        # writes to that path (Spark refreshByPath) — fatal for incremental
        # maintenance, where the delta lands in the very path the base
        # reads. A localCheckpoint truncates the plan to the computed rows,
        # immune to source churn. Default off: for plain batch boards,
        # recompute-on-invalidation is the CORRECT freshness behavior.
        self.snapshot_cache = snapshot_cache
        # the slice cache: _memo_key -> _Entry, LRU with promote-on-hit
        # like the reference deque rotation
        # (/root/reference/bacon/cutting.py:181-202)
        self._cache: OrderedDict = OrderedDict()
        # bumped by every refresh: a slice planned at an older generation
        # describes pre-refresh data, and the cache drops what it stores
        self._generation = 0
        self.local_hits = 0  # diagnostics: queries answered without a job
        # decisions-log scope for THIS board (operators/decisions.py):
        # concurrent boards interleave in the process-global log, so the
        # board's plan records carry its context and harnesses filter
        # with decisions.last(op, context=board.decisions_context)
        self.decisions_context = f"{cubedef.title or 'board'}@{id(self):x}"
        self._lattices: list = []  # registered CubeLattice materializations
        self._lock = threading.RLock()
        # COLD small-table path: when eager_snapshot_rows is set on a
        # caching board and the table fits under it, label values and
        # measure inputs are extracted Spark-side ONCE (construction-time,
        # like the reference's preloaded dataset, /root/reference/bacon/
        # cutting.py:122-135) and FIRST-hit aggregations fold them
        # driver-side via the accumulators' ``py_agg`` twins — closing
        # Spark's job-launch floor on cold slices of small tables and of
        # the star board's full view (sources/star.py). Bounded by
        # construction: a table over the cap disables the path (one capped
        # probe, never an unbounded collect), so at 100 TB only genuinely
        # small cubes qualify. Logged as a ``snapshot`` decision.
        self._snap_cap = eager_snapshot_rows
        self._snap = None
        if eager_snapshot_rows and cache_results:
            self._snap = self._extract(df, eager_snapshot_rows)
            built = self._snap is not None
            decisions.record(
                "snapshot",
                "built" if built else "over_cap",
                context=self.decisions_context,
                # over the cap, the probe stops at cap + 1 rows
                rows=len(self._snap.rows) if built else eager_snapshot_rows + 1,
                cap=eager_snapshot_rows,
            )

    def register_lattice(self, lattice) -> None:
        """Register a precomputed CubeLattice (operators/lattice.py) as a
        materialized view: any unfiltered query whose axes/values it covers
        is answered by a grouping_id lookup instead of a base-table scan —
        the engine-planner form of the reference's roll-up reuse
        (/root/reference/bacon/cutting.py:336-522), but exact for every
        accumulator because the lattice stores finished values per grain."""
        self._lattices.append(lattice)

    #: per-entry bound on memoized rows (a slice bigger than this is not a
    #: navigation result; holding it driver-side would be the render-path
    #: collect problem this layer exists to avoid)
    MEMO_MAX_ROWS = 100_000

    # --- public API -------------------------------------------------------
    def slice(self, query: CubeQuery) -> Slice:
        gen = self._generation
        hits = self._matches(query) if self.cache_results else []
        for entry, added, reagg in hits:
            if entry.rows is not None:
                made = self._serve_rows(query, entry, added, reagg, gen)
                if made is not None:
                    return made
        made = self._local_cold(query, gen)
        if made is not None:
            return made
        # no driver-side form answers exactly: this query takes a Spark
        # plan, over a cached frame, a lattice grain or the base table
        df, served_from = self._plan(query, hits, gen)
        decisions.record(
            "cold_fold",
            "spark",
            context=self.decisions_context,
            served_from=served_from,
            axes=query.axes,
            values=query.values,
        )
        if not self.cache_results:
            return Slice(self.cubedef, query, df)
        # a lattice grain holds finished values only; every other plan of
        # a caching board carries the hidden partial-state columns, which
        # the caller's frame leaves out and collect() splits off
        if served_from == "lattice" or not self._partial_cols(query.values):
            return Slice(self.cubedef, query, df, board=self, gen=gen)
        return Slice(
            self.cubedef,
            query,
            df.select(*query.axes, *query.values),
            board=self,
            gen=gen,
            full=df,
        )

    def rows(self, query: CubeQuery, limit: int | None = None, offset: int = 0) -> DataFrame:
        """Raw-rows sink: unaggregated filtered records with paging
        (reference RowsProxy/TableDetails.rows,
        /root/reference/bacon/sql.py:340-370)."""
        df = self.df
        pred = self._predicate(query)
        if pred is not None:
            df = df.filter(pred)
        if offset:
            df = df.offset(offset)
        if limit is not None:
            df = df.limit(limit)
        return df

    def rows_keyset(
        self, query: CubeQuery, keys: list[str], after: tuple | None, limit: int
    ) -> DataFrame:
        """Keyset-paged raw rows: filtered records after the composite key
        *after*, in key order (see ``keyset_page``). The scale path the
        reference's offset paging cannot take."""
        df = self.df
        pred = self._predicate(query)
        if pred is not None:
            df = df.filter(pred)
        return keyset_page(df, keys, after, limit)

    def clear_cache(self) -> None:
        with self._lock:
            for entry in self._cache.values():
                if entry.frame is not None:
                    entry.frame.unpersist()
            self._cache.clear()

    # --- the slice cache ---------------------------------------------------
    def _store(self, query: CubeQuery, frame=None, schema=None, rows=None, parts=None, gen=None):
        """Insert or update *query*'s entry as most recently used and
        return the frame it holds. A frame the entry already holds is
        kept: a concurrent slice of the same query may be collecting it,
        and a collect under unpersist can return no rows. A new frame
        with the same plan shares the held one's Spark cache entry, so
        only a different plan is unpersisted. Missing rows keep the
        entry's rows and *parts*. Evicted frames are unpersisted.

        A result planned at generation *gen* older than the board's
        misses a refresh's delta and is not stored; its frame is
        unpersisted and returned, and still answers from its lineage."""
        key = _memo_key(query)
        with self._lock:
            if gen is not None and gen != self._generation:
                if frame is not None:
                    frame.unpersist()
                return frame
            old = self._cache.get(key)
            if old is not None:
                if old.frame is not None:
                    if frame is not None and not frame.sameSemantics(old.frame):
                        frame.unpersist()
                    frame = old.frame
                if rows is None:
                    schema, rows, parts = old.schema, old.rows, old.parts
            self._cache[key] = _Entry(query, frame, schema, rows, parts)
            self._cache.move_to_end(key)
            while len(self._cache) > self.CACHE_SIZE:
                _, evicted = self._cache.popitem(last=False)
                if evicted.frame is not None:
                    evicted.frame.unpersist()
        return frame

    def _memoize_rows(self, query: CubeQuery, schema, rows, gen, parts=None) -> None:
        """Called by Slice.collect(): keep the materialized result of a
        slice planned at generation *gen* for warm navigation, with the
        rows' partial states *parts*. Bounded per entry (MEMO_MAX_ROWS)
        and in entry count (CACHE_SIZE, LRU)."""
        if len(rows) <= self.MEMO_MAX_ROWS:
            self._store(query, schema=schema, rows=list(rows), parts=parts, gen=gen)

    def _snapshot_frames(self) -> None:
        """Switch to snapshot caching and pin every cached frame as a
        localCheckpoint (see ``snapshot_cache``)."""
        with self._lock:
            self.snapshot_cache = True
            for key, entry in list(self._cache.items()):
                if entry.frame is not None:
                    self._cache[key] = entry._replace(frame=entry.frame.localCheckpoint(eager=True))
                    entry.frame.unpersist()

    def _derive(self, query: CubeQuery, parent_axes, parent_filters, parent_values, partial):
        """The one reuse rule: can a result at (*parent_axes*,
        *parent_filters*, *parent_values*) answer *query* exactly?
        *partial*: the parent holds its hidden partial states.

        It can when the query's values and axes are subsets of the
        parent's, the parent's filters are a subset of the query's, and
        every added filter names a parent axis — filtering finished rows
        by a group-key value is filtering the input by that label, for any
        accumulator. Dropping an axis that an ``eq`` filter pins leaves
        one finished row per output group (a projection); dropping any
        other axis merges several, which needs ``_mergeable``. Returns
        ``(added filters, reaggregate)`` or None."""
        if not (
            set(query.values) <= set(parent_values)
            and set(query.axes) <= set(parent_axes)
        ):
            return None
        have = _frozen_filters(parent_filters)
        if not have <= _frozen_filters(query.filters):
            return None
        added = [
            (n, op, v)
            for n, op, v in query.filters
            if (n, op, _freeze_value(v)) not in have
        ]
        if any(n not in parent_axes or op not in FILTER_OPS for n, op, _v in added):
            return None
        pinned = {n for n, op, _v in query.filters if op == "eq"}
        reagg = any(a not in query.axes and a not in pinned for a in parent_axes)
        if reagg and not self._mergeable(query, partial):
            return None
        return added, reagg

    def _mergeable(self, query: CubeQuery, partial: bool) -> bool:
        """Can results of *query* merge (the partial/final contract): does
        every value have a partial state that the result holds? A value
        that is its own partial always does; one with a hidden partial
        state only when *partial* (a lattice grain, holding finished values
        only, never does)."""
        for v in query.values:
            acc = self.cubedef.get_value(v).acc
            if not (acc.reaggregatable or (partial and acc.parts is not None)):
                return False
        return True

    def _partial_cols(self, values) -> dict:
        """The hidden partial-state columns of *values*, by value: one per
        component of each value whose partial state is not its finished
        value (``Average``, ``RatioSum``). Results carry them after the
        values."""
        out = {}
        for v in values:
            acc = self.cubedef.get_value(v).acc
            if not acc.reaggregatable and acc.parts is not None:
                out[v] = tuple(f"__p_{v}_{k}" for k in range(len(acc.parts)))
        return out

    def _with_parts(self, cq: CubeQuery, rows, parts) -> list[dict]:
        """Cached *rows* of *cq* as dicts that also hold their hidden
        partial-state columns from *parts*."""
        cols = _flat(self._partial_cols(cq.values))
        return [{**r.asDict(), **dict(zip(cols, p))} for r, p in zip(rows, parts)]

    def _matches(self, query: CubeQuery) -> list:
        """Every cache entry that answers *query* by ``_derive``, as
        ``(entry, added, reaggregate)``, best first: rows before frames,
        then projection before re-aggregation, most recently used first
        among equals. An exact hit is promoted, so it leads its rank; one
        holding rows is the best match there is, and the walk is
        skipped."""
        key = _memo_key(query)
        with self._lock:
            exact = self._cache.get(key)
            if exact is not None:
                self._cache.move_to_end(key)
                if exact.rows is not None:
                    return [(exact, [], False)]
            entries = list(self._cache.values())
        hits = []
        for e in reversed(entries):
            cq = e.query
            m = self._derive(query, cq.axes, cq.filters, cq.values, e.partial)
            if m is not None:
                hits.append((e, *m))
        hits.sort(key=lambda h: (h[0].rows is None, h[2]))
        return hits

    def _serve_rows(self, query: CubeQuery, entry: _Entry, added, reagg, gen):
        """Answer *query* from a cached *entry*'s rows driver-side — no
        Spark job. Returns None when a piece lacks an exact Python twin
        (an added op without a ``PY_FILTER_OPS`` twin, a partial
        component without ``py_merge``); the next match or the Spark plan
        answers then.

        At 100 TB the cached results are still group-count-bounded, so
        this path's cost is unchanged by data scale."""
        cq, schema, rows = entry.query, entry.schema, entry.rows
        if _memo_key(query) == _memo_key(cq):
            self.local_hits += 1
            decisions.record(
                "cold_fold",
                "local_warm",
                context=self.decisions_context,
                kind="exact_repeat",
                rows=len(rows),
            )
            return self._local_made(query, schema, rows)
        if reagg and any(
            p.py_merge is None
            for v in query.values
            for p in self.cubedef.get_value(v).acc.parts
        ):
            return None
        fields = {f.name: f for f in schema.fields}
        try:
            # same compile-time op-vs-type check as _local_cold: a
            # set-algebra drill on a non-array axis goes to Spark (which
            # rejects it) instead of the twin iterating a scalar cell.
            # Kept as a LIST: two filters on one axis must BOTH apply.
            drill = [
                (n, compile_py_filter(op, v, fields[n].dataType)) for n, op, v in added
            ]
        except KeyError:
            return None
        parts = entry.parts
        if drill:
            keep = [all(f(r[a]) for a, f in drill) for r in rows]
            rows = list(itertools.compress(rows, keep))
            if parts is not None:
                parts = list(itertools.compress(parts, keep))
        hidden = {}
        if parts is not None:
            rows = self._with_parts(cq, rows, parts)
            hidden = self._partial_cols(query.values)
        if reagg:
            out = self._py_reaggregate(query, rows, hidden)
        else:
            cols = (*query.axes, *query.values, *_flat(hidden))
            out = [{c: r[c] for c in cols} for r in rows]
        self._py_order(query, out)
        self.local_hits += 1
        decisions.record(
            "cold_fold",
            "local_warm",
            context=self.decisions_context,
            kind="derived",
            drilled=bool(drill),
            reaggregated=reagg,
            rows=len(out),
        )
        out_schema = StructType([fields[c] for c in (*query.axes, *query.values)])
        made = self._local_made(query, out_schema, _as_rows(out_schema, out))
        # cache the derived result too: further drills chain off it
        self._memoize_rows(query, out_schema, made._rows, gen, _parts_of(hidden, out))
        return made

    def _serve_frame(self, df: DataFrame, query: CubeQuery, added, reagg, partial) -> DataFrame:
        """Answer *query* on a result frame (a cached slice or a lattice
        grain) by the ``_derive`` match (*added*, *reagg*). A frame that
        holds hidden partial-state columns (*partial*) keeps the query's
        in the answer."""
        for n, op, v in added:
            df = df.filter(FILTER_OPS[op](F.col(n), v))
        hidden = self._partial_cols(query.values) if partial else {}
        if reagg:
            return self._reaggregate(df, query, hidden)
        return df.select(*query.axes, *query.values, *_flat(hidden))

    def _extract(self, frame: DataFrame, bound: int) -> _Snapshot | None:
        """Extract every label value and (py-foldable) measure input of
        *frame* into Python, capped at *bound* rows (probed via
        ``limit(bound + 1)``). None when *frame* is bigger, or streaming:
        the caller stays on the Spark path.

        One Spark job, at board construction — the analogue of the
        reference's ``_get_dataset`` preload (/root/reference/bacon/
        cutting.py:122-135), billed as load time, not query time. The
        extraction happens SPARK-side (label Columns, measure input
        expressions), so the driver fold needs no Python twins of label
        logic — only of the accumulators' folds (``py_agg``). ``refresh``
        extracts each delta the same way."""
        if frame.isStreaming:
            return None
        cols: list[Column] = []
        names: list[str] = []
        for lab in self.cubedef.labels:
            cols.append(lab.column().alias(lab.name))
            names.append(lab.name)
        minputs: dict[str, list[str]] = {}
        probes: list[Column] = []
        for m in self.cubedef.measures:
            if m.acc.py_agg is None:
                continue
            keys = []
            for i, c in enumerate(m.acc.py_input_cols(m.column())):
                n = f"__m_{m.name}_{i}"
                cols.append(c.alias(n))
                names.append(n)
                keys.append(n)
            minputs[m.name] = keys
            probes.append(m.agg_column().alias(m.name))
        snap_df = frame.select(*cols)
        rows = snap_df.limit(bound + 1).collect()
        if len(rows) > bound:
            return None
        # finished-value types, resolved ONCE by catalyst analysis (no job)
        # so cold queries never pay per-hit schema analysis
        ftypes = {}
        if probes:
            probe_schema = frame.groupBy(F.lit(1)).agg(*probes).schema
            ftypes = {f.name: f for f in probe_schema.fields[1:]}
        return _Snapshot(
            [tuple(r) for r in rows],
            {n: i for i, n in enumerate(names)},
            {f.name: f for f in snap_df.schema.fields},
            minputs,
            ftypes,
        )

    def _fold(self, query: CubeQuery, snap: _Snapshot, hidden: dict) -> list[dict] | None:
        """Aggregate *query* over an extracted snapshot in Python, with
        no Spark job: filter with the PY_FILTER_OPS twins, group by axis
        values, fold each value's extracted inputs with its accumulator's
        ``py_agg`` — or, for a value with *hidden* partial-state columns
        (``_partial_cols``), with ``py_partials`` and ``py_finish``,
        keeping the partial state in those columns. Returns unordered row
        dicts, or None whenever a piece lacks an exact Python twin."""
        idx = snap.idx
        try:
            fspec = fuse_py_filters(
                [
                    (idx[n], compile_py_filter(op, v, snap.fields[n].dataType))
                    for n, op, v in query.filters
                ]
            )
            axi = [idx[a] for a in query.axes]
        except KeyError:
            return None
        folds = []  # (value name, accumulator, snapshot col indices, hidden cols)
        for v in query.values:
            acc = self.cubedef.get_value(v).acc
            # a plain label used as a value (Group accumulator): its input
            # IS the extracted label column
            keys = snap.minputs.get(v, [v] if v in snap.fields else None)
            if acc.py_agg is None or keys is None:
                return None
            folds.append((v, acc, [idx[k] for k in keys], hidden.get(v)))
        try:
            rows = snap.rows
            for i, f in fspec:
                rows = [r for r in rows if f(r[i])]
            if query.axes:
                groups: dict = {}
                if len(axi) == 1:
                    # single-axis fast path: one subscript per row instead
                    # of a generator-built tuple — high-cardinality axes
                    # (a 100k-customer top-k) are singleton-group-heavy
                    # and pay the key-build cost per ROW
                    i0 = axi[0]
                    for r in rows:
                        k = (r[i0],)
                        g = groups.get(k)
                        if g is None:
                            groups[k] = g = []
                        g.append(r)
                else:
                    for r in rows:
                        k = tuple(r[i] for i in axi)
                        g = groups.get(k)
                        if g is None:
                            groups[k] = g = []
                        g.append(r)
                items = list(groups.items())
            else:
                # dim=0: one grand-total row even over an empty input,
                # matching df.agg() (/root/reference/bacon/cutting.py:111-112)
                items = [((), rows)]
            out = []
            for key, grp in items:
                d = dict(zip(query.axes, key))
                for v, acc, ii, cols in folds:
                    if len(ii) == 1:
                        i0 = ii[0]
                        vals = [g[i0] for g in grp]
                    else:
                        vals = [tuple(g[i] for i in ii) for g in grp]
                    if cols is None:
                        d[v] = acc.py_agg(vals)
                    else:
                        st = acc.py_partials(vals)
                        d[v] = acc.py_finish(st)
                        d.update(zip(cols, st))
                out.append(d)
        except TypeError:
            return None  # unhashable label value etc: take the Spark plan
        return out

    def _local_cold(self, query: CubeQuery, gen):
        """FIRST-hit aggregation in Python: ``_fold`` over the eager
        snapshot. Returns None when the board has no snapshot or the fold
        does not answer — the query then takes the normal Spark plan."""
        snap = self._snap
        if snap is None:
            return None
        hidden = self._partial_cols(query.values)
        out = self._fold(query, snap, hidden)
        if out is None:
            return None
        self._py_order(query, out)
        out_schema = StructType(
            [snap.fields[a] for a in query.axes]
            + [
                snap.ftypes[v]
                if v in snap.minputs
                else StructField(v, snap.fields[v].dataType, True)
                for v in query.values
            ]
        )
        made = self._local_made(query, out_schema, _as_rows(out_schema, out))
        self._memoize_rows(query, out_schema, made._rows, gen, _parts_of(hidden, out))
        self.local_hits += 1
        decisions.record(
            "cold_fold",
            "local_cold",
            context=self.decisions_context,
            snapshot_rows=len(snap.rows),
            rows=len(out),
        )
        return made

    def _local_made(self, query: CubeQuery, schema, rows) -> Slice:
        """A Slice over already-materialized rows: collect()/renderers
        use them directly (zero Spark work), while to_df() lazily wraps
        them in a DataFrame only if a caller actually wants the plan —
        keeping the driver contract without paying for it per hit."""
        spark = self.df.sparkSession
        return Slice(
            self.cubedef,
            query,
            lambda: spark.createDataFrame(rows, schema),
            board=None,
            rows=rows,
        )

    def _py_reaggregate(self, query: CubeQuery, rows, hidden: dict) -> list[dict]:
        """Driver-side twin of ``_reaggregate``: group collected rows by
        query.axes, merge each component of each value's partial state
        (its finished value, or its *hidden* columns) with that
        component's ``py_merge``, and finish it with ``py_finish``. The
        merged partial states stay in the hidden columns."""
        groups: OrderedDict = OrderedDict()
        for r in rows:
            groups.setdefault(tuple(r[a] for a in query.axes), []).append(r)
        merges = []
        for v in query.values:
            acc = self.cubedef.get_value(v).acc
            merges.append((v, acc, hidden.get(v, (v,)), v in hidden))
        out = []
        for key, grp in groups.items():
            d = dict(zip(query.axes, key))
            for v, acc, cols, keep in merges:
                st = [p.py_merge([g[c] for g in grp]) for p, c in zip(acc.parts, cols)]
                d[v] = acc.py_finish(st)
                if keep:
                    d.update(zip(cols, st))
            out.append(d)
        return out

    def _py_order(self, query: CubeQuery, out: list[dict]) -> None:
        """Driver-side twin of ``_order``: stable sorts applied in
        reversed priority (axes last-to-first, then the measure order)."""
        for a in reversed(query.axes):
            label = self.cubedef.get_label(a)
            out.sort(key=lambda d, a=a: (d[a] is not None, d[a]), reverse=label.reverse)
        if query.order:
            sign, value_name, _pv = query.order
            # mirror _order exactly: any OUTPUT column qualifies (axes too)
            if value_name in query.values or value_name in query.axes:
                out.sort(
                    key=lambda d: d[value_name] if d[value_name] is not None else 0,
                    reverse=sign < 0,
                )

    def refresh(self, delta_df: DataFrame, grow_base: bool = True) -> None:
        """Incrementally fold *delta_df* (newly-arrived rows, same schema)
        into the board: the base frame grows, and every cached slice that
        holds the partial state of each of its values merges the delta's
        partial states into its rows in Python and finishes them — never
        re-scanning the full base. ``Sum``/``Count``/``Min``/``Max`` are
        their own partial; ``Average`` and ``RatioSum`` merge the hidden
        partial states the slice keeps beside its rows. A slice with a
        value that keeps no partial state (``StdDev``, ``Group``,
        ``CountDistinct``, sketches...), or whose rows came from a lattice
        grain's finished values, is evicted and recomputes lazily, as is a
        slice whose result would exceed ``MEMO_MAX_ROWS``.

        One Spark job extracts the delta (``_extract``, bounded by
        ``MEMO_MAX_ROWS``): each slice folds its partials from it, and the
        eager snapshot appends it. Over the bound, or for a slice the fold
        cannot answer, Spark aggregates the delta instead. The snapshot is
        dropped when the delta was not extracted or would take it over its
        cap (a ``snapshot`` ``dropped`` decision with the ``reason``).
        Every kept slice then holds rows, so its
        re-reads launch no job. Each slice's fate is logged as a
        ``refresh`` decision: ``merged`` (``delta_from`` snapshot or
        spark) or ``evicted`` (``reason``). The generation bump keeps a
        slice planned before the refresh from storing stale rows.

        This is the incremental-view-maintenance form of the reference's
        dataset-refresh story — its lazy callable dataset re-pulled on cache
        invalidation (/root/reference/bacon/cutting.py:122-135,
        /root/reference/bacon/utils/cache.py:93-127) — made sound by the
        accumulator partial/final contract. At scale this is the
        foreachBatch pattern: each micro-batch is a delta_df, and nothing
        read from it stays lazy past the call.

        ``grow_base=False`` skips extending the base frame — pass it when
        the base already references the storage the deltas land in (the
        streaming-maintenance case, streaming/incremental.py), where a
        union per micro-batch would grow the plan tree without bound."""
        with self._lock:
            wanted = self._snap is not None or any(
                self._mergeable(e.query, e.partial) for e in self._cache.values()
            )
        delta = self._extract(delta_df, self.MEMO_MAX_ROWS) if wanted else None
        with self._lock:
            self._generation += 1
            if grow_base:
                self.df = self.df.unionByName(delta_df)
            # registered lattices are consulted FIRST by the planner, so
            # they must absorb the delta too (or stop being consulted):
            # mergeable lattices fold it in, non-mergeable ones are
            # unregistered and queries fall back to cache/compute over the
            # grown base
            for lat in list(self._lattices):
                if lat.reaggregatable:
                    lat.refresh(delta_df)
                else:
                    self._lattices.remove(lat)
                    lat.unpersist()
            snap = self._snap
            if snap is not None:
                grown = None if delta is None else len(snap.rows) + len(delta.rows)
                if grown is not None and grown <= self._snap_cap:
                    self._snap = snap._replace(rows=snap.rows + delta.rows)
                else:
                    self._snap = None
                    decisions.record(
                        "snapshot",
                        "dropped",
                        context=self.decisions_context,
                        reason="delta_not_extracted" if delta is None else "over_cap",
                        rows=grown,
                        cap=self._snap_cap,
                    )
            for key, old in list(self._cache.items()):
                entry, detail = self._merge_entry(old, delta, delta_df)
                if old.frame is not None:
                    old.frame.unpersist()
                if entry is None:
                    del self._cache[key]
                else:
                    self._cache[key] = entry
                decisions.record(
                    "refresh",
                    "evicted" if entry is None else "merged",
                    context=self.decisions_context,
                    axes=old.query.axes,
                    values=old.query.values,
                    **detail,
                )

    def _merge_entry(self, entry: _Entry, delta, delta_df):
        """One cache entry after ``refresh``, as ``(entry, detail)``: its
        rows with the delta's partial states merged in and finished
        (``_py_reaggregate``), or None (evicted) when a value keeps no
        partial state, the entry does not hold it, or the result exceeds
        ``MEMO_MAX_ROWS``. A frame-only entry's rows are collected first,
        hidden partial-state columns included; the delta's partial states
        come from the extracted *delta* snapshot, else from *delta_df* on
        Spark."""
        cq, bound = entry.query, self.MEMO_MAX_ROWS
        if not self._mergeable(cq, entry.partial):
            return None, {"reason": "not_reaggregatable"}
        hidden = self._partial_cols(cq.values)
        schema, rows = entry.schema, entry.rows
        if rows is None:
            rows = entry.frame.limit(bound + 1).collect()
            # the frame's hidden partial-state columns follow its values
            schema = StructType(entry.frame.schema.fields[: len(cq.axes) + len(cq.values)])
        elif entry.parts is not None:
            rows = self._with_parts(cq, rows, entry.parts)
        if len(rows) > bound:
            return None, {"reason": "over_bound"}
        part = None if delta is None else self._fold(cq, delta, hidden)
        delta_from = "snapshot"
        if part is None:
            part = self._aggregate_frame(cq, delta_df).limit(bound + 1).collect()
            delta_from = "spark"
        out = self._py_reaggregate(cq, [*rows, *part], hidden)
        if len(out) > bound:
            return None, {"reason": "over_bound"}
        self._py_order(cq, out)
        return _Entry(cq, None, schema, _as_rows(schema, out), _parts_of(hidden, out)), {
            "delta_from": delta_from,
            "rows": len(out),
        }

    # --- planning ----------------------------------------------------------
    def _plan(self, query: CubeQuery, hits, gen) -> tuple[DataFrame, str]:
        """The Spark plan for *query* and what it reads: a registered
        lattice, the best cached frame among the ``_matches`` *hits*, or
        (computed, persisted and cached at generation *gen*) the base
        table."""
        lat_df = self._lattice_plan(query)
        if lat_df is not None:
            return self._order(lat_df, query), "lattice"
        for entry, added, reagg in hits:
            if entry.frame is not None:
                key = _memo_key(entry.query)
                with self._lock:
                    if key in self._cache:
                        self._cache.move_to_end(key)  # promote on hit
                served = self._serve_frame(entry.frame, query, added, reagg, True)
                return self._order(served, query), "frame"
        result = self._aggregate(query)
        if self.cache_results:
            if self.snapshot_cache:
                result = result.localCheckpoint(eager=True)
            else:
                result = result.persist(StorageLevel.MEMORY_AND_DISK)
            result = self._store(query, frame=result, gen=gen)
        return self._order(result, query), "base"

    def _lattice_plan(self, query: CubeQuery) -> DataFrame | None:
        """Serve from a registered lattice when it covers the query.

        Unfiltered queries read the grouping set at exactly query.axes.
        ANY row-level filter on lattice axes drills INTO the lattice —
        eq/in, ranges (gt/ge/lt/le), ne/ni, regex, set algebra: read the
        grouping set at grain (query.axes ∪ filter axes) and answer from
        it by the slice cache's ``_derive`` rule: filters apply to the axis
        VALUES (reference null semantics via FILTER_OPS — sound because
        the lattice stores label values, the same column the scan path
        filters), and dropping an axis that no eq filter pins merges
        finished values, gated on every value being reaggregatable. Cost
        is a grouping_id filter plus an axis-value scan bound over the
        materialized lattice (partition pruning on _gid, min/max skipping
        on axis values, when the lattice is written out that way)."""
        fil = query.filters

        def rescan(reason: str):
            # serve-vs-rescan is only a decision when a lattice exists to
            # serve from; an unregistered board's every query would
            # otherwise flood the log with vacuous "rescan" records
            if self._lattices:
                decisions.record(
                    "lattice",
                    "rescan",
                    context=self.decisions_context,
                    reason=reason,
                    axes=query.axes,
                    values=query.values,
                )
            return None

        if any(op not in FILTER_OPS for _, op, _v in fil):
            return rescan("unsupported_filter_op")
        fnames = {n for n, _, _ in fil}
        wanted = set(query.axes) | fnames
        miss = "not_covered"
        for lat in self._lattices:
            if not (
                wanted <= set(lat.axes) and set(query.values) <= set(lat.values)
            ):
                continue
            srv = getattr(lat, "serve_query", None)
            if srv is not None:
                # register-level lattice (SketchLattice): filters apply to
                # the REGISTER frame and re-max before the estimate, so
                # every filter shape — eq or not, axis kept or dropped —
                # is exact without the reaggregatable gate the
                # finished-value path below needs
                decisions.record(
                    "lattice",
                    "serve",
                    context=self.decisions_context,
                    level="register",
                    axes=query.axes,
                    values=query.values,
                )
                return srv(tuple(query.axes), tuple(query.values), fil, FILTER_OPS)
            grain = tuple(a for a in lat.axes if a in wanted)
            m = self._derive(query, grain, (), lat.values, False)
            if m is None:
                miss = "reagg_gate"
                continue
            decisions.record(
                "lattice",
                "serve",
                context=self.decisions_context,
                level="finished",
                grain=grain,
                reaggregated=m[1],
                axes=query.axes,
                values=query.values,
            )
            return self._serve_frame(lat.slice_df(grain), query, *m, False)
        return rescan(miss)

    def _reaggregate(self, df: DataFrame, query: CubeQuery, hidden: dict) -> DataFrame:
        """Merge each component of each value's partial state (its
        finished value, or its *hidden* columns) with that component's
        ``merge`` and finish it; the merged partial states follow the
        values."""
        aggs, partials = [], []
        for v in query.values:
            acc = self.cubedef.get_value(v).acc
            cols = hidden.get(v, (v,))
            merged = [p.merge(F.col(c)) for p, c in zip(acc.parts, cols)]
            aggs.append(acc.finish(merged).alias(v))
            if v in hidden:
                partials += [m.alias(c) for m, c in zip(merged, cols)]
        aggs += partials
        if not aggs:
            return df.select(*query.axes).distinct()
        if query.axes:
            return df.groupBy(*[F.col(a) for a in query.axes]).agg(*aggs)
        return df.agg(*aggs)

    # --- source resolution ---------------------------------------------------
    def _frame_for(self, query: CubeQuery) -> DataFrame:
        """The input frame for a query. Subclasses override to build a
        query-minimal source (e.g. StarCuttingBoard culls unused dimension
        joins); the base board uses its fixed DataFrame."""
        return self.df

    # --- physical building blocks ------------------------------------------
    def _predicate(self, query: CubeQuery) -> Column | None:
        preds = []
        for name, op, value in query.filters:
            label = self.cubedef.get_label(name)
            preds.append(build_predicate(label.column(), op, value))
            # sargability rewrite: truncating date labels add the implied
            # raw-column bound so the scan can skip (reference
            # /root/reference/bacon/cubedef.py:728-741; here it reaches
            # parquet PushedFilters instead of a Postgres index)
            extra = getattr(label, "sargable_extra", None)
            if extra is not None:
                ep = extra(op, value)
                if ep is not None:
                    preds.append(ep)
        return combine_filters(preds)

    def _aggregate(self, query: CubeQuery) -> DataFrame:
        return self._aggregate_frame(query, self._frame_for(query))

    def _partial_aggs(self, values) -> list[Column]:
        """A caching board's aggregates of the hidden partial-state
        columns of *values*, which its results carry after the values so
        that the slice cache can merge them. Catalyst computes each once
        with the finished value's identical aggregate."""
        if not self.cache_results:
            return []
        out = []
        for v, cols in self._partial_cols(values).items():
            m = self.cubedef.get_value(v)
            out += [p.alias(c) for p, c in zip(m.acc.partials(m.column()), cols)]
        return out

    def _aggregate_frame(self, query: CubeQuery, df: DataFrame) -> DataFrame:
        pred = self._predicate(query)
        if pred is not None:
            df = df.filter(pred)

        axis_cols = [self.cubedef.get_label(a).column().alias(a) for a in query.axes]

        from .accumulators import SketchDistinct, SketchPercentile

        sketch_vals = [
            v
            for v in query.values
            if isinstance(
                self.cubedef.get_value(v).acc, (SketchDistinct, SketchPercentile)
            )
        ]
        if sketch_vals:
            return self._aggregate_with_sketches(query, df, axis_cols, sketch_vals)

        agg_cols = [self.cubedef.get_value(v).agg_column().alias(v) for v in query.values]
        agg_cols += self._partial_aggs(query.values)

        if not agg_cols:
            # axes-only query: distinct combinations
            return df.select(*axis_cols).distinct()
        if axis_cols:
            return df.groupBy(*axis_cols).agg(*agg_cols)
        # dim=0 query: grand total only (/root/reference/bacon/cutting.py:111-112)
        return df.agg(*agg_cols)

    def _aggregate_with_sketches(
        self,
        query: CubeQuery,
        df: DataFrame,
        axis_cols: list[Column],
        sketch_vals: list[str],
    ) -> DataFrame:
        """SketchDistinct measures can't compile to a single aggregate
        Column: each is planned as its own (axes, bucket) HLL register
        aggregation (operators/sketch.py) whose per-group estimate frame
        joins the ordinary-measure frame on the axes.

        Scale shape: every register frame partial-aggregates map-side
        down to <= |groups|*2^p tiny rows before its shuffle — the whole
        point vs count_distinct's shuffle-every-value — so the join
        inputs here are result-sized. The raw frame is scanned once for
        the ordinary measures plus once per sketch measure; persist the
        input upstream when that matters (the slice cache already does).
        A group whose sketch input is all-null estimates 0.0, matching
        count_distinct."""
        from .accumulators import SketchPercentile
        from .operators.sketch import (
            hist_quantiles,
            hist_sketch,
            hll_estimate,
            hll_registers,
        )

        axes = list(query.axes)
        in_sketch = set(sketch_vals)
        normal_vals = [v for v in query.values if v not in in_sketch]
        agg_cols = [self.cubedef.get_value(v).agg_column().alias(v) for v in normal_vals]
        hidden = self._partial_cols(normal_vals) if self.cache_results else {}
        agg_cols += self._partial_aggs(normal_vals)
        if axis_cols:
            out = (
                df.groupBy(*axis_cols).agg(*agg_cols)
                if agg_cols
                else df.select(*axis_cols).distinct()
            )
        else:
            out = df.agg(*agg_cols) if agg_cols else None
        for v in sketch_vals:
            meas = self.cubedef.get_value(v)
            base = df.select(*axis_cols, meas.column().alias("__sketch_in__"))
            if isinstance(meas.acc, SketchPercentile):
                # histogram bucket counts per (axes, bucket) — same
                # result-sized-shuffle economics as the HLL registers;
                # the type-1 estimate is integer, cast to double so the
                # all-null-group coalesce below stays type-stable
                est = hist_quantiles(
                    hist_sketch(base, "__sketch_in__", axes),
                    (meas.acc.pct,),
                    axes,
                ).select(*axes, F.col("q_est").cast("double").alias(v))
            else:
                p = meas.acc.p
                est = hll_estimate(
                    hll_registers(base, "__sketch_in__", axes, p=p), axes, p=p
                ).select(
                    *axes, F.coalesce(F.col("hll_estimate"), F.lit(0.0)).alias(v)
                )
            if out is None:
                out = est
            elif axes:
                # NULL axis values are real groups (groupBy keeps them), so
                # the estimate must attach with null-SAFE key equality — a
                # plain equi-join would orphan every NULL-labeled group and
                # coalesce its estimate to 0.0.
                est = est.select(
                    *[F.col(a).alias(f"__est_{a}__") for a in axes], v
                )
                cond = functools.reduce(
                    Column.__and__,
                    [F.col(a).eqNullSafe(F.col(f"__est_{a}__")) for a in axes],
                )
                out = (
                    out.join(est, cond, "left")
                    .drop(*[f"__est_{a}__" for a in axes])
                    .withColumn(v, F.coalesce(F.col(v), F.lit(0.0)))
                )
            else:
                out = out.crossJoin(est)
        # restore the query's declared value order
        return out.select(*axes, *query.values, *_flat(hidden))

    def _order(self, df: DataFrame, query: CubeQuery) -> DataFrame:
        sort_cols: list[Column] = []
        if query.order:
            sign, value_name, _pivot_values = query.order
            if value_name in df.columns:
                # None sorts as 0 (/root/reference/bacon/observers/tables.py:258-275)
                m = F.coalesce(F.col(value_name), F.lit(0))
                sort_cols.append(m.desc() if sign < 0 else m.asc())
        for a in query.axes:
            label = self.cubedef.get_label(a)
            sort_cols.append(label.order_column())
        if sort_cols:
            df = df.orderBy(*sort_cols)
        return df


class Slice:
    """A query result: lazily-collected nested view over the result frame.

    Reference Slice (/root/reference/bacon/cutting.py:525-645): nested dict
    keyed by axis values level by level, leaves = measure records;
    ``slice[v]`` peels one axis; iteration yields axis values in label-key
    order (nulls first). Here the heavy lifting stays in Spark — the slice
    only collects the (small, aggregated) result.
    """

    def __init__(
        self,
        cubedef: CubeDef,
        query: CubeQuery,
        df: DataFrame,
        _prefix=(),
        board=None,
        rows=None,
        gen=None,
        full=None,
    ):
        self.cubedef = cubedef
        self.query = query
        self._df = df  # DataFrame, or a 0-arg thunk building one lazily
        self._prefix = _prefix
        self._tree = None
        self._board = board  # feeds collected rows back to the warm memo
        self._gen = gen  # the board generation this slice was planned at
        self._rows = rows  # prefetched rows (warm path): collect() is free
        # *df* plus the hidden partial-state columns after the values:
        # collected instead of *df*, so the board keeps them
        self._full = full

    @property
    def df(self) -> DataFrame:
        if callable(self._df):
            self._df = self._df()
        return self._df

    # --- Spark-side access --------------------------------------------------
    def to_df(self) -> DataFrame:
        return self.df

    def explain(self, mode: str = "formatted") -> None:  # pragma: no cover
        self.df.explain(mode)

    # --- materialization ------------------------------------------------------
    def collect(self, max_rows: int | None = None) -> list:
        """Materialize the result rows ONCE per slice, memoized — repeat
        renders and board-level warm navigation reuse them without a new
        Spark job (the reference's cached-slice walk,
        /root/reference/bacon/cutting.py:235-271).

        *max_rows* is the render-path cardinality guard: when set, the
        collect is probed with ``limit(max_rows + 1)`` and a larger slice
        raises QueryError instead of collecting the world — a pivot on a
        high-cardinality axis fails fast and pageable."""
        if self._rows is None:
            src = self.df if self._full is None else self._full
            if max_rows is not None:
                got = src.limit(max_rows + 1).collect()
                if len(got) > max_rows:
                    raise QueryError(
                        f"slice has more than {max_rows} rows; refusing to "
                        "collect for rendering — add filters, drop an axis, "
                        "or page through rows()/keyset_page instead"
                    )
            else:
                got = src.collect()
            parts = None
            if self._full is not None:
                k = len(self.query.axes) + len(self.query.values)
                mk = Row(*self.df.columns)
                parts = [r[k:] for r in got]
                got = [mk(*r[:k]) for r in got]
            self._rows = got
            if self._board is not None:
                self._board._memoize_rows(
                    self.query, self.df.schema, self._rows, self._gen, parts
                )
        elif max_rows is not None and len(self._rows) > max_rows:
            raise QueryError(
                f"slice has more than {max_rows} rows; refusing to "
                "collect for rendering — add filters, drop an axis, "
                "or page through rows()/keyset_page instead"
            )
        return self._rows

    # --- collected navigation ------------------------------------------------
    @property
    def axes(self) -> tuple[str, ...]:
        return self.query.axes[len(self._prefix):]

    def _collect(self):
        if self._tree is None:
            rows = self.collect()
            tree: dict = {}
            axes = self.query.axes
            vals = self.query.values
            for row in rows:
                node = tree
                for a in axes[:-1] if axes else []:
                    node = node.setdefault(row[a], {})
                record = {v: row[v] for v in vals}
                if axes:
                    node[row[axes[-1]]] = record
                else:
                    tree = record
            self._tree = tree
        return self._tree

    def _subtree(self):
        node = self._collect()
        for key in self._prefix:
            node = node.get(key, {})
        return node

    def __getitem__(self, value):
        """Peel one axis (/root/reference/bacon/cutting.py:547-560)."""
        if not self.axes:
            raise QueryError("cannot index a 0-dimensional slice")
        child = Slice(
            self.cubedef,
            self.query,
            self._df,
            self._prefix + (value,),
            board=self._board,
            rows=self._rows,
            gen=self._gen,
            full=self._full,
        )
        child._tree = self._tree
        return child

    def keys(self) -> list:
        """Axis values in label-key order, nulls first
        (/root/reference/bacon/cutting.py:561-575)."""
        if not self.axes:
            return []
        label = self.cubedef.get_label(self.axes[0])
        ks = list(self._subtree().keys())
        ks.sort(key=lambda v: (v is not None, v), reverse=label.reverse)
        return ks

    def __iter__(self):
        return iter(self.keys())

    @property
    def record(self) -> dict:
        """Measure record at a leaf (or the grand-total record)."""
        node = self._subtree()
        if self.axes:
            raise QueryError("slice still has axes; index into it first")
        return node

    def value(self, measure: str):
        return self.record[measure]

    def rows(self, max_rows: int | None = None) -> list[dict]:
        """Flat row dicts (axis cols + visible measure cols), in result
        order — convenience for renderers. *max_rows* applies the same
        render-path cardinality guard as :meth:`collect`."""
        visible = self.query.visible_values
        out = []
        for row in self.collect(max_rows=max_rows):
            d = {a: row[a] for a in self.query.axes}
            d.update({v: row[v] for v in visible})
            out.append(d)
        return out


class SliceMatrix:
    """Row×column matrix view of a slice — the reference's intended
    consumption API, specified by its (skipped) tests
    (/root/reference/tests/test_cutboard.py:95-212): ``rows()`` /
    ``rows_with_label()`` / ``col_labels()`` / ``cols_with_label()`` /
    ``series()`` / ``series_labels()``, with missing cells as None.

    With one visible value, cells are scalars ("flat"); with several, cells
    are namedtuples of the values (the non-flat form).
    """

    def __init__(self, slice_: Slice, col_axes: tuple[str, ...] = ()):
        from collections import namedtuple

        self.slice = slice_
        query = slice_.query
        self.col_axes = tuple(col_axes)
        self.row_axes = tuple(a for a in query.axes if a not in self.col_axes)
        self.values = query.visible_values
        self._flat = len(self.values) == 1
        self._tuple = namedtuple("Record", self.values)  # noqa: PYI024

        cd = slice_.cubedef
        raw = slice_.collect()
        row_keys, col_keys, cells = [], [], {}
        seen_r, seen_c = set(), set()
        for r in raw:
            rk = tuple(r[a] for a in self.row_axes)
            ck = tuple(r[a] for a in self.col_axes)
            if rk not in seen_r:
                seen_r.add(rk)
                row_keys.append(rk)
            if ck not in seen_c:
                seen_c.add(ck)
                col_keys.append(ck)
            vals = tuple(r[v] for v in self.values)
            cells[(rk, ck)] = vals[0] if self._flat else self._tuple(*vals)

        def keysort(keys, axes):
            for i in range(len(axes) - 1, -1, -1):
                label = cd.get_label(axes[i])
                keys.sort(key=lambda k, i=i: (k[i] is not None, k[i]), reverse=label.reverse)
            return keys

        self._row_keys = keysort(row_keys, self.row_axes)
        self._col_keys = keysort(col_keys, self.col_axes)
        self._cells = cells

    @staticmethod
    def _unwrap(key: tuple):
        return key[0] if len(key) == 1 else key

    def value_labels(self) -> list[str]:
        return list(self.values)

    def row_labels(self) -> list:
        return [self._unwrap(k) for k in self._row_keys]

    def col_labels(self) -> list:
        return [self._unwrap(k) for k in self._col_keys]

    def cell(self, row_key, col_key=()):
        rk = row_key if isinstance(row_key, tuple) else (row_key,)
        ck = col_key if isinstance(col_key, tuple) else (col_key,)
        return self._cells.get((rk, ck))

    def rows(self):
        for rk in self._row_keys:
            yield [self._cells.get((rk, ck)) for ck in self._col_keys]

    def rows_with_label(self):
        for rk in self._row_keys:
            yield self._unwrap(rk), [self._cells.get((rk, ck)) for ck in self._col_keys]

    def cols_with_label(self):
        for ck in self._col_keys:
            yield self._unwrap(ck), [self._cells.get((rk, ck)) for rk in self._row_keys]

    def series(self):
        """1-D form: one cell per row (requires no column axes)."""
        if self.col_axes:
            raise QueryError("series() requires a slice without column axes")
        for rk in self._row_keys:
            yield self._cells.get((rk, ()))

    def series_labels(self):
        if self.col_axes:
            raise QueryError("series_labels() requires a slice without column axes")
        return self.row_labels()
