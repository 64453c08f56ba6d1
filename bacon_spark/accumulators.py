"""Accumulators: aggregate builders compiling to built-in Spark expressions.

Re-expression of the reference's accumulator set
(/root/reference/bacon/accumulators.py) as *composed Catalyst aggregate
expressions* — never Python UDAFs — so partial aggregation, whole-stage
codegen, and AQE all apply.

Reference-divergent semantics deliberately preserved (SURVEY §7 hard parts):

* ``Average`` divides by the TOTAL row count including null inputs
  (/root/reference/bacon/accumulators.py:157-176) — NOT SQL ``AVG``.
* ``Sum`` of an all-null group is null, not 0
  (/root/reference/bacon/accumulators.py:20-43) — native ``F.sum`` matches.
* ``Group`` yields the single distinct value (null counts as a value) else
  null (/root/reference/bacon/accumulators.py:259-296).
* ``StdDev`` merge yields Inconsistent in the reference
  (/root/reference/bacon/accumulators.py:227-228); Spark's stddev_samp is
  properly combinable — strictly better — so totals rows render null to
  honor reference behavior (handled in observers, not here).

The partial/final contract. The reference keeps every accumulator in a
partial form that ``add``/``__iadd__`` grow and merge, and reads the final
value off it; its slice reuse and totals merge partials
(/root/reference/bacon/cutting.py:391-400,
/root/reference/bacon/observers/tables.py:285-296). Here an accumulator
declares its partial state as ``parts``: one accumulator per component,
whose ``merge``/``py_merge`` combine that component across groups.
``partials`` (Spark) and ``py_partials`` (Python) compute the state from
raw inputs, and ``finish``/``py_finish`` turn it into the finished value,
so ``agg(c)`` is ``finish(partials(c))``. The engine's slice cache merges
these states to roll cached results up and to fold refreshed deltas in.

* ``Sum``, ``Count``, ``Min`` and ``Max`` are their own partial
  (``reaggregatable``): ``parts`` is ``(self,)`` and the finish is the
  identity, so a finished value merges as it is.
* ``Average`` keeps ``(sum(x), count(*))`` and ``RatioSum``
  ``(sum(num), sum(den))``; the division happens in the finish, so their
  finished values do not merge, but their partials do.
* Every other accumulator keeps no partial state (``parts`` is None) and
  its results never merge: ``StdDev`` (the reference's merge yields
  Inconsistent), ``Group``/``LabeledAcc`` (a guard over distinct values),
  ``CountDistinct``/``CollectSet``/``Union`` (distinct values are not
  summable), the percentiles, and the sketches, whose registers merge but
  whose finished estimates do not (``SketchLattice`` keeps registers).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


class Accumulator:
    """Base: builds the final aggregate Column for an input expression."""

    #: is the finished value its own partial state (re-aggregated by
    #: simple re-application)? Registered lattice grains, which hold
    #: finished values only, merge just these.
    reaggregatable = False

    @property
    def parts(self) -> tuple | None:
        """The partial state: the accumulators merging each of its
        components, or None when there is none. An accumulator that is
        its own partial returns ``(self,)``; ``Average`` and ``RatioSum``
        override this with their components."""
        return (self,) if self.reaggregatable else None

    def agg(self, c: Column) -> Column:
        raise NotImplementedError

    def partials(self, c: Column) -> tuple[Column, ...]:
        """The partial state's aggregate Columns over input *c*, one per
        ``parts`` component."""
        return tuple(p.agg(c) for p in self.parts)

    def finish(self, parts: tuple[Column, ...]) -> Column:
        """The finished value from the partial state's Columns (the
        identity for an accumulator that is its own partial)."""
        return parts[0]

    def py_partials(self, values) -> tuple:
        """Driver-side twin of ``partials`` over raw input *values*."""
        return tuple(p.py_agg(values) for p in self.parts)

    @staticmethod
    def py_finish(parts):
        """Driver-side twin of ``finish``."""
        return parts[0]

    def merge(self, finished: Column) -> Column:
        """Re-aggregate an already-finished column of this accumulator
        (used by rollup reuse over cached results). Only valid when
        ``reaggregatable``."""
        raise NotImplementedError

    def sql(self, expr: str) -> str:
        """ANSI-SQL form of this aggregate over *expr* (the pushdown path,
        reference ``manipulate_sql``, /root/reference/bacon/accumulators.py:48-50)."""
        raise NotImplementedError

    #: driver-side twin of ``merge``: fold a list of FINISHED values
    #: (collected from a cached slice) into one re-aggregated value
    #: without a Spark job. Only meaningful when ``reaggregatable``, and
    #: every reaggregatable accumulator defines it: the engine merges the
    #: components of a partial state with their ``parts``' ``py_merge``
    #: when it rolls cached rows up (CuttingBoard._serve_rows) and when
    #: ``CuttingBoard.refresh`` folds a delta into them. This is the
    #: reference's in-memory ManipulateSlice
    #: (/root/reference/bacon/cutting.py:336-522) reborn as an
    #: O(result-size) Python fold over bounded cached rows.
    py_merge = None

    #: driver-side twin of ``agg`` for the COLD small-table path (engine
    #: CuttingBoard eager snapshot): fold a list of RAW extracted input
    #: values into the finished value, with the same null semantics as the
    #: Spark aggregate. This is the reference's per-record ``add`` loop
    #: (/root/reference/bacon/accumulators.py:20-50) at its native cost —
    #: a Python fold over a preloaded small table, no Spark job. None =
    #: no driver-side fold; the engine plans the query normally. Floats
    #: may differ from the distributed sum in the last ulp (summation
    #: order); exactness-critical paths (the oracle gate) never take
    #: this route.
    py_agg = None

    def py_input_cols(self, measure_col: Column) -> tuple[Column, ...]:
        """The input Columns the driver-side fold needs extracted into the
        eager snapshot. Default: the measure's own input expression.
        Multi-input accumulators (RatioSum num/den, LabeledAcc guard
        label) override; their ``py_agg`` then receives tuples."""
        return (measure_col,)


class Sum(Accumulator):
    """Null-skipping sum; all-null group -> null
    (/root/reference/bacon/accumulators.py:20-50)."""

    reaggregatable = True

    def agg(self, c):
        return F.sum(c)

    def merge(self, finished):
        return F.sum(finished)

    @staticmethod
    def py_merge(values):
        vals = [v for v in values if v is not None]
        if not vals:
            return None
        acc = vals[0]
        for v in vals[1:]:
            acc = acc + v
        return acc

    # raw fold == finished-value fold for a sum
    py_agg = py_merge

    def sql(self, expr):
        return f"sum({expr})"


class Count(Accumulator):
    """Counts ROWS, not non-null values
    (/root/reference/bacon/accumulators.py:137-154)."""

    # rollup reuse re-aggregates via merge() (sum of finished counts), which
    # is exact — counts coarsen soundly, like the reference's Count.__iadd__
    # (/root/reference/bacon/accumulators.py:148-151)
    reaggregatable = True

    def agg(self, c):
        return F.count(F.lit(1))

    def merge(self, finished):
        return F.sum(finished)

    @staticmethod
    def py_merge(values):
        return sum(v for v in values if v is not None)

    # raw fold: every row counts, nulls included (reference Count.add)
    py_agg = staticmethod(len)

    def sql(self, expr):
        return "count(*)"


class Min(Accumulator):
    reaggregatable = True

    def agg(self, c):
        return F.min(c)

    def merge(self, finished):
        return F.min(finished)

    @staticmethod
    def py_merge(values):
        vals = [v for v in values if v is not None]
        return min(vals) if vals else None

    py_agg = py_merge

    def sql(self, expr):
        return f"min({expr})"


class Max(Accumulator):
    reaggregatable = True

    def agg(self, c):
        return F.max(c)

    def merge(self, finished):
        return F.max(finished)

    @staticmethod
    def py_merge(values):
        vals = [v for v in values if v is not None]
        return max(vals) if vals else None

    py_agg = py_merge

    def sql(self, expr):
        return f"max({expr})"


class Average(Accumulator):
    """sum(x) / count(*) — denominator counts ALL rows including nulls,
    diverging from SQL AVG (/root/reference/bacon/accumulators.py:157-190).
    The partial state is ``(sum(x), count(*))``."""

    parts = (Sum(), Count())

    def agg(self, c):
        return self.finish(self.partials(c))

    def finish(self, parts):
        s, n = parts
        # divide in double: if the input is an exact decimal expression the
        # numerator is deterministic, and double division is IEEE-exact, so
        # results are bit-identical across engines (oracle-hash safe)
        return s.cast("double") / n

    @staticmethod
    def py_finish(parts):
        s, n = parts
        return None if s is None else float(s) / n  # null sum / n -> null

    def py_agg(self, values):
        return self.py_finish(self.py_partials(values))

    def sql(self, expr):
        return f"cast(sum({expr}) as double) / count(*)"


class StdDev(Accumulator):
    """Welford sample stddev (/root/reference/bacon/accumulators.py:193-231).
    Spark's stddev_samp is numerically equivalent and combinable. It keeps
    no partial state: the reference's StdDev merge yields Inconsistent
    (/root/reference/bacon/accumulators.py:227-228), so cached stddevs are
    recomputed, never merged."""

    def agg(self, c):
        return F.stddev_samp(c)

    @staticmethod
    def py_agg(values):
        vals = [float(v) for v in values if v is not None]
        n = len(vals)
        if n == 0:
            return None
        if n == 1:
            return None  # stddev_samp of a single value is null in Spark
        mean = sum(vals) / n
        m2 = sum((v - mean) ** 2 for v in vals)
        return (m2 / (n - 1)) ** 0.5

    def sql(self, expr):
        return f"stddev_samp({expr})"


class Union(Accumulator):
    """Set union of set-valued inputs, plus a saw-empty flag
    (/root/reference/bacon/accumulators.py:53-76). Result is a struct
    ``(values sorted array, included_empty)``; null/empty inputs set the
    flag (make_set conflation, /root/reference/bacon/cutting.py:788-796)."""

    reaggregatable = False

    def agg(self, c):
        cleaned = F.filter(F.coalesce(c, F.array()), lambda x: x.isNotNull() & (x != F.lit("")))
        values = F.sort_array(F.array_distinct(F.flatten(F.collect_list(cleaned))))
        included_empty = F.max((c.isNull() | (F.size(cleaned) == 0)).cast("int")) == 1
        return F.struct(values.alias("values"), included_empty.alias("included_empty"))


class Group(Accumulator):
    """'The' single distinct value of a label within the group, else null;
    null counts as a distinct value (/root/reference/bacon/accumulators.py:259-296).
    ``count_distinct`` ignores nulls, so add an explicit has-null term."""

    def agg(self, c):
        n_distinct = F.count_distinct(c) + F.max(c.isNull().cast("int"))
        return F.when(n_distinct == 1, F.min(c))

    @staticmethod
    def py_agg(values):
        distinct = set(values)  # None counts as a distinct value
        if len(distinct) == 1:
            return next(iter(distinct))
        return None

    def sql(self, expr):
        return (
            f"CASE WHEN count(DISTINCT {expr}) + max(CASE WHEN {expr} IS NULL THEN 1 ELSE 0 END) = 1 "
            f"THEN min({expr}) END"
        )


class LabeledAcc(Accumulator):
    """Inner accumulator guarded by a context label: if the group spans more
    than one label value the result is Inconsistent -> null
    (/root/reference/bacon/accumulators.py:299-352). E.g. 'sum of amounts,
    but only if they are all in the same currency'."""

    def __init__(self, label_expr: str | Column, inner: Accumulator):
        self.label_expr = label_expr
        self.inner = inner
        # driver-side fold twin, only when the inner accumulator has one:
        # first snapshot column is the guard label, the rest the inner's
        # inputs (instance attribute so `py_agg is None` stays the
        # availability check the engine uses)
        if inner.py_agg is not None:

            def _py_agg(tuples):
                if not tuples:
                    # Spark form: count_distinct 0 + max(null) = null guard
                    # -> null result even for inners that fold [] to 0
                    return None
                if len({t[0] for t in tuples}) > 1:
                    return None  # Inconsistent -> null
                inner_vals = [t[1] if len(t) == 2 else t[1:] for t in tuples]
                return inner.py_agg(inner_vals)

            self.py_agg = _py_agg

    def py_input_cols(self, measure_col):
        return (self._label_col(), *self.inner.py_input_cols(measure_col))

    def _label_col(self) -> Column:
        le = self.label_expr
        return F.expr(le) if isinstance(le, str) else le

    def agg(self, c):
        lab = self._label_col()
        n_distinct = F.count_distinct(lab) + F.max(lab.isNull().cast("int"))
        return F.when(n_distinct <= 1, self.inner.agg(c))

    def sql(self, expr):
        le = self.label_expr
        if not isinstance(le, str):
            raise NotImplementedError("LabeledAcc SQL form needs a string label expr")
        return (
            f"CASE WHEN count(DISTINCT {le}) + max(CASE WHEN {le} IS NULL THEN 1 ELSE 0 END) <= 1 "
            f"THEN {self.inner.sql(expr)} END"
        )


class RatioSum(Accumulator):
    """sum(num)/sum(den); null or zero denominator -> null
    (/root/reference/bacon/accumulators.py:355-393). The partial state is
    ``(sum(num), sum(den))``."""

    parts = (Sum(), Sum())

    def __init__(self, num: str | Column, den: str | Column):
        self.num = num
        self.den = den

    @staticmethod
    def _col(e) -> Column:
        return F.expr(e) if isinstance(e, str) else e

    def agg(self, c):  # input expression ignored; uses num/den
        return self.finish(self.partials(c))

    def partials(self, c):
        return (F.sum(self._col(self.num)), F.sum(self._col(self.den)))

    def finish(self, parts):
        s_num, s_den = parts
        # double division (see Average.finish for the determinism rationale)
        return F.when(s_den != 0, s_num.cast("double") / s_den.cast("double"))

    def py_input_cols(self, measure_col):
        return (self._col(self.num), self._col(self.den))

    @staticmethod
    def py_partials(pairs):
        """*pairs* are (num, den) tuples (see ``py_input_cols``)."""
        return (Sum.py_agg([p[0] for p in pairs]), Sum.py_agg([p[1] for p in pairs]))

    @staticmethod
    def py_finish(parts):
        s_num, s_den = parts
        if s_den is None or s_den == 0 or s_num is None:
            return None
        return float(s_num) / float(s_den)

    def py_agg(self, pairs):
        return self.py_finish(self.py_partials(pairs))

    def sql(self, expr):
        num = self.num if isinstance(self.num, str) else None
        den = self.den if isinstance(self.den, str) else None
        return f"cast(sum({num}) as double) / nullif(cast(sum({den}) as double), 0)"


class CountDistinct(Accumulator):
    """Engine extension (the reference only reaches distinctness via
    Group/Union, SURVEY §2.3): exact distinct count."""

    def agg(self, c):
        return F.count_distinct(c)

    @staticmethod
    def py_agg(values):
        return len({v for v in values if v is not None})

    def sql(self, expr):
        return f"count(DISTINCT {expr})"


class CollectSet(Accumulator):
    """Engine extension: distinct values as a sorted array (scale-safe form
    of the reference's Union for scalar inputs)."""

    def agg(self, c):
        return F.sort_array(F.collect_set(c))


class ApproxCountDistinct(Accumulator):
    """Engine extension for 100 TB cardinalities: HyperLogLog++ distinct
    estimate (constant memory per group vs exact count_distinct's
    shuffle-every-value). rsd defaults to Spark's 5%."""

    def __init__(self, rsd: float = 0.05):
        self.rsd = rsd

    def agg(self, c):
        return F.approx_count_distinct(c, rsd=self.rsd)

    def sql(self, expr):
        return f"approx_count_distinct({expr})"


class SketchDistinct(Accumulator):
    """Engine extension: DETERMINISTIC HyperLogLog distinct estimate
    (operators/sketch.py). Same constant-memory scale story as
    ``ApproxCountDistinct``, but the registers are built from the shared
    60-bit md5 hash with exact-integer harmonic sums, so the estimate is
    bit-identical across engines / partitionings / cluster sizes and
    oracle-checkable in DuckDB (gate q165).

    Not a single Catalyst aggregate: the engine plans each such measure
    as a (axes, bucket) register aggregation plus estimate
    (engine._aggregate_frame) — which is also why the FINISHED estimate
    is not reaggregatable (registers merge by max; estimates don't), so
    slice-cache rollup/drill paths recompute instead of merging. For
    materialized reuse, register a ``SketchLattice``
    (operators/lattice.py): it stores the REGISTER frame at the finest
    grain and serves every coarser slice/filter/total exactly by
    re-maxing registers before estimating."""

    def __init__(self, p: int = 12):
        if not 4 <= p <= 16:
            raise ValueError("HLL precision p must be in [4, 16]")
        self.p = p

    def agg(self, c):
        raise NotImplementedError(
            "SketchDistinct is planned by the engine as a register "
            "aggregation (engine._aggregate_frame), not a single Column"
        )

    def sql(self, expr):
        # pushdown path: an exact distinct count satisfies the
        # approximate contract (sources that can't build registers
        # still answer correctly, just without the sketch's economy)
        return f"count(DISTINCT {expr})"


class SketchPercentile(Accumulator):
    """Engine extension: DETERMINISTIC approximate percentile via the
    log-bucketed histogram sketch (operators/sketch.hist_*), the
    quantile analogue of ``SketchDistinct``: per group the engine plans
    a (axes, bucket) COUNT aggregation (<= 488 tiny rows per group —
    constant state at any input size) instead of the total sort an
    exact percentile needs, and the type-1 lower-bound estimate
    (q_est <= true < 1.125*q_est above 16) is pure integer arithmetic —
    bit-identical across engines/partitionings and oracle-checkable.

    The input must be a non-negative integer metric (token counts,
    cents, bytes, ms — negatives/nulls are excluded, same contract as
    the standalone sketch). Like SketchDistinct the measure is planned
    by the engine (engine._aggregate_with_sketches), not compiled to a
    single Column; unlike HLL's max-merged registers, histogram counts
    merge by ADDITION, so coarser grains could be served from finer
    materializations the same way SketchLattice serves HLL (gate q176
    exploits exactly that mergeability in streaming)."""

    reaggregatable = False

    def __init__(self, pct: int = 50):
        if not 1 <= int(pct) <= 100:
            raise ValueError("percentile must be an integer in [1, 100]")
        self.pct = int(pct)

    def agg(self, c):
        raise NotImplementedError(
            "SketchPercentile is planned by the engine as a histogram "
            "bucket-count aggregation (engine._aggregate_with_sketches)"
        )

    def sql(self, expr):
        # Pushdown path computes the SAME histogram-bucket lower-bound
        # estimate as the engine plan (engine-equivalence invariant: a
        # federated source must not silently return different numbers).
        # The engine's estimate is hist_lower(first bucket whose
        # cumulative count reaches rank ceil(pct*n/100)) over
        # non-negative non-null values; because hist_lower(hist_bucket(v))
        # is monotone non-decreasing in v, that equals the transformed
        # value at exactly that integer rank — one aggregate expression:
        # sort the transformed values and index at (pct*n + 99) div 100.
        # O(n) group memory (no sketch economy), but bit-identical.
        from .operators.sketch import hist_lower_of_value_spark_sql

        keep = f"(({expr}) IS NOT NULL AND ({expr}) >= 0)"
        low = hist_lower_of_value_spark_sql(expr)
        n = f"count({expr}) FILTER (WHERE {keep})"
        # all-excluded group -> 0.0 double, the engine's documented
        # convention (engine._aggregate_with_sketches coalesce)
        return (
            f"coalesce(cast(CASE WHEN {n} = 0 THEN NULL ELSE element_at("
            f"sort_array(array_agg({low}) FILTER (WHERE {keep})), "
            f"cast(({self.pct} * {n} + 99) div 100 as int)) END as double), "
            f"cast(0.0 as double))"
        )


class Percentile(Accumulator):
    """Engine extension: exact continuous percentile (linear interpolation
    between closest ranks — same definition as SQL ``percentile_cont`` /
    DuckDB ``quantile_cont``). The reference has no percentile accumulator;
    its users would post-process collected slices.

    Exactness costs memory proportional to the number of distinct values per
    group (Spark aggregates a value->count map); at 100 TB cardinalities use
    ``ApproxPercentile`` instead. For cross-engine oracle determinism feed it
    integer-valued expressions (interpolation of integers < 2^52 is
    IEEE-exact in every engine)."""

    def __init__(self, p: float = 0.5):
        if not 0.0 <= p <= 1.0:
            raise ValueError("percentile must be in [0, 1]")
        self.p = p

    def agg(self, c):
        return F.percentile(c, F.lit(self.p))

    def sql(self, expr):
        return f"quantile_cont({expr}, {self.p})"


class ApproxPercentile(Accumulator):
    """Engine extension, the 100 TB percentile path: Greenwald-Khanna sketch
    (``percentile_approx``) — bounded memory per group regardless of
    cardinality, mergeable partials (sketches combine), rank error <=
    1/accuracy. No SQL oracle form: the sketch is engine-specific, so
    queries using it are verified by bounded-error tests instead."""

    def __init__(self, p: float = 0.5, accuracy: int = 10000):
        self.p = p
        self.accuracy = accuracy

    def agg(self, c):
        return F.percentile_approx(c, self.p, self.accuracy)


class CappedCollectSet(Accumulator):
    """Engine extension: the first *cap* distinct values per group in sort
    order. This in-aggregate form bounds the RESULT but not the intermediate
    collect_set state; for inputs where per-group cardinality itself is the
    hazard (100 TB), use ``operators.scale.capped_distinct`` which drops
    rows beyond the cap with a window BEFORE collecting, bounding state
    end-to-end. Result shape matches so the two are interchangeable."""

    def __init__(self, cap: int):
        if cap < 1:
            raise ValueError("cap must be >= 1")
        self.cap = cap

    def agg(self, c):
        return F.slice(F.sort_array(F.collect_set(c)), 1, self.cap)

    def sql(self, expr):
        # DuckDB list_slice is 1-based inclusive, same as Spark's slice
        return f"list_slice(list_sort(list(DISTINCT {expr})), 1, {self.cap})"
