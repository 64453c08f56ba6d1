"""Connected components over an edge DataFrame — the clustering step of
near-duplicate removal (LSH/Jaccard pairs are edges; a duplicate cluster
is a component, canonically labeled by its minimum member).

Absent from the reference (no graph ops anywhere; nearest concept is the
set-valued filters, SURVEY §2.2). At 100 TB this is the operator that
turns pairwise similarity output into keep/drop decisions, so it has to
be a distributed fixpoint, not a driver-side union-find: we implement
the alternating large-star/small-star algorithm (Kiveris et al.,
"Connected Components in MapReduce and Beyond", 2014), which converges
in O(log n) rounds on any graph — unlike plain min-label propagation,
whose round count is the graph diameter (fine for clique-ish duplicate
clusters, catastrophic for chains).

Each round is two star operations; each star is one groupBy + one
co-partitioned join on the same key (Catalyst reuses the exchange), all
JVM-side. Lineage is cut per round with ``localCheckpoint`` — an
iterative driver loop otherwise compounds the plan until analysis cost
dominates. On a real cluster prefer reliable checkpointing
(``spark.sparkContext.setCheckpointDir`` + ``.checkpoint()``) so a lost
executor doesn't recompute the whole prefix; the loop structure is
unchanged.

Convergence is detected by an (edge-count, xxhash64-sum) signature of
the canonical edge set being stable across a round — one tiny aggregate
action per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["connected_components"]


def _large_star(e: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(N(u) ∪ {u}).

    The output is NOT deduplicated here (r13): `_small_star` min-
    aggregates on its greatest-endpoint key (duplicates cannot change a
    min) and ends in its own ``distinct``, so an intermediate distinct
    only re-shuffled ~|E| rows to remove the few (dst, m) collisions —
    one whole Exchange per CC round for nothing. Row count stays ~|E|
    without it: each undirected edge survives the ``dst > src`` guard
    exactly once, and the `mins` join is 1:1 on src."""
    sym = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    mins = (
        sym.groupBy("src")
        .agg(F.min("dst").alias("_md"))
        .select("src", F.least(F.col("src"), F.col("_md")).alias("_m"))
    )
    return (
        sym.join(mins, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("_m").alias("dst"))
        .where(F.col("src") != F.col("dst"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Within each node's strictly-smaller neighborhood (plus itself),
    connect everything to the minimum."""
    e2 = e.select(
        F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
    ).where(F.col("u") != F.col("v"))
    mins = e2.groupBy("u").agg(F.min("v").alias("_m"))
    out = (
        e2.join(mins, "u")
        .select(F.col("v").alias("src"), F.col("_m").alias("dst"))
        .union(mins.select(F.col("u").alias("src"), F.col("_m").alias("dst")))
    )
    return out.where(F.col("src") != F.col("dst")).distinct()


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    max_iter: int = 50,
) -> DataFrame:
    """Component labels for every vertex appearing in *edges* (any
    orderable id type; both columns must share it). Returns columns
    ``(id, component)`` where ``component`` is the minimum vertex id of
    the component — a canonical, deterministic cluster label.

    Vertices with no edges don't appear (a caller de-duplicating
    documents left-joins this onto the full corpus and treats null as
    "its own singleton cluster").
    """
    from pyspark.sql import Observation

    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    prev = None
    for _ in range(max_iter):
        out = _small_star(_large_star(e))
        # signature via observe: CollectMetrics computes the
        # (count, hash-sum) signature as rows stream INTO the eager
        # checkpoint's materialization — one Spark job per round, with
        # no separate aggregate subtree (partial agg + single-partition
        # Exchange + final-agg stage) planned and scheduled per round.
        # The checkpointed RDD is what the next round reads.
        obs = Observation()
        e = out.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")).alias("h"),
        ).localCheckpoint(eager=True)
        got = obs.get
        sig = (got["n"], got["h"])
        if sig == prev:
            break
        prev = sig
    else:
        raise RuntimeError(f"connected_components: no fixpoint in {max_iter} rounds")
    # at the fixpoint the edge set is a union of stars rooted at each
    # component's minimum: node -> root from the edges, roots map to
    # themselves
    m = e.groupBy("src").agg(F.min("dst").alias("component"))
    roots = m.select(F.col("component").alias("src"), F.col("component")).distinct()
    return (
        m.unionByName(roots)
        .groupBy("src")
        .agg(F.min("component").alias("component"))
        .select(F.col("src").alias("id"), "component")
    )


# ---------------------------------------------------------------------------
# Quantized PageRank
# ---------------------------------------------------------------------------


def pagerank_quantized(
    nodes: DataFrame,
    edges: DataFrame,
    iters: int = 5,
    scale: int = 10**9,
    damping_num: int = 85,
    damping_den: int = 100,
    checkpoint_every: int = 4,
) -> DataFrame:
    """Power-iteration PageRank with INTEGER-quantized ranks — the
    domain-authority score of web-corpus curation (CommonCrawl-style
    harmonic/PageRank domain ranking), made bit-reproducible.

    Ranks live in integer units of 1/*scale*: every iteration computes

        r'(v) = floor(scale * (1-d) / N)
                + sum over in-edges (u,v) of  floor(r(u) * 85 / (outdeg(u) * 100))

    entirely in 64-bit integer arithmetic (floor division), so the sum
    is order-independent and two engines agree bit-for-bit — unlike
    float PageRank, where reduction order drifts ULPs.  Dangling nodes
    (no out-edges) simply leak their damped mass, the standard
    "remove dangling contribution" variant.

    *nodes* must have column ``id``; *edges* columns ``src, dst``
    (self-loops and duplicates are removed here).  Returns (id, rank_q)
    with rank_q the integer rank after *iters* rounds.

    Scale shape: the edge table is the big side and it is shuffled ONCE
    per iteration on src (join with the rank vector, which is node-sized)
    then aggregated on dst; ranks/outdeg are node-cardinality.  The
    iteration count is fixed and small; lineage is cut every
    *checkpoint_every* rounds (the rank plan grows only linearly per
    round — one join + one aggregate — so a small batch of uncut rounds
    is cheaper than a materialization per round; connected_components
    cuts every round because its edge set REWRITES each round)."""
    e = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        # lazy (r13): the first consuming action materializes the edge
        # checkpoint once (block-locked); eager ran an extra build-time
        # job inside the timed cell
        .localCheckpoint(eager=False)
    )
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    n_nodes = nodes.count()
    base = (scale * (damping_den - damping_num) // damping_den) // n_nodes
    init = scale // n_nodes
    ranks = nodes.select(F.col("id"), F.lit(init).cast("long").alias("rank_q"))
    for it in range(iters):
        contrib = (
            e.join(ranks.withColumnRenamed("id", "src"), "src")
            .join(outdeg, "src")
            .select(
                F.col("dst").alias("id"),
                F.expr(f"rank_q * {damping_num} div (outdeg * {damping_den})").alias(
                    "_c"
                ),
            )
            .groupBy("id")
            .agg(F.sum("_c").alias("_in"))
        )
        ranks = (
            nodes.select("id")
            .join(contrib, "id", "left")
            .select(
                "id",
                (F.lit(base) + F.coalesce(F.col("_in"), F.lit(0))).cast("long").alias(
                    "rank_q"
                ),
            )
        )
        if (it + 1) % checkpoint_every == 0 and (it + 1) < iters:
            # lazy (r13, same rationale as the CC loop's ee0d143): the
            # consumer's action materializes the checkpoint — no
            # separate eager-checkpoint job inside the timed cell
            ranks = ranks.localCheckpoint(eager=False)
    return ranks


def pagerank_sql(
    nodes_cte: str,
    edges_cte: str,
    iters: int = 5,
    scale: int = 10**9,
    damping_num: int = 85,
    damping_den: int = 100,
) -> str:
    """DuckDB twin of :func:`pagerank_quantized`: the fixed iteration
    count unrolls into a CTE chain (r0..r{iters}) doing the same integer
    floor-division arithmetic.  *nodes_cte* selects ``id``; *edges_cte*
    selects ``src, dst`` (deduped here identically)."""
    parts = [
        f"_nodes AS ({nodes_cte})",
        f"_rawe AS ({edges_cte})",
        "_edges AS (SELECT DISTINCT src, dst FROM _rawe WHERE src <> dst)",
        "_outdeg AS (SELECT src, count(*) AS outdeg FROM _edges GROUP BY src)",
        "_n AS (SELECT count(*) AS n FROM _nodes)",
        (
            f"r0 AS (SELECT id, cast(cast({scale} as bigint) // n as bigint) AS rank_q "
            "FROM _nodes, _n)"
        ),
    ]
    # evaluate the damped base mass in Python so the SQL literal is small
    # enough for every engine's integer literal typing
    mass = scale * (damping_den - damping_num) // damping_den
    base = f"(cast({mass} as bigint) // n)"
    for i in range(iters):
        parts.append(
            f"r{i + 1} AS ("
            "SELECT _nodes.id, "
            f"cast({base} + coalesce(_c.s, 0) as bigint) AS rank_q "
            "FROM _nodes CROSS JOIN _n LEFT JOIN ("
            "SELECT _edges.dst AS id, "
            f"sum(r{i}.rank_q * {damping_num} // (_outdeg.outdeg * {damping_den})) AS s "
            f"FROM _edges JOIN r{i} ON _edges.src = r{i}.id "
            "JOIN _outdeg ON _edges.src = _outdeg.src "
            "GROUP BY _edges.dst) _c ON _nodes.id = _c.id)"
        )
    return (
        "WITH " + ",\n".join(parts) + f"\nSELECT id, rank_q FROM r{iters}"
    )


# ---------------------------------------------------------------------------
# Triangle counting
# ---------------------------------------------------------------------------


def triangle_count(edges: DataFrame) -> DataFrame:
    """Exact global triangle count over an undirected graph given as a
    (src, dst) edge DataFrame (direction/duplicates/self-loops cleaned
    here) — the clustering-coefficient numerator of graph analytics.

    The classic two-join formulation with DEGREE ORIENTATION: orient
    each undirected edge from its lower-degree endpoint to the higher
    (ties by id), which bounds every node's out-degree by O(sqrt(E)) on
    any graph — so the wedge join (the quadratic step) enumerates
    O(E^1.5) candidates total instead of sum(deg^2) (Schank/Wagner 2005;
    the standard MapReduce/Spark triangle recipe).  Both joins are
    equi-joins on node keys; no all-pairs anywhere.

    Returns a single row: n_nodes, n_edges, n_wedges, n_triangles."""
    und = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("v"))
        .unionByName(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    da = deg.select(F.col("v").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("v").alias("b"), F.col("deg").alias("deg_b"))
    oriented = (
        und.join(da, "a")
        .join(db, "b")
        .select(
            F.when(
                (F.col("deg_a") < F.col("deg_b"))
                | ((F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("u"), F.col("b").alias("w")),
            )
            .otherwise(F.struct(F.col("b").alias("u"), F.col("a").alias("w")))
            .alias("e")
        )
        .select("e.u", "e.w")
    )
    w1 = oriented.select(F.col("u"), F.col("w").alias("w1"))
    w2 = oriented.select(F.col("u"), F.col("w").alias("w2"))
    wedges = w1.join(w2, "u").filter(F.col("w1") < F.col("w2"))
    # a wedge (w1 < w2) closes iff {w1, w2} is an edge — und IS that set
    closing = und.select(F.col("a").alias("w1"), F.col("b").alias("w2"))
    tri = wedges.join(closing, ["w1", "w2"], "left_semi")
    return (
        und.agg(F.count(F.lit(1)).alias("n_edges"))
        .crossJoin(deg.agg(F.count(F.lit(1)).alias("n_nodes")))
        .crossJoin(wedges.agg(F.count(F.lit(1)).alias("n_wedges")))
        .crossJoin(tri.agg(F.count(F.lit(1)).alias("n_triangles")))
        .select("n_nodes", "n_edges", "n_wedges", "n_triangles")
    )


def triangle_count_sql(edges_cte: str) -> str:
    """DuckDB twin of :func:`triangle_count` (same orientation, same
    wedge-close joins)."""
    return f"""
    WITH _raw AS ({edges_cte}),
    _und AS (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM _raw WHERE src <> dst
    ),
    _deg AS (
        SELECT v, count(*) AS deg FROM (
            SELECT a AS v FROM _und UNION ALL SELECT b AS v FROM _und
        ) GROUP BY v
    ),
    _orient AS (
        SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND a < b)
                    THEN a ELSE b END AS u,
               CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND a < b)
                    THEN b ELSE a END AS w
        FROM _und
        JOIN _deg da ON da.v = a
        JOIN _deg db ON db.v = b
    ),
    _wedges AS (
        SELECT e1.u, e1.w AS w1, e2.w AS w2
        FROM _orient e1 JOIN _orient e2 ON e1.u = e2.u AND e1.w < e2.w
    ),
    _closing AS (
        SELECT DISTINCT least(u, w) AS w1, greatest(u, w) AS w2 FROM _orient
    ),
    _tri AS (
        SELECT _wedges.* FROM _wedges
        SEMI JOIN _closing ON _wedges.w1 = _closing.w1 AND _wedges.w2 = _closing.w2
    )
    SELECT (SELECT cast(count(*) as bigint) FROM _deg) AS n_nodes,
           (SELECT cast(count(*) as bigint) FROM _und) AS n_edges,
           (SELECT cast(count(*) as bigint) FROM _wedges) AS n_wedges,
           (SELECT cast(count(*) as bigint) FROM _tri) AS n_triangles
    """


def bounded_reachability(
    edges: DataFrame, seeds: DataFrame, hops: int
) -> DataFrame:
    """Vertices reachable from *seeds* within <= *hops* directed edges,
    with the minimal hop distance — bounded BFS as iterated joins (the
    DataFrame form of a depth-limited recursive CTE; transitive-closure
    queries, dependency cones, contamination blast radius).

    *edges*: (src, dst); *seeds*: (id).  Returns (id, min_hops).

    Scale shape: frontier-driven — each round joins the FRONTIER
    (newly-reached nodes only, not the full visited set) against the
    edge table on src; visited stays node-cardinality.  Fixed small
    hop counts unroll without checkpointing (plan depth is linear)."""
    visited = seeds.select(F.col("id"), F.lit(0).alias("min_hops"))
    frontier = visited
    for h in range(1, hops + 1):
        nxt = (
            frontier.join(edges.withColumnRenamed("src", "id"), "id")
            .select(F.col("dst").alias("id"))
            .distinct()
            .join(visited.select("id"), "id", "left_anti")
            .select("id", F.lit(h).alias("min_hops"))
        )
        visited = visited.unionByName(nxt)
        frontier = nxt
    return visited


def bounded_reachability_sql(
    edges_cte: str, seeds_cte: str, hops: int
) -> str:
    """DuckDB twin of :func:`bounded_reachability` — a depth-limited
    RECURSIVE CTE taking the min hop distance per vertex."""
    return f"""
    WITH RECURSIVE _edges AS ({edges_cte}),
    _seeds AS ({seeds_cte}),
    _walk(id, hops) AS (
        SELECT id, 0 FROM _seeds
        UNION ALL
        SELECT _edges.dst, _walk.hops + 1
        FROM _walk JOIN _edges ON _walk.id = _edges.src
        WHERE _walk.hops < {hops}
    )
    SELECT id, cast(min(hops) as int) AS min_hops
    FROM _walk GROUP BY id
    """
