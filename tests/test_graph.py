"""Connected components (operators/graph.py) — large-star/small-star."""

import random

from pyspark.sql import Row

from bacon_spark.operators.graph import connected_components


def _got(df):
    return {r["id"]: r["component"] for r in df.collect()}


def _union_find(n_edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in n_edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical label = min of component
    label = {}
    for x in list(parent):
        r = find(x)
        label.setdefault(r, r)
        label[x] = min(label.get(x, x), r)
    return {x: find(x) for x in parent}


def test_cc_chain_converges_fast(spark):
    # a 40-node path is the adversarial case for plain label propagation
    # (diameter rounds); star-contraction must still finish well under
    # max_iter and label everything with the minimum
    edges = spark.createDataFrame([Row(src=i, dst=i + 1) for i in range(40)])
    out = _got(connected_components(edges, max_iter=12))
    assert out == {i: 0 for i in range(41)}


def test_cc_multiple_components_and_self_loops(spark):
    edges = spark.createDataFrame(
        [
            Row(src=5, dst=3),
            Row(src=3, dst=9),
            Row(src=7, dst=7),      # self loop: ignored entirely
            Row(src=20, dst=21),
            Row(src=22, dst=21),
        ]
    )
    out = _got(connected_components(edges))
    assert out == {3: 3, 5: 3, 9: 3, 20: 20, 21: 20, 22: 20}
    assert 7 not in out  # self-loop-only vertex has no edges


def test_cc_string_ids(spark):
    edges = spark.createDataFrame(
        [Row(src="banana", dst="apple"), Row(src="banana", dst="cherry"),
         Row(src="x", dst="y")]
    )
    out = _got(connected_components(edges))
    assert out == {
        "apple": "apple", "banana": "apple", "cherry": "apple",
        "x": "x", "y": "x",
    }


def test_cc_random_vs_union_find(spark):
    """Labels equal union-find on a random sparse graph, and on a
    duplicate-heavy multi-component graph (both orientations, every edge
    repeated) joined to a chain, which needs several rounds to reach the
    fixpoint the per-round signature detects."""
    rng = random.Random(7)
    sparse = [(rng.randrange(300), rng.randrange(300)) for _ in range(250)]
    rng = random.Random(21)
    dup_heavy = [(rng.randrange(120), rng.randrange(120)) for _ in range(90)]
    dup_heavy += [(500 + i, 501 + i) for i in range(12)]  # a chain: >2 rounds
    dup_heavy = dup_heavy * 2 + [(b, a) for a, b in dup_heavy]
    for edges in (sparse, dup_heavy):
        edges = [(a, b) for a, b in edges if a != b]
        df = spark.createDataFrame([Row(src=a, dst=b) for a, b in edges])
        assert _got(connected_components(df)) == _union_find(edges)


def test_cc_duplicate_multi_edges_and_star_internals(spark):
    """r13 pin: `_large_star` no longer deduplicates its output (one
    Exchange per round removed) — components must be unchanged even when
    the input itself carries heavy duplicate multi-edges in both
    orientations, and the per-round rows stay bounded (~|E|, no blowup)."""
    from pyspark.sql import functions as F

    from bacon_spark.operators.graph import _large_star, _small_star

    base = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (5, 1)]
    dup = base * 3 + [(b, a) for a, b in base] * 2
    df = spark.createDataFrame([Row(src=a, dst=b) for a, b in dup])
    out = _got(connected_components(df))
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 12: 10}

    # one un-deduped round emits at most |sym where dst>src| = |distinct E|
    # rows per duplicate of the input (no quadratic blowup), and its
    # DISTINCT closure equals the closure of the deduped input's round
    e = df.select("src", "dst").where(F.col("src") != F.col("dst"))
    e_dd = e.distinct()
    round_raw = _small_star(_large_star(e))
    round_dd = _small_star(_large_star(e_dd))
    assert sorted(map(tuple, round_raw.collect())) == sorted(
        map(tuple, round_dd.collect())
    )
    inner = _large_star(e_dd)
    assert inner.count() <= e_dd.count()


def test_triangle_count_known_graphs(spark):
    from pyspark.sql import Row

    from bacon_spark.operators.graph import triangle_count

    def count(edges):
        df = spark.createDataFrame([Row(src=s, dst=d) for s, d in edges])
        return triangle_count(df).collect()[0]

    # K4: 4 triangles, 6 edges; duplicates/reversed/self edges cleaned
    k4 = [(a, b) for a in range(4) for b in range(4) if a != b] + [(0, 0), (1, 1)]
    r = count(k4)
    assert (r["n_nodes"], r["n_edges"], r["n_triangles"]) == (4, 6, 4)
    # path graph: no triangles; orientation kills ALL wedge candidates
    # (no node keeps out-degree 2 — the whole point of degree orientation)
    r = count([(0, 1), (1, 2), (2, 3)])
    assert r["n_triangles"] == 0 and r["n_wedges"] == 0
    # star graph: center has max degree, so every edge points INTO it —
    # again zero candidates despite O(n^2) undirected wedges
    r = count([(9, i) for i in range(5)])
    assert r["n_triangles"] == 0 and r["n_wedges"] == 0
    # two triangles sharing an edge
    r = count([(0, 1), (1, 2), (0, 2), (2, 3), (1, 3)])
    assert r["n_triangles"] == 2


def test_triangle_count_matches_bruteforce_random(spark):
    import itertools
    import random

    from pyspark.sql import Row

    from bacon_spark.operators.graph import triangle_count

    rnd = random.Random(13)
    nodes = range(25)
    edges = [(a, b) for a, b in itertools.combinations(nodes, 2) if rnd.random() < 0.25]
    eset = set(edges)
    want = sum(
        1
        for a, b, c in itertools.combinations(nodes, 3)
        if (a, b) in eset and (b, c) in eset and (a, c) in eset
    )
    df = spark.createDataFrame([Row(src=s, dst=d) for s, d in edges])
    assert triangle_count(df).collect()[0]["n_triangles"] == want


def test_bounded_reachability_bfs_model(spark):
    from collections import deque

    from pyspark.sql import Row

    from bacon_spark.operators.graph import bounded_reachability

    edges = [(0, 1), (1, 2), (2, 3), (3, 4), (0, 5), (5, 3), (7, 0)]
    seeds = [0]
    hops = 2
    adj = {}
    for s, d in edges:
        adj.setdefault(s, []).append(d)
    dist = {0: 0}
    q = deque([0])
    while q:
        u = q.popleft()
        if dist[u] >= hops:
            continue
        for v in adj.get(u, []):
            if v not in dist:
                dist[v] = dist[u] + 1
                q.append(v)
    edf = spark.createDataFrame([Row(src=s, dst=d) for s, d in edges])
    sdf = spark.createDataFrame([Row(id=i) for i in seeds])
    got = {r["id"]: r["min_hops"] for r in bounded_reachability(edf, sdf, hops).collect()}
    assert got == dist           # {0:0, 1:1, 5:1, 2:2, 3:2} — 4 is 3 hops, excluded
    assert 4 not in got and 7 not in got  # depth bound + directionality
