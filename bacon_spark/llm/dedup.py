"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Engine extensions for training-data pipelines (north star; absent in the
reference). All hot paths are built-in Spark SQL expressions — md5-based
integer hashing, higher-order array functions — so signature computation is
embarrassingly parallel map-side work, and the only shuffles are the ones
the algorithms fundamentally need (the group-by on hash/band keys).

Scale design (100 TB):

* exact dedup = one hash-aggregate on a 60-bit digest: shuffle of (digest,
  id) pairs only, never the document bodies; AQE handles skew.
* MinHash/LSH: per-doc signatures are map-side; candidate generation
  explodes b band keys per doc and groups by band — the classic
  shingle→minhash→band→bucket-join pipeline, with cost b·|docs| rows, not
  |docs|² pairs. Verification (exact Jaccard) runs only inside buckets.
* SimHash: map-side 16/64-bit signatures; near-dup lookup via banding the
  signature or hamming probing — here we provide the signature operator
  plus bucket-join candidates.

Hashing uses the first 15 hex digits of md5 as a 60-bit integer — chosen
because BOTH Spark (``conv(substr(md5(x),1,15),16,10)``) and DuckDB
(``('0x'||substr(md5(x),1,15))::bigint``) compute it identically, making
every operator here oracle-checkable bit-for-bit. MinHash permutations are
``(a_i·(h mod p) + b_i) mod p`` with p = 2^31−1 and fixed odd multipliers,
kept < 2^31 so products stay inside int64.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import tokens, tokens_sql

#: Mersenne prime for the universal-hash family (fits products in int64)
MINHASH_P = 2_147_483_647
#: fixed (a, b) parameters — deterministic, seedless (Date.now-free)
MINHASH_PARAMS: tuple[tuple[int, int], ...] = tuple(
    (37 + 24 * i, 11 + 1_000_003 * i) for i in range(8)
)
SIMHASH_BITS = 16


# ---------------------------------------------------------------------------
# base 60-bit hash (identical in Spark and DuckDB)
# ---------------------------------------------------------------------------


def hash60(c: Column) -> Column:
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def hash60_sql(expr: str) -> str:
    return f"cast(('0x' || substr(md5({expr}), 1, 15)) as bigint)"


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id row per exact text digest.

    One hash-aggregate over (digest -> min id), then a semi-join back —
    both shuffles carry only (digest, id), never document bodies."""
    digests = df.select(F.col(id_col), hash60(F.col(text_col)).alias("_digest"))
    keep = digests.groupBy("_digest").agg(F.min(id_col).alias(id_col))
    return df.join(keep.select(id_col), id_col, "left_semi")


def exact_dup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Digest groups with >1 member: (digest, n_dups, keeper id)."""
    return (
        df.select(hash60(F.col(text_col)).alias("digest"), F.col(id_col))
        .groupBy("digest")
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min(id_col).alias("keep_id"))
        .filter(F.col("n_dups") > 1)
    )


# ---------------------------------------------------------------------------
# Shingles + MinHash
# ---------------------------------------------------------------------------


def shingles(c: Column, k: int = 3) -> Column:
    """Distinct k-token shingles (word n-grams joined by spaces).

    The token array is let-bound so tokenization runs once, not once per
    branch (functions/exprs.py)."""
    from ..functions.exprs import let

    def build(toks: Column) -> Column:
        n = F.size(toks)
        idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
        return (
            F.when(
                n >= k,
                F.array_distinct(
                    F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)))
                ),
            )
            .when(n > 0, F.array(F.concat_ws(" ", toks)))
            .otherwise(F.array().cast("array<string>"))
        )

    return let(tokens(c), build)


def shingles_sql(expr: str, k: int = 3) -> str:
    toks = tokens_sql(expr)
    return (
        f"CASE WHEN len({toks}) >= {k} THEN "
        f"list_distinct(list_transform(range(1, len({toks}) - {k} + 2), "
        f"i -> array_to_string(list_slice({toks}, i, i + {k} - 1), ' '))) "
        f"WHEN len({toks}) > 0 THEN [array_to_string({toks}, ' ')] "
        f"ELSE [] END"
    )


def shingle_hashes(c: Column, k: int = 3) -> Column:
    """60-bit hash per shingle, reduced mod p (computed once, reused by all
    minhash permutations)."""
    return F.transform(shingles(c, k), lambda s: hash60(s) % MINHASH_P)


def shingle_hashes_sql(expr: str, k: int = 3) -> str:
    return (
        f"list_transform({shingles_sql(expr, k)}, s -> {hash60_sql('s')} % {MINHASH_P})"
    )


def minhash_signature(c: Column, k: int = 3, params=MINHASH_PARAMS) -> Column:
    """MinHash signature: array of min((a_i·h + b_i) mod p) over shingle
    hashes; empty docs get p (the identity of min) in every slot.

    Single pass: the md5-derived hash array is let-bound and folded ONCE
    with a running elementwise-min of all permutations (a naive
    one-array_min-per-permutation tree re-evaluates the md5 work |params|
    times — 8x slower measured at sf0.1)."""
    from ..functions.exprs import let

    def fold(hashes: Column) -> Column:
        zero = F.array(*[F.lit(MINHASH_P).cast("long") for _ in params])

        def step(acc: Column, h: Column) -> Column:
            permuted = F.array(*[(a * h + b) % MINHASH_P for a, b in params])
            return F.zip_with(acc, permuted, lambda x, y: F.least(x, y))

        return F.aggregate(hashes, zero, step)

    return let(shingle_hashes(c, k), fold)


def minhash_signature_sql(expr: str, k: int = 3, params=MINHASH_PARAMS) -> str:
    hashes = shingle_hashes_sql(expr, k)
    slots = ", ".join(
        f"coalesce(list_min(list_transform({hashes}, h -> ({a} * h + {b}) % {MINHASH_P})), {MINHASH_P})"
        for a, b in params
    )
    return f"[{slots}]"


def minhash_band_keys(sig: Column, bands: int, rows: int) -> Column:
    """LSH band keys: one string key per band = band index + joined slice
    of the signature."""
    keys = [
        F.concat_ws(
            ":", F.lit(str(bi)), F.concat_ws(",", F.slice(sig, bi * rows + 1, rows).cast("array<string>"))
        )
        for bi in range(bands)
    ]
    return F.array(*keys)


def signature_frame(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """(id, sig) frame with the signature computed ONCE and persisted —
    the self-join in candidate generation would otherwise recompute the
    md5-heavy signature expression on both sides.  Managed persist: the
    session owner releases it via bacon_spark.release_caches()."""
    from ..utils.caching import managed_persist

    return managed_persist(
        df.select(F.col(id_col), minhash_signature(F.col(text_col), k).alias("sig"))
    )


def lsh_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    bands: int = 4,
    rows: int = 2,
    sig_df: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-dup pairs via MinHash LSH banding: explode band keys,
    self-join per bucket (id_a < id_b), dedupe pairs.

    Shuffle cost is O(bands · docs) key rows; the |docs|² blowup never
    materializes. Returns (id_a, id_b, n_shared_bands)."""
    if sig_df is None:
        sig_df = signature_frame(df, text_col, id_col, k)
    keyed = sig_df.select(
        F.col(id_col),
        F.explode(minhash_band_keys(F.col("sig"), bands, rows)).alias("band_key"),
    )
    a = keyed.alias("a")
    b = keyed.alias("b")
    return (
        a.join(b, (F.col("a.band_key") == F.col("b.band_key")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )


def lsh_star_edges(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    bands: int = 4,
    rows: int = 2,
    sig_df: DataFrame | None = None,
) -> DataFrame:
    """STAR edges per LSH band bucket: every bucket member connects to the
    bucket-minimum id (the hub), giving Σ bucket edges instead of
    Σ bucket² pairs — the linear-in-cluster-size candidate graph big
    dedup pipelines use for clustering.

    Connectivity: any two docs sharing a bucket are joined through its
    hub, so the components of the star graph EQUAL the components of the
    full in-bucket pair graph.  What is lost vs :func:`lsh_candidate_
    pairs` is only the per-pair evidence (n_shared_bands / direct pair
    list) — exactly the part that cost bucket².  Returns distinct
    (id_a=hub, id_b=member) with id_a < id_b by construction."""
    if sig_df is None:
        sig_df = signature_frame(df, text_col, id_col, k)
    keyed = sig_df.select(
        F.col(id_col),
        F.explode(minhash_band_keys(F.col("sig"), bands, rows)).alias("band_key"),
    )
    hubs = (
        keyed.groupBy("band_key")
        .agg(F.min(id_col).alias("_hub"), F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > 1)
        .select("band_key", "_hub")
    )
    return (
        keyed.join(hubs, "band_key")
        .filter(F.col(id_col) != F.col("_hub"))
        .select(F.col("_hub").alias("id_a"), F.col(id_col).alias("id_b"))
        .distinct()
    )


def star_edge_graph(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float | None = None,
    bands: int = 4,
    rows: int = 2,
) -> DataFrame:
    """:func:`lsh_star_edges`, optionally with each hub edge verified by
    exact shingle Jaccard — the shared candidate graph under
    :func:`canonical_dedup_scalable` and :func:`leakage_safe_split`.

    When *threshold* is not None the shingle frame is persisted
    (managed: the returned plan reads it twice — once per edge endpoint
    — so the SESSION owner unpersists via bacon_spark.release_caches())."""
    from ..utils.caching import managed_persist

    edges = lsh_star_edges(df, text_col, id_col, k, bands, rows)
    if threshold is not None:
        sh = managed_persist(
            df.select(F.col(id_col), shingles(F.col(text_col), k).alias("_sh"))
        )
        a, b = sh.alias("sa"), sh.alias("sb")
        edges = (
            edges.join(a, edges.id_a == F.col(f"sa.{id_col}"))
            .join(b, edges.id_b == F.col(f"sb.{id_col}"))
            .filter(
                F.round(jaccard(F.col("sa._sh"), F.col("sb._sh")), 8) >= threshold
            )
            .select("id_a", "id_b")
        )
    return edges


def canonical_dedup_scalable(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float | None = None,
    bands: int = 4,
    rows: int = 2,
    edges_df: DataFrame | None = None,
    cc_df: DataFrame | None = None,
) -> DataFrame:
    """:func:`canonical_dedup` on the star-edge candidate graph — the
    100 TB path.  :func:`canonical_dedup` enumerates every verified pair
    inside each near-dup cluster (Σ cluster² — measured 42.8x wall at
    10x data on the replica corpus, SCALE.md decade 2); this variant
    clusters through Σ bucket hub edges, linear in cluster size.

    *threshold*: optionally verify each STAR EDGE with exact shingle
    Jaccard before clustering.  Note the explicit recall trade vs the
    pair graph: a member whose hub edge fails verification disconnects
    even if some non-hub pair would have passed — the price of never
    materializing pairs.  With threshold=None the components exactly
    equal canonical_dedup's candidate components (see lsh_star_edges).

    *edges_df* / *cc_df*: ALREADY-MATERIALIZED stages of the near-dup
    graph (the once-per-ingest artifact, gate _neardup_prebuilt):
    edges_df is the verified (id_a, id_b) star-edge frame, cc_df the
    finished (id, component) map — both deterministic, so probing the
    persisted stage is row-identical to rebuilding it. Passing cc_df
    skips BOTH the LSH+verify pass and the O(log n) component
    iterations, leaving the consumer just its own joins — where the
    cost belongs once several pipeline stages (dedup q151, split q159)
    consume one graph."""
    from ..operators.graph import connected_components

    if cc_df is not None:
        cc = cc_df
    else:
        edges = (
            edges_df
            if edges_df is not None
            else star_edge_graph(df, text_col, id_col, k, threshold, bands, rows)
        )
        cc = connected_components(edges, src="id_a", dst="id_b")
    losers = cc.filter(F.col("id") != F.col("component")).select("id")
    stats = (
        cc.groupBy("component")
        .agg((F.count(F.lit(1)) - 1).alias("n_removed"))
        .withColumnRenamed("component", id_col)
    )
    return (
        df.join(losers.withColumnRenamed("id", id_col), id_col, "left_anti")
        .join(stats, id_col, "left")
        .withColumn("n_removed", F.coalesce(F.col("n_removed"), F.lit(0)))
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(c: Column, bits: int = SIMHASH_BITS) -> Column:
    """SimHash over word tokens: per-bit majority vote of token hashes.

    bit_j(doc) = 1 iff sum over tokens of ±1 (sign of hash bit j) > 0;
    signature = Σ bit_j · 2^j. Near-identical docs differ in few bits."""
    from ..functions.exprs import let

    def fold(hashes: Column) -> Column:
        zero = F.array(*[F.lit(0).cast("long") for _ in range(bits)])

        def step(acc: Column, h: Column) -> Column:
            votes = F.array(
                *[
                    F.when(h.bitwiseAND(F.lit(1 << j)) != 0, 1).otherwise(-1)
                    for j in range(bits)
                ]
            )
            return F.zip_with(acc, votes, lambda a, v: a + v)

        def to_bits(votes: Column) -> Column:
            return F.aggregate(
                F.zip_with(
                    votes,
                    F.array(*[F.lit(1 << j).cast("long") for j in range(bits)]),
                    lambda v, w: F.when(v > 0, w).otherwise(F.lit(0).cast("long")),
                ),
                F.lit(0).cast("long"),
                lambda a, x: a + x,
            )

        return let(F.aggregate(hashes, zero, step), to_bits)

    return let(F.transform(F.array_distinct(tokens(c)), lambda t: hash60(t)), fold)


def simhash_sql(expr: str, bits: int = SIMHASH_BITS) -> str:
    toks = f"list_distinct({tokens_sql(expr)})"
    hashes = f"list_transform({toks}, t -> {hash60_sql('t')})"
    terms = []
    for j in range(bits):
        vote = (
            f"list_sum(list_transform({hashes}, "
            f"h -> CASE WHEN (h & {1 << j}) <> 0 THEN 1 ELSE -1 END))"
        )
        terms.append(f"CASE WHEN coalesce({vote}, 0) > 0 THEN {1 << j} ELSE 0 END")
    return "cast(" + " + ".join(terms) + " as bigint)"


def hamming_distance(a: Column, b: Column, bits: int = SIMHASH_BITS) -> Column:
    x = a.bitwiseXOR(b)
    return sum(
        F.when(x.bitwiseAND(F.lit(1 << j)) != 0, 1).otherwise(0) for j in range(bits)
    ).cast("int")


# ---------------------------------------------------------------------------
# n-gram Jaccard verification
# ---------------------------------------------------------------------------


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two string arrays (assumed distinct): |∩| / |∪|,
    divided in double (oracle-deterministic)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter.cast("double") / union.cast("double")).otherwise(F.lit(0.0))


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
    bands: int = 4,
    rows: int = 2,
) -> DataFrame:
    """LSH candidates verified with exact shingle Jaccard ≥ threshold.

    The exact check touches only LSH-bucketed pairs, so the quadratic term
    is bounded by bucket sizes, not corpus size."""
    from ..utils.caching import managed_persist

    sh = managed_persist(
        df.select(F.col(id_col), shingles(F.col(text_col), k).alias("_sh"))
    )
    cand = lsh_candidate_pairs(df, text_col, id_col, k, bands, rows)
    a = sh.alias("sa")
    b = sh.alias("sb")
    return (
        cand.join(a, cand.id_a == F.col(f"sa.{id_col}"))
        .join(b, cand.id_b == F.col(f"sb.{id_col}"))
        .select(
            "id_a",
            "id_b",
            F.round(jaccard(F.col("sa._sh"), F.col("sb._sh")), 8).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# Near-dup clustering (connected components over candidate pairs)
# ---------------------------------------------------------------------------


def dup_clusters(
    pairs: DataFrame,
    max_iterations: int = 10,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Cluster duplicate pairs into groups: connected components by
    iterative min-label propagation over DataFrames (no graph library).

    Each node starts labeled with itself; every round, each node adopts the
    smallest label among itself and its neighbors; converges in O(component
    diameter) rounds — near-dup components are tiny (chains of similar
    docs), so the default cap is generous. All joins are on ids only; at
    corpus scale the edge list is the LSH candidate output, already
    sub-quadratic.

    Returns (doc_id, cluster_id) where cluster_id = min doc id in the
    component.
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("cluster_id", F.col("id"))
        .persist()
    )
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("cluster_id").alias("nmin"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .select(
                "id",
                F.least(
                    F.col("cluster_id"), F.coalesce(F.col("nmin"), F.col("cluster_id"))
                ).alias("cluster_id"),
            )
            .persist()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.cluster_id") != F.col("o.cluster_id"))
            .limit(1)
            .count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    edges.unpersist()
    return labels.select(F.col("id").alias("doc_id"), "cluster_id")


def near_dup_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
    bands: int = 4,
    rows: int = 2,
) -> DataFrame:
    """End-to-end near-dup clustering: LSH candidates -> exact Jaccard
    verification -> connected components. The full
    shingle->minhash->band->bucket->verify->cluster pipeline."""
    verified = ngram_jaccard_pairs(df, text_col, id_col, k, threshold, bands, rows)
    return dup_clusters(verified, id_a="id_a", id_b="id_b")


def canonical_dedup(
    df: DataFrame,
    pairs: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
    bands: int = 4,
    rows: int = 2,
) -> DataFrame:
    """The actual corpus dedup: keep ONE representative per near-duplicate
    cluster (the cluster-minimum id — deterministic, no tie-breaking
    policy to argue about), drop the rest, and annotate each keeper with
    ``n_removed`` (0 for documents in no cluster). *pairs* defaults to
    the verified LSH pipeline (:func:`ngram_jaccard_pairs`).

    Scale shape (100 TB): the cluster table is proportional to the DUP
    population, not the corpus — typically orders of magnitude smaller —
    so both the drop (left_anti) and the annotation (left) are equi-joins
    of the corpus against small sides (AQE broadcasts them); corpus rows
    are never shuffled and bodies never leave their partitions. The
    component step is the O(log n)-round large-star/small-star CC
    (operators/graph.py), not a driver union-find."""
    from ..operators.graph import connected_components

    if pairs is None:
        pairs = ngram_jaccard_pairs(df, text_col, id_col, k, threshold, bands, rows)
    cc = connected_components(pairs.select("id_a", "id_b"), src="id_a", dst="id_b")
    losers = cc.filter(F.col("id") != F.col("component")).select("id")
    stats = (
        cc.groupBy("component")
        .agg((F.count(F.lit(1)) - 1).alias("n_removed"))
        .withColumnRenamed("component", id_col)
    )
    return (
        df.join(losers.withColumnRenamed("id", id_col), id_col, "left_anti")
        .join(stats, id_col, "left")
        .withColumn("n_removed", F.coalesce(F.col("n_removed"), F.lit(0)))
    )


# ---------------------------------------------------------------------------
# Positional shingles: winnowing fingerprints + exact duplicate spans
# ---------------------------------------------------------------------------


def positional_shingle_hashes(c: Column, k: int) -> Column:
    """60-bit hash per k-token shingle IN POSITION ORDER (no distinct —
    winnowing and span dedup need the sequence, not the set).  Documents
    shorter than k tokens yield an empty array."""
    from ..functions.exprs import let

    def build(toks: Column) -> Column:
        n = F.size(toks)
        idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
        return F.when(
            n >= k,
            F.transform(
                idx,
                lambda i: hash60(F.concat_ws(" ", F.slice(toks, i + 1, k)))
                % MINHASH_P,
            ),
        ).otherwise(F.array().cast("array<long>"))

    return let(tokens(c), build)


def positional_shingle_hashes_sql(expr: str, k: int) -> str:
    toks = tokens_sql(expr)
    span = f"array_to_string(list_slice({toks}, i, i + {k} - 1), ' ')"
    return (
        f"CASE WHEN len({toks}) >= {k} THEN "
        f"list_transform(range(1, len({toks}) - {k} + 2), "
        f"i -> {hash60_sql(span)} % {MINHASH_P}) "
        "ELSE [] END"
    )


def winnow_minimizers(c: Column, k: int = 3, w: int = 4) -> Column:
    """Winnowing fingerprint (Schleimer, Wilkerson, Aiken, SIGMOD 2003 —
    the MOSS algorithm): distinct minima of every *w*-wide window over
    the positional k-shingle hash sequence.  Guarantees at least one
    fingerprint per w consecutive shingles, so any shared run of
    w + k − 1 tokens between two documents shares a minimizer — the
    standard sub-document-overlap detector.  Pure codegen array work."""
    from ..functions.exprs import let

    def build(hashes: Column) -> Column:
        n = F.size(hashes)
        win_idx = F.sequence(F.lit(0), F.greatest(n - w, F.lit(0)))
        windows = F.when(
            n >= w,
            F.transform(win_idx, lambda j: F.array_min(F.slice(hashes, j + 1, w))),
        ).when(n > 0, F.array(F.array_min(hashes))).otherwise(
            F.array().cast("array<long>")
        )
        return F.array_distinct(windows)

    return let(positional_shingle_hashes(c, k), build)


def winnow_minimizers_sql(expr: str, k: int = 3, w: int = 4) -> str:
    h = positional_shingle_hashes_sql(expr, k)
    return (
        f"list_distinct(CASE WHEN len({h}) >= {w} THEN "
        f"list_transform(range(1, len({h}) - {w} + 2), "
        f"j -> list_min(list_slice({h}, j, j + {w} - 1))) "
        f"WHEN len({h}) > 0 THEN [list_min({h})] ELSE [] END)"
    )


def winnow_overlap_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    w: int = 4,
    min_shared: int = 3,
    max_df: int | None = None,
) -> DataFrame:
    """Document pairs sharing >= *min_shared* winnowing minimizers:
    (id_a, id_b, shared) with id_a < id_b — near-dup / partial-overlap
    candidates from sub-document fingerprints.

    Scale shape: the corpus maps to (minimizer, id) pairs (fingerprint-
    sized, bodies never shuffled), the self-join is an equi-join on the
    minimizer bucket, and the pair aggregation is bounded by bucket
    sizes — identical to the LSH-banding shape, not all-pairs.

    *max_df* (the production path at scale): drop minimizers whose
    document frequency exceeds the cap before the self-join.  Hot
    minimizers are boilerplate n-grams shared by thousands of documents
    — each contributes bucket² candidate pairs while carrying almost no
    overlap signal (every pair it emits still needs min_shared-1 OTHER
    shared minimizers to surface).  The cap turns the Σ bucket² join
    cost into Σ min(bucket, max_df)², i.e. LINEAR in corpus size for
    any fixed cap — this is the fix for the measured 4.6x/decade tail
    of the uncapped q109 (SCALE.md).  The df-count aggregation and the
    pair join shuffle on the same key, so Catalyst reuses one exchange.
    Recall trade is explicit: an overlap attested ONLY by >max_df-hot
    minimizers is dropped."""
    fps = df.select(
        F.col(id_col).alias("id"),
        F.explode(winnow_minimizers(F.col(text_col), k, w)).alias("m"),
    )
    if max_df is not None:
        from pyspark.sql.window import Window

        # The cap as a WINDOW count over one explicit exchange on the
        # bucket key (r13), not a count-aggregate + keep-join: the
        # aggregate branch's subtree never canonicalizes equal to the
        # join sides' (column pruning drops id from it; the pair join's
        # isnotnull(id) pushes into the sides but not the count), so
        # the corpus was scanned + winnowed TWICE per run (measured:
        # 15.5 s + 9.7 s task-time twin stages at sf0.1; a
        # managed_persist was measured too and LOST — columnar cache
        # build/read costs more than the Generate it saves here).
        # count().over(partitionBy(m)) needs exactly the
        # hashpartitioning(m) this repartition provides, the self-join
        # consumes the same partitioning and the window's sort, and the
        # window count equals the groupBy count row-for-row (all rows
        # per m, null ids included). One Generate, one exchange.
        fps = (
            fps.repartition("m")
            .withColumn("_df", F.count(F.lit(1)).over(Window.partitionBy("m")))
            .filter(F.col("_df") <= max_df)
            .select("id", "m")
        )
    a, b = fps.alias("a"), fps.alias("b")
    return (
        a.join(b, (F.col("a.m") == F.col("b.m")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )


def winnow_overlap_pairs_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    w: int = 4,
    min_shared: int = 3,
    max_df: int | None = None,
) -> str:
    """Staged-CTE form (VERDICT r11 next #4): the single-expression form
    (:func:`winnow_minimizers_sql` inlined) references the positional-
    hash array 4x and the token array 3x, and DuckDB re-evaluates a
    non-column subexpression inside each ``list_transform`` lambda PER
    ELEMENT — O(n) evaluations of an O(n·k) expression per document,
    i.e. quadratic per doc.  Materializing each stage (tokens → hashes
    → minimizers) makes every lambda reference a plain column: measured
    58 s → 0.1 s on the 500-doc sf0.01 corpus, identical rows, which is
    what makes the sf1 oracle runnable.  The per-stage math is
    verbatim :func:`winnow_minimizers_sql`."""
    span = f"array_to_string(list_slice(t, i, i + {k} - 1), ' ')"
    df_filter = ""
    if max_df is not None:
        df_filter = f""",
    _keep AS (SELECT m FROM _fp GROUP BY m HAVING count(*) <= {max_df})"""
    src = "(SELECT _fp.* FROM _fp JOIN _keep USING (m))" if max_df is not None else "_fp"
    return f"""
    WITH _tok AS MATERIALIZED (
        SELECT {id_col} AS id, {tokens_sql(text_col)} AS t FROM {table}
    ),
    _hh AS MATERIALIZED (
        SELECT id, CASE WHEN len(t) >= {k} THEN
            list_transform(range(1, len(t) - {k} + 2),
                           i -> {hash60_sql(span)} % {MINHASH_P})
            ELSE [] END AS h
        FROM _tok
    ),
    _mm AS MATERIALIZED (
        SELECT id, list_distinct(CASE WHEN len(h) >= {w} THEN
            list_transform(range(1, len(h) - {w} + 2),
                           j -> list_min(list_slice(h, j, j + {w} - 1)))
            WHEN len(h) > 0 THEN [list_min(h)] ELSE [] END) AS m
        FROM _hh
    ),
    _fp AS (SELECT id, unnest(m) AS m FROM _mm){df_filter}
    SELECT a.id AS id_a, b.id AS id_b, cast(count(*) as bigint) AS shared
    FROM {src} a JOIN {src} b ON a.m = b.m AND a.id < b.id
    GROUP BY a.id, b.id
    HAVING count(*) >= {min_shared}
    """


def duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    top: int = 100,
) -> DataFrame:
    """Exact duplicated k-token spans across documents (the signal behind
    exact-substring dedup, Lee et al. 2022, arXiv:2107.06499): every
    positional k-shingle hash that occurs in more than one document,
    with ``(span_hash, n_docs, n_occurrences, first_doc)``, top-*top*
    by occurrence count.

    Scale shape: corpus maps to (hash, id) — spans themselves never
    shuffle — one partial-aggregated groupBy on the hash, then a
    TakeOrderedAndProject for the report.  The full variant (cut the
    spans out of the corpus) is a join of these hashes back against the
    positional explode, still bodies-local."""
    occ = df.select(
        F.col(id_col).alias("id"),
        F.explode(positional_shingle_hashes(F.col(text_col), k)).alias("h"),
    )
    return (
        occ.groupBy("h")
        .agg(
            F.countDistinct("id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occ"),
            F.min("id").alias("first_doc"),
        )
        .filter(F.col("n_docs") > 1)
        .orderBy(F.desc("n_occ"), F.asc("h"))
        .limit(top)
        .select(F.col("h").alias("span_hash"), "n_docs", "n_occ", "first_doc")
    )


def duplicate_spans_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    top: int = 100,
) -> str:
    h = positional_shingle_hashes_sql(text_col, k)
    return f"""
    WITH _occ AS (
        SELECT {id_col} AS id, unnest({h}) AS h FROM {table}
    )
    SELECT h AS span_hash,
           cast(count(DISTINCT id) as bigint) AS n_docs,
           cast(count(*) as bigint) AS n_occ,
           min(id) AS first_doc
    FROM _occ
    GROUP BY h
    HAVING count(DISTINCT id) > 1
    ORDER BY n_occ DESC, h ASC
    LIMIT {top}
    """


def incremental_lsh_pairs(
    base: DataFrame,
    increment: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    bands: int = 4,
    rows: int = 2,
) -> DataFrame:
    """Asymmetric MinHash-LSH: candidate pairs between a NEW batch and an
    already-indexed base corpus — the incremental-ingest form of
    near-dedup (each daily crawl dedupes against the historical index;
    re-banding base x base every day would be O(history²) wasted work).

    Only (increment x base) and (increment x increment) bucket pairs are
    generated; base x base — by far the largest product — never forms.
    In production the base band keys are the persisted LSH index
    (written bucketed on band_key); this recomputes them for the gate.
    Returns (inc_id, match_id, n_shared_bands, match_side)."""
    def keyed(df: DataFrame, side: str) -> DataFrame:
        sig = signature_frame(df, text_col, id_col, k)
        return sig.select(
            F.col(id_col).alias("id"),
            F.lit(side).alias("side"),
            F.explode(minhash_band_keys(F.col("sig"), bands, rows)).alias("band_key"),
        )

    inc = keyed(increment, "inc")
    allk = keyed(base, "base").unionByName(inc)
    j = inc.alias("a").join(
        allk.alias("b"),
        (F.col("a.band_key") == F.col("b.band_key"))
        & (
            (F.col("b.side") == "base")
            | ((F.col("b.side") == "inc") & (F.col("a.id") < F.col("b.id")))
        ),
    )
    return (
        j.groupBy(
            F.col("a.id").alias("inc_id"),
            F.col("b.id").alias("match_id"),
            F.col("b.side").alias("match_side"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )


def prefix_filtered_jaccard_join(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.6,
) -> DataFrame:
    """EXACT token-set similarity self-join at a Jaccard threshold via
    PPJoin-style prefix filtering (Chaudhuri/Ganti/Kaushik 2006, Xiao et
    al. 2008) — the exact counterpart to MinHash-LSH banding: no missed
    pairs, no verification false negatives.

    Theory: J(x,y) >= t implies overlap >= ceil(t*|x|) (and
    symmetrically for y), so under ANY global token order two
    qualifying sets must share a token inside their
    (|s| - ceil(t*|s|) + 1)-prefixes.  Tokens are ordered rarest-first
    (document frequency, then token), which makes prefixes precisely
    the least-common tokens — candidate buckets stay tiny exactly where
    a frequency-agnostic order would explode on stop-words.

    Scale shape: one df-ranking aggregate (vocabulary-sized), per-doc
    sort of its own token set (map-side), prefix explode (O(docs x
    prefix) rows — bodies never shuffle), equi-join on the prefix
    token, and one exact verify join per candidate pair.  r13: the
    candidate join and the pair dedup move ONLY (id, prefix-token) /
    (id_a, id_b) rows; the token arrays are re-attached to the deduped
    survivors by two id-keyed joins, so each document's array crosses
    the network once per verify join instead of once per prefix copy
    AND once more through the dedup exchange (guide §8: decide with
    small rows, attach payloads last).  The deduped pair set is
    explicitly spread over ``spark.sql.shuffle.partitions`` before the
    verify: AQE coalesces that exchange by BYTES, and a candidate set
    small in bytes but heavy in per-row intersection CPU otherwise
    verifies on one task (measured: 1 task x 1.9 s at sf0.1).
    Returns (id_a, id_b, jacc)."""
    from ..utils.caching import managed_persist

    toks = df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(tokens(F.col(text_col))).alias("_toks"),
    ).filter(F.size("_toks") > 0)
    vocab = toks.select(F.explode("_toks").alias("tok")).groupBy("tok").agg(
        F.count(F.lit(1)).alias("_df")
    )
    # persisted (managed, see utils.caching): four consumers read it —
    # the two prefix-explode sides of the candidate join and the two
    # verify-side array attachments. Unpersisted, Catalyst evaluates the
    # whole subtree (corpus scan + tokenize + vocabulary join + per-doc
    # sort) once per consumer.
    ranked = managed_persist(
        toks.select("id", F.explode("_toks").alias("tok"))
        .join(vocab, "tok")
        .groupBy("id")
        .agg(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct(F.col("_df"), F.col("tok")))
                ),
                lambda s: s["tok"],
            ).alias("sorted_toks")
        )
    )
    n = F.size("sorted_toks")
    prefix_len = n - F.ceil(F.lit(threshold) * n).cast("int") + 1
    pref = ranked.select(
        "id",
        F.explode(F.slice("sorted_toks", 1, prefix_len)).alias("ptok"),
    )
    # distinct column names per side keep the self-join unambiguous
    # without alias-qualified references
    pa = pref.select(F.col("id").alias("id_a"), F.col("ptok"))
    pb = pref.select(F.col("id").alias("id_b"), F.col("ptok"))
    # explicit-N repartition (N from spark.sql.shuffle.partitions, so it
    # is conf-scaled, not a local constant) keyed on id_b — a key the
    # child is NOT already partitioned on, so the optimizer keeps it and
    # AQE honors the user-specified width instead of byte-coalescing the
    # verify onto one task
    nparts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    cand_ids = (
        pa.join(pb, ["ptok"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .repartition(nparts, "id_b")
    )
    cand = cand_ids.join(
        ranked.select(F.col("id").alias("id_a"), F.col("sorted_toks").alias("ta")),
        "id_a",
    ).join(
        ranked.select(F.col("id").alias("id_b"), F.col("sorted_toks").alias("tb")),
        "id_b",
    )
    inter = F.size(F.array_intersect("ta", "tb"))
    union = F.size("ta") + F.size("tb") - inter
    jacc = inter.cast("double") / union.cast("double")
    # filter on the RAW ratio (identical doubles in both engines: integer
    # counts, one division), round only the output column — filtering on
    # the rounded value would disagree with the oracle at the boundary
    return (
        cand.filter(jacc >= threshold)
        .select("id_a", "id_b", F.round(jacc, 6).alias("jacc"))
    )


def prefix_filtered_jaccard_join_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.6,
) -> str:
    """Brute-force oracle for :func:`prefix_filtered_jaccard_join`: ALL
    pairs, exact Jaccard, threshold — no prefix filter at all, so a
    hash match proves the filter lost nothing."""
    toks = f"list_distinct({tokens_sql(text_col)})"
    return f"""
    WITH _t AS (
        SELECT {id_col} AS id, {toks} AS toks FROM {table}
        WHERE len({toks}) > 0
    )
    SELECT a.id AS id_a, b.id AS id_b,
           round(cast(len(list_intersect(a.toks, b.toks)) as double)
                 / cast(len(a.toks) + len(b.toks)
                        - len(list_intersect(a.toks, b.toks)) as double), 6)
               AS jacc
    FROM _t a JOIN _t b ON a.id < b.id
    WHERE cast(len(list_intersect(a.toks, b.toks)) as double)
          / cast(len(a.toks) + len(b.toks)
                 - len(list_intersect(a.toks, b.toks)) as double)
          >= {threshold}
    """


# ---------------------------------------------------------------------------
# Cross-document repeated-segment removal (C4 / CCNet line-dedup analogue)
# ---------------------------------------------------------------------------


def doc_segments(c: Column, seg_words: int = 8) -> Column:
    """Non-overlapping fixed-width word segments of a document, built
    entirely map-side (split -> slice -> rejoin; no explode, no shuffle).

    The corpus model here is a single-line token stream, so the "line"
    unit of CCNet-style dedup is re-based on aligned *seg_words*-word
    windows; on a corpus with real newlines the same operator applies to
    ``split(text, '\\n')`` directly."""
    words = F.filter(F.split(c, " "), lambda w: w != F.lit(""))

    def segs(ws: Column) -> Column:
        n = F.size(ws)
        return F.when(
            n > 0,
            F.transform(
                F.sequence(F.lit(0), F.ceil(n / F.lit(seg_words)).cast("int") - 1),
                lambda i: F.concat_ws(" ", F.slice(ws, i * seg_words + 1, seg_words)),
            ),
        ).otherwise(F.array().cast("array<string>"))

    return segs(words)


def hot_segment_hashes(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seg_words: int = 8,
    max_df: int = 2,
) -> DataFrame:
    """hash60 of every segment appearing in MORE than *max_df* distinct
    documents — the cross-corpus repeated-content set (boilerplate,
    licence blurbs, templated chrome). Shuffle carries (hash, doc_id)
    ints only; bodies never move. The result is the high-document-
    frequency tail: small by construction (17 rows at sf0.01)."""
    exploded = df.select(
        F.col(id_col),
        F.posexplode(doc_segments(F.col(text_col), seg_words)).alias("pos", "seg"),
    ).select(id_col, "pos", hash60(F.col("seg")).alias("h"))
    return (
        exploded.select(id_col, "h")
        .distinct()
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") > max_df)
        .select("h")
    )


def segment_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seg_words: int = 8,
    max_df: int = 2,
    broadcast_drops: bool = True,
) -> DataFrame:
    """C4/CCNet-style cross-document repeated-segment REMOVAL: rewrite
    each document with every segment that occurs in more than *max_df*
    distinct documents dropped, preserving the order of what remains.

    This is the production rewrite step downstream of the reporting
    surfaces (q87 identifies boilerplate n-grams, q110 enumerates
    duplicate spans); here the corpus itself is cleaned.

    Returns (id, n_segments, n_dropped, new_text) for EVERY input
    document (unchanged docs have n_dropped = 0 and new_text = the
    whitespace-normalized original).

    Scale shape (the point): document bodies are NEVER shuffled.

    * one corpus scan builds the (id, pos, hash) frame — ints only —
      persisted (managed) because both the hot-set aggregate and the
      drop-position aggregate read it;
    * the hot set is a broadcast-sized high-df tail; joining it back is
      a broadcast hash join on a long;
    * per-doc drop positions (only docs that contain hot segments) are
      broadcast back onto the original scan, and the rewrite is pure
      map-side array work: filter-by-position + concat_ws.

    With *broadcast_drops* False the rewrite joins shuffle-side instead
    — the CCNet layout, one body shuffle — for corpora where boilerplate
    incidence is too broad to broadcast."""
    from ..utils.caching import managed_persist

    segs = doc_segments(F.col(text_col), seg_words)
    exploded = managed_persist(
        df.select(
            F.col(id_col),
            F.posexplode(segs).alias("pos", "seg"),
        ).select(id_col, "pos", hash60(F.col("seg")).alias("h"))
    )
    hot = (
        exploded.select(id_col, "h")
        .distinct()
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") > max_df)
        .select("h")
    )
    drops = exploded.join(F.broadcast(hot), "h").groupBy(id_col).agg(
        F.collect_set("pos").alias("_drop_pos")
    )
    if broadcast_drops:
        drops = F.broadcast(drops)
    drop_pos = F.coalesce(F.col("_drop_pos"), F.array().cast("array<int>"))
    kept = F.filter(segs, lambda s, i: ~F.array_contains(drop_pos, i))
    return (
        df.join(drops, id_col, "left")
        .select(
            F.col(id_col),
            F.size(segs).alias("n_segments"),
            (F.size(segs) - F.size(kept)).alias("n_dropped"),
            F.concat_ws(" ", kept).alias("new_text"),
        )
    )


def segment_dedup_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    seg_words: int = 8,
    max_df: int = 2,
) -> str:
    """DuckDB oracle for :func:`segment_dedup`: same segmentation, hot
    set keyed by the segment STRING itself (hash-collision-free ground
    truth — a hash match therefore also certifies hash60's injectivity
    on the corpus segment set)."""
    sw = seg_words
    ws = f"list_filter(string_split({text_col}, ' '), w -> w <> '')"
    return f"""
    WITH segs AS (
      SELECT {id_col}, i - 1 AS pos,
             array_to_string(list_slice(ws, (i - 1) * {sw} + 1, (i - 1) * {sw} + {sw}), ' ') AS seg
      FROM (SELECT {id_col}, {ws} AS ws FROM {table}),
           LATERAL unnest(range(1, cast(ceil(len(ws) / {sw}.0) AS bigint) + 1)) AS t(i)
    ),
    hot AS (
      SELECT seg FROM segs GROUP BY seg HAVING count(DISTINCT {id_col}) > {max_df}
    ),
    rewritten AS (
      SELECT s.{id_col} AS {id_col}, count(*) AS n_segments, count(h.seg) AS n_dropped,
             string_agg(CASE WHEN h.seg IS NULL THEN s.seg END, ' ' ORDER BY s.pos) AS agg_text
      FROM segs s LEFT JOIN hot h USING (seg)
      GROUP BY s.{id_col}
    )
    SELECT d.{id_col} AS {id_col},
           cast(coalesce(r.n_segments, 0) as int) AS n_segments,
           cast(coalesce(r.n_dropped, 0) as int) AS n_dropped,
           coalesce(r.agg_text, '') AS new_text
    FROM {table} d LEFT JOIN rewritten r USING ({id_col})
    """


# ---------------------------------------------------------------------------
# Leakage-safe dataset split (near-dup components never straddle splits)
# ---------------------------------------------------------------------------


def leakage_safe_split(
    df: DataFrame,
    fractions,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float | None = None,
    bands: int = 4,
    rows: int = 2,
    salt: str = "split",
    edges_df: DataFrame | None = None,
    cc_df: DataFrame | None = None,
) -> DataFrame:
    """Train/val/test assignment in which a document and ALL its near
    duplicates land in the SAME split — the leakage-safe version of
    :func:`bacon_spark.operators.sampling.dataset_split`.

    A plain per-document hash split puts ~(1 - sum f_i^2) of every
    near-dup cluster's mass across split boundaries, so eval examples
    have training-set near-twins and measured loss is contaminated (the
    core motivation of training-data dedup work). Here the split key is
    the document's near-dup COMPONENT (star-edge LSH graph, optionally
    exact-Jaccard-verified; singletons key by their own id), so the
    boundary can never cut a cluster.

    Returns every input id with (leak_group, split); the split
    assignment is the same deterministic salted-hash draw as
    dataset_split, applied to the group key — reproducible across
    engines, partitionings, and runs.

    Scale shape: inherits the star-edge graph's linearity (Σ bucket hub
    edges, never Σ bucket²); components are dup-population-sized and
    meet the corpus through one broadcastable equi-join; the draw is
    map-side codegen."""
    from ..operators.graph import connected_components
    from ..operators.sampling import dataset_split

    if cc_df is not None:
        cc = cc_df  # persisted ingest artifact (see canonical_dedup_scalable)
    else:
        edges = (
            edges_df
            if edges_df is not None
            else star_edge_graph(df, text_col, id_col, k, threshold, bands, rows)
        )
        cc = connected_components(edges, src="id_a", dst="id_b")
    cc = cc.withColumnRenamed("id", id_col)
    grouped = df.select(id_col).join(F.broadcast(cc), id_col, "left").withColumn(
        "leak_group", F.coalesce(F.col("component"), F.col(id_col))
    )
    return dataset_split(grouped, F.col("leak_group"), fractions, salt).select(
        id_col, "leak_group", "split"
    )


def within_doc_segment_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seg_words: int = 8,
) -> DataFrame:
    """WITHIN-document repeated-segment removal: keep only the FIRST
    occurrence of each aligned *seg_words*-word segment inside a
    document — the in-document half of repeated-content cleanup (q158's
    :func:`segment_dedup` is the cross-document half; pipelines run this
    one first, since self-repetition would otherwise inflate a
    document's own segment df).

    Pure map-side array work — ``array_position(segs, s) == i + 1``
    keeps exactly the first occurrence — so the operator is a zero-
    shuffle projection at ANY corpus size."""
    segs = doc_segments(F.col(text_col), seg_words)

    def rewrite(ss: Column) -> Column:
        kept = F.filter(ss, lambda s, i: F.array_position(ss, s) == i + 1)
        return F.struct(
            F.size(ss).alias("n_segments"),
            (F.size(ss) - F.size(kept)).alias("n_dropped"),
            F.concat_ws(" ", kept).alias("new_text"),
        )

    from ..functions.exprs import let

    out = let(segs, rewrite)
    return df.select(
        F.col(id_col),
        out["n_segments"].alias("n_segments"),
        out["n_dropped"].alias("n_dropped"),
        out["new_text"].alias("new_text"),
    )


def within_doc_segment_dedup_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    seg_words: int = 8,
) -> str:
    """DuckDB oracle for :func:`within_doc_segment_dedup`: first
    occurrence per (doc, segment) via a row_number window, reassembled
    in order."""
    sw = seg_words
    ws = f"list_filter(string_split({text_col}, ' '), w -> w <> '')"
    return f"""
    WITH segs AS (
      SELECT {id_col}, i - 1 AS pos,
             array_to_string(list_slice(ws, (i - 1) * {sw} + 1, (i - 1) * {sw} + {sw}), ' ') AS seg
      FROM (SELECT {id_col}, {ws} AS ws FROM {table}),
           LATERAL unnest(range(1, cast(ceil(len(ws) / {sw}.0) AS bigint) + 1)) AS t(i)
    ),
    firsts AS (
      SELECT {id_col}, pos, seg,
             row_number() OVER (PARTITION BY {id_col}, seg ORDER BY pos) AS occ
      FROM segs
    ),
    rewritten AS (
      SELECT {id_col}, count(*) AS n_segments,
             count(*) FILTER (WHERE occ > 1) AS n_dropped,
             string_agg(CASE WHEN occ = 1 THEN seg END, ' ' ORDER BY pos) AS agg_text
      FROM firsts GROUP BY {id_col}
    )
    SELECT d.{id_col} AS {id_col},
           cast(coalesce(r.n_segments, 0) as int) AS n_segments,
           cast(coalesce(r.n_dropped, 0) as int) AS n_dropped,
           coalesce(r.agg_text, '') AS new_text
    FROM {table} d LEFT JOIN rewritten r USING ({id_col})
    """


# ---------------------------------------------------------------------------
# Asymmetric containment dedup (bottom-k signatures)
# ---------------------------------------------------------------------------


def containment_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 32,
    w: int = 4,
    df_cap: int = 64,
    threshold: tuple[int, int] = (1, 2),
) -> DataFrame:
    """ASYMMETRIC near-dup detection: containment(A in B) =
    |grams(A) ∩ grams(B)| / |grams(A)| — the quantity Jaccard misses
    when a small document is quoted/wrapped inside a big one (resemblance
    is tiny, containment is ~1; Broder '97 distinguishes the two). The
    web-corpus case is boilerplate pages embedding a syndicated article.

    Estimator: a bottom-k signature of A's gram hashes probed against
    the corpus's (doc, hash) inverted frame — matches / min(k, |A|) is
    an unbiased containment estimate because the k smallest of a
    min-wise independent hash are a uniform sample of A's grams.
    Candidates at estimate >= *threshold* (a (num, den) integer
    fraction, compared as matches*den >= num*denom — no float
    boundary) are then verified EXACTLY, and only exact containment >=
    threshold survives.

    Scale shape: the inverted frame is (doc, hash60) ints — bodies
    never join; grams hotter than *df_cap* docs are dropped from BOTH
    the signature and the inverted side before the self-join (the
    winnowing df-cap trade: boilerplate grams can't fan out the probe
    join, at the documented cost of ignoring them in the containment
    arithmetic — consistently on both the estimate and exact sides).
    The probe side is |docs|·k rows; exact verification touches only
    the candidates. At 100 TB partition both sides by hash.

    Returns (a, b, n_a, matches, est_containment, containment): A's
    kept-gram count, signature matches, the estimate, and the exact
    containment of A's kept grams in B's."""
    from pyspark.sql.window import Window

    from ..utils.caching import managed_persist

    hashed = docs.select(
        F.col(id_col), F.explode(shingles(F.col(text_col), w)).alias("_g")
    ).select(F.col(id_col), hash60(F.col("_g")).alias("h")).distinct()
    dfok = hashed.groupBy("h").count().where(F.col("count") <= df_cap).select("h")
    kept = managed_persist(hashed.join(dfok, "h"))
    na = kept.groupBy(id_col).agg(F.count(F.lit(1)).alias("_n"))
    sig = (
        kept.withColumn(
            "_rn", F.row_number().over(Window.partitionBy(id_col).orderBy("h"))
        )
        .where(F.col("_rn") <= k)
        .select(F.col(id_col).alias("a"), "h")
    )
    return _containment_from_frames(kept, na, sig, id_col, k, threshold)


def _containment_from_frames(
    kept: DataFrame,
    na: DataFrame,
    sig: DataFrame,
    id_col: str,
    k: int,
    threshold: tuple[int, int],
) -> DataFrame:
    """The probe/verify half of :func:`containment_pairs`, over prepared
    frames: candidate generation from the signature-vs-inverted join,
    integer-threshold estimate cut, exact verification on candidates."""
    from ..utils.caching import managed_persist

    num, den = threshold
    cand = (
        sig.join(kept.select(F.col(id_col).alias("b"), "h"), "h")
        .where(F.col("b") != F.col("a"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("matches"))
    )
    est = managed_persist(
        cand.join(na.select(F.col(id_col).alias("a"), "_n"), "a")
        .withColumn("denom", F.least(F.lit(k), F.col("_n")))
        .where(F.col("matches") * den >= num * F.col("denom"))
    )
    inter = (
        est.select("a", "b")
        .join(kept.select(F.col(id_col).alias("a"), "h"), "a")
        .join(kept.select(F.col(id_col).alias("b"), "h"), ["b", "h"])
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("_inter"))
    )
    return (
        est.join(inter, ["a", "b"])
        .where(F.col("_inter") * den >= num * F.col("_n"))
        .select(
            "a",
            "b",
            F.col("_n").alias("n_a"),
            "matches",
            F.round(F.col("matches") / F.col("denom"), 6).alias("est_containment"),
            F.round(F.col("_inter") / F.col("_n"), 6).alias("containment"),
        )
    )


#: session-scoped corpus-count cache for the router's guard (ADVICE r11):
#: keyed by (analyzed-plan semanticHash, schema, input-file listing), so
#: re-probing the same docs frame (or a semantically identical one)
#: costs zero Spark jobs after the first. The schema component rules out
#: cross-schema collisions of the 32-bit hash; the file-listing digest
#: (ADVICE r12) is the freshness signal: a corpus appended to or
#: rewritten under the same path produces new part files, changes the
#: listing, and misses the cache — restoring the fresh docs.count() the
#: uncached guard would have run. The residual window is a file MUTATED
#: IN PLACE under an identical name — invisible to the listing, so the
#: cached guard is strictly weaker than a per-call count there (normal
#: Spark/object-store writes never do this; an engine embedder that
#: does can call corpus_count_cache_clear() after rewriting).
_CORPUS_COUNT_CACHE: dict[tuple, int] = {}


def corpus_count_cache_clear() -> None:
    """Invalidation hook for the router's corpus-count cache — for
    embedders whose ingest mutates files in place under unchanged names
    (the one write pattern the file-listing freshness key cannot see)."""
    _CORPUS_COUNT_CACHE.clear()


def _corpus_count(docs: DataFrame) -> int:
    try:
        import hashlib

        files = docs.inputFiles()
        key = (
            docs._jdf.queryExecution().analyzed().semanticHash(),
            docs.schema.simpleString(),
            hashlib.md5("\n".join(sorted(files)).encode()).hexdigest()
            if files
            else None,
        )
    except Exception:
        return docs.count()
    n = _CORPUS_COUNT_CACHE.get(key)
    if n is None:
        n = docs.count()
        if len(_CORPUS_COUNT_CACHE) >= 256:
            _CORPUS_COUNT_CACHE.clear()
        _CORPUS_COUNT_CACHE[key] = n
    return n


def containment_pairs_routed(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 32,
    w: int = 4,
    df_cap: int = 64,
    threshold: tuple[int, int] = (1, 2),
    index_path: str | None = None,
    trusted: bool = False,
) -> DataFrame:
    """:func:`containment_pairs` with the INDEX ROUTING decision made for
    the caller (VERDICT r9 next #8, the q189 auto-route pattern): when a
    persisted containment index exists at *index_path* AND was built with
    exactly these parameters, the query runs the probe-only half
    (:func:`containment_index_probe` — no shingling, no hashing, no
    df-cap pass, no rank window); otherwise it computes inline. The two
    paths are row-identical by the split contract pinned in
    tests/test_llm_ops.py, so routing changes cost, never results. A
    parameter-mismatched index is NEVER probed — its inverted frame
    covers a different gram universe — the caller gets the inline
    computation, and ``operators.decisions.last("containment")`` records
    route ``"inline"``.

    CORPUS CONTRACT (ADVICE r10): the index route answers for the corpus
    the index was BUILT over, so *docs* must be that corpus. The match
    tuple includes *text_col* (an index over a different text column is
    never probed) and the build-time row count ``n_docs`` is verified
    against ``docs.count()`` — a filtered or different-sized corpus falls
    back to inline. Equal-count corpora with different content are not
    distinguishable without a content scan; passing one is a caller
    error, as with any materialized-view correspondence.

    Guard cost (ADVICE r11): the count is cached per analyzed-plan
    semanticHash for the session, so only the FIRST routed call on a
    given docs plan pays a count job (parquet-footer-cheap for plain
    reads; one scan for filtered/computed frames). ``trusted=True``
    skips the count entirely — the caller asserts *docs* IS the build
    corpus, keeping the index route strictly probe-only."""
    from ..operators.maintenance import read_manifest

    route = "inline"
    if index_path is not None:
        man = read_manifest(index_path)
        if man is not None and "containment" in man:
            p = man["containment"]
            if (
                p.get("id_col"),
                p.get("text_col"),
                p.get("k"),
                p.get("w"),
                p.get("df_cap"),
            ) == (id_col, text_col, k, w, df_cap):
                # corpus guard: one zero-column count job (parquet
                # footer-cheap, session-cached per docs plan) vs the
                # build-time row count; trusted callers skip it
                n = p.get("n_docs")
                if trusted or (n is not None and _corpus_count(docs) == n):
                    route = "index"
    if route == "index":
        out = containment_index_probe(docs.sparkSession, index_path, threshold)
    else:
        out = containment_pairs(docs, text_col, id_col, k, w, df_cap, threshold)
    from ..operators import decisions

    decisions.record(
        "containment", route, index_path=index_path, text_col=text_col,
        id_col=id_col, k=k, w=w, df_cap=df_cap, trusted=trusted,
    )
    return out


def containment_index_build(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 32,
    w: int = 4,
    df_cap: int = 64,
) -> int:
    """Persist the ONCE-PER-INGEST half of containment dedup as an index
    under the manifest protocol (VERDICT r6 #3 — same split as the
    IVF-PQ index): the df-capped inverted (doc, hash60) frame, the
    per-doc kept-gram counts, and the bottom-k signatures. Shingling,
    hashing, the df-cap aggregation, and the per-doc rank window are all
    paid here, not per query. Both join-heavy tables are written
    repartitioned by ``h`` so the probe's hash joins read co-clustered
    files. Returns the committed manifest version; readers see the index
    only after the put-if-absent manifest publish."""
    import os

    from pyspark.sql.window import Window

    from ..operators.maintenance import commit_manifest, manifest_versions, table_files
    from ..utils.caching import managed_persist

    import uuid

    # VERSIONED subdirs (round 10): a rebuild on the same path must never
    # overwrite files a reader pinned to an older manifest version is
    # scanning — the snapshot guarantee every other artifact keeps (the
    # token table's uuid dirs). Dir names are recorded in the manifest
    # entry; readers resolve them from their pinned version.
    dirs = {t: f"{t}-{uuid.uuid4().hex[:8]}" for t in
            ("hot", "inverted", "doc_stats", "signatures")}
    # corpus signature for the router's guard (ADVICE r10): the input
    # row count, billed to the once-per-ingest build, not to probes
    n_docs = docs.count()
    hashed = docs.select(
        F.col(id_col), F.explode(shingles(F.col(text_col), w)).alias("_g")
    ).select(F.col(id_col), hash60(F.col("_g")).alias("h")).distinct()
    counts = managed_persist(hashed.groupBy("h").count())
    dfok = counts.where(F.col("count") <= df_cap).select("h")
    # the dropped HOT grams are index metadata too: a DELTA probe must
    # exclude them from ITS grams so its containment denominator counts
    # the same universe the inverted frame covers (bounded: one row per
    # gram hotter than df_cap, i.e. <= |corpus grams| / df_cap rows)
    counts.where(F.col("count") > df_cap).select("h").write.parquet(
        os.path.join(path, dirs["hot"])
    )
    kept = managed_persist(hashed.join(dfok, "h"))
    kept.repartition(F.col("h")).write.parquet(
        os.path.join(path, dirs["inverted"])
    )
    kept.groupBy(id_col).agg(F.count(F.lit(1)).alias("_n")).write.parquet(
        os.path.join(path, dirs["doc_stats"])
    )
    (
        kept.withColumn(
            "_rn", F.row_number().over(Window.partitionBy(id_col).orderBy("h"))
        )
        .where(F.col("_rn") <= k)
        .select(F.col(id_col).alias("a"), "h")
        .repartition(F.col("h"))
        .write.parquet(os.path.join(path, dirs["signatures"]))
    )
    # List ONLY the dirs this build wrote (ADVICE r10): a rebuild's
    # manifest must not claim a prior version's parquet (or legacy
    # fixed-dir) files as its own — otherwise vacuum(keep_versions=1)
    # can never reclaim superseded versions and man['files'] mixes
    # corpora. Mirrors token_table_build's per-dir listing.
    files = [
        (os.path.relpath(f, path), b)
        for d in dirs.values()
        for f, b in table_files(os.path.join(path, d))
    ]
    vs = manifest_versions(path)
    return commit_manifest(
        path,
        files,
        base_version=vs[-1] if vs else 0,
        op="containment-index",
        extra={
            "containment": {
                "id_col": id_col,
                "text_col": text_col,
                "n_docs": n_docs,
                "k": k,
                "w": w,
                "df_cap": df_cap,
                "dirs": dirs,
            }
        },
    )


def _containment_dirs(params: dict) -> dict:
    """Resolve the index's table dirs from its manifest entry. Pre-r10
    artifacts (no ``dirs`` key) used fixed dir names — the legacy
    fallback keeps them readable; everything built since uses
    uuid-suffixed dirs so rebuilds never clobber pinned readers."""
    return params.get(
        "dirs",
        {t: t for t in ("hot", "inverted", "doc_stats", "signatures")},
    )


def containment_index_probe(
    spark,
    path: str,
    threshold: tuple[int, int] = (1, 2),
    version: int | None = None,
) -> DataFrame:
    """Probe-only containment dedup against a prebuilt index: reads the
    manifest-pinned inverted/stats/signature tables and runs only the
    candidate join + integer-threshold estimate + exact verification —
    no shingling, no hashing, no df-cap pass, no rank window. Result is
    row-identical to :func:`containment_pairs` with the index's build
    parameters (pinned by tests/test_llm_ops.py).

    Scale shape: two hash joins over pre-clustered int tables; the probe
    side is |docs|*k rows and verification touches candidates only."""
    import os

    from ..operators.maintenance import read_manifest

    man = read_manifest(path, version)
    if man is None or "containment" not in man:
        raise FileNotFoundError(f"no containment index under {path}")
    params = man["containment"]
    id_col, k = params["id_col"], params["k"]
    dirs = _containment_dirs(params)
    kept = spark.read.parquet(os.path.join(path, dirs["inverted"]))
    na = spark.read.parquet(os.path.join(path, dirs["doc_stats"]))
    sig = spark.read.parquet(os.path.join(path, dirs["signatures"]))
    return _containment_from_frames(kept, na, sig, id_col, k, threshold)


def containment_delta_probe(
    spark,
    path: str,
    new_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: tuple[int, int] = (1, 2),
    version: int | None = None,
) -> DataFrame:
    """CROSS-CORPUS containment for incremental ingest: is each NEW
    document contained in the EXISTING corpus? New docs are shingled and
    hashed with the index's build parameters, their grams filtered by
    the index's frozen hot-gram list (so the denominator counts exactly
    the universe the inverted frame covers — the df statistics are
    frozen at build, q173's frozen-quantizer contract applied to
    dedup), bottom-k signatures probe the prebuilt inverted frame, and
    candidates verify exactly. Output shape matches
    :func:`containment_pairs` (a = new doc, b = corpus doc).

    Scale shape: the delta side is |new docs| x k signature rows plus
    their kept grams; the corpus is touched only through the
    pre-clustered inverted table's hash joins — no corpus rescan, no
    rebuild, the production nightly-ingest cost model."""
    import os

    from pyspark.sql.window import Window

    from ..operators.maintenance import read_manifest
    from ..utils.caching import managed_persist

    man = read_manifest(path, version)
    if man is None or "containment" not in man:
        raise FileNotFoundError(f"no containment index under {path}")
    params = man["containment"]
    corpus_id, k, w = params["id_col"], params["k"], params["w"]
    dirs = _containment_dirs(params)
    inverted = spark.read.parquet(os.path.join(path, dirs["inverted"]))
    hot = spark.read.parquet(os.path.join(path, dirs["hot"]))
    hashed = new_docs.select(
        F.col(id_col), F.explode(shingles(F.col(text_col), w)).alias("_g")
    ).select(F.col(id_col), hash60(F.col("_g")).alias("h")).distinct()
    kept_a = managed_persist(hashed.join(hot, "h", "left_anti"))
    na = kept_a.groupBy(id_col).agg(F.count(F.lit(1)).alias("_n"))
    sig = (
        kept_a.withColumn(
            "_rn", F.row_number().over(Window.partitionBy(id_col).orderBy("h"))
        )
        .where(F.col("_rn") <= k)
        .select(F.col(id_col).alias("a"), "h")
    )
    num, den = threshold
    cand = (
        sig.join(inverted.select(F.col(corpus_id).alias("b"), "h"), "h")
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("matches"))
    )
    est = managed_persist(
        cand.join(na.select(F.col(id_col).alias("a"), "_n"), "a")
        .withColumn("denom", F.least(F.lit(k), F.col("_n")))
        .where(F.col("matches") * den >= num * F.col("denom"))
    )
    inter = (
        est.select("a", "b")
        .join(kept_a.select(F.col(id_col).alias("a"), "h"), "a")
        .join(inverted.select(F.col(corpus_id).alias("b"), "h"), ["b", "h"])
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("_inter"))
    )
    return (
        est.join(inter, ["a", "b"])
        .where(F.col("_inter") * den >= num * F.col("_n"))
        .select(
            "a",
            "b",
            F.col("_n").alias("n_a"),
            "matches",
            F.round(F.col("matches") / F.col("denom"), 6).alias("est_containment"),
            F.round(F.col("_inter") / F.col("_n"), 6).alias("containment"),
        )
    )


def containment_delta_sql(
    table: str = "documents",
    corpus_pred: str = "TRUE",
    delta_pred: str = "TRUE",
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 32,
    w: int = 4,
    df_cap: int = 64,
    threshold: tuple[int, int] = (1, 2),
) -> str:
    """DuckDB twin of build(corpus_pred rows) + delta_probe(delta_pred
    rows): df statistics come from the CORPUS side only (frozen at
    build), the delta's grams are filtered by the corpus's hot list,
    and the candidate/verify joins run against the corpus inverted
    frame — same hash, same integer threshold compares."""
    num, den = threshold
    return f"""
    WITH cgrams AS (
      SELECT {id_col}, unnest({shingles_sql(text_col, w)}) AS g
      FROM {table} WHERE {corpus_pred}
    ),
    chashed AS MATERIALIZED (
      SELECT DISTINCT {id_col}, {hash60_sql('g')} AS h FROM cgrams
    ),
    counts AS (SELECT h, count(*) AS c FROM chashed GROUP BY h),
    inverted AS MATERIALIZED (
      SELECT chashed.* FROM chashed JOIN counts USING (h) WHERE c <= {df_cap}
    ),
    hot AS (SELECT h FROM counts WHERE c > {df_cap}),
    dgrams AS (
      SELECT {id_col}, unnest({shingles_sql(text_col, w)}) AS g
      FROM {table} WHERE {delta_pred}
    ),
    dhashed AS (SELECT DISTINCT {id_col}, {hash60_sql('g')} AS h FROM dgrams),
    kept_a AS MATERIALIZED (
      SELECT d.* FROM dhashed d ANTI JOIN hot USING (h)
    ),
    na AS (SELECT {id_col}, count(*) AS _n FROM kept_a GROUP BY 1),
    sig AS (
      SELECT {id_col} AS a, h
      FROM (SELECT {id_col}, h,
                   row_number() OVER (PARTITION BY {id_col} ORDER BY h) AS rn
            FROM kept_a) t
      WHERE rn <= {k}
    ),
    cand AS (
      SELECT s.a, t.{id_col} AS b, count(*) AS matches
      FROM sig s JOIN inverted t USING (h)
      GROUP BY 1, 2
    ),
    est AS MATERIALIZED (
      SELECT c.a, c.b, c.matches, na._n,
             least({k}, na._n) AS denom
      FROM cand c JOIN na ON na.{id_col} = c.a
      WHERE c.matches * {den} >= {num} * least({k}, na._n)
    ),
    inter AS (
      SELECT e.a, e.b, count(*) AS _inter
      FROM est e
      JOIN kept_a ka ON ka.{id_col} = e.a
      JOIN inverted iv ON iv.{id_col} = e.b AND iv.h = ka.h
      GROUP BY 1, 2
    )
    SELECT e.a AS a, e.b AS b,
           cast(e._n as bigint) AS n_a,
           cast(e.matches as bigint) AS matches,
           round(e.matches / e.denom, 6) AS est_containment,
           round(i._inter / e._n, 6) AS containment
    FROM est e JOIN inter i ON i.a = e.a AND i.b = e.b
    WHERE i._inter * {den} >= {num} * e._n
    ORDER BY a, b
    """


def containment_pairs_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 32,
    w: int = 4,
    df_cap: int = 64,
    threshold: tuple[int, int] = (1, 2),
) -> str:
    """DuckDB twin of :func:`containment_pairs` (same hash, same integer
    threshold compares, same rounds)."""
    num, den = threshold
    return f"""
    WITH grams AS (SELECT {id_col}, unnest({shingles_sql(text_col, w)}) AS g FROM {table}),
    hashed AS MATERIALIZED (SELECT DISTINCT {id_col}, {hash60_sql('g')} AS h FROM grams),
    dfok AS (SELECT h FROM hashed GROUP BY h HAVING count(*) <= {df_cap}),
    kept AS MATERIALIZED (SELECT hashed.* FROM hashed JOIN dfok USING (h)),
    na AS (SELECT {id_col}, count(*) AS _n FROM kept GROUP BY 1),
    sig AS (
      SELECT {id_col} AS a, h
      FROM (SELECT {id_col}, h,
                   row_number() OVER (PARTITION BY {id_col} ORDER BY h) AS rn
            FROM kept) t
      WHERE rn <= {k}
    ),
    cand AS (
      SELECT s.a, t.{id_col} AS b, count(*) AS matches
      FROM sig s JOIN kept t USING (h)
      WHERE t.{id_col} != s.a
      GROUP BY 1, 2
    ),
    est AS (
      SELECT c.a, c.b, c.matches, na._n, least({k}, na._n) AS denom
      FROM cand c JOIN na ON na.{id_col} = c.a
      WHERE c.matches * {den} >= {num} * least({k}, na._n)
    ),
    inter AS (
      SELECT e.a, e.b, count(*) AS _inter
      FROM est e
      JOIN kept x ON x.{id_col} = e.a
      JOIN kept y ON y.{id_col} = e.b AND y.h = x.h
      GROUP BY 1, 2
    )
    SELECT e.a AS a, e.b AS b, cast(e._n as bigint) AS n_a,
           cast(e.matches as bigint) AS matches,
           round(e.matches / e.denom, 6) AS est_containment,
           round(i._inter / e._n, 6) AS containment
    FROM est e JOIN inter i ON i.a = e.a AND i.b = e.b
    WHERE i._inter * {den} >= {num} * e._n
    """
