"""Semantics tests for the LLM-pipeline operators on constructed data
(the oracle gate covers the fixtures; these pin the algorithms)."""

import pytest
from pyspark.sql import functions as F

from bacon_spark.llm import dedup as dd
from bacon_spark.llm import multimodal as mm
from bacon_spark.llm import similarity as sim
from bacon_spark.llm import text as tx
from bacon_spark.operators import decisions


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
        (2, "the quick brown fox jumps over the lazy cat"),  # near dup
        (3, "completely different words entirely here now"),
        (4, ""),  # empty
        (5, "short"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_keeps_min_id(docs):
    out = dd.exact_dedup(docs).select("doc_id").orderBy("doc_id")
    ids = [r[0] for r in out.collect()]
    assert 0 in ids and 1 not in ids  # dup of 0 dropped, keeper is min id
    assert set(ids) == {0, 2, 3, 4, 5}


def test_exact_dup_groups(docs):
    groups = dd.exact_dup_groups(docs).collect()
    assert len(groups) == 1
    assert groups[0]["n_dups"] == 2
    assert groups[0]["keep_id"] == 0


def test_minhash_identical_docs_equal_sigs(docs):
    sigs = {
        r["doc_id"]: r["sig"]
        for r in docs.select("doc_id", dd.minhash_signature(F.col("text")).alias("sig")).collect()
    }
    assert sigs[0] == sigs[1]  # identical text -> identical signature
    # near-dup shares most slots; disjoint text shares few
    shared_near = sum(a == b for a, b in zip(sigs[0], sigs[2]))
    shared_far = sum(a == b for a, b in zip(sigs[0], sigs[3]))
    assert shared_near > shared_far
    # empty doc: sentinel in every slot
    assert all(v == dd.MINHASH_P for v in sigs[4])


def test_lsh_finds_dup_pair(docs):
    pairs = {(r["id_a"], r["id_b"]) for r in dd.lsh_candidate_pairs(docs).collect()}
    assert (0, 1) in pairs


def test_ngram_jaccard_pairs(docs):
    out = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dd.ngram_jaccard_pairs(docs, threshold=0.1).collect()
    }
    assert out[(0, 1)] == 1.0  # exact dup
    if (0, 2) in out:
        assert 0 < out[(0, 2)] < 1.0


def test_simhash_near_vs_far(docs):
    sh = {
        r["doc_id"]: r["sh"]
        for r in docs.select("doc_id", dd.simhash(F.col("text")).alias("sh")).collect()
    }
    assert sh[0] == sh[1]
    near = bin(sh[0] ^ sh[2]).count("1")
    far = bin(sh[0] ^ sh[3]).count("1")
    assert near <= far


def test_hamming_distance(spark):
    df = spark.createDataFrame([(0b1010, 0b0110)], "a long, b long")
    out = df.select(dd.hamming_distance(F.col("a"), F.col("b")).alias("d")).head()
    assert out["d"] == 2


def test_quality_features(spark):
    df = spark.createDataFrame([(0, "The cat, and the dog!")], "id long, text string")
    feats = tx.quality_features(F.col("text"))
    row = df.select(*[v.alias(k) for k, v in feats.items()]).head()
    assert row["n_chars"] == 21
    assert row["n_tokens"] == 5
    assert row["punct_ratio"] > 0
    # 'the' x2 + 'and' = 3 stopwords of 5 tokens
    assert row["stopword_ratio"] == pytest.approx(0.6)


def test_lang_id(spark):
    rows = [
        (0, "the cat and the dog is in of to"),
        (1, "der Hund und die Katze ist nicht"),
        (2, "le chat et la les des une"),
        (3, "xyzzy plugh qwerty"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    out = {r["id"]: r["lang"] for r in df.select("id", tx.lang_id(F.col("text")).alias("lang")).collect()}
    assert out[0] == "en"
    assert out[1] == "de"
    assert out[2] == "fr"
    assert out[3] == "und"


def test_fingerprint_order_invariant(spark):
    df = spark.createDataFrame(
        [(0, "alpha beta gamma"), (1, "gamma alpha beta alpha"), (2, "alpha beta delta")],
        "id long, text string",
    )
    out = {r["id"]: r["fp"] for r in df.select("id", tx.fingerprint(F.col("text")).alias("fp")).collect()}
    assert out[0] == out[1]  # order and duplication invariant
    assert out[0] != out[2]


def test_cosine_topk(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [1.0, 0.1, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [-1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = F.array(F.lit(1.0), F.lit(0.0), F.lit(0.0))
    out = sim.brute_force_topk(df, q, k=2).collect()
    assert [r["vec_id"] for r in out] == [0, 1]
    assert out[0]["cos_sim"] == pytest.approx(1.0)


def test_ann_lsh_topk(spark):
    import math

    rows = [(i, [math.cos(i / 7.0), math.sin(i / 7.0), 0.5]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = sim.ann_lsh_topk(df, rows[5][1], dim=3, k=5).collect()
    assert out  # bucket contains at least the query's neighbors
    assert out[0]["vec_id"] == 5  # the vector itself is its own nearest


def test_multimodal_features(spark):
    assets = mm.synthetic_assets(spark, n=12)
    feats = mm.extract_image_features(assets, dim=4)
    rows = feats.orderBy("asset_id").collect()
    assert len(rows) == 12
    assert all(len(r["feature"]) == 4 for r in rows)
    assert all(abs(sum(r["feature"]) - 1.0) < 1e-9 for r in rows)
    assert rows[0]["n_bytes"] == 128


def test_multimodal_stub_raises(spark):
    assets = mm.synthetic_assets(spark, n=3)
    with pytest.raises(Exception, match="NotImplementedError|real image decode"):
        mm.extract_image_features(assets, decode_stub=False).collect()


def test_frame_sample_plan(spark):
    assets = mm.synthetic_assets(spark, n=9)
    plan = mm.frame_sample_plan(assets, every_ms=500)
    rows = plan.collect()
    assert rows
    # only video assets, timestamps stride 500
    kinds = {r["asset_id"] % 3 for r in rows}
    assert kinds == {2}
    ts = sorted({r["frame_ts_ms"] for r in rows if r["asset_id"] == 2})
    assert ts[:3] == [0, 500, 1000]


def test_dup_clusters_connected_components(spark):
    # components: {1,2,3,4} via chain, {7,8}; singletons excluded
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (7, 8)], "id_a long, id_b long"
    )
    out = {r["doc_id"]: r["cluster_id"] for r in dd.dup_clusters(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 7: 7, 8: 7}


def test_near_dup_clusters_end_to_end(docs):
    out = {
        r["doc_id"]: r["cluster_id"]
        for r in dd.near_dup_clusters(docs, threshold=0.5).collect()
    }
    # exact dups 0 and 1 must share a cluster rooted at 0
    assert out.get(0) == 0 and out.get(1) == 0


def test_redact_pii_all_classes_and_idempotent(spark):
    from pyspark.sql import Row

    from bacon_spark.llm import text as tx

    df = spark.createDataFrame(
        [
            Row(s="mail bob.smith+x@corp.example.org now"),
            Row(s="host 192.168.001.1 and 10.0.0.255 up"),
            Row(s="ssn 123-45-6789 tel 555-867-5309 alt 555.123.4567"),
            Row(s="no pii here, just words and 42 numbers"),
        ]
    )
    out = df.select(
        tx.redact_pii(df["s"]).alias("r"),
        *[c.alias(n) for n, c in tx.pii_counts(df["s"]).items()],
    ).collect()
    assert out[0]["r"] == "mail <EMAIL> now"
    assert out[1]["r"] == "host <IPV4> and <IPV4> up"
    assert out[2]["r"] == "ssn <SSN> tel <PHONE> alt <PHONE>"
    assert out[3]["r"] == "no pii here, just words and 42 numbers"
    assert [r["email"] for r in out] == [1, 0, 0, 0]
    assert [r["ipv4"] for r in out] == [0, 2, 0, 0]
    assert [r["ssn"] for r in out] == [0, 0, 1, 0]
    assert [r["phone"] for r in out] == [0, 0, 2, 0]
    # idempotent: redacting the redacted text changes nothing
    rdf = df.select(tx.redact_pii(df["s"]).alias("s"))
    again = rdf.select(tx.redact_pii(rdf["s"]).alias("r")).collect()
    assert [a["r"] for a in again] == [o["r"] for o in out]


def test_bm25_matches_hand_computation(spark):
    import math

    from pyspark.sql import Row

    from bacon_spark.llm.ranking import bm25_scores

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="cat dog cat"),
            Row(doc_id=2, text="dog dog dog dog"),
            Row(doc_id=3, text="bird fish"),
        ]
    )
    out = {r["doc_id"]: r["bm25"] for r in bm25_scores(docs, ["cat", "dog"]).collect()}

    def score(tf, df, dl, n=3, avgdl=3.0, k1=1.2, b=0.75):
        idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
        return round(idf * (tf * 2.2) / (tf + k1 * (1 - b + b * dl / avgdl)), 7)

    want1 = round(score(2, 1, 3) + score(1, 2, 3), 5)   # cat x2, dog x1
    want2 = round(score(4, 2, 4), 5)                     # dog x4
    assert out.keys() == {1, 2}                          # doc 3 has no query term
    assert out[1] == pytest.approx(want1, abs=1e-9)
    assert out[2] == pytest.approx(want2, abs=1e-9)


def test_bm25_broadcasts_df_table(spark):
    from pyspark.sql import Row

    from bacon_spark.llm.ranking import bm25_scores

    docs = spark.createDataFrame([Row(doc_id=i, text="a b c") for i in range(10)])
    out = bm25_scores(docs, ["a", "b"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_tfidf_top_terms_hand_checked(spark):
    import math

    from pyspark.sql import Row

    from bacon_spark.llm.ranking import tfidf_top_terms

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="cat cat dog"),
            Row(doc_id=2, text="dog fish"),
            Row(doc_id=3, text="fish fish fish"),
        ]
    )
    out = tfidf_top_terms(docs, k=2).collect()
    got = {(r["doc_id"], r["rk"]): (r["term"], r["tfidf"]) for r in out}
    ln = math.log
    # doc 1: cat tf=2 df=1 -> 2*ln(3); dog tf=1 df=2 -> ln(1.5)
    assert got[(1, 1)] == ("cat", round(2 * ln(3.0), 7))
    assert got[(1, 2)] == ("dog", round(ln(3.0 / 2), 7))
    # doc 3: fish tf=3 df=2 -> 3*ln(1.5); only one distinct term
    assert got[(3, 1)] == ("fish", round(3 * ln(3.0 / 2), 7))
    assert (3, 2) not in got


def test_sampled_top_ngrams_exact_on_skewed_corpus(spark):
    """With genuine heavy hitters (a Zipf-ish skew), the bounded-state
    sampled pipeline must reproduce the TRUE exact top-k bit-for-bit —
    the candidate sample cannot miss a gram that dominates the corpus."""
    from bacon_spark.llm.text import sampled_top_ngrams, word_ngrams

    # 60 hot docs repeat one phrase; 300 docs share another (the letters-
    # only tokenizer strips the numeric suffixes, collapsing them) — two
    # genuine heavy-hitter phrases over a small tail
    rows = []
    did = 0
    for i in range(60):
        rows.append((did, "the quick brown fox jumps over the lazy dog"))
        did += 1
    for i in range(300):
        rows.append((did, f"unique{did} filler{did} words{did} only{did}"))
        did += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    got = [
        (r["gram"], r["n"])
        for r in sampled_top_ngrams(docs, n=2, k=5, rate=0.3, oversample=8).collect()
    ]
    exact = (
        docs.select(F.explode(word_ngrams(F.col("text"), 2)).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("gram"))
        .limit(5)
    )
    want = [(r["gram"], r["n"]) for r in exact.collect()]
    assert got == want
    assert want[0][1] == 300  # the hot phrases really dominate
    assert ("brown fox", 60) in want  # ...and the k boundary crosses a tie


def test_sampled_top_ngrams_plan_bounded(spark, sf_dir):
    """Phase 2 must filter grams through a BROADCAST semi join BEFORE
    aggregating: the full-vocabulary aggregation state that made the
    direct top-ngrams the worst scaler in SCALE_SWEEP.json never exists
    in this plan."""
    from bacon_spark.llm.text import sampled_top_ngrams
    from bacon_spark.sources.star import read_table

    docs = read_table(spark, sf_dir, "documents")
    df = sampled_top_ngrams(docs, n=3, k=15, rate=0.25, oversample=8)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "TakeOrderedAndProject" in plan  # top-k, no global sort


def test_boilerplate_stats_counts_and_ppm(spark):
    """Hand-built corpus: 'terms of service apply' appears in 3 docs ->
    its trigrams are boilerplate at min_docs=3; unique text is not; a
    too-short doc has zero grams and a NULL ppm."""
    rows = [
        (1, "terms of service apply alpha beta gamma"),
        (2, "terms of service apply delta epsilon zeta"),
        (3, "prefix words terms of service apply"),
        (4, "completely unrelated unique document body here"),
        (5, "tiny doc"),  # < 3 tokens -> no trigrams
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: (r["n_grams"], r["n_boiler"], r["boiler_ppm"])
        for r in tx.boilerplate_stats(docs, n=3, min_docs=3).collect()
    }
    # docs 1-3 share trigrams "terms of service" and "of service apply"
    assert out[1] == (5, 2, 400000)
    assert out[2] == (5, 2, 400000)
    assert out[3] == (4, 2, 500000)
    assert out[4] == (4, 0, 0)
    assert out[5] == (0, 0, None)


def test_boilerplate_grams_distinct_docs_not_occurrences(spark):
    """A gram repeated many times INSIDE one doc is not boilerplate: the
    threshold is on distinct documents."""
    rows = [
        (1, "spam spam spam spam spam spam spam spam"),
        (2, "other words entirely different here now"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    assert tx.boilerplate_grams(docs, n=3, min_docs=2).count() == 0


def test_dsir_scores_rank_target_like_docs_higher(spark):
    """Docs sharing the target's vocabulary must get a larger log
    importance weight than off-target docs; empty docs get null."""
    from bacon_spark.llm.importance import dsir_scores

    rows = [
        (1, "curated encyclopedia article with careful prose", "wiki"),
        (2, "curated encyclopedia article with careful prose", "wiki"),
        (3, "curated encyclopedia entry with careful prose style", "web"),
        (4, "buy cheap pills now click here spam spam", "web"),
        (5, "", "web"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    target = docs.filter(F.col("source") == "wiki")
    out = {r["doc_id"]: r for r in dsir_scores(docs, target).collect()}
    # per-token normalized weight: on-target beats off-target
    on = out[3]["dsir_score"] / out[3]["n_feats"]
    off = out[4]["dsir_score"] / out[4]["n_feats"]
    assert on > off
    assert out[5]["n_feats"] == 0 and out[5]["dsir_score"] is None
    # deterministic: a second run is bit-identical
    again = {r["doc_id"]: r["dsir_score"] for r in dsir_scores(docs, target).collect()}
    assert again == {k: v["dsir_score"] for k, v in out.items()}


def test_canonical_dedup_keeps_min_per_cluster(spark):
    """Chain 1-2-3 and pair 7-8 cluster; keepers are cluster minima with
    n_removed counts; untouched docs keep n_removed=0."""
    from bacon_spark.llm.dedup import canonical_dedup

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in (1, 2, 3, 5, 7, 8)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], "id_a long, id_b long")
    out = {r["doc_id"]: r["n_removed"] for r in canonical_dedup(docs, pairs).collect()}
    assert out == {1: 2, 5: 0, 7: 1}


def test_knn_join_exact_vs_brute_force(spark):
    """knn_join must agree with per-query brute_force_topk, including the
    bounded-heap pre-top-k path (force several small partitions)."""
    import math

    rows = [(i, [math.cos(i / 9.0), math.sin(i / 9.0), 0.25 * (i % 4)]) for i in range(60)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>").repartition(6)
    probes = corpus.filter(F.col("vec_id").isin([3, 17]))
    got = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in sim.knn_join(probes, corpus, k=4, exclude_same_id=True).collect()
    }
    for qid in (3, 17):
        qvec = rows[qid][1]
        qcol = F.array(*[F.lit(float(v)) for v in qvec])
        expect = [
            r["vec_id"]
            for r in sim.brute_force_topk(
                corpus.filter(F.col("vec_id") != qid), qcol, k=4
            ).collect()
        ]
        assert [got[(qid, rk)] for rk in range(1, 5)] == expect


def test_bigram_lm_scores_rank_fluent_text_higher(spark):
    """Docs made of target-corpus bigrams must out-score docs of unseen
    vocabulary (the CCNet head/tail separation); empty docs get nulls."""
    from bacon_spark.llm.lm import bigram_lm_scores

    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "wiki"),
        (2, "the quick brown fox naps under the lazy dog", "wiki"),
        (3, "the quick brown fox jumps over the lazy dog", "web"),
        (4, "zxqv kjwf plmn qrst uvxy zabc defg hijk lmno", "web"),
        (5, "", "web"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    target = docs.filter(F.col("source") == "wiki")
    out = {r["doc_id"]: r for r in bigram_lm_scores(docs, target).collect()}
    assert out[3]["avg_logprob_micro"] > out[4]["avg_logprob_micro"]
    assert out[5]["n_bigrams"] == 0 and out[5]["logprob_micro"] is None
    # in-model doc scores above the smoothed floor
    assert out[1]["avg_logprob_micro"] > out[4]["avg_logprob_micro"]


# ---------------------------------------------------------------------------
# Scalable canonical dedup (r4): star-edge graph vs pair graph
# ---------------------------------------------------------------------------


def test_star_edges_components_equal_pair_graph(spark):
    """Unverified star-edge components must EQUAL the unverified LSH pair
    graph's components (any two bucket members connect through the hub) —
    the invariant that lets canonical_dedup_scalable replace sum-bucket^2
    pair enumeration with sum-bucket hub edges."""
    from pyspark.sql import Row

    from bacon_spark.operators.graph import connected_components

    texts = [
        "the quick brown fox jumps over the lazy dog today",
        "the quick brown fox jumps over the lazy dog tonight",  # near-dup of 0
        "a completely different document about spark plans here",
        "a completely different document about spark plans there",  # near-dup of 2
        "the quick brown fox jumps over a lazy dog today",  # near-dup of 0/1
        "nothing shares shingles with anything else zzz qqq www",
    ]
    df = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in enumerate(texts)])

    pair_cc = connected_components(
        dd.lsh_candidate_pairs(df).select("id_a", "id_b"), src="id_a", dst="id_b"
    )
    star_cc = connected_components(
        dd.lsh_star_edges(df), src="id_a", dst="id_b"
    )
    pairs = {(r["id"], r["component"]) for r in pair_cc.collect()}
    stars = {(r["id"], r["component"]) for r in star_cc.collect()}
    assert pairs == stars and pairs  # identical labeling, non-trivial


def test_canonical_dedup_scalable_keeps_cluster_minimum(spark):
    from pyspark.sql import Row

    texts = [
        "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        "alpha beta gamma delta epsilon zeta eta theta iota kappab",  # dup of 0
        "unrelated corpus text with entirely different words inside",
    ]
    df = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in enumerate(texts)])
    out = {r["doc_id"]: r["n_removed"]
           for r in dd.canonical_dedup_scalable(df, threshold=0.2).collect()}
    assert out == {0: 1, 2: 0}  # doc 1 removed into cluster-min 0


def test_embedding_dedup_scalable_keeps_cluster_minimum(spark):
    """r4: embedding star-edge dedup — near-identical vectors collapse to
    the min id; an orthogonal vector survives untouched."""
    from pyspark.sql import Row

    base = [1.0, 0.0, 0.5, 0.25] * 16  # dim 64
    near = [v * 1.001 for v in base]   # cosine ~1 with base
    ortho = ([0.0, 1.0, -0.5, 0.25] * 16)
    df = spark.createDataFrame(
        [Row(vec_id=0, embedding=base),
         Row(vec_id=1, embedding=near),
         Row(vec_id=2, embedding=ortho)]
    )
    out = {r["vec_id"]: r["n_removed"]
           for r in sim.embedding_dedup_scalable(df, dim=64, threshold=0.9).collect()}
    assert out.get(0) == 1      # absorbed vec 1
    assert 1 not in out         # removed
    assert out.get(2) == 0      # untouched


def test_hashed_linear_scores_integer_exact_and_empty_safe(spark):
    """r4 quality filter: deterministic integer logit; empty/whitespace
    docs score 0 and are not kept."""
    from pyspark.sql import Row

    from bacon_spark.llm.importance import hashed_linear_scores

    df = spark.createDataFrame(
        [Row(doc_id=0, text="some plain words here"),
         Row(doc_id=1, text="   "),
         Row(doc_id=2, text="some plain words here")]
    )
    rows = {r["doc_id"]: r for r in hashed_linear_scores(df).collect()}
    assert rows[1]["n_tokens"] == 0 and rows[1]["logit_micro"] == 0 and not rows[1]["keep"]
    # identical text -> identical integer score (determinism)
    assert rows[0]["logit_micro"] == rows[2]["logit_micro"]
    assert rows[0]["keep"] == (rows[0]["logit_micro"] > 0)
    assert rows[0]["n_tokens"] == 4


def test_phash_banded_equals_brute_force(spark):
    """r4 multimodal dedup: the banded candidate path must reproduce the
    brute-force Hamming<=3 pair set exactly (pigeonhole: 3 errors can't
    touch all 4 bands)."""
    from itertools import combinations

    from bacon_spark.llm.multimodal import (
        PHASH_BITS,
        ahash_assets,
        phash_near_dup,
        synthetic_assets,
    )

    assets = synthetic_assets(spark, 80)
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in phash_near_dup(assets, max_hamming=3).collect()
    }
    sig = {r["asset_id"]: r["ahash"] for r in ahash_assets(assets).collect()}
    want = {}
    for a, b in combinations(sorted(sig), 2):
        h = bin(sig[a] ^ sig[b]).count("1")
        if h <= 3:
            want[(a, b)] = h
    assert got == want and want  # exact and non-trivial


# ---------------------------------------------------------------------------
# Cross-document segment removal (r5): C4/CCNet-style rewrite
# ---------------------------------------------------------------------------


def test_doc_segments_aligned_windows(spark):
    df = spark.createDataFrame([(0, "a b c d e f g")], "doc_id long, text string")
    out = df.select(dd.doc_segments(F.col("text"), 3).alias("s")).collect()[0]["s"]
    assert out == ["a b c", "d e f", "g"]


def test_doc_segments_empty_and_multispace(spark):
    df = spark.createDataFrame([(0, ""), (1, "a  b   c")], "doc_id long, text string")
    rows = {r["doc_id"]: r["s"] for r in
            df.select("doc_id", dd.doc_segments(F.col("text"), 2).alias("s")).collect()}
    assert rows[0] == []
    assert rows[1] == ["a b", "c"]  # whitespace-normalized


def test_segment_dedup_drops_hot_preserves_order(spark):
    # segment "x y" (words 0-1) appears in docs 0,1,2 -> df=3 > max_df=2 -> dropped.
    # Doc 3's unique text must survive untouched; doc 4 is empty.
    rows = [
        (0, "x y a b"),
        (1, "x y c d"),
        (2, "x y e f"),
        (3, "p q r s"),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r.asDict() for r in
           dd.segment_dedup(df, seg_words=2, max_df=2).collect()}
    for i in range(3):
        assert out[i]["n_segments"] == 2 and out[i]["n_dropped"] == 1
    assert out[0]["new_text"] == "a b"
    assert out[1]["new_text"] == "c d"
    assert out[2]["new_text"] == "e f"
    assert out[3] == {"doc_id": 3, "n_segments": 2, "n_dropped": 0, "new_text": "p q r s"}
    assert out[4] == {"doc_id": 4, "n_segments": 0, "n_dropped": 0, "new_text": ""}
    from bacon_spark.utils.caching import release_caches

    release_caches()


def test_segment_dedup_df_boundary_not_dropped(spark):
    # df exactly == max_df must be KEPT (rule is strictly greater-than).
    rows = [(0, "x y"), (1, "x y"), (2, "a b")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["n_dropped"] for r in
           dd.segment_dedup(df, seg_words=2, max_df=2).collect()}
    assert out == {0: 0, 1: 0, 2: 0}
    from bacon_spark.utils.caching import release_caches

    release_caches()


def test_leakage_safe_split_never_splits_components(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog tonight"),
        (1, "the quick brown fox jumps over the lazy dog tonight"),
        (2, "the quick brown fox jumps over the lazy dog today"),
        (3, "completely different words entirely in this document"),
        (4, "yet another unrelated piece of text goes here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r.asDict() for r in
           dd.leakage_safe_split(df, {"train": 0.5, "test": 0.5}).collect()}
    assert set(out) == {0, 1, 2, 3, 4}  # every doc assigned exactly once
    # 0/1/2 form one near-dup component: same group, same split
    assert out[0]["leak_group"] == out[1]["leak_group"] == out[2]["leak_group"] == 0
    assert out[0]["split"] == out[1]["split"] == out[2]["split"]
    # singletons key by their own id
    assert out[3]["leak_group"] == 3 and out[4]["leak_group"] == 4
    # deterministic: a second run reproduces every assignment
    again = {r["doc_id"]: r.asDict() for r in
             dd.leakage_safe_split(df, {"train": 0.5, "test": 0.5}).collect()}
    assert again == out
    from bacon_spark.utils.caching import release_caches

    release_caches()


def test_leakage_safe_split_verified_edges_disconnect(spark):
    # With a Jaccard threshold the spurious band collision between two
    # genuinely different docs must NOT merge their groups.
    rows = [
        (0, "alpha beta gamma delta epsilon zeta eta theta"),
        (1, "alpha beta gamma delta epsilon zeta eta iota"),
        (2, "one two three four five six seven eight"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["leak_group"] for r in
           dd.leakage_safe_split(df, {"train": 1.0}, threshold=0.99).collect()}
    # at threshold ~1.0 nothing verifies: all singletons
    assert out == {0: 0, 1: 1, 2: 2}
    from bacon_spark.utils.caching import release_caches

    release_caches()


def test_within_doc_segment_dedup_keeps_first_occurrence(spark):
    rows = [
        (0, "a b a b c d"),   # 3 segments of 2: "a b","a b","c d" -> second dropped
        (1, "x y z w"),
        (2, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r.asDict() for r in
           dd.within_doc_segment_dedup(df, seg_words=2).collect()}
    assert out[0] == {"doc_id": 0, "n_segments": 3, "n_dropped": 1, "new_text": "a b c d"}
    assert out[1] == {"doc_id": 1, "n_segments": 2, "n_dropped": 0, "new_text": "x y z w"}
    assert out[2] == {"doc_id": 2, "n_segments": 0, "n_dropped": 0, "new_text": ""}


def test_jl_projection_deterministic_and_distance_preserving(spark):
    """JL signed projection (llm/similarity.jl_project): deterministic
    across runs/partitionings, and cosine in the projected space tracks
    the original within a loose JL band on real-ish vectors."""
    import duckdb

    from bacon_spark.llm import similarity as sim

    # deterministic sign matrix, ±1 entries
    m1, m2 = sim.jl_signs(64, 16), sim.jl_signs(64, 16)
    assert m1 == m2 and all(s in (1.0, -1.0) for row in m1 for s in row)
    assert sim.jl_signs(64, 16, salt="other") != m1

    import math
    import random

    random.seed(3)
    rows = [(i, [random.gauss(0, 1) for _ in range(64)]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")
    proj = df.select("vec_id", sim.jl_project(F.col("v"), 64, 16).alias("pv"))
    got = {r["vec_id"]: list(r["pv"]) for r in proj.collect()}
    got_re = {
        r["vec_id"]: list(r["pv"])
        for r in df.repartition(13)
        .select("vec_id", sim.jl_project(F.col("v"), 64, 16).alias("pv"))
        .collect()
    }
    assert got == got_re  # partitioning-invariant (map-side literals)

    # SQL twin replays bit-identically
    import pandas as pd

    con = duckdb.connect()
    con.register("t", pd.DataFrame(rows, columns=["vec_id", "v"]))
    want = {
        vid: list(pv)
        for vid, pv in con.execute(
            f"SELECT vec_id, {sim.jl_project_sql('v', 64, 16)} FROM t"
        ).fetchall()
    }
    assert got == want

    # norms concentrate: E[|Px|^2] = out_dim * |x|^2 for ±1 projections
    for vid, v in rows[:10]:
        r = sum(x * x for x in got[vid]) / (16 * sum(x * x for x in v))
        assert 0.3 < r < 2.5, (vid, r)


def test_containment_pairs_finds_quoted_document(spark):
    """A small document quoted inside a much larger one: Jaccard is low
    (union-diluted) but containment(A in B) = 1.0 — the asymmetric case
    containment_pairs exists for."""
    from bacon_spark.llm.dedup import containment_pairs, jaccard, shingles

    def wd(prefix, i):  # alphabetic suffix: the tokenizer strips digits
        return f"{prefix}{chr(97 + i % 26)}{chr(97 + (i // 26) % 26)}"

    quote = " ".join(f"quoted {wd('q', i)} token" for i in range(20))
    wrapper = (
        " ".join(f"boiler {wd('head', i)} junk" for i in range(100))
        + " " + quote + " "
        + " ".join(f"boiler {wd('tail', i)} junk" for i in range(100))
    )
    others = [
        (10 + i, " ".join(f"{wd('doc', 10 + i)} {wd('word', j)} filler" for j in range(30)))
        for i in range(5)
    ]
    df = spark.createDataFrame(
        [(1, quote), (2, wrapper)] + others, "doc_id long, text string"
    )
    got = {
        (r["a"], r["b"]): (r["est_containment"], r["containment"])
        for r in containment_pairs(df, k=32, w=4, df_cap=64).collect()
    }
    assert (1, 2) in got
    est, exact = got[(1, 2)]
    assert exact == 1.0 and est >= 0.5
    # the wrapper is NOT contained in the quote (asymmetry)
    assert (2, 1) not in got
    # and symmetric Jaccard on the same pair is union-diluted
    j = (
        df.filter("doc_id = 1")
        .crossJoin(df.filter("doc_id = 2").selectExpr("text AS t2"))
        .select(
            F.round(jaccard(shingles(F.col("text"), 4), shingles(F.col("t2"), 4)), 4).alias("j")
        )
        .collect()[0]["j"]
    )
    assert j < 0.15


def test_containment_index_split_matches_end_to_end(spark, tmp_path):
    """VERDICT r6 #3: build+probe over the persisted containment index is
    row-identical to the end-to-end containment_pairs, and rebuilding
    commits a new manifest version."""
    from bacon_spark.llm import dedup as dd
    from bacon_spark.operators.maintenance import read_manifest

    rows = []
    base = "the quick brown fox jumps over the lazy dog again and again "
    for i in range(40):
        if i % 5 == 0:
            text = base + f"wrapper boilerplate {i} " + base
        elif i % 5 == 1:
            text = f"header {i} " + base + " footer"
        else:
            text = " ".join(f"tok{i}_{j} filler common word" for j in range(12))
        rows.append((i, text))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    want = sorted(
        map(tuple, dd.containment_pairs(docs, "text", "doc_id", k=16, w=3, df_cap=32).collect())
    )
    path = str(tmp_path / "cidx")
    v = dd.containment_index_build(docs, path, "text", "doc_id", k=16, w=3, df_cap=32)
    assert v == 1
    man = read_manifest(path)
    params = {k_: v_ for k_, v_ in man["containment"].items() if k_ != "dirs"}
    assert params == {
        "id_col": "doc_id", "text_col": "text", "n_docs": 40,
        "k": 16, "w": 3, "df_cap": 32,
    }
    got = sorted(
        map(tuple, dd.containment_index_probe(spark, path, threshold=(1, 2)).collect())
    )
    assert got == want and got  # identical and non-vacuous
    # a different threshold probes the SAME index without rebuilding
    tight = dd.containment_index_probe(spark, path, threshold=(9, 10))
    tight_rows = sorted(map(tuple, tight.collect()))
    want_tight = sorted(
        map(
            tuple,
            dd.containment_pairs(
                docs, "text", "doc_id", k=16, w=3, df_cap=32, threshold=(9, 10)
            ).collect(),
        )
    )
    assert tight_rows == want_tight
    # missing index refuses loudly
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError, match="containment index"):
        dd.containment_index_probe(spark, str(tmp_path / "nope"))


def test_containment_routed_picks_index_only_on_exact_params(spark, tmp_path):
    """Round 10 (VERDICT r9 next #8): containment_pairs_routed probes the
    persisted index when its build parameters match EXACTLY, computes
    inline otherwise (a mismatched index covers a different gram
    universe), and both routes return identical rows."""
    from bacon_spark.llm import dedup as dd

    rows = []
    base = "the quick brown fox jumps over the lazy dog again and again "
    for i in range(30):
        text = base + f"wrap {i} " + base if i % 4 == 0 else " ".join(
            f"tok{i}_{j} filler common word" for j in range(10)
        )
        rows.append((i, text))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "cidx_routed")
    dd.containment_index_build(docs, path, "text", "doc_id", k=16, w=3, df_cap=32)

    want = sorted(
        map(
            tuple,
            dd.containment_pairs(docs, "text", "doc_id", k=16, w=3, df_cap=32).collect(),
        )
    )
    hit = dd.containment_pairs_routed(
        docs, "text", "doc_id", k=16, w=3, df_cap=32, index_path=path
    )
    assert decisions.last("containment").route == "index"
    assert sorted(map(tuple, hit.collect())) == want and want
    # parameter mismatch (different k) must NOT probe this index
    miss = dd.containment_pairs_routed(
        docs, "text", "doc_id", k=8, w=3, df_cap=32, index_path=path
    )
    assert decisions.last("containment").route == "inline"
    assert sorted(map(tuple, miss.collect())) == sorted(
        map(
            tuple,
            dd.containment_pairs(docs, "text", "doc_id", k=8, w=3, df_cap=32).collect(),
        )
    )
    # no index at all -> inline
    none = dd.containment_pairs_routed(
        docs, "text", "doc_id", k=16, w=3, df_cap=32, index_path=str(tmp_path / "no")
    )
    assert decisions.last("containment").route == "inline"
    assert sorted(map(tuple, none.collect())) == want
    # ADVICE r10: an index built over a DIFFERENT TEXT COLUMN with
    # matching (id_col, k, w, df_cap) must NOT be probed — text_col is
    # part of the manifest match tuple
    from pyspark.sql import functions as F

    aliased = docs.select("doc_id", F.col("text").alias("body"))
    dd.containment_pairs_routed(
        aliased, "body", "doc_id", k=16, w=3, df_cap=32, index_path=path
    )
    assert decisions.last("containment").route == "inline"
    # ADVICE r10: a FILTERED corpus (row count != the indexed corpus's
    # n_docs) fails the corpus guard and computes inline over the
    # filtered frame — the index would answer for rows the caller
    # excluded
    subset = docs.where("doc_id < 20")
    filtered = dd.containment_pairs_routed(
        subset, "text", "doc_id", k=16, w=3, df_cap=32, index_path=path
    )
    assert decisions.last("containment").route == "inline"
    assert sorted(map(tuple, filtered.collect())) == sorted(
        map(
            tuple,
            dd.containment_pairs(subset, "text", "doc_id", k=16, w=3, df_cap=32).collect(),
        )
    )


def test_containment_guard_count_cached_and_trusted_skip(spark, tmp_path):
    """ADVICE r11: the router's corpus-guard count job runs ONCE per docs
    plan per session (cached by analyzed-plan semanticHash), and
    trusted=True skips it entirely — the index route stays probe-only."""
    from bacon_spark.llm import dedup as dd

    base = "the quick brown fox jumps over the lazy dog again and again "
    docs = spark.createDataFrame(
        [(i, base + f"wrap {i} " + base if i % 3 == 0 else f"solo {i} body")
         for i in range(20)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "cidx_guard")
    dd.containment_index_build(docs, path, "text", "doc_id", k=16, w=3, df_cap=32)
    dd._CORPUS_COUNT_CACHE.clear()

    dd.containment_pairs_routed(
        docs, "text", "doc_id", k=16, w=3, df_cap=32, index_path=path
    )
    assert decisions.last("containment").route == "index"
    assert 20 in dd._CORPUS_COUNT_CACHE.values()

    # second routed call on the same plan: guard answered from the cache,
    # no count job — shadowing .count() with a tripwire proves it
    docs.count = lambda: (_ for _ in ()).throw(
        AssertionError("guard re-ran docs.count() despite the session cache")
    )
    try:
        dd.containment_pairs_routed(
            docs, "text", "doc_id", k=16, w=3, df_cap=32, index_path=path
        )
        assert decisions.last("containment").route == "index"

        # trusted=True: no count even on a cache miss (fresh plan) — the
        # caller owns the corpus correspondence
        dd._CORPUS_COUNT_CACHE.clear()
        dd.containment_pairs_routed(
            docs, "text", "doc_id", k=16, w=3, df_cap=32, index_path=path,
            trusted=True,
        )
        assert decisions.last("containment").route == "index"
        assert not dd._CORPUS_COUNT_CACHE  # nothing was counted
        assert decisions.last("containment").detail["trusted"] is True
    finally:
        del docs.count  # restore the real bound method


def test_corpus_count_cache_freshness_on_file_change(spark, tmp_path):
    """ADVICE r12: a corpus that gains files under the SAME path (append /
    rewrite) must MISS the corpus-count cache — a fresh read of the path
    can share the cached plan's semanticHash, and serving the stale count
    would let the guard route to a stale index. The input-file listing in
    the key is the freshness signal."""
    from bacon_spark.llm import dedup as dd

    p = str(tmp_path / "corpus")
    spark.range(10).selectExpr("id AS doc_id", "cast(id AS string) AS text") \
        .write.parquet(p)
    dd._CORPUS_COUNT_CACHE.clear()
    try:
        assert dd._corpus_count(spark.read.parquet(p)) == 10
        spark.range(10, 15).selectExpr(
            "id AS doc_id", "cast(id AS string) AS text"
        ).write.mode("append").parquet(p)
        # fresh read of the same path: new part files -> new listing ->
        # cache miss -> fresh count (NOT the stale 10)
        assert dd._corpus_count(spark.read.parquet(p)) == 15
        dd.corpus_count_cache_clear()
        assert not dd._CORPUS_COUNT_CACHE
    finally:
        dd._CORPUS_COUNT_CACHE.clear()


def test_containment_rebuild_preserves_pinned_readers(spark, tmp_path):
    """Round 10: a rebuild on the same path writes NEW uuid-suffixed
    table dirs and commits a new manifest version — a reader pinned to
    the pre-rebuild version still scans its original files (the snapshot
    guarantee the fixed-dir overwrite layout violated), and the tip
    serves the new corpus."""
    from bacon_spark.llm import dedup as dd
    from bacon_spark.operators.maintenance import read_manifest

    base = "the quick brown fox jumps over the lazy dog again and again "
    mk = lambda n: spark.createDataFrame(
        [(i, base + f"wrap {i} " + base if i % 3 == 0 else f"solo {i} text body")
         for i in range(n)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "cidx_rebuild")
    v1 = dd.containment_index_build(mk(20), path, "text", "doc_id", k=16, w=3, df_cap=32)
    man1 = read_manifest(path)
    v1_rows = sorted(
        map(tuple, dd.containment_index_probe(spark, path, version=v1).collect())
    )
    v2 = dd.containment_index_build(mk(30), path, "text", "doc_id", k=16, w=3, df_cap=32)
    assert v2 == v1 + 1
    man2 = read_manifest(path)
    d1, d2 = man1["containment"]["dirs"], man2["containment"]["dirs"]
    assert set(d1) == set(d2) and not set(d1.values()) & set(d2.values())
    # ADVICE r10: each manifest lists ONLY its own version's files —
    # v2 must not claim v1's parquet as its own (else vacuum can never
    # reclaim superseded versions and man['files'] mixes corpora)
    import os as _os

    for man, dirs in ((man1, d1), (man2, d2)):
        owned = set(dirs.values())
        assert man["files"], "manifest lists no files"
        for ent in man["files"]:
            rel = ent["path"] if isinstance(ent, dict) else ent[0]
            top = rel.split(_os.sep)[0]
            assert top in owned, f"{rel} not under this version's dirs {owned}"
    # pinned reader: identical rows to its pre-rebuild read
    again = sorted(
        map(tuple, dd.containment_index_probe(spark, path, version=v1).collect())
    )
    assert again == v1_rows and v1_rows
    # tip serves the 30-doc corpus (more pairs than the 20-doc one)
    tip = dd.containment_index_probe(spark, path)
    assert tip.count() > len(v1_rows)
    # routed probe still matches params through the dirs-bearing entry
    dd.containment_pairs_routed(
        mk(30), "text", "doc_id", k=16, w=3, df_cap=32, index_path=path
    )
    assert decisions.last("containment").route == "index"


def test_containment_delta_probe_semantics(spark, tmp_path):
    """Cross-corpus delta probe: exact-copy deltas are found at
    containment 1.0, novel deltas produce no pairs, an all-hot-gram
    delta degrades to no pairs (frozen-df contract) — all without
    touching the corpus beyond the prebuilt index."""
    from bacon_spark.llm import dedup as dd

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa "
    corpus_rows = [
        (i, base + " ".join(w + chr(96 + i) * 3 for w in ("tag", "mid", "tail", "end")))
        for i in range(1, 21)
    ]
    # one very hot phrase shared by EVERY corpus doc (df = 20 > cap 8)
    hotline = "common shared boilerplate line repeated everywhere always "
    corpus_rows = [(i, hotline + t) for i, t in corpus_rows]
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    path = str(tmp_path / "cidx")
    dd.containment_index_build(corpus, path, "text", "doc_id", k=16, w=3, df_cap=8)

    deltas = spark.createDataFrame(
        [
            (101, hotline + base + "tageee mideee taileee endeee"),  # copy of doc 5
            (102, "totally novel content nothing shared here at all x y z w"),
            (103, hotline),                               # only hot grams
        ],
        "doc_id long, text string",
    )
    got = {
        (r["a"], r["b"]): r["containment"]
        for r in dd.containment_delta_probe(spark, path, deltas, "text", "doc_id", (1, 2)).collect()
    }
    assert got.get((101, 5)) == 1.0
    assert all(a != 102 and a != 103 for a, _ in got)
    # the copy also partially matches siblings only below threshold or not
    # at all; nothing from the novel/hot-only docs appears
    assert all(a == 101 for a, _ in got)


def test_adaptive_planes_sql_matches_python_rule():
    """Round 11 (found by the sf1 full gate): the q73/q152 oracles were
    pinned to the 8-plane instantiation and reported spurious mismatches
    at sf1 where the engine had correctly adapted to 12 planes. The
    adaptive planes CTE computes the seed count in SQL; it must equal
    adaptive_seed_count for corpus sizes across the whole ladder,
    including exact power-of-two boundaries, and produce the identical
    plane vectors as the static CTE for the same seed identities."""
    import duckdb

    from bacon_spark.llm.similarity import (
        adaptive_planes_sql_cte,
        adaptive_seed_count,
        hyperplane_planes_sql_cte,
    )

    con = duckdb.connect()
    for n in (1, 7, 8, 9, 64, 2048, 2049, 4096, 20000, 200000, 2_000_000):
        con.execute("CREATE OR REPLACE VIEW t AS SELECT * FROM range(%d)" % n)
        got = con.execute(
            f"SELECT count(*) FROM ({adaptive_planes_sql_cte(4, 't')})"
        ).fetchone()[0]
        assert got == adaptive_seed_count(n), (n, got, adaptive_seed_count(n))
    # same seed identities -> identical plane vectors as the static CTE
    static = con.execute(
        f"SELECT si, plane FROM ({hyperplane_planes_sql_cte(8, tuple('12345678'))}) ORDER BY si"
    ).fetchall()
    con.execute("CREATE OR REPLACE VIEW t AS SELECT * FROM range(100)")
    adaptive = con.execute(
        f"SELECT si, plane FROM ({adaptive_planes_sql_cte(8, 't')}) ORDER BY si"
    ).fetchall()
    assert static == adaptive
