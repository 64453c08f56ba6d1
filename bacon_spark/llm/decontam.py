"""Test-set decontamination: drop training documents that overlap an
evaluation set.

The standard contamination check for LLM training corpora: a training
document is contaminated iff it shares at least one word k-gram with any
document in the held-out evaluation set. (Extension beyond the reference —
part of the training-data-pipeline north star; the reference has no
document operators at all.)

Scale design (100 TB train corpus, small eval set): the eval side is by
construction tiny (benchmarks are MBs, not TBs), so its distinct shingle
set is collected into a broadcast hash relation. The train side then needs
only a map-side explode + broadcast semi-join probe — the 100 TB side is
never shuffled, and contaminated-id collection is a distinct on doc ids
(shuffle of ids only, never text). With k=8-13 (the published range) the
shingle explode is bounded by corpus token count; ``shingle_hashes`` can
swap in 60-bit hashes for the probe to cut the broadcast size when eval
sets grow.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..utils.conf import conf_override
from .dedup import shingles

#: word n-gram size for the overlap test (8-13 in published decontamination
#: setups; tests use smaller k to suit the tiny synthetic vocabulary)
DEFAULT_K = 8


def eval_shingle_set(eval_df: DataFrame, text: Column | str, k: int = DEFAULT_K) -> DataFrame:
    """Distinct word k-grams of the evaluation set — the (small) broadcast
    side of the contamination probe."""
    text = F.col(text) if isinstance(text, str) else text
    return eval_df.select(F.explode(shingles(text, k)).alias("gram")).distinct()


def contaminated_ids(
    train: DataFrame,
    eval_df: DataFrame,
    text: Column | str = "text",
    id_col: str = "doc_id",
    k: int = DEFAULT_K,
) -> DataFrame:
    """Ids of training docs sharing ≥1 word k-gram with the eval set.

    Plan shape: map-side shingle explode on train, broadcast semi-join
    against the eval shingle set, distinct on ids. The train corpus is
    never shuffled."""
    text = F.col(text) if isinstance(text, str) else text
    grams = train.select(F.col(id_col), F.explode(shingles(text, k)).alias("gram"))
    probe = F.broadcast(eval_shingle_set(eval_df, text, k))
    return grams.join(probe, "gram", "left_semi").select(id_col).distinct()


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    text: Column | str = "text",
    id_col: str = "doc_id",
    k: int = DEFAULT_K,
) -> DataFrame:
    """The training corpus minus contaminated documents (left-anti join on
    the contaminated-id set — ids only, the text never shuffles)."""
    bad = contaminated_ids(train, eval_df, text, id_col, k)
    return train.join(bad, id_col, "left_anti")


def contaminated_ids_bloom(
    train: DataFrame,
    eval_df: DataFrame,
    text: Column | str = "text",
    id_col: str = "doc_id",
    k: int = DEFAULT_K,
    m_bits: int = 1 << 17,
    n_hashes: int = 3,
) -> DataFrame:
    """Bloom-prefiltered contamination probe — EXACT final answer.

    When the eval shingle set outgrows broadcast-hash-join comfort
    (multi-benchmark suites against a 100 TB train corpus), ship a
    16 KB Bloom BITMAP instead of the full set.  Built with public
    primitives only: each eval gram sets ``n_hashes`` bit positions
    (xxhash64 with distinct prefix columns), positions aggregate into
    64-bit words via ``bit_or``, and the word array (m_bits/64 longs)
    is embedded as a literal so the train-side probe is pure
    whole-stage-codegen bit arithmetic — no UDF, no join, no shuffle.
    Only bloom survivors (fpp-sized in expectation) reach the exact
    verify join.  Bloom filters have NO false negatives, so prefilter +
    exact verify returns exactly :func:`contaminated_ids` — the oracle
    pins that equality by computing the bloom-free exact answer.

    The bitmap collect is one driver round-trip of m_bits/8 bytes —
    the same cost profile as ``df.stat.bloomFilter``, but the probe
    stays in codegen instead of a per-row Python call.

    r14 (job-trace fold, guide §5): the bitmap is built from the RAW
    eval gram stream — duplicate grams set the same bits, so the
    distinct exchange (and the r13 persist whose only point was sharing
    that distinct with the verify join) is gone from the BLOCKING path
    that gates the probe plan; the verify broadcast computes its own
    distinct, the canonical build-side-scanned-twice bloom shape (guide
    §3.2). The bitmap aggregate's output is structurally bounded
    (≤ m_bits/64 = 2048 words at any SF), so its collect runs with AQE
    pinned off: a fixed 2-stage static plan in ONE driver job instead of
    AQE's per-stage jobs (measured 11→9 jobs for the full query; wall
    flat within noise at sf0.1, the win is driver round-trips)."""
    text = F.col(text) if isinstance(text, str) else text
    grams = train.select(F.col(id_col), F.explode(shingles(text, k)).alias("gram"))
    raw_ev = eval_df.select(F.explode(shingles(text, k)).alias("gram"))
    ev = eval_shingle_set(eval_df, text, k)

    def positions(gram: Column) -> list[Column]:
        return [
            F.pmod(F.xxhash64(F.lit(f"b{i}"), gram), F.lit(m_bits))
            for i in range(n_hashes)
        ]

    words_q = (
        raw_ev.select(F.explode(F.array(*positions(F.col("gram")))).alias("pos"))
        .select(
            (F.col("pos") / 64).cast("long").alias("word"),
            F.call_function(
                "shiftleft", F.lit(1).cast("long"), (F.col("pos") % 64).cast("int")
            ).alias("bit"),
        )
        .groupBy("word")
        .agg(F.expr("bit_or(bit)").alias("bits"))
    )
    with conf_override(eval_df.sparkSession, {"spark.sql.adaptive.enabled": "false"}):
        words = words_q.collect()
    bitmap = [0] * (m_bits // 64)
    for r in words:
        bitmap[r["word"]] = r["bits"]
    blit = F.lit(bitmap)

    def might_contain(gram: Column) -> Column:
        cond = F.lit(True)
        for pos in positions(gram):
            word = F.element_at(blit, ((pos / 64).cast("long") + 1).cast("int"))
            bit = F.call_function(
                "shiftright", word, (pos % 64).cast("int")
            ).bitwiseAND(F.lit(1).cast("long"))
            cond = cond & (bit == 1)
        return cond

    prefiltered = grams.filter(might_contain(F.col("gram")))
    return (
        prefiltered.join(F.broadcast(ev), "gram", "left_semi")
        .select(id_col)
        .distinct()
    )
