"""Round-9 wave 4 (Y72): bloom-filter decontamination prefilter — the
100 TB shape Y12's docstring promises ("the broadcast becomes a
bloom-filter prefilter plus this exact join for survivors"), made real
as pure expressions: a bit array built from the eval gram set, probed
with two md5-derived hashes per train gram, the survivors exact-joined.

Reference parity: the reference has no dedup/decontamination at all;
this is the standard contamination screen for web-scale training
corpora (eval set small, corpus enormous — the broadcast join's hash
table is replaced by a few KB of bloom bits).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debias_spark.catalog import table
from debias_spark.operators.skew import fan_out
from debias_spark.operators.text import (
    DECONTAM_GRAM_N,
    EVAL_GRAM_CAP,
    EVAL_MAX_ID,
    NGRAM_AUDIT_ORACLE,
    bloom_bits_literal,
    bloom_member,
    word_ngrams_frame,
)
from debias_spark.registry import register


@register("docs_decontam_bloom_prefilter", "Y72", oracle=NGRAM_AUDIT_ORACLE)
def docs_decontam_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Y12's contamination audit behind a BLOOM PREFILTER: the eval
    set's distinct 8-token grams (bounded — eval benchmarks are small by
    nature; hard-capped here) build a 131072-bit / 2-hash bloom filter
    driver-side, shipped to executors as a 2048-long literal array; each
    train gram probes the bits with two md5-derived hashes as PURE
    Catalyst expressions (shiftright + bitwise-and on the array
    elements — no UDF, no broadcast hash table), and only bloom
    survivors reach the exact broadcast join.  Blooms have NO false
    negatives, so the final result is bit-identical to Y12's — proven by
    hashing against Y12's EXACT oracle text — while false positives die
    in the exact join.

    At 100 TB this is THE decontamination plan: the corpus-side scan
    carries a ~16 KB bit array instead of a multi-GB broadcast, the
    prefilter runs inside whole-stage codegen, and the exact join sees
    only the (tiny) candidate stream.  The in-code selectivity assert
    pins that the prefilter actually filtered (a bloom sized too small
    degrades to a pass-through, silently un-doing the plan)."""
    docs = table(spark, sf_dir, "documents")
    # NOT checkpointed (r13): the gram build is a zero-exchange array
    # expression now (word_ngrams_frame respell), so recomputing the
    # map-only explode per consumer beats materializing the full gram
    # string stream (interleaved A/B at sf0.1: ~3.0 s vs ~3.3 s)
    grams = word_ngrams_frame(fan_out(docs), DECONTAM_GRAM_N)  # scan-level fan_out
    # bounded driver-side collect: the eval set DEFINES the filter (same
    # class as the BPE merge-table collects); capped loudly
    eset = [
        r.gram
        for r in grams.filter(F.col("doc_id") < EVAL_MAX_ID)
        .select("gram")
        .distinct()
        .collect()
    ]
    if len(eset) > EVAL_GRAM_CAP:
        raise RuntimeError(
            f"eval gram set {len(eset)} exceeds the {EVAL_GRAM_CAP} bloom cap"
        )
    bits = bloom_bits_literal(eset)
    member = bloom_member(bits)
    train = grams.filter(F.col("doc_id") >= EVAL_MAX_ID)
    # selectivity guard in ONE aggregate pass (not two count jobs); a
    # raise, not assert — the guard must survive python -O
    st = train.agg(
        F.count("*").alias("n_train"), F.sum(member.cast("long")).alias("n_pre")
    ).collect()[0]
    if st.n_train > 0 and st.n_pre >= st.n_train:
        raise RuntimeError(
            f"bloom prefilter passed everything ({st.n_pre}/{st.n_train}) — "
            "filter width degraded to a pass-through"
        )
    eval_grams = spark.createDataFrame([(g,) for g in eset], "gram string")
    return (
        train.filter(member)
        .join(F.broadcast(eval_grams), "gram")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"), F.min("gram").alias("sample_gram"))
    )
