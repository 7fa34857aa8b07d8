"""Document-level duplicate and contamination keys: substring spans and
their rewrite, block and winnowing fingerprints, URL and containment
dedup, duplication rates by source, n-gram and bloom-filter
decontamination screens, and the decontaminated train split.

The reference has no dedup or decontamination surface; north-star extensions per SURVEY §2.H.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from debias_spark.catalog import table
from debias_spark.numeric import floor_eps, floor_eps_sql
from debias_spark.operators.dedup import h60, minhash_ctes_duck, word_tokens
from debias_spark.operators.similarity import dot, l2_norm
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


# Y73, the remedy for Y68's measure (docs_substring_dup_spans): every
# duplicated 20-char window keeps its FIRST corpus occurrence and every
# later occurrence is CUT from the text, with per-doc removed-char
# accounting and the digest of the rewritten document.

# ---------------------------------------------------------------------------
# Y73: exact-substring scrubber — CUT the spans Y68 measures
# ---------------------------------------------------------------------------
_CHAR_K = 20  # char k-gram width (must match Y68's _SPAN_K for the family story)


@register(
    "docs_substring_dedup_rewrite",
    "Y73",
    oracle=f"""
    WITH mx AS (
        SELECT max(length(text)) AS m FROM documents
    ), dims AS (
        SELECT unnest(range(1, (SELECT m FROM mx) - {_CHAR_K - 2})) AS i
    ), g AS MATERIALIZED (
        SELECT doc_id, CAST(length(text) AS BIGINT) AS L, CAST(i AS BIGINT) AS pos,
               substr(md5(substr(text, CAST(i AS INT), {_CHAR_K})), 1, 16) AS gk
        FROM documents JOIN dims ON i <= length(text) - {_CHAR_K - 1}
        WHERE length(text) >= {_CHAR_K}
    ), cut AS (
        -- keep-first-corpus-wide: every occurrence of a gram AFTER its
        -- (doc_id, pos)-minimal one is cut
        SELECT doc_id, L, pos FROM (
            SELECT doc_id, L, pos,
                   row_number() OVER (PARTITION BY gk
                                      ORDER BY doc_id, pos) AS rn
            FROM g
        ) WHERE rn >= 2
    ), isl AS (
        SELECT doc_id, L, pos,
               CASE WHEN max(pos + {_CHAR_K}) OVER w1 IS NULL
                         OR pos > max(pos + {_CHAR_K}) OVER w1
                    THEN 1 ELSE 0 END AS brk
        FROM cut
        WINDOW w1 AS (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ), isl2 AS (
        SELECT doc_id, L, pos,
               sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
        FROM isl
    ), spans AS (
        SELECT doc_id, max(L) AS L, island,
               min(pos) AS s, max(pos) + {_CHAR_K} AS e
        FROM isl2 GROUP BY doc_id, island
    ), segs AS (
        SELECT doc_id, a, seg_len FROM (
            SELECT doc_id,
                   coalesce(lag(e) OVER w2, 1) AS a,
                   s - coalesce(lag(e) OVER w2, 1) AS seg_len
            FROM spans WINDOW w2 AS (PARTITION BY doc_id ORDER BY s)
            UNION ALL
            SELECT doc_id, max(e) AS a, max(L) - max(e) + 1 AS seg_len
            FROM spans GROUP BY doc_id
        ) WHERE seg_len > 0
    ), kept AS (
        SELECT s.doc_id,
               string_agg(substr(d.text, CAST(s.a AS INT),
                                 CAST(s.seg_len AS INT)), '' ORDER BY s.a)
                   AS new_text
        FROM segs s JOIN documents d USING (doc_id)
        GROUP BY s.doc_id
    ), acct AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
               CAST(sum(e - s) AS BIGINT) AS removed_chars
        FROM spans GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(a.n_spans, 0) AS n_spans,
           coalesce(a.removed_chars, 0) AS removed_chars,
           CAST(length(d.text) - coalesce(a.removed_chars, 0) AS BIGINT)
               AS new_len,
           substr(md5(CASE WHEN a.n_spans IS NULL THEN d.text
                           ELSE coalesce(k.new_text, '') END), 1, 16)
               AS new_digest
    FROM documents d
    LEFT JOIN acct a USING (doc_id) LEFT JOIN kept k USING (doc_id)
    """,
)
def docs_substring_dedup_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring SCRUBBER — the remedy for Y68's measurement
    (docs_substring_dup_spans): every 20-char window whose content occurs
    earlier in the corpus (by (doc_id, pos) order) marks its chars for
    removal; overlapping marked windows merge into maximal spans
    (running-max-end gaps-and-islands, so abutting windows fuse); the
    kept segments between spans are re-concatenated into the rewritten
    document.  Keep-first-corpus-wide is the suffix-array-dedup policy
    ("Deduplicating Training Data Makes Language Models Better"): one
    copy of every duplicated substring survives, everywhere else it is
    cut.  Output per doc: span count, removed chars, new length, and the
    16-hex digest of the REWRITTEN text — the digest makes the oracle
    hash prove the actual string surgery, not just the accounting.

    Scale shape: the position explode is a fused codegen generator; the
    keep-first decision shuffles 16-hex gram digests + positions (never
    gram text) through ONE row_number window; island merge and segment
    derivation are per-doc windows; the rebuild joins segments back to
    the doc text once and concatenates with an ordered-struct sort —
    all engine-side, no collect, no UDF.  Docs fully covered by earlier
    copies rewrite to the empty string (digest of '' — distinct from
    the untouched-doc branch, which keeps its original digest)."""
    docs = table(spark, sf_dir, "documents")
    # fan_out: the char-gram md5 explode runs above a single-row-group
    # scan — spread the base rows first (r13, no-op on split inputs)
    base = fan_out(docs).select(
        "doc_id", "text", F.length("text").cast("long").alias("L")
    )
    pos = base.filter(F.col("L") >= _CHAR_K).select(
        "doc_id",
        "L",
        "text",
        F.explode(
            F.sequence(F.lit(1), F.length("text") - F.lit(_CHAR_K - 1))
        ).alias("pos"),
    )
    grams = pos.select(
        "doc_id",
        "L",
        F.col("pos").cast("long").alias("pos"),
        F.substring(F.md5(F.expr(f"substring(text, pos, {_CHAR_K})")), 1, 16).alias("gk"),
    )
    w_first = Window.partitionBy("gk").orderBy("doc_id", "pos")
    cut = (
        grams.withColumn("rn", F.row_number().over(w_first))
        .filter(F.col("rn") >= 2)
        .select("doc_id", "L", "pos")
    )
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max(F.col("pos") + _CHAR_K).over(
        w_doc.rowsBetween(Window.unboundedPreceding, -1)
    )
    isl = cut.withColumn(
        "brk",
        F.when(prev_end.isNull() | (F.col("pos") > prev_end), F.lit(1)).otherwise(
            F.lit(0)
        ),
    ).withColumn("island", F.sum("brk").over(w_doc))
    spans = isl.groupBy("doc_id", "island").agg(
        F.max("L").alias("L"),
        F.min("pos").alias("s"),
        (F.max("pos") + F.lit(_CHAR_K)).alias("e"),
    )
    w_span = Window.partitionBy("doc_id").orderBy("s")
    seg_pre = spans.select(
        "doc_id",
        F.coalesce(F.lag("e").over(w_span), F.lit(1)).alias("a"),
        (F.col("s") - F.coalesce(F.lag("e").over(w_span), F.lit(1))).alias("seg_len"),
    )
    seg_tail = spans.groupBy("doc_id").agg(
        F.max("e").alias("a"), (F.max("L") - F.max("e") + 1).alias("seg_len")
    )
    segs = seg_pre.unionByName(seg_tail).filter(F.col("seg_len") > 0)
    kept = (
        segs.join(docs.select("doc_id", "text"), "doc_id")
        .select(
            "doc_id",
            "a",
            F.expr("substring(text, CAST(a AS INT), CAST(seg_len AS INT))").alias(
                "seg"
            ),
        )
        .groupBy("doc_id")
        .agg(
            F.expr(
                "array_join(transform(array_sort(collect_list(struct(a, seg))),"
                " x -> x.seg), '')"
            ).alias("new_text")
        )
    )
    acct = spans.groupBy("doc_id").agg(
        F.count("*").alias("n_spans"),
        F.sum(F.col("e") - F.col("s")).alias("removed_chars"),
    )
    return (
        base.join(acct, "doc_id", "left")
        .join(kept, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
            F.coalesce("removed_chars", F.lit(0)).alias("removed_chars"),
            (F.col("L") - F.coalesce("removed_chars", F.lit(0))).alias("new_len"),
            F.substring(
                F.md5(
                    F.when(F.col("n_spans").isNull(), F.col("text")).otherwise(
                        F.coalesce("new_text", F.lit(""))
                    )
                ),
                1,
                16,
            ).alias("new_digest"),
        )
    )


@register("docs_contamination_ngram_audit", "Y12", oracle=NGRAM_AUDIT_ORACLE)
def docs_contamination_ngram_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination audit against a DERIVED eval set: the
    benchmark docs' (doc_id < 20) distinct 8-token windows are joined
    against every training doc's windows — the production shape
    text_decontaminate's fixed phrase list only gestures at.  The eval
    gram set is bounded (eval benchmarks are small by nature), so it
    BROADCASTS; the train side streams through one window-lead gram
    build (codegen, cf. text_crossdoc_ngram_dup) and one doc_id rollup.
    At 100 TB the broadcast becomes a bloom-filter prefilter plus this
    exact join for survivors — same plan skeleton.  Output: contaminated
    doc ids with hit counts and a deterministic sample gram."""
    from pyspark.sql import functions as F

    from debias_spark.catalog import table as _table
    from debias_spark.operators.skew import fan_out
    from debias_spark.operators.text import word_ngrams_frame

    d = _table(spark, sf_dir, "documents")
    grams = word_ngrams_frame(fan_out(d), 8)  # scan-level fan_out (r13)
    eval_grams = (
        grams.filter(F.col("doc_id") < EVAL_MAX_ID).select("gram").distinct()
    )
    return (
        grams.filter(F.col("doc_id") >= EVAL_MAX_ID)
        .join(F.broadcast(eval_grams), "gram")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"), F.min("gram").alias("sample_gram"))
    )


# ---------------------------------------------------------------------------
# Y68: char-level repeated-substring spans (exact-substring dedup shape)
# ---------------------------------------------------------------------------
_SPAN_K = 20  # char k-gram width; spans merge overlapping duplicated grams


# Hot-gram skew gate for the occurrence-count spelling (r14; see
# docs_substring_dup_spans body): while the corpus's TOTAL gram count is
# at most this many rows, even a pathological single-gram corpus keeps
# the per-gk count window's one hot task at a bounded, spill-backed size
# (tools/hotgram_stress.py: a 24M-row hot partition stays robust and
# still beats the alternatives); past it, the two-pass agg + left-semi
# spelling bounds every task via map-side partial counts and AQE's
# skew-splittable join.
_GRAM_WINDOW_MAX = 32_000_000


@register(
    "docs_substring_dup_spans",
    "Y68",
    oracle=f"""
    WITH mx AS (
        SELECT max(length(text)) AS m FROM documents
    ), dims AS (
        -- range() cannot take lateral column args in DuckDB: enumerate
        -- to the corpus max and bound per doc in the join predicate
        SELECT unnest(range(1, (SELECT m FROM mx) - {_SPAN_K - 2})) AS i
    ), g AS MATERIALIZED (
        SELECT doc_id, CAST(length(text) AS BIGINT) AS L, CAST(i AS BIGINT) AS pos,
               substr(md5(substr(text, CAST(i AS INT), {_SPAN_K})), 1, 16) AS gk
        FROM documents JOIN dims ON i <= length(text) - {_SPAN_K - 1}
        WHERE length(text) >= {_SPAN_K}
    ), dup AS (
        SELECT gk FROM g GROUP BY gk HAVING count(*) >= 2
    ), hit AS (
        SELECT g.doc_id, g.L, g.pos FROM g JOIN dup USING (gk)
    ), isl AS (
        SELECT doc_id, L, pos,
               CASE WHEN lag(pos) OVER w IS NULL
                         OR pos > lag(pos) OVER w + {_SPAN_K}
                    THEN 1 ELSE 0 END AS brk
        FROM hit WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ), isl2 AS (
        SELECT doc_id, L, pos,
               sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
        FROM isl
    ), spans AS (
        SELECT doc_id, L, island,
               max(pos) + {_SPAN_K} - min(pos) AS span_len
        FROM isl2 GROUP BY doc_id, L, island
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(sum(span_len) AS BIGINT) AS dup_chars,
           CAST(sum(span_len) * 10000 // max(L) AS BIGINT) AS dup_frac_bp
    FROM spans GROUP BY doc_id
    """,
)
def docs_substring_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication spans, the character-level shape of
    suffix-array training-data dedup (cf. "Deduplicating Training Data
    Makes Language Models Better"): every 20-char window whose content
    recurs ANYWHERE in the corpus (>= 2 occurrences, same or other doc)
    marks its positions duplicated; per doc, overlapping duplicated
    windows merge into maximal spans (gaps-and-islands over positions —
    a new island starts when the gap exceeds the gram width), and the
    report gives span count, duplicated chars, and duplicated fraction
    in basis points — the per-doc signal an exact-substring scrubber
    would cut.

    Scale shape: the position explode is a fused codegen generator (the
    doc text never leaves the stage); the only wide shuffle moves
    16-hex-char truncated md5 gram keys, never gram text (truncation
    collisions hit both engines identically — the key IS the md5); the
    island merge is a per-doc window.  All counts exact integers."""
    docs = table(spark, sf_dir, "documents")
    # fan_out: the char-gram md5 explode is the whole cost and runs
    # above a single-row-group scan — spread the base rows first (r13)
    pos = fan_out(docs).filter(F.length("text") >= _SPAN_K).select(
        "doc_id",
        F.length("text").cast("long").alias("L"),
        "text",
        F.explode(
            F.sequence(F.lit(1), F.length("text") - F.lit(_SPAN_K - 1))
        ).alias("pos"),
    )
    grams = pos.select(
        "doc_id",
        "L",
        F.col("pos").cast("long").alias("pos"),
        F.substring(F.md5(F.expr(f"substring(text, pos, {_SPAN_K})")), 1, 16).alias(
            "gk"
        ),
    )
    # ONE gram pass, not two (r13, guide §2.3/§2.4): the old
    # groupBy(gk)+join spelling planned TWO Generate+md5 subtrees — the
    # explode and per-position md5 ran once into the dup aggregate and
    # again into the join probe.  r13 replaced that with a count window
    # partitioned by gk — the single-pass spelling — whose one weakness
    # is hot-gram skew: count().over(Window.partitionBy("gk")) buffers
    # EVERY occurrence of a viral boilerplate gram in ONE window task,
    # and AQE's skew split applies to joins only, never to Window
    # (r13 verdict item 1, guide §2.5).
    #
    # r14 hardening, diagnose-then-choose (the fan_out / _salt_factor
    # doctrine — derive the shape from the input, never a constant
    # tuned for one scale).  Measured (tools/hotgram_stress.py): every
    # skew-safe spelling LOSES at sf0.1 (salted collect_list pack +80%, two-pass agg+semi +~15% flat and
    # 2x the md5 work), the salted pack additionally GC-thrashes under
    # the very skew it targets (object arrays), and the spill-backed
    # WindowExec stays robust to a 24M-row hot gram — the agg+semi
    # two-pass only wins once ONE gram owns >~half the stream.  So the
    # plain window stays while the WORST-CASE single window partition —
    # bounded above by the total gram count, known from the n_chars
    # table statistic without touching text — fits one task's budget;
    # past the bound the two-pass spelling takes over: per-gk counts
    # via hash aggregate (a hot gram collapses MAP-SIDE to one partial
    # row per task — partial_count/merge in the plan) and a LEFT SEMI
    # probe join that AQE's skew split CAN divide, paying the gram
    # stream twice but bounding every task.  Rows kept are identical
    # under both spellings: every occurrence of every gram with
    # corpus-wide count >= 2 (pinned by a forced-path equivalence test
    # + the oracle).
    # gate statistic from the catalog's stat cache (ANALYZE-TABLE
    # semantics: computed once per input-file version; the ~0.4 s
    # n_chars aggregation otherwise re-ran on every call and blew the
    # flat-bench budget — catalog.cached_input_stat)
    from debias_spark.catalog import cached_input_stat

    n_grams_est = cached_input_stat(
        f"{sf_dir}/documents.parquet",
        f"sum_grams_k{_SPAN_K}",
        lambda: docs.agg(
            F.sum(
                F.greatest(
                    F.col("n_chars").cast("long") - (_SPAN_K - 1), F.lit(0)
                )
            )
        ).first()[0],
    )
    if n_grams_est is not None and n_grams_est <= _GRAM_WINDOW_MAX:
        w_gk = Window.partitionBy("gk")
        hit = (
            grams.withColumn("c", F.count("*").over(w_gk))
            .filter(F.col("c") >= 2)
            .select("doc_id", "L", "pos")
        )
    else:
        dup = (
            grams.groupBy("gk")
            .agg(F.count("*").alias("c"))
            .filter(F.col("c") >= 2)
            .select("gk")
        )
        hit = grams.join(dup, "gk", "left_semi").select("doc_id", "L", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    isl = hit.withColumn(
        "brk",
        F.when(
            F.lag("pos").over(w).isNull()
            | (F.col("pos") > F.lag("pos").over(w) + _SPAN_K),
            F.lit(1),
        ).otherwise(F.lit(0)),
    ).withColumn("island", F.sum("brk").over(w))
    spans = isl.groupBy("doc_id", "L", "island").agg(
        (F.max("pos") + F.lit(_SPAN_K) - F.min("pos")).alias("span_len")
    )
    return spans.groupBy("doc_id").agg(
        F.count("*").alias("n_spans"),
        F.sum("span_len").alias("dup_chars"),
        F.expr(f"sum(span_len) * 10000 div max(L)").alias("dup_frac_bp"),
    )


# ---------------------------------------------------------------------------
# Y76: cross-source attribution of exact-substring duplication (round 12)
# ---------------------------------------------------------------------------
@register(
    "docs_substring_dup_source_matrix",
    "Y76",
    oracle=f"""
    WITH mx AS (
        SELECT max(length(text)) AS m FROM documents
    ), dims AS (
        SELECT unnest(range(1, (SELECT m FROM mx) - {_SPAN_K - 2})) AS i
    ), g AS MATERIALIZED (
        SELECT doc_id, source,
               substr(md5(substr(text, CAST(i AS INT), {_SPAN_K})), 1, 16) AS gk
        FROM documents JOIN dims ON i <= length(text) - {_SPAN_K - 1}
        WHERE length(text) >= {_SPAN_K}
    ), ps AS MATERIALIZED (
        SELECT gk, source,
               CAST(count(*) AS BIGINT) AS occ,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        FROM g GROUP BY gk, source
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(count(*) AS BIGINT) AS n_shared_grams,
           CAST(sum(a.occ) AS BIGINT) AS occ_a,
           CAST(sum(b.occ) AS BIGINT) AS occ_b,
           CAST(sum(a.n_docs) AS BIGINT) AS dochits_a,
           CAST(sum(b.n_docs) AS BIGINT) AS dochits_b
    FROM ps a JOIN ps b ON a.gk = b.gk AND a.source < b.source
    GROUP BY a.source, b.source
    ORDER BY source_a, source_b
    """,
)
def docs_substring_dup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHICH SOURCE contributed the duplication: Y68 reports per-doc
    duplicated spans and Y73 rewrites them, but the governance question
    behind an exact-substring scrub is cross-SOURCE — which pairs of
    ingest sources share verbatim content, how many gram keys, how many
    occurrences and docs on each side (r11 verdict item 7; doc-level
    precedent is Y65's provenance matrix).  Per unordered source pair
    (source_a < source_b): the count of distinct 20-char gram keys both
    sources contain, with each side's occurrence and doc-hit totals for
    those shared grams.

    Scale shape (the Y68 discipline, self-join avoided): the position
    explode is a fused generator — doc text never leaves the stage; the
    first shuffle moves (16-hex md5 key, source) pairs only, pre-
    aggregated per (gk, source) so per-gram state downstream is bounded
    by the SOURCE CATALOG (tens of rows), never by gram occurrences; the
    second groups those tiny rows per gk and explodes unordered pairs
    from the sorted per-source array as a pure expression (no self-join
    re-scan, no join shuffle); the final matrix aggregate is
    |sources|^2 rows at most.  All counts exact integers."""
    docs = table(spark, sf_dir, "documents")
    # fan_out: see docs_substring_dup_spans (r13)
    pos = fan_out(docs).filter(F.length("text") >= _SPAN_K).select(
        "doc_id",
        "source",
        "text",
        F.explode(
            F.sequence(F.lit(1), F.length("text") - F.lit(_SPAN_K - 1))
        ).alias("pos"),
    )
    grams = pos.select(
        "doc_id",
        "source",
        F.substring(F.md5(F.expr(f"substring(text, pos, {_SPAN_K})")), 1, 16).alias(
            "gk"
        ),
    )
    ps = grams.groupBy("gk", "source").agg(
        F.count("*").alias("occ"),
        F.count_distinct("doc_id").alias("n_docs"),
    )
    # per gram: the per-source stat array, sorted by source (struct sort
    # is lexicographic and source is the leading field), bounded by the
    # source catalog; unordered pairs explode as an expression
    gkagg = (
        ps.groupBy("gk")
        .agg(F.sort_array(F.collect_list(F.struct("source", "occ", "n_docs"))).alias("ss"))
        .filter(F.size("ss") >= 2)
    )
    pairs = gkagg.select(
        F.explode(
            F.expr(
                "flatten(transform(ss, (x, i) ->"
                " transform(slice(ss, i + 2, size(ss)), y -> struct("
                "x.source AS source_a, y.source AS source_b,"
                " x.occ AS occ_pa, y.occ AS occ_pb,"
                " x.n_docs AS nd_a, y.n_docs AS nd_b))))"
            )
        ).alias("p")
    ).select("p.*")
    return (
        pairs.groupBy("source_a", "source_b")
        .agg(
            F.count("*").alias("n_shared_grams"),
            F.sum("occ_pa").alias("occ_a"),
            F.sum("occ_pb").alias("occ_b"),
            F.sum("nd_a").alias("dochits_a"),
            F.sum("nd_b").alias("dochits_b"),
        )
        .orderBy("source_a", "source_b")
    )


# The 100 TB shape Y12's docstring promises ("the broadcast becomes a
# bloom-filter prefilter plus this exact join for survivors"), made real as
# pure expressions: a bit array built from the eval gram set, probed with
# two md5-derived hashes per train gram, the survivors exact-joined.  This
# is the standard contamination screen for web-scale training corpora
# (eval set small, corpus enormous — the broadcast join's hash table is
# replaced by a few KB of bloom bits).
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


# The "paragraph dedup" stage of corpus cleaning (CCNet-style) re-expressed
# over fixed token blocks, since the synthetic corpus has no paragraph
# breaks.
_BLOCK = 16  # tokens per block; full blocks only


@register(
    "docs_block_dedup",
    "Y19",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\s+'),
                           t -> t <> '') AS t
        FROM documents
    ), blocks AS (
        SELECT doc_id,
               unnest([array_to_string(t[s:s + {_BLOCK - 1}], ' ')
                       FOR s IN range(1, len(t) - {_BLOCK - 2}, {_BLOCK})])
                   AS blk
        FROM toks
        WHERE len(t) >= {_BLOCK}
    ), firsts AS (
        SELECT blk, min(doc_id) AS first_doc FROM blocks GROUP BY blk
    ), per_doc AS (
        SELECT b.doc_id,
               count(*) AS n_blocks,
               CAST(sum(CASE WHEN f.first_doc < b.doc_id THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_dup_blocks
        FROM blocks b JOIN firsts f USING (blk)
        GROUP BY b.doc_id
    )
    SELECT d.doc_id,
           coalesce(p.n_blocks, 0) AS n_blocks,
           coalesce(p.n_dup_blocks, 0) AS n_dup_blocks,
           CASE WHEN p.n_blocks > 0
                THEN (p.n_dup_blocks * 10000) // p.n_blocks
                ELSE 0 END AS dup_share_bp
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
    """,
)
def docs_block_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-block exact dedup: chop each document into consecutive
    {B}-token blocks (full blocks only), attribute each distinct block to
    its first-claimant document (min doc_id), and report per document how
    many of its block instances are duplicates of an earlier document —
    the paragraph-level complement to document-level MinHash/SimHash that
    catches templated spans and block-level copy-paste.

    Scale shape: block building is map-side (lambda-bound token array,
    one O(block) slice per NON-OVERLAPPING block — total work linear in
    tokens, unlike the per-position shingle expansions); attribution is
    the min-aggregate + join-back pattern of text_ngram_novelty_curve —
    one aggregate keyed by block text, one shuffle join of the instance
    stream against the firsts frame, one doc-keyed rollup.  Nothing is
    all-pairs; the join key could drop to a 60-bit hash (h60) at corpus
    scale to shuffle 8-byte keys instead of block strings, at the
    standard negligible-collision tradeoff."""
    from debias_spark.operators.dedup import bind_once, word_tokens

    def build(t: F.Column) -> F.Column:
        starts = F.sequence(F.lit(1), F.size(t) - F.lit(_BLOCK - 1), F.lit(_BLOCK))
        blocks = F.transform(
            starts, lambda s: F.concat_ws(" ", F.slice(t, s, _BLOCK))
        )
        return F.when(F.size(t) >= _BLOCK, blocks).otherwise(
            F.array().cast("array<string>")
        )

    docs = table(spark, sf_dir, "documents")
    inst = docs.select(
        "doc_id",
        F.explode(bind_once(word_tokens(F.col("text")), build)).alias("blk"),
    )
    firsts = inst.groupBy("blk").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        inst.join(firsts, "blk")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_blocks"),
            F.sum((F.col("first_doc") < F.col("doc_id")).cast("long")).alias(
                "n_dup_blocks"
            ),
        )
    )
    return docs.select("doc_id").join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_blocks", F.lit(0)).alias("n_blocks"),
        F.coalesce("n_dup_blocks", F.lit(0)).alias("n_dup_blocks"),
        F.coalesce(
            F.expr("(n_dup_blocks * 10000) div n_blocks"), F.lit(0)
        ).alias("dup_share_bp"),
    )


docs_block_dedup.__doc__ = docs_block_dedup.__doc__.replace("{B}", str(_BLOCK))


_WINNOW_K = 3  # tokens per k-gram


_W = 4  # winnowing window (consecutive k-gram hashes per window)


def _winnow_oracle() -> str:
    h60 = "(('0x' || substr(md5(g), 1, 15))::BIGINT)"
    return rf"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\s+'),
                           t -> t <> '') AS t
        FROM documents
    ), hashed AS (
        SELECT doc_id,
               [{h60} FOR g IN
                [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                 FOR i IN range(1, greatest(len(t) - {_WINNOW_K - 2}, 1))]] AS hs
        FROM toks
        WHERE len(t) >= {_WINNOW_K}
    ), fps AS (
        SELECT doc_id,
               len(hs) AS n_grams,
               list_distinct([list_min(hs[i:i + {_W - 1}])
                              FOR i IN range(1, greatest(len(hs) - {_W - 2}, 1))])
                   AS fp
        FROM hashed
        WHERE len(hs) >= {_W}
    ), inst AS (
        SELECT doc_id, unnest(fp) AS f FROM fps
    ), firsts AS (
        SELECT f, min(doc_id) AS first_doc FROM inst GROUP BY f
    ), shared AS (
        SELECT i.doc_id,
               CAST(sum(CASE WHEN fr.first_doc < i.doc_id THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_shared_fps
        FROM inst i JOIN firsts fr USING (f)
        GROUP BY i.doc_id
    )
    SELECT d.doc_id,
           coalesce(p.n_grams, 0) AS n_grams,
           coalesce(len(p.fp), 0) AS n_fps,
           coalesce(s.n_shared_fps, 0) AS n_shared_fps
    FROM documents d
    LEFT JOIN fps p USING (doc_id)
    LEFT JOIN shared s USING (doc_id)
    """


@register("docs_winnowing_fingerprint", "Y20", oracle=_winnow_oracle())
def docs_winnowing_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (the MOSS algorithm): hash every {k}-token
    gram, slide a {w}-hash window, keep each window's MINIMUM hash, and
    take the distinct selected hashes as the document's fingerprint set —
    the guarantee is that any shared substring of >= {w}+{k}-1 tokens
    between two documents shares at least one selected fingerprint, at
    ~2/({w}+1) the density of full k-gram indexing.  n_shared_fps
    attributes each fingerprint to its first-claimant document (min
    doc_id), making the key a plagiarism/copy-span detector over the
    corpus.

    Expression discipline: gram hashes are the md5-backed h60 (the
    engine-portable sketch hash — the oracle recomputes them exactly);
    the window minimum is a zip_with fold of {wm1} offset slices of the
    hash array (single pass per offset, operators/dedup.py doctrine),
    everything bound once via bind_once.  Corpus attribution is the
    min-aggregate + join-back shape of docs_block_dedup — one aggregate
    keyed by the 8-byte hash, never all-pairs."""
    from debias_spark.operators.dedup import bind_once, h60, word_tokens

    def window_mins(hs: Column) -> Column:
        m = F.greatest(F.size(hs) - F.lit(_W - 1), F.lit(0))
        acc = F.slice(hs, 1, m)
        for k in range(2, _W + 1):
            acc = F.zip_with(acc, F.slice(hs, k, m), lambda a, b: F.least(a, b))
        return F.when(F.size(hs) >= _W, F.array_distinct(acc)).otherwise(
            F.array().cast("array<long>")
        )

    docs = table(spark, sf_dir, "documents")
    # word_shingles is distinct-gram; winnowing needs the FULL positional
    # gram stream, so build grams with the same bound zip-fold inline
    def gram_hashes(t: Column) -> Column:
        m = F.greatest(F.size(t) - F.lit(_WINNOW_K - 1), F.lit(0))
        acc = F.slice(t, 1, m)
        for k in range(2, _WINNOW_K + 1):
            acc = F.zip_with(
                acc, F.slice(t, k, m), lambda a, b: F.concat(a, F.lit(" "), b)
            )
        hashed = F.transform(acc, h60)
        return F.when(F.size(t) >= _WINNOW_K, hashed).otherwise(
            F.array().cast("array<long>")
        )

    base = docs.select(
        "doc_id",
        bind_once(
            bind_once(word_tokens(F.col("text")), gram_hashes),
            lambda hs: F.struct(
                F.size(hs).alias("n_grams"), window_mins(hs).alias("fp")
            ),
        ).alias("s"),
    ).select("doc_id", "s.n_grams", "s.fp")
    # one (doc, fingerprint) instance stream carrying n_grams along; it
    # feeds the firsts aggregate AND the per-doc rollup — checkpoint so
    # the md5 gram-hash pipeline runs once, not once per consumer
    # (measured 2.71 s -> 1.79 s at sf0.1; the rest is the md5-per-gram
    # hash itself, the price of an engine-portable oracle)
    inst = base.select(
        "doc_id", "n_grams", F.explode("fp").alias("f")
    ).localCheckpoint(eager=True)
    firsts = inst.groupBy("f").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        inst.join(firsts, "f")
        .groupBy("doc_id")
        .agg(
            F.max("n_grams").cast("long").alias("n_grams"),
            F.count("*").alias("n_fps"),
            F.sum((F.col("first_doc") < F.col("doc_id")).cast("long")).alias(
                "n_shared_fps"
            ),
        )
    )
    return docs.select("doc_id").join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
        F.coalesce("n_fps", F.lit(0)).alias("n_fps"),
        F.coalesce("n_shared_fps", F.lit(0)).alias("n_shared_fps"),
    )


docs_winnowing_fingerprint.__doc__ = docs_winnowing_fingerprint.__doc__.replace(
    "{k}", str(_WINNOW_K)
).replace("{w}", str(_W)).replace("{wm1}", str(_W - 1))


# The messy-URL synthesis shared by the Spark query and the oracle: the
# documents table has no URL column, so one is derived deterministically
# from (source, doc_id) with the four classic canonicalization hazards —
# scheme case, www prefix, trailing slash, tracking query — distributed by
# doc_id residues so the same canonical target appears under many spellings.
_URL_SPARK = (
    "concat("
    " CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'HTTP://' END,"
    " CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END,"
    " source,"
    " CASE WHEN doc_id % 5 = 0 THEN '.Example.COM' ELSE '.example.com' END,"
    " '/p/', CAST(doc_id % 40 AS STRING),"
    " CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END,"
    " CASE WHEN doc_id % 5 = 0 THEN '?utm_source=feed&ref=x' ELSE '' END)"
)


_URL_DUCK = _URL_SPARK.replace("AS STRING", "AS VARCHAR")


@register(
    "docs_dedup_url",
    "Z23",
    oracle=f"""
    WITH u AS (
        SELECT doc_id, {_URL_DUCK} AS url FROM documents
    ), c AS (
        SELECT doc_id,
               regexp_replace(
                   regexp_replace(
                       regexp_replace(url, '^https?://', '', 'i'),
                       '^www\\.', '', 'i'),
                   '\\?.*$', '') AS rest
        FROM u
    ), s AS (
        SELECT doc_id,
               lower(split_part(rest, '/', 1)) AS host,
               regexp_replace(
                   substr(rest, len(split_part(rest, '/', 1)) + 1),
                   '/$', '') AS path
        FROM c
    )
    SELECT host || path AS canon_url,
           count(*) AS n_ids,
           min(doc_id) AS rep_doc_id
    FROM s GROUP BY host || path
    """,
)
def docs_dedup_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup: normalize scheme/www/host-case/trailing
    slash/tracking-query variants of the same address and keep one
    representative per canonical URL — the first stage of every web-corpus
    pipeline (exact text dedup only fires after URL dedup has collapsed
    re-crawls).

    Canonicalization is pure string expressions (whole-stage codegen);
    dedup is one hash aggregate on the canonical key with min(doc_id) as
    the deterministic representative — the same 16-byte-shuffle shape as
    dedup_exact, so it holds at any corpus size."""
    docs = table(spark, sf_dir, "documents")
    u = docs.select("doc_id", F.expr(_URL_SPARK).alias("url"))
    rest = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace("url", r"(?i)^https?://", ""), r"(?i)^www\.", ""
        ),
        r"\?.*$",
        "",
    )
    c = u.select("doc_id", rest.alias("rest"))
    host = F.substring_index("rest", "/", 1)
    s = c.select(
        "doc_id",
        F.lower(host).alias("host"),
        F.regexp_replace(
            F.expr("substr(rest, length(substring_index(rest, '/', 1)) + 1)"),
            r"/$",
            "",
        ).alias("path"),
    )
    return (
        s.select("doc_id", F.concat("host", "path").alias("canon_url"))
        .groupBy("canon_url")
        .agg(
            F.count("*").alias("n_ids"),
            F.min("doc_id").alias("rep_doc_id"),
        )
    )


_CONTAIN_DF_CAP = 20  # shingles seen in more docs are boilerplate: excluded


_CONTAIN_TAU = 0.5


@register(
    "docs_dedup_containment",
    "Z24",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\s+'),
                           t -> t <> '') AS t
        FROM documents
    ), sh AS (
        SELECT DISTINCT doc_id, g
        FROM (
            SELECT doc_id,
                   unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
                           FOR i IN range(1, greatest(len(t) - 2, 1))]) AS g
            FROM toks
        )
    ), good AS (
        SELECT g FROM sh GROUP BY g HAVING count(*) <= {_CONTAIN_DF_CAP}
    ), post AS (
        SELECT sh.doc_id, sh.g FROM sh JOIN good USING (g)
    ), sz AS (
        SELECT doc_id, count(*) AS n_sh FROM post GROUP BY doc_id
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           count(*) AS n_common,
           round(count(*)::DOUBLE / max(sz.n_sh), 4) AS containment
    FROM post a
    JOIN post b ON a.g = b.g AND a.doc_id <> b.doc_id
    JOIN sz ON sz.doc_id = a.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING round(count(*)::DOUBLE / max(sz.n_sh), 4) >= {_CONTAIN_TAU}
    """,
)
def docs_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle containment: directed pairs (a, b) where at least
    {tau} of doc a's discriminative 4-token shingles also appear in doc b —
    the boilerplate/quotation/near-superset detector symmetric Jaccard
    (H9c) misses, since a short doc embedded in a long one has low Jaccard
    but high containment.

    Scale shape: pair generation is inverted-index postings expansion —
    never all-pairs, never a self-join.  One aggregate builds each
    shingle's posting list; lists longer than {cap} docs (boilerplate by
    definition) are dropped from BOTH the index and each doc's
    denominator, so expanding a list to its ordered doc pairs is a
    bounded {cap}^2 in-row fan-out that Catalyst evaluates inside the
    same stage — no second shuffle of the postings and no recomputation
    of the upstream for a join's two sides.  Counting expanded pairs
    gives |Sa ∩ Sb| exactly; one shuffle join adds |Sa|.

    Expression discipline: the 4-gram build is word_shingles'
    lambda-bound zip_with fold (operators/dedup.py — tokens split once,
    single-pass per offset, no per-position slices), and posting-list
    pair expansion is TWO plain explodes with an inequality filter
    instead of a nested transform-lambda struct build (0.18 s vs 0.24 s
    for the expansion alone at sf0.1 — lambda HOFs run interpreted
    outside whole-stage codegen)."""
    from debias_spark.operators.dedup import word_shingles

    docs = fan_out(table(spark, sf_dir, "documents"))
    sh = docs.select(
        "doc_id", F.explode(word_shingles(F.col("text"), 4)).alias("g")
    )
    postings = (
        sh.groupBy("g")
        .agg(F.collect_list("doc_id").alias("ids"))
        .filter(F.size("ids") <= _CONTAIN_DF_CAP)
    )
    sz = (
        postings.select(F.explode("ids").alias("id_a"))
        .groupBy("id_a")
        .agg(F.count("*").alias("n_sh"))
    )
    pairs = (
        postings.select(F.explode("ids").alias("id_a"), "ids")
        .select("id_a", F.explode("ids").alias("id_b"))
        .filter(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )
    contain = F.round(
        F.col("n_common").cast("double") / F.col("n_sh").cast("double"), 4
    )
    return (
        pairs.join(sz, "id_a")
        .select("id_a", "id_b", "n_common", contain.alias("containment"))
        .filter(F.col("containment") >= _CONTAIN_TAU)
    )


docs_dedup_containment.__doc__ = docs_dedup_containment.__doc__.replace(
    "{tau}", str(_CONTAIN_TAU)
).replace("{cap}", str(_CONTAIN_DF_CAP))


@register(
    "docs_dup_rate_by_source",
    "X56",
    oracle="""
    SELECT source,
           count(*) AS n_docs,
           count(DISTINCT text) AS n_distinct,
           round(1.0 - count(DISTINCT text) * 1.0 / count(*), 4)
               AS exact_dup_rate
    FROM documents GROUP BY source
    ORDER BY source
    """,
)
def docs_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's per-source health metric: exact-duplicate rate
    by ingestion source (1 - distinct/total).  The distinct-count runs on
    the text itself at this SF; at 100 TB substitute md5(text) for the
    distinct key (16-byte shuffle) or approx_count_distinct for a
    sketch — the monitoring contract tolerates approximation.  Exact
    integer counts; the rate is one fp division of exact ints."""
    d = table(spark, sf_dir, "documents")
    return (
        d.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("text").alias("n_distinct"),
            F.round(
                1.0 - F.countDistinct("text") * 1.0 / F.count("*"), 4
            ).alias("exact_dup_rate"),
        )
        .orderBy("source")
    )


# 98/1/1 split by key arithmetic: the eval splits are SMALL by design —
# that is what makes the decontamination screen's eval side broadcastable
# at any corpus scale (cf. embedding_decontamination_screen's contract).
_TRAIN_LT = 98


_VAL_EQ = 98


_THRESH_E4 = 6000


@register(
    "docs_train_split_decontaminated",
    "Y62",
    oracle=f"""
    WITH base AS MATERIALIZED (
        SELECT d.doc_id, d.lang, CAST(d.n_chars AS BIGINT) AS n_chars,
               CAST(e.embedding AS DOUBLE[]) AS v,
               CASE WHEN d.doc_id % 100 < {_TRAIN_LT} THEN 'train'
                    WHEN d.doc_id % 100 = {_VAL_EQ} THEN 'val'
                    ELSE 'test' END AS split
        FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
    ), ev AS MATERIALIZED (
        SELECT doc_id AS eval_id, v AS ev FROM base WHERE split <> 'train'
    ), contaminated AS (
        SELECT DISTINCT b.doc_id
        FROM base b JOIN ev
          ON {floor_eps_sql("list_cosine_similarity(b.v, ev.ev)", 10000)}
             >= {_THRESH_E4}
        WHERE b.split = 'train'
    )
    SELECT b.split, b.lang,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_removed,
           CAST(sum(CASE WHEN c.doc_id IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN c.doc_id IS NULL THEN n_chars ELSE 0 END)
                AS BIGINT) AS kept_chars
    FROM base b LEFT JOIN contaminated c ON c.doc_id = b.doc_id
    GROUP BY b.split, b.lang
    ORDER BY b.split, b.lang
    """,
)
def docs_train_split_decontaminated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified split + decontamination in one pass: every embedded
    document gets a deterministic 98/1/1 train/val/test assignment by
    key arithmetic (no RNG state — reproducible at any cluster size,
    Y10's contract), then train docs whose best cosine against ANY
    val/test embedding reaches 0.60 are removed (paraphrase leakage the
    n-gram screens Y9/Y12 miss), and the key emits the per-(split, lang)
    corpus accounting a pre-training data team actually reports: docs,
    removals, survivors, surviving characters.

    Scale shape: the eval side is small BY CONSTRUCTION (1+1% of keys —
    real eval sets are fixed-size, not corpus-proportional), so it
    broadcasts and the screen is ONE scan of the train split with a
    bounded per-row loop — the H8/Y57 exact shape; a corpus-scale eval
    set would drop in the H8b LSH bucketing unchanged.  Contamination is
    an EXISTS (max-sim >= threshold) aggregate, not a pair emission, so
    the shuffle after the screen carries one boolean per train doc; the
    final rollup groups a (split, lang)-bounded frame."""
    docs = fan_out(table(spark, sf_dir, "documents"))
    emb = table(spark, sf_dir, "embeddings")
    split = (
        F.when(F.col("doc_id") % 100 < _TRAIN_LT, "train")
        .when(F.col("doc_id") % 100 == _VAL_EQ, "val")
        .otherwise("test")
    )
    # base feeds THREE branches (eval side, screen, accounting); the
    # docs-embeddings join + norm projection recomputes per branch
    # without the checkpoint.  Interleaved A/B at sf0.1 (4 reps):
    # checkpointed 1.09-1.37s vs plain 1.15-1.56s — consistently ~5%
    # faster, kept (rule-5 margin case: the join broadcasts, so the
    # recomputed stage is cheap and the win is small but uniform).
    base = (
        docs.join(emb, docs["doc_id"] == emb["vec_id"])
        .select(
            "doc_id",
            "lang",
            F.col("n_chars").cast("long").alias("n_chars"),
            F.col("embedding").alias("v"),
            split.alias("split"),
            l2_norm(F.col("embedding")).alias("nrm"),
        )
        .localCheckpoint(eager=False)
    )
    ev = base.filter(F.col("split") != "train").select(
        F.col("v").alias("ev"), F.col("nrm").alias("en")
    )
    sim_e4 = floor_eps(
        dot(F.col("v"), F.col("ev")) / (F.col("nrm") * F.col("en")), 10000
    ).cast("long")
    # EXISTS via max-sim: one row per train doc survives the screen shuffle
    screened = (
        base.filter(F.col("split") == "train")
        .crossJoin(F.broadcast(ev))
        .select("doc_id", sim_e4.alias("sim_e4"))
        .groupBy("doc_id")
        .agg(F.max("sim_e4").alias("best_e4"))
        .filter(F.col("best_e4") >= _THRESH_E4)
        .select("doc_id", F.lit(True).alias("hit"))
    )
    acc = base.join(F.broadcast(screened), "doc_id", "left").select(
        "split",
        "lang",
        "n_chars",
        F.coalesce(F.col("hit"), F.lit(False)).alias("hit"),
    )
    return (
        acc.groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("hit").cast("long")).alias("n_removed"),
            F.sum((~F.col("hit")).cast("long")).alias("n_kept"),
            F.sum(F.when(~F.col("hit"), F.col("n_chars")).otherwise(F.lit(0))).alias(
                "kept_chars"
            ),
        )
        .orderBy("split", "lang")
    )


def _crosssource_oracle(num_hashes: int = 32, bands: int = 4) -> str:
    """DuckDB replay: the H9 pair pipeline joined to document sources,
    rolled up as an unordered source x source duplication matrix."""
    ctes, jac = minhash_ctes_duck(num_hashes, bands)
    return f"""
    WITH {ctes}, pairs AS (
        SELECT c.id, c.rep_id
        FROM cand c JOIN sh a ON a.id = c.id JOIN sh b ON b.id = c.rep_id
        WHERE {jac} >= 0.8
    )
    SELECT least(da.source, db.source) AS source_a,
           greatest(da.source, db.source) AS source_b,
           count(*) AS n_pairs,
           CAST(sum(CASE WHEN da.source <> db.source THEN 1 ELSE 0 END)
                AS BIGINT) AS n_cross
    FROM pairs p
    JOIN documents da ON da.doc_id = p.id
    JOIN documents db ON db.doc_id = p.rep_id
    GROUP BY 1, 2 ORDER BY 1, 2
    """


@register(
    "docs_dup_crosssource_matrix",
    "Y65",
    # bench=False for the H9e/Y61 reason: the key re-runs the full
    # minhash pair pipeline the bench already prices via H9
    bench=False,
    oracle=_crosssource_oracle(),
)
def docs_dup_crosssource_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix — the data-governance rollup over
    the H9 near-dup pair graph: for every unordered source pair, how
    many near-duplicate pairs connect them (and how many cross the
    source boundary).  WITHIN-source duplication means a crawler is
    re-fetching; CROSS-source duplication means two upstream feeds
    overlap and one can be dropped — the decision this matrix feeds in a
    real corpus pipeline.  Source pair is normalized with least/greatest
    so the matrix is triangular regardless of which side the pair
    pipeline chose as representative.

    Scale shape: pairs come from the banded-LSH pipeline (never
    all-pairs); the source lookup is two hash joins on doc_id (broadcast
    while doc->source fits, shuffle joins beyond); the matrix itself is
    source-cardinality-squared bounded (tiny)."""
    docs = table(spark, sf_dir, "documents")
    from debias_spark.operators.dedup import minhash_dedup

    pairs = minhash_dedup(docs, "doc_id", "text", shingle_n=1, threshold=0.8)
    src = docs.select("doc_id", "source")
    j = (
        pairs.join(src.withColumnRenamed("source", "sa"), pairs["id"] == src["doc_id"])
        .drop("doc_id")
        .join(
            src.withColumnRenamed("source", "sb"),
            F.col("rep_id") == src["doc_id"],
        )
    )
    return (
        j.select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
            (F.col("sa") != F.col("sb")).cast("long").alias("x"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_pairs"), F.sum("x").alias("n_cross"))
        .orderBy("source_a", "source_b")
    )
