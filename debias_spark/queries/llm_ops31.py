"""Round-9 wave 1 (Y66/Y68/Y69/Y70): corpus-refresh governance — the
cross-generation drift monitor the r8 verdict asked for (growth item 6a),
char-level repeated-substring spans (the exact-substring-dedup shape),
epoch/repeat-factor planning under a token budget, and rendezvous-hash
shard stability.

Reference parity: the reference re-reads its whole output folder per
Refresh press (analytics/dashboard_widget.py:72-79) and has no notion of
corpus generations, budgets, or shards; these keys are the monitoring and
planning surface a 100 TB corpus pipeline needs AROUND that refresh loop.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from debias_spark.catalog import table
from debias_spark.operators.skew import fan_out
from debias_spark.operators.text import NORMALIZE_STRICT_DUCK, normalize_strict
from debias_spark.registry import register

# ---------------------------------------------------------------------------
# Y66: survivor-state drift between two corpus generations
# ---------------------------------------------------------------------------

_GEN_NUM, _GEN_DEN = 4, 5  # generation A = first 80% of doc ids

_SURV_WINDOW = """row_number() OVER (
                       PARTITION BY norm
                       ORDER BY n_chars DESC, doc_id)"""


@register(
    "pipeline_survivor_drift_monitor",
    "Y66",
    oracle=f"""
    WITH n AS MATERIALIZED (
        SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
               {NORMALIZE_STRICT_DUCK.format(x='text')} AS norm
        FROM documents
    ), cut AS (
        SELECT (max(doc_id) + 1) * {_GEN_NUM} // {_GEN_DEN} AS c FROM n
    ), sa AS (
        SELECT doc_id, lang, n_chars FROM (
            SELECT doc_id, lang, n_chars, {_SURV_WINDOW} AS rn
            FROM n WHERE doc_id < (SELECT c FROM cut)
        ) WHERE rn = 1
    ), sb AS (
        SELECT doc_id, lang, n_chars FROM (
            SELECT doc_id, lang, n_chars, {_SURV_WINDOW} AS rn FROM n
        ) WHERE rn = 1
    ), j AS (
        SELECT coalesce(a.lang, b.lang) AS lang,
               a.doc_id IS NOT NULL AS in_a,
               b.doc_id IS NOT NULL AS in_b,
               a.n_chars AS a_chars, b.n_chars AS b_chars
        FROM sa a FULL JOIN sb b ON a.doc_id = b.doc_id
    )
    SELECT lang,
           CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
           CAST(sum(CASE WHEN in_b THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
           CAST(sum(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
           CAST(sum(CASE WHEN in_b AND NOT in_a THEN 1 ELSE 0 END) AS BIGINT)
               AS n_added,
           CAST(sum(CASE WHEN in_a AND NOT in_b THEN 1 ELSE 0 END) AS BIGINT)
               AS n_removed,
           CAST(sum(CASE WHEN in_a THEN a_chars ELSE 0 END) AS BIGINT)
               AS sum_chars_a,
           CAST(sum(CASE WHEN in_b THEN b_chars ELSE 0 END) AS BIGINT)
               AS sum_chars_b,
           CAST(sum(CASE WHEN in_a THEN a_chars ELSE 0 END) * 100
               // nullif(sum(CASE WHEN in_a THEN 1 ELSE 0 END), 0) AS BIGINT)
               AS mean_len_a_e2,
           CAST(sum(CASE WHEN in_b THEN b_chars ELSE 0 END) * 100
               // nullif(sum(CASE WHEN in_b THEN 1 ELSE 0 END), 0) AS BIGINT)
               AS mean_len_b_e2,
           CAST((sum(CASE WHEN in_b AND NOT in_a THEN 1 ELSE 0 END)
            + sum(CASE WHEN in_a AND NOT in_b THEN 1 ELSE 0 END)) * 10000
               // (sum(CASE WHEN in_a THEN 1 ELSE 0 END)
                   + sum(CASE WHEN in_b THEN 1 ELSE 0 END)) AS BIGINT)
               AS turnover_bp
    FROM j GROUP BY lang ORDER BY lang
    """,
)
def pipeline_survivor_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-refresh drift monitor (r8 verdict growth 6a): materialize the
    dedup-survivor state for TWO corpus generations — generation A = the
    first 80% of doc ids (the previous refresh's input), generation B =
    the full corpus — under the exact Z65 survivor semantics (argmax per
    normalized-text digest by n_chars desc, doc_id asc), then report the
    between-generation drift per lang: kept/added/removed survivor
    counts, char mass, mean survivor length (e2), and turnover in basis
    points.  A survivor can be REMOVED by growth alone (a longer copy of
    its cluster arrived), which is exactly the displacement this monitor
    exists to catch between production refreshes.

    Scale shape: each generation is one window over norm partitions (the
    same shuffle Z65's state merge does), the diff is one full outer
    join on doc_id, and every metric is exact integer arithmetic
    (integer div via ``div``/``//`` — no float crosses the engines).
    The 80% cutoff derives from a 1-row broadcast aggregate, never a
    driver collect."""
    docs = table(spark, sf_dir, "documents")
    n = docs.select(
        "doc_id",
        "lang",
        F.col("n_chars").cast("long").alias("n_chars"),
        normalize_strict(F.col("text")).alias("norm"),
    )
    cut = n.agg(
        F.expr(f"(max(doc_id) + 1) * {_GEN_NUM} div {_GEN_DEN}").alias("c")
    )
    w = Window.partitionBy("norm").orderBy(F.desc("n_chars"), F.asc("doc_id"))

    def survivors(frame: DataFrame) -> DataFrame:
        return (
            frame.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("doc_id", "lang", "n_chars")
        )

    sa = survivors(n.crossJoin(F.broadcast(cut)).filter(F.col("doc_id") < F.col("c")))
    sb = survivors(n)
    j = sa.select(
        F.col("doc_id").alias("a_id"),
        F.col("lang").alias("a_lang"),
        F.col("n_chars").alias("a_chars"),
    ).join(
        sb.select(
            F.col("doc_id").alias("b_id"),
            F.col("lang").alias("b_lang"),
            F.col("n_chars").alias("b_chars"),
        ),
        F.col("a_id") == F.col("b_id"),
        "full",
    )
    in_a = F.col("a_id").isNotNull()
    in_b = F.col("b_id").isNotNull()
    g = j.select(
        F.coalesce("a_lang", "b_lang").alias("lang"),
        in_a.cast("long").alias("ia"),
        in_b.cast("long").alias("ib"),
        (in_a & in_b).cast("long").alias("kept"),
        (in_b & ~in_a).cast("long").alias("added"),
        (in_a & ~in_b).cast("long").alias("removed"),
        F.when(in_a, F.col("a_chars")).otherwise(F.lit(0)).alias("ac"),
        F.when(in_b, F.col("b_chars")).otherwise(F.lit(0)).alias("bc"),
    )
    return (
        g.groupBy("lang")
        .agg(
            F.sum("ia").alias("n_a"),
            F.sum("ib").alias("n_b"),
            F.sum("kept").alias("n_kept"),
            F.sum("added").alias("n_added"),
            F.sum("removed").alias("n_removed"),
            F.sum("ac").alias("sum_chars_a"),
            F.sum("bc").alias("sum_chars_b"),
        )
        .select(
            "lang",
            "n_a",
            "n_b",
            "n_kept",
            "n_added",
            "n_removed",
            "sum_chars_a",
            "sum_chars_b",
            F.expr("sum_chars_a * 100 div nullif(n_a, 0)").alias("mean_len_a_e2"),
            F.expr("sum_chars_b * 100 div nullif(n_b, 0)").alias("mean_len_b_e2"),
            F.expr("(n_added + n_removed) * 10000 div (n_a + n_b)").alias(
                "turnover_bp"
            ),
        )
        .orderBy("lang")
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
# Y69: epoch / repeat-factor plan under a token budget
# ---------------------------------------------------------------------------

_BUDGET_X = 3  # token budget = 3x the corpus
_EPOCH_CAP = 4  # no source repeats more than 4 epochs

# target mixture weight per source: w(srcK) = K + 1 (a stand-in for the
# hand-configured mixture table a real run ships); W = sum of weights
_W_EXPR_DUCK = "CAST(substr(source, 4) AS BIGINT) + 1"
_W_EXPR_SPARK = "CAST(substring(source, 4, 8) AS BIGINT) + 1"


@register(
    "corpus_repeat_epoch_plan",
    "Y69",
    oracle=f"""
    WITH s AS MATERIALIZED (
        SELECT source, {_W_EXPR_DUCK} AS w,
               CAST(sum(len(list_filter(string_split_regex(lower(text), '\\s+'),
                                        x -> x <> ''))) AS BIGINT) AS toks
        FROM documents GROUP BY source
    ), tot AS (
        SELECT sum(toks) * {_BUDGET_X} AS budget, sum(w) AS wsum FROM s
    ), a1 AS (
        SELECT s.source, s.w, s.toks,
               least({_EPOCH_CAP} * s.toks, tot.budget * s.w // tot.wsum)
                   AS alloc1,
               (tot.budget * s.w // tot.wsum) >= {_EPOCH_CAP} * s.toks
                   AS capped
        FROM s, tot
    ), left_ AS (
        SELECT (SELECT budget FROM tot) - sum(alloc1) AS leftover,
               sum(CASE WHEN NOT capped THEN w ELSE 0 END) AS w_unc
        FROM a1
    )
    SELECT a.source, a.toks, a.w,
           CAST(a.alloc1 + CASE WHEN a.capped THEN 0
                           ELSE l.leftover * a.w // nullif(l.w_unc, 0) END
               AS BIGINT) AS alloc_tokens,
           -- nullif on the token supply too (r9 advice): a zero-token
           -- source must be NULL in BOTH engines, not a DuckDB // 0 crash
           CAST((a.alloc1 + CASE WHEN a.capped THEN 0
                            ELSE l.leftover * a.w // nullif(l.w_unc, 0) END)
               * 10000 // nullif(a.toks, 0) AS BIGINT) AS epochs_e4,
           CAST(CASE WHEN a.capped THEN 1 ELSE 0 END AS BIGINT) AS capped
    FROM a1 a, left_ l ORDER BY a.source
    """,
)
def corpus_repeat_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch/repeat-factor planning for a token-budgeted training run
    (the data-constrained-scaling allocation step): each source has a
    target mixture weight; its allocation = budget * w / W, CAPPED at 4
    epochs of its actual token supply (repeating a small source more
    stops helping), with one redistribution round pushing the capped
    surplus to uncapped sources proportionally.  Output per source:
    token supply, weight, final allocated tokens, epochs in e4, and the
    cap flag — the table a run planner turns into per-source sampling
    rates.

    Scale shape: one corpus-scale token-count aggregation (map-side
    combine onto ~|sources| rows), then pure integer arithmetic on the
    bounded source table via two 1-row broadcast aggregates — zero
    floats, zero collects, batching-independent."""
    from debias_spark.operators.dedup import word_tokens

    docs = table(spark, sf_dir, "documents")
    s = (
        docs.select(
            "source", F.size(word_tokens(F.col("text"))).cast("long").alias("nt")
        )
        .groupBy("source")
        .agg(F.sum("nt").alias("toks"))
        .withColumn("w", F.expr(_W_EXPR_SPARK))
    )
    tot = s.agg(
        (F.sum("toks") * _BUDGET_X).alias("budget"), F.sum("w").alias("wsum")
    )
    a1 = s.crossJoin(F.broadcast(tot)).select(
        "source",
        "w",
        "toks",
        F.expr(
            f"least({_EPOCH_CAP} * toks, budget * w div wsum)"
        ).alias("alloc1"),
        F.expr(f"(budget * w div wsum) >= {_EPOCH_CAP} * toks").alias("capped"),
        "budget",
    )
    left = a1.agg(
        (F.max("budget") - F.sum("alloc1")).alias("leftover"),
        F.sum(F.when(~F.col("capped"), F.col("w")).otherwise(F.lit(0))).alias(
            "w_unc"
        ),
    )
    return (
        a1.crossJoin(F.broadcast(left))
        .select(
            "source",
            "toks",
            "w",
            F.expr(
                "alloc1 + (CASE WHEN capped THEN 0"
                " ELSE leftover * w div nullif(w_unc, 0) END)"
            ).alias("alloc_tokens"),
            F.expr(
                "(alloc1 + (CASE WHEN capped THEN 0"
                " ELSE leftover * w div nullif(w_unc, 0) END))"
                " * 10000 div nullif(toks, 0)"
            ).alias("epochs_e4"),
            F.col("capped").cast("long").alias("capped"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Y70: rendezvous-hash shard stability under shard-count change
# ---------------------------------------------------------------------------

_SHARDS_FROM, _SHARDS_TO = 4, 5


def _hrw_rank_duck(n_shards: int) -> str:
    """Per-doc winning shard among 0..n_shards-1 by max h60(doc_id:shard)."""
    return f"""
        SELECT doc_id, s AS shard FROM (
            SELECT doc_id, s,
                   row_number() OVER (
                       PARTITION BY doc_id ORDER BY h DESC, s) AS rn
            FROM (
                SELECT doc_id, CAST(t.s AS BIGINT) AS s,
                       (('0x' || substr(md5(doc_id::VARCHAR || ':' || t.s::VARCHAR),
                                        1, 15))::BIGINT) AS h
                FROM documents, range(0, {n_shards}) t(s)
            )
        ) WHERE rn = 1
    """


@register(
    "docs_shard_rendezvous_stability",
    "Y70",
    oracle=f"""
    WITH h4 AS MATERIALIZED ({_hrw_rank_duck(_SHARDS_FROM)}),
    h5 AS MATERIALIZED ({_hrw_rank_duck(_SHARDS_TO)}),
    j AS (
        SELECT h4.doc_id, h4.shard AS shard_from,
               CASE WHEN h4.shard <> h5.shard THEN 1 ELSE 0 END AS mv_hrw,
               CASE WHEN h4.doc_id % {_SHARDS_FROM}
                         <> h4.doc_id % {_SHARDS_TO} THEN 1 ELSE 0 END AS mv_mod
        FROM h4 JOIN h5 USING (doc_id)
    )
    SELECT shard_from,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(mv_hrw) AS BIGINT) AS n_moved_hrw,
           CAST(sum(mv_mod) AS BIGINT) AS n_moved_mod,
           CAST(sum(mv_hrw) * 10000 // count(*) AS BIGINT) AS moved_hrw_bp,
           CAST(sum(mv_mod) * 10000 // count(*) AS BIGINT) AS moved_mod_bp
    FROM j GROUP BY shard_from ORDER BY shard_from
    """,
)
def docs_shard_rendezvous_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-assignment stability when a corpus resizes from 4 to 5
    shards: rendezvous (highest-random-weight) hashing — shard(doc) =
    argmax over shards of h60('doc_id:shard') — moves ONLY the docs the
    new shard wins (~1/5), while naive modulo sharding moves ~4/5 and
    forces a near-total reshuffle of a 100 TB corpus on every topology
    change.  The report quantifies both, per current shard, in exact
    counts and basis points.

    Scale shape: a 5-way position explode per doc (fused generator), an
    argmax via one per-doc struct-max aggregate — no window over the
    corpus, no join wider than doc_id — and the same md5-derived h60
    the dedup family uses, so the DuckDB oracle replays it exactly."""
    from debias_spark.operators.dedup import h60

    docs = table(spark, sf_dir, "documents").select("doc_id")

    def hrw(n_shards: int, out: str) -> DataFrame:
        ex = docs.select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.lit(n_shards - 1))).alias("s"),
        ).select(
            "doc_id",
            F.col("s").cast("long").alias("s"),
            h60(
                F.concat_ws(":", F.col("doc_id").cast("string"),
                            F.col("s").cast("string"))
            ).alias("h"),
        )
        # argmax by (h desc, s asc): max of struct(h, -s), shard = -neg
        return ex.groupBy("doc_id").agg(
            (-F.max(F.struct(F.col("h"), (-F.col("s")).alias("ns"))).getField(
                "ns"
            )).alias(out)
        )

    j = hrw(_SHARDS_FROM, "shard_from").join(hrw(_SHARDS_TO, "shard_to"), "doc_id")
    g = j.select(
        "shard_from",
        (F.col("shard_from") != F.col("shard_to")).cast("long").alias("mv_hrw"),
        (
            F.col("doc_id") % _SHARDS_FROM != F.col("doc_id") % _SHARDS_TO
        ).cast("long").alias("mv_mod"),
    )
    return (
        g.groupBy("shard_from")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("mv_hrw").alias("n_moved_hrw"),
            F.sum("mv_mod").alias("n_moved_mod"),
        )
        .select(
            "shard_from",
            "n_docs",
            "n_moved_hrw",
            "n_moved_mod",
            F.expr("n_moved_hrw * 10000 div n_docs").alias("moved_hrw_bp"),
            F.expr("n_moved_mod * 10000 div n_docs").alias("moved_mod_bp"),
        )
        .orderBy("shard_from")
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
