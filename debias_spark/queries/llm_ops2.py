"""LLM-data-pipeline second wave: corpus quality filters in the C4/Gopher
style (rule-based quality gates, repetition detection, PII redaction) and
the MLlib-backed sketch variants (MinHashLSH model, k-means IVF ANN) that
complement the hash-native implementations in operators/.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debias_spark.catalog import table
from debias_spark.numeric import floor_eps, floor_eps_sql
from debias_spark.operators.skew import fan_out
from debias_spark.operators.dedup import bind_once, word_tokens
from debias_spark.registry import register

_TOKS = r"list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')"


@register(
    "text_gopher_rules",
    "Y1",
    oracle=rf"""
    WITH m AS (
        SELECT doc_id,
               CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct({_TOKS})) AS BIGINT) AS n_distinct,
               list_sum(list_transform({_TOKS}, t -> length(t)))::DOUBLE AS sum_len
        FROM documents
    )
    SELECT doc_id, n_tokens,
           {floor_eps_sql("coalesce(sum_len / nullif(n_tokens, 0), 0)", 10000)}
               AS mean_word_len_e4,
           {floor_eps_sql("coalesce(n_distinct::DOUBLE / nullif(n_tokens, 0), 0)", 10000)}
               AS frac_unique_e4,
           (n_tokens >= 10 AND n_tokens <= 100000
            AND coalesce(sum_len / nullif(n_tokens, 0), 0) BETWEEN 2 AND 12
            AND coalesce(n_distinct::DOUBLE / nullif(n_tokens, 0), 0) >= 0.1) AS passes
    FROM m
    """,
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule-based quality gate: token-count band, mean word
    length band, unique-token fraction floor.  Pure codegen arithmetic —
    the shape of every rule-based corpus filter at 100 TB (one scan, no
    shuffle, fully pushed)."""
    docs = table(spark, sf_dir, "documents")
    toks = word_tokens(F.col("text"))
    n_tokens = F.size(toks).cast("long")
    n_distinct = F.size(F.array_distinct(toks)).cast("long")
    sum_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda a, x: a + x
    ).cast("double")
    mean_wl = F.coalesce(sum_len / F.nullif(n_tokens, F.lit(0)), F.lit(0.0))
    frac_uq = F.coalesce(
        n_distinct.cast("double") / F.nullif(n_tokens, F.lit(0)), F.lit(0.0)
    )
    passes = (
        (n_tokens >= 10)
        & (n_tokens <= 100000)
        & (mean_wl >= 2)
        & (mean_wl <= 12)
        & (frac_uq >= 0.1)
    )
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        floor_eps(mean_wl, 10000).cast("long").alias("mean_word_len_e4"),
        floor_eps(frac_uq, 10000).cast("long").alias("frac_unique_e4"),
        passes.alias("passes"),
    )


@register(
    "text_repetition_ratio",
    "Y2",
    oracle=r"""
    WITH g AS (
        SELECT doc_id, unnest([w[i] || ' ' || w[i + 1] FOR i IN range(1, len(w))]) AS gram
        FROM (SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS w
              FROM documents)
    ), per_gram AS (
        SELECT doc_id, gram, count(*) AS c FROM g GROUP BY doc_id, gram
    ), per_doc AS (
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
               max(c)::DOUBLE / sum(c) AS ratio
        FROM per_gram GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(p.n_bigrams, 0) AS n_bigrams,
           round(coalesce(p.ratio, 0), 4) + 0.0 AS top_bigram_ratio
    FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
    """,
)
def text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition detector (Gopher's duplicate-n-gram family): share of all
    word bigrams taken by the single most frequent bigram.  High ratio =
    boilerplate/spam.  Relational shape — explode + two-level aggregate —
    because per-doc in-array counting is O(distinct x n) interpreted,
    measured 5x slower; the shuffle key (doc_id, gram) scales linearly."""
    docs = fan_out(table(spark, sf_dir, "documents"))
    w = word_tokens(F.col("text"))
    d = docs.select("doc_id", w.alias("w"))

    # Bigram spelling doctrine (operators/dedup.py word_shingles, minus the
    # distinct): one bound zip_with over the two offset slices.  A/B vs the
    # previous transform(sequence)+2-indexed-gets spelling measured EQUAL
    # (0.636s vs 0.638s interleaved min-of-4, load<1) — the r04 bench move
    # (0.97s -> 1.41s) was host contention, not the builder; kept for
    # consistency with the bound-slice doctrine.
    def build(toks):
        m = F.greatest(F.size(toks) - 1, F.lit(0))
        pairs = F.zip_with(
            F.slice(toks, 1, m), F.slice(toks, 2, m),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
        return F.when(F.size(toks) >= 2, pairs).otherwise(
            F.array().cast("array<string>")
        )

    grams = bind_once(F.col("w"), build)
    per_gram = (
        d.select("doc_id", F.explode(grams).alias("gram"))
        .groupBy("doc_id", "gram")
        .agg(F.count("*").alias("c"))
    )
    per_doc = per_gram.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_bigrams"),
        (F.max("c").cast("double") / F.sum("c")).alias("ratio"),
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            (F.round(F.coalesce("ratio", F.lit(0.0)), 4) + 0.0).alias("top_bigram_ratio"),
        )
    )


@register(
    "text_pii_redact",
    "Y3",
    oracle=r"""
    WITH t AS (
        SELECT doc_id,
               substr(text, 1, 20) || ' contact user' || CAST(doc_id AS VARCHAR)
               || '@example.com or 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS line
        FROM documents
    )
    SELECT doc_id,
           regexp_replace(regexp_replace(line,
               '[A-Za-z0-9.]+@[A-Za-z0-9.]+', '<EMAIL>', 'g'),
               '[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS redacted
    FROM t
    """,
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: email/phone patterns replaced with typed placeholders.
    (The corpus is synthetic, so PII-ish strings are injected first — the
    redaction plan is what matters.)  Pure regexp_replace: codegen, no UDF,
    patterns chosen to behave identically under Java regex and RE2."""
    docs = table(spark, sf_dir, "documents")
    line = F.concat(
        F.substring("text", 1, 20),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(line, "[A-Za-z0-9.]+@[A-Za-z0-9.]+", "<EMAIL>"),
        "[0-9]{3}-[0-9]{4}",
        "<PHONE>",
    )
    return docs.select("doc_id", redacted.alias("redacted"))


@register(
    "text_decontaminate",
    "Y9",
    oracle="""
    SELECT doc_id,
           (contains(lower(text), 'data table')
            OR contains(lower(text), 'hash value')
            OR contains(lower(text), 'join small')) AS contaminated,
           CASE WHEN contains(lower(text), 'data table') THEN 'data table'
                WHEN contains(lower(text), 'hash value') THEN 'hash value'
                WHEN contains(lower(text), 'join small') THEN 'join small'
                ELSE NULL END AS matched_phrase
    FROM documents
    """,
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag documents containing any phrase from
    the eval-set n-gram list (here 3 fixed phrases; production scale joins
    against a broadcast n-gram set or a bloom filter of eval 13-grams —
    same plan shape, the phrase list is the tiny side)."""
    docs = table(spark, sf_dir, "documents")
    low = F.lower("text")
    phrases = ["data table", "hash value", "join small"]
    flag = None
    matched = F.lit(None).cast("string")
    # reversed build => first-listed phrase wins the matched label
    for p in reversed(phrases):
        hit = low.contains(p)
        flag = hit if flag is None else (hit | flag)
        matched = F.when(hit, F.lit(p)).otherwise(matched)
    return docs.select("doc_id", flag.alias("contaminated"), matched.alias("matched_phrase"))


@register(
    "sample_train_val_test",
    "Y10",
    oracle="""
    SELECT split, count(*) AS n, min(doc_id) AS first_id FROM (
        SELECT doc_id,
               CASE WHEN doc_id % 100 < 80 THEN 'train'
                    WHEN doc_id % 100 < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    ) GROUP BY split
    """,
)
def sample_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment by key arithmetic
    (hash the key first when ids are clustered).  Assignment is a pure
    projection — no shuffle, no RNG state, stable across reruns and
    cluster sizes, which is what makes the split reproducible at 100 TB."""
    docs = table(spark, sf_dir, "documents")
    bucket = F.col("doc_id") % 100
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        docs.select("doc_id", split.alias("split"))
        .groupBy("split")
        .agg(F.count("*").alias("n"), F.min("doc_id").alias("first_id"))
    )


@register(
    "text_rolling_hash",
    "Y8",
    oracle=r"""
    SELECT doc_id,
           list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                   list_transform(
                       list_filter(string_split_regex(lower(text), '\s+'), x -> x <> ''),
                       t -> CAST(length(t) * 31 + ascii(substr(t, 1, 1)) AS BIGINT))),
               (acc, x) -> (acc * 131 + x) % 1000000007) AS roll_hash
    FROM documents
    """,
)
def text_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint as a polynomial ROLLING hash over the token
    stream (Rabin-Karp family): order-sensitive unlike the md5-of-
    normalized-text fingerprint, so reordered near-dups hash apart.  Token
    codes and the modular fold are chosen to be exactly computable in both
    engines (no 64-bit overflow under ANSI: acc < 1e9, step < 1.4e11)."""
    docs = table(spark, sf_dir, "documents")
    toks = word_tokens(F.col("text"))
    codes = F.transform(
        toks,
        lambda t: (F.length(t) * 31 + F.ascii(F.substring(t, 1, 1))).cast("long"),
    )
    roll = F.aggregate(
        codes, F.lit(0).cast("long"), lambda acc, x: (acc * 131 + x) % 1000000007
    )
    return docs.select("doc_id", roll.alias("roll_hash"))


@register(
    "multimodal_resize_plan",
    "MM3",
    oracle="""
    WITH m AS (
        SELECT doc_id,
               CAST(100 + doc_id % 500 AS BIGINT) AS w,
               CAST(80 + (doc_id * 7) % 400 AS BIGINT) AS h
        FROM documents
    )
    SELECT doc_id, w, h,
           CAST(round(w * least(224.0 / w, 224.0 / h), 0) AS BIGINT) AS out_w,
           CAST(round(h * least(224.0 / w, 224.0 / h), 0) AS BIGINT) AS out_h,
           round(least(224.0 / w, 224.0 / h), 4) AS scale
    FROM m
    """,
)
def multimodal_resize_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-resize planning: aspect-preserving fit into 224x224 from typed
    width/height metadata (synthesized deterministically — no real image
    headers in this container).  The geometry is the oracle-checked part;
    the pixel resample itself is the stubbed decode step, exactly like
    multimodal_extract's decoder."""
    docs = table(spark, sf_dir, "documents")
    w = (100 + F.col("doc_id") % 500).cast("long")
    h = (80 + (F.col("doc_id") * 7) % 400).cast("long")
    scale = F.least(224.0 / w, 224.0 / h)
    return docs.select(
        "doc_id",
        w.alias("w"),
        h.alias("h"),
        F.round(w * scale, 0).cast("long").alias("out_w"),
        F.round(h * scale, 0).cast("long").alias("out_h"),
        F.round(scale, 4).alias("scale"),
    )


@register(
    "text_chunk_documents",
    "Y6",
    oracle=r"""
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS w
        FROM documents
    ), starts AS (
        SELECT doc_id, w, unnest(range(0, len(w), 32)) AS s
        FROM t WHERE len(w) > 0
    )
    SELECT doc_id, CAST(s / 32 AS INTEGER) AS chunk_idx,
           array_to_string(w[s + 1 : s + 48], ' ') AS chunk_text,
           CAST(least(len(w) - s, 48) AS BIGINT) AS n_tokens
    FROM starts
    """,
)
def text_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data chunking: fixed-size token windows (48 tokens, stride
    32 -> 16-token overlap), one row per chunk.  Pure explode arithmetic —
    the pretokenization fan-out stage of every LLM data pipeline, linear
    and shuffle-free."""
    docs = table(spark, sf_dir, "documents")
    w = word_tokens(F.col("text"))
    d = docs.select("doc_id", w.alias("w")).filter(F.size("w") > 0)
    CHUNK, STRIDE = 48, 32
    # chunk starts = every stride multiple strictly below the token count
    starts = F.sequence(F.lit(0), F.size("w") - 1, F.lit(STRIDE))
    ex = d.select("doc_id", "w", F.explode(starts).alias("s"))
    return ex.select(
        "doc_id",
        (F.col("s") / STRIDE).cast("int").alias("chunk_idx"),
        F.array_join(F.slice("w", F.col("s") + 1, CHUNK), " ").alias("chunk_text"),
        F.least(F.size("w") - F.col("s"), F.lit(CHUNK)).cast("long").alias("n_tokens"),
    )


@register(
    "text_pack_sequences",
    "Y7",
    oracle=r"""
    WITH t AS (
        SELECT doc_id,
               CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
                                    x -> x <> '')) AS BIGINT) AS n_tokens
        FROM documents
    )
    SELECT doc_id, n_tokens,
           CAST(floor(doc_id / 100) * 1000000
                + floor((sum(n_tokens) OVER (PARTITION BY floor(doc_id / 100)
                         ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)
                        / 512) AS BIGINT) AS pack_id
    FROM t
    """,
)
def text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign docs to ~512-token training sequences by
    running token count within 100-doc shards (offset-based binning).
    The shard partition keeps the window parallel — a single global
    ORDER BY window would serialize the whole corpus through one task at
    100 TB; pack ids are globally unique via the shard prefix."""
    from pyspark.sql.window import Window

    docs = table(spark, sf_dir, "documents")
    n_tok = F.size(word_tokens(F.col("text"))).cast("long")
    shard = F.floor(F.col("doc_id") / 100)
    t = docs.select("doc_id", n_tok.alias("n_tokens"), shard.alias("shard"))
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return t.select(
        "doc_id",
        "n_tokens",
        (
            F.col("shard") * 1000000
            + F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / 512)
        ).alias("pack_id"),
    )


@register(
    "dedup_minhash_mllib",
    "Y4",
    oracle=r"""
    WITH t AS (
        SELECT doc_id,
               list_sort(list_distinct(list_filter(
                   string_split_regex(lower(text), '\s+'), x -> x <> ''))) AS toks
        FROM documents
    ), nz AS MATERIALIZED (
        SELECT doc_id, array_to_string(toks, chr(31)) AS sig
        FROM t WHERE len(toks) > 0
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b
    FROM nz a JOIN nz b ON a.sig = b.sig AND a.doc_id < b.doc_id
    """,
    bench=False,
)
def dedup_minhash_mllib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib MinHashLSH variant of dedup_minhash_lsh: HashingTF token
    vectors -> fitted MinHashLSH model -> approxSimilarityJoin on Jaccard
    distance.  Kept alongside the hash-native implementation to exercise
    the MLlib integration path (fitted-model state, fixed seed).  Excluded
    from bench: the model fit is a constant cost the native path avoids.
    4 hash tables suffice for the integration demo — approxSimilarityJoin
    explodes both sides by numHashTables, so table count is the direct
    multiplier on the join input (8 tables measured ~2x the runtime for the
    same pair recall on this corpus).

    VALUE ORACLED (upgraded from rows-only in round 6) on the
    guaranteed-recall subset: the key returns the distance-0 pairs —
    identical binary token-set vectors.  Identical vectors produce
    identical minhash signatures in EVERY hash table, so LSH bucketing
    can never miss them regardless of which hash family MLlib's seeded
    RNG draws; the emitted set is therefore deterministic and replayable
    as "docs whose distinct lowercased token sets are equal" without
    reimplementing Scala's RNG in SQL.  One caveat closed in round 7:
    distance 0 on HashingTF vectors means equal BUCKET sets, and with
    2^16 buckets two different token sets can collide into identical
    vectors (no such pair exists in this corpus, but an adversarial or
    much larger vocabulary could produce one, and the DuckDB oracle
    compares true token sets) — so the distance-0 pairs are post-filtered
    by exact token-signature equality before emission, making the key's
    contract collision-free at any vocabulary size for the cost of one
    broadcast-sized signature join on an already-tiny pair set.
    The probabilistic near-dup tail
    (0 < dist <= 0.3) stays draw-dependent by nature — its portable,
    fully-oracled treatment is the h60 pipeline (dedup_minhash_lsh) —
    and the recall relationship between the two pipelines is asserted in
    tests/test_llm_ops_properties.py instead of the driver hash."""
    from pyspark.ml.feature import HashingTF, MinHashLSH, RegexTokenizer

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    tok = RegexTokenizer(inputCol="text", outputCol="toks", pattern=r"\s+")
    tf = HashingTF(inputCol="toks", outputCol="features", numFeatures=1 << 16, binary=True)
    # materialize the tokenized vectors once: the fit plus BOTH sides of the
    # self-join would otherwise re-run tokenize+TF (3 full scans -> 1).
    # MinHashLSH requires >= 1 non-zero entry, so empty-token docs are
    # dropped (mirrored by the oracle's len(toks) > 0).
    feats = (
        tf.transform(tok.transform(docs))
        .filter(F.size("toks") > 0)
        .select("doc_id", "features")
        .localCheckpoint(eager=True)
    )
    model = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=4, seed=42
    ).fit(feats)
    pairs = model.approxSimilarityJoin(feats, feats, 0.3, distCol="jaccard_dist")
    zero = pairs.filter(
        (F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        & (F.col("jaccard_dist") == 0.0)
    ).select(
        F.col("datasetA.doc_id").alias("id_a"),
        F.col("datasetB.doc_id").alias("id_b"),
    )
    # collision guard: equal TF vectors != equal token sets (2^16 buckets);
    # keep only pairs whose exact distinct-token signatures match, mirroring
    # the oracle's sig equality.  The zero-distance pair set is tiny, so the
    # two signature joins broadcast.
    sig = F.array_join(
        F.array_sort(
            F.array_distinct(word_tokens(F.col("text")))
        ),
        "\x1f",
    )
    sigs = docs.select("doc_id", sig.alias("sig"))
    return (
        zero.join(sigs.withColumnsRenamed({"doc_id": "id_a", "sig": "sig_a"}), "id_a")
        .join(sigs.withColumnsRenamed({"doc_id": "id_b", "sig": "sig_b"}), "id_b")
        .filter(F.col("sig_a") == F.col("sig_b"))
        .select("id_a", "id_b")
    )


@register(
    "multimodal_frame_sample",
    "MM2",
    oracle="""
    WITH t AS (
        SELECT doc_id, text, length(text) AS n,
               greatest(CAST(ceil(length(text) / 3.0) AS INTEGER), 1) AS k
        FROM documents WHERE length(text) > 0
    ), f AS (
        SELECT doc_id, i AS frame_idx, substr(text, i * k + 1, k) AS frame
        FROM t, unnest([0, 1, 2]) AS u(i)
    )
    SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx,
           CAST(length(frame) AS BIGINT) AS frame_chars,
           substr(md5(frame), 1, 8) AS frame_md5_8
    FROM f WHERE length(frame) > 0
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling plumbing: 1 binary payload -> N frame rows through
    Arrow-batched mapInPandas (the video keyframe-extraction shape).  The
    slicing features are oracle-checked; the ffmpeg decode is the stubbed
    step."""
    from debias_spark.operators.multimodal import attach_binary, sample_frames

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    return sample_frames(attach_binary(docs), n_frames=3)


@register("similarity_ann_ivf", "Y5", oracle=None)  # rows-only: approximate
def similarity_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: k-means centroids (deterministic Lloyd's on a seeded,
    bounded sample, fitted driver-side with numpy) partition the corpus into
    cells; probes score only their own cell.  Rows-only BECAUSE the fit is
    engine-internal; the pinned-centroid twin `similarity_ann_ivf_pinned`
    (llm_ops36.py, Y5b) value-oracles the identical assignment + probe
    math with the centroids frozen as literals.  Same shape as the sign-LSH
    variant with learned instead of random partitions — the standard trade:
    better cell balance, one extra (bounded) fit pass.  The corpus is
    materialized once (localCheckpoint) and feeds the fit sample, the cell
    assignment, and both sides of the probe join — a single parquet scan
    total; centroids travel as literal expressions (free broadcast)."""
    from pyspark.sql.window import Window

    from debias_spark.operators.similarity import (
        assign_cell_vectorized,
        dot,
        kmeans_fit_sample,
        l2_norm,
    )

    emb = table(spark, sf_dir, "embeddings")
    vecs = emb.select(
        "vec_id", "embedding", l2_norm(F.col("embedding")).alias("nrm")
    ).localCheckpoint(eager=True)
    centroids = kmeans_fit_sample(vecs, "embedding", k=8, fraction=0.5, seed=42)
    # Materialize the assignment too: probes and candidates are both views
    # of this frame, so without it the k dot products per row run once per
    # join side.  (On a cluster with a corpus too big to checkpoint twice,
    # drop this and let the assignment recompute per side — it's one scan
    # each, embarrassingly parallel.)
    cells = vecs.select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("v"),
        "nrm",
        assign_cell_vectorized(centroids)(F.col("embedding")).alias("cell"),
    ).localCheckpoint(eager=True)
    probes = cells.filter(F.col("cand_id") < 10).select(
        F.col("cand_id").alias("query_id"),
        F.col("v").alias("q"),
        F.col("nrm").alias("qn"),
        "cell",
    )
    scored = (
        probes.join(cells, "cell")
        .filter(F.col("query_id") != F.col("cand_id"))
        .select(
            "query_id",
            "cand_id",
            F.round(dot(F.col("q"), F.col("v")) / (F.col("qn") * F.col("nrm")), 4).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("cand_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("query_id", "cand_id", "sim")
    )
