"""Round-10 capstone (Z75): ONE end-to-end corpus-build pipeline key that
chains the proven stages in a single engine-native run —

    quality filterchain (X53 rule chain, operators/text.quality_verdict)
 -> exact dedup, keep-first (Z7 normalized-digest policy)
 -> MinHash near-dup screen (Z68's banded >= 26/32 predicate)
 -> decontamination (Y72 bloom prefilter + Y12 exact confirm)
 -> NFD sequence packing (Y55 policy, operators/packing.nfd_pack)
 -> shard MANIFEST written to a sink and value-oracled on the READBACK.

The reference's whole program is one such chain (scan -> annotate ->
sink, call-debias.py:177-196); this is its LLM-training-data analog and
the composition proof for the operator registry: every stage is the
SHARED implementation its standalone key pins (imported, not respelled),
and the DuckDB oracle replays the entire chain — gate expressions,
digest policy, 32-hash banding, 8-gram screen, recursive bin packing —
in one WITH RECURSIVE chain over the same parquet.

Z76 ``pipeline_corpus_build_incremental`` runs the same chain the way a
100 TB corpus is actually operated — incrementally, drop by drop, with
the dedup stages probing persisted state (see its docstring).  Batch
and incremental builds must agree bit-for-bit, so both keys register
the one ``CORPUS_BUILD_ORACLE``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debias_spark.catalog import cached_input_stat, table
from debias_spark.operators.dedup import (
    NEARDUP_BANDS,
    NEARDUP_HASHES,
    NEARDUP_MATCH_TERMS_DUCK,
    NEARDUP_MIN_MATCHES,
    WORD_TOKENS_DUCK,
    band_dropped_ids,
    band_screen_state,
    bands_from_sig_keep_sig,
    minhash_ctes_duck,
    minhash_sig_wide,
    word_shingles,
    word_tokens,
)
from debias_spark.operators.packing import PACK_CAP, PACK_SHARD, nfd_pack, nfd_pack_duck_ctes
from debias_spark.operators.skew import fan_out
from debias_spark.operators.text import (
    DECONTAM_GRAM_N,
    EVAL_GRAM_CAP,
    EVAL_MAX_ID,
    NORMALIZE_STRICT_DUCK,
    QUALITY_PUNCT_DUCK,
    QUALITY_TOKENS_DUCK,
    QUALITY_VERDICT_DUCK,
    bloom_bits_literal,
    bloom_member,
    normalize_strict,
    quality_features,
    quality_verdict,
    word_ngrams_frame,
)
from debias_spark.registry import register
from debias_spark.streaming.incremental import id_range_slices, read_state, replay_drops
from debias_spark.warehouse import fresh_scratch_dirs


def eval_gram_artifacts(spark: SparkSession, sf_dir: str) -> tuple[list[str], str]:
    """(eset, bloom_bits_literal) for the static eval split.  The eval
    set is STATIC BY CONTRACT (doc_id < eval cutoff of an immutable
    table), so both are per-corpus artifacts, memoized per documents
    file version (``catalog.cached_input_stat``) and reused across
    executions in this process: the Z75/Z76 pair under bench's
    warmup+3 reps otherwise rebuilds the identical artifact 8x per bench
    run (r11 verdict item 1b).  Order-insensitive consumers only: bloom
    bits are a set of OR-ed bit positions and the exact-confirm frame
    joins as a set."""

    def build() -> tuple[list[str], str]:
        docs = table(spark, sf_dir, "documents")
        eval_grams = (
            word_ngrams_frame(
                fan_out(docs.filter(F.col("doc_id") < EVAL_MAX_ID)), DECONTAM_GRAM_N
            )
            .select("gram")
            .distinct()
        )
        eset = [r.gram for r in eval_grams.collect()]
        if len(eset) > EVAL_GRAM_CAP:
            raise RuntimeError(
                f"eval gram set {len(eset)} exceeds the {EVAL_GRAM_CAP} bloom cap"
            )
        return eset, bloom_bits_literal(eset)

    return cached_input_stat(f"{sf_dir}/documents.parquet", "eval_gram_artifacts", build)


_VERDICT_DUCK = QUALITY_VERDICT_DUCK.format(
    n_chars="n_chars", n_tokens="n_tokens", n_punct="n_punct"
)
_NEARDUP_CTES, _ = minhash_ctes_duck(NEARDUP_HASHES, NEARDUP_BANDS, source="s1")

# token 8-gram windows over a (doc_id, text) CTE — the Y12 oracle
# spelling (operators.text.NGRAM_AUDIT_ORACLE), parameterized by source CTE
_GRAMS_DUCK = """SELECT DISTINCT doc_id, gram FROM (
        SELECT doc_id,
               unnest([array_to_string(t[i:i+{w}], ' ')
                       FOR i IN range(1, greatest(len(t) - {w}, 0) + 1)])
                   AS gram
        FROM (SELECT doc_id, {toks} AS t FROM {src})
    )""".format(w=DECONTAM_GRAM_N - 1, toks=WORD_TOKENS_DUCK, src="{src}")


# shared with the incremental twin (Z76, below): batch and
# incremental corpus builds MUST produce the identical manifest, so they
# carry the identical oracle
CORPUS_BUILD_ORACLE = f"""
    WITH RECURSIVE pool AS MATERIALIZED (
        SELECT doc_id, text, CAST(n_chars AS BIGINT) AS n_chars
        FROM documents WHERE doc_id >= {EVAL_MAX_ID}
    ), qf AS (
        SELECT doc_id, text, {_VERDICT_DUCK} AS verdict
        FROM (
            SELECT doc_id, text, n_chars,
                   {QUALITY_TOKENS_DUCK.format(x="text")} AS n_tokens,
                   {QUALITY_PUNCT_DUCK.format(x="text")} AS n_punct
            FROM pool
        )
    ), q AS MATERIALIZED (
        SELECT doc_id, text FROM qf WHERE verdict = 'keep'
    ), reps AS (
        SELECT min(doc_id) AS doc_id FROM (
            SELECT doc_id, md5({NORMALIZE_STRICT_DUCK.format(x="text")}) AS dg
            FROM q
        ) GROUP BY dg
    ), s1 AS MATERIALIZED (
        SELECT q.doc_id, q.text FROM q JOIN reps USING (doc_id)
    ), {_NEARDUP_CTES}, cand2 AS (
        SELECT DISTINCT n.id, i.id AS j
        FROM banded n JOIN banded i
          ON i.band_id = n.band_id AND i.band_hash = n.band_hash
         AND i.id < n.id
    ), dropped AS (
        SELECT DISTINCT c.id FROM cand2 c
        JOIN sig a ON a.id = c.id JOIN sig b ON b.id = c.j
        WHERE ({NEARDUP_MATCH_TERMS_DUCK}) >= {NEARDUP_MIN_MATCHES}
    ), s2 AS MATERIALIZED (
        SELECT s1.doc_id, s1.text FROM s1
        LEFT JOIN dropped d ON d.id = s1.doc_id WHERE d.id IS NULL
    ), g2 AS ({_GRAMS_DUCK.format(src="s2")}
    ), eg AS (
        SELECT DISTINCT gram FROM ({_GRAMS_DUCK.format(src=f"(SELECT doc_id, text FROM documents WHERE doc_id < {EVAL_MAX_ID})")})
    ), contam AS (
        SELECT DISTINCT g2.doc_id FROM g2 JOIN eg USING (gram)
    ), s3 AS MATERIALIZED (
        SELECT s2.doc_id, s2.text FROM s2
        LEFT JOIN contam c USING (doc_id) WHERE c.doc_id IS NULL
    ), t2 AS (
        SELECT doc_id, shard, n_tokens FROM (
            SELECT doc_id, doc_id // {PACK_SHARD} AS shard,
                   CAST({QUALITY_TOKENS_DUCK.format(x="text")} AS BIGINT)
                       AS n_tokens
            FROM s3
        ) WHERE n_tokens > 0
    ), {nfd_pack_duck_ctes("t2", PACK_CAP)}, bins AS (
        SELECT shard, bin_id, count(*) AS n_docs_bin,
               sum(n_tokens) AS tok_bin, min(doc_id) AS mindoc_bin
        FROM pack GROUP BY shard, bin_id
    )
    SELECT CAST(shard AS BIGINT) AS shard,
           CAST(count(*) AS BIGINT) AS n_bins,
           CAST(sum(n_docs_bin) AS BIGINT) AS n_docs,
           CAST(sum(tok_bin) AS BIGINT) AS sum_tokens,
           CAST(min(mindoc_bin) AS BIGINT) AS min_doc_id
    FROM bins GROUP BY shard ORDER BY shard
    """


def _shard_manifest(s3: DataFrame) -> DataFrame:
    """Stages 5-6 of both builds: pack the survivors into 512-token NFD
    bins per 100-doc shard, then roll the bins up into the per-shard
    manifest (two-level agg: no countDistinct Expand; bins first, then
    the shard rollup)."""
    t2 = s3.select(
        "doc_id",
        F.expr(f"doc_id div {PACK_SHARD}").alias("shard"),
        F.size(word_tokens(F.col("text"))).cast("long").alias("n_tokens"),
    ).filter(F.col("n_tokens") > 0)
    packed = nfd_pack(t2, PACK_CAP)
    bins = packed.groupBy(
        F.expr("pack_id div 10000").alias("shard"), "pack_id"
    ).agg(
        F.count("*").alias("n_docs_bin"),
        F.sum("n_tokens").alias("tok_bin"),
        F.min("doc_id").alias("mindoc_bin"),
    )
    return bins.groupBy("shard").agg(
        F.count("*").alias("n_bins"),
        F.sum("n_docs_bin").alias("n_docs"),
        F.sum("tok_bin").alias("sum_tokens"),
        F.min("mindoc_bin").alias("min_doc_id"),
    )


@register("pipeline_corpus_build", "Z75", oracle=CORPUS_BUILD_ORACLE)
def pipeline_corpus_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE capstone: a full corpus build in one engine-native run over
    the training pool (doc_id >= {eval}; below it is the held-out eval
    set).  Stage by stage, each the SHARED implementation its standalone
    key pins:

    1. QUALITY (X53): first-match-wins rule chain, keep only 'keep' —
       operators/text.quality_verdict, a codegen projection.
    2. EXACT DEDUP (Z7): md5(normalize_strict(text)) digest, keep-first
       (min doc_id per digest) — the exchange carries 16-byte digests +
       ids, then one semi-join brings survivor text back.
    3. NEAR-DUP (Z68 predicate): 32-hash MinHash, 4 bands; a doc drops
       iff an EARLIER quality+exact survivor collides in >= 1 band with
       >= 26/32 matching signature components (estimated Jaccard 0.8) —
       banded candidates, never all-pairs.
    4. DECONTAMINATION (Y72+Y12): the eval set's distinct 8-grams build
       the 16 KB bloom bit-array probed as a pure expression; bloom
       survivors hit the exact broadcast join; any hit drops the doc.
    5. PACK (Y55): next-fit-decreasing 512-token bins per 100-doc shard
       via operators/packing.nfd_pack.
    6. MANIFEST: per-shard (bins, docs, tokens, min doc id), WRITTEN to
       a parquet sink and returned from the READBACK — the oracle hash
       proves the shipped artifact, not an in-memory frame.

    Scale shape: text crosses a shuffle exactly twice (the exact-dedup
    semi-join and the pack shard exchange); everything else moves
    digests, signatures, band rows, or gram hashes.  The eval gram
    collect is bounded by contract (raise-capped); centroid-free,
    collect-free otherwise.  This is the reference's scan -> transform
    -> sink program (call-debias.py:177-196) at training-corpus
    semantics."""
    docs = table(spark, sf_dir, "documents")
    pool = docs.filter(F.col("doc_id") >= EVAL_MAX_ID).select(
        "doc_id", "text", F.col("n_chars").cast("long").alias("n_chars")
    )

    # 1. quality gate (pure projection)
    n_tokens, n_punct = quality_features(F.col("text"))
    q = (
        fan_out(pool).select(
            "doc_id",
            "text",
            quality_verdict(
                F.col("n_chars"), n_tokens, n_punct
            ).alias("verdict"),
        )
        .filter(F.col("verdict") == "keep")
        .select("doc_id", "text")
    )

    # 2. exact dedup keep-first: digest aggregate (16-byte shuffle key),
    # then a semi-join restores survivor rows — text moves once.
    # NO localCheckpoint on s1/s2 despite multiple consumers: both carry
    # the text column, and materializing text-wide frames measured WORSE
    # than recomputing the narrow upstream at both 1x and 4x (SCALE.md
    # round-10 A/B: 4x with checkpoints 60-83s, without 42-54s) — the
    # reuse-count doctrine yields to measurement when the cached rows
    # are wide and the recompute is scan+codegen.
    reps = (
        q.select("doc_id", F.md5(normalize_strict(F.col("text"))).alias("dg"))
        .groupBy("dg")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    s1 = q.join(reps, "doc_id", "semi")

    # 3. near-dup screen over the exact survivors (the Z68 predicate)
    sh = s1.select(
        F.col("doc_id").alias("id"), word_shingles(F.col("text"), 1).alias("sh")
    ).filter(F.size("sh") > 0)
    sig = minhash_sig_wide(sh, NEARDUP_HASHES).localCheckpoint(eager=True)
    # sig-bearing band rows (r13): the whole screen is ONE left-semi
    # EXISTS against the sig-carrying band self-index
    # (operators.dedup.band_dropped_ids) — no pair materialization, no
    # O(pairs) distinct, no sig re-join; same autotuned salt guard
    banded = bands_from_sig_keep_sig(sig, NEARDUP_HASHES, NEARDUP_BANDS)
    dropped = band_dropped_ids(banded, banded)
    s2 = s1.join(dropped.withColumnRenamed("id", "doc_id"), "doc_id", "anti")

    # 4. decontamination: bloom prefilter + exact confirm (Y72's plan);
    # the static eval artifacts come from the per-corpus memo
    eset, bits = eval_gram_artifacts(spark, sf_dir)
    member = bloom_member(bits)
    eval_df = spark.createDataFrame([(g,) for g in eset], "gram string")
    contam = (
        word_ngrams_frame(s2, DECONTAM_GRAM_N)
        .filter(member)
        .join(F.broadcast(eval_df), "gram")
        .select("doc_id")
        .distinct()
    )
    s3 = s2.join(contam, "doc_id", "anti")

    # 5-6. pack, then the shard manifest -> sink -> readback
    manifest = _shard_manifest(s3)
    (sink,) = fresh_scratch_dirs(spark, sf_dir, "z75_manifest")
    manifest.write.parquet(sink)
    out = spark.read.schema(manifest.schema).parquet(sink)
    if out.isEmpty():
        raise RuntimeError("corpus build produced an empty shard manifest")
    return out.select(
        "shard", "n_bins", "n_docs", "sum_tokens", "min_doc_id"
    ).orderBy("shard")

# ---------------------------------------------------------------------------
# Z76: the corpus build, incrementally (r10 verdict item 6).  Each arriving
# drop flows through the full Z75 chain, but the dedup stages consult
# PERSISTED STATE instead of the whole corpus:
#   exact dedup  new digests probe the accumulated digest state (history
#                text is never re-read or re-hashed)
#   near-dup     the drop's band rows join the accumulated band/sig state
#                (the Z68 screen inside the build chain)
#   decontam     the eval set is static, so its bloom bits + exact gram
#                set are built ONCE and reused per drop
#   packing      drop boundaries are ALIGNED to pack shards, so each shard
#                packs exactly once, in its arrival drop
#   manifest     per-shard rows APPEND to the manifest sink; the readback
#                is the value-oracled result.
# ---------------------------------------------------------------------------


@register("pipeline_corpus_build_incremental", "Z76", oracle=CORPUS_BUILD_ORACLE)
def pipeline_corpus_build_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus build: the training pool arrives as two
    doc_id-ordered drops (availableNow file stream, one file per
    micro-batch, oldest-first); every drop runs the FULL Z75 chain with
    the dedup stages probing persisted state:

    1. QUALITY (X53): pure projection on the drop.
    2. EXACT DEDUP (Z7 policy, incremental): keep-first inside the drop
       (min doc_id per digest), then an anti-join against the digest
       STATE drops anything history already kept; the drop's NEW digests
       append to state.  Equivalent to global keep-first because arrival
       order follows doc_id (the drops are ascending id ranges).
    3. NEAR-DUP (Z68's screen, verbatim semantics): the drop's exact
       survivors band and probe the accumulated sig-carrying band state
       UNION in-drop earlier ids; >= 26/32 matching components drops the
       doc.  ALL of the drop's exact survivors append to the band state —
       near-dup-dropped docs keep suppressing later copies, exactly the
       pure predicate Z75 evaluates globally.
    4. DECONTAMINATION (Y72+Y12): the eval set (doc_id < eval cutoff) is
       static, so its bloom bit-array literal and exact gram set are
       built ONCE before the drain (bounded collect, raise-capped) and
       every drop reuses them.
    5. PACK (Y55): drop boundaries are rounded to PACK_SHARD multiples,
       so every pack shard lies wholly inside one drop and NFD-packs in
       the drop that completes it — the incremental contract a packer
       must hold (a shard is packed once, never re-opened).  The
       readback asserts shard uniqueness to prove the alignment held.
    6. MANIFEST: per-shard rows append per drop; the returned frame is
       the sink readback, hash-checked against the SAME oracle as the
       one-shot Z75 build.

    Scale shape: per drop, text crosses a shuffle exactly twice (exact-
    dedup semi-join, pack shard exchange) — the Z75 discipline — while
    history moves only digests (16 bytes/doc), signatures (32 ints), and
    sig-bearing band rows (the signature replicated per band row — the
    r13 trade that makes the near-dup screen a single pair-free left-semi
    join); the band state is hive-partitioned by band_id so probe reads
    prune to colliding bands.  State appends are parquet
    appends here; at 100 TB they become MERGE INTO a transactional table
    keyed (band_id, band_hash) / digest, and the drop cadence amortizes
    the eval-bloom build to zero."""

    docs = table(spark, sf_dir, "documents")
    # staged drops keep the FULL documents schema (readStream binds
    # docs.schema); the refresh body projects what each stage needs
    pool = docs.filter(F.col("doc_id") >= EVAL_MAX_ID)

    # 4'. static decontamination inputs, built ONCE (the Z75 memoized
    # artifacts — shared per corpus across executions AND with Z75)
    eset, bits = eval_gram_artifacts(spark, sf_dir)
    member = bloom_member(bits)
    # the exact-confirm frame is as static as the bloom bits: build it
    # ONCE here, not once per drop (createDataFrame re-serializes the
    # whole gram list driver-side on every call — r11 verdict item 1b).
    # Deliberately NOT checkpointed: as a LocalRelation its broadcast is
    # a free driver-side send per batch, while a checkpointed RDD frame
    # would pay a collect job every batch (measured +3.5 s on the drain)
    eval_df = spark.createDataFrame([(g,) for g in eset], "gram string")

    src_dir, dg_dir, band_dir, man_dir, ckpt_dir = fresh_scratch_dirs(
        spark, sf_dir, "z76_src", "z76_digests", "z76_bands", "z76_manifest", "z76_ckpt"
    )

    def refresh(batch: DataFrame, batch_id: int) -> None:
        batch = fan_out(batch)  # a staged drop scans as ONE partition (r13)

        # 1. quality gate
        n_tokens, n_punct = quality_features(F.col("text"))
        q = (
            batch.select(
                "doc_id",
                "text",
                quality_verdict(
                    F.col("n_chars").cast("long"), n_tokens, n_punct
                ).alias("verdict"),
            )
            .filter(F.col("verdict") == "keep")
            .select("doc_id", "text")
        )

        # 2. exact dedup vs state: keep-first inside the drop, then drop
        # digests history already kept; new digests append to state
        dg = q.select("doc_id", F.md5(normalize_strict(F.col("text"))).alias("dg"))
        drop_reps = dg.groupBy("dg").agg(F.min("doc_id").alias("doc_id"))
        seen = read_state(batch.sparkSession, dg_dir, dg.select("dg").schema)
        if seen is not None:
            drop_reps = drop_reps.join(seen, "dg", "anti")
        drop_reps = drop_reps.localCheckpoint(eager=True)
        # checkpoint the drop's survivor text: UNLIKE Z75 (whole-corpus
        # frames, where caching text measured worse than recompute), a
        # drop is a bounded slice and s1 feeds three consumers (shingle
        # explode, near-dup anti-join, and the s2 chain) each of which
        # would otherwise replay scan + quality + digest + both state
        # joins (measured 45 s -> ~30 s at sf0.1 for the whole drain)
        s1 = q.join(drop_reps.select("doc_id"), "doc_id", "semi").localCheckpoint(
            eager=True
        )
        drop_reps.select("dg").write.mode("append").parquet(dg_dir)

        # 3. near-dup vs band state (the Z68 screen; ALL exact survivors
        # enter the state, so dropped docs keep suppressing).  s2 feeds
        # both the contamination ngrams and the s3 anti-join; without
        # the checkpoint the banded near-dup screen (the semi EXISTS over
        # sig-bearing band rows) replays once per consumer
        dropped, _ = band_screen_state(s1, band_dir)
        s2 = s1.join(
            dropped.withColumnRenamed("id", "doc_id"), "doc_id", "anti"
        ).localCheckpoint(eager=True)

        # 4. decontamination: static bloom prefilter + exact confirm
        # (eval_df built once before the drain — static by contract)
        contam = (
            word_ngrams_frame(s2, DECONTAM_GRAM_N)
            .filter(member)
            .join(F.broadcast(eval_df), "gram")
            .select("doc_id")
            .distinct()
        )
        s3 = s2.join(contam, "doc_id", "anti")

        # 5-6. pack the drop's (whole, by alignment) shards; the manifest
        # delta appends to the sink
        _shard_manifest(s3).write.mode("append").parquet(man_dir)

    # two doc_id-ordered drops whose INTERIOR boundary is a PACK_SHARD
    # multiple: every pack shard then lies wholly inside one drop.  TWO
    # drops, not four (r12 verdict item 1): the incremental semantics
    # need >= 2 (state exists when the second drop probes it) and every
    # extra drop re-pays the per-batch fixed cost — state re-list +
    # union reads, five write jobs, micro-batch scheduling — without
    # proving anything four did not; the batching-independence argument
    # is count-free
    slices = id_range_slices(pool, "doc_id", 2, align=PACK_SHARD)
    replay_drops(
        spark, "pipeline_corpus_build_incremental", docs.schema, src_dir, ckpt_dir, refresh, slices
    )

    man_schema = _shard_manifest(pool.select("doc_id", "text")).schema  # what every drop wrote
    out = spark.read.schema(man_schema).parquet(man_dir)
    n, nd = out.count(), out.select("shard").distinct().count()
    if n == 0:
        raise RuntimeError("incremental corpus build produced an empty manifest")
    if n != nd:
        raise RuntimeError(
            f"a pack shard straddled a drop boundary ({n} manifest rows, "
            f"{nd} distinct shards) — the shard alignment is broken"
        )
    return out.select(
        "shard", "n_bins", "n_docs", "sum_tokens", "min_doc_id"
    ).orderBy("shard")
