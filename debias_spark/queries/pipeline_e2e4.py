"""Round-10 wave 2 (Z73/Z74): the two operational legs the r9 verdict
called out for the pipeline family.

* Z73 ``pipeline_state_compaction`` — the missing ops story for every
  append-only state dir the incremental keys carry (Z68's band state
  accumulates small files per batch, pipeline_incremental_neardup): rewrite N
  per-batch appends into a few files per band partition and PROVE the
  probe results are unchanged (exact frame equality both directions +
  the value-oracled probe rollup computed FROM the compacted state).

* Z74 ``pipeline_quarantine_replay`` — Z72's dead-letter routing gains
  the replay-after-fix leg: quarantined rows get a per-reason remedy,
  re-pass the SAME gate, passers rejoin the publishable sink
  exactly-once and repeat offenders stay dead-lettered; the rollup is
  computed from sink READBACKS and the exactly-once contract (no dup,
  no loss) is raised on directly.

Reference parity: the reference re-reads everything on Refresh and
writes one output (analytics/dashboard_widget.py:72-79,
call-debias.py:141); compaction and quarantine replay are the landing-
zone operations a 100 TB corpus pipeline cannot run without.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debias_spark.catalog import table
from debias_spark.operators.dedup import NEARDUP_BANDS, NEARDUP_HASHES, minhash_ctes_duck
from debias_spark.operators.text import (
    ROUTE_MIN_CHARS,
    ROUTE_REASON_DUCK,
    ROUTE_REASON_SPARK,
)
from debias_spark.streaming import narrow_shuffle
from debias_spark.registry import register
from debias_spark.warehouse import count_parquet_files, fresh_scratch_dirs, id_range_bounds

_CTES, _ = minhash_ctes_duck(NEARDUP_HASHES, NEARDUP_BANDS)


@register(
    "pipeline_state_compaction",
    "Z73",
    oracle=f"""
    WITH {_CTES}, bucket AS (
        SELECT band_id, band_hash, count(*) AS cnt, min(id) AS min_id
        FROM banded GROUP BY band_id, band_hash
    ), pairs_by_band AS (
        SELECT band_id,
               CAST(sum(cnt * (cnt - 1) // 2) AS BIGINT) AS n_pairs
        FROM bucket WHERE cnt >= 2 GROUP BY band_id
    ), match_by_band AS (
        SELECT g.band_id,
               CAST(count(*) AS BIGINT) AS n_docs_with_match,
               CAST(min(g.id) AS BIGINT) AS min_doc
        FROM banded g JOIN bucket b
          ON b.band_id = g.band_id AND b.band_hash = g.band_hash
        WHERE g.id > b.min_id
        GROUP BY g.band_id
    )
    SELECT CAST(p.band_id AS INT) AS band_id, p.n_pairs,
           m.n_docs_with_match, m.min_doc
    FROM pairs_by_band p JOIN match_by_band m USING (band_id)
    ORDER BY band_id
    """,
)
def pipeline_state_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction of an append-only band-state dir, with an unchanged-
    results proof: the Z68-shaped MinHash band state is built as TWO
    per-batch appends (hive-partitioned by band_id, several part files
    per partition per batch — the streaming small-file failure mode),
    then compacted by one repartition-on-band write into a fresh dir.
    The key RAISES unless (a) the compacted dir has strictly fewer
    parquet files, and (b) the two states are exactly equal as frames
    (exceptAll in both directions — no row lost, none duplicated, none
    altered).  The returned probe rollup (earlier-id band collisions per
    band: pair count, docs with a match, min doc id) is computed FROM
    THE COMPACTED STATE and value-checked against a DuckDB replay of the
    full minhash banding — so the oracle hash proves compaction
    preserved exactly what the state exists to answer.

    Scale shape: compaction reads state (signatures/band rows — ints,
    never text), shuffles once on the partition key, writes K files per
    partition; probe reads before and after prune identically by
    band_id.  At 100 TB this runs as a background maintenance job per
    partition range; the equality proof becomes a per-partition
    row-count + content-digest comparison, which is exactly what the
    exceptAll pair pins here."""
    from debias_spark.operators.dedup import minhash_banded, word_shingles

    docs = table(spark, sf_dir, "documents")
    band_dir, compact_dir = fresh_scratch_dirs(spark, sf_dir, "z73_state", "z73_compact")

    # fixture staging: 2 id-range batches appended separately, narrow
    # shuffle width so each append leaves several files per band
    # partition (8 shuffle tasks x 2 appends = up to 16 files/band —
    # ample fragmentation for the strictly-fewer-files proof; the extra
    # two appends only re-paid banding jobs, r12 verdict item 1)
    bounds = id_range_bounds(docs, "doc_id", 2)
    with narrow_shuffle(spark, 8):
        for i in range(len(bounds) - 1):
            batch = docs.filter(
                (F.col("doc_id") >= bounds[i]) & (F.col("doc_id") < bounds[i + 1])
            )
            sh = batch.select(
                F.col("doc_id").alias("id"),
                word_shingles(F.col("text"), 1).alias("sh"),
            ).filter(F.size("sh") > 0)
            minhash_banded(sh, NEARDUP_HASHES, NEARDUP_BANDS).write.mode("append").partitionBy(
                "band_id"
            ).parquet(band_dir)

    files_before = count_parquet_files(band_dir)
    orig = spark.read.parquet(band_dir).select("id", "band_hash", "band_id")
    # THE COMPACTION: one shuffle on the partition key, few files out
    orig.repartition(NEARDUP_BANDS, "band_id").write.partitionBy("band_id").parquet(
        compact_dir
    )
    files_after = count_parquet_files(compact_dir)
    if files_after >= files_before:
        raise RuntimeError(
            f"compaction did not shrink the file count: {files_before} -> "
            f"{files_after}"
        )
    comp = spark.read.parquet(compact_dir).select("id", "band_hash", "band_id")
    # unchanged-results proof, both directions (raise: must survive -O)
    missing = orig.exceptAll(comp).count()
    extra = comp.exceptAll(orig).count()
    if missing or extra:
        raise RuntimeError(
            f"compacted state differs: {missing} rows lost, {extra} rows added"
        )

    # probe rollup FROM THE COMPACTED STATE (the value-oracled output).
    # Bucket-statistics spelling, NEVER pair enumeration: each doc has
    # exactly one band_hash per band, so within a band every colliding
    # pair lives in exactly one (band_hash) bucket — n_pairs is
    # sum C(cnt, 2) and docs-with-an-earlier-collider is sum (cnt - 1),
    # both computable from one bucket aggregate.  The 4x scale-stress
    # caught the self-join spelling at 11.5x (pairs grow quadratically
    # in dup-bucket size); this one is O(state) whatever the dup density.
    bucket = comp.groupBy("band_id", "band_hash").agg(
        F.count("*").alias("cnt"), F.min("id").alias("min_id")
    )
    pairs_by_band = (
        bucket.filter(F.col("cnt") >= 2)
        .groupBy("band_id")
        .agg(F.sum(F.expr("cnt * (cnt - 1) div 2")).alias("n_pairs"))
    )
    # the join keys equal the aggregate's grouping: the bucket exchange
    # is reused, no extra shuffle for the match side
    match_by_band = (
        comp.join(bucket, ["band_id", "band_hash"])
        .filter(F.col("id") > F.col("min_id"))
        .groupBy("band_id")
        .agg(
            F.count("*").alias("n_docs_with_match"),
            F.min("id").alias("min_doc"),
        )
    )
    return (
        pairs_by_band.join(match_by_band, "band_id")
        .select(
            F.col("band_id").cast("int").alias("band_id"),
            "n_pairs",
            "n_docs_with_match",
            "min_doc",
        )
        .orderBy("band_id")
    )


# ---------------------------------------------------------------------------
# Z74: quarantine replay-after-fix, exactly-once
# ---------------------------------------------------------------------------

# per-reason remedy, ONE template instantiated per engine (the Z72
# doctrine): short docs pad to the gate length with a non-space filler,
# ws-heavy docs collapse space runs; the remedy may STILL fail the
# re-gate (ws-heavy padding, stubborn whitespace) — those stay dead
_REMEDY_TPL = """CASE ({reason}) WHEN 'short' THEN rpad(text, {min_chars}, '.')
    ELSE regexp_replace(text, ' +', ' '{gflag}) END"""
_REMEDY_DUCK = _REMEDY_TPL.format(
    reason=ROUTE_REASON_DUCK, min_chars=ROUTE_MIN_CHARS, gflag=", 'g'"
)
_REMEDY_SPARK = _REMEDY_TPL.format(
    reason=ROUTE_REASON_SPARK, min_chars=ROUTE_MIN_CHARS, gflag=""
)


@register(
    "pipeline_quarantine_replay",
    "Z74",
    oracle=f"""
    WITH r1 AS (
        SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars, text,
               ({ROUTE_REASON_DUCK}) AS reason
        FROM documents
    ), fx AS (
        SELECT doc_id, lang, ({_REMEDY_DUCK}) AS text
        FROM r1 WHERE reason IS NOT NULL
    ), r2 AS (
        SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS n_chars, text
        FROM fx
    ), regated AS (
        SELECT doc_id, lang, n_chars, ({ROUTE_REASON_DUCK}) AS reason2 FROM r2
    )
    SELECT route, lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM (
        SELECT 'kept_first' AS route, lang, n_chars
        FROM r1 WHERE reason IS NULL
        UNION ALL
        SELECT 'kept_replayed' AS route, lang, n_chars
        FROM regated WHERE reason2 IS NULL
        UNION ALL
        SELECT 'dead:' || reason2 AS route, lang, n_chars
        FROM regated WHERE reason2 IS NOT NULL
    ) GROUP BY route, lang ORDER BY route, lang
    """,
)
def pipeline_quarantine_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quarantine REPLAY, exactly-once: pass 1 routes every document
    through Z72's gate into the publishable sink or the dead-letter dir;
    pass 2 reads the dead letters back, applies the per-reason remedy
    (short -> pad to the gate length, ws-heavy -> collapse space runs),
    re-runs the SAME gate over the remediated text, APPENDS the passers
    to the publishable sink (flagged replayed=true) and writes repeat
    offenders to the final dead-letter dir with their re-gate reason.
    The exactly-once contract is raised on from the sink READBACKS: the
    kept and dead doc_id sets are disjoint, their union covers every
    document exactly once (no dup on append, no loss in the remedy leg
    — the same two halves Z71 proves for the checkpoint).  The returned
    route x lang rollup comes from the readbacks too, so the oracle
    hash proves the routing, the remedy, and the re-gate in one check.

    Scale shape: two codegen projections and three filtered writes; the
    replay leg touches ONLY the quarantine (tiny by construction), never
    the published corpus — which is the point: remediation cost scales
    with the failure rate, not the corpus."""
    docs = table(spark, sf_dir, "documents")
    kept_dir, dlq_dir, dead_dir = fresh_scratch_dirs(
        spark, sf_dir, "z74_kept", "z74_quarantine", "z74_dead"
    )

    # pass 1: route (narrow 5-col cache feeds both writes — the Z72 A/B)
    routed = docs.select(
        "doc_id",
        "lang",
        F.col("n_chars").cast("long").alias("n_chars"),
        "text",
        F.expr(ROUTE_REASON_SPARK).alias("reason"),
    ).localCheckpoint(eager=True)
    routed.filter(F.col("reason").isNull()).select(
        "doc_id", "lang", "n_chars", F.lit(False).alias("replayed")
    ).write.parquet(kept_dir)
    routed.filter(F.col("reason").isNotNull()).select(
        "doc_id", "lang", "text", "n_chars", "reason"
    ).write.parquet(dlq_dir)

    # pass 2: remedy -> re-gate -> append passers / dead-letter failers
    fixed = spark.read.parquet(dlq_dir).select(
        "doc_id", "lang", F.expr(_REMEDY_SPARK).alias("text")
    )
    regated = fixed.select(
        "doc_id",
        "lang",
        F.length("text").cast("long").alias("n_chars"),
        "text",
    ).withColumn("reason2", F.expr(ROUTE_REASON_SPARK)).localCheckpoint(eager=True)
    regated.filter(F.col("reason2").isNull()).select(
        "doc_id", "lang", "n_chars", F.lit(True).alias("replayed")
    ).write.mode("append").parquet(kept_dir)
    regated.filter(F.col("reason2").isNotNull()).select(
        "doc_id", "lang", "n_chars", F.col("reason2").alias("reason")
    ).write.parquet(dead_dir)

    kept_rb = spark.read.parquet(kept_dir)
    dead_rb = spark.read.parquet(dead_dir)
    # exactly-once, both halves, from the readbacks (raise: survives -O)
    st = (
        kept_rb.select("doc_id")
        .unionByName(dead_rb.select("doc_id"))
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("doc_id").alias("nd"),
        )
        .first()
    )
    n_docs = docs.count()
    if st.n != n_docs or st.nd != n_docs:
        raise RuntimeError(
            f"exactly-once violated: {st.n} routed rows / {st.nd} distinct "
            f"ids over {n_docs} documents"
        )

    kept_roll = kept_rb.groupBy(
        F.when(F.col("replayed"), "kept_replayed")
        .otherwise("kept_first")
        .alias("route"),
        "lang",
    ).agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("sum_chars"))
    dead_roll = dead_rb.groupBy(
        F.concat(F.lit("dead:"), F.col("reason")).alias("route"), "lang"
    ).agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("sum_chars"))
    return (
        kept_roll.select("route", "lang", "n_docs", "sum_chars")
        .unionByName(dead_roll.select("route", "lang", "n_docs", "sum_chars"))
        .orderBy("route", "lang")
    )
