"""Round-7 wave 12 (Y59, MM10, X159): clustering-evaluation ARI, audio
silence trimming, and schema_of_json inference.

Reference parity: none — the reference (SirHooke/debias-batch-processor)
has no clustering/audio/JSON-inference surface; extensions per SURVEY
§2.H.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from debias_spark.catalog import table
from debias_spark.numeric import floor_eps, floor_eps_sql
from debias_spark.operators.similarity import SEM_ASSIGN_CTE_DUCK, SEM_K, dot, l2_norm
from debias_spark.registry import register


@register(
    "embedding_cluster_ari",
    "Y59",
    oracle=SEM_ASSIGN_CTE_DUCK + f"""
    , ct AS MATERIALIZED (
        SELECT a.cent_id, e.label, count(*) AS n
        FROM a JOIN embeddings e ON e.vec_id = a.vec_id
        GROUP BY 1, 2
    ), m AS (
        SELECT CAST(sum(n * (n - 1) / 2) AS HUGEINT) AS s,
               CAST(sum(n) AS HUGEINT) AS total
        FROM ct
    ), ra AS (
        SELECT CAST(sum(an * (an - 1) / 2) AS HUGEINT) AS a
        FROM (SELECT sum(n) AS an FROM ct GROUP BY cent_id)
    ), rb AS (
        SELECT CAST(sum(bn * (bn - 1) / 2) AS HUGEINT) AS b
        FROM (SELECT sum(n) AS bn FROM ct GROUP BY label)
    )
    SELECT CAST(m.total AS BIGINT) AS n_vecs,
           CAST(m.s AS BIGINT) AS pair_agree,
           {floor_eps_sql("CAST(2 * (m.s * (m.total * (m.total - 1) / 2)"
                          " - ra.a * rb.b) AS DOUBLE)"
                          " / CAST((ra.a + rb.b) * (m.total * (m.total - 1) / 2)"
                          " - 2 * ra.a * rb.b AS DOUBLE)", 1000000)} AS ari_e6
    FROM m, ra, rb
    """,
)
def embedding_cluster_ari(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjusted Rand Index between the pinned-init k-means assignment
    (the Y32/Y38 clustering, K=8) and the ground-truth labels — the
    standard external clustering-quality metric a training pipeline
    tracks when embeddings are re-fit (ARI ~0 means the clusters ignore
    the labels; 1 means they recover them).  Every Rand term is a pair
    COUNT (sum of C(n,2) over the contingency table and its margins), so
    the whole statistic is a ratio of exact integers carried in
    decimal/hugeint — one correctly-rounded division at the end,
    floor-eps e6, bit-stable (rule 18; no transcendentals).

    Scale shape: assignment is one broadcast-K scan; the contingency is
    a (K x labels) map-side-combined aggregate; everything after is
    arithmetic on a bounded frame."""
    emb = table(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") < SEM_K).select(
        F.col("vec_id").alias("cent_id"),
        F.col("embedding").alias("cv"),
        l2_norm(F.col("embedding")).alias("cn"),
    )
    base = emb.select(
        "vec_id",
        "label",
        F.col("embedding").alias("v"),
        l2_norm(F.col("embedding")).alias("nrm"),
    )
    scored = base.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "label",
        "cent_id",
        floor_eps(dot(F.col("v"), F.col("cv")) / (F.col("nrm") * F.col("cn")), 10000)
        .cast("long")
        .alias("sim_e4"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim_e4"), F.asc("cent_id"))
    assigned = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "label", "cent_id")
    )
    ct = assigned.groupBy("cent_id", "label").agg(F.count("*").alias("n"))

    def dec(c):
        return c.cast("decimal(38,0)")

    s = ct.agg(
        F.sum(dec(F.col("n") * (F.col("n") - 1) / 2)).alias("s"),
        F.sum(dec(F.col("n"))).alias("total"),
    )
    ra = (
        ct.groupBy("cent_id")
        .agg(F.sum("n").alias("an"))
        .agg(F.sum(dec(F.col("an") * (F.col("an") - 1) / 2)).alias("a"))
    )
    rb = (
        ct.groupBy("label")
        .agg(F.sum("n").alias("bn"))
        .agg(F.sum(dec(F.col("bn") * (F.col("bn") - 1) / 2)).alias("b"))
    )
    j = s.crossJoin(F.broadcast(ra)).crossJoin(F.broadcast(rb))
    n2 = dec(F.col("total") * (F.col("total") - 1) / 2)
    num = (2 * (F.col("s") * n2 - F.col("a") * F.col("b"))).cast("double")
    den = ((F.col("a") + F.col("b")) * n2 - 2 * F.col("a") * F.col("b")).cast(
        "double"
    )
    return j.select(
        F.col("total").cast("long").alias("n_vecs"),
        F.col("s").cast("long").alias("pair_agree"),
        floor_eps(num / den, 1000000).cast("long").alias("ari_e6"),
    )


@register(
    "multimodal_audio_silence_trim",
    "MM10",
    oracle="""
    WITH clips AS (
        SELECT doc_id, 20 + doc_id % 17 AS n FROM documents
    ), s AS (
        SELECT doc_id, n,
               list_transform(range(0, n), i ->
                   abs(((doc_id * 31 + i * 17) % 65536) - 32768) >= 8192
               ) AS loud
        FROM clips
    ), pos AS (
        SELECT doc_id, n,
               list_min(list_transform(
                   list_filter(range(0, n), i -> loud[i + 1]), i -> i))
                   AS first_loud,
               list_max(list_transform(
                   list_filter(range(0, n), i -> loud[i + 1]), i -> i))
                   AS last_loud
        FROM s
    )
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_samples,
           CAST(coalesce(first_loud, n) AS BIGINT) AS lead_silence,
           CAST(CASE WHEN last_loud IS NULL THEN n
                     ELSE n - 1 - last_loud END AS BIGINT) AS trail_silence,
           CAST(CASE WHEN first_loud IS NULL THEN 0
                     ELSE last_loud - first_loud + 1 END AS BIGINT)
               AS n_trimmed
    FROM pos ORDER BY doc_id
    """,
)
def multimodal_audio_silence_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio silence trimming (the MM7 synthetic-PCM corpus): per clip,
    the leading/trailing run of samples whose amplitude is below the
    8192 threshold and the surviving trimmed length — the first
    preprocessing stage of every speech pipeline (silence carries no
    training signal and skews duration stats).  Bounds come from
    min/max of loud positions over the in-row sample array — exact
    integer arithmetic replayed verbatim by the oracle from the same
    generation formula.

    Scale shape: pure in-row array expressions over bounded clips
    (<= 36 samples here; real audio runs the identical shape through a
    mapInPandas numpy pass like MM7's RMS) — no shuffle at all before
    the final sort."""
    docs = table(spark, sf_dir, "documents").select("doc_id")
    n = (20 + F.col("doc_id") % 17).cast("int")
    idx = F.sequence(F.lit(0), n - 1)
    loud_pos = F.filter(
        idx,
        lambda i: F.abs(((F.col("doc_id") * 31 + i * 17) % 65536) - 32768)
        >= 8192,
    )
    first_loud = F.array_min(loud_pos)
    last_loud = F.array_max(loud_pos)
    return docs.select(
        "doc_id",
        n.cast("long").alias("n_samples"),
        F.coalesce(first_loud, n).cast("long").alias("lead_silence"),
        F.when(last_loud.isNull(), n)
        .otherwise(n - 1 - last_loud)
        .cast("long")
        .alias("trail_silence"),
        F.when(first_loud.isNull(), 0)
        .otherwise(last_loud - first_loud + 1)
        .cast("long")
        .alias("n_trimmed"),
    ).orderBy("doc_id")


@register(
    "sql_schema_of_json_infer",
    "X159",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
               AS k_sum,
           CAST(max(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
               AS k_max
    FROM events GROUP BY 1 ORDER BY 1
    """,
)
def sql_schema_of_json_infer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON schema inference feeding the parser: schema_of_json derives
    the DDL from a sample payload, and from_json parses the whole props
    column with the INFERRED schema — the two-call idiom an exploratory
    pipeline uses before pinning an explicit schema (the same
    infer-once-then-pin contract as Z57's CSV twin).  The aggregate over
    the parsed field hash-matches DuckDB's json_extract replay.

    Scale shape: inference runs once on a literal (constant-folded);
    the parse is a per-row codegen'd expression; one grouped aggregate."""
    ev = table(spark, sf_dir, "events")
    sample = ev.select("props").first()[0]
    parsed = ev.select(
        "event_type",
        F.from_json("props", F.schema_of_json(F.lit(sample))).alias("p"),
    )
    return (
        parsed.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("p.k").cast("long").alias("k_sum"),
            F.max("p.k").cast("long").alias("k_max"),
        )
        .orderBy("event_type")
    )
