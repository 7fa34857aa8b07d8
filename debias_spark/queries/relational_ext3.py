"""Third coverage wave: distribution window functions, extended datetime
functions, conditional/null handling, and a data-profiling aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from debias_spark.catalog import table
from debias_spark.numeric import floor_eps, floor_eps_sql
from debias_spark.registry import register


@register(
    "window_distribution_pack",
    "X12",
    oracle="""
    SELECT event_id,
           CAST(ntile(4) OVER w AS INTEGER) AS quartile,
           round(percent_rank() OVER w, 6) + 0.0 AS pct_rank,
           round(cume_dist() OVER w, 6) + 0.0 AS cume,
           first_value(event_id) OVER w AS first_id,
           nth_value(event_id, 2) OVER (PARTITION BY event_type ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS second_id
    FROM events
    WINDOW w AS (PARTITION BY event_type ORDER BY event_id)
    """,
)
def window_distribution_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions (ntile/percent_rank/cume_dist/
    first_value/nth_value) over a unique ordering key — one shuffle serves
    all five."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("event_id")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return ev.select(
        "event_id",
        F.ntile(4).over(w).alias("quartile"),
        (F.round(F.percent_rank().over(w), 6) + 0.0).alias("pct_rank"),
        (F.round(F.cume_dist().over(w), 6) + 0.0).alias("cume"),
        F.first("event_id").over(w).alias("first_id"),
        F.nth_value("event_id", 2).over(wf).alias("second_id"),
    )


@register(
    "scalar_datetime_pack2",
    "X13",
    oracle="""
    SELECT event_id,
           CAST(dayofweek(ts) + 1 AS INTEGER) AS dow,
           CAST(weekofyear(ts) AS INTEGER) AS woy,
           CAST(hour(ts) AS INTEGER) AS h,
           CAST(minute(ts) AS INTEGER) AS m,
           strftime(last_day(ts), '%Y-%m-%d') AS month_end,
           strftime(ts + INTERVAL 2 MONTH, '%Y-%m-%d %H:%M:%S') AS plus2m,
           strftime(CAST(ts AS DATE), '%Y-%m-%d') AS d
    FROM events
    """,
)
def scalar_datetime_pack2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended datetime functions.  Cross-engine notes: Spark's dayofweek
    is 1=Sunday while DuckDB's is 0=Sunday (oracle adds 1); weekofyear is
    ISO in both; month arithmetic clamps end-of-month identically."""
    ev = table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.dayofweek("ts").alias("dow"),
        F.weekofyear("ts").alias("woy"),
        F.hour("ts").alias("h"),
        F.minute("ts").alias("m"),
        F.date_format(F.last_day("ts"), "yyyy-MM-dd").alias("month_end"),
        # interval arithmetic, not add_months(): Spark's add_months returns a
        # DATE (drops time-of-day); + INTERVAL keeps the timestamp like DuckDB
        F.date_format(F.expr("ts + INTERVAL 2 MONTH"), "yyyy-MM-dd HH:mm:ss").alias("plus2m"),
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("d"),
    )


@register(
    "scalar_conditional_pack",
    "X14",
    oracle="""
    SELECT event_id,
           coalesce(nullif(event_type, 'error'), 'recovered') AS et,
           CASE WHEN value > 0 THEN 'pos' WHEN value < 0 THEN 'neg' ELSE 'zero' END AS sign_label,
           round(least(value, 0.5), 4) + 0.0 AS capped,
           round(greatest(value, -0.5), 4) + 0.0 AS floored,
           ifnull(NULL, event_type) AS nvl_demo,
           CASE WHEN props IS NOT NULL THEN 'has_props' ELSE 'no_props' END AS nvl2_demo
    FROM events
    """,
)
def scalar_conditional_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional / null-handling pack: nullif+coalesce, multi-branch
    CASE, least/greatest capping, nvl/nvl2 shapes."""
    ev = table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.coalesce(F.expr("nullif(event_type, 'error')"), F.lit("recovered")).alias("et"),
        F.when(F.col("value") > 0, "pos").when(F.col("value") < 0, "neg").otherwise("zero").alias("sign_label"),
        (F.round(F.least("value", F.lit(0.5)), 4) + 0.0).alias("capped"),
        (F.round(F.greatest("value", F.lit(-0.5)), 4) + 0.0).alias("floored"),
        F.ifnull(F.lit(None).cast("string"), F.col("event_type")).alias("nvl_demo"),
        F.nvl2(F.col("props"), F.lit("has_props"), F.lit("no_props")).alias("nvl2_demo"),
    )


@register(
    "unpivot_metrics",
    "X22",
    oracle="""
    WITH li AS (SELECT * FROM lineitem WHERE l_orderkey % 8 = 0)
    SELECT l_orderkey, l_linenumber, 'qty' AS metric, round(l_quantity, 2) AS val
    FROM li
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'price', round(l_extendedprice, 2) FROM li
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'discount', round(l_discount, 2) FROM li
    """,
)
def unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide -> long, the inverse of X3's pivot): three measure
    columns melt into (metric, val) rows.  A generator projection — rows
    triple but nothing shuffles.  The deterministic l_orderkey % 8 subset
    bounds the value-compare cost (the operator itself is row-count
    agnostic; 3x row explosion on the full table made this the single most
    expensive oracle compare at every SF for no extra coverage)."""
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 8 == 0)
    pre = li.select(
        "l_orderkey",
        "l_linenumber",
        F.round("l_quantity", 2).alias("qty"),
        F.round("l_extendedprice", 2).alias("price"),
        F.round("l_discount", 2).alias("discount"),
    )
    return pre.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["qty", "price", "discount"],
        "metric",
        "val",
    )


@register(
    "array_quantifiers",
    "X20",
    oracle="""
    SELECT vec_id,
           (len(list_filter(embedding, x -> x > 0.1)) > 0) AS any_big,
           (len(list_filter(embedding, x -> x > -10)) = len(embedding)) AS all_sane,
           CAST(len(list_filter(embedding, x -> x > 0)) AS INTEGER) AS n_pos,
           (len(list_filter(embedding, x -> abs(x) > 1)) = 0) AS none_huge
    FROM embeddings
    """,
)
def array_quantifiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order quantifier predicates over arrays: exists / forall /
    filter-count / negated-exists — all codegen, no explode needed for
    per-row array predicates."""
    emb = table(spark, sf_dir, "embeddings")
    e = F.col("embedding")
    return emb.select(
        "vec_id",
        F.exists(e, lambda x: x > 0.1).alias("any_big"),
        F.forall(e, lambda x: x > -10).alias("all_sane"),
        F.size(F.filter(e, lambda x: x > 0)).alias("n_pos"),
        (~F.exists(e, lambda x: F.abs(x) > 1)).alias("none_huge"),
    )


@register(
    "regexp_pack",
    "X21",
    oracle=r"""
    SELECT doc_id,
           array_to_string(regexp_extract_all(text, '[a-z]{5,}'), ',') AS long_words,
           CAST(len(regexp_extract_all(text, '[a-z]{5,}')) AS INTEGER) AS n_long,
           regexp_matches(text, '^[a-z]') AS starts_lower,
           regexp_replace(text, '[aeiou]', '_', 'g') LIKE '%;_%' AS has_semivowel,
           regexp_extract(text, '([a-z]+) ([a-z]+)', 2) AS second_word
    FROM documents
    """,
)
def regexp_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regexp function pack: extract_all, match-count, anchored match,
    global replace, group extraction — patterns restricted to the
    Java-regex/RE2 common subset so both engines agree."""
    docs = table(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        F.array_join(F.regexp_extract_all(t, F.lit("[a-z]{5,}"), 0), ",").alias("long_words"),
        F.size(F.regexp_extract_all(t, F.lit("[a-z]{5,}"), 0)).alias("n_long"),
        t.rlike("^[a-z]").alias("starts_lower"),
        F.regexp_replace(t, "[aeiou]", "_").like("%;_%").alias("has_semivowel"),
        F.regexp_extract(t, "([a-z]+) ([a-z]+)", 2).alias("second_word"),
    )


@register(
    "join_range_banded",
    "X18",
    oracle="""
    SELECT a.event_id AS id_a, b.event_id AS id_b,
           CAST(floor(epoch(b.ts)) - floor(epoch(a.ts)) AS BIGINT) AS dt_s
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_id < b.event_id
     AND abs(floor(epoch(a.ts)) - floor(epoch(b.ts))) <= 300
    """,
)
def join_range_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join, banded: pairs of same-user events within 300 s.

    The naive plan is an inequality join — O(n^2) per user.  The banded
    rewrite buckets time into 300 s bands and replicates ONE side into its
    adjacent bands, turning the range join into an equi join on
    (user_id, band) + a cheap residual filter: each candidate pair meets on
    exactly one band key, so no dedup is needed.  This is the standard
    scalable interval-join shape (and what a time-series as-of/range engine
    does under the hood)."""
    ev = table(spark, sf_dir, "events")
    sec = F.unix_seconds(F.col("ts").cast("timestamp"))
    e = ev.select("user_id", "event_id", sec.alias("sec"))
    band = F.floor(F.col("sec") / 300)
    left = e.select("user_id", F.col("event_id").alias("id_a"), F.col("sec").alias("sec_a"), band.alias("band"))
    right = e.select(
        "user_id",
        F.col("event_id").alias("id_b"),
        F.col("sec").alias("sec_b"),
        F.explode(F.array(band - 1, band, band + 1)).alias("band"),
    )
    return (
        left.join(right, ["user_id", "band"])
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.abs(F.col("sec_a") - F.col("sec_b")) <= 300)
        )
        .select("id_a", "id_b", (F.col("sec_b") - F.col("sec_a")).alias("dt_s"))
    )


@register(
    "agg_stats_pack",
    "X19",
    oracle=f"""
    SELECT event_type,
           {floor_eps_sql("corr(value, CAST(user_id AS DOUBLE))", 10000)} AS corr_vu_e4,
           {floor_eps_sql("covar_samp(value, CAST(user_id AS DOUBLE))", 10000)} AS covar_vu_e4,
           {floor_eps_sql("var_samp(value)", 10000)} AS var_v_e4,
           {floor_eps_sql("stddev_samp(value)", 10000)} AS std_v_e4
    FROM events GROUP BY event_type
    """,
)
def agg_stats_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates: correlation, sample covariance/variance/
    stddev per group — one shuffle, all mergeable partial states.
    (skewness/kurtosis exist in both engines but use different bias
    conventions, so they stay out of the oracle contract.)"""
    ev = table(spark, sf_dir, "events")
    u = F.col("user_id").cast("double")
    return ev.groupBy("event_type").agg(
        floor_eps(F.corr("value", u), 10000).cast("long").alias("corr_vu_e4"),
        floor_eps(F.covar_samp("value", u), 10000).cast("long").alias("covar_vu_e4"),
        floor_eps(F.var_samp("value"), 10000).cast("long").alias("var_v_e4"),
        floor_eps(F.stddev_samp("value"), 10000).cast("long").alias("std_v_e4"),
    )


@register(
    "variant_json_pack",
    "X17",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
           json_extract_string(props, '$.missing') AS missing_field,
           (json_extract_string(props, '$.k') IS NOT NULL) AS has_k
    FROM events
    """,
)
def variant_json_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT type: parse_json once into a binary semi-structured
    value, then typed variant_get extraction — the modern replacement for
    repeated get_json_object string re-parsing (one parse per row instead
    of one per field at 100 TB)."""
    ev = table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.expr("variant_get(parse_json(props), '$.k', 'long')").alias("k"),
        F.expr("variant_get(parse_json(props), '$.missing', 'string')").alias("missing_field"),
        F.expr("variant_get(parse_json(props), '$.k', 'long') IS NOT NULL").alias("has_k"),
    )


@register(
    "map_fn_pack",
    "X16",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               map(['lang','source','chars'],
                   [lang, source, CAST(n_chars AS VARCHAR)]) AS m
        FROM documents
    )
    SELECT doc_id,
           m['source'][1] AS lookup_source,
           array_to_string(map_keys(m), ',') AS keys_join,
           array_to_string(map_values(m), ',') AS vals_join,
           CAST(cardinality(m) AS INTEGER) AS n_entries,
           list_contains(map_keys(m), 'lang') AS has_lang
    FROM t
    """,
)
def map_fn_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-type function pack: construction from arrays, key lookup,
    keys/values extraction, cardinality, key membership.  Insertion order
    is preserved by both engines, making the joined projections stable."""
    docs = table(spark, sf_dir, "documents")
    m = F.map_from_arrays(
        F.array(F.lit("lang"), F.lit("source"), F.lit("chars")),
        F.array(F.col("lang"), F.col("source"), F.col("n_chars").cast("string")),
    )
    return docs.select(
        "doc_id",
        F.element_at(m, "source").alias("lookup_source"),
        F.array_join(F.map_keys(m), ",").alias("keys_join"),
        F.array_join(F.map_values(m), ",").alias("vals_join"),
        F.size(m).alias("n_entries"),
        F.map_contains_key(m, "lang").alias("has_lang"),
    )


@register(
    "profile_table_stats",
    "X15",
    oracle=f"""
    SELECT 'events' AS tbl,
           count(*) AS n_rows,
           count(DISTINCT user_id) AS n_users,
           count(DISTINCT event_type) AS n_types,
           count(*) - count(props) AS null_props,
           {floor_eps_sql("min(value)", 10000)} AS min_value_e4,
           {floor_eps_sql("max(value)", 10000)} AS max_value_e4,
           {floor_eps_sql("avg(value)", 10000)} AS avg_value_e4,
           {floor_eps_sql("stddev_samp(value)", 10000)} AS std_value_e4
    FROM events
    """,
)
def profile_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset profiling in one pass: row count, cardinalities, null
    counts, numeric distribution — the pre-flight every pipeline run does
    before trusting a new data drop.  At 100 TB the distinct counts switch
    to approx_count_distinct (H13); exact here for the oracle."""
    ev = table(spark, sf_dir, "events")
    return ev.agg(
        F.lit("events").alias("tbl"),
        F.count("*").alias("n_rows"),
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct("event_type").alias("n_types"),
        (F.count("*") - F.count("props")).alias("null_props"),
        floor_eps(F.min("value"), 10000).cast("long").alias("min_value_e4"),
        floor_eps(F.max("value"), 10000).cast("long").alias("max_value_e4"),
        floor_eps(F.avg("value"), 10000).cast("long").alias("avg_value_e4"),
        floor_eps(F.stddev_samp("value"), 10000).cast("long").alias("std_value_e4"),
    )
