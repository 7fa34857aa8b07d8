"""Built-in function packs: scalar, string, datetime, conditional,
hash, array and map functions, regexp, VARIANT, table profiling, set
operations and subqueries.

The reference has no SQL surface (SURVEY §2.G); north-star extensions per SURVEY §2.H.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debias_spark.catalog import table
from debias_spark.numeric import floor_eps, floor_eps_sql
from debias_spark.registry import register


@register(
    "scalar_hash_fn_pack",
    "X151",
    oracle="""
    SELECT o_orderpriority AS prio,
           count(*) AS n,
           md5(min(o_orderpriority)) AS md5_hex,
           sha256(min(o_orderpriority)) AS sha256_hex,
           count(*) AS n_distinct_xxhash,
           count(*) AS n_distinct_murmur
    FROM orders GROUP BY 1 ORDER BY 1
    """,
)
def scalar_hash_fn_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hash-function surface in one pass: md5 and sha2-256 (portable
    — DuckDB recomputes the identical hex digests), plus xxhash64 and
    murmur3 (`hash`) — Spark-internal functions DuckDB lacks, pinned by
    a GLOBAL distinct-count over the 5-value priority domain: the number
    of distinct hash outputs across all 5 distinct inputs must equal the
    number of distinct inputs, so a CROSS-input collision (two different
    priorities hashing to one value) shrinks the global count and shifts
    every emitted row (per-group countDistinct would always be 1 and
    could never observe one).  xxhash64 is the hash the engine itself
    uses for bloom filters (X148) and murmur3 for shuffle partitioning —
    worth pinning their reachability even without cross-engine digests.

    Scale: pure codegen projections + one grouped aggregate + a 1-row
    broadcast of the global hash census."""
    o = table(spark, sf_dir, "orders")
    per = o.select(
        F.col("o_orderpriority").alias("prio"),
        F.xxhash64("o_orderpriority").alias("xx"),
        F.hash("o_orderpriority").alias("mm"),
    )
    agg = per.groupBy("prio").agg(
        F.count("*").alias("n"),
        F.md5(F.min("prio")).alias("md5_hex"),
        F.sha2(F.min("prio"), 256).alias("sha256_hex"),
    )
    # one-row global census: distinct inputs vs distinct hash outputs
    census = per.agg(
        F.countDistinct("prio").alias("nprio"),
        F.countDistinct("xx").alias("gxx"),
        F.countDistinct("mm").alias("gmm"),
    )
    # emit n + (distinct inputs - distinct hashes): equals n exactly when
    # the hash is injective over the domain; any cross-input collision
    # perturbs every row and breaks the oracle's count(*) expectation
    return (
        agg.crossJoin(F.broadcast(census))
        .select(
            "prio",
            "n",
            "md5_hex",
            "sha256_hex",
            (F.col("n") + F.col("nprio") - F.col("gxx")).alias("n_distinct_xxhash"),
            (F.col("n") + F.col("nprio") - F.col("gmm")).alias("n_distinct_murmur"),
        )
        .orderBy("prio")
    )


@register(
    "set_except_all",
    "T5",
    oracle="""
    SELECT k, count(*) AS n FROM (
        SELECT l_partkey AS k FROM lineitem
        EXCEPT ALL
        SELECT p_partkey FROM part
    ) GROUP BY k
    """,
)
def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL (multiset difference, duplicates preserved) — the bag
    semantics exceptAll exposes beyond H11's distinct set ops."""
    li = table(spark, sf_dir, "lineitem").select(F.col("l_partkey").alias("k"))
    pt = table(spark, sf_dir, "part").select(F.col("p_partkey").alias("k"))
    return li.exceptAll(pt).groupBy("k").agg(F.count("*").alias("n"))


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


# --- set ops / rollup / approx (H11-H13) -------------------------------------
@register(
    "set_ops",
    "H11",
    oracle="""
    SELECT 'both' AS op, k FROM
        (SELECT c_custkey AS k FROM customer INTERSECT SELECT o_custkey FROM orders)
    UNION ALL
    SELECT 'only_customer' AS op, k FROM
        (SELECT c_custkey AS k FROM customer EXCEPT SELECT o_custkey FROM orders)
    UNION ALL
    SELECT 'any' AS op, k FROM
        (SELECT c_custkey AS k FROM customer UNION SELECT o_custkey FROM orders)
    """,
)
def set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT / UNION (distinct) on key projections, tagged and
    stacked into one result."""
    c = table(spark, sf_dir, "customer").select(F.col("c_custkey").alias("k"))
    o = table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))
    both = c.intersect(o).select(F.lit("both").alias("op"), "k")
    only_c = c.exceptAll(o).distinct().select(F.lit("only_customer").alias("op"), "k")
    any_k = c.union(o).distinct().select(F.lit("any").alias("op"), "k")
    return both.unionAll(only_c).unionAll(any_k)


# --- scalar function pack (H17) ----------------------------------------------
@register(
    "scalar_fn_pack",
    "H17",
    oracle="""
    SELECT event_id,
           CAST(year(ts) AS INTEGER) AS y,
           CAST(month(ts) AS INTEGER) AS m,
           CAST(datediff('day', TIMESTAMP '2024-01-01', ts) AS INTEGER) AS days_in,
           strftime(date_trunc('day', ts), '%Y-%m-%d') AS day_str,
           round(abs(value), 2) + 0.0 AS abs_val,
           round(power(abs(value), 0.5), 4) + 0.0 AS sqrt_val,
           substr(event_type, 1, 3) AS type3,
           upper(event_type) AS type_uc,
           regexp_extract(props, '"k": *([0-9]+)', 1) AS k_str,
           event_type AS type_from_map,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_json
    FROM events
    """,
)
def scalar_fn_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/math/string/map/json scalar functions in one projection — all
    JVM-side inside whole-stage codegen, no UDFs.  The map columns build
    map_from_entries and read it back with element_at (semantic identity,
    which is exactly what the oracle states)."""
    ev = table(spark, sf_dir, "events")
    m = F.map_from_entries(
        F.array(
            F.struct(F.lit("type").alias("key"), F.col("event_type").alias("value")),
        )
    )
    return ev.select(
        "event_id",
        F.year("ts").alias("y"),
        F.month("ts").alias("m"),
        F.datediff(F.col("ts"), F.expr("TIMESTAMP_NTZ '2024-01-01 00:00:00'")).alias("days_in"),
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day_str"),
        (F.round(F.abs("value"), 2) + 0.0).alias("abs_val"),
        (F.round(F.pow(F.abs("value"), 0.5), 4) + 0.0).alias("sqrt_val"),
        F.substring("event_type", 1, 3).alias("type3"),
        F.upper("event_type").alias("type_uc"),
        F.regexp_extract("props", '"k": *([0-9]+)', 1).alias("k_str"),
        F.element_at(m, "type").alias("type_from_map"),
        F.get_json_object("props", "$.k").cast("long").alias("k_json"),
    )


@register(
    "scalar_string_pack2",
    "X6",
    oracle="""
    SELECT doc_id,
           levenshtein(substr(lang, 1, 2), 'en') AS lev_en,
           lpad(CAST(doc_id AS VARCHAR), 6, '0') AS padded_id,
           translate(lang, 'aeiou', 'AEIOU') AS vowels_up,
           reverse(source) AS rev_source,
           repeat('-', 3) || source AS dashed,
           left(text, 10) AS head10,
           right(text, 5) AS tail5,
           instr(text, 'data') AS data_pos,
           replace(source, 'src', 'source-') AS renamed
    FROM documents
    """,
)
def scalar_string_pack2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second string-function pack: edit distance, padding, translate,
    reverse/repeat/left/right/instr/replace — all codegen'd built-ins."""
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.levenshtein(F.substring("lang", 1, 2), F.lit("en")).cast("long").alias("lev_en"),
        F.lpad(F.col("doc_id").cast("string"), 6, "0").alias("padded_id"),
        F.translate("lang", "aeiou", "AEIOU").alias("vowels_up"),
        F.reverse("source").alias("rev_source"),
        F.concat(F.repeat(F.lit("-"), 3), F.col("source")).alias("dashed"),
        F.expr("left(text, 10)").alias("head10"),
        F.expr("right(text, 5)").alias("tail5"),
        F.instr("text", "data").cast("long").alias("data_pos"),
        F.replace("source", F.lit("src"), F.lit("source-")).alias("renamed"),
    )


@register(
    "array_fn_pack",
    "X7",
    oracle="""
    SELECT vec_id,
           round(CAST(embedding[1] AS DOUBLE), 5) + 0.0 AS first_el,
           round(CAST(list_max(embedding) AS DOUBLE), 5) AS max_el,
           round(CAST(list_min(embedding) AS DOUBLE), 5) AS min_el,
           CAST(len(list_filter(embedding, x -> x > 0)) AS INTEGER) AS n_pos,
           round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE))), 5) + 0.0 AS el_sum,
           round(CAST(list_sort(embedding)[1] AS DOUBLE), 5) AS sorted_first,
           CAST(len(list_distinct(embedding)) AS INTEGER) AS n_distinct
    FROM embeddings
    """,
)
def array_fn_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array/higher-order function pack: index, min/max, filter-count,
    fold-sum, sort, distinct — the building blocks the similarity and
    sketch operators compose."""
    emb = table(spark, sf_dir, "embeddings")
    e = F.col("embedding")
    return emb.select(
        "vec_id",
        (F.round(F.get(e, 0).cast("double"), 5) + 0.0).alias("first_el"),
        F.round(F.array_max(e).cast("double"), 5).alias("max_el"),
        F.round(F.array_min(e).cast("double"), 5).alias("min_el"),
        F.size(F.filter(e, lambda x: x > 0)).alias("n_pos"),
        (
            F.round(
                F.aggregate(e, F.lit(0.0), lambda acc, x: acc + x.cast("double")), 5
            )
            + 0.0
        ).alias("el_sum"),
        F.round(F.get(F.array_sort(e), 0).cast("double"), 5).alias("sorted_first"),
        F.size(F.array_distinct(e)).alias("n_distinct"),
    )


@register(
    "subquery_above_avg",
    "X9",
    oracle="""
    SELECT c_custkey, round(c_acctbal, 2) AS bal
    FROM customer
    WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
    """,
)
def subquery_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery: customers above the global average balance.
    Expressed via spark.sql so the subquery planning path is exercised
    (broadcast of the 1-row subquery result)."""
    return spark.sql(
        """
        SELECT c_custkey, round(c_acctbal, 2) AS bal
        FROM {customer}
        WHERE c_acctbal > (SELECT avg(c_acctbal) FROM {customer})
        """,
        customer=table(spark, sf_dir, "customer"),
    )
