"""Reference-evidenced relational core (SURVEY §2 A1-F3, minus F1/F2).

Every query here is a pure DataFrame plan over the driver's parquet tables —
no UDFs, fully inside whole-stage codegen, filters/projections expressed so
Catalyst pushes them into the parquet scan.  Reference citations are to
/root/reference (see SURVEY.md for the line-level evidence).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from debias_spark.catalog import table
from debias_spark.registry import register

# --- §2.A sources / scans ---------------------------------------------------


@register(
    "scan_partitioned_source",
    "A1",
    oracle="""
    SELECT doc_id, text, lang, source, n_chars
    FROM documents WHERE lang IN ('en','de','fr')
    """,
)
def scan_partitioned_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned directory scan with partition pruning.

    Reference: call-debias.py:184-194 iterates input/<lang>/ dirs and skips
    unknown languages — i.e. a partition-pruning filter.  On a partitioned
    100 TB layout the IN-filter prunes whole directories at planning time.
    """
    docs = table(spark, sf_dir, "documents")
    return docs.filter(F.col("lang").isin("en", "de", "fr")).select(
        "doc_id", "text", "lang", "source", "n_chars"
    )


@register(
    "scan_lines_drop_blank",
    "A2",
    oracle="""
    SELECT doc_id, text FROM documents WHERE length(trim(text)) > 0
    """,
)
def scan_lines_drop_blank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-oriented read with blank-line drop (call-debias.py:143-147)."""
    docs = table(spark, sf_dir, "documents")
    return docs.filter(F.length(F.trim("text")) > 0).select("doc_id", "text")


@register(
    "scan_json_nested",
    "A3",
    oracle="""
    SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
    FROM events
    """,
)
def scan_json_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON document field extraction (analytics/parser.py:16-19 globs and
    parses nested JSON; here the nested doc is the events.props column)."""
    ev = table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k"),
    )


# --- §2.B filters / predicates ----------------------------------------------


@register(
    "filter_nonempty_array",
    "B1",
    oracle="""
    SELECT vec_id, CAST(len(embedding) AS BIGINT) AS n_dims
    FROM embeddings WHERE len(embedding) > 0
    """,
)
def filter_nonempty_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-empty-array predicate = Python truthiness of r.get("tags")
    (call-debias.py:59).  size(null) = -1, so size(x) > 0 covers null AND []
    in one predicate — the exact truthiness semantics."""
    emb = table(spark, sf_dir, "embeddings")
    return emb.filter(F.size("embedding") > 0).select(
        "vec_id", F.size("embedding").cast("long").alias("n_dims")
    )


@register(
    "filter_not_null",
    "B2",
    oracle="""
    SELECT event_id, et FROM (
        SELECT event_id, nullif(event_type, 'error') AS et FROM events
    ) WHERE et IS NOT NULL
    """,
)
def filter_not_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IS NOT NULL filter (dashboard_widget.py:101 .notna())."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.select("event_id", F.expr("nullif(event_type, 'error')").alias("et"))
        .filter(F.col("et").isNotNull())
    )


@register(
    "filter_equality",
    "B3",
    oracle="SELECT doc_id, lang, n_chars FROM documents WHERE lang = 'en'",
)
def filter_equality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equality predicate on a string dimension (dashboard language
    selector, dashboard_widget.py:103-106)."""
    docs = table(spark, sf_dir, "documents")
    return docs.filter(F.col("lang") == "en").select("doc_id", "lang", "n_chars")


@register(
    "filter_in_set",
    "B4",
    oracle="""
    SELECT doc_id, lang FROM documents
    WHERE lang IN ('nl','en','de','it','fr')
    """,
)
def filter_in_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Membership predicate — the reference's SUPPORTED_LANGUAGES gate
    (call-debias.py:36,185)."""
    docs = table(spark, sf_dir, "documents")
    return docs.filter(F.col("lang").isin("nl", "en", "de", "it", "fr")).select(
        "doc_id", "lang"
    )


# --- §2.C projections / scalar functions ------------------------------------


@register(
    "project_split_first_comma",
    "C1",
    oracle="""
    WITH t AS (
        SELECT doc_id, CAST(doc_id AS VARCHAR) || ',' || text AS line, text
        FROM documents
    )
    SELECT doc_id,
        trim(CASE WHEN strpos(line, ',') > 0
                  THEN substr(line, 1, strpos(line, ',') - 1) ELSE line END) AS rec_num,
        trim(CASE WHEN strpos(line, ',') > 0
                  THEN substr(line, strpos(line, ',') + 1) ELSE '' END) AS literal_text,
        trim(CASE WHEN strpos(text, ',') > 0
                  THEN substr(text, 1, strpos(text, ',') - 1) ELSE text END) AS raw_rec,
        trim(CASE WHEN strpos(text, ',') > 0
                  THEN substr(text, strpos(text, ',') + 1) ELSE '' END) AS raw_rest
    FROM t
    """,
)
def project_split_first_comma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split on FIRST comma into (record_num, literal_text), both trimmed;
    a line with no comma yields literal_text = '' (call-debias.py:92-96).
    Both paths exercised: a synthesized '<id>,<text>' line (has comma) and
    the raw text (vocabulary words — no comma)."""
    docs = table(spark, sf_dir, "documents")
    line = F.concat(F.col("doc_id").cast("string"), F.lit(","), F.col("text"))
    parts = F.split(line, ",", 2)
    raw_parts = F.split(F.col("text"), ",", 2)
    return docs.select(
        "doc_id",
        F.trim(F.get(parts, 0)).alias("rec_num"),
        F.coalesce(F.trim(F.get(parts, 1)), F.lit("")).alias("literal_text"),
        F.trim(F.get(raw_parts, 0)).alias("raw_rec"),
        F.coalesce(F.trim(F.get(raw_parts, 1)), F.lit("")).alias("raw_rest"),
    )


@register(
    "project_string_format",
    "C2",
    oracle="""
    SELECT doc_id,
           concat_ws('|', lang, source) AS lang_src,
           printf('doc-%d', doc_id) AS doc_label
    FROM documents
    """,
)
def project_string_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String templating — the tag-details cell build (call-debias.py:99-103)
    and log labels (:151,157)."""
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.concat_ws("|", "lang", "source").alias("lang_src"),
        F.format_string("doc-%d", "doc_id").alias("doc_label"),
    )


@register(
    "project_path_stem",
    "C3",
    oracle=r"""
    WITH t AS (
        SELECT doc_id, source || '/' || CAST(doc_id AS VARCHAR) || '.csv' AS fname
        FROM documents
    )
    SELECT doc_id, fname,
           regexp_replace(fname, '\.[^.]+$', '') AS stem,
           regexp_replace(fname, '\.[^.]+$', '') || '-output.json' AS out_name
    FROM t
    """,
)
def project_path_stem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filename manipulation: stem + the '<stem>-output.json' naming contract
    (call-debias.py:141; the suffix is load-bearing for analytics/parser.py:16)."""
    docs = table(spark, sf_dir, "documents")
    fname = F.concat(F.col("source"), F.lit("/"), F.col("doc_id").cast("string"), F.lit(".csv"))
    stem = F.regexp_replace(fname, r"\.[^.]+$", "")
    return docs.select(
        "doc_id",
        fname.alias("fname"),
        stem.alias("stem"),
        F.concat(stem, F.lit("-output.json")).alias("out_name"),
    )


@register(
    "project_array_size",
    "C4",
    oracle="SELECT vec_id, CAST(len(embedding) AS BIGINT) AS n_dims FROM embeddings",
)
def project_array_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array length projection (analytics/parser.py:27 len(tags))."""
    emb = table(spark, sf_dir, "embeddings")
    return emb.select("vec_id", F.size("embedding").cast("long").alias("n_dims"))


@register(
    "project_cast_string",
    "C5",
    oracle="SELECT event_id, CAST(user_id AS VARCHAR) AS user_id_str FROM events",
)
def project_cast_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int -> string cast (dashboard_widget.py:176 str(k) axis labels)."""
    ev = table(spark, sf_dir, "events")
    return ev.select("event_id", F.col("user_id").cast("string").alias("user_id_str"))


# --- §2.D explode / flatten / union -----------------------------------------


@register(
    "explode_tags",
    "D1",
    oracle="""
    SELECT vec_id, round(CAST(v AS DOUBLE), 5) + 0.0 AS val
    FROM (SELECT vec_id, unnest(embedding) AS v FROM embeddings)
    """,
)
def explode_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array explode, parent key replicated per element (call-debias.py:98-110,
    analytics/parser.py:39-46).  Generator runs JVM-side inside codegen."""
    emb = table(spark, sf_dir, "embeddings")
    return emb.select("vec_id", F.explode("embedding").alias("v")).select(
        # + 0.0 collapses IEEE -0.0 so value hashes agree across engines
        "vec_id", (F.round(F.col("v").cast("double"), 5) + 0.0).alias("val")
    )


@register(
    "explode_with_position",
    "D2",
    oracle="""
    SELECT vec_id, CAST(ord - 1 AS INTEGER) AS pos, round(CAST(v AS DOUBLE), 5) + 0.0 AS val
    FROM (SELECT vec_id, unnest(embedding) AS v,
                 generate_subscripts(embedding, 1) AS ord
          FROM embeddings)
    """,
)
def explode_with_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explode with element index — enumerate(result["tags"])
    (call-debias.py:98; the index drives the first-row blanking at :106-107)."""
    emb = table(spark, sf_dir, "embeddings")
    return emb.select("vec_id", F.posexplode("embedding").alias("pos", "v")).select(
        "vec_id", "pos", (F.round(F.col("v").cast("double"), 5) + 0.0).alias("val")
    )


@register(
    "explode_outer_nullable",
    "D1b",
    oracle="""
    SELECT event_id, 'a' AS el FROM events WHERE value > 0
    UNION ALL
    SELECT event_id, event_type AS el FROM events WHERE value > 0
    UNION ALL
    SELECT event_id, CAST(NULL AS VARCHAR) AS el FROM events WHERE value <= 0
    """,
)
def explode_outer_nullable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode_outer: null/empty arrays keep their parent row (one row with
    a null element) instead of vanishing — the OTHER explode semantics,
    deliberately distinct from the analytics frame's N+1 shape (D3) and
    from plain explode (D1)."""
    ev = table(spark, sf_dir, "events")
    arr = F.when(F.col("value") > 0, F.array(F.lit("a"), F.col("event_type")))
    return ev.select("event_id", arr.alias("arr")).select(
        "event_id", F.explode_outer("arr").alias("el")
    )


@register(
    "union_record_and_tag_rows",
    "D3",
    oracle="""
    SELECT doc_id, lang AS attr, 'lang' AS kind FROM documents
    UNION ALL
    SELECT doc_id, source AS attr, 'source' AS kind FROM documents
    """,
)
def union_record_and_tag_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two row families stacked in one frame — the shape of the analytics
    frame's one record row plus one row per tag, NOT explode_outer: N tags
    -> N+1 rows (analytics/parser.py:29-46).  The full N+1 frame itself is
    annotate.analytics_frame(), one explode over a leading NULL and the tag
    literals; oracle-checked here on a pure projection."""
    docs = table(spark, sf_dir, "documents")
    a = docs.select("doc_id", F.col("lang").alias("attr"), F.lit("lang").alias("kind"))
    b = docs.select("doc_id", F.col("source").alias("attr"), F.lit("source").alias("kind"))
    return a.unionAll(b)


@register(
    "dedup_first_marker",
    "D4",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CASE WHEN row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber) = 1
                THEN CAST(l_orderkey AS VARCHAR) ELSE '' END AS order_label
    FROM lineitem
    """,
)
def dedup_first_marker(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-row-per-group marker: show the group key only on the first tag
    row, blank it afterwards (call-debias.py:106-107)."""
    li = table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber")
    rn = F.row_number().over(w)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.when(rn == 1, F.col("l_orderkey").cast("string")).otherwise("").alias("order_label"),
    )


# --- §2.E aggregations / sorts / distinct -----------------------------------


@register(
    "agg_count_by_key",
    "E1",
    oracle="SELECT event_type, count(*) AS n FROM events GROUP BY event_type",
)
def agg_count_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-agg count (dashboard_widget.py:108-113 groupby().size()).
    Partial aggregation map-side, one shuffle on the group key."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(F.count("*").alias("n"))


@register(
    "agg_count_desc_topn",
    "E2",
    oracle="""
    SELECT event_type, count(*) AS n FROM events
    GROUP BY event_type ORDER BY n DESC, event_type LIMIT 3
    """,
)
def agg_count_desc_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranked counts + top-k (dashboard sort_values desc).  Deterministic
    tiebreak on the key so LIMIT is stable (SURVEY §7 hard parts)."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("event_type"))
        .limit(3)
    )


@register(
    "agg_max_by_key",
    "E3",
    oracle="SELECT l_orderkey, max(l_quantity) AS max_qty FROM lineitem GROUP BY l_orderkey",
)
def agg_max_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-by max (dashboard_widget.py:166-169)."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_orderkey").agg(F.max("l_quantity").alias("max_qty"))


@register(
    "agg_histogram",
    "E4",
    oracle="""
    SELECT max_qty, count(*) AS n_orders FROM (
        SELECT l_orderkey, max(l_quantity) AS max_qty FROM lineitem GROUP BY l_orderkey
    ) GROUP BY max_qty ORDER BY max_qty
    """,
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level aggregation: per-key max, then value-frequency histogram
    (dashboard_widget.py:166-171 .max() then .value_counts().sort_index())."""
    li = table(spark, sf_dir, "lineitem")
    per_key = li.groupBy("l_orderkey").agg(F.max("l_quantity").alias("max_qty"))
    return per_key.groupBy("max_qty").agg(F.count("*").alias("n_orders")).orderBy("max_qty")


@register(
    "distinct_sorted",
    "E5",
    oracle="""
    SELECT DISTINCT lang FROM documents WHERE lang IS NOT NULL ORDER BY lang
    """,
)
def distinct_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT + sort — the language selector (dashboard_widget.py:82)."""
    docs = table(spark, sf_dir, "documents")
    return docs.select("lang").filter(F.col("lang").isNotNull()).distinct().orderBy("lang")


@register(
    "sort_by_index_asc",
    "E6",
    oracle="SELECT r_regionkey, r_name FROM region ORDER BY r_name",
)
def sort_by_index_asc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY key ASC (dashboard_widget.py:171 sort_index)."""
    return table(spark, sf_dir, "region").select("r_regionkey", "r_name").orderBy("r_name")


# --- §2.F flag scan ----------------------------------------------------------


@register(
    "flag_scan_lines",
    "F3",
    oracle="""
    SELECT doc_id FROM documents
    WHERE lower(text) LIKE '%slow%' OR lower(text) LIKE '%merge%'
    """,
)
def flag_scan_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring scan over lines — the GUI's 'error'/'fatal' failure detector
    (gui.py:76-80)."""
    docs = table(spark, sf_dir, "documents")
    low = F.lower("text")
    return docs.filter(low.contains("slow") | low.contains("merge")).select("doc_id")
