"""Second wave of relational coverage: TPC-H-style analytical queries,
pivot, exact percentiles, argmin/argmax aggregates, richer string/array
function packs, deterministic sampling, and subquery shapes.

Same determinism rules as everywhere: doubles rounded identically in both
engines, every top-k tiebroken on a unique key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debias_spark.catalog import table
from debias_spark.numeric import floor_eps, floor_eps_sql
from debias_spark.registry import register


@register(
    "tpch_q1_pricing_summary",
    "X1",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           {floor_eps_sql("avg(l_quantity)", 10000)} AS avg_qty_e4,
           {floor_eps_sql("avg(l_extendedprice)", 10000)} AS avg_price_e4,
           {floor_eps_sql("avg(l_discount)", 10000)} AS avg_disc_e4,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-01'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: the canonical pricing-summary scan-agg.  One pass,
    one shuffle of 4-ish partial rows per partition — the benchmark query
    whole-stage codegen was built for."""
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.expr("TIMESTAMP_NTZ '1998-09-01 00:00:00'")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            floor_eps(F.avg("l_quantity"), 10000).cast("long").alias("avg_qty_e4"),
            floor_eps(F.avg("l_extendedprice"), 10000).cast("long").alias("avg_price_e4"),
            floor_eps(F.avg("l_discount"), 10000).cast("long").alias("avg_disc_e4"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "tpch_q6_forecast_revenue",
    "X2",
    oracle="""
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
           count(*) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.03 AND 0.09
      AND l_quantity < 24
    """,
)
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: highly selective multi-predicate filter + global agg.
    Every predicate is scan-pushable; the aggregate is a single scalar."""
    li = table(spark, sf_dir, "lineitem")
    f = li.filter(
        (F.col("l_shipdate") >= F.expr("TIMESTAMP_NTZ '1996-01-01 00:00:00'"))
        & (F.col("l_shipdate") < F.expr("TIMESTAMP_NTZ '1997-01-01 00:00:00'"))
        & (F.col("l_discount") >= 0.03)
        & (F.col("l_discount") <= 0.09)
        & (F.col("l_quantity") < 24)
    )
    return f.agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"),
        F.count("*").alias("n"),
    )


@register(
    "pivot_status_by_flag",
    "X3",
    oracle="""
    SELECT l_returnflag,
           count(*) FILTER (l_linestatus = 'O') AS status_o,
           count(*) FILTER (l_linestatus = 'F') AS status_f,
           round(sum(l_quantity) FILTER (l_linestatus = 'O'), 2) AS qty_o,
           round(sum(l_quantity) FILTER (l_linestatus = 'F'), 2) AS qty_f
    FROM lineitem GROUP BY l_returnflag
    """,
)
def pivot_status_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long->wide): one output column set per pivoted value.  Values
    are enumerated explicitly so the plan is a single pass (no extra job to
    discover the domain); the oracle states it as FILTERed aggregates."""
    li = table(spark, sf_dir, "lineitem")
    p = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 2).alias("qty"))
    )
    return p.select(
        "l_returnflag",
        F.coalesce("O_n", F.lit(0)).alias("status_o"),
        F.coalesce("F_n", F.lit(0)).alias("status_f"),
        F.col("O_qty").alias("qty_o"),
        F.col("F_qty").alias("qty_f"),
    )


@register(
    "agg_percentiles",
    "X4",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.5), 4) AS p50_qty,
           round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
           round(min(l_quantity), 2) AS min_qty,
           round(max(l_quantity), 2) AS max_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (median, p90) per group.  The scale
    path for loose requirements is approx_percentile (t-digest sketch,
    mergeable); the exact form is kept because it oracle-matches."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.5)"), 4).alias("p50_qty"),
        F.round(F.expr("percentile(l_extendedprice, 0.9)"), 4).alias("p90_price"),
        F.round(F.min("l_quantity"), 2).alias("min_qty"),
        F.round(F.max("l_quantity"), 2).alias("max_qty"),
    )


@register("agg_percentiles_approx", "X4b", oracle=None)  # rows-only: sketch
def agg_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (KLL/GK sketch): the 100 TB percentile path paired
    with agg_percentiles — mergeable bounded-state sketches with map-side
    partials, instead of the exact form's per-group value-count map.  The
    sketch estimate is engine-specific, so no SQL oracle (rows-only);
    tests assert each estimate's RANK error against the exact distribution
    (the sketch's actual contract: accuracy=100 ~ 1% rank error)."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr("approx_percentile(l_quantity, 0.5, 100)").alias("p50_qty"),
        F.expr("approx_percentile(l_extendedprice, 0.9, 100)").alias("p90_price"),
    )


@register(
    "agg_argmin_argmax",
    "X5",
    oracle="""
    SELECT l_returnflag,
           arg_min(l_orderkey, l_quantity + l_orderkey * 1e-9) AS cheapest_order,
           arg_max(l_orderkey, l_quantity + l_orderkey * 1e-9) AS biggest_order
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_argmin_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min_by/max_by (argmin/argmax) aggregates.  The ordering value is
    perturbed by a unique-key epsilon so the arg is deterministic despite
    duplicate quantities (SURVEY §7 tiebreak discipline)."""
    li = table(spark, sf_dir, "lineitem")
    key = F.col("l_quantity") + F.col("l_orderkey") * 1e-9
    return li.groupBy("l_returnflag").agg(
        F.min_by("l_orderkey", key).alias("cheapest_order"),
        F.max_by("l_orderkey", key).alias("biggest_order"),
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
    "sample_stratified_deterministic",
    "X8",
    oracle="""
    SELECT lang, count(*) AS n_sampled
    FROM documents WHERE doc_id % 10 < 2
    GROUP BY lang
    """,
)
def sample_stratified_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~20% sample by key arithmetic (id mod 10 < 2), counted
    per stratum.  At 100 TB use hash(id) instead of raw mod when ids are
    clustered; df.sample/sampleBy are the nondeterministic-native variants
    (seeded, but partition-layout dependent — unusable for oracle tests)."""
    docs = table(spark, sf_dir, "documents")
    return (
        docs.filter(F.col("doc_id") % 10 < 2)
        .groupBy("lang")
        .agg(F.count("*").alias("n_sampled"))
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


@register(
    "window_range_frame",
    "X11",
    oracle="""
    SELECT l_orderkey, l_linenumber, round(l_quantity, 2) AS qty,
           round(sum(l_extendedprice) OVER (
               PARTITION BY l_returnflag ORDER BY l_quantity
               RANGE BETWEEN 5 PRECEDING AND CURRENT ROW), 2) AS range_sum
    FROM lineitem
    """,
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-based window frame (value range, peers included): sum of
    prices over quantities within 5 units below the current row's.  Range
    frames are tiebreak-free by construction — the frame depends only on
    the ORDER BY value, so duplicate keys cannot destabilize it.

    Scale rewrite (round 4): the naive ``sum().over(range_window)`` plan
    partitions by ``l_returnflag`` — 3 distinct values, so 3 tasks sort
    the ENTIRE table regardless of cluster size.  Because a RANGE frame
    depends only on the ORDER BY *value*, the frame sum is a function of
    (flag, quantity) alone: partial-aggregate per (flag, qty) with full
    parallelism and map-side combine, run the range window over the tiny
    ≤ 3×50-row aggregate, and broadcast-join the result back.  Identical
    output (A/B'd exceptAll-empty at sf0.1), but the 100 TB plan has no
    global sort and no 3-task bottleneck."""
    from pyspark.sql.window import Window

    li = table(spark, sf_dir, "lineitem")
    per_qty = li.groupBy("l_returnflag", "l_quantity").agg(
        F.sum("l_extendedprice").alias("qty_price")
    )
    w = (
        Window.partitionBy("l_returnflag")
        .orderBy("l_quantity")
        .rangeBetween(-5, Window.currentRow)
    )
    ranged = per_qty.select(
        "l_returnflag",
        "l_quantity",
        F.sum("qty_price").over(w).alias("range_sum_raw"),
    )
    return li.join(F.broadcast(ranged), ["l_returnflag", "l_quantity"]).select(
        "l_orderkey",
        "l_linenumber",
        F.round("l_quantity", 2).alias("qty"),
        F.round("range_sum_raw", 2).alias("range_sum"),
    )


@register(
    "grouping_cube",
    "X10",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           count(*) AS n,
           round(sum(l_extendedprice), 2) AS sum_price
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def grouping_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all 4 grouping-set combinations in one shuffle."""
    li = table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
    )
