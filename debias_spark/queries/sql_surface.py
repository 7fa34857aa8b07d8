"""Spark SQL surface keys: parameterized queries, session variables,
EXECUTE IMMEDIATE, SQL scripting, pipe syntax, recursive CTEs, table
functions, SQL UDFs, ANSI try_* arithmetic and conversions, collations,
VARIANT / XML / JSON schema functions, hints, ANALYZE and CACHE TABLE.

The reference has no SQL surface (SURVEY §2.G); north-star extensions per SURVEY §2.H / §8.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debias_spark.catalog import table
from debias_spark.numeric import cents, cents_sql
from debias_spark.registry import register
from debias_spark.session import pinned_confs, temp_views


# Spark 4's dynamic-SQL entry point (string query + USING parameters +
# INTO variable), the remaining parameterization surface after
# sql_parameterized_query and sql_session_variables.

# ---------------------------------------------------------------------------
# X169: EXECUTE IMMEDIATE — dynamic SQL with USING params and INTO variable
# ---------------------------------------------------------------------------
@register(
    "sql_execute_immediate_pack",
    "X169",
    oracle=f"""
    WITH mx AS (SELECT max(o_totalprice) AS m FROM orders)
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           {cents_sql("max(o_totalprice)")} AS max_cents
    FROM orders, mx
    WHERE o_totalprice >= mx.m / 2 AND o_orderpriority <> '5-LOW'
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def sql_execute_immediate_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 EXECUTE IMMEDIATE, all three moving parts in one chain:
    a scalar query executed INTO a session variable (the corpus max), a
    query TEXT held in a string variable, and the text executed with
    positional USING parameters — one derived from the captured variable
    (half the max price), one a literal exclusion.  This is the dynamic-
    SQL entry point report generators use when the query shape itself is
    configuration; sql_parameterized_query covers spark.sql(args=...)
    and sql_session_variables covers named state — this key pins the SQL-
    native string-execution path.

    Catalyst plans the executed text like any static query (the filter
    reaches the scan), so the oracle simply states the equivalent static
    SQL with a scalar subquery for the captured variable.  The text held
    in ``ei_query`` names a catalog view, so the frame is a scoped
    ``temp_views`` view."""
    with temp_views(spark, _ei_orders=table(spark, sf_dir, "orders")):
        spark.sql("DECLARE OR REPLACE VARIABLE ei_max DOUBLE")
        spark.sql("EXECUTE IMMEDIATE 'SELECT max(o_totalprice) FROM _ei_orders' INTO ei_max")
        spark.sql("DECLARE OR REPLACE VARIABLE ei_query STRING")
        spark.sql(
            f"""SET VARIABLE ei_query =
               'SELECT o_orderpriority,
                       count(*) AS n_orders,
                       {cents_sql("max(o_totalprice)")} AS max_cents
                FROM _ei_orders
                WHERE o_totalprice >= ? AND o_orderpriority <> ?
                GROUP BY o_orderpriority ORDER BY o_orderpriority'"""
        )
        return spark.sql("EXECUTE IMMEDIATE ei_query USING (ei_max / 2, '5-LOW')")


@register(
    "sql_unpivot_wide_to_long",
    "X93",
    oracle="""
    WITH w AS MATERIALIZED (
        SELECT l_returnflag,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_price,
               CAST(count(*) AS DOUBLE) AS n_rows
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM w
    UNION ALL
    SELECT l_returnflag, 'sum_price' AS measure, sum_price AS value FROM w
    UNION ALL
    SELECT l_returnflag, 'n_rows' AS measure, n_rows AS value FROM w
    """,
)
def sql_unpivot_wide_to_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT: reshape a wide per-flag aggregate into (key, measure, value)
    long form — the metric-table normalization every BI export runs.  Spark's
    native ``DataFrame.unpivot`` (the SQL ``UNPIVOT`` clause / ``stack``) is
    a zero-shuffle projection: each input row expands to one row per measure
    in-place, so the only shuffle in the plan is the upstream aggregate.

    The oracle restates the reshape as the classic UNION ALL spelling —
    identical semantics, so the hash proves column->row transposition,
    measure naming, and value typing all at once.

    Scale shape: aggregate shrinks lineitem to |flags| rows; the unpivot
    triples a 3-row frame.  At 100 TB nothing changes — unpivot is always a
    map-side expansion of whatever frame it is given."""
    li = table(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        (F.round(F.sum("l_quantity"), 2) + 0.0).alias("sum_qty"),
        (F.round(F.sum("l_extendedprice"), 2) + 0.0).alias("sum_price"),
        F.count("*").cast("double").alias("n_rows"),
    )
    return wide.unpivot(
        ["l_returnflag"], ["sum_qty", "sum_price", "n_rows"], "measure", "value"
    )


@register(
    "sql_offset_fetch_page",
    "X94",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderpriority,
           round(o_totalprice, 2) AS total_price
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 50 OFFSET 100
    """,
)
def sql_offset_fetch_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OFFSET/FETCH pagination: page 3 (rows 101-150) of orders by price
    descending.  The sort carries o_orderkey as the tiebreak so the page
    window is a deterministic set — without a total order, OFFSET is
    engine-defined and unhashable.

    Spark's ``offset`` + ``limit`` compose into a single global-sort plan:
    a TakeOrderedAndProject-style top-(offset+fetch) that keeps only 150
    rows per partition before the final merge — no full sort materializes.

    Scale shape: top-k with k = offset+fetch stays tiny relative to data;
    deep pagination (offset in the millions) would switch to keyset
    pagination (WHERE price < last_seen), same plan family."""
    orders = table(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .offset(100)
        .limit(50)
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderpriority",
            (F.round("o_totalprice", 2) + 0.0).alias("total_price"),
        )
    )


@register(
    "sql_cube_grouping_id",
    "X99",
    oracle=f"""
    SELECT coalesce(o_orderpriority, '(all)') AS priority,
           coalesce(o_orderstatus, '(all)') AS status,
           CAST(GROUPING(o_orderpriority, o_orderstatus) AS INTEGER) AS gid,
           count(*) AS n_orders,
           CAST(sum({cents_sql("o_totalprice")}) AS BIGINT)
               AS revenue_cents
    FROM orders
    GROUP BY CUBE (o_orderpriority, o_orderstatus)
    """,
)
def sql_cube_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (priority, status) with grouping_id: all four grouping
    sets — (both), (priority), (status), (grand total) — in one pass,
    with gid disambiguating real NULL groups from subtotal rows (none here,
    but the coalesce to '(all)' relies on gid for reversibility).

    Scale shape: Spark expands each input row once per grouping set
    (Expand: 4x rows) then runs ONE map-side-combined aggregate — same
    plan family as ROLLUP (H12) and strictly cheaper than 4 separate
    aggregates re-scanning the table.  At 100 TB with many sets the
    alternative is re-aggregating the finest set, which Catalyst's
    partial-aggregate pushdown effectively gives for free here."""
    orders = table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderpriority", "o_orderstatus")
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.count("*").alias("n_orders"),
            F.sum(cents(F.col("o_totalprice"))).alias("revenue_cents"),
        )
        .select(
            F.coalesce("o_orderpriority", F.lit("(all)")).alias("priority"),
            F.coalesce("o_orderstatus", F.lit("(all)")).alias("status"),
            "gid",
            "n_orders",
            "revenue_cents",
        )
    )


@register(
    "sql_variant_json_path",
    "X101",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           count(CAST(json_extract(props, '$.k') AS BIGINT)) AS n_with_k,
           CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
               AS k_sum,
           CAST(max(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
               AS k_max
    FROM events
    GROUP BY event_type
    """,
)
def sql_variant_json_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT (Spark 4's shredded semi-structured type): parse the JSON
    props column ONCE into the binary VARIANT encoding, then extract
    typed paths with variant_get — versus get_json_object, which
    re-parses the string per path per row.  The aggregate over the
    extracted field hash-matches DuckDB's json_extract.

    Why VARIANT at 100 TB: semi-structured columns dominate event lakes;
    the binary encoding makes path access O(field) instead of O(doc
    re-parse), and the parse cost is paid once per row for ALL paths (a
    writer would shred it to storage once).  The plan stays one scan +
    one map-side-combined aggregate — the parse is a projection."""
    ev = table(spark, sf_dir, "events")
    k = F.expr("variant_get(parse_json(props), '$.k', 'bigint')")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.count(k).alias("n_with_k"),
        F.sum(k).alias("k_sum"),
        F.max(k).alias("k_max"),
    )


@register(
    "sql_session_variables",
    "X102",
    oracle=f"""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           CAST(sum({cents_sql("o_totalprice")}) AS BIGINT)
               AS revenue_cents
    FROM orders
    WHERE o_totalprice >= 150000.0 AND o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """,
)
def sql_session_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL session variables (Spark 4 DECLARE / SET VARIABLE): thresholds
    live as typed session state and queries reference them by name — the
    SQL-native way to parameterize dashboards and scheduled reports
    without string-pasting literals.

    Catalyst folds variable references to literals at analysis time, so
    pushdown and partition pruning see a constant — the plan is identical
    to the hand-written literal query (the oracle states the literals
    directly, proving exactly that)."""
    spark.sql("DECLARE OR REPLACE VARIABLE min_price DOUBLE DEFAULT 0.0")
    spark.sql("DECLARE OR REPLACE VARIABLE want_status STRING DEFAULT 'F'")
    spark.sql("SET VARIABLE min_price = 150000.0")
    return spark.sql(
        f"""
        SELECT o_orderpriority,
               count(*) AS n_orders,
               CAST(sum({cents_sql("o_totalprice")}) AS BIGINT)
                   AS revenue_cents
        FROM {{orders}}
        WHERE o_totalprice >= min_price AND o_orderstatus = want_status
        GROUP BY o_orderpriority
        """,
        orders=table(spark, sf_dir, "orders"),
    )


@register(
    "sql_parameterized_query",
    "X103",
    oracle=f"""
    SELECT c.c_mktsegment,
           count(*) AS n_orders,
           CAST(sum({cents_sql("o.o_totalprice")}) AS BIGINT)
               AS revenue_cents
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    WHERE o.o_orderpriority LIKE '1%' AND o.o_totalprice >= 50000.0
    GROUP BY c.c_mktsegment
    """,
)
def sql_parameterized_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL (spark.sql(..., args=...)): named :params bind
    as typed literals at parse time — the injection-safe templating
    surface client applications should use instead of string formatting.
    Parameters fold to constants, so filter pushdown is identical to the
    literal query (which is exactly what the oracle states).

    The query itself is a broadcast dim join (customer per segment) over
    a pushed-down orders filter — one shuffle for the aggregate."""
    return spark.sql(
        f"""
        SELECT c.c_mktsegment,
               count(*) AS n_orders,
               CAST(sum({cents_sql("o.o_totalprice")}) AS BIGINT)
                   AS revenue_cents
        FROM {{orders}} o JOIN {{customer}} c ON c.c_custkey = o.o_custkey
        WHERE o.o_orderpriority LIKE :prio_pattern
          AND o.o_totalprice >= :min_price
        GROUP BY c.c_mktsegment
        """,
        args={"prio_pattern": "1%", "min_price": 50000.0},
        orders=table(spark, sf_dir, "orders"),
        customer=table(spark, sf_dir, "customer"),
    )


@register(
    "sql_try_arithmetic",
    "X106",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           count(CASE WHEN value <> 0 THEN 1 END) AS n_divisible,
           CAST(sum(CASE WHEN value <> 0
                         THEN CAST(round(100.0 / value) AS BIGINT) END)
                AS BIGINT) AS inv_sum,
           count(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT))
               AS n_k_parsed
    FROM events
    GROUP BY event_type
    """,
)
def sql_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe arithmetic: Spark 4 runs ANSI mode by default, so a
    divide-by-zero or overflowing cast ABORTS the job — correct for
    integrity, fatal for a 100 TB batch where a handful of degenerate
    rows are guaranteed.  try_divide / try_cast return NULL for the
    failing ROW and keep the job alive: the quarantine-don't-crash
    discipline (the CSV PERMISSIVE key Z33 is the source-level twin).
    The oracle restates the semantics with guarded CASE arithmetic.

    Plan: pure map-side projections feeding one aggregate — try_* has no
    plan cost over unchecked arithmetic; it only changes the error path."""
    ev = table(spark, sf_dir, "events")
    inv = F.try_divide(F.lit(100.0), F.col("value"))
    k = F.expr("try_cast(get_json_object(props, '$.k') AS BIGINT)")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.count(inv).alias("n_divisible"),
        F.sum(F.round(inv).cast("long")).alias("inv_sum"),
        F.count(k).alias("n_k_parsed"),
    )


@register(
    "sql_collation_lcase",
    "X107",
    oracle="""
    SELECT lower(o_orderpriority) AS priority_ci,
           count(*) AS n_orders,
           count(DISTINCT o_orderstatus) AS n_statuses
    FROM orders
    GROUP BY lower(o_orderpriority)
    """,
)
def sql_collation_lcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collation-aware grouping (Spark 4 COLLATE): group on a
    UTF8_LCASE-collated column — equality, GROUP BY, and joins become
    case-insensitive WITHOUT materializing a lowercased copy per
    comparison site.  The oracle restates it as lower() grouping, which
    is the semantics contract; the collated column additionally keeps its
    original bytes for display (projected back to lower here so both
    engines emit identical group labels).

    At 100 TB collation beats lower()-everywhere because the rule is
    declared ONCE on the column type: every join/group/comparison
    inherits it, and the optimizer can still prune and push down on the
    collated column instead of an opaque expression."""
    orders = table(spark, sf_dir, "orders")
    collated = orders.select(
        F.expr("o_orderpriority COLLATE UTF8_LCASE").alias("pri_ci"),
        "o_orderstatus",
    )
    return collated.groupBy("pri_ci").agg(
        F.count("*").alias("n_orders"),
        F.countDistinct("o_orderstatus").alias("n_statuses"),
    ).select(
        F.lower("pri_ci").alias("priority_ci"), "n_orders", "n_statuses"
    )


_BOM_SQL = f"""
WITH RECURSIVE bom AS (
    SELECT p_partkey AS pk, 0 AS depth,
           {cents_sql("p_retailprice")} AS cents
    FROM {{part}} WHERE p_partkey = 1
    UNION ALL
    SELECT c.p_partkey AS pk, b.depth + 1 AS depth,
           {cents_sql("c.p_retailprice")} AS cents
    FROM bom b
    CROSS JOIN (VALUES (0), (1)) AS x(i)
    JOIN {{part}} c ON c.p_partkey = b.pk * 2 + x.i
)
SELECT CAST(depth AS INTEGER) AS depth, count(*) AS n_parts,
       CAST(sum(cents) AS BIGINT) AS cents_total
FROM bom GROUP BY depth
"""


@register("sql_recursive_bom_rollup", "X109", oracle=_BOM_SQL.format(part="part"))
def sql_recursive_bom_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATIVE recursive CTE (Spark 4 WITH RECURSIVE): a BOM-style
    hierarchy walk — part keys form an implicit binary tree (children
    2k, 2k+1), the recursion explodes the assembly from root 1 and rolls
    up per-depth component counts and cost.  The ONE SQL template runs
    in BOTH engines, only the part relation substituted (the oracle
    names the table, Spark passes the frame): dialect-portable
    recursion, no DataFrame-loop translation at all.

    Spark executes the recursion as iterated joins against the
    accumulated working set — the engine-managed version of the manual
    checkpoint loops this repo uses for cyclic graphs (X96 BFS,
    PageRank).  Spark's recursion supports UNION ALL only, so it is the
    right tool exactly when the traversal is ACYCLIC (each node reached
    once — trees, DAG levels); cyclic reachability still needs the
    manual loop with its anti-join dedup, which is why both spellings
    exist in this repo.

    Scale shape: each recursion level is one EQUI-join of the frontier
    against the dimension — the child keys expand on the frontier side
    via a 2-row VALUES cross join so the join condition stays
    hash-joinable (the `= pk*2 OR = pk*2+1` disjunction planned a
    nested-loop scan of part PER LEVEL: 5.0s -> 2.3s at sf0.1, and at
    100 TB a per-level dimension re-scan would be fatal).  Residual cost
    is per-level iteration overhead, same profile as the manual BFS;
    depth is bounded at log2(|part|)."""
    return spark.sql(_BOM_SQL, part=table(spark, sf_dir, "part"))


@register(
    "sql_listagg_ordered",
    "X111",
    oracle="""
    WITH d AS (
        SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
    )
    SELECT o_orderstatus,
           string_agg(o_orderpriority, '|' ORDER BY o_orderpriority)
               AS priorities,
           count(*) AS n_priorities
    FROM d GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def sql_listagg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (Spark 4 LISTAGG ... WITHIN GROUP):
    distinct order priorities per status, sorted then joined — only the
    explicit ORDER BY makes the concatenation deterministic, which is
    the whole point of the 4.0 surface over collect_list (whose order is
    partition-arrival-defined and therefore never oracle-safe).

    The (status, priority) pairs are pre-distincted, then a plain
    ordered LISTAGG + count(*) aggregates them.  Two reasons: the
    pre-distinct avoids the multi-DISTINCT Expand replication through
    the shuffle (the repo's agg_approx_distinct discipline), and this
    Spark build's RewriteDistinctAggregates cannot plan
    `listagg(DISTINCT) WITHIN GROUP` NEXT TO another distinct aggregate
    at all (AttributeReference->SortOrder ClassCastException) — the
    pre-distinct spelling sidesteps the bug without giving up the
    ordered-LISTAGG surface.

    Scale shape: the distinct pair set is bounded by the two domains
    (3 x 5 values), so both aggregation states are tiny regardless of
    fact rows — map-side combine does all the work."""
    orders = table(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT o_orderstatus,
               listagg(o_orderpriority, '|')
                   WITHIN GROUP (ORDER BY o_orderpriority) AS priorities,
               count(*) AS n_priorities
        FROM {pairs}
        GROUP BY o_orderstatus ORDER BY o_orderstatus
        """,
        pairs=orders.select("o_orderstatus", "o_orderpriority").distinct(),
    )


@register(
    "sql_filtered_aggregates",
    "X112",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           count(*) FILTER (WHERE o_orderstatus = 'F') AS n_fulfilled,
           count(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                FILTER (WHERE o_orderstatus = 'F') AS BIGINT)
               AS fulfilled_cents
    FROM orders
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def sql_filtered_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate FILTER clauses: one pass over orders producing total,
    per-status conditional counts, and a conditional sum — the idiomatic
    replacement for N self-joins or sum(CASE WHEN) pyramids, and Catalyst
    plans ALL the filtered aggregates into a single hash-aggregate scan
    (one shuffle, no matter how many FILTER branches).

    Cents convert per row via floor(x*100+0.5) before summing (the
    repo's cross-engine rounding doctrine)."""
    return spark.sql(
        """
        SELECT o_orderpriority,
               count(*) AS n_orders,
               count(*) FILTER (WHERE o_orderstatus = 'F') AS n_fulfilled,
               count(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
               sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                   FILTER (WHERE o_orderstatus = 'F') AS fulfilled_cents
        FROM {orders}
        GROUP BY o_orderpriority ORDER BY o_orderpriority
        """,
        orders=table(spark, sf_dir, "orders"),
    )


@register(
    "sql_group_order_by_all",
    "X113",
    oracle="""
    SELECT n_name, o_orderpriority, count(*) AS n,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents
    FROM orders
    JOIN customer ON c_custkey = o_custkey
    JOIN nation ON n_nationkey = c_nationkey
    GROUP BY ALL ORDER BY ALL
    """,
)
def sql_group_order_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL / ORDER BY ALL (Spark 4): grouping keys inferred from
    the non-aggregate select items, ordering over the full output row —
    the analyst-ergonomics surface, resolved at analysis time into the
    identical plan the explicit spelling produces (same broadcast dim
    joins + one fact shuffle; nothing dynamic survives into execution)."""
    return spark.sql(
        """
        SELECT n_name, o_orderpriority, count(*) AS n,
               sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents
        FROM {orders}
        JOIN {customer} ON c_custkey = o_custkey
        JOIN {nation} ON n_nationkey = c_nationkey
        GROUP BY ALL ORDER BY ALL
        """,
        orders=table(spark, sf_dir, "orders"),
        customer=table(spark, sf_dir, "customer"),
        nation=table(spark, sf_dir, "nation"),
    )


@register(
    "sql_grouping_sets_explicit",
    "X118",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag) AS g_flag,
           GROUPING(l_linestatus) AS g_status,
           count(*) AS n,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
    ORDER BY g_flag, g_status, l_returnflag NULLS FIRST,
             l_linestatus NULLS FIRST
    """,
)
def sql_grouping_sets_explicit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the asymmetric aggregation lattice CUBE
    and ROLLUP can't spell: detail cells, a status-only margin (skipping
    the flag-only margin a ROLLUP would force), and the grand total, each
    tagged with GROUPING() flags so consumers can tell a real NULL from a
    margin row.

    Scale shape: Catalyst plans one Expand (3 replicas, one per set)
    into a single hash aggregate — one shuffle for the whole lattice
    instead of one scan per margin UNION ALL'd together."""
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               GROUPING(l_returnflag) AS g_flag,
               GROUPING(l_linestatus) AS g_status,
               count(*) AS n,
               sum(CAST(l_quantity AS BIGINT)) AS total_qty
        FROM {li}
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
        ORDER BY g_flag, g_status, l_returnflag NULLS FIRST,
                 l_linestatus NULLS FIRST
        """,
        li=table(spark, sf_dir, "lineitem"),
    )


@register(
    "sql_union_by_name_evolution",
    "X120",
    oracle="""
    WITH u AS (
        SELECT o_orderkey, o_orderstatus,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
               NULL AS odate
        FROM orders WHERE o_orderkey % 2 = 0
        UNION ALL BY NAME
        SELECT o_orderstatus, o_orderkey,
               CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS odate
        FROM orders WHERE o_orderkey % 2 = 1
    )
    SELECT o_orderstatus,
           count(*) AS n_rows,
           count(cents) AS n_with_cents,
           count(odate) AS n_with_date,
           CAST(sum(cents) AS BIGINT) AS total_cents
    FROM u GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def sql_union_by_name_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution union: two generations of the same feed — one
    carrying cents, a newer one carrying the date instead, columns in a
    DIFFERENT order — combine by COLUMN NAME with missing columns
    null-filled (unionByName allowMissingColumns / UNION ALL BY NAME).
    Positional UNION would silently misalign the reordered columns;
    by-name union is the only safe spelling when upstream schemas drift,
    which at 100 TB they always eventually do.

    The rollup counts per-generation column presence, proving both the
    alignment and the null-fill survived."""
    orders = table(spark, sf_dir, "orders")
    gen1 = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    gen2 = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderstatus",
        "o_orderkey",
        F.col("o_orderdate").cast("date").cast("string").alias("odate"),
    )
    u = gen1.unionByName(gen2, allowMissingColumns=True)
    return (
        u.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_rows"),
            F.count("cents").alias("n_with_cents"),
            F.count("odate").alias("n_with_date"),
            F.sum("cents").alias("total_cents"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "sql_identifier_dynamic_table",
    "X121",
    oracle="""
    SELECT lang, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY lang ORDER BY lang
    """,
)
def sql_identifier_dynamic_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDENTIFIER() dynamic object naming (Spark 4): the table name
    arrives as a BOUND PARAMETER, not string-spliced SQL — the
    injection-safe spelling for multi-tenant / per-partition pipelines
    that route one query template over many tables.  The identifier is
    resolved at analysis time, so the executed plan is identical to the
    static spelling (same scan, same pushdowns) — only the SQL TEXT is
    dynamic, never the plan.  The bound name must resolve in the
    catalog, so the frame is a scoped ``temp_views`` view."""
    with temp_views(spark, _x121_docs=table(spark, sf_dir, "documents")):
        return spark.sql(
            """
            SELECT lang, count(*) AS n_docs,
                   sum(n_chars) AS total_chars
            FROM IDENTIFIER(:t) GROUP BY lang ORDER BY lang
            """,
            args={"t": "_x121_docs"},
        )


@register(
    "sql_timestamp_arith_pack",
    "X124",
    oracle="""
    SELECT event_id,
           strftime(ts + INTERVAL 2 HOUR, '%Y-%m-%d %H:%M:%S') AS plus_2h,
           CAST(date_diff('minute', date_trunc('day', ts), ts) AS BIGINT)
               AS min_into_day,
           CAST(last_day(CAST(ts AS DATE)) AS VARCHAR) AS month_end,
           CAST(quarter(ts) AS INTEGER) AS q,
           CAST(weekofyear(ts) AS INTEGER) AS iso_week
    FROM events WHERE event_id % 25 = 0
    """,
)
def sql_timestamp_arith_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timestamp arithmetic pack: ANSI timestampadd/timestampdiff, month
    boundary (last_day), quarter, and ISO week — the calendar surface a
    reporting layer leans on, spelled once in each engine (Spark
    timestampdiff(MINUTE, ...) == DuckDB date_diff('minute', ...);
    Spark weekofyear is ISO-week like DuckDB's).  Every emitted value is
    a string or integer — no raw temporal types cross the driver-hash
    boundary (repo discipline).

    Plan shape: pure projection over a pushed sampling filter — one
    scan, no shuffle, whole-stage codegen end to end."""
    return spark.sql(
        """
        SELECT event_id,
               date_format(timestampadd(HOUR, 2, ts), 'yyyy-MM-dd HH:mm:ss')
                   AS plus_2h,
               CAST(timestampdiff(MINUTE, date_trunc('day', ts), ts) AS BIGINT)
                   AS min_into_day,
               CAST(last_day(CAST(ts AS DATE)) AS STRING) AS month_end,
               CAST(quarter(ts) AS INT) AS q,
               CAST(weekofyear(ts) AS INT) AS iso_week
        FROM {events} WHERE event_id % 25 = 0
        """,
        events=table(spark, sf_dir, "events"),
    )


@register(
    "sql_pivot_multi_agg",
    "X128",
    oracle="""
    SELECT l_linestatus,
           CAST(sum(CASE WHEN l_returnflag = 'A' THEN CAST(l_quantity AS BIGINT) END) AS BIGINT) AS a_qty,
           CAST(count(CASE WHEN l_returnflag = 'A' THEN 1 END) AS BIGINT) AS a_n,
           CAST(sum(CASE WHEN l_returnflag = 'N' THEN CAST(l_quantity AS BIGINT) END) AS BIGINT) AS n_qty,
           CAST(count(CASE WHEN l_returnflag = 'N' THEN 1 END) AS BIGINT) AS n_n,
           CAST(sum(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS BIGINT) END) AS BIGINT) AS r_qty,
           CAST(count(CASE WHEN l_returnflag = 'R' THEN 1 END) AS BIGINT) AS r_n
    FROM lineitem
    GROUP BY l_linestatus
    ORDER BY l_linestatus
    """,
)
def sql_pivot_multi_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT with MULTIPLE aggregates per cell (sum + count for each
    return flag) — the one-pass wide report the single-agg pivot key
    (X43 pivot_status_by_flag) can't express without a self-join.  The
    oracle states the same grid as conditional aggregates, proving
    Spark's pivot column naming (<label>_<agg alias>) carries exactly
    the conditional-aggregation semantics.  Counts are coalesced to 0:
    PIVOT emits NULL for an empty (status, flag) cell while count(CASE)
    emits 0 — real TPC-H data has exactly such cells ('O' implies 'N'),
    this generator merely happens to populate all six.

    Plan shape: PIVOT compiles to ONE hash aggregate whose expressions
    are the flag-conditional pairs — single shuffle on l_linestatus, no
    join, no second pass; at 100 TB this is the same partial+final
    aggregate as any groupBy."""
    return spark.sql(
        """
        SELECT l_linestatus, a_qty,
               coalesce(a_n, 0) AS a_n, n_qty,
               coalesce(n_n, 0) AS n_n, r_qty,
               coalesce(r_n, 0) AS r_n
        FROM (
            SELECT l_linestatus, l_returnflag,
                   CAST(l_quantity AS BIGINT) AS q
            FROM {lineitem}
        )
        PIVOT (
            sum(q) AS qty, count(q) AS n
            FOR l_returnflag IN ('A' AS a, 'N' AS n, 'R' AS r)
        )
        ORDER BY l_linestatus
        """,
        lineitem=table(spark, sf_dir, "lineitem"),
    )


@register(
    "sql_scalar_udf_create",
    "X129",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(sum({cents_sql("o_totalprice * (1 - 0.04)")})
                AS BIGINT) AS disc_cents,
           count(*) AS n
    FROM orders
    WHERE o_orderstatus = 'O'
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def sql_scalar_udf_create(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-defined scalar function (Spark 4 `CREATE FUNCTION ... RETURN
    <expr>`): a discount-to-cents helper declared ONCE in the catalog and
    reused by name — the governed-semantics surface a warehouse uses so
    every report computes "discounted cents" identically.  The body is a
    pure SQL expression, so unlike a Python UDF it inlines into the plan
    at analysis time: full codegen, pushdown-transparent, zero
    serialization boundary.  The oracle inlines the same expression by
    hand — a hash match proves declaration-by-name changed nothing.

    Plan shape: identical to writing the expression inline — one scan
    with the status filter pushed, one partial+final aggregate."""
    spark.sql(
        f"""
        CREATE OR REPLACE TEMPORARY FUNCTION disc_cents_x129(p DOUBLE)
        RETURNS BIGINT
        RETURN {cents_sql("p * (1 - 0.04)")}
        """
    )
    return spark.sql(
        """
        SELECT o_orderpriority,
               CAST(sum(disc_cents_x129(o_totalprice)) AS BIGINT) AS disc_cents,
               count(*) AS n
        FROM {orders}
        WHERE o_orderstatus = 'O'
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """,
        orders=table(spark, sf_dir, "orders"),
    )


@register(
    "sql_lateral_column_alias",
    "X132",
    oracle=f"""
    SELECT o_orderkey,
           {cents_sql("o_totalprice")} AS cents,
           {cents_sql("o_totalprice")}
               - {cents_sql("o_totalprice")} % 100 AS whole,
           ({cents_sql("o_totalprice")}
               - {cents_sql("o_totalprice")} % 100) // 100
               AS dollars
    FROM orders
    WHERE o_orderkey % 50 = 0
    ORDER BY o_orderkey
    """,
)
def sql_lateral_column_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral column aliases (Spark 3.4+): a SELECT item referencing an
    alias defined EARLIER in the same SELECT list (cents -> whole ->
    dollars), which ANSI SQL forbids and warehouses emulate with nested
    subqueries — the readability surface that keeps derived-column
    chains flat.  The oracle expands each alias by hand (DuckDB resolves
    lateral aliases too, but the expansion proves the CHAIN semantics:
    each reference sees the alias's full expression, not a stale
    column).

    Plan shape: pure single-stage projection — alias resolution happens
    at analysis time, the physical plan is identical to the expanded
    spelling (one codegen stage over the pushed sampling filter)."""
    return spark.sql(
        f"""
        SELECT o_orderkey,
               {cents_sql("o_totalprice")} AS cents,
               cents - cents % 100 AS whole,
               whole div 100 AS dollars
        FROM {{orders}}
        WHERE o_orderkey % 50 = 0
        ORDER BY o_orderkey
        """,
        orders=table(spark, sf_dir, "orders"),
    )


@register(
    "sql_multicol_in_subquery",
    "X133",
    oracle=f"""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           CAST(sum({cents_sql("o_totalprice")}) AS BIGINT)
               AS rev_cents
    FROM orders
    WHERE o_orderstatus = 'O' AND EXISTS (
        SELECT 1 FROM customer
        WHERE c_custkey = o_custkey AND c_acctbal > 5000
    )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def sql_multicol_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column IN subquery — `(a, b) IN (SELECT x, y ...)` — the
    row-value-constructor membership test: open orders of high-balance
    customers, stated as a tuple IN instead of the equivalent semi-join.
    Spark plans it AS a left-semi join on the tuple, which is the point:
    the surface is declarative membership, the physical strategy is the
    engine's (broadcast semi-join here, the dim being small).  DuckDB
    has no multi-column IN, so the oracle states the equivalent
    correlated EXISTS (identical semantics here — neither column is
    nullable).

    Plan shape: broadcast left-semi join on (custkey, status) -> one
    partial+final aggregate; the NULL-tuple subtleties of IN (vs EXISTS)
    are engine-handled identically because neither join column is
    nullable in this data."""
    return spark.sql(
        f"""
        SELECT o_orderpriority,
               count(*) AS n_orders,
               CAST(sum({cents_sql("o_totalprice")}) AS BIGINT)
                   AS rev_cents
        FROM {{orders}}
        WHERE (o_custkey, o_orderstatus) IN (
            SELECT c_custkey, 'O' FROM {{customer}} WHERE c_acctbal > 5000
        )
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """,
        orders=table(spark, sf_dir, "orders"),
        customer=table(spark, sf_dir, "customer"),
    )


@register(
    "sql_xpath_extract_pack",
    "X134",
    oracle=f"""
    SELECT o_orderkey,
           o_orderpriority AS prio,
           {cents_sql("o_totalprice")} AS cents,
           CAST(1 AS BIGINT) AS n_items
    FROM orders WHERE o_orderkey % 100 = 0
    ORDER BY o_orderkey
    """,
)
def sql_xpath_extract_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XPath extraction functions (xpath_string / xpath_long /
    xpath(...) node counting) over in-row XML payloads — the surface for
    mining XML columns WITHOUT a full xml-source roundtrip (Z37 covers
    that): each order is serialized to an XML fragment with
    format_string, then every field is recovered via xpath and the
    oracle states the expected values straight from the source columns —
    a hash match proves the extraction path (parser + XPath evaluator)
    inverts the serialization exactly.

    Plan shape: single codegen projection stage over the pushed sampling
    filter — xpath functions evaluate per row JVM-side, no shuffle
    before the final ORDER BY."""
    return spark.sql(
        f"""
        WITH xml AS (
            SELECT o_orderkey,
                   format_string(
                       '<order key="%d"><prio>%s</prio><cents>%d</cents><item/></order>',
                       o_orderkey, o_orderpriority,
                       {cents_sql("o_totalprice")}) AS doc
            FROM {{orders}} WHERE o_orderkey % 100 = 0
        )
        SELECT o_orderkey,
               xpath_string(doc, '/order/prio') AS prio,
               xpath_long(doc, '/order/cents') AS cents,
               CAST(size(xpath(doc, '/order/item/text() | /order/item'))
                    AS BIGINT) AS n_items
        FROM xml
        ORDER BY o_orderkey
        """,
        orders=table(spark, sf_dir, "orders"),
    )


@register(
    "sql_url_parse_pack",
    "X135",
    oracle="""
    SELECT o_orderkey,
           'shop.example.com' AS host,
           '/' || lower(o_orderstatus) || '/checkout' AS path,
           CAST(o_custkey AS VARCHAR) AS cust_param
    FROM orders WHERE o_orderkey % 100 = 0
    ORDER BY o_orderkey
    """,
)
def sql_url_parse_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL parsing functions (parse_url HOST / PATH / QUERY-with-key)
    over constructed clickstream-style URLs — the log-sessionization
    surface that splits a landing URL into join keys without regexes.
    Each order builds a URL from its own fields; the oracle restates the
    expected host/path/param straight from those fields, so the hash
    proves parse_url inverts the construction for every row.

    Plan shape: one codegen projection over the pushed sampling filter;
    parse_url is JVM-side (java.net.URI), no Python boundary."""
    return spark.sql(
        """
        WITH u AS (
            SELECT o_orderkey,
                   format_string(
                       'https://shop.example.com/%s/checkout?cust=%d&state=x',
                       lower(o_orderstatus), o_custkey) AS url
            FROM {orders} WHERE o_orderkey % 100 = 0
        )
        SELECT o_orderkey,
               parse_url(url, 'HOST') AS host,
               parse_url(url, 'PATH') AS path,
               parse_url(url, 'QUERY', 'cust') AS cust_param
        FROM u
        ORDER BY o_orderkey
        """,
        orders=table(spark, sf_dir, "orders"),
    )


@register(
    "sql_scripting_budget_loop",
    "X136",
    oracle="""
    WITH RECURSIVE monthly AS MATERIALIZED (
        SELECT month(o_orderdate) AS mth, count(*) AS c
        FROM orders WHERE year(o_orderdate) = 1997 GROUP BY 1
    ),
    rec AS (
        -- JOIN, not a correlated scalar subquery: DuckDB re-executions of a
        -- correlated subquery against a MATERIALIZED CTE inside a recursive
        -- CTE are nondeterministic (measured: correct on the connection's
        -- first execution, silently NULL on repeats)
        SELECT 0 AS m, CAST(1000000 AS BIGINT) AS bal
        UNION ALL
        SELECT r.m + 1,
               r.bal + (r.bal * COALESCE(mo.c, 0)) // 1000000
        FROM rec r LEFT JOIN monthly mo ON mo.mth = r.m + 1
        WHERE r.m < 12
    )
    SELECT CAST(m AS INT) AS month, bal FROM rec WHERE m >= 1 ORDER BY month
    """,
)
def sql_scripting_budget_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scripting (Spark 4 BEGIN/DECLARE/WHILE): a sequential
    compounding fold — each month's balance depends on the PREVIOUS
    month's balance times that month's 1997 order count — that no single
    window/aggregate expresses, run as a procedural script whose final
    SELECT is the returned relation.  The DuckDB oracle states the same
    fold as a WITH RECURSIVE chain; all arithmetic is bigint (DIV /
    //), so the trajectory is bit-stable on both engines.

    Plan shape: the ONE table scan happens up front building the 12-row
    monthly temp view; each loop iteration's scalar subquery touches
    only that tiny aggregate (12 rows), never the base table — at
    100 TB the procedural layer iterates over aggregate state, not
    data.  The loop's string accumulator is driver-side scripting
    state, exploded back to rows only at the final SELECT."""
    # the script executes eagerly inside spark.sql(), so the pin ends
    # with it and later keys run under driver-plain confs
    with pinned_confs(spark, {"spark.sql.scripting.enabled": "true"}):
        return spark.sql(
        """
        BEGIN
          DECLARE m INT DEFAULT 1;
          DECLARE bal BIGINT DEFAULT 1000000;
          DECLARE acc STRING DEFAULT '';
          CREATE OR REPLACE TEMPORARY VIEW _x136_monthly AS
            SELECT month(o_orderdate) AS mth, count(*) AS c
            FROM {orders} WHERE year(o_orderdate) = 1997 GROUP BY 1;
          -- temp views are lazy plans: without this, every iteration's
          -- scalar subquery would re-scan orders; the cache pins the
          -- 12-row aggregate after the first materialization
          CACHE TABLE _x136_monthly;
          WHILE m <= 12 DO
            -- the month-count lookup folds into the bal update (no
            -- separate cnt variable): 12 fewer statements, though the
            -- interleaved A/B shows only ~5% (3.52 -> 3.36s min-of-4):
            -- the floor is the 12 scalar-subquery jobs + per-statement
            -- scripting overhead, not the variable bookkeeping
            SET bal = bal + bal * (SELECT coalesce(any_value(c), 0)
                                   FROM _x136_monthly WHERE mth = m)
                            DIV 1000000;
            SET acc = acc || m || ':' || bal || ',';
            SET m = m + 1;
          END WHILE;
          UNCACHE TABLE _x136_monthly;
          DROP VIEW _x136_monthly;
          SELECT CAST(split(pair, ':')[0] AS INT) AS month,
                 CAST(split(pair, ':')[1] AS BIGINT) AS bal
          FROM (SELECT explode(filter(split(acc, ','), x -> x != '')) AS pair)
          ORDER BY month;
        END
        """,
            orders=table(spark, sf_dir, "orders"),
        )


@register(
    "sql_transpose_metrics",
    "X137",
    oracle="""
    SELECT * FROM (
        SELECT 'n_rows' AS key,
               CAST(count(CASE WHEN l_linestatus = 'F' THEN 1 END) AS BIGINT) AS "F",
               CAST(count(CASE WHEN l_linestatus = 'O' THEN 1 END) AS BIGINT) AS "O"
        FROM lineitem
        UNION ALL
        SELECT 'sum_qty',
               CAST(sum(CASE WHEN l_linestatus = 'F'
                             THEN CAST(l_quantity AS BIGINT) END) AS BIGINT),
               CAST(sum(CASE WHEN l_linestatus = 'O'
                             THEN CAST(l_quantity AS BIGINT) END) AS BIGINT)
        FROM lineitem
        UNION ALL
        SELECT 'n_parts',
               CAST(count(DISTINCT CASE WHEN l_linestatus = 'F'
                                        THEN l_partkey END) AS BIGINT),
               CAST(count(DISTINCT CASE WHEN l_linestatus = 'O'
                                        THEN l_partkey END) AS BIGINT)
        FROM lineitem
    ) ORDER BY key
    """,
)
def sql_transpose_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame.transpose() (Spark 4): flip a per-linestatus metric
    report so metrics become rows and the status VALUES become columns —
    the "narrow report" orientation analysts read.  The index column's
    values ('F'/'O') become column names; all metrics are bigint so the
    least-common-type rule keeps the transposed cells bigint.  The
    oracle restates the grid as conditional aggregates, one UNION row
    per metric.

    Plan shape: the expensive part is the ordinary 2-group aggregate
    (one shuffle, map-side combined); transpose itself runs on the
    2-row aggregate OUTPUT — a constant-size driver-side flip, never on
    row-proportional data.  At 100 TB nothing changes: transpose cost
    is O(statuses x metrics), not O(rows)."""
    agg = (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_linestatus")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
            F.countDistinct("l_partkey").alias("n_parts"),
        )
        .orderBy("l_linestatus")
    )
    return agg.transpose().orderBy("key")


@register(
    "sql_pipe_syntax_chain",
    "X140",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum({cents_sql("l_extendedprice")}) AS BIGINT) AS rev_cents
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    GROUP BY l_returnflag, l_linestatus
    HAVING count(*) > 10
    ORDER BY l_returnflag, l_linestatus
    """,
)
def sql_pipe_syntax_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4 `|>`): the same filter -> derive ->
    aggregate -> filter -> sort report spelled as a linear pipeline —
    each `|>` stage consumes the previous relation, so the query reads
    in execution order (the FROM-first style ETL authors reach for).
    The oracle is the identical standard-SQL statement; Catalyst lowers
    both to the same logical plan, so this key pins that the pipe
    surface is pure syntax with no semantic drift (the post-AGGREGATE
    WHERE must behave exactly like HAVING).

    Plan shape: identical to the classic form — pushed filter into the
    scan, map-side-combined two-key aggregate, 4-row sort."""
    return spark.sql(
        f"""
        FROM {{li}}
        |> WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |> EXTEND {cents_sql("l_extendedprice")} AS cents
        |> AGGREGATE count(*) AS n_items, sum(cents) AS rev_cents
           GROUP BY l_returnflag, l_linestatus
        |> WHERE n_items > 10
        |> ORDER BY l_returnflag, l_linestatus
        """,
        li=table(spark, sf_dir, "lineitem"),
    )


@register(
    "sql_recursive_cte_reach",
    "X141",
    oracle="""
    WITH RECURSIVE edges AS MATERIALIZED (
        SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        FROM (SELECT * FROM lineitem WHERE l_partkey < 2500) a
        JOIN (SELECT * FROM lineitem WHERE l_partkey < 2500) b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    ), seed AS (
        SELECT min(l_partkey) AS p FROM lineitem WHERE l_partkey < 2500
    ),
    reach AS (
        SELECT p AS node, 0 AS hop FROM seed
        UNION ALL
        -- JOIN the helper CTE, never correlate into it (DuckDB
        -- re-execution nondeterminism doctrine, see X136)
        SELECT e.dst, r.hop + 1
        FROM reach r JOIN edges e ON e.src = r.node
        WHERE r.hop < 2
    )
    SELECT CAST(hop AS INT) AS hop,
           CAST(count(DISTINCT node) AS BIGINT) AS n_nodes,
           CAST(min(node) AS BIGINT) AS min_node,
           CAST(max(node) AS BIGINT) AS max_node,
           CAST(sum(DISTINCT node) AS BIGINT) AS sum_nodes
    FROM (SELECT node, min(hop) AS hop FROM reach GROUP BY node)
    GROUP BY 1 ORDER BY 1
    """,
)
def sql_recursive_cte_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native WITH RECURSIVE (Spark 4): breadth-first reach over the
    co-purchase graph (parts sharing an order) from the smallest part
    key, depth-capped at 2 — the declarative twin of the iterative
    checkpointed BFS in `graph_shortest_hops`, here left entirely to
    the engine's recursion operator.  The graph is probe-bounded to
    l_partkey < 2500 (the dedup_ngram_jaccard demo discipline: this key
    proves the RECURSION surface; unbounded-graph BFS at scale is
    graph_shortest_hops' checkpointed loop — the recursion operator
    reshuffles the full edge list per step, measured).  Spark's
    recursive CTEs support
    UNION ALL only (UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE, measured), so
    the walk enumerates PATHS and min-hop/distinct aggregation after
    the recursion recovers BFS levels; the depth cap bounds path count
    at degree^2.  Summarized per hop level (count / min / max / sum of
    distinct nodes) so the result stays small while still pinning the
    exact frontier membership.

    Scale shape: the edge list builds from one self-join on l_orderkey
    (shuffle on the order key, the co-purchase standard) and is
    localCheckpointed BEFORE the recursion — a CTE referenced inside
    the recursive term is re-planned per iteration, so without the pin
    the join+DISTINCT re-runs every step (measured 5.5s -> 1.4s at
    sf0.1, the loop-invariant-frame discipline from PageRank/k-core).
    Each recursion step is then one hash join of the current frontier
    against the pinned edges.  The depth cap is the safety rail —
    unbounded UNION ALL recursion on a cyclic graph would enumerate
    exponentially many paths, so the cap (not the engine) is what
    makes this plan sane, exactly as at 100 TB."""
    li = (
        table(spark, sf_dir, "lineitem")
        .where(F.col("l_partkey") < 2500)
        .select("l_orderkey", "l_partkey")
    )
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") != F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
        )
        .distinct()
        .localCheckpoint()
    )
    return spark.sql(
        """
        WITH RECURSIVE seed AS (
            SELECT min(l_partkey) AS p FROM {li}
        ),
        reach AS (
            SELECT p AS node, 0 AS hop FROM seed
            UNION ALL
            SELECT e.dst, r.hop + 1
            FROM reach r JOIN {edges} e ON e.src = r.node
            WHERE r.hop < 2
        )
        SELECT CAST(hop AS INT) AS hop,
               count(DISTINCT node) AS n_nodes,
               min(node) AS min_node,
               max(node) AS max_node,
               sum(DISTINCT node) AS sum_nodes
        FROM (SELECT node, min(hop) AS hop FROM reach GROUP BY node)
        GROUP BY 1 ORDER BY 1
        """,
        li=li,
        edges=edges,
    )


@register(
    "sql_table_function_lateral",
    "X142",
    oracle=f"""
    SELECT CAST(year(o_orderdate) AS INT) AS yr,
           CAST(month(o_orderdate) AS INT) AS mth,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum({cents_sql("o_totalprice")}) AS BIGINT)
               AS rev_cents
    FROM orders
    WHERE year(o_orderdate) IN (1996, 1997, 1998)
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def sql_table_function_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL table function (Spark 4 CREATE FUNCTION ... RETURNS TABLE)
    invoked LATERALLY: a `monthly_report(yr)` relation-valued function
    whose body aggregates orders for the given year, called once per
    row of a driving VALUES list — the parameterized-report idiom (the
    catalog object a warehouse team ships instead of a view per year).
    The oracle is the equivalent single GROUP BY over the year set,
    pinning that the lateral decorrelation neither drops nor
    duplicates groups.

    Plan shape: Catalyst inlines the function body and decorrelates the
    lateral join into one aggregate over a year-filtered scan — the
    function boundary is free at runtime; N report invocations do NOT
    plan N scans."""
    # the function body names the view, so the view outlives the
    # CREATE; the function goes with it, so it never names a dropped view
    with temp_views(spark, _x142_orders=table(spark, sf_dir, "orders")):
        try:
            spark.sql(
                f"""
                CREATE OR REPLACE TEMPORARY FUNCTION monthly_report_x142(yr INT)
                RETURNS TABLE(mth INT, n_orders BIGINT, rev_cents BIGINT)
                RETURN SELECT CAST(month(o_orderdate) AS INT),
                              count(*),
                              sum({cents_sql("o_totalprice")})
                       FROM _x142_orders
                       WHERE year(o_orderdate) = yr
                       GROUP BY 1
                """
            )
            return spark.sql(
                """
                SELECT y.yr, f.mth, f.n_orders, f.rev_cents
                FROM (VALUES (1996), (1997), (1998)) AS y(yr),
                     LATERAL monthly_report_x142(y.yr) f
                ORDER BY y.yr, f.mth
                """
            )
        finally:
            spark.sql("DROP TEMPORARY FUNCTION IF EXISTS monthly_report_x142")


@register(
    "sql_map_funcs_pack",
    "X145",
    oracle="""
    WITH d AS (
        SELECT event_type,
               CAST(date_trunc('day', ts) AS DATE) AS day,
               count(*) AS n
        FROM events GROUP BY 1, 2
    ), thr AS (
        SELECT event_type, CAST(avg(n) AS DOUBLE) AS avg_n
        FROM d GROUP BY 1
    )
    SELECT d.event_type,
           strftime(d.day, '%Y-%m-%d') AS day,
           CAST(d.n AS BIGINT) AS n,
           CAST(d.n * 2 AS BIGINT) AS doubled,
           CAST(d.n * 3 AS BIGINT) AS zipped,
           d.n > thr.avg_n AS above_avg
    FROM d JOIN thr ON thr.event_type = d.event_type
    ORDER BY d.event_type, day
    """,
)
def sql_map_funcs_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map higher-order functions end-to-end: daily counts roll up into
    one map<date,count> PER SERIES (map_from_entries), flow through
    transform_values (x2), map_zip_with (m + doubled = x3), and
    map_filter (above the series mean), then explode back to rows.  The
    map column is the state a per-entity feature store keeps; this key
    pins that the build/transform/zip/filter/explode cycle loses
    nothing (the relational oracle replays the same values with no maps
    at all).

    Scale shape: maps are bounded per series (<= 31 days); the build is
    one grouped collect, everything after is per-row expression work —
    no extra shuffle.  map_zip_with/transform_values run interpreted
    (expression rule 1), acceptable on dimension-sized frames like this;
    a fact-sized map column would flatten to rows first."""
    ev = table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(F.count("*").alias("n"))
    m = d.groupBy("event_type").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("day", "n")))
        ).alias("m1"),
        F.avg("n").alias("avg_n"),
    )
    m = (
        m.withColumn("m2", F.transform_values("m1", lambda _, v: v * 2))
        .withColumn("m3", F.map_zip_with("m1", "m2", lambda _, a, b: a + b))
        # the filter member of the HOF family, for real: keep only the
        # above-mean days, then membership in m4 IS the above_avg flag
        .withColumn(
            "m4", F.map_filter("m1", lambda _, v: v > F.col("avg_n"))
        )
    )
    ex = m.select(
        "event_type",
        "avg_n",
        "m4",
        F.explode(
            F.map_zip_with(
                "m1",
                F.map_zip_with("m2", "m3", lambda _, b, c: F.struct(b.alias("b"), c.alias("c"))),
                lambda _, a, bc: F.struct(
                    a.alias("n"), bc["b"].alias("doubled"), bc["c"].alias("zipped")
                ),
            )
        ).alias("day", "v"),
    )
    return ex.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("v.n").cast("long").alias("n"),
        F.col("v.doubled").cast("long").alias("doubled"),
        F.col("v.zipped").cast("long").alias("zipped"),
        F.map_contains_key("m4", F.col("day")).alias("above_avg"),
    ).orderBy("event_type", "day")


# The reference's only error handling is a broad try/except around each
# API call (call-debias.py:149-160, reimplemented as F2's in-UDF retry);
# the SQL-level try_* family is the declarative counterpart (X106
# try_arithmetic covers add/subtract/multiply overflow; this pack covers
# the CONVERSION side).
@register(
    "sql_try_conversion_pack",
    "X146",
    oracle=f"""
    WITH t AS (
        SELECT o_orderpriority AS prio,
               TRY_CAST(o_orderpriority AS INTEGER) AS whole_cast,
               TRY_CAST(string_split(o_orderpriority, '-')[1] AS INTEGER)
                   AS prio_num,
               string_split(o_orderpriority, '-')[5] AS elem5,
               CASE WHEN o_custkey % 3 = 0 THEN NULL
                    ELSE {cents_sql("o_totalprice")}
                         // (o_custkey % 3) END AS div_cents,
               TRY_CAST(o_orderstatus AS TIMESTAMP) AS bad_ts
        FROM orders
    )
    SELECT prio,
           count(*) AS n,
           CAST(count(whole_cast) AS BIGINT) AS n_whole_cast_ok,
           CAST(max(prio_num) AS INTEGER) AS prio_num,
           CAST(count(elem5) AS BIGINT) AS n_elem5_ok,
           CAST(count(*) - count(div_cents) AS BIGINT) AS n_div_null,
           CAST(sum(div_cents) AS BIGINT) AS div_checksum_cents,
           CAST(count(bad_ts) AS BIGINT) AS n_ts_parsed
    FROM t GROUP BY prio ORDER BY prio
    """,
)
def sql_try_conversion_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The try_* conversion family in one pass over orders: try_cast of a
    non-numeric string (NULL, never an ANSI error), try_cast of its
    numeric prefix (succeeds), try_element_at past an array's end
    (NULL), try_divide by a cycling zero divisor (NULL exactly where the
    divisor is 0 — integer-cents division so the quotient is exact), and
    try_to_timestamp of a non-timestamp (NULL).  Under ANSI mode (this
    engine's default) every one of these would otherwise throw, so the
    pack pins the error-safe surface an ingest pipeline needs for dirty
    data.  The oracle spells each as DuckDB's TRY_CAST / native
    out-of-bounds-NULL / CASE-guarded division — equal semantics, no
    try_* needed there.

    Scale shape: pure projection + one grouped aggregate."""
    o = table(spark, sf_dir, "orders")
    arr = F.split("o_orderpriority", "-")
    div = F.try_divide(
        cents(F.col("o_totalprice")),
        F.col("o_custkey") % 3,
    )
    t = o.select(
        F.col("o_orderpriority").alias("prio"),
        F.try_to_number("o_orderpriority", F.lit("99999")).alias("whole_cast"),
        F.try_element_at(arr, F.lit(1)).cast("int").alias("prio_num"),
        F.try_element_at(arr, F.lit(5)).alias("elem5"),
        F.floor(div).cast("long").alias("div_cents"),
        F.try_to_timestamp("o_orderstatus").alias("bad_ts"),
    )
    return (
        t.groupBy("prio")
        .agg(
            F.count("*").alias("n"),
            F.count("whole_cast").cast("long").alias("n_whole_cast_ok"),
            F.max("prio_num").cast("int").alias("prio_num"),
            F.count("elem5").cast("long").alias("n_elem5_ok"),
            (F.count("*") - F.count("div_cents")).cast("long").alias("n_div_null"),
            F.sum("div_cents").cast("long").alias("div_checksum_cents"),
            F.count("bad_ts").cast("long").alias("n_ts_parsed"),
        )
        .orderBy("prio")
    )


@register(
    "sql_analyze_table_stats",
    "X149",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(o_custkey) AS BIGINT) AS min_custkey,
           CAST(max(o_custkey) AS BIGINT) AS max_custkey,
           CAST(0 AS BIGINT) AS n_nulls,
           TRUE AS ndv_in_band
    FROM orders
    """,
)
def sql_analyze_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE TABLE statistics — the CBO's food: orders lands in a
    managed table, ANALYZE computes table row count and per-column
    min/max/null-count/NDV, and the key emits what the CATALOG now
    claims (parsed from DESCRIBE EXTENDED), hash-checked against the
    data itself.  Row count, min, max and null count must be EXACT;
    NDV is an HLL++ estimate by design (rsd=0.05), so it gets the banded
    treatment (within ±15% = 3 sigma of the exact distinct count -> TRUE)
    like every other sketch in this repo.  At 100 TB these stats are what make the
    cost-based optimizer pick broadcast sides and join orders without
    scanning; a catalog that lies here mis-plans every query after it.

    Scale: ANALYZE is one scan with mergeable sketches; DESCRIBE reads
    the catalog only."""
    o = table(spark, sf_dir, "orders")
    # applicationId-suffixed table name: concurrent sessions never clash
    tname = "x149_orders_" + spark.sparkContext.applicationId.replace("-", "_")
    spark.sql(f"DROP TABLE IF EXISTS {tname}")
    o.select("o_orderkey", "o_custkey").write.saveAsTable(tname)
    try:
        spark.sql(f"ANALYZE TABLE {tname} COMPUTE STATISTICS")
        spark.sql(f"ANALYZE TABLE {tname} COMPUTE STATISTICS FOR COLUMNS o_custkey")
        desc = {
            r.info_name: r.info_value
            for r in spark.sql(f"DESCRIBE EXTENDED {tname} o_custkey").collect()
        }
        tstats = [
            r.data_type
            for r in spark.sql(f"DESCRIBE TABLE EXTENDED {tname}").collect()
            if r.col_name == "Statistics"
        ][0]
        n_rows = int(tstats.split(",")[1].strip().split(" ")[0])
        ndv = int(desc["distinct_count"])
        exact = o.agg(F.countDistinct("o_custkey")).collect()[0][0]
        rows = [
            (
                n_rows,
                int(desc["min"]),
                int(desc["max"]),
                int(desc["num_nulls"]),
                # ANALYZE's NDV is HyperLogLog++ at rsd=0.05 (1-sigma 5%);
                # band at 3 sigma so the deterministic estimate for THIS
                # data always lands inside while a broken sketch cannot
                abs(ndv - exact) <= 0.15 * exact,
            )
        ]
        return spark.createDataFrame(
            rows,
            "n_rows long, min_custkey long, max_custkey long, n_nulls long, "
            "ndv_in_band boolean",
        )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tname}")


@register(
    "sql_cache_table_roundtrip",
    "X150",
    oracle=f"""
    SELECT o_orderstatus,
           count(*) AS n,
           CAST(sum({cents_sql("o_totalprice")}) AS BIGINT)
               AS rev_cents
    FROM orders GROUP BY 1 ORDER BY 1
    """,
)
def sql_cache_table_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CACHE TABLE round-trip: an eager SQL cache over a projection, a
    query planned against the InMemoryRelation (asserted in the wave
    test), then UNCACHE in a finally so no columnar cache leaks into
    later keys in the driver's window.  Spark's SQL cache is the
    iterate-over-it-many-times lever (rule: eager CACHE TABLE pins a
    small aggregate a procedural loop re-reads; temp views are lazy
    plans that re-scan) — this key pins the statement surface itself.

    Scale: caching materializes the projection once per executor in
    columnar form; at 100 TB you cache AGGREGATES, never raw facts —
    which is exactly what the docstring contract of X136 does."""
    # the cached view reads its source on every scan, so the source view
    # must outlive the statement that creates it
    with temp_views(spark, _x150_orders=table(spark, sf_dir, "orders")):
        spark.sql(
            "CACHE TABLE _x150_cached AS "
            "SELECT o_orderstatus, o_totalprice FROM _x150_orders"
        )
        try:
            out = spark.sql(
                f"""
                SELECT o_orderstatus,
                       count(*) AS n,
                       CAST(sum({cents_sql("o_totalprice")}) AS BIGINT)
                           AS rev_cents
                FROM _x150_cached GROUP BY 1 ORDER BY 1
                """
            ).localCheckpoint(eager=True)
        finally:
            spark.sql("UNCACHE TABLE IF EXISTS _x150_cached")
            # UNCACHE drops the cache, not the temp view CACHE TABLE AS created
            spark.catalog.dropTempView("_x150_cached")
    return out


_AGG_SQL = f"""
    SELECT '{{tag}}' AS variant,
           count(*) AS n,
           CAST(sum({cents_sql("o_totalprice")}) AS BIGINT)
               AS rev_cents
    FROM {{rel}}
"""


@register(
    "sql_partitioning_hints_pack",
    "X152",
    oracle=f"""
    SELECT v.variant,
           (SELECT count(*) FROM orders) AS n,
           (SELECT CAST(sum({cents_sql("o_totalprice")})
                   AS BIGINT) FROM orders) AS rev_cents
    FROM (SELECT unnest(['coalesce', 'rebalance', 'repartition']) AS variant) v
    ORDER BY v.variant
    """,
)
def sql_partitioning_hints_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The partitioning-hint surface: the same aggregate computed through
    /*+ REPARTITION(16, o_custkey) */ (hash exchange on a column),
    /*+ REBALANCE */ (AQE-sized round-robin rebalance) and
    /*+ COALESCE(4) */ (partition merge, no shuffle) — results must be
    IDENTICAL, because partitioning hints may redistribute rows but never
    change them.  These hints are the query-text lever for the same knobs
    repartition()/coalesce() expose in the DataFrame API; at 100 TB
    REBALANCE before a wide write is the standard small-files fix.
    Exchange node evidence (hashpartitioning(16) / REBALANCE round-robin
    / Coalesce) is asserted in tests/test_round7_wave6.py."""
    orders = table(spark, sf_dir, "orders")
    frames = [
        spark.sql(
            _AGG_SQL.format(
                tag=tag,
                rel=f"(SELECT /*+ {hint} */ * FROM {{orders}})",
            ),
            orders=orders,
        )
        for tag, hint in (
            ("coalesce", "COALESCE(4)"),
            ("rebalance", "REBALANCE"),
            ("repartition", "REPARTITION(16, o_custkey)"),
        )
    ]
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.orderBy("variant")


# A TIME-type pack was probed and dropped: Spark 4.1.2 parses TIME literals
# but gates every constructor/cast/extractor — make_time, to_time,
# CAST(ts AS TIME), hour(TIME) all raise UNSUPPORTED_TIME_TYPE — so the type
# is unusable on real columns in this build; recorded as an availability
# probe in tests/test_availability_probes.py.
@register(
    "sql_from_xml_nested",
    "X155",
    oracle=f"""
    SELECT o_orderpriority AS prio,
           count(*) AS n,
           CAST(sum(o_custkey) AS BIGINT) AS cust_sum,
           CAST(sum({cents_sql("o_totalprice")}) AS BIGINT)
               AS cents_sum,
           CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_f
    FROM orders GROUP BY 1 ORDER BY 1
    """,
)
def sql_from_xml_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native XML parsing (from_xml, Spark 4): each order serializes to a
    nested XML document (two levels of nested elements), and from_xml
    with an explicit schema recovers typed columns — the inverse pair of
    Z44's XML sink (which roundtrips through FILES; this key pins the
    COLUMN-level parse a pipeline uses on XML payloads embedded in a
    feed).  The grouped aggregate over the PARSED values hash-matches
    the source table, so types and nesting both survived.

    Scale shape: serialize + parse are per-row codegen'd expressions; the
    aggregate is the only shuffle.  fan_out (r14): the serialize+parse
    chain is the whole cost and runs above a single-row-group scan —
    spread the base rows first (no join ever reshuffles this key, so the
    r13 relational-cohort counterexample does not apply)."""
    from debias_spark.operators.skew import fan_out

    o = fan_out(table(spark, sf_dir, "orders"))
    xml = F.concat(
        F.lit("<order><k>"),
        F.col("o_custkey"),
        F.lit("</k><p>"),
        cents(F.col("o_totalprice")),
        F.lit("</p><meta><prio>"),
        F.col("o_orderpriority"),
        F.lit("</prio><flags><f>"),
        (F.col("o_orderstatus") == "F").cast("int"),
        F.lit("</f></flags></meta></order>"),
    )
    parsed = o.select(xml.alias("x")).select(
        F.from_xml(
            "x",
            "k BIGINT, p BIGINT, meta STRUCT<prio: STRING, "
            "flags: STRUCT<f: INT>>",
        ).alias("v")
    )
    return (
        parsed.groupBy(F.col("v.meta.prio").alias("prio"))
        .agg(
            F.count("*").alias("n"),
            F.sum("v.k").cast("long").alias("cust_sum"),
            F.sum("v.p").cast("long").alias("cents_sum"),
            F.sum("v.meta.flags.f").cast("long").alias("n_f"),
        )
        .orderBy("prio")
    )


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


@register(
    "sql_lateral_topn_nations",
    "X81",
    oracle="""
    SELECT r.r_name, l.n_name, l.n_customers
    FROM region r, LATERAL (
        SELECT n.n_name, count(*) AS n_customers
        FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
        WHERE n.n_regionkey = r.r_regionkey
        GROUP BY n.n_name
        ORDER BY n_customers DESC, n_name LIMIT 2
    ) l
    """,
)
def sql_lateral_topn_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery (SQL:1999 lateral derived table, Spark
    4 syntax): per region, the top-2 nations by customer count — the
    near-identical SQL text runs in DuckDB as the oracle, demonstrating
    the engine's ANSI lateral surface rather than a DataFrame spelling
    (the window row_number equivalent lives in H6/X11 keys).  Catalyst
    decorrelates the lateral into a join + per-group top-k under the
    hood, so the declarative form costs nothing over the manual one.

    Engine-knowledge note from this round: Spark 4.1's WITH RECURSIVE
    supports UNION ALL only (UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE), so
    cyclic transitive closure is NOT yet expressible natively — which is
    why dedup_clusters keeps its driver-iterated pointer-jumping loop
    with the recursion living in the DuckDB oracle instead."""
    return spark.sql(
        """
        SELECT r.r_name, l.n_name, l.n_customers
        FROM {region} r, LATERAL (
            SELECT n.n_name, count(*) AS n_customers
            FROM {nation} n JOIN {customer} c ON c.c_nationkey = n.n_nationkey
            WHERE n.n_regionkey = r.r_regionkey
            GROUP BY n.n_name
            ORDER BY n_customers DESC, n_name LIMIT 2
        ) l
        """,
        region=table(spark, sf_dir, "region"),
        nation=table(spark, sf_dir, "nation"),
        customer=table(spark, sf_dir, "customer"),
    )
