"""Round-7 block, relational wave (X128-X130): multi-aggregate PIVOT,
SQL-defined scalar functions (CREATE FUNCTION ... RETURN — the Spark 4
catalog-function surface), and the Observation API (streaming-safe
accumulator metrics collected off the SAME pass that produces the data).

No reference citation: the reference (SirHooke/debias-batch-processor)
has no SQL layer; north-star extensions per SURVEY §2.H / §8.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from debias_spark.catalog import table
from debias_spark.numeric import cents, cents_sql
from debias_spark.registry import register


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
    "diag_observe_metrics",
    "X130",
    oracle=f"""
    SELECT count(*) AS n_rows,
           CAST(sum({cents_sql("o_totalprice")}) AS BIGINT)
               AS total_cents,
           count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_fulfilled
    FROM orders
    """,
)
def diag_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Observation API as a first-class diagnostic operator: metrics
    (row count, integer-cents revenue, fulfilled count) accumulate on the
    SAME pass that scans the data — df.observe() rides the existing job
    as accumulators instead of scheduling a second aggregate scan, which
    is how a production pipeline audits every batch for free (and the
    only metrics mechanism that also works mid-stream in Structured
    Streaming).  The observed values are re-emitted as a 1-row DataFrame
    and hash-checked against a plain SQL aggregate of the source.

    Integer discipline: the observed sum is over pre-rounded BIGINT
    cents — accumulator merge order never touches a float.

    Plan shape: one scan + CollectMetrics node (no extra shuffle); the
    1-row re-emit is driver-side by definition of the API."""
    orders = table(spark, sf_dir, "orders")
    obs = Observation("x130")
    observed = orders.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(cents(F.col("o_totalprice"))).alias("total_cents"),
        F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("n_fulfilled"),
    )
    observed.write.format("noop").mode("overwrite").save()  # one real pass
    m = obs.get
    return spark.createDataFrame(
        [(int(m["n_rows"]), int(m["total_cents"]), int(m["n_fulfilled"]))],
        "n_rows bigint, total_cents bigint, n_fulfilled bigint",
    )


@register(
    "window_interval_range_frame",
    "X131",
    oracle="""
    SELECT event_id, user_id,
           CAST(count(*) OVER w AS BIGINT) AS n_24h,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) OVER w AS BIGINT)
               AS cents_24h
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 24 HOURS PRECEDING AND CURRENT ROW)
    QUALIFY event_id % 20 = 0
    ORDER BY event_id
    """,
)
def window_interval_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-INTERVAL range frame: per-user trailing-24-hour event count
    and centi-value sum, computed by the engine's RANGE frame over the
    event-time ORDER BY — the rolling-window rate limiter / velocity
    feature spelled as one window instead of a self-join (the numeric
    RANGE sibling is X44; this is the temporal one).  Peers at the same
    timestamp aggregate together on both engines by RANGE semantics.

    Output samples every 20th event so the checked frame stays bounded
    while every user's full history still feeds the frames.

    Plan shape: ONE shuffle on user_id + per-partition sort — the frame
    is a sliding pointer over the sorted run, no replication, no
    self-join; at 100 TB this is the canonical "velocity feature"
    plan."""
    return spark.sql(
        """
        SELECT event_id, user_id, n_24h, cents_24h
        FROM (
            SELECT event_id, user_id,
                   CAST(count(*) OVER w AS BIGINT) AS n_24h,
                   CAST(sum(CAST(floor(value * 100) AS BIGINT)) OVER w
                        AS BIGINT) AS cents_24h
            FROM {events}
            WINDOW w AS (PARTITION BY user_id ORDER BY ts
                         RANGE BETWEEN INTERVAL 24 HOURS PRECEDING
                               AND CURRENT ROW)
        )
        WHERE event_id % 20 = 0
        ORDER BY event_id
        """,
        events=table(spark, sf_dir, "events"),
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
