"""Python UDF keys: Arrow scalar UDFs, pandas iterator UDFs,
applyInPandas / applyInArrow, cogrouped as-of attribution, and Python
UDTFs (Spark 4's user-defined table functions).

The reference has no extension surface; north-star extensions per SURVEY §2.H.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from debias_spark.catalog import table
from debias_spark.numeric import cents, cents_sql
from debias_spark.registry import register


@register(
    "udtf_text_bigram_stats",
    "Y36",
    oracle="""
    WITH t AS MATERIALIZED (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\\s+'),
                           x -> x <> '') AS toks
        FROM documents WHERE doc_id % 20 = 0
    )
    SELECT doc_id,
           CAST(greatest(len(toks) - 1, 0) AS BIGINT) AS n_bigrams,
           CAST(len(list_distinct(list_transform(
                   range(1, greatest(len(toks), 1)),
                   i -> toks[i] || ' ' || toks[i + 1]))) AS BIGINT)
               AS n_distinct_bigrams
    FROM t
    """,
)
def udtf_text_bigram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4): a user-defined TABLE function expands each
    document into its bigram stream via LATERAL join, then a groupBy
    collapses to per-doc bigram counts — value-oracled against DuckDB's
    list-based replay of the same tokenization.

    This key exists for the EXTENSIBILITY surface, not throughput: UDTFs
    run row-at-a-time Python (the slow path — the repo's own scalable
    bigram spelling is the JVM zip_with-of-slices fold in
    operators/dedup.py word_shingles, A/B'd in SCALE.md), which is why
    the input is the bounded doc_id % 20 slice.  The right use of a UDTF
    at 100 TB is logic that genuinely needs imperative row-to-rows
    expansion (recursive descent parsing, stateful tag matching) — and
    then Arrow-batched mapInPandas remains the faster escape hatch when
    the output schema is fixed."""
    from pyspark.sql.functions import udtf

    import re

    @udtf(returnType="doc_id: bigint, bigram: string")
    class BigramEmit:
        # Explicit ASCII whitespace class, NOT str.split(): Python's bare
        # split() breaks on Unicode whitespace (NBSP, \x85, \x1c-\x1f)
        # while the DuckDB oracle's RE2 '\s+' and the repo's other text
        # keys' Java-regex '\s+' are ASCII-only — a non-ASCII-space doc
        # would silently split the hash.
        _WS = re.compile(r"[ \t\n\r\f\v]+")

        def eval(self, doc_id: int, text: str):
            toks = [t for t in self._WS.split(text.lower()) if t]
            for a, b in zip(toks, toks[1:]):
                yield doc_id, f"{a} {b}"

    spark.udtf.register("_bigram_emit", BigramEmit)
    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 20 == 0)
    expanded = spark.sql(
        """
        SELECT d.doc_id, b.bigram
        FROM {docs} d, LATERAL _bigram_emit(d.doc_id, d.text) b
        """,
        docs=docs,
    )
    counts = expanded.groupBy(expanded["doc_id"]).agg(
        F.count("*").alias("n_bigrams"),
        F.countDistinct("bigram").alias("n_distinct_bigrams"),
    )
    # docs shorter than two tokens emit no bigram rows — restore them with
    # zero counts so the result covers the whole slice like the oracle
    return (
        docs.select("doc_id")
        .join(counts, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            F.coalesce("n_distinct_bigrams", F.lit(0)).alias("n_distinct_bigrams"),
        )
    )


# The UDF keys exist to pin down the Arrow path with value-level oracles:
# a scalar pandas_udf and a grouped applyInPandas, each stated in SQL on
# the oracle side — proving the Python boundary does not change results,
# only execution.
@register(
    "pandas_udf_sigmoid",
    "T3",
    oracle="""
    SELECT event_id, round(1.0 / (1.0 + exp(-value)), 6) + 0.0 AS score
    FROM events
    """,
)
def pandas_udf_sigmoid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar Arrow-vectorized pandas_udf (the 10-100x-over-row-at-a-time
    path when Python is unavoidable).  The oracle states the same sigmoid
    in SQL: the Python boundary must not change values."""
    import numpy as np

    @F.pandas_udf(DoubleType())
    def sigmoid(v: pd.Series) -> pd.Series:
        return 1.0 / (1.0 + np.exp(-v))

    ev = table(spark, sf_dir, "events")
    return ev.select(
        "event_id", (F.round(sigmoid("value"), 6) + 0.0).alias("score")
    )


@register(
    "grouped_zscore_applyinpandas",
    "T4",
    oracle="""
    SELECT event_id,
           round((value - avg(value) OVER (PARTITION BY event_type))
                 / stddev_samp(value) OVER (PARTITION BY event_type), 4) + 0.0 AS z
    FROM events
    """,
)
def grouped_zscore_applyinpandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas: per-group z-score normalization in pandas
    (sample stddev, matching stddev_samp).  One shuffle on the group key,
    one Arrow batch per group — the custom-aggregation escape hatch, here
    oracle-checked against the pure-SQL window formulation."""
    ev = table(spark, sf_dir, "events").select("event_id", "event_type", "value")

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf["value"]
        z = (v - v.mean()) / v.std(ddof=1)
        return pd.DataFrame({"event_id": pdf["event_id"], "z": (z.round(4) + 0.0)})

    return ev.groupBy("event_type").applyInPandas(zscore, schema="event_id long, z double")


@register(
    "udtf_tokenize_positions",
    "T6",
    oracle=r"""
    SELECT doc_id, t AS token, CAST(ord - 1 AS INTEGER) AS pos
    FROM (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                  x -> x <> '')) AS t,
               generate_subscripts(list_filter(string_split_regex(lower(text), '\s+'),
                                  x -> x <> ''), 1) AS ord
        FROM documents
    )
    """,
)
def udtf_tokenize_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4 user-defined TABLE function): one input row ->
    N output rows from Python, joined laterally.  Tokenization with
    positions — deliberately equivalent to posexplode(split(...)) so the
    UDTF machinery itself is what the oracle checks."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="token string, pos int")
    class Tokenize:
        def eval(self, text: str):
            for i, t in enumerate((text or "").lower().split()):
                yield t, i

    spark.udtf.register("tokenize_udtf", Tokenize)
    return spark.sql(
        """
        SELECT d.doc_id, t.token, t.pos
        FROM {documents} d, LATERAL tokenize_udtf(d.text) t
        """,
        documents=table(spark, sf_dir, "documents"),
    )


@register(
    "udf_arrow_scalar_pack",
    "T7",
    oracle="""
    SELECT lang,
           CAST(sum(len(list_filter(
               string_split_regex(coalesce(text, ''), '[ \\t\\n\\r\\f\\v]+'),
               t -> t <> ''))) AS BIGINT) AS total_tokens,
           CAST(max(len(list_filter(
               string_split_regex(coalesce(text, ''), '[ \\t\\n\\r\\f\\v]+'),
               t -> t <> ''))) AS BIGINT) AS max_tokens,
           count(*) AS n_docs
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
)
def udf_arrow_scalar_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-OPTIMIZED scalar Python UDF (Spark 3.5+ `useArrow=True`): a
    row-signature Python function whose batches nevertheless cross the
    JVM boundary as Arrow buffers — the migration path for legacy
    `@udf` code that can't be rewritten to a vectorized pandas_udf
    (T5/T6 cover that surface).  Tokenization uses the explicit ASCII
    whitespace class (the Y36 lesson: bare str.split() splits on
    Unicode whitespace, RE2/Java '\\s+' do not), so the count matches
    the engine-side convention token for token.

    The UDF remains the slow path (per-row Python call inside the Arrow
    batch); the point of the key is that results are value-identical to
    the built-in split — proven by the same SQL oracle the JVM-side
    token keys use.

    Plan shape: ArrowEvalPython stage inline in the scan projection, then
    an ordinary partial+final aggregate — no extra shuffle."""
    import re

    from pyspark.sql.functions import udf

    ws = re.compile(r"[ \t\n\r\f\v]+")

    @udf("long", useArrow=True)
    def tok_n(s: str) -> int:
        # no .strip(): Python's strip is UNICODE-aware and would diverge
        # from the ASCII-class oracle on NBSP-edged text; the nonempty
        # filter already absorbs leading/trailing ASCII whitespace
        return len([t for t in ws.split(s or "") if t])

    docs = table(spark, sf_dir, "documents")
    return (
        docs.select("lang", tok_n("text").alias("tn"))
        .groupBy("lang")
        .agg(
            F.sum("tn").alias("total_tokens"),
            F.max("tn").alias("max_tokens"),
            F.count("*").alias("n_docs"),
        )
        .orderBy("lang")
    )


@register(
    "grouped_stats_applyinarrow",
    "T8",
    oracle="""
    SELECT lang,
           count(*) AS n_docs,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
)
def grouped_stats_applyinarrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map over RAW ARROW TABLES (Spark 4 `applyInArrow`): the
    zero-copy sibling of applyInPandas (T6) — each language group arrives
    as a pyarrow.Table and the UDF answers with pyarrow.compute kernels,
    skipping the pandas conversion entirely (no index materialization,
    no NaN coercion of nullable ints — the two classic pandas-boundary
    surprises).  This is the surface for C-speed per-group logic that
    needs no pandas semantics.

    The oracle states the same per-group stats in SQL: a hash match
    proves the Arrow group boundary delivered every row exactly once.

    Plan shape: one shuffle on the group key, then per-group Arrow
    compute — identical exchange profile to applyInPandas; at 100 TB the
    usual grouped-map caveat applies (a group must fit an executor),
    fine for bounded group counts like languages."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def stats(t: pa.Table) -> pa.Table:
        chars = t.column("n_chars")
        return pa.table(
            {
                "lang": [t.column("lang")[0].as_py()],
                "n_docs": [t.num_rows],
                "min_chars": [pc.min(chars).as_py()],
                "max_chars": [pc.max(chars).as_py()],
                "total_chars": [pc.sum(chars).as_py()],
            }
        )

    docs = table(spark, sf_dir, "documents").select("lang", "n_chars")
    return (
        docs.groupBy("lang")
        .applyInArrow(
            stats,
            schema=(
                "lang string, n_docs bigint, min_chars bigint, "
                "max_chars bigint, total_chars bigint"
            ),
        )
        .orderBy("lang")
    )


@register(
    "udtf_dynamic_schema_ngrams",
    "T9",
    oracle="""
    WITH toks AS (
        SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'),
                                   t -> t != '') AS ts
        FROM documents WHERE doc_id % 20 = 0
    )
    SELECT doc_id,
           CAST(len(ts) AS BIGINT) AS n_tokens,
           ts[1] AS g1,
           CASE WHEN len(ts) >= 2 THEN ts[1] || ' ' || ts[2] END AS g2,
           CASE WHEN len(ts) >= 3 THEN ts[1] || ' ' || ts[2] || ' ' || ts[3]
           END AS g3
    FROM toks WHERE len(ts) > 0
    ORDER BY doc_id
    """,
)
def udtf_dynamic_schema_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POLYMORPHIC UDTF (Spark 4 `analyze()` static method): the output
    schema — one column per requested n-gram order — is computed at
    ANALYSIS time from the literal `max_n` argument, so `prefix_ngrams(
    text, 3)` and `prefix_ngrams(text, 5)` are different relations from
    one registration.  This is the table-function surface T2's
    fixed-schema UDTF can't express: schema-as-a-function-of-arguments.

    Emits each doc's leading 1..max_n-gram (joined with spaces) plus the
    token count; the oracle restates the prefix n-grams with list
    indexing.  Same ASCII-whitespace discipline as T7.

    Plan shape: one generator stage (Arrow-batched Python UDTF) over the
    pushed sampling filter — no shuffle until the final ORDER BY."""
    import re

    from pyspark.sql.functions import udtf
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    ws = re.compile(r"[ \t\n\r\f\v]+")

    @udtf
    class PrefixNgrams:
        @staticmethod
        def analyze(
            text: AnalyzeArgument, max_n: AnalyzeArgument
        ) -> AnalyzeResult:
            fields = [StructField("n_tokens", LongType())]
            fields += [
                StructField(f"g{i}", StringType())
                for i in range(1, max_n.value + 1)
            ]
            return AnalyzeResult(StructType(fields))

        def eval(self, text: str, max_n: int):
            toks = [t for t in ws.split((text or "").strip()) if t]
            if not toks:
                return
            grams = tuple(
                " ".join(toks[:i]) if len(toks) >= i else None
                for i in range(1, max_n + 1)
            )
            yield (len(toks),) + grams

    spark.udtf.register("prefix_ngrams_t9", PrefixNgrams)
    return spark.sql(
        """
        SELECT d.doc_id, g.n_tokens, g.g1, g.g2, g.g3
        FROM {documents} d,
             LATERAL prefix_ngrams_t9(lower(d.text), 3) g
        WHERE d.doc_id % 20 = 0
        ORDER BY d.doc_id
        """,
        documents=table(spark, sf_dir, "documents"),
    )


@register(
    "udtf_table_argument_stats",
    "T10",
    oracle="""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(min(doc_id) FILTER (WHERE n_chars = mx) AS BIGINT)
               AS longest_doc
    FROM (
        SELECT lang, doc_id, n_chars,
               max(n_chars) OVER (PARTITION BY lang) AS mx
        FROM documents
    )
    GROUP BY lang
    ORDER BY lang
    """,
)
def udtf_table_argument_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UDTF with a TABLE argument + PARTITION BY (Spark 4): the engine
    routes each lang's rows to ONE UDTF instance, which accumulates
    across eval() calls and emits its summary from terminate() — the
    per-group streaming-accumulator contract that applyInPandas
    expresses with whole-group buffers, here expressed row-at-a-time
    with O(1) state per group.  Emits per lang: doc count, total chars,
    and the longest doc's id (ties -> smallest id, enforced by the
    (n_chars, -doc_id) max key so NO input ordering is relied on).  The
    oracle restates the argmax with a window max + FILTER min.

    Plan shape: PARTITION BY lang is one hash exchange into the
    Arrow-batched UDTF stage; state per instance is 4 scalars, output
    is one row per group — the same shuffle an ordinary groupBy would
    plan, with no sort required (the UDTF is order-insensitive by
    construction)."""
    from pyspark.sql.functions import udtf

    @udtf(
        returnType=(
            "lang string, n_docs bigint, total_chars bigint, "
            "longest_doc bigint"
        )
    )
    class LangStats:
        def __init__(self):
            self.lang = None
            self.n = 0
            self.chars = 0
            self.best = None  # (n_chars, -doc_id): max => longest, tie->min id

        def eval(self, row):
            self.lang = row["lang"]
            self.n += 1
            self.chars += row["n_chars"]
            key = (row["n_chars"], -row["doc_id"])
            if self.best is None or key > self.best:
                self.best = key

        def terminate(self):
            if self.lang is not None:
                yield (self.lang, self.n, self.chars, -self.best[1])

    spark.udtf.register("lang_stats_t10", LangStats)
    # project BEFORE the TABLE argument: column pruning cannot reach
    # through a Python UDTF's table arg, so an unprojected view would
    # ship the full document text through the hash exchange and Arrow
    # encode it per row for nothing
    return spark.sql(
        """
        SELECT * FROM lang_stats_t10(TABLE({docs}) PARTITION BY lang)
        ORDER BY lang
        """,
        docs=table(spark, sf_dir, "documents").select("lang", "doc_id", "n_chars"),
    )


@register(
    "pandas_udf_iter_bucketize",
    "T11",
    oracle=f"""
    SELECT (({cents_sql("o_totalprice")} * 2654435761)
            % 2147483648) % 97 AS bucket,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum({cents_sql("o_totalprice")}) AS BIGINT)
               AS sum_cents
    FROM orders
    GROUP BY 1 ORDER BY 1
    """,
)
def pandas_udf_iter_bucketize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ITERATOR-form scalar pandas UDF (Iterator[pd.Series] ->
    Iterator[pd.Series]): the API whose point is ONE-TIME SETUP PER TASK
    — the expensive state (a model, a tokenizer, a lookup table) loads
    before the batch loop and is reused across every Arrow batch the
    task feeds the UDF, where the plain SCALAR form would have no place
    to amortize it.  The 'model' here is a deterministic Fibonacci-hash
    bucketizer (all int64 arithmetic, exact in SQL), so the oracle
    replays the bucket assignment value-for-value while the key pins
    the protocol: type-hinted iterator in, per-batch yields out, one
    setup per task.

    Scale shape: narrow map stage over Arrow batches feeding a
    map-side-combined 97-group aggregate — no shuffle carries raw rows;
    the setup amortization is exactly why per-task cost stays flat as
    batches-per-task grows at 100 TB."""
    from pyspark.sql.functions import pandas_udf

    # NOTE: the Iterator hint must resolve in MODULE globals — with
    # PEP-563 string annotations, pyspark evaluates the signature there,
    # so a function-local alias raises UNSUPPORTED_SIGNATURE (measured)
    @pandas_udf("long")
    def bucket97(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        # one-time per-task setup happens HERE, before the batch loop —
        # stand-in for a model/tokenizer load
        mult, mod = 2654435761, 2**31
        for cents in batches:
            yield ((cents * mult) % mod) % 97

    orders = table(spark, sf_dir, "orders").select(
        cents(F.col("o_totalprice")).alias("cents")
    )
    return (
        orders.withColumn("bucket", bucket97("cents"))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("cents").alias("sum_cents"),
        )
        .orderBy("bucket")
    )


# cogroup_asof_attribution's per-bucket row budget (r14): one cogroup
# bucket's purchases+clicks live in executor memory as pandas frames, so
# buckets grow with the events row count past this many rows per bucket;
# below that, fewer/fatter buckets amortize the ~15ms-per-group pandas
# fixed cost (the measured sf0.1 optimum is dp/2 groups).
_COGROUP_BUCKET_ROWS = 2_000_000


@register(
    "cogroup_asof_attribution",
    "T12",
    oracle="""
    WITH p AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ), c AS MATERIALIZED (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ), ranked AS (
        SELECT p.event_id AS purchase_id, p.user_id,
               c.event_id AS click_id,
               epoch_us(p.ts) - epoch_us(c.ts) AS gap_us,
               row_number() OVER (PARTITION BY p.event_id
                                  ORDER BY c.ts DESC, c.event_id DESC) AS rn
        FROM p LEFT JOIN c
          ON c.user_id = p.user_id AND c.ts <= p.ts
    )
    SELECT purchase_id, user_id,
           CAST(click_id AS BIGINT) AS click_id,
           CAST(gap_us AS BIGINT) AS gap_us
    FROM ranked WHERE rn = 1
    ORDER BY purchase_id
    """,
)
def cogroup_asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped-map Pandas API (groupBy().cogroup().applyInPandas):
    purchases and clicks arrive as TWO aligned pandas frames per group,
    and each group runs ONE vectorized pandas.merge_asof(by='user_id') —
    last click at-or-before each purchase (ties on ts resolve to the
    larger event_id via the sort order merge_asof scans).  This is the
    surface for per-key algorithms that need BOTH sides materialized
    together (local as-of merges, per-user reconciliation) — the window
    spelling of T1 covers the global case; cogroup covers the
    bring-both-sides-to-python case.  The oracle restates the match as
    a left join + row_number argmax with the identical (ts, event_id)
    tie order; gaps are exact integer microseconds.

    Scale shape: the cogroup key is a user BUCKET, not the raw user_id —
    per-user groups pay ~15ms of pandas fixed cost each (measured 23.8s
    at sf0.1 with ~1.5k user groups vs 1.0s bucketed), so the Arrow
    boundary sees few fat groups and merge_asof's by= argument does the
    per-user matching vectorized inside each.  The bucket count is
    SCALE-ADAPTIVE (r14): every group still pays the per-group pandas
    fixed cost, so the count is the max of (a) enough buckets to keep
    each group under a per-executor row budget — derived from the
    events row count, a footer-read statistic cached per file version —
    and (b) half the session parallelism, the measured local optimum
    (64 fixed buckets cost 2.19s vs 1.11s at sf0.1: group fixed cost
    dominates until groups approach the memory budget).  ONE hash
    exchange per side; bucket membership never changes per-user
    matching, so the result is bucket-count independent (oracle-pinned)."""
    from debias_spark.catalog import cached_input_stat

    def _footer_rows() -> int:
        import pyarrow.parquet as pq

        return pq.ParquetFile(f"{sf_dir}/events.parquet").metadata.num_rows

    try:
        n_events = int(cached_input_stat(f"{sf_dir}/events.parquet", "n_rows", _footer_rows))
    except Exception:
        n_events = 0  # non-local source: parallelism floor decides
    dp = int(spark.sparkContext.defaultParallelism)
    n_buckets = max(dp // 2, -(-n_events // _COGROUP_BUCKET_ROWS), 1)
    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type",
        (F.col("user_id") % n_buckets).alias("bucket"),
    )
    purchases = ev.where(F.col("event_type") == "purchase").drop("event_type")
    clicks = ev.where(F.col("event_type") == "click").drop("event_type")

    def asof(p: pd.DataFrame, c: pd.DataFrame) -> pd.DataFrame:
        # merge_asof requires both sides sorted by the on-key; the
        # secondary event_id sort makes the within-tie scan order (and
        # therefore the picked row: max event_id) deterministic per user
        p = p.sort_values(["ts", "event_id"]).reset_index(drop=True)
        c = c.sort_values(["ts", "event_id"]).reset_index(drop=True)
        out = pd.DataFrame(
            {
                "purchase_id": p["event_id"],
                "user_id": p["user_id"],
            }
        )
        if len(c) and len(p):
            cc = c[["ts", "user_id", "event_id"]].rename(
                columns={"event_id": "click_id"}
            )
            cc["cts"] = cc["ts"]
            m = pd.merge_asof(
                p[["ts", "user_id"]], cc, on="ts", by="user_id",
                direction="backward", allow_exact_matches=True,
            )
            # normalize to ns regardless of the Arrow-delivered unit
            # (timestamp_ntz may arrive as datetime64[us])
            p_ns = p["ts"].astype("datetime64[ns]").astype("int64")
            c_ns = m["cts"].astype("datetime64[ns]").astype("int64")
            out["click_id"] = m["click_id"].astype("Int64")
            out["gap_us"] = pd.array((p_ns - c_ns) // 1000, dtype="Int64")
            miss = m["cts"].isna().values
            out.loc[miss, "click_id"] = None
            out.loc[miss, "gap_us"] = None
        else:
            out["click_id"] = pd.array([None] * len(p), dtype="Int64")
            out["gap_us"] = pd.array([None] * len(p), dtype="Int64")
        return out

    return (
        purchases.groupBy("bucket")
        .cogroup(clicks.groupBy("bucket"))
        .applyInPandas(
            asof,
            schema="purchase_id long, user_id long, click_id long, gap_us long",
        )
        .orderBy("purchase_id")
    )
