"""Round-5 LLM-pipeline wave 4 (Y36): Python UDTF — Spark 4's
user-defined TABLE function surface, the extensibility hook for
row-to-rows expansion logic that doesn't fit a scalar UDF or a built-in
generator.

No reference citation: the reference (SirHooke/debias-batch-processor)
has no extension surface; north-star extension per SURVEY §2.H.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debias_spark.catalog import table
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
