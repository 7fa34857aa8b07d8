"""Round-4 source wave (Z30): the custom Python DataSource (Spark 4
DataSource API, sources/synthetic.py) exposed as a driver-hash-checked
key — the non-file source surface (partition-planned parallel generation)
proven value-for-value against a DuckDB replay of the generator.

Reference parity: the reference reads only CSV-lines files
(call-debias.py:184-194); a programmatic source is a north-star extension
(SURVEY §2.A rationale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debias_spark.streaming import narrow_shuffle
from debias_spark.registry import register
from debias_spark.sources.synthetic import _LANGS, _WORDS

_SHARDS = 8
_ROWS = 200
_SEED = 7


def _synth_oracle() -> str:
    words_sql = "[" + ", ".join(f"'{w}'" for w in _WORDS) + "]"
    langs_sql = "[" + ", ".join(f"'{la}'" for la in _LANGS) + "]"
    return f"""
    WITH g AS (
        SELECT s.range AS shard, r.range AS r
        FROM range({_SHARDS}) s, range({_ROWS}) r
    ), hashed AS (
        SELECT shard * {_ROWS} + r AS doc_id,
               (({_SEED} * 1000003 + shard * 7919 + r * 2654435761)
                & 2147483647) AS h
        FROM g
    ), rows_ AS (
        SELECT doc_id, h,
               5 + (h % 8) AS n_tokens,
               {langs_sql}[(h % {len(_LANGS)}) + 1] AS lang,
               CAST(list_sum([length({words_sql}[((h // (i + 1)) % {len(_WORDS)}) + 1])
                              FOR i IN range(0, 5 + (h % 8))])
                    AS BIGINT) + (5 + (h % 8)) - 1 AS n_chars
        FROM hashed
    )
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(doc_id) AS BIGINT) AS id_sum,
           CAST(sum(n_tokens) AS BIGINT) AS token_sum,
           CAST(sum(n_chars) AS BIGINT) AS char_sum
    FROM rows_ GROUP BY lang
    """


@register("source_python_datasource", "Z30", oracle=_synth_oracle())
def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource read: the synthetic-corpus generator
    (sources/synthetic.py — Spark 4 DataSource API, one InputPartition
    per shard, each shard a pure function of (seed, shard, row)) read
    with fixed options and aggregated per language.  The DuckDB oracle
    REGENERATES the corpus from the same multiplicative-hash recipe over
    ``range()`` — a hash match proves the source's partition planning
    and per-shard generation produce exactly the declared rows, text
    payload included (char_sum covers the word join).

    Scale shape: generation parallelism is the partition count (shards),
    set by an option instead of file layout — the back-fill/load-test
    source pattern; the aggregate is an ordinary partial+final pair over
    whatever the source emits.  sf_dir is intentionally unused: this key
    proves the NON-file surface."""
    from debias_spark.sources import synthetic

    synthetic.register(spark)
    df = (
        spark.read.format("synthetic_corpus")
        .option("shards", str(_SHARDS))
        .option("rowspershard", str(_ROWS))
        .option("seed", str(_SEED))
        .load()
    )
    return df.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("doc_id").alias("id_sum"),
        F.sum(F.size(F.split("text", " "))).alias("token_sum"),
        F.sum(F.length("text")).alias("char_sum"),
    )


_S_BATCHES = 4
_S_ROWS = 150
_S_SEED = 11


def _stream_oracle() -> str:
    words_sql = "[" + ", ".join(f"'{w}'" for w in _WORDS) + "]"
    langs_sql = "[" + ", ".join(f"'{la}'" for la in _LANGS) + "]"
    return f"""
    WITH g AS (
        SELECT b.range AS batch, r.range AS r
        FROM range({_S_BATCHES}) b, range({_S_ROWS}) r
    ), hashed AS (
        SELECT batch, batch * {_S_ROWS} + r AS doc_id,
               (({_S_SEED} * 1000003 + batch * 7919 + r * 2654435761)
                & 2147483647) AS h
        FROM g
    )
    SELECT CAST(batch AS BIGINT) AS batch,
           {langs_sql}[(h % {len(_LANGS)}) + 1] AS lang,
           count(*) AS n_docs,
           CAST(sum(doc_id) AS BIGINT) AS id_sum,
           CAST(sum(5 + (h % 8)) AS BIGINT) AS token_sum
    FROM hashed
    GROUP BY batch, lang
    ORDER BY batch, lang
    """


@register(
    "source_python_datasource_stream",
    "Z42",
    oracle=_stream_oracle(),
    bench=False,
)
def source_python_datasource_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING custom Python DataSource (Spark 4
    SimpleDataSourceStreamReader): the synthetic-corpus generator exposed
    as a micro-batched stream — offsets are completed batch counts,
    read(start) emits one deterministic shard per micro-batch, and
    readBetweenOffsets replays any window for recovery (the contract a
    restart exercises).  The drain runs the query with
    processAllAvailable(), which advances offsets until the reader
    reports no new data — availableNow would capture only the FIRST
    offset window of a simple reader (measured), so this is the honest
    drain for this source type.

    The DuckDB oracle regenerates every batch from the same
    multiplicative-hash recipe over range() — the hash match proves
    offset planning, per-batch generation, and the append sink lost and
    duplicated nothing across micro-batch boundaries.

    Scale shape: one micro-batch per offset window with generation
    parallelism inside the batch; the aggregate below is bounded
    (batches x langs).  sf_dir is intentionally unused (non-file
    surface)."""
    from debias_spark.sources.synthetic import register_stream

    register_stream(spark)
    stream = (
        spark.readStream.format("synthetic_corpus_stream")
        .option("batches", str(_S_BATCHES))
        .option("rowsperbatch", str(_S_ROWS))
        .option("seed", str(_S_SEED))
        .load()
    )
    # the memory sink registers its rows as a temp view named after the
    # query; the frame read from it holds the sink itself, so the view is
    # dropped before returning
    name = "z42_stream_sink"
    q = None
    try:
        with narrow_shuffle(spark, 4):
            try:
                q = (
                    stream.writeStream.format("memory")
                    .queryName(name)
                    .outputMode("append")
                    .start()
                )
                q.processAllAvailable()
            finally:
                # stop INSIDE the finally so an interrupted drain can't leak
                # a live background stream into the shared session
                if q is not None:
                    q.stop()
                    q.awaitTermination()
        rows = spark.table(name)
    finally:
        spark.catalog.dropTempView(name)
    return (
        rows.groupBy("batch", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("doc_id").alias("id_sum"),
            F.sum(F.size(F.split("text", " "))).alias("token_sum"),
        )
        .orderBy("batch", "lang")
    )


@register(
    "source_metadata_columns",
    "Z44",
    oracle="""
    SELECT * FROM (
        SELECT 'nation.parquet' AS file_name,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(0 AS BIGINT) AS min_ri,
               CAST(count(*) - 1 AS BIGINT) AS max_ri,
               CAST(count(*) * (count(*) - 1) // 2 AS BIGINT) AS sum_ri
        FROM nation
        UNION ALL
        SELECT 'region.parquet',
               count(*), 0, count(*) - 1, count(*) * (count(*) - 1) // 2
        FROM region
    ) ORDER BY file_name
    """,
)
def source_metadata_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hidden _metadata file-source column (file_name / row_index):
    per-file lineage without any path parsing — the provenance primitive
    a 100 TB lake uses to trace a bad row back to its parquet file and
    physical position.  Aggregates per file: row count, min/max/sum of
    row_index.  sum_ri == n(n-1)/2 proves row_index is the dense 0-based
    physical sequence (not just bounded); the oracle states the closed
    forms, which only match if Spark's per-row indices are exactly
    0..n-1 once each.

    Plan shape: _metadata is generated AT the scan from the file split
    being read — constant-folded per split, no join, no extra pass; the
    per-file aggregate is map-side combined on a key that is constant
    within each task's split.  Scales as a plain scan."""
    from debias_spark.catalog import table

    def per_file(tbl: str) -> DataFrame:
        return (
            table(spark, sf_dir, tbl)
            .select(
                F.col("_metadata.file_name").alias("file_name"),
                F.col("_metadata.row_index").alias("ri"),
            )
            .groupBy("file_name")
            .agg(
                F.count("*").alias("n_rows"),
                F.min("ri").alias("min_ri"),
                F.max("ri").alias("max_ri"),
                F.sum("ri").alias("sum_ri"),
            )
        )

    return per_file("nation").unionByName(per_file("region")).orderBy("file_name")
