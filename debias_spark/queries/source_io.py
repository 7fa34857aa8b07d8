"""Source keys: schema merge and inference, permissive CSV/JSON with
corrupt-record capture, multiline CSV and JSON arrays, binary and
wholetext files, recursive globs, typed partition discovery, metadata
columns, split sizing, gzip splittability, and the Python DataSource
(batch and streaming).

The reference reads newline-delimited text and JSON files whole and
aborts on malformed input (call-debias.py:143-147, 184-194); robust
sources are north-star extensions per SURVEY §2.A.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from debias_spark.catalog import table
from debias_spark.numeric import cents, cents_sql
from debias_spark.registry import register
from debias_spark.session import pinned_confs
from debias_spark.sources.synthetic import _LANGS, _WORDS
from debias_spark.streaming import narrow_shuffle
from debias_spark.warehouse import fresh_scratch_dirs, scratch_dir


# Why a 100 TB landing zone must never arrive as monolithic .gz files.  The
# reference reads whole files sequentially (call-debias.py's per-file loop)
# and never meets the splittability question; on Spark the input SPLIT
# arithmetic is the parallelism, and a gzip stream's lack of sync points
# silently serializes a scan however small maxPartitionBytes is set.  This
# key pins both halves: the plan fact (1 split for gz, many for plain, same
# bytes, same conf) and the data fidelity of both roundtrips via one
# value-oracled rollup.
_MAX_SPLIT = 64 * 1024  # 64 KiB splits: the plain file must split, gz cannot


@register(
    "source_gzip_unsplittable_scan",
    "Z70",
    oracle="""
    SELECT fmt, lang, n_docs, sum_chars FROM (
        SELECT 'gzip' AS fmt, lang, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS sum_chars
        FROM documents GROUP BY lang
        UNION ALL
        SELECT 'plain' AS fmt, lang, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS sum_chars
        FROM documents GROUP BY lang
    ) ORDER BY fmt, lang
    """,
)
def source_gzip_unsplittable_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write the documents table twice as a SINGLE json file — once
    gzip-compressed, once plain — then read both back under a 64 KiB
    ``spark.sql.files.maxPartitionBytes`` and assert the split
    arithmetic: the plain file fans out into multiple input splits, the
    gzip file is pinned to EXACTLY ONE however small the split size is
    (no sync markers to seek to).  The returned rollup re-aggregates
    both readbacks per lang, so the oracle hash also proves neither
    roundtrip lost or altered a row.

    The 100 TB lesson this pins: compressed text landing zones must use
    a splittable container (parquet/orc with internal compression) or
    many small-enough files — one 10 GB .gz file is a one-task scan, a
    straggler no conf can fix."""
    docs = table(spark, sf_dir, "documents")
    gz_dir, pl_dir = fresh_scratch_dirs(spark, sf_dir, "z70_gz", "z70_plain")
    one = docs.coalesce(1)
    one.write.option("compression", "gzip").json(gz_dir)
    one.write.json(pl_dir)

    with pinned_confs(spark, {"spark.sql.files.maxPartitionBytes": str(_MAX_SPLIT)}):
        gz = spark.read.schema(docs.schema).json(gz_dir)
        pl = spark.read.schema(docs.schema).json(pl_dir)
        n_gz = gz.rdd.getNumPartitions()
        n_pl = pl.rdd.getNumPartitions()
        # raise, not assert: the 1-vs-many split fact IS what this key
        # exists to pin, and a bare assert strips to a no-op under
        # python -O (r9 advice — Y72's guards already use raise)
        if n_gz != 1:
            raise RuntimeError(f"gzip json scan split into {n_gz} partitions")
        if n_pl < 2:
            raise RuntimeError(
                f"plain json scan stayed at {n_pl} partition(s) under a "
                f"{_MAX_SPLIT}-byte split size"
            )

        def rollup(df: DataFrame, fmt: str) -> DataFrame:
            return df.groupBy("lang").agg(
                F.lit(fmt).alias("fmt"),
                F.count("*").alias("n_docs"),
                F.sum(F.col("n_chars").cast("long")).alias("sum_chars"),
            )

        out = (
            rollup(gz, "gzip")
            .unionByName(rollup(pl, "plain"))
            .select("fmt", "lang", "n_docs", "sum_chars")
            .orderBy("fmt", "lang")
            # materialize inside the conf scope: the tiny-split conf is
            # part of the proof, not something later consumers inherit
            .localCheckpoint(eager=True)
        )
    return out


# The reference reads only CSV-lines files (call-debias.py:184-194); the
# custom Python DataSource (Spark 4 DataSource API, sources/synthetic.py) is
# the non-file source surface (partition-planned parallel generation),
# proven value-for-value against a DuckDB replay of the generator
# (SURVEY §2.A).
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


@register(
    "source_parquet_schema_merge",
    "Z32",
    oracle=f"""
    SELECT count(*) AS n_rows,
           count(CASE WHEN o_orderkey % 2 = 0 THEN 1 END) AS n_with_cents,
           count(CASE WHEN o_orderkey % 2 = 1 THEN 1 END) AS n_with_priority,
           CAST(sum(CASE WHEN o_orderkey % 2 = 0 THEN {cents_sql("o_totalprice")} END) AS BIGINT)
               AS cents_sum
    FROM orders
    """,
)
def source_parquet_schema_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution: two parquet parts written at DIFFERENT schema
    versions (v1: key + cents; v2: key + priority) land in one dataset
    dir; a mergeSchema read unions the schemas, null-filling the columns
    each part lacks.  The aggregate counts rows per schema lineage and
    sums the v1 measure — the oracle restates it from the source table,
    so the hash proves merge, null-fill, and type reconciliation.

    Scale shape: mergeSchema costs one footer read per FILE at planning
    (no data scan); production datasets with many files pin the merged
    schema in a table catalog instead, but the read path exercised here —
    scan files of differing physical schemas into one logical schema — is
    exactly how a 100 TB lake absorbs schema drift without rewriting
    history."""
    orders = table(spark, sf_dir, "orders")
    (out,) = fresh_scratch_dirs(spark, sf_dir, "schema_merge")
    v1 = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        cents(F.col("o_totalprice")).alias("cents"),
    )
    v2 = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_orderpriority"
    )
    v1.write.parquet(os.path.join(out, "part=v1"))
    v2.write.parquet(os.path.join(out, "part=v2"))
    merged = spark.read.option("mergeSchema", "true").parquet(out)
    return merged.agg(
        F.count("*").alias("n_rows"),
        F.count("cents").alias("n_with_cents"),
        F.count("o_orderpriority").alias("n_with_priority"),
        F.sum("cents").alias("cents_sum"),
    )


@register(
    "source_csv_permissive_badrecords",
    "Z33",
    oracle=f"""
    SELECT count(*) AS n_rows,
           count(CASE WHEN o_orderkey % 7 = 0 THEN 1 END) AS n_corrupt,
           CAST(sum(CASE WHEN o_orderkey % 7 <> 0 THEN {cents_sql("o_totalprice")} END) AS BIGINT)
               AS cents_good
    FROM orders
    """,
)
def source_csv_permissive_badrecords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-input tolerance: a CSV is synthesized from orders with
    every 7th key's numeric field deliberately corrupted, then read back
    PERMISSIVE with a corrupt-record column — bad lines become capture
    rows instead of job failures (FAILFAST would abort; DROPMALFORMED
    would silently lose them — both wrong for a 100 TB ingest where a
    0.001% corruption rate is guaranteed and must be quarantined, not
    fatal).  The aggregate proves the good/corrupt split and that good
    rows parse losslessly.

    Scale shape: one pass to write, one schema-bound scan to read (no
    inferSchema second pass); the corrupt channel is a per-row projection
    with zero shuffle."""
    orders = table(spark, sf_dir, "orders")
    (out,) = fresh_scratch_dirs(spark, sf_dir, "csv_permissive")
    lines = orders.select(
        F.concat_ws(
            ",",
            F.col("o_orderkey"),
            F.col("o_orderpriority"),
            F.when(F.col("o_orderkey") % 7 == 0, F.lit("notanumber")).otherwise(
                cents(F.col("o_totalprice")).cast("string")
            ),
        ).alias("value")
    )
    lines.write.text(out)
    schema = StructType(
        [
            StructField("o_orderkey", LongType()),
            StructField("priority", StringType()),
            StructField("cents", LongType()),
            StructField("_bad", StringType()),
        ]
    )
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .csv(out)
    )
    return back.agg(
        F.count("*").alias("n_rows"),
        F.count("_bad").alias("n_corrupt"),
        F.sum(F.when(F.col("_bad").isNull(), F.col("cents"))).alias("cents_good"),
    )


@register(
    "source_json_permissive_badrecords",
    "Z39",
    oracle="""
    SELECT count(*) AS n_lines,
           count(CASE WHEN doc_id % 10 = 3 THEN 1 END) AS n_corrupt,
           CAST(sum(CASE WHEN doc_id % 10 != 3 THEN n_chars END) AS BIGINT)
               AS chars_good
    FROM documents
    """,
)
def source_json_permissive_badrecords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE JSON-lines ingest with corrupt-record capture: write a
    JSONL file where every doc_id % 10 == 3 line is truncated mid-object
    (a real-world partial-write shape), read it back under an explicit
    schema with columnNameOfCorruptRecord, and audit totals — good rows
    keep their values, bad rows surface in the _bad column, and the job
    finishes either way.  The oracle computes the same audit closed-form
    from the source table, so the hash proves the parser classified
    every line correctly and lost no good value.

    The corrupt lines are MANUFACTURED with format_string (integers
    only), so the file content is a pure function of the table — no
    float-to-text repr enters the comparison.

    Plan shape: distributed text write (one file per partition);
    read-back is a splittable parallel JSON parse with the explicit
    schema (no inference pass over the data), then one aggregate."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    lines = docs.select(
        F.when(
            F.col("doc_id") % 10 == 3,
            F.format_string('{"doc_id": %d, "n_chars":', F.col("doc_id")),
        )
        .otherwise(
            F.format_string(
                '{"doc_id": %d, "n_chars": %d}',
                F.col("doc_id"),
                F.col("n_chars"),
            )
        )
        .alias("value")
    )
    out = scratch_dir(spark, sf_dir, "jsonl_docs")
    lines.write.mode("overwrite").text(out)
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("n_chars", LongType()),
            StructField("_bad", StringType()),
        ]
    )
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .json(out)
    )
    return back.agg(
        F.count("*").alias("n_lines"),
        F.count("_bad").alias("n_corrupt"),
        F.sum(F.when(F.col("_bad").isNull(), F.col("n_chars"))).alias(
            "chars_good"
        ),
    )


@register(
    "source_binaryfile_ingest",
    "Z41",
    oracle="""
    WITH sel AS (
        SELECT doc_id,
               4 + doc_id % 13 AS w,
               3 + doc_id % 11 AS h
        FROM documents WHERE doc_id % 25 = 0
    )
    SELECT count(*) AS n_files,
           CAST(sum(w) AS BIGINT) AS width_sum,
           CAST(sum(h) AS BIGINT) AS height_sum,
           CAST(sum(CAST(list_sum(flatten(list_transform(range(0, w), x ->
                list_transform(range(0, h), y -> (3 * x + 5 * y) % 251)
           ))) AS BIGINT)) AS BIGINT) AS red_sum
    FROM sel
    """,
)
def source_binaryfile_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """binaryFile source: the ingest path for a REAL media corpus — one
    BMP file per sampled document is written from the executors (the
    Y30 synthesis formulas, real encoded bytes on disk), then the
    directory is re-read through `spark.read.format("binaryFile")`
    (path/length/content rows, glob-filtered), decoded through the
    stdlib codec, and audited.  The oracle recomputes the expected
    dims and red-channel sum closed-form — a hash match proves the
    file write -> directory scan -> content decode chain is lossless
    byte for byte.

    This closes the multimodal ingestion story: MM1-MM6 prove binary
    COLUMNS; this key proves binary FILES, which is how image corpora
    actually arrive (one object per image + a manifest).

    Scale shape: writes are executor-local (one task per partition,
    each writing its own docs' files — no driver funnel); binaryFile
    scan parallelizes per file with content loaded lazily per row; at
    100 TB the same plan reads an object store, and the small-file
    count is the thing you'd manage with the Z27 compaction-plan key."""
    from collections.abc import Iterator

    import pandas as pd

    out = scratch_dir(spark, sf_dir, "bmp_files")
    os.makedirs(out, exist_ok=True)

    def write_files(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from debias_spark.operators.media_codec import synth_bmp_payload

        for pdf in batches:
            ids = []
            for d in pdf["doc_id"]:
                d = int(d)
                with open(os.path.join(out, f"doc_{d}.bmp"), "wb") as fh:
                    fh.write(synth_bmp_payload(d))
                ids.append(d)
            yield pd.DataFrame({"doc_id": ids})

    docs = table(spark, sf_dir, "documents").where(F.col("doc_id") % 25 == 0)
    docs.select("doc_id").mapInPandas(
        write_files, schema="doc_id long"
    ).write.format("noop").mode("overwrite").save()  # force the writes

    back = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bmp")
        .load(out)
        .select("content")
    )

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from debias_spark.operators.media_codec import decode_bmp

        for pdf in batches:
            ws, hs, rs = [], [], []
            for content in pdf["content"]:
                m = decode_bmp(bytes(content))
                ws.append(m["width"])
                hs.append(m["height"])
                rs.append(m["sum_r"])
            yield pd.DataFrame({"w": ws, "h": hs, "r": rs})

    decoded = back.mapInPandas(decode, schema="w long, h long, r long")
    return decoded.agg(
        F.count("*").alias("n_files"),
        F.sum("w").alias("width_sum"),
        F.sum("h").alias("height_sum"),
        F.sum("r").alias("red_sum"),
    )


# tricky = first 20 chars + newline + quoted lang + comma + next 20 chars:
# one field containing all three CSV hazards (record separator, quote
# char, field separator)
_TRICKY_SQL = (
    "substr(coalesce(text, ''), 1, 20) || chr(10) || '\"' || lang || '\",' "
    "|| substr(coalesce(text, ''), 21, 20)"
)


@register(
    "source_csv_multiline_quotes",
    "Z45",
    oracle=f"""
    WITH t AS (
        SELECT lang, {_TRICKY_SQL} AS tricky FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(length(tricky)) AS BIGINT) AS sum_len,
           CAST(sum(('0x' || substr(md5(tricky), 1, 8))::BIGINT) AS BIGINT)
               AS checksum
    FROM t GROUP BY lang ORDER BY lang
    """,
)
def source_csv_multiline_quotes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink/source roundtrip with adversarial field content: build a
    column that embeds a NEWLINE, a DOUBLE QUOTE and a COMMA in every
    value, write it as quoted CSV, read it back with multiLine=true, and
    aggregate per lang: count, total chars, and a 32-bit-md5 checksum of
    every restored string.  The oracle computes the same aggregate from
    the SOURCE construction — it matches only if every byte survived the
    quote-escape-newline round trip (a lost escape or a row split at the
    embedded newline changes the md5 sum).  Write and read pin the SAME
    escape character explicitly: Spark's writer backslash-escapes
    embedded quotes rather than doubling them, and a reader configured
    differently would silently mis-parse.  Second writer trap pinned
    here: ignoreLeading/TrailingWhiteSpace default to TRUE on WRITE, so
    fields whose content happens to start or end with a space are
    silently trimmed unless both options are disabled (measured: ~13
    chars lost per 70 docs before the fix — the checksum caught it).

    Scale shape: multiLine=true is the one CSV option with a real scale
    cost — files cannot be split at arbitrary newlines, so parallelism
    is per-FILE, not per-block; the write keeps the source partitioning
    (many files) precisely so the multiline read-back still fans out.
    The checksum aggregates map-side; no shuffle carries raw text."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.expr(_TRICKY_SQL).alias("tricky")
    )
    path = scratch_dir(spark, sf_dir, "z45_csv")
    (
        docs.write.mode("overwrite")
        .option("header", True)
        .option("escape", "\\")
        .option("ignoreLeadingWhiteSpace", False)
        .option("ignoreTrailingWhiteSpace", False)
        .csv(path)
    )
    back = (
        spark.read.schema("doc_id long, lang string, tricky string")
        .option("header", True)
        .option("multiLine", True)
        .option("escape", "\\")
        .csv(path)
    )
    h32 = F.conv(F.substring(F.md5("tricky"), 1, 8), 16, 10).cast("long")
    return (
        back.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.length("tricky")).alias("sum_len"),
            F.sum(h32).alias("checksum"),
        )
        .orderBy("lang")
    )


def write_typed_partitions(spark: SparkSession, sf_dir: str) -> str:
    """orders written as year=<int>/month=<int> Hive-style directories.
    Exposed for the plan test (asserts PartitionFilters prune the
    listing and the discovered partition columns come back as ints)."""
    out = scratch_dir(spark, sf_dir, "z55_typedpart")
    o = table(spark, sf_dir, "orders")
    (
        o.withColumn("year", F.year("o_orderdate"))
        .withColumn("month", F.month("o_orderdate"))
        .write.mode("overwrite")
        .partitionBy("year", "month")
        .parquet(out)
    )
    return out


@register(
    "source_partition_typed_discovery",
    "Z55",
    oracle=f"""
    SELECT CAST(month(o_orderdate) AS INT) AS month,
           count(*) AS n_orders,
           CAST(sum({cents_sql("o_totalprice")}) AS BIGINT) AS rev_cents
    FROM orders
    WHERE year(o_orderdate) = 1997
    GROUP BY 1 ORDER BY 1
    """,
)
def source_partition_typed_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed multi-level partition discovery: orders land as
    year=1997/month=3 directory pairs, and the read side infers BOTH
    partition columns back as INTEGERS from the path segments alone (no
    schema hint).  A year filter then prunes at the LISTING level —
    PartitionFilters on the scan, 12 of ~82 directories ever opened —
    the coarse layer above Z52's row-group stats (and Z26's single
    string partition; this key pins multi-level + type inference).
    The monthly rollup hash-matches the same aggregate over the source
    table, proving the partition columns carry their exact values
    through the directory encoding.

    Scale shape: partitioned write = one shuffle by (year, month); the
    filtered read lists 12 directories regardless of table size."""
    out = write_typed_partitions(spark, sf_dir)
    rb = spark.read.parquet(out).filter(F.col("year") == 1997)
    return (
        rb.groupBy(F.col("month").cast("int").alias("month"))
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(cents(F.col("o_totalprice"))).alias("rev_cents"),
        )
        .orderBy("month")
    )


@register(
    "source_csv_schema_infer",
    "Z57",
    oracle=f"""
    SELECT o_orderpriority,
           count(*) AS n,
           CAST(sum({cents_sql("o_totalprice")}) AS BIGINT) AS rev_cents,
           strftime(min(o_orderdate), '%Y-%m-%d') AS first_day
    FROM orders
    GROUP BY 1 ORDER BY 1
    """,
)
def source_csv_schema_infer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV schema INFERENCE roundtrip: orders serialized to headered CSV
    (dates as ISO strings, prices as decimals), read back with
    inferSchema=true and NO schema hint — the reader must rediscover
    bigint keys, double prices and DATE-typed order days (an explicit
    dateFormat pins the inference; header gives the names).  The grouped
    aggregate hash-matches the source table, so every inferred type
    carried its exact values.  Complements Z26/Z28 (explicit-schema CSV)
    and Z45 (multiline quoting): this key pins the INFERENCE surface an
    ad-hoc ingest actually uses.

    Scale: inference samples the file (a second scan) — the docstring
    contract at 100 TB is 'infer once, then pin the schema', which is
    exactly what the explicit-schema twins demonstrate."""
    o = table(spark, sf_dir, "orders")
    out = scratch_dir(spark, sf_dir, "z57_csv")
    (
        o.select(
            "o_orderkey",
            "o_orderpriority",
            "o_totalprice",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
        )
        .write.mode("overwrite")
        .option("header", "true")
        .csv(out)
    )
    rb = (
        spark.read.option("header", "true")
        .option("inferSchema", "true")
        .option("dateFormat", "yyyy-MM-dd")
        .csv(out)
    )
    return (
        rb.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.sum(cents(F.col("o_totalprice"))).alias("rev_cents"),
            F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias("first_day"),
        )
        .orderBy("o_orderpriority")
    )


# The reference ingests a directory tree of text files one FILE at a time
# (call-debias.py:143-147 reads the whole file, then splits lines) —
# wholetext is the Spark-native spelling of that file-granular read;
# recursiveFileLookup (Z60) generalizes its fixed `input/<lang>/`
# single-level walk (readme.md:44-56).
_N_FILES = 40  # docs per file = docs bucketed by doc_id % _N_FILES


@register(
    "source_wholetext_files",
    "Z59",
    oracle=f"""
    WITH b AS (
        SELECT doc_id % {_N_FILES} AS bucket,
               string_agg(text, chr(10) ORDER BY doc_id) AS body
        FROM documents GROUP BY 1
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(strlen(body) AS BIGINT) AS n_bytes,
           md5(body) AS body_md5
    FROM b ORDER BY bucket
    """,
)
def source_wholetext_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-file text ingestion (wholetext=true): documents serialize
    into 40 newline-joined text files, and the read side returns ONE ROW
    PER FILE — the reference's file-granular read (call-debias.py:143)
    and the shape a document-ingest pipeline uses when record boundaries
    are files, not lines (A2 covers the line-per-record mode).  Each
    file's byte length and md5 hash-match the oracle's string_agg
    replay, so no byte is lost or reordered at the file boundary.

    Scale shape: wholetext makes each FILE one task's single record —
    fine for document corpora (files are bounded), wrong for giant
    files; the docstring contract at 100 TB is file-size hygiene
    upstream.  The bucket id recovers from the file NAME via
    input_file_name parsing — the same path-derived-attribute trick as
    the reference's <lang>/ directory convention."""
    docs = table(spark, sf_dir, "documents")
    (out,) = fresh_scratch_dirs(spark, sf_dir, "z59_wholetext")
    os.makedirs(out, exist_ok=True)
    parts = (
        docs.groupBy((F.col("doc_id") % _N_FILES).alias("bucket"))
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("doc_id", "text"))
                    ),
                    lambda s: s["text"],
                ),
                "\n",
            ).alias("body")
        )
        .collect()
    )
    for row in parts:
        with open(os.path.join(out, f"bucket-{row.bucket:05d}.txt"), "w") as fh:
            fh.write(row.body)
    # NB: the option-string spelling `.option("wholetext", "true")` is
    # silently IGNORED by the text source (still line-per-record); only
    # the reader kwarg engages whole-file mode — measured round 7
    rb = spark.read.text(out, wholetext=True)
    return (
        rb.select(
            F.regexp_extract(F.input_file_name(), r"bucket-(\d+)\.txt", 1)
            .cast("long")
            .alias("bucket"),
            F.octet_length("value").cast("long").alias("n_bytes"),
            F.md5("value").alias("body_md5"),
        )
        .orderBy("bucket")
    )


@register(
    "source_recursive_dir_glob",
    "Z60",
    oracle=f"""
    SELECT o_orderstatus,
           count(*) AS n,
           CAST(sum({cents_sql("o_totalprice")}) AS BIGINT)
               AS rev_cents
    FROM orders GROUP BY 1 ORDER BY 1
    """,
)
def source_recursive_dir_glob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive directory ingestion: orders land in a 3-level nested
    tree (region/yeargroup/part files, NOT hive key=value dirs), and the
    read side needs recursiveFileLookup=true + a pathGlobFilter to find
    every parquet file at any depth — the lake-landing-zone layout
    (date-stamped nested folders from an upstream exporter) that plain
    reads silently miss or reject.  The status rollup hash-matches the
    source, proving no file at any depth is skipped or double-read.

    Scale shape: listing is the driver-side cost of deep trees — at
    100 TB the contract is bounded fan-out per level (or a manifest);
    the scan itself is ordinary parquet."""
    o = table(spark, sf_dir, "orders")
    (out,) = fresh_scratch_dirs(spark, sf_dir, "z60_nested")
    for grp in range(3):
        sub = os.path.join(out, f"level1_{grp}", f"level2_{grp % 2}")
        (
            o.filter(F.col("o_orderkey") % 3 == grp)
            .write.mode("overwrite")
            .parquet(sub)
        )
    rb = (
        spark.read.option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(out)
    )
    return (
        rb.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.sum(cents(F.col("o_totalprice"))).alias("rev_cents"),
        )
        .orderBy("o_orderstatus")
    )


# The reference writes ONE JSON document per input file (call-debias.py:154)
# — exactly the multiLine array/object shape this key reads back;
# sink_max_records_per_file (Z64) is the small-files control its naive
# writer lacks.
@register(
    "source_json_multiline_array",
    "Z63",
    oracle="""
    SELECT o_orderpriority AS prio,
           count(*) AS n,
           CAST(sum(o_custkey) AS BIGINT) AS cust_sum
    FROM orders WHERE o_orderstatus = 'O' AND o_orderkey < 1200
    GROUP BY 1 ORDER BY 1
    """,
)
def source_json_multiline_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """multiLine JSON ingestion: each file is ONE pretty-printed JSON
    ARRAY spanning many lines — the shape REST exports and the
    reference's per-file response documents (call-debias.py:154)
    actually have, which the default line-delimited reader rejects as
    corrupt.  With multiLine=true the reader parses whole files (one
    file per task — the documented constraint: no intra-file split, so
    file-size hygiene matters at scale), explodes the array into rows,
    and the typed rollup hash-matches the source.

    Scale shape: per-FILE parallelism only under multiLine (rule: the
    jsonl twin Z38/A3 is the splittable high-throughput form; multiLine
    exists for payload fidelity at ingestion edges).  The fixture
    collect is bounded O(1) in SF by a fixed orderkey cap (< 1200, a
    few hundred rows at ANY scale factor) so the benched cost measures
    multiLine ingestion, not driver-side fixture generation."""
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "O")
        .filter(F.col("o_orderkey") < 1200)
    )
    (out,) = fresh_scratch_dirs(spark, sf_dir, "z63_mljson")
    os.makedirs(out, exist_ok=True)
    # 8 pretty-printed array files, bucketed by custkey (driver-side
    # test scaffolding; bounded rows per bucket at these SFs)
    parts = (
        o.select("o_orderkey", "o_custkey", "o_orderpriority")
        .withColumn("bucket", F.col("o_custkey") % 8)
        .collect()
    )
    buckets: dict[int, list] = {}
    for r in parts:
        buckets.setdefault(int(r.bucket), []).append(
            {
                "o_orderkey": r.o_orderkey,
                "o_custkey": r.o_custkey,
                "o_orderpriority": r.o_orderpriority,
            }
        )
    for b, rows in buckets.items():
        rows.sort(key=lambda d: d["o_orderkey"])
        with open(os.path.join(out, f"batch-{b}.json"), "w") as fh:
            json.dump(rows, fh, indent=2, sort_keys=True)
    rb = spark.read.option("multiLine", "true").json(out)
    return (
        rb.groupBy(F.col("o_orderpriority").alias("prio"))
        .agg(
            F.count("*").alias("n"),
            F.sum("o_custkey").cast("long").alias("cust_sum"),
        )
        .orderBy("prio")
    )


_SPLIT_BYTES = 64 * 1024


@register(
    "source_max_partition_bytes_scan",
    "Z67",
    oracle=f"""
    SELECT o_orderstatus,
           count(*) AS n,
           CAST(sum({cents_sql("o_totalprice")}) AS BIGINT) AS rev_cents
    FROM orders GROUP BY 1 ORDER BY 1
    """,
)
def source_max_partition_bytes_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Input-split sizing on read (spark.sql.files.maxPartitionBytes) —
    the READ-side twin of Z64's maxRecordsPerFile: one parquet FILE is
    scanned as many input partitions (effective split = min(
    maxPartitionBytes, max(openCostInBytes, bytes/defaultParallelism)),
    ceil(bytes/split) tasks — arithmetic pinned in the wave test), and
    the rollup hash-matches the source, proving byte-range splitting
    never loses or duplicates a row across row-group boundaries.

    At 100 TB this is THE scan-parallelism lever the brief calls out:
    partitions sized so each task's input fits executor memory — too
    big spills, too small drowns in task launch; the Z58 advisor's
    arithmetic picks the value, this key proves the knob."""
    o = table(spark, sf_dir, "orders").select("o_orderstatus", "o_totalprice")
    out = scratch_dir(spark, sf_dir, "z67_mpb")
    o.coalesce(1).write.mode("overwrite").parquet(out)
    # openCost is raised WITH the split size: the effective split is
    # min(mpb, max(openCost, bytes/parallelism)), so leaving openCost at
    # default would let the parallelism term shrink splits below the
    # demonstrated knob on small inputs
    split = str(_SPLIT_BYTES)
    with pinned_confs(
        spark,
        {
            "spark.sql.files.maxPartitionBytes": split,
            "spark.sql.files.openCostInBytes": split,
        },
    ):
        rb = spark.read.parquet(out)
        rows = (
            rb.groupBy("o_orderstatus")
            .agg(
                F.count("*").alias("n"),
                F.sum(cents(F.col("o_totalprice"))).alias("rev_cents"),
            )
            .orderBy("o_orderstatus")
            .collect()
        )
        # materialized under the live confs; the tiny (<=3-row) result is
        # re-framed so the returned plan doesn't depend on restored confs
        return spark.createDataFrame(rows, "o_orderstatus string, n bigint, rev_cents bigint")
