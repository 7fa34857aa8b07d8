"""Round-7 block, source/sink wave (Z39-Z40): PERMISSIVE JSON-lines
ingestion with corrupt-record capture (the JSON sibling of the Z33 CSV
key — malformed records land in an audit column instead of killing the
job) and the managed-table lifecycle (saveAsTable + INSERT INTO + a
catalog read-back — the session-catalog surface every warehouse
deployment drives instead of raw paths).

Reference parity: the reference aborts on malformed input and writes
only bare files (call-debias.py); robust sources and catalog sinks are
north-star extensions per SURVEY §2.A rationale.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from debias_spark.catalog import table
from debias_spark.numeric import cents, cents_sql
from debias_spark.registry import register
from debias_spark.warehouse import prune_stale_siblings, scratch_dir


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
    "sink_managed_table_insert",
    "Z40",
    oracle=f"""
    SELECT o_orderstatus,
           count(*) AS n_orders,
           CAST(sum({cents_sql("o_totalprice")}) AS BIGINT)
               AS rev_cents
    FROM orders
    WHERE o_orderstatus IN ('F', 'O')
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def sink_managed_table_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Managed-table lifecycle: CREATE via saveAsTable (fulfilled orders),
    append via SQL INSERT INTO ... SELECT (open orders), then aggregate a
    catalog read-back (spark.table, not a path).  This is the
    session-catalog surface — name resolution, schema enforcement on
    INSERT, warehouse-managed storage — that separates a governed
    warehouse from ad-hoc path reads/writes.  The oracle aggregates the
    source directly: a hash match proves create+insert+resolve round-
    trips every row exactly once.

    Table names are applicationId-suffixed (two concurrent sessions
    share ./spark-warehouse on disk, so a fixed name would race
    overwrite-vs-read exactly like the path sinks — the
    warehouse.scratch_dir rule) and prior sessions' table dirs are
    best-effort pruned.

    Plan shape: two parallel writes (one task per input partition), then
    a catalog-resolved scan + one aggregate.  The table outlives the
    call (the returned plan reads it lazily); the prune pass retires
    prior sessions' dirs, same as every path sink."""
    tag = re.sub(
        r"[^a-z0-9]", "_", (os.path.basename(sf_dir.rstrip("/")) or "sf").lower()
    )
    app = re.sub(r"[^a-z0-9]", "_", spark.sparkContext.applicationId.lower())
    tname = f"z40_orders_{tag}_{app}"
    warehouse_root = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")
    prune_stale_siblings(warehouse_root, f"z40_orders_{tag}_", tname)

    src = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        cents(F.col("o_totalprice")).alias("cents"),
    )
    spark.sql(f"DROP TABLE IF EXISTS {tname}")
    src.filter(F.col("o_orderstatus") == "F").write.saveAsTable(tname)
    spark.sql(
        f"INSERT INTO {tname} SELECT * FROM {{open_orders}}",
        open_orders=src.filter(F.col("o_orderstatus") == "O"),
    )
    return (
        spark.table(tname)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("cents").alias("rev_cents"),
        )
        .orderBy("o_orderstatus")
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
