"""debias_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of SirHooke/debias-batch-processor, rebuilt
Spark-first for 100 TB scale.

The reference (read-only at /root/reference) is a single-threaded ETL tool:
partitioned line-file scan -> batch annotation API -> JSON sink -> PDF report
-> pandas analytics dashboard.  This package re-expresses every one of those
capabilities as declarative Spark DataFrame plans (SURVEY.md §2 inventory),
plus the LLM-data-pipeline operators (dedup, similarity search, multimodal
columns, text analysis) mandated by the north star.

Layout:
    session.py    SparkSession factory tuned for local testing + cluster scale
    catalog.py    testdata loaders / temp-view registration
    registry.py   central query registry: name -> (spark_fn, duckdb_oracle);
                  its KEY_MODULES table is the key order, and
                  load_all_queries() imports a key's module on first read
    annotate/     the deterministic batch annotator (reference call-debias.py)
    queries/      query keys, one module per operator family (text, dedup,
                  tpch, joins, stream, ...)
    pipeline.py   end-to-end scan->annotate->sink->analytics pipeline
    streaming/    Structured Streaming variants (H14-H16)
"""

from debias_spark.session import get_spark
from debias_spark.registry import register

__all__ = ["get_spark", "register"]
