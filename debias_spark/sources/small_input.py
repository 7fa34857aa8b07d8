"""The paper pipeline's small-input rule: read an input no larger than
AQE's minimum partition size as one partition.

At or below ``spark.sql.adaptive.coalescePartitions.minPartitionSize``
(1 MB by default) AQE already coalesces a shuffle of the input to one
partition (``parallelismFirst`` at its default), so an exchange over it
buys no parallelism and costs a map stage, an AQE re-plan and a job of
its own.  Over one partition the ``groupBy``, the window and the
``orderBy`` above need no exchange at all.  Above the threshold the frame
is returned unchanged, so every plan of a large corpus (the 100 TB path,
SCALE.md) stays as it was; the threshold is Spark's own conf, not a new
knob.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from debias_spark.operators.skew import _bytes_conf

MIN_PARTITION_SIZE = "spark.sql.adaptive.coalescePartitions.minPartitionSize"


def one_partition_if_small(df: DataFrame) -> DataFrame:
    """``df.coalesce(1)`` when the file-backed relation under ``df`` is at
    most ``minPartitionSize`` bytes, else ``df`` unchanged.

    The size is the optimized plan's statistics: for a file scan, the
    total of the files its index already listed, so the probe runs no
    job, no second listing and no ``os.stat``.  A frame Spark cannot size
    reports ``spark.sql.defaultSizeInBytes`` (Long.MaxValue) and is left
    as is.  Apply it right at the scan, before any operator that could
    change the estimate.  ``coalesce`` concatenates the read splits in
    partition order, so a file's splits stay in line order."""
    limit = _bytes_conf(df.sparkSession, MIN_PARTITION_SIZE, 1 << 20)
    size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    return df.coalesce(1) if size <= limit else df
