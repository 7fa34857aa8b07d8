"""Skew-handling join utilities (SURVEY §6 / SCALE.md).

AQE's skew-join splitting handles most skew at runtime; explicit salting is
the library recipe for the pathological case — one join key holding a
double-digit percentage of the fact table — where even a split partition's
build side is hot.  The transform is semantics-preserving: results equal
the plain join exactly (asserted in tests).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from debias_spark.numeric import floor_eps


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    how: str = "inner",
    salt: int = 8,
) -> DataFrame:
    """Equi join with the fact side salted across ``salt`` sub-keys.

    The fact side gets a deterministic pseudo-random salt (hash of its key
    and a row-unique column is unnecessary — spraying rows of the SAME hot
    key is the goal, so a per-row uniform salt is used); the dim side is
    replicated ``salt`` times.  The join key becomes (key, salt), splitting
    each hot key's rows across ``salt`` reducers.

    Cost: dim side inflates x salt — use only when dim is the small side
    and the fact key distribution is pathological.
    """
    salted_fact = fact.withColumn(
        "_salt", F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(salt)).cast("int")
    )
    salts = F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    salted_dim = dim.withColumn("_salt", salts)
    cond = (salted_fact[fact_key] == salted_dim[dim_key]) & (
        salted_fact["_salt"] == salted_dim["_salt"]
    )
    return salted_fact.join(salted_dim, cond, how).drop("_salt")


def key_skew_profile(df: DataFrame, key: str, top: int = 10) -> DataFrame:
    """Skew diagnostic: row count of the hottest keys vs the mean — run this
    before deciding between AQE-only and explicit salting."""
    counts = df.groupBy(key).agg(F.count("*").alias("n"))
    total = counts.agg(
        F.sum("n").alias("total_rows"), F.count("*").alias("n_keys")
    )
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            key,
            "n",
            floor_eps(F.col("n") * F.col("n_keys") / F.col("total_rows"), 100)
            .cast("long")
            .alias("x_mean_centi"),
        )
        .orderBy(F.desc("n"), F.asc(key))
        .limit(top)
    )


# logical-plan node names that mean the frame already contains (or will
# plan) a shuffle — fan_out above one of these is at best redundant and
# at worst an extra full exchange, so the helper no-ops (fan_out belongs
# at SCAN-SHAPED sites; r13 measured the deep-frame probe + exchange as
# a net loss everywhere it was tried)
_SHUFFLE_NODES = frozenset(
    {
        "Repartition",
        "RepartitionByExpression",
        "Join",
        "LateralJoin",
        "AsOfJoin",
        "Aggregate",
        "Window",
        "Sort",
        "Deduplicate",
        "DeduplicateWithinWatermark",
        "Intersect",
        "Except",
    }
)


def _has_shuffle_node(plan) -> bool:
    """Walk a JVM logical plan (children and subquery plans) and report
    whether any node's ``nodeName()`` is in ``_SHUFFLE_NODES``.  Node
    names, not plan text: a column alias or literal such as 'Sorted'
    must not read as a Sort."""
    stack = [plan]
    while stack:
        node = stack.pop()
        if node.nodeName() in _SHUFFLE_NODES:
            return True
        for seq in (node.children(), node.innerChildren()):
            it = seq.iterator()
            while it.hasNext():
                stack.append(it.next())
    return False


def _bytes_conf(spark, key: str, default: int) -> int:
    """Parse a Spark byte conf ('134217728', '128MB', '134217728b')."""
    try:
        raw = str(spark.conf.get(key)).strip().lower()
        digits = "".join(ch for ch in raw if ch.isdigit())
        n = int(digits)
        for suffix, mult in (("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30)):
            if raw.rstrip("b").endswith(suffix):
                return n * mult
        return n
    except Exception:
        return default


def fan_out(df: DataFrame) -> DataFrame:
    """Scale-adaptive MAP-STAGE fan-out (guide §2: make partitioning
    scale-adaptive, not a constant tuned for local mode or the cluster).

    Small corpora arrive as single-row-group parquet files, so a scan
    yields ONE input partition and every pre-exchange map chain above it
    (char-gram md5 explodes, tokenization, shingle/signature builds, PQ
    encodes) runs on one core of the whole machine — byte-range splits
    cannot parallelize below a row-group boundary.  When the scan would
    yield fewer partitions than the session's default parallelism, ONE
    round-robin exchange of the narrow base rows spreads the map work
    across the executor; when the input is already split (any
    production-size table under the stock 128 MB maxPartitionBytes),
    no exchange is added — the helper disappears from the plan at scale.

    The partition probe is METADATA-ONLY (r14, r13 verdict item 6 — the
    old ``df.rdd.getNumPartitions()`` compiled a physical plan and built
    an RDD graph per call site):

    1. frames whose ANALYZED plan already contains a shuffle-introducing
       node (repartition, join, aggregate, window, ...) no-op — analysis
       is cheap and fan_out belongs below the first exchange anyway;
    2. file-backed frames estimate scan splits from the file listing —
       >= target files short-circuits (the production case), else
       ceil(size / maxPartitionBytes) per locally statable file;
    3. only non-file-backed frames (a foreachBatch micro-batch arrives
       as an RDD-backed frame with no visible files) fall back to the
       RDD partition probe — there the plan IS already an RDD scan, so
       the compile the probe pays is trivial.

    Values are unaffected: repartition() is deterministic under retries
    (sortBeforeRepartition) and every caller aggregates or joins on
    keys independent of physical row placement.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    try:
        if _has_shuffle_node(df._jdf.queryExecution().analyzed()):
            return df
    except Exception:
        pass  # probe is best-effort; fall through to the file estimate
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if len(files) >= target:
        return df
    if files:
        mpb = _bytes_conf(spark, "spark.sql.files.maxPartitionBytes", 128 << 20)
        est = 0
        for f in files:
            path = f[7:] if f.startswith("file://") else f
            try:
                est += -(-os.stat(path).st_size // mpb)
            except OSError:
                est += 1  # unstatable (remote): count the file itself
            if est >= target:
                return df
        return df.repartition(target)
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)
