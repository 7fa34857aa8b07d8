"""Synthetic hot-gram stress A/B (r14, r13 verdict item 1): compare the
two occurrence-count spellings of docs_substring_dup_spans' hit set —
the per-gk count WINDOW vs the salted PACK — on a gram stream with one
viral gram, at increasing skew.  The window funnels the viral gram into
ONE task; the pack bounds every task at occ/K rows.

Usage: python tools/hotgram_stress.py [n_total] [hot_share_pct]
Prints min-of-3 seconds for each spelling after one warmup.
"""

from __future__ import annotations

import pathlib
import sys
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F
from pyspark.sql.window import Window


def main() -> None:
    n_total = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000_000
    hot_pct = int(sys.argv[2]) if len(sys.argv) > 2 else 20

    from debias_spark.session import get_spark

    spark = get_spark("hotgram-stress")
    n_hot = n_total * hot_pct // 100

    # synthetic gram stream: `i` plays (doc_id, pos); the first n_hot rows
    # share ONE viral gk, the rest are unique-ish (md5 of i) — the shape a
    # boilerplate substring produces at corpus scale
    grams = (
        spark.range(0, n_total, 1, 32)
        .select(
            F.col("id").alias("doc_id"),
            F.lit(1000).alias("L"),
            (F.col("id") % 900).alias("pos"),
            F.when(F.col("id") < n_hot, F.lit("HOTGRAMHOTGRAMHO"))
            .otherwise(F.substring(F.md5(F.col("id").cast("string")), 1, 16))
            .alias("gk"),
        )
    )

    def run_window():
        w_gk = Window.partitionBy("gk")
        hit = (
            grams.withColumn("c", F.count("*").over(w_gk))
            .filter(F.col("c") >= 2)
            .select("doc_id", "L", "pos")
        )
        hit.write.format("noop").mode("overwrite").save()

    def run_packed():
        k_salt = max(int(spark.sparkContext.defaultParallelism), 16)
        packed = grams.groupBy(
            "gk", F.pmod(F.xxhash64("doc_id", "pos"), F.lit(k_salt)).alias("s")
        ).agg(
            F.count("*").alias("c"),
            F.collect_list(F.struct("doc_id", "L", "pos")).alias("occ"),
        )
        dup_salts = (
            packed.groupBy("gk")
            .agg(F.sum("c").alias("t"), F.collect_list("s").alias("ss"))
            .filter(F.col("t") >= 2)
            .select("gk", F.explode("ss").alias("s"))
        )
        hit = (
            packed.join(dup_salts, ["gk", "s"], "left_semi")
            .select(F.explode("occ").alias("o"))
            .select("o.doc_id", "o.L", "o.pos")
        )
        hit.write.format("noop").mode("overwrite").save()

    def run_aggjoin():
        # two-pass shape (the r12 spelling): per-gk counts via hash
        # aggregate (hot gram collapses MAP-SIDE to one partial row per
        # task) + left-semi probe (AQE skew-splittable); pays the gram
        # stream twice
        counts = grams.groupBy("gk").count().filter(F.col("count") >= 2)
        hit = grams.join(counts.select("gk"), "gk", "left_semi").select(
            "doc_id", "L", "pos"
        )
        hit.write.format("noop").mode("overwrite").save()

    arms = sys.argv[3].split(",") if len(sys.argv) > 3 else ["window", "packed", "aggjoin"]
    table = {"window": run_window, "packed": run_packed, "aggjoin": run_aggjoin}
    for name, fn in ((a, table[a]) for a in arms):
        times = []
        for i in range(4):  # rep 0 = warmup
            t0 = time.perf_counter()
            fn()
            dt = time.perf_counter() - t0
            if i:
                times.append(dt)
        print(
            f"{name}: n={n_total} hot={hot_pct}% min={min(times):.2f}s reps="
            f"{[round(t, 2) for t in times]}",
            flush=True,
        )


if __name__ == "__main__":
    main()
