"""Scale-stress harness: replicate the sf0.1 testdata Kx with key offsets
(into /tmp — the driver testdata itself is read-only) and measure flagship
queries at 1x vs Kx.  Near-linear wall-clock growth is the evidence that
the plan shapes hold as data grows; anything super-linear is a bug report.

Usage:
    python tools/scale_stress.py [K] [out_dir] [--keys k1,k2]

--keys limits the timed sweep to a comma-separated subset (incremental
stress of newly-added keys without re-running the full list); replication
still writes every table so any key can run.

Replication semantics (FK-consistent):
  - fact tables (lineitem, orders, events) replicate with key offsets on
    orderkey / custkey / event_id / user_id, so join fan-out per key stays
    constant while table size grows Kx;
  - customer replicates with custkey offsets (orders reference each copy);
  - dim tables (region nation supplier part) stay single-copy, as dims do;
  - documents/embeddings replicate with id offsets; documents get a short
    per-copy suffix on ODD copies, so the corpus carries BOTH exact
    duplicates (even copies) and near-duplicates (odd copies) — the
    realistic shape for dedup stress.
"""

from __future__ import annotations

import json
import os
import pathlib
import sys
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F

SRC = "/root/testdata/sf0.1"

# flagship keys to time (cover dedup, similarity, text, joins, windows, agg)
KEYS = [
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "text_unigram_logprob",
    "text_gopher_rules",
    "similarity_cosine_topk",
    "similarity_ann_lsh",
    "embedding_random_projection",
    "tpch_q1_pricing_summary",
    "tpch_q18_large_orders",
    "join_sortmerge_large",
    "window_rank_lag_frame",
    "agg_count_by_key",
    "sessionize_batch",
    "dedup_near_editdistance",
    "agg_hll_sketch_union",
    "timeseries_gapfill",
    # round-3 warehouse wave: the two keys whose whole POINT is scale
    # behavior (bucketed global cumsum; single-shuffle SCD2) plus the
    # support-pruned triangle join (the one cubic-risk shape)
    "orders_pareto_share",
    "scd2_user_status",
    "orders_copurchase_triangles",
    # round-4 wave: corpus-replicating keys (documents grow Kx with exact
    # and near duplicates — the containment/bigram/url pipelines see the
    # realistic dedup shape).  lineitem_interval_overlap is deliberately
    # NOT stressed here: lineitem replicates onto a single-copy part dim,
    # so per-part shipment count grows Kx and the OUTPUT pair set grows
    # ~K^2 by construction — a testdata artifact, not a plan property.
    "docs_dedup_containment",
    "text_bigram_lm_score",
    "docs_dedup_url",
    # round-4 wave 2: block dedup sees the replicated-duplicate corpus;
    # the two graph keys stress the basket-local edge build + iteration;
    # EWMA stresses the dim-join + weekly-rollup shape
    "docs_block_dedup",
    "graph_kcore_copurchase",
    "graph_pagerank_copurchase",
    "orders_demand_forecast_ewma8",
    # round-5: winnowing (md5-per-gram + window-min zip-fold over the
    # replicated near-dup corpus), BFS frontier expansion (iterative
    # anti-join), and the watermark-bounded stream-stream join (state
    # keyed by user; replication adds users, not per-user state)
    "docs_winnowing_fingerprint",
    "graph_shortest_hops",
    "stream_stream_join_attrib",
    # round-6 wave: the domain-bounded ECDF statistics (bins constant as
    # rows grow), the vocab-bounded PMI self-join (the pair keyspace must
    # NOT grow with the corpus), NB scoring (model state = vocab, not
    # corpus), and the md5 shard audit (pure projection + 16-key agg)
    "abtest_ks_statistic",
    "orders_mannwhitney_u",
    "text_pmi_cooccurrence",
    "text_naive_bayes_lang",
    "docs_shard_token_balance",
    "orders_theilsen_trend",
    # round-7 block: the scripting loop must stay O(aggregate) as the
    # base table grows; approx_top_k is the bounded-sketch shape; the
    # spearman ranks run over the single-copy part dim (window size
    # constant, scan grows Kx); the recursive CTE's node set is bounded
    # by the probe range (edge multiplicity grows, DISTINCT holds);
    # KL/trigram vocab is pool-bounded; centroid drift's shuffle is
    # |labels| x |dims| partials regardless of corpus size; the UDTF
    # table-arg key is one Arrow exchange with O(1) state per group
    "sql_scripting_budget_loop",
    "agg_approx_topk_events",
    "stats_spearman_corr",
    "sql_recursive_cte_reach",
    "text_kl_divergence_lang",
    "text_trigram_diversity",
    "embedding_centroid_drift",
    "udtf_table_argument_stats",
    # round-7 block waves 7-9: the bucketed cogroup (64 Arrow groups
    # regardless of user count — per-bucket pandas grows linearly), the
    # iterator UDF (per-task setup amortized over more batches), the
    # Python sink's O(tasks) commit, and the Holt fold (fixed ~80-month
    # series: scan grows, fold does not)
    "cogroup_asof_attribution",
    "pandas_udf_iter_bucketize",
    "sink_python_datasource",
    "orders_holt_linear_forecast",
]

OFFSETS = {
    "lineitem": ["l_orderkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
DIMS = ["region", "nation", "supplier", "part"]
OFF = 1_000_000_000  # far above any real key


def replicate(spark, k: int, out_dir: str) -> None:
    for t in DIMS:
        spark.read.parquet(f"{SRC}/{t}.parquet").write.mode("overwrite").parquet(
            f"{out_dir}/{t}.parquet"
        )
    for t, keys in OFFSETS.items():
        base = spark.read.parquet(f"{SRC}/{t}.parquet")
        parts = []
        for i in range(k):
            c = base
            for key in keys:
                c = c.withColumn(key, F.col(key) + F.lit(i * OFF))
            if t == "documents" and i % 2 == 1:
                c = c.withColumn("text", F.concat("text", F.lit(f" copytag{i}")))
                # keep n_chars consistent with the mutated text: the
                # editdistance blocking and length-band operate on n_chars,
                # so a stale value measures a different plan than claimed
                c = c.withColumn("n_chars", F.length("text").cast("long"))
            parts.append(c)
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        if t == "events":
            # the driver testdata ships events.parquet as a single FILE and
            # the streaming keys' file source globs on that exact name
            # (streaming/incremental.py pathGlobFilter) — a directory of
            # part files would silently yield an EMPTY stream.  Write one
            # part and move it into place as a literal file.
            import glob as _glob
            import shutil as _shutil

            tmp = f"{out_dir}/_events_tmp"
            u.coalesce(1).write.mode("overwrite").parquet(tmp)
            part = _glob.glob(f"{tmp}/part-*.parquet")[0]
            dest = f"{out_dir}/{t}.parquet"
            _shutil.rmtree(dest, ignore_errors=True)
            if os.path.exists(dest):
                os.remove(dest)
            os.replace(part, dest)
            _shutil.rmtree(tmp, ignore_errors=True)
        else:
            u.write.mode("overwrite").parquet(f"{out_dir}/{t}.parquet")


def time_keys(
    spark, sf_dir: str, reps: int = 2, keys: list[str] | None = None
) -> dict[str, float]:
    from debias_spark.registry import load_all_queries

    qs = load_all_queries()
    out = {}
    for name in keys or KEYS:
        # warmup once, then best-of-reps
        for _ in range(1):
            qs[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        best = None
        for _ in range(reps):
            t = time.perf_counter()
            qs[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t
            best = dt if best is None else min(best, dt)
        out[name] = round(best, 3)
        print(f"  {sf_dir}: {name} {best:.2f}s", flush=True)
    return out


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    keys = None
    for a in sys.argv[1:]:
        if a.startswith("--keys"):
            keys = a.split("=", 1)[1].split(",") if "=" in a else None
    if keys is None and "--keys" in sys.argv:
        keys = sys.argv[sys.argv.index("--keys") + 1].split(",")
    k = int(args[0]) if args else 10
    out_dir = args[1] if len(args) > 1 else f"/tmp/stress_x{k}"

    from debias_spark.session import get_spark

    spark = get_spark("scale-stress")
    t0 = time.perf_counter()
    replicate(spark, k, out_dir)
    print(f"replicated x{k} in {time.perf_counter() - t0:.1f}s -> {out_dir}", flush=True)

    sweep = keys or KEYS
    base = time_keys(spark, SRC, keys=sweep)
    big = time_keys(spark, out_dir, keys=sweep)
    report = {
        "k": k,
        "base_total": round(sum(base.values()), 2),
        "big_total": round(sum(big.values()), 2),
        "per_key": {
            n: {"x1": base[n], f"x{k}": big[n],
                "ratio": round(big[n] / base[n], 2) if base[n] > 0 else None}
            for n in sweep
        },
    }
    print(json.dumps(report, indent=1))
    with open(f"/tmp/scale_stress_x{k}.json", "w") as f:
        json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
