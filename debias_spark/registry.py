"""Central query registry.

Every operator from SURVEY.md §2 registers itself here with:
  - a callable (spark, sf_dir) -> DataFrame  (the Spark-first implementation)
  - an optional ANSI-SQL DuckDB oracle string over the same parquet views
    (None => rows-only check: genuinely non-SQL-expressible ops)

``KEY_MODULES`` (the table at the end of this file) names every key's
module, in key order; ``load_all_queries()`` returns a read-only
view over it that imports a key's module the first time the key is read.
Query modules are leaves — none imports another; what two of them share
lives in ``debias_spark.operators`` or ``debias_spark.warehouse`` — so a
process that runs one key compiles exactly one query module, not all of
them.  ``__spark_entry__.py`` exposes this registry verbatim to the
driver; tests iterate it to run the same oracle comparison locally at
sf0.001 before the driver does at sf0.01.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable, Iterator, Mapping
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERY_PACKAGE = "debias_spark.queries"


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL or None for rows-only
    section: str  # SURVEY §2 section tag, e.g. "A1", "H8"
    bench: bool = True  # include in bench.py headline set


# Internal caches, filled on demand: a module's keys land here when the
# module is imported, so their order is import order, not key order.
# Read keys through load_all_queries(), which follows KEY_MODULES.
QUERIES: dict[str, QuerySpec] = {}
ORACLES: dict[str, str] = {}


def register(name: str, section: str, oracle: str | None, bench: bool = True):
    """Decorator: register a query implementation under ``name``."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query key {name!r}")
        QUERIES[name] = QuerySpec(name=name, fn=fn, oracle=oracle, section=section, bench=bench)
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


class _Registry(Mapping[str, QuerySpec]):
    """Read-only ``key -> QuerySpec`` view in ``KEY_MODULES`` order.
    Iteration, ``len`` and ``in`` read only the table; reading a key
    imports its module on first access."""

    def __getitem__(self, key: str) -> QuerySpec:
        module = f"{QUERY_PACKAGE}.{KEY_MODULES[key]}"
        if key not in QUERIES:
            importlib.import_module(module)
            if key not in QUERIES:
                # e.g. QUERIES was cleared but the module left in sys.modules
                raise LookupError(f"query key {key!r}: {module} is imported but did not register it")
        return QUERIES[key]

    def __iter__(self) -> Iterator[str]:
        return iter(KEY_MODULES)

    def __len__(self) -> int:
        return len(KEY_MODULES)

    def __contains__(self, key: object) -> bool:
        return key in KEY_MODULES


def load_all_queries() -> Mapping[str, QuerySpec]:
    """Every registered query, in KEY_MODULES order.  Imports nothing
    until a key's spec is read (``items()``/``values()`` import every
    module, in table order)."""
    return _Registry()


# The driver iterates queries() in dict order and rounds 1-7 showed it
# checks exactly the first 50 keys per round.  Through round 7 the order
# was a hand-maintained DRIVER_PRIORITY list rebuilt each round — and the
# rebuild went stale twice (r6 and r7 verdicts' only defect), because a
# manual drill can only ship one round late.  The order is now DERIVED at
# import time from the committed CORRECTNESS_r*.json artifacts, so the
# stale-priority class cannot recur:
#
#   1. never-driver-checked keys first (absent from every committed
#      CORRECTNESS file — brand-new keys are unproven by definition),
#      in KEY_MODULES order;
#   2. keys whose LATEST driver check failed;
#   3. keys in CHANGED_SINCE_CHECK below — implementation or oracle
#      edited after their latest green check (the one input that cannot
#      be derived from artifacts; builders append {key: round} when
#      rewriting a driver-proven key and the entry DRAINS ITSELF once a
#      green check at/after that round lands — see changed_pending);
#   4. the evidenced greens, stalest latest-check first (round asc, then
#      position within that round's file) — so old evidence refreshes
#      before recent evidence re-proves.
#
# Keep (new + failed + changed) at or under 50 so one driver window
# covers every key that needs proof.

# Keys whose implementation or oracle changed AFTER their latest green
# driver check, mapped to the FIRST round whose green check counts as
# re-proof (= the round the change shipped in).  Entries drain
# THEMSELVES: once a CORRECTNESS_r{N}.json with N >= the recorded round
# shows the key green, it stops occupying a window slot — so a
# forgotten manual drain cannot waste round-N+1 slots (the third
# staleness class, closed mechanically like the other two).  Dict order
# is re-proof priority.
CHANGED_SINCE_CHECK: dict[str, int] = {
    # floor-eps rule moved behind debias_spark/numeric.py.  Spark SQL
    # templates whose two-add nudge became the single-add helper
    # fragment (Spark plan changed; both engines together):
    "text_naive_bayes_lang": 15,
    "text_pmi_cooccurrence": 15,
    "abtest_ks_statistic": 15,
    "orders_theilsen_trend": 15,
    "window_ignore_nulls_pack": 15,
    # oracle-only two-add -> single-add respell (Spark plan unchanged):
    "embedding_pq_codebook": 15,
    "docs_vocab_drift_logratio": 15,
    "embedding_kmeans_update": 15,
    "diag_key_skew_profile": 15,
    "events_autocorr_lag": 15,
    "abtest_chi2_independence": 15,
    "bpe_encode_corpus": 15,
    "stats_spearman_corr": 15,
    "orders_holt_linear_forecast": 15,
    "embedding_centroid_drift": 15,
    "stats_kendall_tau": 15,
    "events_hourly_ohlc": 15,
    "corpus_mixture_temperature": 15,
    "embedding_decontamination_screen": 15,
    "embedding_cluster_ari": 15,
    "text_gopher_rules": 15,
    "agg_stats_pack": 15,
    "profile_table_stats": 15,
    "embedding_norm_stats": 15,
    "text_unigram_logprob": 15,
    "event_dwell_time": 15,
    "tpch_q1_pricing_summary": 15,
    # oracle text re-spelled through the helper (parens / CAST /
    # whitespace only; same rounding, Spark plan unchanged):
    "similarity_ann_ivfpq": 15,
    "similarity_ann_ivfpq_incremental": 15,
    "similarity_ann_ivfpq_tombstone": 15,
    "similarity_ann_ivfpq_compacted": 15,
    "text_readability_flesch": 15,
    "semdedup_cluster_cosine": 15,
    "embedding_matryoshka_rerank": 15,
    "text_zipf_slope": 15,
    "embedding_mmr_rerank": 15,
    "text_kl_divergence_lang": 15,
    "text_trigram_diversity": 15,
    "docs_trigram_renyi_entropy": 15,
    "graph_neighbor_jaccard": 15,
    "lineitem_anova_f": 15,
    "geo_grid_radius_join": 15,
    "timeseries_linear_interp": 15,
    "text_bigram_lm_score": 15,
    "docs_train_split_decontaminated": 15,
    "diag_skew_salt_autotune": 15,
    "join_cbo_reorder_stats": 15,
}


def changed_pending(specs: Mapping, ev: dict) -> list[str]:
    """CHANGED_SINCE_CHECK entries still awaiting their post-change green
    driver check (a green at/after the recorded round satisfies one).

    Round granularity is sufficient BECAUSE of the driver protocol: the
    CORRECTNESS_r{N} artifact is recorded exactly once, at round close,
    against the round's final committed tree — so a round-N check always
    post-dates every round-N change, and ``need = the round the change
    shipped in`` can never be satisfied by a pre-change green.  If the
    driver ever starts checking MID-round, record ``need = N + 1``
    instead (a same-round green would no longer imply post-change)."""
    out = []
    for k, need in CHANGED_SINCE_CHECK.items():
        if k not in specs:
            continue
        e = ev.get(k)
        if e is not None and e[0] >= need and _record_green(
            e[2], specs[k].oracle is not None
        ):
            continue  # re-proof landed; entry is spent
        out.append(k)
    return out


def _correctness_evidence() -> dict[str, tuple[int, int, dict]]:
    """Parse the committed CORRECTNESS_r*.json artifacts at the repo root
    into {key: (latest_round, index_within_that_round, record)}."""
    import glob
    import json
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ev: dict[str, tuple[int, int, dict]] = {}
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as fh:
                data = json.load(fh)
        except (OSError, ValueError):
            continue  # a malformed artifact must not break queries()
        if not isinstance(data, dict):
            continue
        for idx, (key, rec) in enumerate(data.items()):
            if not isinstance(rec, dict):
                continue
            prev = ev.get(key)
            if prev is None or rnd >= prev[0]:
                ev[key] = (rnd, idx, rec)
    return ev


def _record_green(rec: dict, has_oracle: bool) -> bool:
    """The driver's green criterion: value-hash match for oracled keys;
    rows-observed for rows-only-by-design keys.  The branch is chosen by
    what the spec demands NOW, not by how the record was checked: a
    rows-only (err == 'no_oracle') record for a key that has since
    GAINED an oracle is NOT green — the key re-enters the window for a
    hash proof without anyone remembering CHANGED_SINCE_CHECK (r8 advice:
    this staleness class is detectable from the artifacts alone)."""
    if not has_oracle:
        rows = rec.get("spark_rows")
        return rec.get("err") in (None, "no_oracle") and isinstance(rows, int) and rows >= 0
    return bool(
        rec.get("err") is None
        and rec.get("rows_match")
        and rec.get("schema_match")
        and rec.get("hash_match")
    )


def priority_ordered() -> dict[str, QuerySpec]:
    """All queries, reordered for the driver's 50-key window, derived
    mechanically from the committed CORRECTNESS_r*.json artifacts:
    never-checked first, then latest-check failures, then
    CHANGED_SINCE_CHECK, then greens stalest-evidence-first."""
    specs = load_all_queries()
    ev = _correctness_evidence()

    never = [k for k in specs if k not in ev]
    failed = [
        k
        for k in specs
        if k in ev and not _record_green(ev[k][2], specs[k].oracle is not None)
    ]
    head = set(never) | set(failed)
    changed = [k for k in changed_pending(specs, ev) if k not in head]
    head |= set(changed)
    greens = sorted(
        (k for k in specs if k not in head),
        key=lambda k: (ev[k][0], ev[k][1]),
    )
    order = never + failed + changed + greens
    assert len(order) == len(specs), "priority order must be a permutation"
    return {k: specs[k] for k in order}


# Every key's module under debias_spark.queries, in key order: the one
# statement of the order the driver's correctness window starts from
# (load_all_queries() iterates this table, and priority_ordered() lists
# never-checked keys in this order).  Keys that lacked driver evidence
# when they were added come first, so a per-round key cap or time cutoff
# lands on keys that already have green CORRECTNESS_r01 rows.  A key's
# module is its operator family (queries/__init__.py), so one module's
# keys are spread through the table.  No query module imports another
# (shared code lives in operators/ and warehouse.py).  A new key is added
# here, under its family's module.
KEY_MODULES: dict[str, str] = {
    # Y5b pinned-centroid IVF, Y73 substring scrubber (round 10)
    "similarity_ann_ivf_pinned": "similarity",
    "docs_substring_dedup_rewrite": "docs_dedup",
    # Y41-Y42, MM4 PQ codebook/vocab drift/audio energy (round 6)
    "embedding_pq_codebook": "embedding",
    "docs_vocab_drift_logratio": "docs_curation",
    "multimodal_audio_energy_windows": "multimodal",
    # Y74 composed IVF-PQ ANN search (round 11)
    "similarity_ann_ivfpq": "similarity",
    # Z25-Z26/Z28-Z29 ORC/CSV/bucketed sinks (round 4)
    "sink_orc_roundtrip": "sink_io",
    "sink_partitioned_parquet_prune": "sink_io",
    "sink_csv_roundtrip": "sink_io",
    "sink_bucketed_join_noshuffle": "sink_io",
    "sink_json_roundtrip": "sink_io",
    "join_dpp_partitioned": "joins",
    # Y75 incremental IVF-PQ index maintenance (round 12)
    "similarity_ann_ivfpq_incremental": "similarity",
    "similarity_ann_ivfpq_tombstone": "similarity",
    # H7-H10 + dedup/similarity/text
    "dedup_exact": "dedup",
    "dedup_minhash_lsh": "dedup",
    "dedup_clusters": "dedup",
    "dedup_simhash": "dedup",
    "dedup_ngram_jaccard": "dedup",
    "dedup_embedding_cosine": "dedup",
    "similarity_cosine_topk": "similarity",
    "similarity_ann_lsh": "similarity",
    "text_tokenize_topterms": "text",
    "text_lang_id": "text",
    "text_quality_score": "text",
    "text_token_count": "text",
    "text_fingerprint": "text",
    "multimodal_extract": "multimodal",
    # Z72 dead-letter quarantine (round 9)
    "pipeline_quarantine_dead_letter": "e2e_pipeline",
    # Z73 state compaction, Z74 quarantine replay (round 10)
    "pipeline_state_compaction": "e2e_pipeline",
    "pipeline_quarantine_replay": "e2e_pipeline",
    # Y78 post-tombstone index compaction (round 13)
    "similarity_ann_ivfpq_compacted": "similarity",
    "dedup_cluster_token_mass": "dedup",
    # Y11/Y12 BPE fit, contamination audit
    "bpe_vocab_fit": "text",
    "docs_contamination_ngram_audit": "docs_dedup",
    "similarity_lsh_recall_report": "similarity",
    "dedup_jaccard_histogram": "dedup",
    "embedding_norms_arrow": "embedding",
    "docs_lang_confusion_audit": "docs_curation",
    "dedup_minhash_incremental": "dedup",
    # Z68 incremental near-dup refresh (round 9)
    "pipeline_incremental_neardup": "e2e_pipeline",
    "pipeline_checkpoint_resume": "e2e_pipeline",
    # Z75 corpus-build capstone (round 10)
    "pipeline_corpus_build": "e2e_pipeline",
    # Z76 incremental corpus build (round 11)
    "pipeline_corpus_build_incremental": "e2e_pipeline",
    # Y66/Y68/Y69/Y70 drift monitor, substring spans, epoch plan, rendezvous shards (round 9)
    "pipeline_survivor_drift_monitor": "e2e_pipeline",
    "docs_substring_dup_spans": "docs_dedup",
    "corpus_repeat_epoch_plan": "docs_curation",
    "docs_shard_rendezvous_stability": "docs_curation",
    "docs_substring_dup_source_matrix": "docs_dedup",
    # Y67 ANN recall autotune (round 9)
    "ann_recall_autotune": "similarity",
    # X163/X164 k-anonymity, join-strategy autotune (round 9)
    "events_kanonymity_generalization": "events",
    "diag_join_strategy_autotune": "diagnostics",
    # Y71 LSH band autotune (round 9)
    "dedup_band_autotune": "dedup",
    # Z70 gzip unsplittable scan (round 9)
    "source_gzip_unsplittable_scan": "source_io",
    # X165/X166/X167 subsample CI, reused-exchange proof, encoding advisor (round 9)
    "stats_subsample_ci": "stats",
    "diag_reused_exchange_proof": "diagnostics",
    "diag_encoding_advisor": "diagnostics",
    # Y72 bloom decontamination prefilter (round 9)
    "docs_decontam_bloom_prefilter": "docs_dedup",
    # X168/X169 referential-integrity audit, EXECUTE IMMEDIATE (round 9)
    "diag_referential_integrity_audit": "diagnostics",
    "sql_execute_immediate_pack": "sql_surface",
    # MM11 shot boundaries (round 9)
    "multimodal_shot_boundaries": "multimodal",
    # X86-X87 skyline, interval overlap (round 4)
    "graph_pagerank_copurchase": "graph",
    "part_skyline_pareto": "orders",
    "agg_percentiles_approx_banded": "aggregation",
    "agg_distinct_sketch_banded": "aggregation",
    "lineitem_interval_overlap": "orders",
    "incremental_agg_maintenance": "lakehouse",
    # X91-X92 k-core, EWMA forecast (round 4)
    "graph_kcore_copurchase": "graph",
    "orders_demand_forecast_ewma8": "orders",
    # Y19 block dedup (round 4)
    "docs_block_dedup": "docs_dedup",
    # Z27 foreachBatch upsert (round 4)
    "stream_foreachbatch_upsert": "stream",
    # Z30 Python DataSource (round 4)
    "source_python_datasource": "source_io",
    "source_python_datasource_stream": "source_io",
    "source_metadata_columns": "source_io",
    # Y20 winnowing fingerprints (round 4)
    "docs_winnowing_fingerprint": "docs_dedup",
    # Y30/Y31 real media decode (round 5)
    "multimodal_decode_dims": "multimodal",
    "multimodal_decode_audio": "multimodal",
    # X93-X96 unpivot/offset/hash-sample/BFS (round 5)
    "sql_unpivot_wide_to_long": "sql_surface",
    "sql_offset_fetch_page": "sql_surface",
    "sample_hash_deterministic": "sampling",
    "graph_shortest_hops": "graph",
    # X97-X98 count-min / sequence pattern (round 5)
    "agg_countmin_heavyhitters": "aggregation",
    "events_sequence_pattern": "events",
    # Y32/Y33 k-means assign+update (round 5)
    "embedding_kmeans_assign": "embedding",
    "embedding_kmeans_update": "embedding",
    # X99-X100 cube / distribution windows (round 5)
    "sql_cube_grouping_id": "sql_surface",
    # Y34/Y35 PCA power iteration / Flesch (round 5)
    "embedding_pca_power_topvec": "embedding",
    "text_readability_flesch": "text",
    # Z32-Z33 schema merge / permissive CSV (round 5)
    "source_parquet_schema_merge": "source_io",
    "source_csv_permissive_badrecords": "source_io",
    "sink_xml_roundtrip": "sink_io",
    # X101-X103 variant / session vars / params (round 5)
    "sql_variant_json_path": "sql_surface",
    "sql_session_variables": "sql_surface",
    "sql_parameterized_query": "sql_surface",
    # Y36 Python UDTF (round 5)
    "udtf_text_bigram_stats": "python_udf",
    # X104-X105 salted join / skew diagnostic (round 5)
    "join_salted_hotkey": "joins",
    "diag_key_skew_profile": "diagnostics",
    # X106-X107 try_* arithmetic / collations (round 5)
    "sql_try_arithmetic": "sql_surface",
    "sql_collation_lcase": "sql_surface",
    "sql_recursive_bom_rollup": "sql_surface",
    # X111-X116 listagg/FILTER/GROUP BY ALL/percentile_disc/ACF/chi2 (round 6)
    "sql_listagg_ordered": "sql_surface",
    "sql_filtered_aggregates": "sql_surface",
    "sql_group_order_by_all": "sql_surface",
    "agg_percentile_disc": "aggregation",
    "events_autocorr_lag": "events",
    "abtest_chi2_independence": "stats",
    # Y37-Y40 BPE encode/semdedup/matryoshka/ntile bins (round 6)
    "bpe_encode_corpus": "text",
    "semdedup_cluster_cosine": "dedup",
    "embedding_matryoshka_rerank": "embedding",
    "docs_quality_ntile_bins": "docs_curation",
    # X117-X119 decimal/grouping sets/sliding distinct (round 6)
    "agg_decimal_exact": "aggregation",
    "sql_grouping_sets_explicit": "sql_surface",
    "events_sliding_distinct_users": "events",
    # X120-X122 union-by-name/IDENTIFIER/join maintenance (round 6)
    "sql_union_by_name_evolution": "sql_surface",
    "sql_identifier_dynamic_table": "sql_surface",
    "incremental_join_maintenance": "lakehouse",
    # Y43-Y44 bitpack hamming / Zipf slope (round 6)
    "embedding_bitpack_hamming_topk": "embedding",
    "text_zipf_slope": "text",
    # X123-X124 bitmap distinct / timestamp arith (round 6)
    "agg_bitmap_distinct": "aggregation",
    "sql_timestamp_arith_pack": "sql_surface",
    # MM5 image average-hash buckets (round 6)
    "multimodal_image_avghash_buckets": "multimodal",
    "multimodal_palette_histogram": "multimodal",
    # X125-X127 KS / Mann-Whitney / Theil-Sen (round 6)
    "abtest_ks_statistic": "stats",
    "orders_mannwhitney_u": "orders",
    "orders_theilsen_trend": "orders",
    # Y45-Y47 naive-Bayes lang / PMI / shard balance (round 6)
    "text_naive_bayes_lang": "text",
    "text_pmi_cooccurrence": "text",
    "docs_shard_token_balance": "docs_curation",
    # X128-X130 pivot multi-agg / SQL UDF / observe (round-7 block)
    "sql_pivot_multi_agg": "sql_surface",
    "sql_scalar_udf_create": "sql_surface",
    "diag_observe_metrics": "diagnostics",
    "window_interval_range_frame": "windows",
    "sql_lateral_column_alias": "sql_surface",
    "sql_multicol_in_subquery": "sql_surface",
    "sql_xpath_extract_pack": "sql_surface",
    "sql_url_parse_pack": "sql_surface",
    # Y48 MMR rerank (round-7 block)
    "embedding_mmr_rerank": "embedding",
    "docs_lang_balanced_sample": "docs_curation",
    "multimodal_audio_rms_by_rate": "multimodal",
    # Z39-Z40 permissive JSON / managed table (round-7 block)
    "source_json_permissive_badrecords": "source_io",
    "sink_managed_table_insert": "sink_io",
    "source_binaryfile_ingest": "source_io",
    # X136-X138 SQL scripting / transpose / approx_top_k (round-7 block wave 4)
    "sql_scripting_budget_loop": "sql_surface",
    "sql_transpose_metrics": "sql_surface",
    "agg_approx_topk_events": "aggregation",
    # Z43 state store reader (round-7 block wave 4)
    "stream_state_store_reader": "stream",
    # Y50-Y51 KL divergence / trigram diversity (round-7 block wave 5)
    "text_kl_divergence_lang": "text",
    "text_trigram_diversity": "text",
    # X139-X142 spearman / pipe SQL / recursive CTE / table function (round-7 block wave 5)
    "stats_spearman_corr": "stats",
    "sql_pipe_syntax_chain": "sql_surface",
    "sql_recursive_cte_reach": "sql_surface",
    "sql_table_function_lateral": "sql_surface",
    "orders_holt_linear_forecast": "orders",
    # MM8 image tiles / Y52 centroid drift (round-7 block wave 6)
    "multimodal_image_tile_stats": "multimodal",
    "embedding_centroid_drift": "embedding",
    # Z45 multiline CSV roundtrip (round-7 block wave 6)
    "source_csv_multiline_quotes": "source_io",
    "sink_python_datasource": "sink_io",
    # X37-X39/X49 kendall tau / streaks / poisson anomaly / OHLC (round 7)
    "stats_kendall_tau": "stats",
    "orders_streak_runlength": "orders",
    "events_poisson_anomaly": "events",
    "events_hourly_ohlc": "events",
    # Z51/Z53 HLL intersection band / AQE skew split (round 7)
    "agg_hll_intersection_banded": "aggregation",
    "join_aqe_skew_split": "joins",
    # Z50 salted stream-static join (round 7)
    "stream_static_join_salted": "stream",
    # Z52 row-group stats pruning roundtrip (round 7)
    "sink_rowgroup_stats_prune": "sink_io",
    "source_partition_typed_discovery": "source_io",
    "sink_compression_codecs": "sink_io",
    "source_csv_schema_infer": "source_io",
    # X144-X145 IGNORE NULLS windows / map HOF pack (round 7)
    "window_ignore_nulls_pack": "windows",
    "sql_map_funcs_pack": "sql_surface",
    # Y53-Y54 mixture temperature / boilerplate chunks (round 7)
    "corpus_mixture_temperature": "docs_curation",
    "dedup_boilerplate_lines": "dedup",
    # Z54 watermark late-drop proof (round 7)
    "stream_watermark_late_drop": "stream",
    # T13 forward as-of with tolerance (round 7)
    "join_asof_forward_tolerance": "joins",
    # X146 try_* conversion pack (round 7)
    "sql_try_conversion_pack": "sql_surface",
    # Y55 next-fit-decreasing packing (round 7)
    "docs_pack_nextfit_decreasing": "docs_curation",
    # X147 ABC/XYZ classification (round 7)
    "orders_abc_xyz_classification": "orders",
    # X148-X151 runtime bloom / ANALYZE stats / hash pack / CACHE TABLE (round 7)
    "join_bloom_runtime_filter": "joins",
    "sql_analyze_table_stats": "sql_surface",
    "scalar_hash_fn_pack": "functions",
    "sql_cache_table_roundtrip": "sql_surface",
    # X152/Z58 partitioning hints / shuffle advisor (round 7)
    "sql_partitioning_hints_pack": "sql_surface",
    "diag_shuffle_partition_advisor": "diagnostics",
    # Y56/MM9 renyi entropy / bbox stats (round 7)
    "docs_trigram_renyi_entropy": "docs_curation",
    "multimodal_bbox_area_stats": "multimodal",
    # T14/X153/X154 nearest as-of / cohort LTV / neighbor jaccard (round 7)
    "join_asof_nearest": "joins",
    "orders_cohort_ltv_curve": "orders",
    "graph_neighbor_jaccard": "graph",
    # Y57 semantic decontamination screen (round 7)
    "embedding_decontamination_screen": "embedding",
    # X155/X157 from_xml / cumulative distinct (round 7)
    "sql_from_xml_nested": "sql_surface",
    "events_cumulative_distinct_users": "events",
    # Z59-Z60 wholetext / recursive lookup (round 7)
    "source_wholetext_files": "source_io",
    "source_recursive_dir_glob": "source_io",
    # Z61 dynamic partition overwrite (round 7)
    "sink_dynamic_partition_overwrite": "sink_io",
    # X158/Y58 interpurchase gaps / length trim (round 7)
    "orders_interpurchase_gaps": "orders",
    "docs_length_percentile_trim": "docs_curation",
    # Y59/MM10/X159 cluster ARI / silence trim / schema_of_json (round 7)
    "embedding_cluster_ari": "embedding",
    "multimodal_audio_silence_trim": "multimodal",
    "sql_schema_of_json_infer": "sql_surface",
    # X160/T15 ANOVA F / capped sessionization (round 7)
    "lineitem_anova_f": "orders",
    "sessionize_timeout_cap": "events",
    # Z62 sliding distinct via windowed HLL union (round 7)
    "events_sliding_distinct_hll_banded": "events",
    # Y61 keep-best dedup survivor (round 7)
    "dedup_keep_best_quality": "dedup",
    # Z63-Z64 multiline JSON array / maxRecordsPerFile (round 7)
    "source_json_multiline_array": "source_io",
    "sink_max_records_per_file": "sink_io",
    "source_max_partition_bytes_scan": "source_io",
    # X108 grid-bucketed spatial radius join (round 5)
    "geo_grid_radius_join": "joins",
    "timeseries_linear_interp": "events",
    # Z31 value-oracled stream-stream join (round 5)
    "stream_stream_join_attrib": "stream",
    "stream_session_window_oracled": "stream",
    "stream_chained_windows": "stream",
    # Y18/Z23/Z24 bigram LM, URL dedup, containment (round 4)
    "text_bigram_lm_score": "text",
    "docs_dedup_url": "docs_dedup",
    "docs_dedup_containment": "docs_dedup",
    # Y1-Y5 quality filters + MLlib
    "text_gopher_rules": "text",
    "text_repetition_ratio": "text",
    "text_pii_redact": "text",
    "text_decontaminate": "text",
    "sample_train_val_test": "sampling",
    "text_rolling_hash": "text",
    "multimodal_resize_plan": "multimodal",
    "text_chunk_documents": "text",
    "text_pack_sequences": "text",
    "dedup_minhash_mllib": "dedup",
    "multimodal_frame_sample": "multimodal",
    "similarity_ann_ivf": "similarity",
    # H14-H16
    "window_tumbling_event_time": "windows",
    "window_sliding": "windows",
    "stream_stateful_user_counts": "stream",
    "stream_session_window": "stream",
    "stream_rate_alert": "stream",
    # T1-T5 as-of/sessions/UDFs
    "join_asof_last_click": "joins",
    "sessionize_batch": "events",
    "pandas_udf_sigmoid": "python_udf",
    "grouped_zscore_applyinpandas": "python_udf",
    "udtf_tokenize_positions": "python_udf",
    "set_except_all": "functions",
    "udf_arrow_scalar_pack": "python_udf",
    "grouped_stats_applyinarrow": "python_udf",
    "udtf_dynamic_schema_ngrams": "python_udf",
    "udtf_table_argument_stats": "python_udf",
    "pandas_udf_iter_bucketize": "python_udf",
    "cogroup_asof_attribution": "python_udf",
    # X12-X15 third wave
    "window_distribution_pack": "windows",
    "scalar_datetime_pack2": "functions",
    "scalar_conditional_pack": "functions",
    "unpivot_metrics": "aggregation",
    "array_quantifiers": "functions",
    "regexp_pack": "functions",
    "join_range_banded": "joins",
    "agg_stats_pack": "aggregation",
    "variant_json_pack": "functions",
    "map_fn_pack": "functions",
    "profile_table_stats": "functions",
    # Z1-Z3 ingestion dedup/ngrams/embed stats
    "dedup_within_time_window": "dedup",
    "text_ngram_counts": "text",
    "embedding_norm_stats": "embedding",
    # Z4-Z9 skew/q3/mode/normdedup/int8/streamdedup
    "agg_salted_skew": "aggregation",
    "tpch_q3_shipping_priority": "tpch",
    "agg_mode_per_group": "aggregation",
    "dedup_exact_normalized": "dedup",
    "embedding_quantize_int8": "embedding",
    "stream_dedup_watermark": "stream",
    "tpch_q5_local_supplier_volume": "tpch",
    "join_skew_salted": "joins",
    "stream_static_join_counts": "stream",
    "funnel_conversion": "events",
    "retention_cohorts": "events",
    "sample_cap_per_source": "sampling",
    "sample_mixture_weighted": "sampling",
    "text_vocab_coverage": "text",
    "multimodal_dedup_binary": "multimodal",
    "stream_stream_join": "stream",
    "dedup_pipeline_survivors": "dedup",
    "tpch_q10_returned_items": "tpch",
    "text_tfidf_top_terms": "text",
    # X20-X27 TPC-H q4/q12/q14/q18/q19/q22, gapfill, bloom-prefilter
    "tpch_q4_order_priority": "tpch",
    "tpch_q12_priority_class": "tpch",
    "tpch_q14_promo_revenue": "tpch",
    "tpch_q18_large_orders": "tpch",
    "tpch_q19_disjunctive": "tpch",
    "tpch_q22_idle_balances": "tpch",
    "timeseries_gapfill": "events",
    "snapshot_diff_full_outer": "lakehouse",
    "agg_hll_sketch_union": "aggregation",
    "join_prefilter_hashbucket": "joins",
    # Z10-Z12 unigram-LM surprisal, random projection, edit-distance dedup
    "text_unigram_logprob": "text",
    "dedup_near_editdistance": "dedup",
    "embedding_random_projection": "embedding",
    # X30-X31 RFM segmentation, dwell time
    "customer_rfm_segments": "orders",
    "tpch_q17_small_quantity": "tpch",
    "tpch_q21_sole_late_shipper": "tpch",
    "event_dwell_time": "events",
    # X40-X48 TPC-H completion q2/q7/q8/q9/q11/q13/q15/q16/q20
    "tpch_q7_nation_trade": "tpch",
    "tpch_q8_market_share": "tpch",
    "tpch_q9_product_profit": "tpch",
    "tpch_q13_order_distribution": "tpch",
    "tpch_q15_top_supplier": "tpch",
    "tpch_q2_min_cost_supplier": "tpch",
    "tpch_q11_important_inventory": "tpch",
    "tpch_q16_supplier_count": "tpch",
    "tpch_q20_dominant_supplier": "tpch",
    # X50-X53 MAD outliers, path transitions, market basket, quality chain
    "events_anomaly_mad": "events",
    "user_path_transitions": "events",
    "orders_market_basket": "orders",
    "docs_quality_filterchain": "docs_curation",
    # X54-X56 basket lift, cross-doc ngram dup, dup-rate monitor
    "orders_basket_lift": "orders",
    "text_crossdoc_ngram_dup": "text",
    "docs_dup_rate_by_source": "docs_dedup",
    "dedup_minhash_est_vs_exact": "dedup",
    # X58-X64 SCD2, compaction, zorder, rolling DAU, pareto, regression, ztest
    "scd2_user_status": "lakehouse",
    "docs_compaction_plan": "docs_curation",
    "zorder_cluster_key": "lakehouse",
    "events_rolling_dau7": "events",
    "orders_pareto_share": "orders",
    "regr_price_vs_quantity": "stats",
    "abtest_conversion_ztest": "stats",
    # X65/X66/X68 token budget, LSH stats, ngram novelty
    "docs_token_budget_curve": "docs_curation",
    "dedup_lsh_bucket_stats": "dedup",
    "text_ngram_novelty_curve": "text",
    "multimodal_batch_manifest": "multimodal",
    "embedding_dim_stats": "embedding",
    "text_inverted_index_sample": "text",
    "docs_bm25_search": "docs_curation",
    # X67/X69+ triangles, histogram, seasonality, MERGE
    "orders_copurchase_triangles": "orders",
    "orders_equidepth_histogram": "orders",
    "events_seasonality_profile": "events",
    "merge_upsert_snapshot": "lakehouse",
    # X78-X79 weighted median, Gini
    "lineitem_weighted_median_price": "orders",
    "orders_gini_revenue": "orders",
    "events_cusum_changepoint": "events",
    "sql_lateral_topn_nations": "sql_surface",
    "part_brand_entropy": "orders",
    "events_hhi_concentration": "events",
    "events_latency_percentiles_hourly": "events",
    "orders_weekly_growth": "orders",
    # A1-F3
    "scan_partitioned_source": "reference_core",
    "scan_lines_drop_blank": "reference_core",
    "scan_json_nested": "reference_core",
    "filter_nonempty_array": "reference_core",
    "filter_not_null": "reference_core",
    "filter_equality": "reference_core",
    "filter_in_set": "reference_core",
    "project_split_first_comma": "reference_core",
    "project_string_format": "reference_core",
    "project_path_stem": "reference_core",
    "project_array_size": "reference_core",
    "project_cast_string": "reference_core",
    "explode_tags": "reference_core",
    "explode_with_position": "reference_core",
    "explode_outer_nullable": "reference_core",
    "union_record_and_tag_rows": "reference_core",
    "dedup_first_marker": "reference_core",
    "agg_count_by_key": "reference_core",
    "agg_count_desc_topn": "reference_core",
    "agg_max_by_key": "reference_core",
    "agg_histogram": "reference_core",
    "distinct_sorted": "reference_core",
    "sort_by_index_asc": "reference_core",
    "flag_scan_lines": "reference_core",
    # F1/F2 + flagship
    "map_batch_annotate": "annotate_queries",
    "annotate_issue_distribution": "annotate_queries",
    # H1-H6, H11-H13, H17
    "join_broadcast_hash": "joins",
    "join_sortmerge_large": "joins",
    "join_left_outer": "joins",
    "join_semi_anti": "joins",
    "join_multiway_star": "joins",
    "window_rank_lag_frame": "windows",
    "set_ops": "functions",
    "grouping_rollup": "aggregation",
    "agg_approx_distinct": "aggregation",
    "scalar_fn_pack": "functions",
    # X1-X11 second wave
    "tpch_q1_pricing_summary": "tpch",
    "tpch_q6_forecast_revenue": "tpch",
    "pivot_status_by_flag": "aggregation",
    "agg_percentiles": "aggregation",
    "agg_percentiles_approx": "aggregation",
    "agg_argmin_argmax": "aggregation",
    "scalar_string_pack2": "functions",
    "array_fn_pack": "functions",
    "sample_stratified_deterministic": "sampling",
    "subquery_above_avg": "functions",
    "window_range_frame": "windows",
    "grouping_cube": "aggregation",
    # Y62 stratified split + decontamination (round 8)
    "docs_train_split_decontaminated": "docs_dedup",
    "orders_temporal_split_leakage": "orders",
    # Z65 incremental refresh pipeline (round 8)
    "pipeline_incremental_refresh": "e2e_pipeline",
    # Z66/X161/X162 advisor salting, CBO reorder, decayed engagement (round 8)
    "diag_skew_salt_autotune": "diagnostics",
    "join_cbo_reorder_stats": "joins",
    "events_decayed_engagement": "events",
    # Y64 importance resampling (round 8)
    "docs_importance_resample": "docs_curation",
    "docs_dup_crosssource_matrix": "docs_dedup",
}
