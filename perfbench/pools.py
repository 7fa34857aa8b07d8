"""Frozen workload definitions: key pools, input scales and sizes.

The pools are fixed lists so that a seed changes only the generated
inputs and the order in which keys run, never which keys run.
"""

from typing import NamedTuple


class QueryPool(NamedTuple):
    keys: list[str]
    sf: float  # scale factor of the generated tables


# Short, batch, oracled registry keys with small results (so verification
# stays cheap): a filter, an aggregate, a join, a window, a TPC-H query, a
# text operator and one short availableNow streaming drain
# (``stream_foreachbatch_upsert``, which exercises the streaming-trigger
# layer).  Each runs in 0.1-1 s at sf 0.05 on 4 cores, so fixed
# per-query cost dominates.  The count is odd so that the median
# operation is one key's time, not the gap between two keys.
SHORT = QueryPool(
    keys=[
        "filter_equality",
        "tpch_q6_forecast_revenue",
        "agg_count_by_key",
        "window_sliding",
        "join_semi_anti",
        "text_tokenize_topterms",
        "stream_foreachbatch_upsert",
    ],
    sf=0.05,
)

# Long LLM-data keys, one from each of four families, chosen among those
# that run in 1-3 s at sf 0.05 on 4 cores so that a run fits the time the
# benchmark has: an availableNow drain with checkpoints inside ``spec.fn``
# (``pipeline_*``), a stateful stream (``stream_*``), a shuffle-heavy
# near-duplicate search (``dedup_*``) and an approximate nearest-neighbour
# index (``similarity_ann_ivfpq*``).  ``docs_substring_*`` is left out:
# its shuffles are those of ``dedup_*`` and a fifth key would not fit.
HEAVY = QueryPool(
    keys=[
        "pipeline_quarantine_replay",
        "similarity_ann_ivfpq_tombstone",
        "dedup_minhash_lsh",
        "stream_stateful_user_counts",
    ],
    sf=0.05,
)

QUERY_POOLS = {"short_queries": SHORT, "heavy_llm_keys": HEAVY}

# reference_pipeline corpus: about this many lines in this many files.
# Operation time is mostly per-file and per-job cost, not per-line cost.
CORPUS_FILES = 12
CORPUS_LINES = 2_000

WORKLOADS = ("reference_pipeline", *QUERY_POOLS)
