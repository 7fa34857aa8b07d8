"""Corpus deduplication keys over ``documents``: exact, normalized and
binary-digest dedup, MinHash / SimHash / n-gram Jaccard near-dup screens
(hash-native and MLlib), clustering and keep-best survivor policies,
band-layout autotune, and the semantic (cluster-then-cosine) dedup.

Implementation lives in debias_spark.operators.*; these wrappers pin each
key's parameters and pair it with a DuckDB oracle where the semantics are
SQL-expressible.  Thresholds apply to ROUNDED scores so membership is
reproducible across engines.  The reference has no dedup surface;
north-star extensions per SURVEY §2.H.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from debias_spark.catalog import table
from debias_spark.numeric import EPS, floor_eps, floor_eps_sql
from debias_spark.operators import similarity
from debias_spark.operators.dedup import (
    DISTINCT_TOKENS_DUCK,
    MINHASH_P,
    band_selects_duck,
    duplicate_clusters,
    h60_duck,
    jaccard,
    minhash_banded,
    minhash_clusters_oracle,
    minhash_ctes_duck,
    minhash_dedup,
    minhash_params,
    simhash_pairs,
    word_shingles,
    word_tokens,
)
from debias_spark.operators.similarity import SEM_ASSIGN_CTE_DUCK, SEM_K, dot, l2_norm
from debias_spark.operators.skew import fan_out
from debias_spark.operators.text import whitespace_token_count
from debias_spark.registry import register


# --- dedup -------------------------------------------------------------------
@register(
    "dedup_exact",
    "H7",
    oracle="""
    SELECT min(doc_id) AS rep_id, count(*) AS n_copies
    FROM documents GROUP BY text
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup as a hash aggregate with a deterministic representative
    (min doc_id) — not dropDuplicates, whose survivor is partition-order
    dependent.  At 100 TB, group by md5(text) first so the shuffle key is 16
    bytes (see text_fingerprint), then resolve representatives."""
    docs = table(spark, sf_dir, "documents")
    return docs.groupBy("text").agg(
        F.min("doc_id").alias("rep_id"), F.count("*").alias("n_copies")
    ).select("rep_id", "n_copies")


def _minhash_oracle(num_hashes: int = 32, bands: int = 4) -> str:
    """DuckDB replay of minhash_dedup, value-for-value: pair output with
    exact-Jaccard verification against the bucket representative."""
    ctes, jac = minhash_ctes_duck(num_hashes, bands)
    return f"""
    WITH {ctes}
    SELECT c.id AS id, c.rep_id AS rep_id, {jac} AS jaccard
    FROM cand c JOIN sh a ON a.id = c.id JOIN sh b ON b.id = c.rep_id
    WHERE {jac} >= 0.8
    """


@register(
    "dedup_minhash_lsh",
    "H9",
    oracle=_minhash_oracle(num_hashes=32, bands=4),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup detection: shingle -> 32-hash signature -> 4
    bands -> bucket join -> verify exact Jaccard >= 0.8 against the bucket
    representative.  Unigram shingles fit this bag-of-words corpus; n is a
    parameter.  The md5-backed h60 sketch hash is engine-portable, so the
    DuckDB oracle replays the ENTIRE pipeline — signatures, band buckets,
    representatives, verification — value-for-value."""
    docs = table(spark, sf_dir, "documents")
    return minhash_dedup(docs, "doc_id", "text", shingle_n=1, num_hashes=32, bands=4, threshold=0.8)


@register("dedup_clusters", "H9e", oracle=minhash_clusters_oracle(), bench=False)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate CLUSTERS: connected components over the MinHash near-dup
    pair graph (min-label propagation with pointer jumping,
    driver-controlled iteration with lineage checkpoints).  The full dedup
    endgame — from pairs to 'keep doc_id == cluster_id' — and the
    registry's representative of iterative algorithms.  The DuckDB oracle
    replays the pair pipeline and closes the graph with WITH RECURSIVE, so
    the component labels are hash-matched, not just row-counted."""
    from debias_spark.operators.dedup import duplicate_clusters

    docs = table(spark, sf_dir, "documents")
    pairs = minhash_dedup(docs, "doc_id", "text", shingle_n=1, threshold=0.8)
    ids = docs.select(F.col("doc_id").alias("id"))
    return duplicate_clusters(ids, pairs, id_col="id", pair_cols=("id", "rep_id"))


def _simhash_oracle(max_hamming: int = 4, block_bits: int = 8) -> str:
    """DuckDB replay of simhash_pairs: h60 per distinct token, 60 majority
    votes, fingerprint reassembly, prefix blocking, Hamming filter."""
    votes = ", ".join(f"sum((h >> {b}) & 1) AS v{b}" for b in range(60))
    fp = " + ".join(
        f"(CASE WHEN v{b} * 2 >= n THEN (1::BIGINT << {b}) ELSE 0::BIGINT END)"
        for b in range(60)
    )
    shift = 60 - block_bits
    return f"""
    WITH tok AS (
        SELECT doc_id AS id, unnest({DISTINCT_TOKENS_DUCK}) AS t FROM documents
    ), th AS (
        SELECT id, {h60_duck("t")} AS h FROM tok
    ), votes AS (
        SELECT id, count(*) AS n, {votes} FROM th GROUP BY id
    ), fp AS (
        SELECT id, ({fp}) AS sh FROM votes
    )
    SELECT a.id AS id_a, b.id AS id_b,
           CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
    FROM fp a JOIN fp b ON (a.sh >> {shift}) = (b.sh >> {shift})
                       AND a.id < b.id
    WHERE bit_count(xor(a.sh, b.sh)) <= {max_hamming}
    """


@register("dedup_simhash", "H9b", oracle=_simhash_oracle(max_hamming=4, block_bits=8))
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 60-bit md5-backed majority fingerprint over
    token hashes, candidates blocked on the top 8 fingerprint bits, Hamming
    <= 4 via bit_count(xor).  The engine-portable h60 sketch hash lets the
    DuckDB oracle recompute fingerprints, blocks, and pair distances
    value-for-value."""
    docs = table(spark, sf_dir, "documents")
    return simhash_pairs(docs, "doc_id", "text", max_hamming=4, block_bits=8)


@register(
    "dedup_ngram_jaccard",
    "H9c",
    oracle="""
    WITH g AS (
        SELECT doc_id,
               list_distinct([substr(lower(text), i, 3)
                              FOR i IN range(1, greatest(length(text) - 2, 1) + 1)]) AS grams
        FROM documents WHERE doc_id < 60
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_intersect(a.grams, b.grams)) AS BIGINT) AS n_common,
           round(len(list_intersect(a.grams, b.grams))::DOUBLE
                 / len(list_distinct(a.grams || b.grams)), 4) AS jaccard
    FROM g a JOIN g b ON a.doc_id < b.doc_id
    WHERE round(len(list_intersect(a.grams, b.grams))::DOUBLE
                / len(list_distinct(a.grams || b.grams)), 4) >= 0.6
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character 3-gram Jaccard near-dup pairs over a bounded probe window
    (doc_id < 60 keeps the demo pairwise; the scale path for unbounded
    corpora is the LSH variant above)."""
    # filter BEFORE fan_out (r13 advice): the doc_id < 60 probe window is
    # highly selective, so the round-robin exchange moves only survivors
    docs = fan_out(table(spark, sf_dir, "documents").filter(F.col("doc_id") < 60))
    norm = F.lower("text")
    idx = F.sequence(F.lit(1), F.greatest(F.length("text") - 2, F.lit(1)))
    grams = F.array_distinct(F.transform(idx, lambda i: F.substring(norm, i, 3)))
    g = docs.select(F.col("doc_id").alias("id"), grams.alias("grams"))
    a = g.select(F.col("id").alias("id_a"), F.col("grams").alias("ga"))
    b = g.select(F.col("id").alias("id_b"), F.col("grams").alias("gb"))
    inter = F.size(F.array_intersect("ga", "gb"))
    union = F.size(F.array_distinct(F.concat("ga", "gb")))
    jac = F.round(inter.cast("double") / union.cast("double"), 4)
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", inter.cast("long").alias("n_common"), jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.6)
    )


@register(
    "dedup_embedding_cosine",
    "H9d",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
    SELECT p.vec_id AS query_id, c.vec_id AS cand_id,
           round(list_cosine_similarity(p.v, c.v), 4) AS sim
    FROM e p JOIN e c ON p.vec_id < c.vec_id
    WHERE p.vec_id < 100
      AND round(list_cosine_similarity(p.v, c.v), 4) >= 0.4
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: bounded probe set vs corpus,
    rounded cosine >= 0.4 (this corpus's max pairwise cosine is ~0.51).
    Arrow path: numpy matrix-matrix scoring per batch — measured 5x over
    the Catalyst lambda fold at 100 probes x 2000 vectors, identical
    results (the expression variant stays in operators/similarity.py)."""
    emb = table(spark, sf_dir, "embeddings")
    return similarity.cosine_pairs_above_arrow(emb, F.col("vec_id") < 100, threshold=0.4)


# ---------------------------------------------------------------------------
# Y79: duplicate-cluster token mass — the effective-dataset-size ledger
# ---------------------------------------------------------------------------
_TOK_DUCK = (
    r"CAST(CASE WHEN length(trim(text)) = 0 THEN 0"
    r" ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT)"
)


def _cluster_token_mass_oracle() -> str:
    ctes, jac = minhash_ctes_duck(32, 4)
    return f"""
    WITH RECURSIVE {ctes}, verified AS MATERIALIZED (
        SELECT c.id AS id, c.rep_id AS rep_id
        FROM cand c JOIN sh a ON a.id = c.id JOIN sh b ON b.id = c.rep_id
        WHERE {jac} >= 0.8
    ), edges AS MATERIALIZED (
        SELECT id AS src, rep_id AS dst FROM verified
        UNION
        SELECT rep_id AS src, id AS dst FROM verified
    ), reach(node, r) AS (
        SELECT doc_id AS node, doc_id AS r FROM documents
        UNION
        SELECT re.node, e.dst FROM reach re JOIN edges e ON e.src = re.r
    ), labeled AS (
        SELECT node AS id, min(r) AS cluster_id FROM reach GROUP BY node
    ), sizes AS (
        SELECT cluster_id, count(*) AS cluster_size FROM labeled GROUP BY cluster_id
    ), toks AS (
        SELECT doc_id AS id, {_TOK_DUCK} AS n_tok FROM documents
    )
    SELECT s.cluster_size,
           CAST(count(DISTINCT l.cluster_id) AS BIGINT) AS n_clusters,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(t.n_tok) AS BIGINT) AS raw_tokens,
           CAST(sum(CASE WHEN l.id = l.cluster_id THEN t.n_tok ELSE 0 END)
                AS BIGINT) AS effective_tokens
    FROM labeled l JOIN sizes s USING (cluster_id) JOIN toks t ON t.id = l.id
    GROUP BY s.cluster_size ORDER BY s.cluster_size
    """


# bench=False mirrors H9e dedup_clusters: the iterative closure's
# driver-controlled rounds are the measured cost and H9e already benches
# that machinery's family; correctness rides the sf0.01 value oracle
@register(
    "dedup_cluster_token_mass",
    "Y79",
    oracle=_cluster_token_mass_oracle(),
    bench=False,
)
def dedup_cluster_token_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective-dataset-size ledger: raw vs DEDUPLICATED token mass per
    duplicate-cluster size.  Scaling-law work (Hernandez et al. 2022,
    "Scaling Laws and Interpretability of Learning from Repeated Data",
    public) treats repeated data as worth far less than its raw token
    count — the governance number a corpus owner needs is "how many of
    my tokens are duplicate mass, and in what cluster sizes does it
    hide".  This key joins the H9e connected-component labels (MinHash
    banding -> verified pairs -> min-label closure) with the H10d
    whitespace token counts and rolls up, per cluster size: cluster
    count, doc count, raw token mass, and effective token mass (the
    keep-one-per-cluster survivor policy, survivor = min-label doc).
    cluster_size=1 rows are the unduplicated mass (raw == effective);
    the gap at sizes >= 2 is exactly the token mass dedup reclaims.

    Scale shape: the cluster labels come from banded candidates (never
    all-pairs) and the iterative min-label closure (pointer jumping,
    O(log diameter) rounds); the token count is a per-row projection on
    the SAME documents scan pattern; the final rollup groups on
    cluster_size — a domain bounded by the largest dup family, so the
    aggregate is tiny.  At 100 TB this ledger is the per-ingest report
    that decides whether a source's marginal tokens are worth storing.

    Reference parity: none — the reference (SirHooke/debias-batch-
    processor) has no dedup surface; north-star extension per SURVEY
    §2.H9/H10."""
    from debias_spark.operators.dedup import duplicate_clusters, minhash_dedup
    from debias_spark.operators.text import whitespace_token_count

    docs = table(spark, sf_dir, "documents")
    pairs = minhash_dedup(docs, "doc_id", "text", shingle_n=1, threshold=0.8)
    ids = docs.select(F.col("doc_id").alias("id"))
    labeled = duplicate_clusters(ids, pairs, id_col="id", pair_cols=("id", "rep_id"))
    toks = docs.select(
        F.col("doc_id").alias("id"),
        whitespace_token_count(F.col("text")).alias("n_tok"),
    )
    return (
        labeled.join(toks, "id")
        .groupBy("cluster_size")
        .agg(
            F.count_distinct("cluster_id").alias("n_clusters"),
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("raw_tokens"),
            F.sum(
                F.when(F.col("id") == F.col("cluster_id"), F.col("n_tok")).otherwise(
                    F.lit(0)
                )
            ).alias("effective_tokens"),
        )
        .orderBy("cluster_size")
    )


def _jaccard_hist_oracle() -> str:
    ctes, jac = minhash_ctes_duck(num_hashes=32, bands=4)
    return f"""
    WITH {ctes}, verified AS (
        SELECT {jac} AS j
        FROM cand c JOIN sh a ON a.id = c.id JOIN sh b ON b.id = c.rep_id
    )
    SELECT CAST(floor(j * 20) AS BIGINT) AS bucket_20th,
           count(*) AS n_pairs
    FROM verified GROUP BY bucket_20th
    """


@register("dedup_jaccard_histogram", "Y14", oracle=_jaccard_hist_oracle())
def dedup_jaccard_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-sensitivity report for the MinHash dedup pipeline: the
    distribution of exact Jaccard over ALL LSH candidate pairs (no
    threshold), bucketed in 0.05 steps.  Reading this histogram is how
    the 0.8 cutoff gets chosen — a bimodal shape (noise lobe vs
    duplicate lobe) says the threshold sits safely in the valley; mass
    near the cutoff says tighten the bands first.  Same banding pipeline
    and DuckDB replay as dedup_minhash_lsh, minus the filter, plus a
    20-bucket rollup."""
    from pyspark.sql import functions as F

    from debias_spark.catalog import table as _table
    from debias_spark.operators.dedup import minhash_dedup

    docs = _table(spark, sf_dir, "documents")
    pairs = minhash_dedup(
        docs, "doc_id", "text", shingle_n=1, num_hashes=32, bands=4,
        threshold=0.0,
    )
    return (
        pairs.select(F.floor(F.col("jaccard") * 20).cast("long").alias("bucket_20th"))
        .groupBy("bucket_20th")
        .agg(F.count("*").alias("n_pairs"))
    )


def _minhash_incremental_oracle(num_hashes: int = 32, bands: int = 4) -> str:
    ctes, jac = minhash_ctes_duck(num_hashes, bands)
    # reuse the sh/ex/sig/banded CTE chain, then split banded by batch
    # membership instead of self-joining the whole corpus
    return f"""
    WITH {ctes}, new_b AS (
        SELECT id, band_id, band_hash FROM banded WHERE id % 5 = 0
    ), idx_b AS (
        SELECT id, band_id, band_hash FROM banded WHERE id % 5 <> 0
    ), cand2 AS (
        SELECT n.id AS id, min(i.id) AS rep_id
        FROM new_b n JOIN idx_b i
          ON i.band_id = n.band_id AND i.band_hash = n.band_hash
        GROUP BY n.id
    )
    SELECT c.id AS id, c.rep_id AS rep_id, {jac} AS jaccard
    FROM cand2 c JOIN sh a ON a.id = c.id JOIN sh b ON b.id = c.rep_id
    WHERE {jac} >= 0.8
    """


@register(
    "dedup_minhash_incremental",
    "Y17",
    oracle=_minhash_incremental_oracle(32, 4),
)
def dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingestion dedup: a NEW batch (doc_id % 5 == 0 plays
    today's arrivals) is checked against the EXISTING corpus index (the
    rest) — the daily-pipeline shape where the historical side's band
    table is precomputed and only new-vs-index collisions are ever
    joined, never index-vs-index (the full self-dedup is
    dedup_minhash_lsh's job and needs running once, not daily).  Per new
    doc, the matched index representative is the min colliding index id
    across ALL bands (one aggregate on the join output), verified by
    exact Jaccard >= 0.8.  The banding pipeline and its DuckDB replay
    are shared with the other minhash keys; in production the idx_b
    frame is a parquet table keyed by (band_id, band_hash) and the join
    prunes by bucket."""
    from pyspark.sql import functions as F

    from debias_spark.catalog import table as _table
    from debias_spark.operators.dedup import jaccard, minhash_banded, word_shingles

    docs = _table(spark, sf_dir, "documents")
    sh = docs.select(
        F.col("doc_id").alias("id"), word_shingles(F.col("text"), 1).alias("sh")
    ).filter(F.size("sh") > 0)
    banded = minhash_banded(sh, num_hashes=32, bands=4)
    new_b = banded.filter(F.col("id") % 5 == 0)
    idx_b = banded.filter(F.col("id") % 5 != 0).select(
        F.col("id").alias("i_id"),
        F.col("band_id").alias("i_band"),
        F.col("band_hash").alias("i_hash"),
    )
    cand = (
        new_b.join(
            idx_b,
            (F.col("i_band") == F.col("band_id"))
            & (F.col("i_hash") == F.col("band_hash")),
        )
        .groupBy("id")
        .agg(F.min("i_id").alias("rep_id"))
    )
    a_sh = sh
    b_sh = sh.select(F.col("id").alias("rep_id"), F.col("sh").alias("rep_sh"))
    return (
        cand.join(a_sh, "id")
        .join(b_sh, "rep_id")
        .select(
            "id",
            "rep_id",
            F.round(jaccard(F.col("sh"), F.col("rep_sh")), 4).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.8)
    )


# LSH band-count autotune, a diagnose->remedy loop (alongside Z66 salt,
# X161 CBO reorder and Y67 ANN planes): measure candidate volume,
# precision, and pooled recall for three band layouts from ONE signature
# build, choose the cheapest layout meeting the recall floor, and report
# the decision as data.  This is the band-table sizing decision a 100 TB
# MinHash index build makes before committing to a layout (banding theory:
# with 32 hashes, fewer bands = longer band rows = fewer, higher-precision
# candidates).
_NH = 32


_BAND_CHOICES = (2, 4, 8)  # candidate layouts; 8 bands = loosest = truth pool


_RECALL_FLOOR_BP = 9000


_JACC_MIN = 0.8


# the tuning runs on a fixed probe shard, not the corpus: the layout
# decision needs RELATIVE recall/cost, and the loosest layout's candidate
# volume is quadratic-leaning on a near-duplicate-rich corpus — measured
# 406s at sf0.1 full-corpus vs ~3s on the shard, identical decision
_PROBE_MOD = 10


_JAC = (
    "round(len(list_intersect(a.sh, b.sh))::DOUBLE"
    " / len(list_distinct(a.sh || b.sh)), 4)"
)


def _autotune_oracle() -> str:
    sig_cols = ", ".join(
        f"min(((({h60_duck('s')}) % {MINHASH_P}) * {a} + {b}) % {MINHASH_P})"
        f" AS h{h}"
        for h, (a, b) in enumerate(minhash_params(_NH))
    )
    per_band = []
    stats = []
    for nb in _BAND_CHOICES:
        per_band.append(f"""
    banded{nb} AS ({band_selects_duck(_NH, nb)}),
    cand{nb} AS (
        SELECT DISTINCT x.id AS i, y.id AS j
        FROM banded{nb} x JOIN banded{nb} y
          ON x.band_id = y.band_id AND x.band_hash = y.band_hash
         AND x.id < y.id
    ),
    ver{nb} AS (
        SELECT c.i, c.j FROM cand{nb} c
        JOIN sh a ON a.id = c.i JOIN sh b ON b.id = c.j
        WHERE {_JAC} >= {_JACC_MIN}
    )""")
        stats.append(f"""
        SELECT {nb} AS bands,
               (SELECT count(*) FROM cand{nb}) AS n_cand,
               (SELECT count(*) FROM ver{nb}) AS n_ver,
               (SELECT count(*) FROM ver{nb} v
                JOIN ver{_BAND_CHOICES[-1]} t ON t.i = v.i AND t.j = v.j)
                   AS n_hit""")
    return f"""
    WITH sh AS MATERIALIZED (
        SELECT doc_id AS id, {DISTINCT_TOKENS_DUCK} AS sh FROM documents
        WHERE doc_id % {_PROBE_MOD} = 0 AND len({DISTINCT_TOKENS_DUCK}) > 0
    ), ex AS (
        SELECT id, unnest(sh) AS s FROM sh
    ), sig AS MATERIALIZED (
        SELECT id, {sig_cols} FROM ex GROUP BY id
    ),{",".join(per_band)},
    stats AS MATERIALIZED ({" UNION ALL ".join(stats)}),
    truth AS (SELECT n_ver AS n_true FROM stats WHERE bands = {_BAND_CHOICES[-1]}),
    rep AS (
        SELECT bands,
               CAST(n_cand AS BIGINT) AS n_cand,
               CAST(n_ver AS BIGINT) AS n_verified,
               CAST(n_ver * 10000 // nullif(n_cand, 0) AS BIGINT)
                   AS precision_bp,
               CAST(n_hit * 10000 // nullif((SELECT n_true FROM truth), 0)
                    AS BIGINT) AS recall_bp
        FROM stats
    ), picked AS (
        SELECT bands FROM rep
        ORDER BY (recall_bp >= {_RECALL_FLOOR_BP}) DESC,
                 CASE WHEN recall_bp >= {_RECALL_FLOOR_BP}
                      THEN -bands ELSE recall_bp END DESC,
                 bands ASC
        LIMIT 1
    )
    SELECT r.bands, r.n_cand, r.n_verified, r.precision_bp, r.recall_bp,
           CAST(CASE WHEN r.bands = (SELECT bands FROM picked)
                     THEN 1 ELSE 0 END AS BIGINT) AS chosen
    FROM rep r ORDER BY r.bands
    """


@register("dedup_band_autotune", "Y71", oracle=_autotune_oracle())
def dedup_band_autotune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH band-layout autotune: from ONE 32-hash signature build, band
    the corpus three ways (2/4/8 bands), measure each layout's candidate
    volume, verified-pair precision, and recall against the pooled truth
    (the loosest layout's verified pairs — the standard pooled-recall
    protocol when exact all-pairs truth is unaffordable), then choose
    the layout with the FEWEST candidate pairs (fewest bands) meeting a
    90% recall floor — falling back to best recall if none does.  The
    decision ships as a data column, so the oracle re-derives it from
    the same measurements.

    Scale shape: signatures are built once (codegen explode + 32 min
    aggregates) and localCheckpointed; each layout adds only its band
    hashes and a bucket self-join (never all-pairs), and every verified
    set is bounded by its candidates.  At 100 TB this report is run on a
    fixed sample shard, and the chosen layout sizes the full index
    build — candidate volume IS the cost model, which is why it is the
    tiebreak.  The probe shard here is doc_id % 10 == 0 (spelled
    identically in the oracle): tuning needs the layouts' RELATIVE
    behavior, and the loosest layout's candidate volume over a
    near-dup-rich full corpus is the one cost this key exists to avoid
    paying blind."""
    from debias_spark.operators.dedup import (
        bands_from_sig_keep_sig,
        minhash_sig_wide,
        word_shingles,
    )

    docs = table(spark, sf_dir, "documents")
    from debias_spark.operators.skew import fan_out

    sh = (
        fan_out(docs).filter(F.col("doc_id") % _PROBE_MOD == 0)
        .select(
            F.col("doc_id").alias("id"), word_shingles(F.col("text"), 1).alias("sh")
        )
        .filter(F.size("sh") > 0)
        .localCheckpoint(eager=True)  # reused by sig build + 2 jaccard joins
    )
    sig = minhash_sig_wide(sh, _NH).localCheckpoint(eager=True)

    # r13 single-pass layout sweep.  The layouts are NESTED: a 2-band
    # collision (16 consecutive components equal) implies the two 4-band
    # sub-bands collide, which implies the four 8-band sub-bands collide
    # — so cand2 (subset) cand4 (subset) cand8, and every layout's
    # candidate set is derivable from ONE loosest-layout bucket join by
    # flagging, per pair, which coarser bands also agree (a pure
    # expression over the signatures the band rows carry).  Consequences
    # measured per the oracle's own algebra: ver{nb} (subset) ver8 means
    # n_hit == n_verified, so the three truth-intersection joins are
    # arithmetic, and the three jaccard verify joins collapse to ONE
    # over cand8.  Old plan: 3 bucket joins + 3 pair distincts + 3
    # shingle-array verify joins + 3 intersection joins; new plan: 1
    # bucket join + 1 pair aggregate + 1 verify join + 1 global
    # aggregate.  Values unchanged (the flags test the same component
    # equalities the per-layout band hashes encode).
    loosest = _BAND_CHOICES[-1]
    banded = bands_from_sig_keep_sig(sig, _NH, loosest)
    y = banded.select(
        F.col("id").alias("y_id"),
        *[F.col(f"h{k}").alias(f"g{k}") for k in range(_NH)],
        F.col("band_id").alias("y_band"),
        F.col("band_hash").alias("y_hash"),
    )

    def layout_flag(nb: int) -> str:
        per = _NH // nb
        ors = []
        for b in range(nb):
            ands = " AND ".join(
                f"h{b * per + r} = g{b * per + r}" for r in range(per)
            )
            ors.append(f"({ands})")
        return "CAST((" + " OR ".join(ors) + ") AS INT)"

    pairs = (
        banded.join(
            y,
            (F.col("band_id") == F.col("y_band"))
            & (F.col("band_hash") == F.col("y_hash"))
            & (F.col("id") < F.col("y_id")),
        )
        .select(
            F.col("id").alias("i"),
            F.col("y_id").alias("j"),
            F.expr(layout_flag(_BAND_CHOICES[0])).alias("c2"),
            F.expr(layout_flag(_BAND_CHOICES[1])).alias("c4"),
        )
        .groupBy("i", "j")  # the pair distinct; flags are per-pair constants
        .agg(F.max("c2").alias("c2"), F.max("c4").alias("c4"))
    )
    a_sh = sh.select(F.col("id").alias("i"), F.col("sh").alias("a_sh"))
    b_sh = sh.select(F.col("id").alias("j"), F.col("sh").alias("b_sh"))
    flags = (
        pairs.join(a_sh, "i")
        .join(b_sh, "j")
        .select(
            "c2",
            "c4",
            (F.round(jaccard(F.col("a_sh"), F.col("b_sh")), 4) >= _JACC_MIN)
            .cast("int")
            .alias("v"),
        )
    )
    agg = flags.agg(
        F.count("*").alias("cand8"),
        F.sum("c4").alias("cand4"),
        F.sum("c2").alias("cand2"),
        F.sum("v").alias("ver8"),
        F.sum(F.col("v") * F.col("c4")).alias("ver4"),
        F.sum(F.col("v") * F.col("c2")).alias("ver2"),
    ).select(
        *[F.coalesce(F.col(c), F.lit(0)).alias(c)
          for c in ("cand8", "cand4", "cand2", "ver8", "ver4", "ver2")]
    )
    rep2 = agg.selectExpr(
        f"stack(3, {_BAND_CHOICES[0]}, cand2, ver2,"
        f" {_BAND_CHOICES[1]}, cand4, ver4,"
        f" {_BAND_CHOICES[2]}, cand8, ver8)"
        " AS (bands, n_cand, n_verified)",
        "ver8 AS n_true",
    ).select(
        "bands",
        "n_cand",
        "n_verified",
        F.expr("n_verified * 10000 div nullif(n_cand, 0)").alias("precision_bp"),
        F.expr("n_verified * 10000 div nullif(n_true, 0)").alias("recall_bp"),
    )
    meets = F.col("recall_bp") >= _RECALL_FLOOR_BP
    picked = rep2.agg(
        F.max(
            F.struct(
                meets.cast("int").alias("m"),
                F.when(meets, -F.col("bands")).otherwise(F.col("recall_bp")).alias(
                    "k2"
                ),
                (-F.col("bands")).alias("k3"),
                F.col("bands").alias("bands"),
            )
        ).alias("c")
    ).select(F.col("c.bands").alias("picked_bands"))
    return (
        rep2.crossJoin(F.broadcast(picked))
        .select(
            "bands",
            "n_cand",
            "n_verified",
            "precision_bp",
            "recall_bp",
            (F.col("bands") == F.col("picked_bands")).cast("long").alias("chosen"),
        )
        .orderBy("bands")
    )


_SEM_THRESH_E4 = 3500


@register(
    "semdedup_cluster_cosine",
    "Y38",
    oracle=SEM_ASSIGN_CTE_DUCK + f"""
    SELECT a1.cent_id,
           a1.vec_id AS id_a, a2.vec_id AS id_b,
           {floor_eps_sql("list_cosine_similarity(e1.v, e2.v)", 10000)} AS sim_e4
    FROM a a1
    JOIN a a2 ON a2.cent_id = a1.cent_id AND a1.vec_id < a2.vec_id
    JOIN e e1 ON e1.vec_id = a1.vec_id
    JOIN e e2 ON e2.vec_id = a2.vec_id
    WHERE {floor_eps_sql("list_cosine_similarity(e1.v, e2.v)", 10000)}
          >= {_SEM_THRESH_E4}
    """,
)
def semdedup_cluster_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023, public): cluster
    the embeddings (K=8 pinned-init assignment, exactly Y32's), then find
    near-duplicate pairs ONLY within each cluster (cosine >= 0.35 — the
    synthetic embeddings' ~99.5th within-cluster percentile; a real
    SemDeDup run sets ~0.95+ for genuine near-dups) — the
    clustering turns the quadratic all-pairs search into per-cluster
    blocks, the same bucketing idea LSH uses but in semantic space.

    Scale shape: assignment is one broadcast-K scan (Y32); the pair
    search shuffles by cent_id and is quadratic only within a cluster —
    at 100 TB, K scales with corpus size (production SemDeDup uses ~100k
    clusters) so cluster sizes and the per-block pair cost stay flat.
    Sims emit as floor-eps e4 integers and the threshold compares the
    INTEGER, so no float tie can split the engines at the boundary."""
    emb = table(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") < SEM_K).select(
        F.col("vec_id").alias("cent_id"),
        F.col("embedding").alias("cv"),
        l2_norm(F.col("embedding")).alias("cn"),
    )
    base = emb.select(
        "vec_id",
        F.col("embedding").alias("v"),
        l2_norm(F.col("embedding")).alias("nrm"),
    )
    # assignment argmax orders on the floor-eps e4 INTEGER, not round():
    # here a flipped tie would change cluster membership.
    scored = base.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "cent_id",
        "v",
        "nrm",
        floor_eps(dot(F.col("v"), F.col("cv")) / (F.col("nrm") * F.col("cn")), 10000)
        .cast("long")
        .alias("sim_e4"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim_e4"), F.asc("cent_id"))
    assigned = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cent_id", "v")
    )

    # Within-cluster pair scoring runs as ONE numpy gram matrix per
    # cluster block (applyInPandas) instead of a self-join with the
    # Catalyst lambda fold: the HOF dot is interpreted per element
    # (SCALE.md expression rule 1), and the vectorized block cut this
    # key 2.2s -> 0.7s at sf0.1 (min of 3).  The e4-floor happens in numpy on the
    # same doubles DuckDB computes, so the integer grid absorbs the
    # matmul's pairwise-summation ulps exactly like everywhere else.
    def pair_block(pdf):
        import numpy as np
        import pandas as pd

        ids = pdf["vec_id"].to_numpy()
        v = np.stack(pdf["v"].to_numpy()).astype(np.float64)
        nrm = np.sqrt((v * v).sum(axis=1))
        sims = (v @ v.T) / (nrm[:, None] * nrm[None, :])
        e4 = np.floor(sims * 10000 + EPS).astype(np.int64)
        iu = np.triu_indices(len(ids), 1)
        keep = e4[iu] >= _SEM_THRESH_E4
        a, b = ids[iu[0]][keep], ids[iu[1]][keep]
        lo, hi = np.minimum(a, b), np.maximum(a, b)
        return pd.DataFrame(
            {
                "cent_id": np.full(len(lo), int(pdf["cent_id"].iloc[0])),
                "id_a": lo,
                "id_b": hi,
                "sim_e4": e4[iu][keep],
            }
        )

    return assigned.groupBy("cent_id").applyInPandas(
        pair_block, schema="cent_id long, id_a long, id_b long, sim_e4 long"
    )


_CHUNK = 8  # boilerplate chunk width (tokens)


_BOILER_DF = 5  # chunk document-frequency threshold


@register(
    "dedup_boilerplate_lines",
    "Y54",
    oracle=rf"""
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\s+'),
                           x -> x <> '') AS w
        FROM documents
    ), ch AS MATERIALIZED (
        SELECT doc_id,
               i // {_CHUNK} AS chunk_idx,
               md5(array_to_string(list_slice(w, i + 1, i + {_CHUNK}), ' '))
                   AS h,
               least(len(w) - i, {_CHUNK}) AS n_tok
        FROM t, unnest(range(0, len(w), {_CHUNK})) AS u(i)
        WHERE len(w) > 0
    ), df AS MATERIALIZED (
        SELECT h, count(DISTINCT doc_id) AS df FROM ch GROUP BY h
    )
    SELECT ch.doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN df.df >= {_BOILER_DF} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_boiler_chunks,
           CAST(sum(CASE WHEN df.df < {_BOILER_DF} THEN ch.n_tok ELSE 0 END)
                AS BIGINT) AS n_tokens_retained
    FROM ch JOIN df ON df.h = ch.h
    GROUP BY ch.doc_id
    ORDER BY ch.doc_id
    """,
)
def dedup_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-chunk removal (the C4/CCNet line-dedup primitive,
    Raffel et al. 2020 §2.2 public): split every document into fixed
    8-token chunks, hash each chunk, and drop chunks whose hash appears
    in >= 5 DISTINCT documents — navigation bars, cookie banners and
    license footers repeat across pages verbatim and survive
    document-level dedup.  Emits per-doc chunk/boilerplate counts and
    the retained token budget.

    Scale shape: chunking is explode arithmetic (the Y6 idiom); the
    document-frequency table is one md5-keyed aggregate (map-side
    combined — the hash IS the shuffle key, uniform by construction);
    the verdict joins back on the same hash.  Nothing is quadratic and
    the only wide rows are chunk hashes, never chunk text."""
    # no fan_out (r13): the chunk-hash exchange arrives early; the full
    # bench read 0.77 s plain vs 0.93 s fanned — reverted after measure
    docs = table(spark, sf_dir, "documents")
    w = word_tokens(F.col("text"))
    d = docs.select("doc_id", w.alias("w")).filter(F.size("w") > 0)
    starts = F.sequence(F.lit(0), F.size("w") - 1, F.lit(_CHUNK))
    ch = d.select(
        "doc_id",
        F.explode(starts).alias("i"),
        F.col("w"),
    ).select(
        "doc_id",
        F.md5(F.array_join(F.slice("w", F.col("i") + 1, _CHUNK), " ")).alias("h"),
        F.least(F.size("w") - F.col("i"), F.lit(_CHUNK)).cast("long").alias("n_tok"),
    )
    df_tab = ch.groupBy("h").agg(F.countDistinct("doc_id").alias("df"))
    j = ch.join(df_tab, "h")
    return (
        j.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum((F.col("df") >= _BOILER_DF).cast("long")).alias(
                "n_boiler_chunks"
            ),
            F.sum(
                F.when(F.col("df") < _BOILER_DF, F.col("n_tok")).otherwise(0)
            )
            .cast("long")
            .alias("n_tokens_retained"),
        )
        .orderBy("doc_id")
    )


@register(
    "dedup_keep_best_quality",
    "Y61",
    # bench=False for the same reason as H9e: the key re-runs the full
    # minhash+components pipeline whose cost the bench already prices
    # via H9/H9e — benching it would double-count that pipeline
    bench=False,
    oracle=f"""
    SELECT b.cluster_id,
           CAST(b.cluster_size AS BIGINT) AS cluster_size,
           CAST(min(CASE WHEN rn = 1 THEN b.id END) AS BIGINT) AS keeper_id,
           CAST(min(CASE WHEN rn = 1 THEN n_chars END) AS BIGINT)
               AS keeper_n_chars,
           CAST(sum(n_chars) - min(CASE WHEN rn = 1 THEN n_chars END)
                AS BIGINT) AS dropped_chars
    FROM (
        SELECT c.id, c.cluster_id, c.cluster_size,
               CAST(d.n_chars AS BIGINT) AS n_chars,
               row_number() OVER (
                   PARTITION BY c.cluster_id
                   ORDER BY d.n_chars DESC, c.id) AS rn
        FROM ({minhash_clusters_oracle()}) c
        JOIN documents d ON d.doc_id = c.id
        WHERE c.cluster_size > 1
    ) b
    GROUP BY b.cluster_id, b.cluster_size
    ORDER BY b.cluster_id
    """,
)
def dedup_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup survivor selection: within every near-dup
    cluster (the H9e connected components), keep the HIGHEST-QUALITY
    copy (longest document, doc_id tiebreak) instead of H9e's keep-
    min-id — the policy real pipelines use, because near-duplicates are
    usually truncations/boilerplate variants and the longest copy
    preserves the most content.  Emits per dup cluster the keeper and
    the characters dedup discards (the corpus-size accounting the
    pipeline reports).

    Scale shape: clusters come from the banded-LSH pair graph + pointer-
    jumping components (never all-pairs); the keeper argmax is a struct
    max per cluster — map-side combined, no window over raw docs."""
    docs = table(spark, sf_dir, "documents")
    pairs = minhash_dedup(docs, "doc_id", "text", shingle_n=1, threshold=0.8)
    ids = docs.select(F.col("doc_id").alias("id"))
    clusters = duplicate_clusters(
        ids, pairs, id_col="id", pair_cols=("id", "rep_id")
    ).filter(F.col("cluster_size") > 1)
    j = clusters.join(
        docs.select(
            F.col("doc_id").alias("id"), F.col("n_chars").cast("long").alias("n_chars")
        ),
        "id",
    )
    # argmax by (n_chars desc, id asc) as a struct max (negated id makes
    # lexicographic max break ties toward the LOWEST id)
    agg = j.groupBy("cluster_id").agg(
        F.max("cluster_size").cast("long").alias("cluster_size"),
        F.max(F.struct("n_chars", (-F.col("id")).alias("nid"))).alias("b"),
        F.sum("n_chars").alias("tot_chars"),
    )
    return agg.select(
        "cluster_id",
        "cluster_size",
        (-F.col("b.nid")).cast("long").alias("keeper_id"),
        F.col("b.n_chars").cast("long").alias("keeper_n_chars"),
        (F.col("tot_chars") - F.col("b.n_chars")).cast("long").alias("dropped_chars"),
    ).orderBy("cluster_id")


@register(
    "dedup_minhash_mllib",
    "Y4",
    oracle=r"""
    WITH t AS (
        SELECT doc_id,
               list_sort(list_distinct(list_filter(
                   string_split_regex(lower(text), '\s+'), x -> x <> ''))) AS toks
        FROM documents
    ), nz AS MATERIALIZED (
        SELECT doc_id, array_to_string(toks, chr(31)) AS sig
        FROM t WHERE len(toks) > 0
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b
    FROM nz a JOIN nz b ON a.sig = b.sig AND a.doc_id < b.doc_id
    """,
    bench=False,
)
def dedup_minhash_mllib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib MinHashLSH variant of dedup_minhash_lsh: HashingTF token
    vectors -> fitted MinHashLSH model -> approxSimilarityJoin on Jaccard
    distance.  Kept alongside the hash-native implementation to exercise
    the MLlib integration path (fitted-model state, fixed seed).  Excluded
    from bench: the model fit is a constant cost the native path avoids.
    4 hash tables suffice for the integration demo — approxSimilarityJoin
    explodes both sides by numHashTables, so table count is the direct
    multiplier on the join input (8 tables measured ~2x the runtime for the
    same pair recall on this corpus).

    VALUE ORACLED (upgraded from rows-only in round 6) on the
    guaranteed-recall subset: the key returns the distance-0 pairs —
    identical binary token-set vectors.  Identical vectors produce
    identical minhash signatures in EVERY hash table, so LSH bucketing
    can never miss them regardless of which hash family MLlib's seeded
    RNG draws; the emitted set is therefore deterministic and replayable
    as "docs whose distinct lowercased token sets are equal" without
    reimplementing Scala's RNG in SQL.  One caveat closed in round 7:
    distance 0 on HashingTF vectors means equal BUCKET sets, and with
    2^16 buckets two different token sets can collide into identical
    vectors (no such pair exists in this corpus, but an adversarial or
    much larger vocabulary could produce one, and the DuckDB oracle
    compares true token sets) — so the distance-0 pairs are post-filtered
    by exact token-signature equality before emission, making the key's
    contract collision-free at any vocabulary size for the cost of one
    broadcast-sized signature join on an already-tiny pair set.
    The probabilistic near-dup tail
    (0 < dist <= 0.3) stays draw-dependent by nature — its portable,
    fully-oracled treatment is the h60 pipeline (dedup_minhash_lsh) —
    and the recall relationship between the two pipelines is asserted in
    tests/test_llm_ops_properties.py instead of the driver hash."""
    from pyspark.ml.feature import HashingTF, MinHashLSH, RegexTokenizer

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    tok = RegexTokenizer(inputCol="text", outputCol="toks", pattern=r"\s+")
    tf = HashingTF(inputCol="toks", outputCol="features", numFeatures=1 << 16, binary=True)
    # materialize the tokenized vectors once: the fit plus BOTH sides of the
    # self-join would otherwise re-run tokenize+TF (3 full scans -> 1).
    # MinHashLSH requires >= 1 non-zero entry, so empty-token docs are
    # dropped (mirrored by the oracle's len(toks) > 0).
    feats = (
        tf.transform(tok.transform(docs))
        .filter(F.size("toks") > 0)
        .select("doc_id", "features")
        .localCheckpoint(eager=True)
    )
    model = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=4, seed=42
    ).fit(feats)
    pairs = model.approxSimilarityJoin(feats, feats, 0.3, distCol="jaccard_dist")
    zero = pairs.filter(
        (F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        & (F.col("jaccard_dist") == 0.0)
    ).select(
        F.col("datasetA.doc_id").alias("id_a"),
        F.col("datasetB.doc_id").alias("id_b"),
    )
    # collision guard: equal TF vectors != equal token sets (2^16 buckets);
    # keep only pairs whose exact distinct-token signatures match, mirroring
    # the oracle's sig equality.  The zero-distance pair set is tiny, so the
    # two signature joins broadcast.
    sig = F.array_join(
        F.array_sort(
            F.array_distinct(word_tokens(F.col("text")))
        ),
        "\x1f",
    )
    sigs = docs.select("doc_id", sig.alias("sig"))
    return (
        zero.join(sigs.withColumnsRenamed({"doc_id": "id_a", "sig": "sig_a"}), "id_a")
        .join(sigs.withColumnsRenamed({"doc_id": "id_b", "sig": "sig_b"}), "id_b")
        .filter(F.col("sig_a") == F.col("sig_b"))
        .select("id_a", "id_b")
    )


@register(
    "dedup_within_time_window",
    "Z1",
    oracle="""
    WITH w AS (
        SELECT event_id, user_id, event_type,
               date_trunc('hour', ts) AS wstart, ts,
               row_number() OVER (PARTITION BY date_trunc('hour', ts), user_id,
                                               event_type
                                  ORDER BY ts, event_id) AS rn,
               count(*) OVER (PARTITION BY date_trunc('hour', ts), user_id,
                                           event_type) AS n_in_group
        FROM events
    )
    SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS window_start,
           user_id, event_type,
           event_id AS kept_event_id,
           CAST(n_in_group - 1 AS BIGINT) AS n_dropped
    FROM w WHERE rn = 1
    """,
)
def dedup_within_time_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion-time dedup: within each 1-hour tumbling window, keep the
    earliest event per (user_id, event_type) — the standard at-least-once
    ingestion cleanup (dedupe per key per window, not globally, so state
    stays bounded; the streaming twin is dropDuplicatesWithinWatermark).
    One shuffle on the (window, user, type) key; row_number and the group
    count share the single window sort."""
    ev = table(spark, sf_dir, "events")
    wstart = F.date_trunc("hour", F.col("ts"))
    part = Window.partitionBy(wstart, "user_id", "event_type")
    w_rn = part.orderBy("ts", "event_id")
    return (
        ev.select(
            "event_id",
            "user_id",
            "event_type",
            wstart.alias("wstart"),
            "ts",
            F.row_number().over(w_rn).alias("rn"),
            F.count("*").over(part).alias("n_in_group"),
        )
        .filter(F.col("rn") == 1)
        .select(
            F.date_format("wstart", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "user_id",
            "event_type",
            F.col("event_id").alias("kept_event_id"),
            (F.col("n_in_group") - 1).cast("long").alias("n_dropped"),
        )
    )


@register(
    "dedup_exact_normalized",
    "Z7",
    oracle="""
    WITH n AS (
        SELECT doc_id,
               trim(regexp_replace(
                   regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                   ' +', ' ', 'g')) AS norm
        FROM documents
    )
    SELECT min(doc_id) AS rep_id, count(*) AS n_copies,
           substr(md5(norm), 1, 16) AS norm_digest
    FROM n GROUP BY norm
    """,
)
def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-then-exact dedup (the standard 'fuzzy-exact' pass that
    runs BEFORE MinHash in a training-data pipeline): lowercase, strip
    non-alphanumerics, collapse whitespace, then hash-aggregate.  Grouping
    happens on the md5 digest, so at scale the exchange carries 16 bytes
    per doc, not document text (cf. dedup_exact's docstring; here the
    digest IS the grouping key, demonstrating the shape).
    """
    docs = table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9 ]", ""), r" +", " "
        )
    )
    return (
        docs.select("doc_id", F.substring(F.md5(norm), 1, 16).alias("norm_digest"))
        .groupBy("norm_digest")
        .agg(F.min("doc_id").alias("rep_id"), F.count("*").alias("n_copies"))
        .select("rep_id", "n_copies", "norm_digest")
    )


def _pipeline_survivors_oracle() -> str:
    """DuckDB replay of the ENTIRE dedup pipeline (upgraded from rows-only
    in round 5): normalize + digest-window exact dedup, the minhash CTE
    chain re-rooted at the representatives CTE (the ``source`` parameter
    of minhash_ctes_duck), exact-Jaccard verification, WITH RECURSIVE
    transitive closure, and min-per-cluster survivor selection — the
    H9/H9e oracle machinery composed end to end.  Regex note: DuckDB
    regexp_replace needs the 'g' flag to match Spark's replace-all."""
    ctes, jac = minhash_ctes_duck(num_hashes=32, bands=4, source="reps")
    return f"""
    WITH RECURSIVE grp AS MATERIALIZED (
        SELECT doc_id, text,
               md5(trim(regexp_replace(regexp_replace(lower(text),
                   '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS digest
        FROM documents
    ), reps AS MATERIALIZED (
        SELECT doc_id, text, n_exact_copies FROM (
            SELECT doc_id, text,
                   min(doc_id) OVER (PARTITION BY digest) AS rep_id,
                   count(*) OVER (PARTITION BY digest) AS n_exact_copies
            FROM grp
        ) WHERE doc_id = rep_id
    ), {ctes}, verified AS MATERIALIZED (
        -- MATERIALIZED is load-bearing: without it DuckDB re-evaluates
        -- the whole minhash chain on every recursion iteration of
        -- ``reach`` (measured 2.1 s -> 0.2 s at sf0.01; the oracle was
        -- the slowest in the registry and flaked the suite's 5 s
        -- ceiling under load, r10 verdict item 2)
        SELECT c.id AS id, c.rep_id AS rep_id
        FROM cand c JOIN sh a ON a.id = c.id JOIN sh b ON b.id = c.rep_id
        WHERE {jac} >= 0.8
    ), edges AS MATERIALIZED (
        SELECT id AS src, rep_id AS dst FROM verified
        UNION
        SELECT rep_id AS src, id AS dst FROM verified
    ), reach(node, r) AS (
        SELECT doc_id AS node, doc_id AS r FROM reps
        UNION
        SELECT re.node, e.dst FROM reach re JOIN edges e ON e.src = re.r
    ), labeled AS (
        SELECT node AS id, min(r) AS cluster_id FROM reach GROUP BY node
    ), sizes AS (
        SELECT cluster_id, count(*) AS cluster_size FROM labeled GROUP BY cluster_id
    )
    SELECT r.doc_id, r.n_exact_copies, s.cluster_size
    FROM labeled l
    JOIN sizes s USING (cluster_id)
    JOIN reps r ON r.doc_id = l.id
    WHERE l.id = l.cluster_id
    """


@register(
    "dedup_pipeline_survivors",
    "Z20",
    oracle=_pipeline_survivors_oracle(),
    bench=False,
)
def dedup_pipeline_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup ENDGAME as one operator — the composition a training-data
    pipeline actually runs:

      1. normalize + exact dedup (md5 digest groups; keep min doc_id)
      2. MinHash+LSH near-dup pairs over the exact-unique representatives
      3. connected components -> cluster labels
      4. survivors = one representative (min doc_id) per cluster

    Returns (doc_id, n_exact_copies, cluster_size) for every surviving
    document.  Upgraded from rows-only in round 5: the engine-side
    ITERATION (pointer-jumping label propagation) and the oracle-side
    RECURSION (_pipeline_survivors_oracle's WITH RECURSIVE closure over
    the same md5-portable minhash chain, re-rooted at the exact-dedup
    reps) compute the same fixpoint, so the driver hash-checks the whole
    pipeline end to end.  The survivor-set invariants (no near-dup pair
    survives, every dropped doc maps to a survivor) remain asserted in
    tests."""
    from debias_spark.operators.dedup import duplicate_clusters, minhash_dedup

    docs = table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9 ]", ""), r" +", " "
        )
    )
    groups = (
        docs.select("doc_id", "text", F.md5(norm).alias("digest"))
        .withColumn(
            "rep_id", F.min("doc_id").over(Window.partitionBy("digest"))
        )
        .withColumn(
            "n_exact_copies", F.count("*").over(Window.partitionBy("digest"))
        )
    )
    reps = (
        groups.filter(F.col("doc_id") == F.col("rep_id"))
        .select("doc_id", "text", "n_exact_copies")
        # materialize ONCE: reps feeds the pair generation (which reads it
        # twice per verification side), the id universe, and the final
        # survivor join — without this the digest-window dedup re-executes
        # in every propagation round's lineage (measured 14.2s -> ~7s at
        # sf0.01).  The frame is one row per unique doc — tiny.
        .localCheckpoint(eager=True)
    )
    # near-dup graph over exact-unique reps only (the whole point of the
    # staging: MinHash never sees byte-duplicates)
    pairs = minhash_dedup(reps, "doc_id", "text", shingle_n=1, threshold=0.8)
    ids = reps.select(F.col("doc_id").alias("id"))
    clusters = duplicate_clusters(ids, pairs, id_col="id", pair_cols=("id", "rep_id"))
    survivors = clusters.filter(F.col("id") == F.col("cluster_id"))
    return (
        survivors.join(reps, survivors.id == reps.doc_id)
        .select("doc_id", "n_exact_copies", "cluster_size")
    )


@register(
    "dedup_near_editdistance",
    "Z49",
    oracle="""
    WITH t AS (
        SELECT doc_id, text, n_chars, n_chars // 50 AS lb,
               split_part(text, ' ', 1) || '|' || split_part(text, ' ', 2) AS ft2
        FROM documents
    ), r AS (
        SELECT doc_id, text, n_chars,
               min(doc_id) OVER (PARTITION BY lb, ft2) AS rep_id
        FROM t
    )
    SELECT a.doc_id AS id, a.rep_id,
           CAST(levenshtein(a.text, b.text) AS BIGINT) AS dist
    FROM r a JOIN t b ON b.doc_id = a.rep_id
    WHERE a.doc_id > a.rep_id
      AND abs(a.n_chars - b.n_chars) <= 25
      AND levenshtein(a.text, b.text) <= 25
    """,
)
def dedup_near_editdistance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy dedup, cluster-representative contract: every doc is
    verified against its (length-bucket, first-two-tokens) block's
    REPRESENTATIVE (min doc_id) only — length band <= 25 chars first (a
    necessary condition for edit distance <= 25), then banded
    levenshtein(,, threshold), O(k*L) per pair instead of O(L^2).

    Two scale lessons are baked in.  Round 2: blocking on ONE token made
    block size grow with the corpus — 79.9 s at sf0.1; two-token blocks
    + the length band fixed the CANDIDATE count.  Round 3: the all-pairs
    within-block verification listed O(k^2) pairs per k-member near-dup
    cluster — the 10x scale-stress run measured 49x wall-clock at 10x
    data purely from pair-listing output.  Representative verification
    (the same contract minhash_dedup uses) restores O(k) per cluster —
    measured back to linear — and loses nothing for dedup:
    duplicate_clusters recovers full components from representative
    pairs.  Block cardinality remains vocabulary-driven, so for
    unbounded corpora this stays the PRECISION stage behind the
    MinHash/SimHash recall passes (operators/dedup.py)."""
    from pyspark.sql.window import Window

    docs = table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        "text",
        "n_chars",
        F.expr("n_chars div 50").alias("lb"),
        F.concat_ws(
            "|",
            F.split_part(F.col("text"), F.lit(" "), F.lit(1)),
            F.split_part(F.col("text"), F.lit(" "), F.lit(2)),
        ).alias("ft2"),
    )
    w = Window.partitionBy("lb", "ft2")
    cand = (
        t.withColumn("rep_id", F.min("doc_id").over(w))
        .filter(F.col("doc_id") > F.col("rep_id"))
        .select("doc_id", "text", "n_chars", "rep_id")
    )
    reps = t.select(
        F.col("doc_id").alias("r_id"),
        F.col("text").alias("r_text"),
        F.col("n_chars").alias("r_n"),
    )
    # banded levenshtein returns -1 when the distance exceeds the threshold
    dist = F.levenshtein(F.col("text"), F.col("r_text"), 25)
    pairs = (
        cand.join(reps, F.col("rep_id") == F.col("r_id"))
        .filter(F.abs(F.col("n_chars") - F.col("r_n")) <= 25)
        .select(
            F.col("doc_id").alias("id"),
            "rep_id",
            dist.cast("long").alias("dist"),
        )
    )
    # localCheckpoint = optimizer barrier: without it the dist >= 0 filter
    # is pushed into the join residual, which knocks the join out of
    # whole-stage codegen (measured 3.9s vs 1.0s at sf0.1 on the previous
    # formulation).  The materialized frame is only the candidate pairs.
    return pairs.localCheckpoint(eager=False).filter(F.col("dist") >= 0)


def _minhash_acc_oracle(num_hashes: int = 16, bands: int = 4) -> str:
    """DuckDB replay of dedup_minhash_est_vs_exact: same signatures and
    candidate buckets as _minhash_oracle, then per-pair |estimate - exact|
    integerized to micro-units before aggregation."""
    ctes, _ = minhash_ctes_duck(num_hashes, bands)
    matches = " + ".join(
        f"CASE WHEN a.h{h} = b.h{h} THEN 1 ELSE 0 END" for h in range(num_hashes)
    )
    return f"""
    WITH {ctes}, scored AS (
        SELECT CAST(floor(abs(
                   ({matches}) * 1.0 / {num_hashes}
                   - len(list_intersect(x.sh, y.sh)) * 1.0
                     / len(list_distinct(x.sh || y.sh))
               ) * 1000000 + 0.5) AS BIGINT) AS err_micro
        FROM cand c
        JOIN sig a ON a.id = c.id
        JOIN sig b ON b.id = c.rep_id
        JOIN sh x ON x.id = c.id
        JOIN sh y ON y.id = c.rep_id
    )
    SELECT count(*) AS n_pairs,
           round(sum(err_micro) / 1000000.0 / count(*), 4) + 0.0
               AS avg_abs_err,
           round(max(err_micro) / 1000000.0, 4) + 0.0 AS max_abs_err
    FROM scored
    """


@register(
    "dedup_minhash_est_vs_exact",
    "X57",
    oracle=_minhash_acc_oracle(num_hashes=16, bands=4),
)
def dedup_minhash_est_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy instrumentation: over the LSH candidate pairs, the
    MinHash ESTIMATE of Jaccard (fraction of agreeing signature slots) vs
    the EXACT shingle Jaccard, reported as average and max absolute error.
    This is the query a pipeline owner runs before trusting a sketch
    config at 100 TB — E[avg_abs_err] ~ 1/sqrt(num_hashes) ~ 0.25 at 16
    hashes — and because the h60/affine sketch is engine-portable, even
    THIS diagnostic is value-checked against DuckDB end-to-end.  Per-pair
    errors are integerized (floor(x*1e6+0.5) micro-units, bit-identical
    IEEE ops on exact rational inputs) so the averages are
    order-independent."""
    from debias_spark.operators.dedup import (
        MINHASH_P,
        bands_from_sig_keep_sig,
        h60,
        jaccard,
        minhash_params,
        word_shingles,
    )
    from pyspark.sql.window import Window

    num_hashes, bands = 16, 4
    docs = table(spark, sf_dir, "documents")
    # four consumers read this frame (signature build, band hashes, both
    # exact-Jaccard join sides) — but do NOT checkpoint it: the
    # lambda-bound shingle build is cheap enough that recompute beats the
    # checkpoint round-trip (interleaved min-of-5 at sf0.1: 1.55 s
    # recomputed vs 1.73 s checkpointed; same result for minhash_dedup's
    # 3-consumer frame, 1.16 vs 1.29).  Checkpoint-by-reuse-count applies
    # when the recomputed stage is a shuffle or a crypto-hash pipeline
    # (q21's join, winnowing's md5 grams), not a map-side projection.
    from debias_spark.operators.skew import fan_out

    sh = fan_out(docs).select(
        F.col("doc_id").alias("id"), word_shingles(F.col("text"), 1).alias("sh")
    ).filter(F.size("sh") > 0)
    ex = sh.select("id", F.explode("sh").alias("s")).withColumn(
        "base", h60(F.col("s")) % F.lit(MINHASH_P)
    )
    sig = ex.groupBy("id").agg(
        *[
            F.min((F.col("base") * a + b) % F.lit(MINHASH_P)).alias(f"h{h}")
            for h, (a, b) in enumerate(minhash_params(num_hashes))
        ]
    )
    # r13 single-build pass: band rows CARRY their signatures
    # (bands_from_sig_keep_sig over the one sig frame — minhash_banded
    # would rebuild the whole explode + h60 + min-agg pipeline a second
    # time), and the bucket representative's signature rides the same
    # window as rep_id via a struct-min (lexicographic, id leading — the
    # min-id row exactly).  Both signatures are then IN the candidate
    # row, so the estimate computes inline and the two sig joins
    # disappear; only the two exact-shingle sides still join.  Values
    # unchanged: same pairs, same slot-agreement count.
    w = Window.partitionBy("band_id", "band_hash")
    rep = F.min(
        F.struct(F.col("id"), *[F.col(f"h{h}") for h in range(num_hashes)])
    ).over(w)
    matches = sum(
        (F.col(f"h{h}") == F.col(f"rep.h{h}")).cast("int")
        for h in range(num_hashes)
    )
    cand = (
        bands_from_sig_keep_sig(sig, num_hashes, bands)
        .withColumn("rep", rep)
        .filter(F.col("id") > F.col("rep.id"))
        .select(
            "id",
            F.col("rep.id").alias("rep_id"),
            matches.alias("matches"),
        )
        .groupBy("id", "rep_id")  # the pair dedup; matches is per-pair
        .agg(F.max("matches").alias("matches"))
    )
    xa = sh.select(F.col("id").alias("xa"), F.col("sh").alias("sh_a"))
    xb = sh.select(F.col("id").alias("xb"), F.col("sh").alias("sh_b"))
    est = F.col("matches") * 1.0 / num_hashes
    err_micro = F.floor(
        F.abs(est - jaccard(F.col("sh_a"), F.col("sh_b"))) * 1000000 + 0.5
    ).cast("long")
    scored = (
        cand.join(xa, F.col("xa") == F.col("id"))
        .join(xb, F.col("xb") == F.col("rep_id"))
        .select(err_micro.alias("err_micro"))
    )
    return scored.agg(
        F.count("*").alias("n_pairs"),
        (F.round(F.sum("err_micro") / 1000000.0 / F.count("*"), 4) + 0.0).alias(
            "avg_abs_err"
        ),
        (F.round(F.max("err_micro") / 1000000.0, 4) + 0.0).alias("max_abs_err"),
    )


def _lsh_bucket_stats_oracle() -> str:
    ctes, _ = minhash_ctes_duck(num_hashes=32, bands=4)
    return f"""
    WITH {ctes}, sizes AS (
        SELECT band_id, count(*) AS bucket_size
        FROM banded GROUP BY band_id, band_hash
    )
    SELECT band_id, bucket_size, count(*) AS n_buckets,
           bucket_size * (bucket_size - 1) // 2 * count(*) AS candidate_pairs
    FROM sizes GROUP BY band_id, bucket_size
    """


@register("dedup_lsh_bucket_stats", "X66", oracle=_lsh_bucket_stats_oracle())
def dedup_lsh_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH index observability: the bucket-size histogram per band, with
    the implied candidate-pair cost (size choose 2 per bucket).  This is
    the number you watch before unleashing a dedup run at 100 TB — a
    skewed band (one giant bucket) means the verify stage degenerates
    toward quadratic, and the fix (more bands / more hashes / salting
    hot buckets) is a tuning decision this report drives.  Shares the
    minhash banding pipeline (and its DuckDB replay) with
    dedup_minhash_lsh; one extra rollup on top."""
    docs = table(spark, sf_dir, "documents")
    sh = docs.select(
        F.col("doc_id").alias("id"), word_shingles(F.col("text"), 1).alias("sh")
    ).filter(F.size("sh") > 0)
    banded = minhash_banded(sh, num_hashes=32, bands=4)
    sizes = banded.groupBy("band_id", "band_hash").agg(
        F.count("*").alias("bucket_size")
    )
    return sizes.groupBy("band_id", "bucket_size").agg(
        F.count("*").alias("n_buckets"),
        F.expr("bucket_size * (bucket_size - 1) div 2 * count(*)").alias(
            "candidate_pairs"
        ),
    )
