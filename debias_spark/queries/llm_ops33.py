"""Round-9 wave 2 (Y71): LSH band-count autotune — the fourth
diagnose->remedy loop (Z66 salt, X161 CBO reorder, Y67 ANN planes, now
the MinHash band layout): measure candidate volume, precision, and
pooled recall for three band layouts from ONE signature build, choose
the cheapest layout meeting the recall floor, and report the decision
as data.

Reference parity: the reference has no dedup at all; this is the
band-table sizing decision a 100 TB MinHash index build makes before
committing to a layout (banding theory: with 32 hashes, fewer bands =
longer band rows = fewer, higher-precision candidates).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debias_spark.catalog import table
from debias_spark.operators.dedup import (
    DISTINCT_TOKENS_DUCK,
    MINHASH_P,
    band_selects_duck,
    h60_duck,
    jaccard,
    minhash_params,
)
from debias_spark.registry import register

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
