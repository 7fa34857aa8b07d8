"""Deduplication operators, Spark-first.

All sketches are built from a deterministic ENGINE-PORTABLE hash: the first
15 hex chars of md5 parsed as a 60-bit integer (``h60``), salted by string
prefix where independent hash families are needed.  md5 exists with
identical semantics in Spark, DuckDB, and every other engine, so the whole
sketch pipeline — signatures, band hashes, fingerprints — can be recomputed
bit-for-bit by the DuckDB oracle (xxhash64, the previous choice, is
JVM-only and forced these keys to rows-only checks).  Results are
reproducible across runs and cluster sizes — no fitted models, no RNG
state.  Everything below is pure DataFrame API: hash expressions stay
inside codegen; the only shuffles are the band-bucket exchange and the
final aggregate.

Scale notes (100 TB):
* Exact dedup is a single hash aggregate on the text (or a text digest —
  group by md5 first so the shuffle carries 16 bytes, not documents).
* MinHash-LSH candidate generation is linear: each doc emits `bands` rows;
  verification joins each doc against its bucket representative only
  (O(n*bands) verifications), never all-pairs.
* SimHash blocks on the top bits of the fingerprint, so the self-join is
  per-block, not global.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def word_tokens(text: Column) -> Column:
    """Lowercased whitespace tokens (empty tokens dropped).  The one Spark
    spelling of the tokenizer; its DuckDB twin is ``WORD_TOKENS_DUCK``.

    Known divergence: Java's ``\\s`` includes the vertical tab ``\\x0B``
    and RE2's does not, so ``"a\\x0bb"`` is two tokens here and one in
    DuckDB (a strict xfail in the tokenizer parity test pins this).
    No fixture document contains ``\\x0B``; the fix waits for the
    adversarial fixtures of ROADMAP item 5."""
    return F.filter(F.split(F.lower(text), r"\s+"), lambda t: t != "")


# DuckDB twins of word_tokens over a ``text`` column: every token (token
# budgets and n-gram windows count repetitions) and the distinct set
# (shingling, text.distinct_tokens)
WORD_TOKENS_DUCK = "list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')"
DISTINCT_TOKENS_DUCK = f"list_distinct({WORD_TOKENS_DUCK})"


def h60(x: Column) -> Column:
    """Engine-portable 60-bit hash: first 15 hex chars of md5 as a BIGINT.
    DuckDB spells the identical value ``('0x' || substr(md5(x), 1, 15))::
    BIGINT`` — verified bit-equal.  60 bits (not 64) keeps the parse inside
    a signed BIGINT in every engine with no sign games."""
    return F.conv(F.substring(F.md5(x), 1, 15), 16, 10).cast("long")


# SQL-text form of h60 for codegen-assembled expressions (Spark dialect)
H60_SQL = "CAST(conv(substr(md5({x}), 1, 15), 16, 10) AS BIGINT)"


def h60_duck(x: str) -> str:
    """DuckDB spelling of h60 over the SQL expression ``x`` — the
    identical value (verified bit-equal at sf0.001/0.01)."""
    return f"(('0x' || substr(md5({x}), 1, 15))::BIGINT)"

# MinHash permutation family: ONE md5-derived base hash per shingle, then
# per-salt affine maps (a*base + b) mod P over the Mersenne prime P=2^31-1
# (Carter-Wegman universal hashing).  One crypto hash per token instead of
# num_hashes of them — measured 4.3s -> ~1s for the 32-hash signature at
# sf0.1 — and every op is exact bigint arithmetic in ANY engine: a*base <
# 2^31 * 2^31 so nothing overflows a signed 64-bit, and both operands are
# non-negative so Spark's and DuckDB's % agree.
MINHASH_P = 2_147_483_647


def minhash_params(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the affine permutations; a != 0."""
    out = []
    for h in range(num_hashes):
        a = (2_654_435_761 * (h + 1)) % MINHASH_P
        b = (40_503 * (h + 1) + 12_345) % MINHASH_P
        if a == 0:  # degenerate permutation would zero a signature lane;
            # raise (not assert) so the guard survives python -O
            raise ValueError(f"minhash permutation {h} degenerated to a=0")
        out.append((a, b))
    return out


def bind_once(expr: Column, body) -> Column:
    """Evaluate ``expr`` ONCE and feed the result to ``body`` (a
    Column -> Column function), via a single-element transform lambda.

    Column functions cannot materialize a projection, so an expression a
    body references k times is otherwise evaluated k times — there is no
    common-subexpression elimination across the interpreted-HOF boundary,
    and re-running a tokenizer split per element_at measured 13.4 s vs
    0.75 s for the 4-shingle build at sf0.1.  ``transform(array(e), x ->
    body(x))[0]`` binds e to a lambda variable: one evaluation, one
    1-element array allocation."""
    return F.get(F.transform(F.array(expr), body), 0)


def word_shingles(text: Column, n: int) -> Column:
    """Distinct n-word shingles; n=1 degenerates to the distinct token set
    (appropriate for bag-of-words corpora where sequence is uninformative).

    Documents with fewer than n tokens yield an EMPTY array: the guard
    matters because ``sequence(1, 0)`` counts DOWN in Spark — without it a
    short document would emit truncated shingles (and slice at index 0
    errors under ANSI).

    Spelling doctrine (each alternative measured at sf0.1): the token
    array is lambda-BOUND (``bind_once``) so the split runs once however
    many subexpressions read it, and shingles fold ``zip_with`` over the
    n offset slices — n-1 single-pass zips, never one O(n) slice PER
    POSITION inside the transform interpreter (4.8 s vs 0.85 s on the
    novelty-curve query), never an unbound re-split per access (1.29 s
    vs 0.71 s on the 4-gram containment build; bound zip n=2 is 0.39 s
    vs 0.55 s for the previous unbound spelling).  Same values — the
    oracle hash-matches are the regression tests."""
    if n == 1:
        return F.array_distinct(word_tokens(text))

    def build(toks: Column) -> Column:
        m = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(0))
        acc = F.slice(toks, 1, m)
        for k in range(2, n + 1):
            acc = F.zip_with(
                acc, F.slice(toks, k, m), lambda a, b: F.concat(a, F.lit(" "), b)
            )
        return F.when(F.size(toks) >= n, F.array_distinct(acc)).otherwise(
            F.array().cast("array<string>")
        )

    return bind_once(word_tokens(text), build)


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two (distinct-element) arrays, as a double."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_distinct(F.concat(a, b))).cast("double")
    return inter / union


def minhash_signature(shingles: Column, num_hashes: int) -> Column:
    """MinHash signature SPEC: element h = min over shingles of
    (a_h * (h60(s) mod P) + b_h) mod P — one md5-derived base hash per
    shingle, permuted by the Carter-Wegman affine family.  Everything is
    exact integer arithmetic recomputable by the DuckDB oracle.

    This array-lambda form is the readable specification; the production
    path in :func:`minhash_banded` computes the identical values through
    explode + ``min(...)`` aggregate columns, which stay inside whole-stage
    codegen instead of interpreted higher-order lambdas (measured 3x faster
    at sf0.1).  test_llm_ops_properties asserts the two paths agree
    element-for-element."""
    def perm(a: int, b: int):
        # PySpark's transform() reads the lambda's arity — keep it unary
        # (closure, not default args) or it binds a 3-arg HOF lambda
        return lambda s: ((h60(s) % F.lit(MINHASH_P)) * a + b) % F.lit(MINHASH_P)

    return F.array(
        *[
            F.array_min(F.transform(shingles, perm(a, b)))
            for a, b in minhash_params(num_hashes)
        ]
    )


def minhash_banded(sh: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(id, band_id, band_hash) rows from an (id, sh: array<string>) frame.

    Codegen formulation of minhash_signature + banding: explode the
    shingle set, compute the md5-derived base hash ONCE per shingle, then
    ``min((a*base + b) % P)`` per doc for each of the ``num_hashes`` affine
    permutations as flat aggregate columns — every expression is a plain
    JVM codegen expression, no interpreted array lambdas.  The
    explode's groupBy(id) shuffle is negligible: a doc's shingles are
    contiguous within a partition, so map-side partial aggregation
    collapses them to one row per doc before the exchange.  Band hash =
    h60 over the band's comma-joined signature columns + the band id.

    The aggregate and band expressions are assembled as SQL text and parsed
    with one F.expr each: building them Column-by-Column costs one py4j
    round trip per operator node (hundreds of driver round trips per query
    construction — measured as seconds of pure DataFrame-build time on the
    analogous simhash expression)."""
    return bands_from_sig(minhash_sig_wide(sh, num_hashes), num_hashes, bands)


def minhash_sig_wide(sh: DataFrame, num_hashes: int) -> DataFrame:
    """(id, h0..h{n-1}) wide signature frame — the codegen half of
    :func:`minhash_banded`, exposed so incremental pipelines (Z68) can
    persist signatures as STATE and re-derive band rows from them without
    re-shingling history.  Expressions are textually identical to the
    pre-split minhash_banded; plans and values are unchanged."""
    ex = sh.select("id", F.explode("sh").alias("s")).withColumn(
        "base", F.expr(f"({H60_SQL.format(x='s')}) % {MINHASH_P}")
    )
    return ex.groupBy("id").agg(
        *[
            F.expr(f"min((base * {a} + {b}) % {MINHASH_P}) AS h{h}")
            for h, (a, b) in enumerate(minhash_params(num_hashes))
        ]
    )


def bands_from_sig(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(id, band_id, band_hash) rows from a wide signature frame (the band
    half of :func:`minhash_banded`; see its docstring for the spelling
    doctrine)."""
    rows_per_band = num_hashes // bands
    bands_sql = ", ".join(
        H60_SQL.format(
            x="concat_ws(',', {}, '{}')".format(
                ", ".join(
                    f"CAST(h{b * rows_per_band + r} AS STRING)"
                    for r in range(rows_per_band)
                ),
                b,
            )
        )
        for b in range(bands)
    )
    return sig.selectExpr(
        "id", f"posexplode(array({bands_sql})) AS (band_id, band_hash)"
    )


def bands_from_sig_keep_sig(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(id, h0..h{n-1}, band_id, band_hash) rows: :func:`bands_from_sig`
    with the SIGNATURE COLUMNS carried through the band explode.  This is
    the band-row layout the r13 semi-join near-dup screen persists as
    state: a band row that carries its own signature lets the bucket
    collision and the >= m-of-n component verification evaluate inside
    ONE join (an EXISTS/left-semi that stops at the first qualifying
    earlier doc), so candidate PAIRS are never materialized, never
    distinct-shuffled, and never joined back to a signature table —
    the shuffle stays linear in band rows while the old chain's pair
    distinct moved O(candidate pairs).  Band hashes are textually the
    bands_from_sig spelling; values are unchanged."""
    rows_per_band = num_hashes // bands
    bands_sql = ", ".join(
        H60_SQL.format(
            x="concat_ws(',', {}, '{}')".format(
                ", ".join(
                    f"CAST(h{b * rows_per_band + r} AS STRING)"
                    for r in range(rows_per_band)
                ),
                b,
            )
        )
        for b in range(bands)
    )
    return sig.selectExpr(
        "id",
        *[f"h{k}" for k in range(num_hashes)],
        f"posexplode(array({bands_sql})) AS (band_id, band_hash)",
    )


def band_selects_duck(num_hashes: int, bands: int, from_cte: str = "sig") -> str:
    """UNION ALL of per-band (id, band_id, band_hash) selects over a wide
    signature CTE — the DuckDB twin of :func:`bands_from_sig`, factored
    out so multi-band-config oracles (Y71) replay several band layouts
    from ONE signature CTE."""
    rpb = num_hashes // bands
    return " UNION ALL ".join(
        "SELECT id, {b} AS band_id, {bh} AS band_hash FROM {f}".format(
            b=b,
            f=from_cte,
            bh=h60_duck(
                "concat_ws(',', {}, '{}')".format(
                    ", ".join(f"h{b * rpb + r}::VARCHAR" for r in range(rpb)),
                    b,
                )
            ),
        )
        for b in range(bands)
    )


def minhash_ctes_duck(
    num_hashes: int = 32, bands: int = 4, source: str = "documents"
) -> tuple[str, str]:
    """(cte_chain, jaccard_expr) for the DuckDB replay of
    :func:`minhash_dedup`: same base-h60 + affine-permutation signatures,
    band hashes, and bucket-representative window, as CTEs ``sh``, ``ex``,
    ``sig``, ``banded`` and ``cand`` over ``source`` (documents, or an
    upstream CTE such as the Z20/Z75 survivor sets)."""
    sig_cols = ", ".join(
        f"min(((({h60_duck('s')}) % {MINHASH_P}) * {a} + {b}) % {MINHASH_P})"
        f" AS h{h}"
        for h, (a, b) in enumerate(minhash_params(num_hashes))
    )
    band_selects = band_selects_duck(num_hashes, bands)
    jac = (
        "round(len(list_intersect(a.sh, b.sh))::DOUBLE"
        " / len(list_distinct(a.sh || b.sh)), 4)"
    )
    ctes = f"""sh AS (
        SELECT doc_id AS id, {DISTINCT_TOKENS_DUCK} AS sh FROM {source}
        WHERE len({DISTINCT_TOKENS_DUCK}) > 0
    ), ex AS (
        SELECT id, unnest(sh) AS s FROM sh
    ), sig AS (
        SELECT id, {sig_cols} FROM ex GROUP BY id
    ), banded AS (
        {band_selects}
    ), cand AS (
        SELECT DISTINCT id, rep_id FROM (
            SELECT id, min(id) OVER (PARTITION BY band_id, band_hash) AS rep_id
            FROM banded
        ) WHERE id > rep_id
    )"""
    return ctes, jac


def minhash_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 1,
    num_hashes: int = 32,
    bands: int = 4,
    threshold: float = 0.8,
) -> DataFrame:
    """MinHash+LSH near-duplicate detection: shingle -> minhash -> band ->
    bucket-join -> verify.

    Returns (id, rep_id, jaccard) rows where rep_id = the smallest doc id in
    a shared LSH bucket and exact shingle-Jaccard >= threshold.  Verifying
    only against the bucket representative keeps verification linear in
    corpus size — the standard cluster-by-bucket dedup shape, not an
    all-pairs join.
    """
    from pyspark.sql.window import Window

    # NO fan_out here (r13, measured): the signature groupBy exchange
    # arrives early enough that spreading the scan first LOSES on all
    # four hottest callers (interleaved A/B at sf0.1: dedup_minhash_lsh
    # 0.99 plain vs 1.27 fanned, dedup_clusters 2.38 vs 2.76,
    # dedup_keep_best_quality 2.55 vs 3.00, jaccard_histogram 1.13 vs
    # 1.21) — the extra exchange costs more than the serial map saves
    sh = df.select(
        F.col(id_col).alias("id"), word_shingles(F.col(text_col), shingle_n).alias("sh")
    ).filter(F.size("sh") > 0)
    banded = minhash_banded(sh, num_hashes, bands)
    # bucket representative = min id per (band_id, band_hash): a window min
    # on the single band shuffle (no second aggregate + join pass)
    w = Window.partitionBy("band_id", "band_hash")
    cand = (
        banded.withColumn("rep_id", F.min("id").over(w))
        .filter(F.col("id") > F.col("rep_id"))
        .select("id", "rep_id")
        .dropDuplicates(["id", "rep_id"])
    )
    # verification joins re-attach shingles (cheap to recompute) per side
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
        .filter(F.col("jaccard") >= threshold)
    )


def duplicate_clusters(
    ids: DataFrame,
    pairs: DataFrame,
    id_col: str = "id",
    pair_cols: tuple[str, str] = ("id", "rep_id"),
    max_iter: int = 10,
    check_every: int = 1,
) -> DataFrame:
    """Connected components over a near-dup pair graph: every doc gets the
    min doc-id of its component as cluster_id — the dedup endgame (pairs ->
    clusters -> keep one representative per cluster).

    Iterative min-label propagation with pointer jumping: per round each
    node takes min(its label, its neighbors' labels) [hook], then follows
    one hop through the label table itself — label(label(v)) [jump].  The
    jump makes label chains halve each round, so convergence is
    O(log diameter) rounds instead of O(diameter) — the difference between
    ~4 and ~40 driver-synchronized rounds on a long chain at 100 TB.
    Iteration is driver-controlled with localCheckpoint() per round to
    truncate lineage — the standard Spark shape for iterative algorithms
    without GraphX.  Genuinely non-SQL-expressible (recursive), hence
    rows-only + property tests.

    Safety of the jump: labels only ever decrease and every label value is
    a node id inside the same component (labels start as self-ids and move
    by min over component members), so label(label(v)) is still an upper
    bound of the component minimum.  At fixpoint no neighbor has a smaller
    label, which over bidirectional edges forces labels constant per
    component, i.e. the component min.
    """
    a, b = pair_cols
    edges = (
        pairs.select(F.col(a).alias("src"), F.col(b).alias("dst"))
        .union(pairs.select(F.col(b).alias("src"), F.col(a).alias("dst")))
        .distinct()
        # materialize ONCE: edges feed every propagation round, and the
        # upstream pair generation (MinHash shingle/band/verify) would
        # otherwise re-execute per round — measured 7.8s -> 5.5s for the
        # registry's dedup_clusters at sf0.01, and the gap grows with
        # corpus size (pair gen is the O(n) part; rounds are O(edges))
        .localCheckpoint(eager=True)
    )
    labels = ids.select(F.col(id_col).alias("node"), F.col(id_col).alias("label"))
    for it in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.src == labels.node)
            .groupBy("dst")
            .agg(F.min("label").alias("nbr_label"))
        )
        hooked = labels.join(
            neighbor_min, labels.node == neighbor_min.dst, "left"
        ).select(
            "node",
            F.col("label").alias("old_label"),
            F.least(
                F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
            ).alias("l1"),
        )
        # pointer jump: follow the hooked label one hop through the current
        # label table (label-of-label); left join — the target always
        # exists, but stay total under partial label tables in tests
        ptr = labels.select(
            F.col("node").alias("p_node"), F.col("label").alias("p_label")
        )
        # _chg is computed in the same projection so the convergence check
        # is a scan of the already-materialized checkpoint blocks — no
        # extra join against the previous round's labels.
        new_labels = (
            hooked.join(ptr, hooked.l1 == ptr.p_node, "left")
            .select(
                "node",
                F.least(
                    F.col("l1"), F.coalesce(F.col("p_label"), F.col("l1"))
                ).alias("label"),
                (
                    F.least(F.col("l1"), F.coalesce(F.col("p_label"), F.col("l1")))
                    < F.col("old_label")
                ).alias("_chg"),
            )
            .localCheckpoint(eager=True)  # truncate lineage each round
        )
        labels = new_labels.select("node", "label")
        # convergence check is a driver-synchronized job; with pointer
        # jumping rounds are O(log d), so checking every round spends as
        # many jobs on checks as on work.  check_every=N trades at most
        # N-1 wasted (cheap, checkpoint-scan) rounds for 1/N the check
        # jobs; max_iter alone bounds unattended 100 TB runs (set
        # check_every > max_iter for the no-sync mode).
        if (it + 1) % check_every == 0 or it == max_iter - 1:
            if new_labels.filter("_chg").count() == 0:
                break
    sizes = labels.groupBy("label").agg(F.count("*").alias("cluster_size"))
    return labels.join(sizes, "label").select(
        F.col("node").alias(id_col),
        F.col("label").alias("cluster_id"),
        "cluster_size",
    )


def minhash_clusters_oracle(num_hashes: int = 32, bands: int = 4) -> str:
    """DuckDB replay of :func:`duplicate_clusters` over the minhash pairs:
    the pair CTEs feed a WITH RECURSIVE transitive closure (every node
    collects all reachable ids; its cluster label is the minimum).
    Recursion lives in the oracle, iteration (pointer-jumping min-label
    propagation) in the engine; both compute the same fixpoint."""
    ctes, jac = minhash_ctes_duck(num_hashes, bands)
    return f"""
    WITH RECURSIVE {ctes}, verified AS MATERIALIZED (
        -- MATERIALIZED is load-bearing: without it DuckDB re-evaluates
        -- the minhash chain on every ``reach`` recursion iteration
        -- (measured 2.1 s -> 0.2 s at sf0.01, r10 verdict item 2)
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
    )
    SELECT l.id AS id, l.cluster_id AS cluster_id, s.cluster_size AS cluster_size
    FROM labeled l JOIN sizes s USING (cluster_id)
    """


SIMHASH_BITS = 60  # h60 width; blocking shifts are relative to this


def with_simhash64(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, sh): 60-bit SimHash over the distinct token set — bit b of the
    fingerprint is the majority vote of bit b across h60(token) values
    (md5-derived, so the DuckDB oracle recomputes the fingerprint exactly).
    Docs with no tokens are dropped (an empty doc has no fingerprint).

    Codegen formulation: explode distinct tokens, aggregate per-bit vote
    counts, then OR the majority bits back into one BIGINT.  The 60 vote
    counters are PACKED four-per-long into 15 aggregate columns (16-bit
    lanes), so the hash-aggregate carries 16 buffers instead of 61 —
    measured ~30% faster than one column per bit and ~2x faster than the
    interpreted array-lambda equivalent at sf0.1.  Lane width bounds docs at
    65535 distinct tokens (a >0.5 MB doc; chunk first at that size).  The
    groupBy(id) exchange carries one row per doc thanks to map-side partial
    aggregation (same shape as minhash_banded).

    All expressions are assembled as SQL text (one F.expr per column):
    building the 60-term tree Column-by-Column costs one py4j round trip
    per operator node, which measured as ~2 s of pure DataFrame-build time
    per query construction at the driver."""
    ex = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(word_tokens(F.col(text_col)))).alias("t"),
    ).withColumn("h", F.expr(H60_SQL.format(x="t")))
    packed = [F.expr("count(*) AS n")]
    for g in range(15):  # lane group g covers bits 4g..4g+3
        terms = " + ".join(
            f"shiftleft(CAST(shiftright(h, {g * 4 + k}) & 1 AS BIGINT), {16 * k})"
            for k in range(4)
        )
        packed.append(F.expr(f"sum({terms}) AS g{g}"))
    votes = ex.groupBy("id").agg(*packed)
    fp_terms = " | ".join(
        f"shiftleft(CASE WHEN (shiftright(g{g}, {16 * k}) & 65535) * 2 >= n "
        f"THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END, {g * 4 + k})"
        for g in range(15)
        for k in range(4)
    )
    return votes.select("id", F.expr(f"({fp_terms}) AS sh"))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    block_bits: int = 16,
) -> DataFrame:
    """SimHash near-dup pairs: block on the top ``block_bits`` of the
    fingerprint (identical-prefix candidates only), then filter by Hamming
    distance.  Blocking keeps the self-join per-block instead of global;
    rotate-block multi-probe is the standard extension at higher recall."""
    # Both self-join sides re-run the fingerprint aggregate; on local[32]
    # the two stages overlap and beat an eager checkpoint (measured).  On a
    # real cluster where the corpus scan dominates, cache()/checkpoint the
    # (id, sh) frame — 16 bytes/doc — before this join instead.
    sh = with_simhash64(df, id_col, text_col)
    sh = sh.withColumn("block", F.shiftright("sh", SIMHASH_BITS - block_bits))
    a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"), "block")
    b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"), "block")
    # shuffle_hash, not broadcast: at 100 TB the fingerprint table can't
    # broadcast, and the block self-join should co-partition both sides on
    # the block key instead of shipping one of them whole.
    return (
        a.hint("shuffle_hash").join(b, "block")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# --- incremental near-dup screen over sig-bearing band rows -----------------
# The Z68 policy shared by the near-dup refresh (Z68) and both corpus
# builds (Z75/Z76): a doc drops iff an EARLIER doc collides in >= 1 of
# NEARDUP_BANDS bands with >= NEARDUP_MIN_MATCHES of NEARDUP_HASHES
# matching signature components.
NEARDUP_HASHES, NEARDUP_BANDS = 32, 4  # the H9 family constants
# signature-estimated Jaccard >= 0.8  <=>  matching components >= 26
# (ceil(0.8 * 32); the integer compare keeps the cut exact cross-engine)
NEARDUP_MIN_MATCHES = 26
# the same component count over the oracles' ``sig`` CTE pair (a, b)
NEARDUP_MATCH_TERMS_DUCK = " + ".join(
    f"(CASE WHEN a.h{k} = b.h{k} THEN 1 ELSE 0 END)" for k in range(NEARDUP_HASHES)
)

# Skew guard on the band-state candidate join (r11 verdict item 4):
# boilerplate-heavy corpora concentrate docs in a few (band_id, band_hash)
# buckets, and the probe-vs-state join then hands ONE task the whole hot
# bucket's |state| x |probe| fan-out — AQE's skew split cannot help a
# same-key fan-out, only oversized partitions of distinct keys.  The Z66
# diagnose->remedy shape with a QUADRATIC work model: measure the hottest
# bucket in the combined index; a bucket of mx rows does O(mx^2) pair
# work, so the derived salt is r = ceil((mx / budget)^2) capped at the
# shuffle width — the linear ceil(mx/budget) rule under-salts exactly when
# it matters (fixture A/B: mx=8000, linear r=2 gave NO win over plain
# because two shards collide on few shuffle partitions; r=16 halved the
# wall).  When r >= 2 the PROBE side salts by hash(id) and the state side
# EXPLODES across the r shards — every (id, j) pair still meets exactly
# once (in id's shard), so the candidate set is bit-identical and the hot
# bucket's work spreads over r tasks.  Budget 0 disables the guard (and
# its one diagnose aggregation) entirely.
_SALT_BUDGET = 4096  # bucket rows one task should carry un-salted
_SALT_CAP = 32  # matches Z66's shuffle-width cap
# observability for tests: salt factor derived by the LAST call
LAST_SALT_R = 0


def _salt_factor(idx: DataFrame) -> int:
    """Autotuned salt factor for the band-state probe joins (the r11
    diagnose->remedy shape shared by :func:`band_candidates` and
    :func:`band_dropped_ids`): measure the hottest (j_band, j_hash)
    bucket, apply the quadratic work model, floor at the shuffle width
    when triggered, cap at _SALT_CAP.  Sets LAST_SALT_R."""
    global LAST_SALT_R
    r = 1
    if _SALT_BUDGET > 0:
        mx_row = (
            idx.groupBy("j_band", "j_hash")
            .count()
            .agg(F.max("count").alias("mx"))
            .first()
        )
        mx = int(mx_row.mx or 0)
        # quadratic work model: r tasks of (mx/r) x probe work each; and
        # once triggered, r floors at 2x the shuffle width — a small r
        # just COLLIDES hot shards onto the same few partitions with no
        # spread (fixture A/B: r=2/r=4 were no better or worse than
        # plain; r=16 halved the wall on 8 shuffle partitions)
        est = -(-(mx * mx) // (_SALT_BUDGET * _SALT_BUDGET))
        if est >= 2:
            sp = int(
                idx.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
            )
            # the 2x-shuffle-width floor assumes NARROW shuffle widths
            # (the Z68/Z76 drains run sp=8, floor 16 — the measured
            # fixture); it is intentionally capped by _SALT_CAP, so at
            # stock sp=200 any triggered guard yields r=_SALT_CAP: state
            # replication costs r x, and spreading a hot bucket over 32
            # of 200 partitions is already near-full task spread — a
            # floor of 2*sp=400 would pay 12x more state for no extra
            # parallelism on a 32-thread local runner (value unchanged:
            # min(2*sp, cap) spelled explicitly instead of via the
            # outer cap)
            est = max(est, min(2 * sp, _SALT_CAP))
        r = int(min(_SALT_CAP, max(1, est)))
    LAST_SALT_R = r
    return r


def band_candidates(b_banded: DataFrame, idx: DataFrame) -> DataFrame:
    """Distinct (id, j) candidate pairs from band-bucket collisions of the
    drop's band rows against the combined index (state union in-drop),
    with the autotuned salt guard above.  ``b_banded`` carries (id,
    band_id, band_hash); ``idx`` carries (j, j_band, j_hash)."""
    join_cond = (
        (F.col("j_band") == F.col("band_id"))
        & (F.col("j_hash") == F.col("band_hash"))
        & (F.col("j") < F.col("id"))
    )
    r = _salt_factor(idx)
    if r <= 1:
        return b_banded.join(idx, join_cond).select("id", "j").distinct()
    probe = b_banded.withColumn("salt", F.pmod(F.hash("id"), F.lit(r)))
    state = idx.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(r - 1)))
    )
    return (
        probe.join(state, join_cond & (probe["salt"] == state["salt"]))
        .select("id", "j")
        .distinct()
    )


def band_dropped_ids(b_banded: DataFrame, idx: DataFrame) -> DataFrame:
    """Distinct ids of probe docs with an EARLIER near-duplicate — the
    r13 single-join respell of the band_candidates -> sig-join ->
    pair-distinct chain.  Both inputs carry sig-bearing band rows
    (id, h0..h{n-1}, band_id, band_hash; :func:`bands_from_sig_keep_sig`),
    ``idx`` = state union in-drop.  Because each band row carries its own
    full signature, the bucket collision AND the >= 26/32 component
    agreement evaluate inside ONE LEFT SEMI join that stops at the first
    qualifying earlier doc: candidate PAIRS are never materialized,
    never distinct-shuffled (the old chain's O(candidate pairs)
    exchange — 3M rows from one 2k-doc boilerplate bucket at sf0.1),
    and never joined back to signature state.  Values are identical:
    the 26-of-32 predicate reads the SAME full signatures, just carried
    on the band row instead of re-joined, and "dropped iff EXISTS a
    qualifying earlier doc" is exactly the declared predicate.  The
    trade is wider state rows (the signature replicated across a doc's
    4 band rows); the win is shuffles LINEAR in band rows regardless of
    bucket skew.  The autotuned salt guard is shared with
    band_candidates (same diagnose, same budget, same LAST_SALT_R
    observability): probe rows salt by hash(id), index rows explode
    across the r shards, so every (probe row, index row) pair still
    meets exactly once and EXISTS is preserved bit-for-bit."""
    num_hashes = sum(1 for c in b_banded.columns if c.startswith("h"))
    match_terms = " + ".join(
        f"(CASE WHEN h{k} = g{k} THEN 1 ELSE 0 END)" for k in range(num_hashes)
    )
    idx2 = idx.select(
        F.col("id").alias("j"),
        *[F.col(f"h{k}").alias(f"g{k}") for k in range(num_hashes)],
        F.col("band_id").alias("j_band"),
        F.col("band_hash").alias("j_hash"),
    )
    join_cond = (
        (F.col("j_band") == F.col("band_id"))
        & (F.col("j_hash") == F.col("band_hash"))
        & (F.col("j") < F.col("id"))
        & (F.expr(f"({match_terms}) >= {NEARDUP_MIN_MATCHES}"))
    )
    r = _salt_factor(idx2)
    if r <= 1:
        return b_banded.join(idx2, join_cond, "left_semi").select("id").distinct()
    probe = b_banded.withColumn("salt", F.pmod(F.hash("id"), F.lit(r)))
    state = idx2.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(r - 1)))
    )
    return (
        probe.join(state, join_cond & (probe["salt"] == state["salt"]), "left_semi")
        .select("id")
        .distinct()
    )


def survivor_argmax(frame: DataFrame, carry: str) -> DataFrame:
    """Exact-dedup survivors of a (doc_id, text, n_chars, ``carry``)
    frame: one row per md5 of the Z7 normalized text, whose ``b`` is
    max(struct(n_chars, -doc_id, carry)) — the longest copy, doc_id
    tiebreak (the Y61 policy).  The struct-max is associative and
    commutative, so survivor state merged batch by batch is identical
    however the input was sliced.  Each row shuffles a full 128-bit
    digest (a truncated one opens a birthday-bound divergence from an
    oracle partitioned by the normalized text) and a small payload
    struct, never text."""
    from debias_spark.operators.text import normalize_strict

    ann = frame.select(
        F.md5(normalize_strict(F.col("text"))).alias("digest"),
        F.struct(
            F.col("n_chars").cast("long").alias("n_chars"),
            (-F.col("doc_id")).alias("nid"),
            F.col(carry).alias(carry),
        ).alias("b"),
    )
    return ann.groupBy("digest").agg(F.max("b").alias("b"))


def merge_survivor_state(batch: DataFrame, state_dir: str, carry: str) -> None:
    """Fold a micro-batch's ``survivor_argmax`` into the survivor state
    at ``state_dir``: union it with what earlier batches wrote, re-take
    the argmax per digest, and swap the result in
    (``warehouse.swap_state_write``: never a half-updated state).  The
    merge groupBy leaves the state hash-partitioned on digest at the
    drain's shuffle width, so it is written as is — no coalesce(1)
    single writer, no added shuffle."""
    from debias_spark.streaming.incremental import read_state
    from debias_spark.warehouse import swap_state_write

    surv = survivor_argmax(batch, carry)
    prev = read_state(batch.sparkSession, state_dir, surv.schema)
    if prev is not None:
        surv = prev.unionByName(surv).groupBy("digest").agg(F.max("b").alias("b"))
    swap_state_write(surv, state_dir)


def band_screen_state(frame: DataFrame, band_dir: str) -> tuple[DataFrame, DataFrame]:
    """The incremental near-dup screen (Z68's predicate) for one
    micro-batch of (doc_id, text): returns (ids of docs with an EARLIER
    near-duplicate, the batch's band rows).  The batch is MinHash-banded
    into sig-bearing band rows, probed against the band state at
    ``band_dir`` UNION its own earlier ids (``band_dropped_ids``: one
    left-semi EXISTS, no pair materialization), and its band rows are
    appended to the state, hive-partitioned by band_id so later probes
    prune to colliding bands.  Dropped docs enter the state too: they
    keep suppressing later copies, as the pure predicate requires.  The
    state is signatures, never text.  The signature frame feeds the
    bands, the probe and the append from above a shuffle and a hash
    pipeline, so it is checkpointed once."""
    from debias_spark.streaming.incremental import read_state

    sh = frame.select(
        F.col("doc_id").alias("id"), word_shingles(F.col("text"), 1).alias("sh")
    ).filter(F.size("sh") > 0)
    sig = minhash_sig_wide(sh, NEARDUP_HASHES).localCheckpoint(eager=True)
    banded = bands_from_sig_keep_sig(sig, NEARDUP_HASHES, NEARDUP_BANDS)
    prev = read_state(frame.sparkSession, band_dir, banded.schema)
    dropped = band_dropped_ids(banded, banded if prev is None else prev.unionByName(banded))
    banded.write.mode("append").partitionBy("band_id").parquet(band_dir)
    return dropped, banded
