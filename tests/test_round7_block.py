"""Round-7 block keys (X128-X130, T7-T8, Y48, Z39-Z40): semantic
properties the DuckDB oracles can't express — MMR's greedy invariants,
observe-vs-aggregate equivalence, the Arrow boundary delivering groups
intact, and catalog-table idempotence across reruns."""

from __future__ import annotations

from pyspark.sql import functions as F

from debias_spark.catalog import table
from debias_spark.operators import similarity
from debias_spark.registry import load_all_queries

SPECS = load_all_queries()


def test_mmr_first_pick_is_top_relevance_and_all_distinct(spark, sf_dir):
    rows = SPECS["embedding_mmr_rerank"].fn(spark, sf_dir).collect()
    assert [r.rank for r in rows] == [1, 2, 3]
    assert len({r.cand_id for r in rows}) == 3
    emb = table(spark, sf_dir, "embeddings")
    top = similarity.cosine_topk(emb, F.col("vec_id") == 0, k=10).collect()
    # rank 1 is pure relevance by definition of greedy MMR
    assert rows[0].cand_id == top[0].cand_id
    # every selection came from the candidate pool
    pool = {r.cand_id for r in top}
    assert {r.cand_id for r in rows} <= pool
    # relevance never increases down the MMR ranks beyond the pool order:
    # rel_e4 of rank 1 is the pool max
    assert rows[0].rel_e4 == max(r.rel_e4 for r in rows)


def test_mmr_diverges_from_pure_topk_on_redundant_pool(spark):
    """On a pool where the two most relevant candidates are near-copies,
    MMR must skip the redundant one where pure top-k would not."""
    import math

    # query q = e0; c1 == c2 (exact duplicates, highest rel, mutual
    # sim 1.0 -> maximal redundancy penalty); c3 less relevant but
    # negatively correlated off-axis -> low sim to the duplicates
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [1.0, 0.5, 0.0]),
        (2, [1.0, 0.5, 0.0]),
        (3, [0.75, -0.66, 0.0]),
        (4, [0.1, 0.9, 0.1]),
    ]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    )
    rel = {
        r.cand_id: r.sim
        for r in similarity.cosine_topk(df, F.col("vec_id") == 0, k=4).collect()
    }
    # pure top-2 = the two near-copies
    top2 = sorted(rel, key=lambda c: (-rel[c], c))[:2]
    assert set(top2) == {1, 2}
    # greedy MMR (lambda=0.7) replayed in python over the same sims
    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        return num / math.sqrt(sum(x * x for x in a) * sum(y * y for y in b))

    vecs = dict(rows)
    sel = [min(top2, key=lambda c: (-rel[c], c))]
    remaining = [c for c in rel if c not in sel]
    scored = {
        c: 0.7 * rel[c] - 0.3 * max(cos(vecs[c], vecs[s]) for s in sel)
        for c in remaining
    }
    second = min(scored, key=lambda c: (-scored[c], c))
    assert second not in top2  # the near-copy was displaced


def test_observe_metrics_equal_second_pass_aggregate(spark, sf_dir):
    row = SPECS["diag_observe_metrics"].fn(spark, sf_dir).collect()[0]
    src = table(spark, sf_dir, "orders")
    agg = src.agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("c"),
        F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("f"),
    ).collect()[0]
    assert (row.n_rows, row.total_cents, row.n_fulfilled) == (agg.n, agg.c, agg.f)


def test_applyinarrow_covers_every_group_once(spark, sf_dir):
    rows = SPECS["grouped_stats_applyinarrow"].fn(spark, sf_dir).collect()
    docs = table(spark, sf_dir, "documents")
    langs = {r.lang for r in docs.select("lang").distinct().collect()}
    assert {r.lang for r in rows} == langs
    assert sum(r.n_docs for r in rows) == docs.count()
    for r in rows:
        assert r.min_chars <= r.max_chars
        assert r.min_chars * r.n_docs <= r.total_chars <= r.max_chars * r.n_docs


def test_sql_udf_matches_inline_expression(spark, sf_dir):
    rows = SPECS["sql_scalar_udf_create"].fn(spark, sf_dir).collect()
    inline = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "O")
        .groupBy("o_orderpriority")
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * (1 - 0.04) * 100).cast("long")
            ).alias("disc_cents"),
            F.count("*").alias("n"),
        )
        .orderBy("o_orderpriority")
        .collect()
    )
    assert [tuple(r) for r in rows] == [tuple(r) for r in inline]


def test_managed_table_insert_is_rerun_idempotent(spark, sf_dir):
    a = SPECS["sink_managed_table_insert"].fn(spark, sf_dir).collect()
    b = SPECS["sink_managed_table_insert"].fn(spark, sf_dir).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert {r.o_orderstatus for r in a} == {"F", "O"}


def test_permissive_json_quarantines_exact_bad_set(spark, sf_dir):
    row = SPECS["source_json_permissive_badrecords"].fn(spark, sf_dir).collect()[0]
    docs = table(spark, sf_dir, "documents")
    n = docs.count()
    bad = docs.where(F.col("doc_id") % 10 == 3).count()
    assert (row.n_lines, row.n_corrupt) == (n, bad)
    good_chars = (
        docs.where(F.col("doc_id") % 10 != 3)
        .agg(F.sum("n_chars"))
        .collect()[0][0]
    )
    assert row.chars_good == good_chars


def test_interval_frame_matches_python_replay(spark, sf_dir):
    """Replay the trailing-24h frame for a handful of sampled events in
    pure Python from the raw rows."""
    import datetime

    rows = SPECS["window_interval_range_frame"].fn(spark, sf_dir).collect()
    sample = {r.event_id: r for r in rows[:12]}
    uids = {r.user_id for r in sample.values()}
    ev = [
        (r.event_id, r.user_id, r.ts, int(r.cents) if r.cents is not None else None)
        for r in table(spark, sf_dir, "events")
        .where(F.col("user_id").isin(*uids))
        .select(
            "event_id", "user_id", "ts",
            F.floor(F.col("value") * 100).cast("long").alias("cents"),
        )
        .collect()
    ]
    day = datetime.timedelta(hours=24)
    for eid, r in sample.items():
        me = next(e for e in ev if e[0] == eid)
        frame = [
            e for e in ev
            if e[1] == me[1] and me[2] - day <= e[2] <= me[2]
        ]
        assert r.n_24h == len(frame), eid
        assert r.cents_24h == sum(e[3] for e in frame if e[3] is not None), eid


def test_balanced_sample_equalizes_lang_counts(spark, sf_dir):
    rows = SPECS["docs_lang_balanced_sample"].fn(spark, sf_dir).collect()
    counts = {r.lang: r.n_docs for r in rows}
    assert len(set(counts.values())) == 1  # every lang keeps exactly K
    per_lang = {
        r.lang: r.n
        for r in table(spark, sf_dir, "documents")
        .groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert set(counts.values()) == {min(per_lang.values())}
    # deterministic: rerun picks the identical doc sets (id_sum pins them)
    again = SPECS["docs_lang_balanced_sample"].fn(spark, sf_dir).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_udtf_dynamic_schema_changes_with_argument(spark, sf_dir):
    """The analyze() contract: a different literal max_n yields a
    different relation schema from the same registration."""
    SPECS["udtf_dynamic_schema_ngrams"].fn(spark, sf_dir)  # registers the UDTF
    two = spark.sql("SELECT * FROM prefix_ngrams_t9('a b c', 2)")
    four = spark.sql("SELECT * FROM prefix_ngrams_t9('a b c', 4)")
    assert [f.name for f in two.schema.fields] == ["n_tokens", "g1", "g2"]
    assert [f.name for f in four.schema.fields] == [
        "n_tokens", "g1", "g2", "g3", "g4",
    ]
    r = four.collect()[0]
    assert (r.n_tokens, r.g1, r.g2, r.g3, r.g4) == (3, "a", "a b", "a b c", None)


def test_stream_python_source_replay_window_matches_read(spark):
    """readBetweenOffsets (the recovery path) must reproduce exactly the
    rows the incremental read() path emitted for the same offset span."""
    from debias_spark.sources.synthetic import _SyntheticStreamReader

    r = _SyntheticStreamReader({"batches": "3", "rowsperbatch": "7", "seed": "5"})
    incremental = []
    off = r.initialOffset()
    for _ in range(3):
        it, off = r.read(off)
        incremental.extend(it)
    replay = list(r.readBetweenOffsets({"batch": 0}, {"batch": 3}))
    assert incremental == replay
    assert len(incremental) == 21
    # past the end: empty, offset unchanged
    it, end = r.read(off)
    assert list(it) == [] and end == off


def test_audio_rms_totals_match_formula(spark, sf_dir):
    rows = SPECS["multimodal_audio_rms_by_rate"].fn(spark, sf_dir).collect()
    docs = [r.doc_id for r in table(spark, sf_dir, "documents").select("doc_id").collect()]
    assert sum(r.n_clips for r in rows) == len(docs)
    expected_sq = {}
    for d in docs:
        rate = 8000 + (d % 3) * 4000
        n = 20 + d % 17
        sq = sum((((d * 31 + i * 17) % 65536) - 32768) ** 2 for i in range(n))
        expected_sq[rate] = expected_sq.get(rate, 0) + sq
    assert {r.sample_rate: r.energy_sum_sq for r in rows} == expected_sq


def test_scripting_trajectory_matches_python_fold(spark, sf_dir):
    """Replay the sequential compounding fold in pure Python from the
    monthly counts — order dependence is the point of the key."""
    rows = SPECS["sql_scripting_budget_loop"].fn(spark, sf_dir).collect()
    monthly = {
        r.m: r.c
        for r in table(spark, sf_dir, "orders")
        .where(F.expr("year(o_orderdate) = 1997"))
        .groupBy(F.expr("month(o_orderdate)").alias("m"))
        .agg(F.count("*").alias("c"))
        .collect()
    }
    bal = 1_000_000
    expect = []
    for m in range(1, 13):
        bal = bal + bal * monthly.get(m, 0) // 1_000_000
        expect.append((m, bal))
    assert [(r.month, r.bal) for r in rows] == expect


def test_scripting_key_restores_conf_when_table_raises(spark, sf_dir, monkeypatch):
    """The scripting conf is pinned around the table() read too: a read
    that raises leaves spark.sql.scripting.enabled as it was."""
    import pytest

    from debias_spark.queries import relational_ext27

    key = "spark.sql.scripting.enabled"
    before = spark.conf.get(key, None)

    def broken(*args):
        raise OSError("orders unreadable")

    monkeypatch.setattr(relational_ext27, "table", broken)
    with pytest.raises(OSError, match="orders unreadable"):
        SPECS["sql_scripting_budget_loop"].fn(spark, sf_dir)
    assert spark.conf.get(key, None) == before


def test_transpose_cells_match_groupby(spark, sf_dir):
    rows = {r.key: (r.F, r.O) for r in SPECS["sql_transpose_metrics"].fn(spark, sf_dir).collect()}
    agg = {
        r.l_linestatus: r
        for r in table(spark, sf_dir, "lineitem")
        .groupBy("l_linestatus")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
            F.countDistinct("l_partkey").alias("n_parts"),
        )
        .collect()
    }
    assert rows["n_rows"] == (agg["F"].n_rows, agg["O"].n_rows)
    assert rows["sum_qty"] == (agg["F"].sum_qty, agg["O"].sum_qty)
    assert rows["n_parts"] == (agg["F"].n_parts, agg["O"].n_parts)


def test_approx_topk_exact_on_bounded_domain(spark, sf_dir):
    """maxItemsTracked >= |domain| makes the sketch provably exact."""
    rows = SPECS["agg_approx_topk_events"].fn(spark, sf_dir).collect()
    exact = (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "event_type")
        .collect()
    )
    assert [(r.event_type, r.cnt) for r in rows] == [
        (r.event_type, r.cnt) for r in exact[:4]
    ]


def test_metadata_row_index_is_dense_zero_based(spark, sf_dir):
    rows = {r.file_name: r for r in SPECS["source_metadata_columns"].fn(spark, sf_dir).collect()}
    assert set(rows) == {"nation.parquet", "region.parquet"}
    for r in rows.values():
        n = r.n_rows
        assert (r.min_ri, r.max_ri, r.sum_ri) == (0, n - 1, n * (n - 1) // 2)


def test_udtf_table_arg_one_row_per_lang_tie_break(spark, sf_dir):
    rows = SPECS["udtf_table_argument_stats"].fn(spark, sf_dir).collect()
    langs = [r.lang for r in rows]
    assert langs == sorted(set(langs))  # exactly one row per lang
    docs = table(spark, sf_dir, "documents").collect()
    for r in rows:
        mine = [d for d in docs if d.lang == r.lang]
        assert r.n_docs == len(mine)
        assert r.total_chars == sum(d.n_chars for d in mine)
        mx = max(d.n_chars for d in mine)
        assert r.longest_doc == min(d.doc_id for d in mine if d.n_chars == mx)


def test_state_store_reader_metadata_names_the_operator(spark, sf_dir):
    """The state-metadata companion format must name the aggregation
    operator whose state the key reads."""
    from debias_spark.queries.streaming_ext4 import state_metadata
    from debias_spark.warehouse import scratch_dir

    SPECS["stream_state_store_reader"].fn(spark, sf_dir).collect()
    ckpt = scratch_dir(spark, sf_dir, "z43_ckpt")
    meta = state_metadata(spark, ckpt).collect()
    assert len(meta) == 1
    assert meta[0].operatorName == "stateStoreSave"
    assert meta[0].minBatchId == 0


def test_spearman_matches_python_replay(spark, sf_dir):
    """Exact replay: integer half-unit average ranks + exact moments in
    unbounded Python ints, identical final float pipeline."""
    import math

    row = SPECS["stats_spearman_corr"].fn(spark, sf_dir).collect()[0]
    parts = (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(
            F.sum(F.col("l_quantity").cast("bigint")).alias("x"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("y"),
        )
        .collect()
    )

    def ranks2(vals):
        order = sorted(vals)
        first = {}
        cnt = {}
        for i, v in enumerate(order, start=1):
            first.setdefault(v, i)
            cnt[v] = cnt.get(v, 0) + 1
        return [2 * first[v] + cnt[v] - 1 for v in vals]

    rx = ranks2([r.x for r in parts])
    ry = ranks2([r.y for r in parts])
    n = len(rx)
    sx, sy = sum(rx), sum(ry)
    sxx = sum(v * v for v in rx)
    syy = sum(v * v for v in ry)
    sxy = sum(a * b for a, b in zip(rx, ry))
    r = float(n * sxy - sx * sy) / (
        math.sqrt(float(n * sxx - sx * sx)) * math.sqrt(float(n * syy - sy * sy))
    )
    assert row.n_parts == n
    assert row.spearman_e6 == math.floor(r * 1000000 + 0.5 + 1e-9)
    assert -1000000 <= row.spearman_e6 <= 1000000


def test_pipe_chain_equals_classic_spelling(spark, sf_dir):
    rows = SPECS["sql_pipe_syntax_chain"].fn(spark, sf_dir).collect()
    classic = (
        table(spark, sf_dir, "lineitem")
        .where(F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
                "rev_cents"
            ),
        )
        .where(F.col("n_items") > 10)
        .orderBy("l_returnflag", "l_linestatus")
        .collect()
    )
    assert [tuple(r) for r in rows] == [tuple(r) for r in classic]


def test_recursive_reach_matches_python_bfs(spark, sf_dir):
    rows = SPECS["sql_recursive_cte_reach"].fn(spark, sf_dir).collect()
    li = (
        table(spark, sf_dir, "lineitem")
        .where(F.col("l_partkey") < 2500)
        .select("l_orderkey", "l_partkey")
        .collect()
    )
    by_order = {}
    for r in li:
        by_order.setdefault(r.l_orderkey, set()).add(r.l_partkey)
    adj = {}
    for ps in by_order.values():
        for a in ps:
            for b in ps:
                if a != b:
                    adj.setdefault(a, set()).add(b)
    seed = min(p for ps in by_order.values() for p in ps)
    hops = {seed: 0}
    frontier = {seed}
    for h in (1, 2):
        nxt = set()
        for node in frontier:
            for nb in adj.get(node, ()):
                if nb not in hops:
                    hops[nb] = h
                    nxt.add(nb)
        frontier = nxt
    expect = {}
    for node, h in hops.items():
        lvl = expect.setdefault(h, [])
        lvl.append(node)
    got = {r.hop: (r.n_nodes, r.min_node, r.max_node, r.sum_nodes) for r in rows}
    assert got == {
        h: (len(ns), min(ns), max(ns), sum(ns)) for h, ns in expect.items()
    }


def test_table_function_lateral_equals_group_by(spark, sf_dir):
    rows = SPECS["sql_table_function_lateral"].fn(spark, sf_dir).collect()
    classic = (
        table(spark, sf_dir, "orders")
        .where(F.expr("year(o_orderdate) IN (1996, 1997, 1998)"))
        .groupBy(
            F.expr("CAST(year(o_orderdate) AS INT)").alias("yr"),
            F.expr("CAST(month(o_orderdate) AS INT)").alias("mth"),
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "rev_cents"
            ),
        )
        .orderBy("yr", "mth")
        .collect()
    )
    assert [tuple(r) for r in rows] == [tuple(r) for r in classic]


def test_kl_divergence_nonnegative_and_totals(spark, sf_dir):
    """Gibbs: KL(p_lang || p_corpus) >= 0; lang token totals partition
    the corpus total."""
    rows = SPECS["text_kl_divergence_lang"].fn(spark, sf_dir).collect()
    assert all(r.kl_e6 >= 0 for r in rows)
    total = (
        table(spark, sf_dir, "documents")
        .select(
            F.size(
                F.filter(F.split(F.lower("text"), r"\s+"), lambda t: t != "")
            ).alias("n")
        )
        .agg(F.sum("n"))
        .collect()[0][0]
    )
    assert sum(r.n_tokens for r in rows) == total


def test_trigram_diversity_matches_python_replay(spark, sf_dir):
    import math
    import re

    rows = SPECS["text_trigram_diversity"].fn(spark, sf_dir).collect()
    docs = table(spark, sf_dir, "documents").select("lang", "text").collect()
    per_lang = {}
    for d in docs:
        toks = [t for t in re.split(r"\s+", d.text.lower()) if t]
        tris = [" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)]
        tot, dist = per_lang.setdefault(d.lang, [0, set()])
        per_lang[d.lang][0] += len(tris)
        per_lang[d.lang][1].update(tris)
    for r in rows:
        tot, dist = per_lang[r.lang]
        assert (r.n_trigrams, r.n_distinct) == (tot, len(dist))
        assert r.diversity_e6 == math.floor(
            len(dist) * 1000000 / tot + 0.5 + 1e-9
        )


def test_image_tiles_partition_the_y30_totals(spark, sf_dir):
    """Quadrant sums/counts must partition the whole-image decode totals,
    and the top/bottom split must match the TOP-DOWN formula replay
    (direction bugs move mass between tiles)."""
    rows = SPECS["multimodal_image_tile_stats"].fn(spark, sf_dir).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, {})[r.quadrant] = (r.n_px, r.sum_r)
    whole = {
        r.doc_id: (r.width, r.height, r.sum_r)
        for r in SPECS["multimodal_decode_dims"].fn(spark, sf_dir).collect()
    }
    assert set(by_doc) == set(whole)
    for d, tiles in by_doc.items():
        w, h, total = whole[d]
        assert sorted(tiles) == [0, 1, 2, 3]
        assert sum(t[0] for t in tiles.values()) == w * h
        assert sum(t[1] for t in tiles.values()) == total
        # python replay of quadrant 0 (top-left, top-down y)
        w2, h2 = w // 2, h // 2
        q0 = sum((3 * x + 5 * y) % 251 for x in range(w2) for y in range(h2))
        assert tiles[0] == (w2 * h2, q0)


def test_centroid_drift_matches_python_replay(spark, sf_dir):
    import math

    rows = SPECS["embedding_centroid_drift"].fn(spark, sf_dir).collect()
    emb = table(spark, sf_dir, "embeddings").collect()
    sums = {}
    for r in emb:
        s = sums.setdefault(r.label, [0.0] * len(r.embedding))
        for i, v in enumerate(r.embedding):
            s[i] += float(v)
    gs = [sum(s[i] for s in sums.values()) for i in range(64)]
    for r in rows:
        s = sums[r.label]
        cos = sum(a * b for a, b in zip(s, gs)) / (
            math.sqrt(sum(a * a for a in s)) * math.sqrt(sum(b * b for b in gs))
        )
        # python's summation order differs from both engines; the replay
        # pins the value to within a couple e6 units
        assert abs(r.cos_e6 - math.floor(cos * 1000000 + 0.5 + 1e-9)) <= 2
        assert r.n_vecs == sum(1 for e in emb if e.label == r.label)
        assert -1000000 <= r.cos_e6 <= 1000000


def test_csv_multiline_roundtrip_restores_exact_strings(spark, sf_dir):
    """Byte-for-byte: the set of restored tricky strings equals the set
    of source strings (newline, quote and comma all embedded)."""
    from debias_spark.warehouse import scratch_dir

    SPECS["source_csv_multiline_quotes"].fn(spark, sf_dir).collect()
    path = scratch_dir(spark, sf_dir, "z45_csv")
    back = (
        spark.read.schema("doc_id long, lang string, tricky string")
        .option("header", True)
        .option("multiLine", True)
        .option("escape", "\\")
        .csv(path)
        .collect()
    )
    src = {
        (r.doc_id, r.tricky)
        for r in table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.expr(
                "substr(coalesce(text, ''), 1, 20) || chr(10) || '\"' || lang "
                "|| '\",' || substr(coalesce(text, ''), 21, 20)"
            ).alias("tricky"),
        )
        .collect()
    }
    got = {(r.doc_id, r.tricky) for r in back}
    assert got == src
    assert all("\n" in t and '"' in t and "," in t for _, t in got)


def test_iter_pandas_udf_matches_jvm_expression(spark, sf_dir):
    """The Arrow iterator boundary must not change the bucket math."""
    rows = SPECS["pandas_udf_iter_bucketize"].fn(spark, sf_dir).collect()
    jvm = (
        table(spark, sf_dir, "orders")
        .select(F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"))
        .withColumn(
            "bucket",
            (F.col("cents") * F.lit(2654435761)) % F.lit(2**31) % F.lit(97),
        )
        .groupBy("bucket")
        .agg(F.count("*").alias("n_orders"), F.sum("cents").alias("sum_cents"))
        .orderBy("bucket")
        .collect()
    )
    assert [tuple(r) for r in rows] == [tuple(r) for r in jvm]
    assert all(0 <= r.bucket < 97 for r in rows)


def test_cogroup_asof_matches_python_replay(spark, sf_dir):
    rows = SPECS["cogroup_asof_attribution"].fn(spark, sf_dir).collect()
    ev = table(spark, sf_dir, "events").collect()
    clicks = {}
    for e in ev:
        if e.event_type == "click":
            clicks.setdefault(e.user_id, []).append((e.ts, e.event_id))
    purchases = [e for e in ev if e.event_type == "purchase"]
    assert len(rows) == len(purchases)
    by_id = {r.purchase_id: r for r in rows}
    for p in purchases:
        r = by_id[p.event_id]
        assert r.user_id == p.user_id
        cands = [c for c in clicks.get(p.user_id, []) if c[0] <= p.ts]
        if not cands:
            assert r.click_id is None and r.gap_us is None
        else:
            best = max(cands)  # (ts, event_id): latest ts, tie -> max id
            assert r.click_id == best[1]
            gap = p.ts - best[0]
            assert r.gap_us == gap.days * 86_400_000_000 + gap.seconds * 1_000_000 + gap.microseconds


def test_python_datasource_sink_manifest_contract(spark, sf_dir):
    """Two-phase commit evidence: the driver-side manifest must name
    every task file with its exact row count, and no .tmp stragglers
    may survive a successful job."""
    import json
    import os

    from debias_spark.warehouse import scratch_dir

    rows = SPECS["sink_python_datasource"].fn(spark, sf_dir).collect()
    path = scratch_dir(spark, sf_dir, "z46_pyds")
    manifest = json.load(open(os.path.join(path, "_MANIFEST.json")))
    assert manifest["total_rows"] == len(rows)
    assert not [f for f in os.listdir(path) if f.endswith(".tmp")]
    for entry in manifest["files"]:
        with open(os.path.join(path, entry["file"])) as f:
            assert sum(1 for _ in f) == entry["rows"]
    assert sum(e["rows"] for e in manifest["files"]) == len(rows)


def test_holt_forecast_matches_exact_python_fold(spark, sf_dir):
    """The fold is pure IEEE arithmetic in a fixed order — the Python
    replay must match BIT-exactly (same ops, same order, same doubles)."""
    import math

    row = SPECS["orders_holt_linear_forecast"].fn(spark, sf_dir).collect()[0]
    monthly = (
        table(spark, sf_dir, "orders")
        .groupBy(F.expr("year(o_orderdate) * 12 + month(o_orderdate)").alias("idx"))
        .agg(F.count("*").alias("c"))
        .orderBy("idx")
        .collect()
    )
    ys = [float(r.c) for r in monthly]
    l, b = ys[0], 0.0
    for y in ys[1:]:
        nl = 0.5 * y + 0.5 * (l + b)
        nb = 0.5 * (nl - l) + 0.5 * b
        l, b = nl, nb

    def e4(x):
        return math.floor(x * 10000 + 0.5 + 1e-9)

    assert row.n_months == len(ys)
    assert (row.level_e4, row.trend_e4) == (e4(l), e4(b))
    assert (row.fc1_e4, row.fc3_e4) == (e4(l + b), e4(l + 3 * b))


def test_quantity_integrality_assumption(spark, sf_dir):
    """CAST(l_quantity AS BIGINT) appears in several oracle pairs and is
    only cross-engine-safe while quantities are integral (Spark's
    double->bigint cast truncates, DuckDB's rounds).  Pin the data
    assumption so a testdata-shape change fails HERE, loudly, instead of
    as a silent oracle divergence."""
    bad = (
        table(spark, sf_dir, "lineitem")
        .where(F.col("l_quantity") != F.floor("l_quantity"))
        .count()
    )
    assert bad == 0


def test_mmr_registered_sql_matches_python_greedy_replay(spark, sf_dir):
    """Independently verify the SHIPPED MMR SQL (not a reimplementation
    of the oracle): replay the greedy argmax chain in Python from the
    embeddings table and require the full ranked sequence to match."""
    import math

    from debias_spark.queries.llm_ops20 import _K_CAND, _LAMBDA

    lam = float(_LAMBDA)  # the key embeds it as SQL literal text

    rows = SPECS["embedding_mmr_rerank"].fn(spark, sf_dir).collect()
    emb = {r.vec_id: [float(x) for x in r.embedding]
           for r in table(spark, sf_dir, "embeddings").collect()}

    def r4(x):
        # Spark round(): HALF_UP away from zero
        return (math.floor(x * 10000 + 0.5) / 10000
                if x >= 0 else -math.floor(-x * 10000 + 0.5) / 10000)

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        return dot / (math.sqrt(sum(x * x for x in a))
                      * math.sqrt(sum(y * y for y in b)))

    q = emb[0]
    sims = sorted(
        ((r4(cos(q, v)), vid) for vid, v in emb.items() if vid != 0),
        key=lambda t: (-t[0], t[1]),
    )[:_K_CAND]
    rel = {vid: s for s, vid in sims}
    pair = {
        (a, b): r4(cos(emb[a], emb[b]))
        for _, a in sims
        for _, b in sims
        if a != b
    }
    selected = []
    for _ in range(3):
        cands = [vid for vid in rel if vid not in selected]
        if not selected:
            pick = min(cands, key=lambda v: (-rel[v], v))
        else:
            def score(v):
                ms = max(pair[(v, s)] for s in selected)
                return lam * rel[v] - (1 - lam) * ms
            pick = min(cands, key=lambda v: (-score(v), v))
        selected.append(pick)
    got = [(r.rank, r.cand_id, r.rel_e4) for r in rows]
    want = [
        (i + 1, vid, math.floor(rel[vid] * 10000 + 0.5 + 1e-9))
        for i, vid in enumerate(selected)
    ]
    assert got == want
