"""Round-5 wave keys: unpivot (X93), offset/fetch (X94), deterministic
hash sampling (X95), BFS shortest hops (X96), value-oracled stream-stream
join (Z31).  Each is also DuckDB-oracled; these tests replay the semantics
independently in pure Python / batch Spark."""

from __future__ import annotations

import hashlib
from collections import deque

from pyspark.sql import functions as F

from debias_spark.catalog import table
from debias_spark.registry import load_all_queries

SPECS = load_all_queries()


def test_unpivot_matches_wide_aggregate(spark, sf_dir):
    rows = SPECS["sql_unpivot_wide_to_long"].fn(spark, sf_dir).collect()
    wide = {
        r.l_returnflag: r
        for r in table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            (F.round(F.sum("l_quantity"), 2) + 0.0).alias("sum_qty"),
            (F.round(F.sum("l_extendedprice"), 2) + 0.0).alias("sum_price"),
            F.count("*").cast("double").alias("n_rows"),
        )
        .collect()
    }
    assert len(rows) == 3 * len(wide)
    for r in rows:
        assert r.value == getattr(wide[r.l_returnflag], r.measure)


def test_unpivot_single_shuffle(spark, sf_dir):
    """Unpivot must stay a map-side expansion: the only exchange in the
    plan is the upstream aggregate's."""
    df = SPECS["sql_unpivot_wide_to_long"].fn(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_offset_fetch_is_rows_101_to_150(spark, sf_dir):
    full = (
        table(spark, sf_dir, "orders")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .select("o_orderkey")
        .limit(150)
        .collect()
    )
    expect = [r.o_orderkey for r in full[100:150]]
    got = [
        r.o_orderkey
        for r in SPECS["sql_offset_fetch_page"].fn(spark, sf_dir).collect()
    ]
    assert sorted(got) == sorted(expect)
    assert len(got) == 50


def test_hash_sample_matches_pure_python(spark, sf_dir):
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    ).collect()
    expect: dict[str, tuple[int, int]] = {}
    for r in orders:
        if hashlib.md5(str(r.o_orderkey).encode()).hexdigest()[31] in "012":
            n, c = expect.get(r.o_orderpriority, (0, 0))
            expect[r.o_orderpriority] = (n + 1, c + round(r.o_totalprice * 100))
    got = {
        r.o_orderpriority: (r.n_sampled, r.revenue_cents)
        for r in SPECS["sample_hash_deterministic"].fn(spark, sf_dir).collect()
    }
    assert got == expect


def test_shortest_hops_matches_pure_python_bfs(spark, sf_dir):
    from debias_spark.operators.graph import copurchase_edges

    adj: dict[int, set[int]] = {}
    for r in copurchase_edges(spark, sf_dir, 2).collect():
        adj.setdefault(r.pa, set()).add(r.pb)
        adj.setdefault(r.pb, set()).add(r.pa)
    src = min(adj)
    dist = {src: 0}
    q = deque([src])
    while q:
        v = q.popleft()
        if dist[v] >= 4:
            continue
        for w in adj[v]:
            if w not in dist:
                dist[w] = dist[v] + 1
                q.append(w)
    got = {
        r.node: r.hops
        for r in SPECS["graph_shortest_hops"].fn(spark, sf_dir).collect()
    }
    assert got == dist


def test_stream_stream_join_matches_batch_range_join(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts"), "value"
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("ts").alias("cts")
    )
    batch = (
        p.join(
            c,
            (F.col("user_id") == F.col("cu"))
            & (F.col("cts") <= F.col("pts"))
            & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 1 HOUR")),
        )
        .select(
            "user_id",
            F.date_format("pts", "yyyy-MM-dd HH:mm:ss").alias("purchase_time"),
            F.date_format("cts", "yyyy-MM-dd HH:mm:ss").alias("click_time"),
            F.round(F.col("value") * 100).cast("long").alias("value_cents"),
        )
        .collect()
    )
    got = SPECS["stream_stream_join_attrib"].fn(spark, sf_dir).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, batch))
    assert got, "attribution join produced no pairs at this sf"


def test_countmin_matches_pure_python(spark, sf_dir):
    ev = table(spark, sf_dir, "events").select("user_id").collect()
    D, W = 4, 256
    cm = [[0] * W for _ in range(D)]
    exact: dict[int, int] = {}
    for r in ev:
        exact[r.user_id] = exact.get(r.user_id, 0) + 1
        for i in range(D):
            h = int(hashlib.md5(f"{i}:{r.user_id}".encode()).hexdigest()[:4], 16) % W
            cm[i][h] += 1
    top = sorted(exact.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    expect = {}
    for uid, n in top:
        est = min(
            cm[i][int(hashlib.md5(f"{i}:{uid}".encode()).hexdigest()[:4], 16) % W]
            for i in range(D)
        )
        expect[uid] = (n, est, est - n)
        assert est >= n  # CM never undercounts
    got = {
        r.user_id: (r.n_exact, r.cm_est, r.overcount)
        for r in SPECS["agg_countmin_heavyhitters"].fn(spark, sf_dir).collect()
    }
    assert got == expect


def test_sequence_pattern_matches_pure_python(spark, sf_dir):
    import re

    ev = table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    ).collect()
    hist: dict[int, list] = {}
    for r in ev:
        hist.setdefault(r.user_id, []).append((r.ts, r.event_id, r.event_type[0]))
    expect = {}
    for uid, h in hist.items():
        s = "".join(c for _, _, c in sorted(h))
        expect[uid] = (
            len(s),
            bool(re.search("v.*c.*p", s)),
            bool(re.search("e{2}", s)),
        )
    got = {
        r.user_id: (r.n_events, r.funnel_vcp, r.double_error)
        for r in SPECS["events_sequence_pattern"].fn(spark, sf_dir).collect()
    }
    assert got == expect


def test_kmeans_assign_and_update_consistent(spark, sf_dir):
    import numpy as np

    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding").collect()
    vecs = {r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in emb}
    cents = {i: vecs[i] for i in range(8) if i in vecs}
    expect_assign = {}
    for vid, v in vecs.items():
        sims = {
            c: round(float(v @ cv / (np.linalg.norm(v) * np.linalg.norm(cv))), 4)
            for c, cv in cents.items()
        }
        best = max(sims.items(), key=lambda kv: (kv[1], -kv[0]))
        expect_assign[vid] = (best[0], best[1])
    got_assign = {
        r.vec_id: (r.cent_id, r.sim)
        for r in SPECS["embedding_kmeans_assign"].fn(spark, sf_dir).collect()
    }
    assert got_assign == expect_assign

    members: dict[int, list] = {}
    for vid, (cid, _) in expect_assign.items():
        members.setdefault(cid, []).append(vecs[vid])
    got_upd = {
        r.cent_id: (r.n_members, r.m0_e4, r.m1_e4, r.m2_e4)
        for r in SPECS["embedding_kmeans_update"].fn(spark, sf_dir).collect()
    }
    assert sum(n for n, *_ in got_upd.values()) == len(vecs)

    def e4(x: float) -> int:
        # the round-6 floor-eps emission (embedding.py): floor(x*1e4+0.5+eps)
        import math

        return int(math.floor(x * 10000 + 0.5 + 1e-9))

    for cid, ms in members.items():
        m = np.mean(ms, axis=0)
        assert got_upd[cid] == (
            len(ms),
            e4(float(m[0])),
            e4(float(m[1])),
            e4(float(m[2])),
        )


def test_cube_grouping_sets_complete(spark, sf_dir):
    """All four grouping sets present, subtotals sum consistently, and
    gid distinguishes the sets."""
    rows = SPECS["sql_cube_grouping_id"].fn(spark, sf_dir).collect()
    by_gid: dict[int, list] = {}
    for r in rows:
        by_gid.setdefault(r.gid, []).append(r)
    assert set(by_gid) == {0, 1, 2, 3}
    grand = by_gid[3][0]
    assert len(by_gid[3]) == 1
    for gid in (0, 1, 2):
        assert sum(r.n_orders for r in by_gid[gid]) == grand.n_orders
        assert sum(r.revenue_cents for r in by_gid[gid]) == grand.revenue_cents
    fine = {(r.priority, r.status) for r in by_gid[0]}
    assert all("(all)" not in k for k in fine)


def test_pca_power_matches_numpy(spark, sf_dir):
    import numpy as np

    emb = table(spark, sf_dir, "embeddings").select("embedding").collect()
    x = np.stack([np.asarray(r.embedding, dtype=np.float64) for r in emb])
    g = x.T @ x
    v = np.full(64, 1.0 / np.sqrt(64))
    for _ in range(3):
        w = g @ v
        nrm = float(np.linalg.norm(w))
        v = w / nrm
    top = np.lexsort((np.arange(64), -np.abs(v)))[0]  # abs desc, idx asc
    sign = -1.0 if v[top] < 0 else 1.0
    expect = {i: round(float(v[i] * sign), 4) for i in range(64)}
    rows = SPECS["embedding_pca_power_topvec"].fn(spark, sf_dir).collect()
    got = {r.idx: r.comp for r in rows}
    assert got == expect
    assert all(r.eig_est == round(nrm, 2) for r in rows)
    # unit vector
    import math
    assert math.isclose(sum(c * c for c in got.values()), 1.0, abs_tol=1e-3)


def test_flesch_matches_pure_python(spark, sf_dir):
    import math
    import re

    docs = table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    expect = {}
    for r in docs:
        s = max(len(re.findall(r"[.!?]+", r.text)), 1)
        w = max(len(re.findall(r"[A-Za-z]+", r.text)), 1)
        y = len(re.findall(r"[aeiouyAEIOUY]+", r.text))
        f = 206.835 - 1.015 * w / s - 84.6 * y / w
        expect[r.doc_id] = (s, w, y, math.floor(f * 100 + 0.5 + 1e-9))
    got = {
        r.doc_id: (r.n_sentences, r.n_words, r.n_syllables, r.flesch_centi)
        for r in SPECS["text_readability_flesch"].fn(spark, sf_dir).collect()
    }
    assert got == expect


def test_schema_merge_nullfills_both_directions(spark, sf_dir):
    row = SPECS["source_parquet_schema_merge"].fn(spark, sf_dir).collect()[0]
    orders = table(spark, sf_dir, "orders")
    n = orders.count()
    n_even = orders.filter(F.col("o_orderkey") % 2 == 0).count()
    assert row.n_rows == n
    assert row.n_with_cents == n_even
    assert row.n_with_priority == n - n_even
    assert row.cents_sum == (
        orders.filter(F.col("o_orderkey") % 2 == 0)
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")))
        .collect()[0][0]
    )


def test_csv_permissive_quarantines_not_drops(spark, sf_dir):
    row = SPECS["source_csv_permissive_badrecords"].fn(spark, sf_dir).collect()[0]
    orders = table(spark, sf_dir, "orders")
    n = orders.count()
    n_bad = orders.filter(F.col("o_orderkey") % 7 == 0).count()
    assert row.n_rows == n  # corrupt rows are captured, not dropped
    assert row.n_corrupt == n_bad
    assert row.cents_good == (
        orders.filter(F.col("o_orderkey") % 7 != 0)
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")))
        .collect()[0][0]
    )


def test_variant_matches_get_json_object(spark, sf_dir):
    got = {
        r.event_type: (r.n_events, r.n_with_k, r.k_sum, r.k_max)
        for r in SPECS["sql_variant_json_path"].fn(spark, sf_dir).collect()
    }
    k = F.get_json_object("props", "$.k").cast("long")
    direct = {
        r.event_type: (r.n, r.nk, r.s, r.m)
        for r in table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.count(k).alias("nk"),
            F.sum(k).alias("s"),
            F.max(k).alias("m"),
        )
        .collect()
    }
    assert got == direct


def test_session_variables_fold_to_literals(spark, sf_dir):
    """The variable-referencing plan must contain the folded literal (and
    so keep pushdown), not a variable lookup at runtime."""
    df = SPECS["sql_session_variables"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "150000" in plan
    assert "variablereference" not in plan.lower()


def test_udtf_bigrams_match_wordlist(spark, sf_dir):
    docs = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 20 == 0)
        .select("doc_id", "text")
        .collect()
    )
    expect = {}
    for r in docs:
        toks = [t for t in r.text.lower().split() if t]
        bgs = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        expect[r.doc_id] = (len(bgs), len(set(bgs)))
    got = {
        r.doc_id: (r.n_bigrams, r.n_distinct_bigrams)
        for r in SPECS["udtf_text_bigram_stats"].fn(spark, sf_dir).collect()
    }
    assert got == expect


def test_round5_plan_invariants(spark, sf_dir):
    """Pin the plan shapes the round-5 docstrings claim (the SCALE.md
    audit, encoded): OFFSET/FETCH plans as TakeOrdered (no global sort),
    the count-min probe joins against a BROADCAST sketch, k-means assign
    broadcasts the centroid frame, and CUBE expands into ONE aggregate."""

    def executed(key):
        df = SPECS[key].fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        return df._jdf.queryExecution().executedPlan().toString()

    p = executed("sql_offset_fetch_page")
    assert "TakeOrderedAndProject" in p
    assert "Exchange rangepartitioning" not in p  # no global sort

    p = executed("agg_countmin_heavyhitters")
    assert "BroadcastExchange" in p  # the 4x256 CM table broadcasts

    p = executed("embedding_kmeans_assign")
    assert "BroadcastExchange" in p or "BroadcastNestedLoopJoin" in p

    p = executed("sql_cube_grouping_id")
    assert "Expand" in p
    assert p.count("Exchange hashpartitioning") == 1  # one aggregate shuffle

    p = executed("sample_hash_deterministic")
    assert p.count("Exchange hashpartitioning") == 1  # filter is map-side
