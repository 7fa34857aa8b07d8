"""Graph analytics over the co-purchase graph: PageRank, k-core
decomposition, BFS shortest hops and neighbor-Jaccard link prediction,
each with an unrolled or recursive-CTE oracle.

The reference has no graph surface; north-star extensions per SURVEY §2.H.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debias_spark.catalog import table
from debias_spark.numeric import floor_eps, floor_eps_sql
from debias_spark.registry import register


_PR_ITERS = 5


_PR_DAMP = 0.85


_PR_TOPK = 20


def _pagerank_oracle() -> str:
    """Unrolled fixed-iteration PageRank as chained CTEs — DuckDB replays
    the exact synchronous iteration the Spark loop performs, so the
    value-hash pins the iterative algorithm, not just one matmul."""
    ctes = [
        "items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)",
        """pairs AS (
            SELECT a.l_partkey AS pa, b.l_partkey AS pb
            FROM items a JOIN items b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)""",
        "e0 AS (SELECT pa, pb FROM pairs GROUP BY pa, pb HAVING count(*) >= 2)",
        """edges AS (SELECT pa AS src, pb AS dst FROM e0
                     UNION ALL SELECT pb, pa FROM e0)""",
        "deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src)",
        "nn AS (SELECT count(*)::DOUBLE AS n FROM deg)",
        "r0 AS (SELECT deg.src AS node, 1.0 / nn.n AS r FROM deg, nn)",
    ]
    for k in range(_PR_ITERS):
        ctes.append(f"""r{k + 1} AS (
            SELECT t.node, {1 - _PR_DAMP} / nn.n + {_PR_DAMP} * t.s AS r
            FROM (SELECT e.dst AS node, sum(rk.r / deg.d) AS s
                  FROM edges e
                  JOIN r{k} rk ON rk.node = e.src
                  JOIN deg ON deg.src = e.src
                  GROUP BY e.dst) t, nn)""")
    return (
        "WITH " + ",\n".join(ctes) + f"""
    SELECT node AS part, round(r, 6) AS pagerank
    FROM r{_PR_ITERS}
    ORDER BY round(r, 6) DESC, node
    LIMIT {_PR_TOPK}
    """
    )


@register("graph_pagerank_copurchase", "X89", oracle=_pagerank_oracle())
def graph_pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the co-purchase graph (same support>=2 edge set as
    the X67 triangles), 5 synchronous iterations at damping 0.85, top-20
    parts by rounded score — the iterative graph-analytics surface the
    engine otherwise delegates to dedup_clusters' label propagation,
    expressed as plain DataFrame joins (no graph library).

    Scale shape: the edge list materializes ONCE (localCheckpoint, same
    lineage-truncation discipline as operators/dedup.py's pointer
    jumping) with its degree pre-joined; every iteration is then one
    equi-join of edges with the current rank vector plus one dst-keyed
    aggregate — the canonical message-passing round, shuffling rank mass
    only, never the graph.  Node count enters as a broadcast 1-row
    aggregate, not a driver-side constant.  Edge construction is the
    shared basket-local build (operators/graph.py): two shuffles, no
    self-join."""
    from debias_spark.operators.graph import copurchase_edges

    und = copurchase_edges(spark, sf_dir, min_support=2)
    edges = und.select(F.col("pa").alias("src"), F.col("pb").alias("dst")).unionAll(
        und.select(F.col("pb").alias("src"), F.col("pa").alias("dst"))
    )
    deg = edges.groupBy("src").agg(F.count("*").alias("d"))
    edges_deg = edges.join(deg, "src").localCheckpoint(eager=True)
    # everything downstream reads ONLY the checkpointed edge list — deg/nn
    # spelled over `edges` would silently re-run the basket self-join every
    # iteration through the un-truncated lineage (measured 1.4-2.4 s/iter
    # on a 7k-edge graph, pure recompute)
    nodes = edges_deg.select(F.col("src").alias("node")).distinct()
    nn = nodes.agg(F.count("*").cast("double").alias("n")).localCheckpoint(
        eager=True
    )
    ranks = nodes.crossJoin(F.broadcast(nn)).select(
        "node", (F.lit(1.0) / F.col("n")).alias("r")
    )
    for i in range(_PR_ITERS):
        inflow = (
            edges_deg.join(ranks, edges_deg["src"] == ranks["node"])
            .groupBy("dst")
            .agg(F.sum(F.col("r") / F.col("d")).alias("s"))
        )
        # checkpoint every SECOND round (plus the last): each eager
        # checkpoint is a full job, and per-iteration truncation measured
        # 3.15 s warm vs 2.30 s at stride 2 / 2.17 s end-only (min-of-3,
        # sf0.1); stride 2 keeps the lineage depth bounded for long
        # iteration counts — the same O(1)-depth discipline as
        # operators/dedup.py's pointer jumping — at ~6% over end-only
        ranks = inflow.crossJoin(F.broadcast(nn)).select(
            F.col("dst").alias("node"),
            (F.lit(1 - _PR_DAMP) / F.col("n") + F.lit(_PR_DAMP) * F.col("s")).alias("r"),
        )
        if i % 2 == 1 or i == _PR_ITERS - 1:
            ranks = ranks.localCheckpoint(eager=True)
    return (
        ranks.select("node", F.round("r", 6).alias("pagerank"))
        .orderBy(F.desc("pagerank"), F.asc("node"))
        .limit(_PR_TOPK)
        .select(F.col("node").alias("part"), "pagerank")
    )


_KCORE_K = 3


_KCORE_ROUNDS = 4


def _kcore_oracle() -> str:
    """Unrolled fixed-round peel as chained CTEs: DuckDB replays exactly
    the synchronous rounds the Spark loop performs.

    Every round CTE is MATERIALIZED: each e{{r}} is referenced three
    times (both degree orientations + the next filter) and each k{{r}}
    twice through IN-subqueries, and DuckDB's default inlining
    re-evaluates the whole peel chain per reference — measured 112 s for
    the 4-round oracle at sf0.01 vs ~1 s materialized.  The same
    reuse-count doctrine as the Spark side's per-round checkpoints."""
    ctes = [
        "items AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)",
        """pairs AS MATERIALIZED (
            SELECT a.l_partkey AS pa, b.l_partkey AS pb
            FROM items a JOIN items b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)""",
        "e0 AS MATERIALIZED (SELECT pa, pb FROM pairs GROUP BY pa, pb HAVING count(*) >= 2)",
    ]
    for r in range(_KCORE_ROUNDS):
        ctes.append(f"""d{r} AS MATERIALIZED (
            SELECT node, count(*) AS d FROM (
                SELECT pa AS node FROM e{r} UNION ALL SELECT pb FROM e{r}
            ) GROUP BY node)""")
        ctes.append(
            f"k{r} AS MATERIALIZED (SELECT node FROM d{r} WHERE d >= {_KCORE_K})"
        )
        ctes.append(f"""e{r + 1} AS MATERIALIZED (
            SELECT pa, pb FROM e{r}
            WHERE pa IN (SELECT node FROM k{r})
              AND pb IN (SELECT node FROM k{r}))""")
    r = _KCORE_ROUNDS
    return (
        "WITH " + ",\n".join(ctes) + f"""
    SELECT node AS part, count(*) AS degree FROM (
        SELECT pa AS node FROM e{r} UNION ALL SELECT pb FROM e{r}
    ) GROUP BY node
    ORDER BY part
    """
    )


@register("graph_kcore_copurchase", "X91", oracle=_kcore_oracle())
def graph_kcore_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{R}-round {k}-core peel of the co-purchase graph (same support>=2
    edge set as the X67 triangles / X89 PageRank): each round drops every
    part with fewer than {k} surviving co-purchase partners and the edges
    touching it, reporting the surviving parts with their residual
    degree — the standard dense-cohort extractor (recommendation cores,
    spam rings) and, with PageRank and connected components, the third
    canonical iterative-graph shape.

    Scale shape: the edge list builds once (basket-local, operators/
    graph.py) and is checkpointed; each round is two node-keyed
    aggregates plus two semi-joins of the edge list against the
    surviving-node frame — message-passing rounds that shuffle node ids
    only, AQE broadcasting the node frame when the core shrinks small.
    The round count is FIXED ({R}) so the result is well-defined without
    a convergence test; a converged k-core is the fixpoint of the same
    loop."""
    from debias_spark.operators.graph import copurchase_edges

    und = copurchase_edges(spark, sf_dir, min_support=2).localCheckpoint(
        eager=True
    )
    for r in range(_KCORE_ROUNDS):
        directed = und.select(F.col("pa").alias("node")).unionAll(
            und.select(F.col("pb").alias("node"))
        )
        keep = (
            directed.groupBy("node")
            .agg(F.count("*").alias("d"))
            .filter(F.col("d") >= _KCORE_K)
            .select("node")
        )
        und = (
            und.join(keep, und["pa"] == keep["node"], "left_semi")
            .join(keep, und["pb"] == keep["node"], "left_semi")
            # checkpoint EVERY round — unlike PageRank's rank vector
            # (read once per round, so a stride-2 cadence only doubles
            # plan depth), the edge frame is read THREE times per round
            # (both union orientations + the semi-join base), so each
            # un-checkpointed round multiplies the plan: measured 213 s
            # for the 4-round peel under a default-conf 200-partition
            # session at sf0.01 with stride 2, vs ~3 s checkpointing
            # per round.  Reuse count, not round count, picks the cadence.
            .localCheckpoint(eager=True)
        )
    final = und.select(F.col("pa").alias("node")).unionAll(
        und.select(F.col("pb").alias("node"))
    )
    return (
        final.groupBy("node")
        .agg(F.count("*").alias("degree"))
        .select(F.col("node").alias("part"), "degree")
        .orderBy("part")
    )


graph_kcore_copurchase.__doc__ = graph_kcore_copurchase.__doc__.replace(
    "{k}", str(_KCORE_K)
).replace("{R}", str(_KCORE_ROUNDS))


@register(
    "graph_shortest_hops",
    "X96",
    oracle="""
    WITH RECURSIVE items AS MATERIALIZED (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), pairs AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), edges AS MATERIALIZED (
        SELECT pa, pb FROM pairs GROUP BY pa, pb HAVING count(*) >= 2
    ), und AS MATERIALIZED (
        SELECT pa AS a, pb AS b FROM edges
        UNION ALL
        SELECT pb AS a, pa AS b FROM edges
    ), bfs AS (
        SELECT (SELECT min(a) FROM und) AS node, 0 AS hops
        UNION
        SELECT u.b AS node, bfs.hops + 1 AS hops
        FROM bfs JOIN und u ON u.a = bfs.node
        WHERE bfs.hops < 4
    )
    SELECT node, CAST(min(hops) AS INTEGER) AS hops
    FROM bfs GROUP BY node
    """,
)
def graph_shortest_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS shortest hop-counts from the minimum part key over the
    co-purchase graph (support >= 2), capped at 4 hops — the reachability /
    shortest-path primitive, value-oracled against a DuckDB recursive CTE
    (the recursion dedups on (node, hops) and the final MIN collapses to
    first-reach distance, which is exactly what the Spark frontier
    anti-join computes).

    Iterative discipline (the PageRank/k-core doctrine, SCALE.md):
      - the undirected edge list feeds every round -> localCheckpoint once;
      - visited is read 3x per round (anti-join, union, next frontier) ->
        checkpoint EVERY round, and the next frontier derives from the
        CHECKPOINTED frame so nothing recomputes upstream lineage;
      - the seed is a broadcast 1-row aggregate, never a driver constant;
      - per-round shuffle carries (node, hops) ids only, never the graph.

    Scale shape: frontier expansion is one equi-join + distinct per round,
    state is O(visited nodes); 4 fixed rounds keep the plan finite.  At
    100 TB the same loop runs with the edge list persisted instead of
    locally checkpointed."""
    from debias_spark.operators.graph import copurchase_edges

    edges = copurchase_edges(spark, sf_dir, min_support=2)
    und = (
        edges.select(F.col("pa").alias("a"), F.col("pb").alias("b"))
        .unionByName(edges.select(F.col("pb").alias("a"), F.col("pa").alias("b")))
        .localCheckpoint(eager=True)
    )
    seed = und.agg(F.min("a").alias("node"))
    visited = seed.select(
        "node", F.lit(0).cast("int").alias("hops")
    ).localCheckpoint(eager=True)
    for hop in range(1, 5):
        frontier = visited.filter(F.col("hops") == hop - 1).select("node")
        nxt = (
            frontier.join(und, frontier["node"] == und["a"])
            .select(F.col("b").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
            .withColumn("hops", F.lit(hop).cast("int"))
        )
        visited = visited.unionByName(nxt).localCheckpoint(eager=True)
        # early exit once the frontier empties (BFS saturated or dead-ended):
        # the check scans only the materialized checkpoint, and skipped
        # rounds could never add rows, so the result is identical to the
        # fixed 4 rounds the oracle unrolls.  Wall-clock is edge-build
        # dominated at tested SFs (no measurable delta), but at scale a
        # dead frontier stops paying per-round shuffles immediately
        if visited.filter(F.col("hops") == hop).isEmpty():
            break
    return visited


_NJ_CAP = 1200  # probe subgraph: parts below this id


_NJ_MIN_JACC_E4 = 2000


@register(
    "graph_neighbor_jaccard",
    "X154",
    oracle=f"""
    WITH b AS MATERIALIZED (
        SELECT l_orderkey, l_partkey AS p
        FROM lineitem WHERE l_partkey < {_NJ_CAP}
        GROUP BY 1, 2
    ), edges AS MATERIALIZED (
        SELECT DISTINCT a.p AS src, b2.p AS dst
        FROM b a JOIN b b2 ON b2.l_orderkey = a.l_orderkey AND b2.p <> a.p
    ), deg AS MATERIALIZED (
        SELECT src, count(*) AS d FROM edges GROUP BY 1
    ), inter AS (
        SELECT e1.src AS pa, e2.src AS pb, count(*) AS i
        FROM edges e1 JOIN edges e2
          ON e2.dst = e1.dst AND e1.src < e2.src
        GROUP BY 1, 2
    )
    SELECT i.pa, i.pb,
           CAST(i.i AS BIGINT) AS n_common,
           {floor_eps_sql("CAST(i.i AS DOUBLE) * 10000 / (da.d + db.d - i.i)")}
               AS jaccard_e4
    FROM inter i
    JOIN deg da ON da.src = i.pa
    JOIN deg db ON db.src = i.pb
    WHERE {floor_eps_sql("CAST(i.i AS DOUBLE) * 10000 / (da.d + db.d - i.i)")}
          >= {_NJ_MIN_JACC_E4}
    ORDER BY pa, pb
    """,
)
def graph_neighbor_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighbor-set Jaccard similarity — the classic link-prediction /
    item-item collaborative-filtering feature: two parts are similar
    when they share co-purchase neighbors, and the candidate pairs come
    from an INVERTED POSTINGS JOIN on the shared neighbor (exactly the
    LSH-bucket idea: only pairs with >= 1 common neighbor are ever
    scored, never all |V|^2).  Jaccard = i / (da + db - i) on exact
    integer counts, emitted floor-eps e4 and thresholded on the INTEGER.

    Scale shape: the postings join fans out by neighbor degree — at
    100 TB the standard cap is dropping super-connector neighbors (a DF
    cap like Z24's containment index); the bounded probe subgraph here
    keeps the demo exact while the docstring names the production cap.
    One basket distinct, one postings self-join, two degree joins."""
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_partkey") < _NJ_CAP)
    b = li.select("l_orderkey", F.col("l_partkey").alias("p")).distinct()
    e1 = b.select(F.col("l_orderkey").alias("k"), F.col("p").alias("src"))
    e2 = b.select(F.col("l_orderkey").alias("k"), F.col("p").alias("dst"))
    edges = (
        e1.join(e2, "k")
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
        .localCheckpoint(eager=True)  # read 3x: postings x2 + degrees
    )
    deg = edges.groupBy("src").agg(F.count("*").alias("d"))
    l_ = edges.select(F.col("src").alias("pa"), F.col("dst").alias("n"))
    r_ = edges.select(F.col("src").alias("pb"), F.col("dst").alias("n"))
    inter = (
        l_.join(r_, "n")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count("*").alias("i"))
    )
    da = deg.select(F.col("src").alias("pa"), F.col("d").alias("da"))
    db = deg.select(F.col("src").alias("pb"), F.col("d").alias("db"))
    j = inter.join(da, "pa").join(db, "pb")
    jacc_e4 = floor_eps(
        F.col("i").cast("double") * 10000
        / (F.col("da") + F.col("db") - F.col("i"))
    ).cast("long")
    return (
        j.select(
            "pa",
            "pb",
            F.col("i").cast("long").alias("n_common"),
            jacc_e4.alias("jaccard_e4"),
        )
        .filter(F.col("jaccard_e4") >= _NJ_MIN_JACC_E4)
        .orderBy("pa", "pb")
    )
