"""Round-7 wave 7 (Y56, MM9): trigram collision entropy and
bounding-box annotation statistics.

Reference parity: none — the reference (SirHooke/debias-batch-processor)
has no corpus or vision surface; extensions per SURVEY §2.H.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debias_spark.catalog import table
from debias_spark.numeric import floor_eps, floor_eps_sql
from debias_spark.operators.skew import fan_out
from debias_spark.registry import register


@register(
    "docs_trigram_renyi_entropy",
    "Y56",
    oracle=rf"""
    WITH t AS (
        SELECT doc_id, substring(lower(text), 1, 512) AS txt
        FROM documents WHERE len(text) >= 3
    ), g AS (
        SELECT doc_id, substring(txt, i + 1, 3) AS gram
        FROM t, unnest(range(0, len(txt) - 2)) AS u(i)
    ), c AS MATERIALIZED (
        SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2
    ), s AS (
        SELECT doc_id,
               sum(c) AS n,
               sum(c * c) AS c2,
               count(*) AS n_distinct
        FROM c GROUP BY doc_id
    )
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_grams,
           CAST(n_distinct AS BIGINT) AS n_distinct,
           {floor_eps_sql("ln(CAST(n * n AS DOUBLE) / CAST(c2 AS DOUBLE))", 1000000)}
               AS renyi2_e6
    FROM s ORDER BY doc_id
    """,
)
def docs_trigram_renyi_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rényi-2 (collision) entropy of each document's character-trigram
    distribution: H2 = -ln(Σ c²/N²) = ln(N²/Σc²) — low H2 means a few
    trigrams dominate (boilerplate, repeated strings, key-mashing), the
    same signal Shannon entropy gives but with ONE logarithm of a ratio
    of EXACT integers, so both engines call ln on the identical double
    and the floor-eps e6 emission is bit-stable (a Shannon spelling
    needs Σ c·ln c — hundreds of transcendental terms whose last-ulp
    differences accumulate across engines; H2 is the determinism-safe
    member of the Rényi family, and it complements Y51's distinct-count
    diversity with a mass-concentration measure).

    Scale shape: trigram explode -> one map-side-combined (doc, gram)
    count -> one per-doc moment aggregate.  Linear, no joins.  The cost
    is the generator itself (measured: explode of ~300 grams/doc is
    ~1.5s of the 2.5s at sf0.1; integer-coded gram keys were A/B'd at
    5.3s — three ascii(substring()) calls per gram cost more than the
    string shuffle saves — and per-row HOF folds are the interpreted
    path, rule 1), so the spelled form IS the fast form; at 100 TB the
    explode parallelizes with the scan and nothing here is a barrier."""
    docs = fan_out(table(spark, sf_dir, "documents"))
    # quality signals need a bounded sample, not the whole document: the
    # 512-char prefix bounds per-doc work on arbitrarily long real-world
    # documents (this corpus averages ~300 chars, so it is a no-op here)
    t = docs.select(
        "doc_id", F.substring(F.lower("text"), 1, 512).alias("txt")
    ).filter(F.length(F.col("text")) >= 3)
    g = t.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.length("txt") - 2)).alias("i"),
        "txt",
    ).select("doc_id", F.expr("substring(txt, i, 3)").alias("gram"))
    c = g.groupBy("doc_id", "gram").agg(F.count("*").alias("c"))
    s = c.groupBy("doc_id").agg(
        F.sum("c").alias("n"),
        F.sum(F.col("c") * F.col("c")).alias("c2"),
        F.count("*").alias("n_distinct"),
    )
    return s.select(
        "doc_id",
        F.col("n").cast("long").alias("n_grams"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        floor_eps(
            F.log((F.col("n") * F.col("n")).cast("double") / F.col("c2").cast("double")),
            1000000,
        )
        .cast("long")
        .alias("renyi2_e6"),
    ).orderBy("doc_id")


# synthetic per-doc bounding boxes (deterministic from doc_id): the
# object-detection annotation shape — array<struct<x,y,w,h>> — without
# needing an image decoder.  The SAME formulas run in the oracle.
_BOX_N = "doc_id % 5 + 1"
_BX = "(doc_id * 31 + i * 7) % 100"
_BY = "(doc_id * 17 + i * 11) % 100"
_BW = "1 + (doc_id + i) % 20"
_BH = "1 + (doc_id * 3 + i) % 15"


@register(
    "multimodal_bbox_area_stats",
    "MM9",
    oracle=f"""
    WITH b AS MATERIALIZED (
        SELECT doc_id, i,
               {_BX} AS x, {_BY} AS y, {_BW} AS w, {_BH} AS h
        FROM documents, unnest(range(0, {_BOX_N})) AS u(i)
    ), pairs AS (
        SELECT a.doc_id,
               CAST(NOT (a.x + a.w <= b.x OR b.x + b.w <= a.x
                         OR a.y + a.h <= b.y OR b.y + b.h <= a.y)
                    AS INT) AS ov
        FROM b a JOIN b b ON b.doc_id = a.doc_id AND a.i < b.i
    )
    SELECT s.doc_id,
           CAST(s.n_boxes AS BIGINT) AS n_boxes,
           CAST(s.total_area AS BIGINT) AS total_area,
           CAST(s.max_area AS BIGINT) AS max_area,
           CAST(coalesce(p.n_overlaps, 0) AS BIGINT) AS n_overlaps
    FROM (
        SELECT doc_id, count(*) AS n_boxes,
               sum(w * h) AS total_area, max(w * h) AS max_area
        FROM b GROUP BY doc_id
    ) s LEFT JOIN (
        SELECT doc_id, sum(ov) AS n_overlaps FROM pairs GROUP BY doc_id
    ) p ON p.doc_id = s.doc_id
    ORDER BY s.doc_id
    """,
)
def multimodal_bbox_area_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Object-detection annotation processing: every document carries a
    deterministic array<struct<x,y,w,h>> of 1-5 bounding boxes (the
    COCO-style metadata a vision pipeline filters on before decoding a
    single pixel), and the key computes per-image box count, total and
    max box area, and the number of OVERLAPPING box pairs — the crowding
    signal used to drop cluttered or mislabeled images.  Box counts are
    bounded (<=5), so the pairwise overlap check runs IN-ROW over the
    array (<=10 pairs via index HOFs) — no self-join, no explode of the
    pair space; the oracle replays it relationally with a range join.

    Scale shape: pure per-row expression work over the annotation
    column; the image bytes are never touched — exactly how a 100 TB
    vision corpus is triaged."""
    docs = table(spark, sf_dir, "documents").select("doc_id")
    boxes = F.transform(
        F.sequence(F.lit(0), F.col("doc_id") % 5),
        lambda i: F.struct(
            ((F.col("doc_id") * 31 + i * 7) % 100).alias("x"),
            ((F.col("doc_id") * 17 + i * 11) % 100).alias("y"),
            (1 + (F.col("doc_id") + i) % 20).alias("w"),
            (1 + (F.col("doc_id") * 3 + i) % 15).alias("h"),
        ),
    )
    d = docs.select("doc_id", boxes.alias("bs"))
    areas = F.transform("bs", lambda b: b["w"] * b["h"])
    # ordered pair overlap count, in-row: for each i, count j > i overlapping
    idx = F.sequence(F.lit(0), F.size("bs") - 1)
    pair_ov = F.aggregate(
        F.flatten(
            F.transform(
                idx,
                lambda i: F.transform(
                    F.slice(idx, i + 2, F.size("bs")),
                    lambda j: (
                        ~(
                            (F.get("bs", i)["x"] + F.get("bs", i)["w"] <= F.get("bs", j)["x"])
                            | (F.get("bs", j)["x"] + F.get("bs", j)["w"] <= F.get("bs", i)["x"])
                            | (F.get("bs", i)["y"] + F.get("bs", i)["h"] <= F.get("bs", j)["y"])
                            | (F.get("bs", j)["y"] + F.get("bs", j)["h"] <= F.get("bs", i)["y"])
                        )
                    ).cast("long"),
                ),
            )
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return d.select(
        "doc_id",
        F.size("bs").cast("long").alias("n_boxes"),
        F.aggregate(areas, F.lit(0).cast("long"), lambda a, x: a + x).alias(
            "total_area"
        ),
        F.array_max(areas).cast("long").alias("max_area"),
        pair_ov.alias("n_overlaps"),
    ).orderBy("doc_id")
