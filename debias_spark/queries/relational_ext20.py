"""Round-5 relational wave 8 (X108): spatial radius join via grid
bucketing — the geospatial member of the bucketed-join family (LSH bands
for text, sign-LSH for vectors, grid cells for coordinates: never
all-pairs).

Coordinates are synthesized deterministically from customer keys via the
md5 idiom both engines share (the testdata has no geo columns), so the
whole pipeline — projection, cell assignment, neighbor expansion,
haversine verification — is value-oracled.

No reference citation: the reference (SirHooke/debias-batch-processor)
has no spatial surface; north-star extension per SURVEY §2.H.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debias_spark.catalog import table
from debias_spark.numeric import cents, cents_sql, floor_eps, floor_eps_sql
from debias_spark.registry import register

_CELL = 0.5  # degrees; at |lat| <= 2 a 3x3 neighborhood covers 50 km (0.45 deg)
_RADIUS_M = 50_000.0
_R_EARTH = 6_371_000.0


def _coords_sql(key: str) -> tuple[str, str]:
    """(lat, lon) DuckDB expressions: md5-derived uniform grid, lat/lon in
    [-2, 2) at 1e-6 degree resolution — a dense simulated metro region so
    every SF (including sf0.001, 150 points) yields real within-radius
    pairs instead of a vacuous empty result."""
    lat = (
        f"((('0x' || substr(md5(CAST({key} AS VARCHAR)), 1, 8))::BIGINT"
        f" % 4000000) / 1000000.0 - 2.0)"
    )
    lon = (
        f"((('0x' || substr(md5(CAST({key} AS VARCHAR)), 9, 8))::BIGINT"
        f" % 4000000) / 1000000.0 - 2.0)"
    )
    return lat, lon


def _coords_spark(key):
    lat = (
        F.conv(F.substring(F.md5(key.cast("string")), 1, 8), 16, 10).cast("long")
        % 4000000
    ) / 1000000.0 - 2.0
    lon = (
        F.conv(F.substring(F.md5(key.cast("string")), 9, 8), 16, 10).cast("long")
        % 4000000
    ) / 1000000.0 - 2.0
    return lat, lon


def _haversine_m_sql(lat1, lon1, lat2, lon2) -> str:
    return (
        f"(2.0 * {_R_EARTH} * asin(sqrt("
        f"pow(sin(radians(({lat2}) - ({lat1})) / 2), 2)"
        f" + cos(radians({lat1})) * cos(radians({lat2}))"
        f" * pow(sin(radians(({lon2}) - ({lon1})) / 2), 2))))"
    )


_LAT, _LON = _coords_sql("c_custkey")


@register(
    "geo_grid_radius_join",
    "X108",
    oracle=f"""
    WITH pts AS MATERIALIZED (
        SELECT c_custkey AS id, {_LAT} AS lat, {_LON} AS lon
        FROM customer
    ), cells AS MATERIALIZED (
        SELECT id, lat, lon,
               CAST(floor(lat / {_CELL}) AS BIGINT) AS cy,
               CAST(floor(lon / {_CELL}) AS BIGINT) AS cx
        FROM pts
    ), probe AS (
        SELECT * FROM cells WHERE id % 50 = 0
    ), cand AS (
        SELECT p.id AS probe_id, c.id AS cand_id,
               p.lat AS plat, p.lon AS plon, c.lat AS clat, c.lon AS clon
        FROM probe p
        CROSS JOIN range(-1, 2) dy(y)
        CROSS JOIN range(-1, 2) dx(x)
        JOIN cells c ON c.cy = p.cy + dy.y AND c.cx = p.cx + dx.x
        WHERE c.id <> p.id
    )
    SELECT probe_id, cand_id, dist_m FROM (
        SELECT probe_id, cand_id,
               {floor_eps_sql(_haversine_m_sql('plat', 'plon', 'clat', 'clon'))} AS dist_m
        FROM cand
    ) WHERE dist_m <= {int(_RADIUS_M)}
    """,
)
def geo_grid_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial radius join, grid-bucketed: find every point within 50 km
    of each probe point WITHOUT an all-pairs cross join.  Points hash
    into 0.5-degree grid cells; each probe expands to its 3x3 cell
    neighborhood (a 9-row generator, covering the radius at these latitudes)
    and equi-joins candidates on the cell key; exact haversine verifies
    survivors.  This is the same candidate-then-verify shape as MinHash
    bands (H9) and sign-LSH buckets (H8b) — grid cells are spatial LSH.

    Scale shape: candidate generation is an equi-join on cell ids (one
    shuffle, skew = densest cell — salt or split hot cells exactly like
    any hot join key); verification is a per-pair projection.  At 100 TB
    the cell size tunes the candidates-per-probe ratio the way band
    count tunes LSH.  Distance emits as integer meters via
    ``floor_eps`` so round-half ties cannot split the engines."""
    cust = table(spark, sf_dir, "customer")
    lat, lon = _coords_spark(F.col("c_custkey"))
    pts = cust.select(
        F.col("c_custkey").alias("id"), lat.alias("lat"), lon.alias("lon")
    ).withColumn("cy", F.floor(F.col("lat") / _CELL)).withColumn(
        "cx", F.floor(F.col("lon") / _CELL)
    )
    probe = pts.filter(F.col("id") % 50 == 0).select(
        F.col("id").alias("probe_id"),
        F.col("lat").alias("plat"),
        F.col("lon").alias("plon"),
        F.explode(
            F.expr("flatten(transform(sequence(-1, 1), y -> "
                   "transform(sequence(-1, 1), x -> struct(cy + y AS cy, cx + x AS cx))))")
        ).alias("cell"),
    ).select("probe_id", "plat", "plon", F.col("cell.cy").alias("cy"), F.col("cell.cx").alias("cx"))
    cand = probe.join(pts, ["cy", "cx"]).filter(F.col("id") != F.col("probe_id"))
    hav = (
        2.0
        * _R_EARTH
        * F.asin(
            F.sqrt(
                F.pow(F.sin(F.radians(F.col("lat") - F.col("plat")) / 2), 2)
                + F.cos(F.radians("plat"))
                * F.cos(F.radians("lat"))
                * F.pow(F.sin(F.radians(F.col("lon") - F.col("plon")) / 2), 2)
            )
        )
    )
    # threshold applies AFTER integer-meter rounding (the same
    # threshold-after-rounding rule the cosine keys use) so an ulp of
    # cross-engine float difference at the radius boundary cannot flip a
    # pair's inclusion
    return (
        cand.withColumn(
            "dist_m", floor_eps(hav).cast("long")
        )
        .filter(F.col("dist_m") <= int(_RADIUS_M))
        .select("probe_id", F.col("id").alias("cand_id"), "dist_m")
    )


@register(
    "timeseries_linear_interp",
    "X110",
    oracle=f"""
    WITH src AS MATERIALIZED (
        SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS hour_s,
               event_type,
               {cents_sql("value")} AS cents
        FROM events WHERE event_id % 7 = 0
    ), bounds AS (
        SELECT min(hour_s) AS start_s FROM src
    ), grid AS (
        SELECT unnest(generate_series(start_s, start_s + 23 * 3600, 3600)) AS hour_s
        FROM bounds
    ), types AS (
        SELECT DISTINCT event_type FROM src
    ), pts AS (
        SELECT hour_s, event_type, avg(cents) AS v
        FROM src GROUP BY 1, 2
    ), dense AS MATERIALIZED (
        SELECT g.hour_s, t.event_type, p.v
        FROM grid g CROSS JOIN types t
        LEFT JOIN pts p ON p.hour_s = g.hour_s AND p.event_type = t.event_type
    ), anchored AS (
        SELECT hour_s, event_type, v,
               last_value(v IGNORE NULLS) OVER wb AS pv,
               last_value(CASE WHEN v IS NOT NULL THEN hour_s END IGNORE NULLS)
                   OVER wb AS ph,
               first_value(v IGNORE NULLS) OVER wf AS nv,
               first_value(CASE WHEN v IS NOT NULL THEN hour_s END IGNORE NULLS)
                   OVER wf AS nh
        FROM dense
        WINDOW wb AS (PARTITION BY event_type ORDER BY hour_s
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wf AS (PARTITION BY event_type ORDER BY hour_s
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT hour_s, event_type,
           (v IS NOT NULL) AS observed,
           {floor_eps_sql("CASE WHEN v IS NOT NULL THEN v"
                          " WHEN pv IS NULL THEN nv"
                          " WHEN nv IS NULL THEN pv"
                          " ELSE pv + (nv - pv) * (hour_s - ph) / (nh - ph)"
                          " END", 1000)} AS interp_millicents
    FROM anchored
    """,
)
def timeseries_linear_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear gap interpolation — the semantic step past zero-fill (X26):
    a sparse hourly series (a deterministic ~14% event sample, so gaps are
    guaranteed at every SF) densifies onto the hour grid, and each missing
    point interpolates linearly between its nearest observed anchors
    (ends clamp to the nearest anchor).  Both engines compute anchors with
    the same IGNORE NULLS running windows — one backward, one forward —
    so the whole fill is two window passes, no self-join per gap.

    Scale shape: one aggregate over the (pushed-down) sample filter, a
    broadcast dense grid, and two window passes partitioned by series key
    — per-series state is O(1) (last/next anchor), the canonical
    streaming-friendly interpolation plan.  Output rounds to integer
    milli-cents via ``floor_eps``; `observed` marks real vs
    interpolated points."""
    from pyspark.sql.window import Window

    ev = table(spark, sf_dir, "events").filter(F.col("event_id") % 7 == 0)
    sec = F.unix_seconds(F.col("ts").cast("timestamp"))
    hour_s = (sec - F.pmod(sec, F.lit(3600))).alias("hour_s")
    src = ev.select(
        hour_s,
        "event_type",
        cents(F.col("value")).alias("cents"),
    )
    pts = src.groupBy("hour_s", "event_type").agg(F.avg("cents").alias("v"))
    bounds = src.agg(F.min("hour_s").alias("start_s"))
    grid = bounds.select(
        F.explode(
            F.sequence(F.col("start_s"), F.col("start_s") + 23 * 3600, F.lit(3600))
        ).alias("hour_s")
    )
    types = src.select("event_type").distinct()
    dense = F.broadcast(grid.crossJoin(types)).join(
        pts, ["hour_s", "event_type"], "left"
    )
    wb = (
        Window.partitionBy("event_type")
        .orderBy("hour_s")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("event_type")
        .orderBy("hour_s")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    vh = F.when(F.col("v").isNotNull(), F.col("hour_s"))
    anchored = dense.select(
        "hour_s",
        "event_type",
        "v",
        F.last("v", ignorenulls=True).over(wb).alias("pv"),
        F.last(vh, ignorenulls=True).over(wb).alias("ph"),
        F.first("v", ignorenulls=True).over(wf).alias("nv"),
        F.first(vh, ignorenulls=True).over(wf).alias("nh"),
    )
    interp = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("pv").isNull(), F.col("nv"))
        .when(F.col("nv").isNull(), F.col("pv"))
        .otherwise(
            F.col("pv")
            + (F.col("nv") - F.col("pv"))
            * (F.col("hour_s") - F.col("ph"))
            / (F.col("nh") - F.col("ph"))
        )
    )
    return anchored.select(
        "hour_s",
        "event_type",
        F.col("v").isNotNull().alias("observed"),
        floor_eps(interp, 1000).cast("long").alias("interp_millicents"),
    )
