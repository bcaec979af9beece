"""Geospatial operators: grid-blocked nearest-neighbor join,
hierarchical map-tile aggregation, ray-casting polygon containment,
grid-blocked DBSCAN classification, rectangle range-join, and
trajectory summarization.

Neither Spark nor the reference (app.py:1-193 has no spatial path)
ships a native spatial join; at 100 TB the standard shape is
GRID BLOCKING — discretize coordinates into cells, replicate one side
into its neighbor cells, and equi-join on the cell key so the planner
gets a plain (broadcastable / shufflable) hash join instead of a
cross-product with a distance predicate. That is the same
candidate-generation discipline as the MinHash band join
(operators/dedup.py) applied to coordinates.

Coordinates are synthesized deterministically from the TPC-H-ish keys
(the fixture tables carry no lat/lon), with two-decimal values so both
engines parse identical doubles. All distance math is PLANAR
(equirectangular) squared distance — pure arithmetic with the same
expression shape in both engines; no transcendentals cross the
cross-engine exactness boundary (the same rule the NDCG rank
discounts follow).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from quick_and_easy_vectordb_spark.queries.registry import query
from quick_and_easy_vectordb_spark.sources.catalog import load_table

# Synthetic coordinate derivation (two decimals; identical literal
# arithmetic in both engines):
#   lat = ((key * 7919)  % 18000) / 100.0 - 90.0   ∈ [-90, 90)
#   lon = ((key * 104729) % 36000) / 100.0 - 180.0 ∈ [-180, 180)
_SQL_LAT = "(({k} * 7919) % 18000) / 100.0 - 90.0"
_SQL_LON = "(({k} * 104729) % 36000) / 100.0 - 180.0"

_CELL_DEG = 15.0  # grid cell side in degrees (24 x 12 grid)


def _lat(key: str) -> F.Column:
    return (F.col(key) * 7919) % 18000 / F.lit(100.0) - F.lit(90.0)


def _lon(key: str) -> F.Column:
    return (F.col(key) * 104729) % 36000 / F.lit(100.0) - F.lit(180.0)


def _cell_x(lon: F.Column) -> F.Column:
    return F.floor((lon + F.lit(180.0)) / F.lit(_CELL_DEG)).cast("long")


def _cell_y(lat: F.Column) -> F.Column:
    return F.floor((lat + F.lit(90.0)) / F.lit(_CELL_DEG)).cast("long")


@query(
    "geo_grid_knn_join",
    oracle=f"""
WITH p AS (
  SELECT c_custkey,
         {_SQL_LAT.format(k='c_custkey')} AS plat,
         {_SQL_LON.format(k='c_custkey')} AS plon
  FROM customer
),
pc AS (
  SELECT c_custkey, plat, plon,
         CAST(floor((plon + 180.0) / {_CELL_DEG}) AS BIGINT) AS cx,
         CAST(floor((plat + 90.0) / {_CELL_DEG}) AS BIGINT) AS cy
  FROM p
),
s AS (
  SELECT s_suppkey,
         {_SQL_LAT.format(k='s_suppkey')} AS slat,
         {_SQL_LON.format(k='s_suppkey')} AS slon
  FROM supplier
),
sc AS (
  SELECT s_suppkey, slat, slon,
         CAST(floor((slon + 180.0) / {_CELL_DEG}) AS BIGINT) AS cx,
         CAST(floor((slat + 90.0) / {_CELL_DEG}) AS BIGINT) AS cy
  FROM s
),
cand AS (
  SELECT pc.c_custkey, sc.s_suppkey,
         (pc.plat - sc.slat) * (pc.plat - sc.slat)
           + (pc.plon - sc.slon) * (pc.plon - sc.slon) AS dist2
  FROM pc JOIN sc
    ON abs(pc.cx - sc.cx) <= 1 AND abs(pc.cy - sc.cy) <= 1
),
r AS (
  SELECT c_custkey, s_suppkey, dist2,
         row_number() OVER (PARTITION BY c_custkey
                            ORDER BY dist2, s_suppkey) AS rn
  FROM cand
)
SELECT c_custkey, s_suppkey AS nearest_site, dist2
FROM r WHERE rn = 1
""",
    tags=("geo", "spatial-join", "grid-blocking", "knn", "join"),
    bench=True,
)
def geo_grid_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRID-BLOCKED spatial nearest-neighbor join — "assign every
    customer to its nearest supplier site": the canonical spatial
    workload (store assignment, cell-tower mapping, POI snapping)
    that naive SQL writes as an O(N·M) cross join with an ORDER BY
    per row. Blocking: both sides are discretized into a 15-degree
    grid; each SITE is replicated into its 3x3 neighbor cells (a
    9-row generator explode on the SMALL side), and candidates come
    from a plain equi-join on the cell id — the nearest site within
    the 3x3 neighborhood is then a per-customer bounded-heap top-1.
    Semantics (mirrored exactly by the oracle): nearest site with
    |Δcell| ≤ 1 on both axes; customers with an empty neighborhood
    drop out. Distance is planar squared distance with the identical
    expression shape in both engines — comparisons only, no sqrt, no
    transcendentals.

    Plan shape at 100 TB: the replicated site table is 9x|sites| —
    broadcast when small (here), else the equi-join shuffles on the
    CELL KEY, never all-pairs; the top-1 is WindowGroupLimit (rank
    heap), not a global sort. Cell size trades replication factor
    against candidate count exactly like LSH band width."""
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")

    pc = cust.select(
        "c_custkey",
        _lat("c_custkey").alias("plat"),
        _lon("c_custkey").alias("plon"),
    ).select(
        "c_custkey", "plat", "plon",
        _cell_x(F.col("plon")).alias("cx"),
        _cell_y(F.col("plat")).alias("cy"),
    )

    sc = supp.select(
        "s_suppkey",
        _lat("s_suppkey").alias("slat"),
        _lon("s_suppkey").alias("slon"),
    ).select(
        "s_suppkey", "slat", "slon",
        _cell_x(F.col("slon")).alias("scx"),
        _cell_y(F.col("slat")).alias("scy"),
    )
    # Replicate each site into its 3x3 neighbor cells: candidate
    # generation becomes a pure EQUI-join on (cx, cy).
    offsets = F.expr(
        "explode(transform(sequence(0, 8), "
        "i -> struct(i div 3 - 1 as dx, i % 3 - 1 as dy)))"
    )
    sc9 = sc.select("*", offsets.alias("o")).select(
        "s_suppkey", "slat", "slon",
        (F.col("scx") + F.col("o.dx")).alias("cx"),
        (F.col("scy") + F.col("o.dy")).alias("cy"),
    )

    dist2 = (F.col("plat") - F.col("slat")) * (F.col("plat") - F.col("slat")) + (
        F.col("plon") - F.col("slon")
    ) * (F.col("plon") - F.col("slon"))
    cand = pc.join(F.broadcast(sc9), ["cx", "cy"]).select(
        "c_custkey", "s_suppkey", dist2.alias("dist2")
    )
    w = Window.partitionBy("c_custkey").orderBy("dist2", "s_suppkey")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("c_custkey", F.col("s_suppkey").alias("nearest_site"), "dist2")
    )


_TILE_Z4 = 16  # 2^4 tiles per axis at zoom 4


def _sql_tile_interleave(tx: str, ty: str) -> str:
    """Unrolled 4-bit Morton interleave (quadkey) — identical integer
    expression in both engines."""
    terms = []
    for i in range(4):
        terms.append(f"((({tx} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({ty} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


@query(
    "geo_tile_pyramid",
    oracle=f"""
WITH p AS (
  SELECT c_custkey, c_acctbal,
         {_SQL_LAT.format(k='c_custkey')} AS lat,
         {_SQL_LON.format(k='c_custkey')} AS lon
  FROM customer
),
t AS (
  SELECT c_acctbal,
         CAST(floor((lon + 180.0) / 360.0 * {_TILE_Z4}) AS BIGINT) AS tx,
         LEAST(CAST(floor((90.0 - lat) / 180.0 * {_TILE_Z4}) AS BIGINT),
               {_TILE_Z4 - 1}) AS ty
  FROM p
),
z4 AS (
  SELECT ({_sql_tile_interleave('tx', 'ty')}) AS quadkey,
         CAST(COUNT(*) AS BIGINT) AS n_points,
         CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(30,10))) AS VARCHAR)
              AS DOUBLE) AS total_bal
  FROM t GROUP BY 1
)
SELECT CAST(4 AS BIGINT) AS zoom, quadkey, n_points, total_bal FROM z4
UNION ALL
SELECT CAST(2 AS BIGINT) AS zoom, quadkey >> 4 AS quadkey,
       CAST(SUM(n_points) AS BIGINT) AS n_points,
       CAST(CAST(SUM(CAST(total_bal AS DECIMAL(30,10))) AS VARCHAR)
            AS DOUBLE) AS total_bal
FROM z4 GROUP BY quadkey >> 4
""",
    tags=("geo", "tiles", "quadkey", "rollup", "morton"),
)
def geo_tile_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP-TILE PYRAMID aggregation — the heatmap / choropleth
    backend: points bucketed into zoom-4 web-mercator-style tiles
    (quadkey = 4-bit Morton interleave of the tile x/y, the same
    bit-interleaving primitive as rel_zorder_clustering applied to
    geography), then ROLLED UP to zoom 2 FROM THE ZOOM-4 AGGREGATES —
    parent quadkey is a 4-bit right shift of the child's, so coarser
    zoom levels cost a reaggregation of tile rows, never a second
    pass over the points. Balance totals are decimal-exact
    (functions/numeric.py discipline) so the zoom-2 sums match the
    oracle bit-for-bit even though they sum already-summed doubles.

    Plan shape at 100 TB: one map-side-combined aggregate over the
    point scan (256 groups), then an O(tiles) reaggregation — the
    full 20-level pyramid is 19 tiny shuffles over tile rows, the
    point data is read once. The quadkey is one codegen projection."""
    cust = load_table(spark, sf_dir, "customer")
    pts = cust.select(
        "c_acctbal",
        _lat("c_custkey").alias("lat"),
        _lon("c_custkey").alias("lon"),
    )
    tx = F.floor((F.col("lon") + F.lit(180.0)) / F.lit(360.0) * _TILE_Z4).cast(
        "long"
    )
    ty = F.least(
        F.floor((F.lit(90.0) - F.col("lat")) / F.lit(180.0) * _TILE_Z4).cast(
            "long"
        ),
        F.lit(_TILE_Z4 - 1),
    )
    t = pts.select("c_acctbal", tx.alias("tx"), ty.alias("ty"))
    qk = None
    for i in range(4):
        bx = F.shiftleft(F.shiftright(F.col("tx"), i).bitwiseAND(F.lit(1)), 2 * i)
        by = F.shiftleft(
            F.shiftright(F.col("ty"), i).bitwiseAND(F.lit(1)), 2 * i + 1
        )
        qk = bx + by if qk is None else qk + bx + by
    z4 = (
        t.select(qk.alias("quadkey"), "c_acctbal")
        .groupBy("quadkey")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.sum(F.col("c_acctbal").cast("decimal(30,10)"))
            .cast("double")
            .alias("total_bal"),
        )
    )
    z2 = (
        z4.groupBy(F.shiftright("quadkey", 4).alias("quadkey"))
        .agg(
            F.sum("n_points").cast("long").alias("n_points"),
            F.sum(F.col("total_bal").cast("decimal(30,10)"))
            .cast("double")
            .alias("total_bal"),
        )
    )
    return z4.select(F.lit(4).cast("long").alias("zoom"), "*").unionAll(
        z2.select(F.lit(2).cast("long").alias("zoom"), "*")
    )


# Irregular (non-convex) pentagon in the integer coordinate grid
# (x = (key*104729) % 36000, y = (key*7919) % 18000).
_POLY = [(2000, 2000), (30000, 5000), (27000, 15000), (15000, 9000),
         (4000, 16000)]


def _sql_pip_crossings(px: str, py: str) -> str:
    """Unrolled ray-casting crossing count (horizontal ray to +x):
    exact integer cross-multiplication, no division — identical
    expression in both engines."""
    terms = []
    n = len(_POLY)
    for i in range(n):
        x1, y1 = _POLY[i]
        x2, y2 = _POLY[(i + 1) % n]
        # Edge straddles the ray iff (y1 > py) != (y2 > py); the
        # intersection lies right of px iff
        # (px - x1)*(y2 - y1) < (x2 - x1)*(py - y1), sign-flipped
        # for downward edges — both written division-free.
        if y2 > y1:
            cond = (
                f"({y1} <= {py} AND {py} < {y2} AND "
                f"({px} - {x1}) * {y2 - y1} < {x2 - x1} * ({py} - {y1}))"
            )
        else:
            cond = (
                f"({y2} <= {py} AND {py} < {y1} AND "
                f"({px} - {x1}) * {y2 - y1} > {x2 - x1} * ({py} - {y1}))"
            )
        terms.append(f"CASE WHEN {cond} THEN 1 ELSE 0 END")
    return " + ".join(terms)


@query(
    "geo_point_in_polygon",
    oracle=f"""
WITH p AS (
  SELECT c_custkey,
         (c_custkey * 104729) % 36000 AS px,
         (c_custkey * 7919) % 18000 AS py
  FROM customer
),
t AS (
  SELECT c_custkey, (({_sql_pip_crossings('px', 'py')}) % 2) AS inside
  FROM p
)
SELECT CAST(SUM(inside) AS BIGINT) AS n_inside,
       CAST(COUNT(*) - SUM(inside) AS BIGINT) AS n_outside,
       CAST(COALESCE(SUM(c_custkey * inside), 0) AS BIGINT)
         AS inside_key_checksum
FROM t
""",
    tags=("geo", "point-in-polygon", "ray-casting", "spatial-filter"),
)
def geo_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-POLYGON containment — the geofencing filter
    (jurisdiction tagging, service-area assignment, geo-compliance
    partitioning) evaluated by RAY CASTING against a non-convex
    pentagon: a point is inside iff a horizontal ray crosses the
    boundary an odd number of times. Every edge test is DIVISION-FREE
    integer cross-multiplication over the integer coordinate grid
    (the half-open y-range convention handles vertex-hit double
    counting), unrolled identically in both engines — exact
    arithmetic, no epsilon, no floating point anywhere.

    Plan shape at 100 TB: the polygon is a compile-time constant
    folded into ONE codegen projection over the point scan — zero
    shuffle, zero join, cost linear in points and edges. For
    many-polygon workloads the same test nests inside the grid-cell
    blocking of geo_grid_knn_join (cell equi-join to candidate
    polygons, then this exact test) — filter-by-geometry never needs
    more than a broadcast and a scan."""
    cust = load_table(spark, sf_dir, "customer")
    p = cust.select(
        "c_custkey",
        ((F.col("c_custkey") * 104729) % 36000).alias("px"),
        ((F.col("c_custkey") * 7919) % 18000).alias("py"),
    )
    crossings = None
    n = len(_POLY)
    for i in range(n):
        x1, y1 = _POLY[i]
        x2, y2 = _POLY[(i + 1) % n]
        px, py = F.col("px"), F.col("py")
        if y2 > y1:
            cond = (
                (F.lit(y1) <= py)
                & (py < F.lit(y2))
                & ((px - x1) * (y2 - y1) < F.lit(x2 - x1) * (py - y1))
            )
        else:
            cond = (
                (F.lit(y2) <= py)
                & (py < F.lit(y1))
                & ((px - x1) * (y2 - y1) > F.lit(x2 - x1) * (py - y1))
            )
        term = F.when(cond, 1).otherwise(0)
        crossings = term if crossings is None else crossings + term
    t = p.select("c_custkey", (crossings % 2).alias("inside"))
    return t.agg(
        F.sum("inside").cast("long").alias("n_inside"),
        (F.count(F.lit(1)) - F.sum("inside")).cast("long").alias("n_outside"),
        F.coalesce(F.sum(F.col("c_custkey") * F.col("inside")), F.lit(0))
        .cast("long")
        .alias("inside_key_checksum"),
    )


# DBSCAN parameters on the integer grid (x ∈ [0,36000), y ∈ [0,18000)):
# cell side == eps so every eps-neighbor is inside the 3x3 cell block.
_EPS = 900
_EPS2 = _EPS * _EPS
_MIN_PTS = 3


@query(
    "geo_dbscan_classify",
    oracle=f"""
WITH p AS (
  SELECT c_custkey AS id,
         (c_custkey * 104729) % 36000 AS x,
         (c_custkey * 7919) % 18000 AS y
  FROM customer
),
pc AS (
  SELECT id, x, y, x // {_EPS} AS cx, y // {_EPS} AS cy FROM p
),
pairs AS (
  SELECT a.id AS pid, b.id AS qid
  FROM pc a JOIN pc b
    ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
   AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= {_EPS2}
),
ncnt AS (
  SELECT pid, COUNT(*) AS n_nbr FROM pairs GROUP BY pid
),
flags AS (
  SELECT pid AS id, n_nbr >= {_MIN_PTS} AS is_core FROM ncnt
),
cls AS (
  SELECT f.id,
         CASE WHEN f.is_core THEN 'core'
              WHEN MAX(CASE WHEN qf.is_core THEN 1 ELSE 0 END) = 1
                THEN 'border'
              ELSE 'noise' END AS cls
  FROM flags f
  JOIN pairs pr ON pr.pid = f.id
  JOIN flags qf ON qf.id = pr.qid
  GROUP BY f.id, f.is_core
)
SELECT cls, CAST(COUNT(*) AS BIGINT) AS n_points,
       CAST(SUM(id) AS BIGINT) AS key_checksum
FROM cls GROUP BY cls
""",
    tags=("geo", "dbscan", "clustering", "grid-blocking", "density"),
)
def geo_dbscan_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-blocked DBSCAN point classification — the density-based
    spatial clustering primitive (hotspot detection, noise filtering
    before spatial aggregation): every point is labeled core
    (≥ min_pts neighbors within eps, self included), border (non-core
    with a core neighbor), or noise. The O(N²) eps-neighborhood query
    is blocked exactly like geo_grid_knn_join: cell side == eps, so
    candidates live in the 3x3 neighbor block and candidate
    generation is a plain equi-join on replicated cell ids — distance
    math is division-free integer arithmetic.

    Plan shape at 100 TB: one cell-keyed shuffle for the pair join
    (the 9x replication rides the small/broadcast side when one side
    is small; here both sides are the same scan so it shuffles on the
    cell key), one groupBy for neighbor counts, one id-keyed join to
    propagate core flags back through the pair list. Full DBSCAN
    clusters = the alternating-star connected components of
    operators/graph.py over the core-core edges (geo_dbscan_clusters);
    this query is the classification step before them."""
    cust = load_table(spark, sf_dir, "customer")
    p = cust.select(
        F.col("c_custkey").alias("id"),
        ((F.col("c_custkey") * 104729) % 36000).alias("x"),
        ((F.col("c_custkey") * 7919) % 18000).alias("y"),
    ).select(
        "id", "x", "y",
        (F.col("x") / _EPS).cast("long").alias("cx"),
        (F.col("y") / _EPS).cast("long").alias("cy"),
    )
    offsets = F.expr(
        "explode(transform(sequence(0, 8), "
        "i -> struct(i div 3 - 1 as dx, i % 3 - 1 as dy)))"
    )
    q9 = p.select(
        F.col("id").alias("qid"),
        F.col("x").alias("qx"),
        F.col("y").alias("qy"),
        "cx", "cy",
    ).select("qid", "qx", "qy", offsets.alias("o"), "cx", "cy").select(
        "qid", "qx", "qy",
        (F.col("cx") + F.col("o.dx")).alias("cx"),
        (F.col("cy") + F.col("o.dy")).alias("cy"),
    )
    dist2 = (F.col("x") - F.col("qx")) * (F.col("x") - F.col("qx")) + (
        F.col("y") - F.col("qy")
    ) * (F.col("y") - F.col("qy"))
    pairs = (
        p.join(q9, ["cx", "cy"])
        .filter(dist2 <= _EPS2)
        .select(F.col("id").alias("pid"), "qid")
    )
    flags = (
        pairs.groupBy("pid")
        .agg((F.count(F.lit(1)) >= _MIN_PTS).alias("is_core"))
        .withColumnRenamed("pid", "id")
    )
    qflags = flags.select(
        F.col("id").alias("qid"), F.col("is_core").alias("q_core")
    )
    cls = (
        flags.join(pairs, flags.id == pairs.pid)
        .join(qflags, "qid")
        .groupBy("id", "is_core")
        .agg(F.max(F.when(F.col("q_core"), 1).otherwise(0)).alias("has_core"))
        .select(
            "id",
            F.when(F.col("is_core"), "core")
            .when(F.col("has_core") == 1, "border")
            .otherwise("noise")
            .alias("cls"),
        )
    )
    return cls.groupBy("cls").agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.sum("id").cast("long").alias("key_checksum"),
    )


# Rectangle range-join parameters: cell side bounds the replication of
# each rectangle at <= 2x2 cells because max(w, h) < _BOX_CELL.
_BOX_CELL = 4000


@query(
    "geo_bbox_range_join",
    oracle=f"""
WITH r AS (
  SELECT s_suppkey,
         (s_suppkey * 104729) % 36000 AS x0,
         (s_suppkey * 7919) % 18000 AS y0,
         500 + (s_suppkey * 13) % 2500 AS w,
         500 + (s_suppkey * 31) % 2500 AS h
  FROM supplier
),
p AS (
  SELECT c_custkey,
         (c_custkey * 104729) % 36000 AS px,
         (c_custkey * 7919) % 18000 AS py
  FROM customer
),
hits AS (
  SELECT r.s_suppkey, p.c_custkey
  FROM r JOIN p
    ON p.px >= r.x0 AND p.px < r.x0 + r.w
   AND p.py >= r.y0 AND p.py < r.y0 + r.h
)
SELECT s_suppkey, CAST(COUNT(*) AS BIGINT) AS n_in_box,
       CAST(SUM(c_custkey) AS BIGINT) AS point_checksum
FROM hits GROUP BY s_suppkey
""",
    tags=("geo", "range-join", "bbox", "grid-blocking", "containment"),
)
def geo_bbox_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rectangle-containment RANGE JOIN — "which points fall in each
    region's bounding box" (service areas, ad geofences, tile
    prefetch): the join predicate is a 2-D interval containment that
    naive SQL executes as a nested loop. Blocking: each rectangle is
    replicated into the grid cells its half-open extent [x0, x0+w) x
    [y0, y0+h) overlaps (≤ 2x2 cells because max(w,h) < cell side),
    each point maps to exactly ONE cell, and candidates come from the
    cell equi-join — so a (rect, point) pair is generated at most
    once and needs no dedup. Containment is then exact integer
    comparison.

    Plan shape at 100 TB: the replicated rectangle table is ≤ 4x
    |rects| — broadcast when small (here), else shuffle both sides on
    the cell key; either way the planner sees a hash join on cell id,
    never a nested-loop range predicate. Cell side trades rectangle
    replication against per-cell point fan-in, the same dial as the
    LSH band width."""
    supp = load_table(spark, sf_dir, "supplier")
    cust = load_table(spark, sf_dir, "customer")
    r = supp.select(
        "s_suppkey",
        ((F.col("s_suppkey") * 104729) % 36000).alias("x0"),
        ((F.col("s_suppkey") * 7919) % 18000).alias("y0"),
        (F.lit(500) + (F.col("s_suppkey") * 13) % 2500).alias("w"),
        (F.lit(500) + (F.col("s_suppkey") * 31) % 2500).alias("h"),
    )
    cells = F.expr(
        f"explode(flatten(transform("
        f"  sequence(x0 div {_BOX_CELL}, (x0 + w - 1) div {_BOX_CELL}),"
        f"  gx -> transform("
        f"    sequence(y0 div {_BOX_CELL}, (y0 + h - 1) div {_BOX_CELL}),"
        f"    gy -> struct(gx as cx, gy as cy)))))"
    )
    r_rep = r.select("*", cells.alias("c")).select(
        "s_suppkey", "x0", "y0", "w", "h",
        F.col("c.cx").alias("cx"), F.col("c.cy").alias("cy"),
    )
    p = cust.select(
        "c_custkey",
        ((F.col("c_custkey") * 104729) % 36000).alias("px"),
        ((F.col("c_custkey") * 7919) % 18000).alias("py"),
    ).select(
        "c_custkey", "px", "py",
        (F.col("px") / _BOX_CELL).cast("long").alias("cx"),
        (F.col("py") / _BOX_CELL).cast("long").alias("cy"),
    )
    hits = p.join(F.broadcast(r_rep), ["cx", "cy"]).filter(
        (F.col("px") >= F.col("x0"))
        & (F.col("px") < F.col("x0") + F.col("w"))
        & (F.col("py") >= F.col("y0"))
        & (F.col("py") < F.col("y0") + F.col("h"))
    )
    return hits.groupBy("s_suppkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_in_box"),
        F.sum("c_custkey").cast("long").alias("point_checksum"),
    )


@query(
    "geo_trajectory_stats",
    oracle="""
WITH pos AS (
  SELECT user_id, ts, event_id,
         (user_id * 104729 + event_id * 7919) % 36000 AS x,
         (user_id * 7919 + event_id * 104729) % 18000 AS y
  FROM events
),
step AS (
  SELECT user_id, x, y,
         lag(x) OVER w AS px, lag(y) OVER w AS py,
         row_number() OVER w AS rn,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM pos
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id,
       CAST(COUNT(px) AS BIGINT) AS n_steps,
       CAST(COALESCE(SUM((x - px) * (x - px) + (y - py) * (y - py)), 0)
            AS BIGINT) AS path_dist2,
       CAST((MAX(x) - MIN(x)) * (MAX(y) - MIN(y)) AS BIGINT) AS bbox_area,
       CAST(SUM(CASE WHEN rn = n THEN x ELSE 0 END)
            - SUM(CASE WHEN rn = 1 THEN x ELSE 0 END) AS BIGINT) AS net_dx,
       CAST(SUM(CASE WHEN rn = n THEN y ELSE 0 END)
            - SUM(CASE WHEN rn = 1 THEN y ELSE 0 END) AS BIGINT) AS net_dy
FROM step GROUP BY user_id
""",
    tags=("geo", "trajectory", "window", "telemetry"),
)
def geo_trajectory_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAJECTORY summarization — per-entity movement statistics from
    an ordered event stream (fleet telemetry, device pings): each
    user's positions in (ts, event_id) order yield step vectors via
    LAG, and one grouped pass computes steps taken, total squared
    path length, bounding-box area, and net first→last displacement.
    All coordinates are integers on the synthetic grid; every
    statistic is exact integer arithmetic (squared distances — no
    sqrt crosses the engine boundary).

    Plan shape at 100 TB: ONE shuffle on user_id serves both the
    window (lag / row_number need user-partitioned ts order) and the
    final groupBy — Catalyst reuses the hash partitioning, so the
    plan is scan → exchange(user_id) → sort-in-partition → window →
    partial+final agg. State per user is O(1); no second pass over
    the events."""
    ev = load_table(spark, sf_dir, "events")
    pos = ev.select(
        "user_id", "ts", "event_id",
        ((F.col("user_id") * 104729) + F.col("event_id") * 7919).alias("hx"),
        ((F.col("user_id") * 7919) + F.col("event_id") * 104729).alias("hy"),
    ).select(
        "user_id", "ts", "event_id",
        (F.col("hx") % 36000).alias("x"),
        (F.col("hy") % 18000).alias("y"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wall = Window.partitionBy("user_id")
    step = pos.select(
        "user_id", "x", "y",
        F.lag("x").over(w).alias("px"),
        F.lag("y").over(w).alias("py"),
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wall).alias("n"),
    )
    sd2 = (F.col("x") - F.col("px")) * (F.col("x") - F.col("px")) + (
        F.col("y") - F.col("py")
    ) * (F.col("y") - F.col("py"))
    return step.groupBy("user_id").agg(
        F.count("px").cast("long").alias("n_steps"),
        F.coalesce(F.sum(sd2), F.lit(0)).cast("long").alias("path_dist2"),
        ((F.max("x") - F.min("x")) * (F.max("y") - F.min("y")))
        .cast("long")
        .alias("bbox_area"),
        (
            F.sum(F.when(F.col("rn") == F.col("n"), F.col("x")).otherwise(0))
            - F.sum(F.when(F.col("rn") == 1, F.col("x")).otherwise(0))
        )
        .cast("long")
        .alias("net_dx"),
        (
            F.sum(F.when(F.col("rn") == F.col("n"), F.col("y")).otherwise(0))
            - F.sum(F.when(F.col("rn") == 1, F.col("y")).otherwise(0))
        )
        .cast("long")
        .alias("net_dy"),
    )


@query(
    "geo_douglas_peucker",
    oracle="""
WITH pos AS (
  SELECT user_id, event_id,
         ((user_id * 104729) + event_id * 7919) % 36000 AS x,
         ((user_id * 7919) + event_id * 104729) % 18000 AS y,
         ts
  FROM events
),
rked AS (
  SELECT user_id, event_id, x, y,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS n
  FROM pos
),
pts AS (SELECT * FROM rked WHERE n >= 3),
a AS (SELECT user_id, event_id AS a_ev, x AS ax, y AS ay
      FROM pts WHERE rn = 1),
b AS (SELECT user_id, event_id AS b_ev, x AS bx, y AS by
      FROM pts WHERE rn = n),
inter AS (
  SELECT p.user_id, p.event_id, p.rn, p.x, p.y,
         a.ax, a.ay, a.a_ev, b.bx, b.by, b.b_ev,
         abs((b.bx - a.ax) * (p.y - a.ay)
             - (b.by - a.ay) * (p.x - a.ax)) AS cross1
  FROM pts p JOIN a ON a.user_id = p.user_id
  JOIN b ON b.user_id = p.user_id
  WHERE p.rn > 1 AND p.rn < p.n
),
s1 AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                 ORDER BY cross1 DESC, event_id) AS r1
    FROM inter)
  WHERE r1 = 1 AND cross1 > 0
),
lvl2 AS (
  SELECT i.user_id, i.event_id,
         CASE WHEN i.rn < s.rn THEN 'L' ELSE 'R' END AS side,
         abs(CASE WHEN i.rn < s.rn
                  THEN (s.x - i.ax) * (i.y - i.ay)
                       - (s.y - i.ay) * (i.x - i.ax)
                  ELSE (i.bx - s.x) * (i.y - s.y)
                       - (i.by - s.y) * (i.x - s.x) END) AS cross2
  FROM inter i JOIN s1 s ON s.user_id = i.user_id
  WHERE i.rn <> s.rn
),
s2 AS (
  SELECT user_id, event_id, cross2 FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, side
                                 ORDER BY cross2 DESC, event_id) AS r2
    FROM lvl2)
  WHERE r2 = 1 AND cross2 > 0
),
agg2 AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_lvl2,
         CAST(SUM(event_id) AS BIGINT) AS ev2_sum
  FROM s2 GROUP BY user_id
)
SELECT s.user_id,
       CAST((SELECT MAX(n) FROM pts p WHERE p.user_id = s.user_id)
            AS BIGINT) AS n_points,
       s.event_id AS split1_event_id,
       CAST(s.cross1 AS BIGINT) AS max_cross1,
       CAST(3 + COALESCE(g.n_lvl2, 0) AS BIGINT) AS n_kept,
       CAST(s.a_ev + s.b_ev + s.event_id + COALESCE(g.ev2_sum, 0)
            AS BIGINT) AS kept_checksum
FROM s1 s LEFT JOIN agg2 g ON g.user_id = s.user_id
""",
    tags=("geo", "douglas-peucker", "polyline-simplification",
          "trajectory"),
)
def geo_douglas_peucker(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOUGLAS-PEUCKER polyline simplification, two recursion levels
    unrolled — the trajectory-compression step every map pipeline
    runs before storing GPS traces: keep the endpoint chord, find
    the interior point FARTHEST from it, split there, recurse into
    both halves. Distances are compared as INTEGER CROSS PRODUCTS
    |(B-A) x (P-A)| — within one chord the denominator |B-A| is
    shared, so the argmax needs no division and no sqrt, the same
    division-free discipline as geo_point_in_polygon; every
    comparison is exact. Ties break by event_id, making the whole
    recursion deterministic. Output per trajectory: the level-1
    split, its cross magnitude, how many of the <= 5 skeleton points
    survived (splits with cross = 0 are collinear and dropped), and
    a checksum of the kept point ids.

    Full RDP recurses to an epsilon floor; two levels is the plan-
    shape-complete prefix (each level = one window argmax per
    segment over that segment's points), and deeper levels repeat
    the same shape with 2^k chords — more rounds, not new shuffle
    classes.

    Plan shape at 100 TB: the user-keyed sort is paid ONCE (rank +
    count windows share it); each level adds one equi-join of the
    interior points to the O(users) split table and one
    (user, side)-partitioned window — embarrassingly parallel
    across trajectories."""
    ev = load_table(spark, sf_dir, "events")
    pos = ev.select(
        "user_id",
        "event_id",
        "ts",
        (((F.col("user_id") * 104729) + F.col("event_id") * 7919) % 36000)
        .alias("x"),
        (((F.col("user_id") * 7919) + F.col("event_id") * 104729) % 18000)
        .alias("y"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wall = Window.partitionBy("user_id")
    rked = pos.select(
        "user_id",
        "event_id",
        "x",
        "y",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wall).alias("n"),
    )
    pts = rked.filter(F.col("n") >= 3).persist()
    a = pts.filter(F.col("rn") == 1).select(
        "user_id",
        F.col("event_id").alias("a_ev"),
        F.col("x").alias("ax"),
        F.col("y").alias("ay"),
    )
    b = pts.filter(F.col("rn") == F.col("n")).select(
        "user_id",
        F.col("event_id").alias("b_ev"),
        F.col("x").alias("bx"),
        F.col("y").alias("by"),
    )
    inter = (
        pts.filter((F.col("rn") > 1) & (F.col("rn") < F.col("n")))
        .join(a, "user_id")
        .join(b, "user_id")
        .withColumn(
            "cross1",
            F.abs(
                (F.col("bx") - F.col("ax")) * (F.col("y") - F.col("ay"))
                - (F.col("by") - F.col("ay")) * (F.col("x") - F.col("ax"))
            ),
        )
        .persist()
    )
    w1 = Window.partitionBy("user_id").orderBy(
        F.desc("cross1"), F.asc("event_id")
    )
    s1 = (
        inter.withColumn("r1", F.row_number().over(w1))
        .filter((F.col("r1") == 1) & (F.col("cross1") > 0))
        .select(
            "user_id",
            F.col("event_id").alias("s_ev"),
            F.col("rn").alias("s_rn"),
            F.col("x").alias("sx"),
            F.col("y").alias("sy"),
            "cross1",
            "a_ev",
            "b_ev",
            "n",
        )
    )
    lvl2 = (
        inter.join(
            s1.select("user_id", "s_ev", "s_rn", "sx", "sy"), "user_id"
        )
        .filter(F.col("rn") != F.col("s_rn"))
        .select(
            "user_id",
            "event_id",
            F.when(F.col("rn") < F.col("s_rn"), "L").otherwise("R").alias(
                "side"
            ),
            F.abs(
                F.when(
                    F.col("rn") < F.col("s_rn"),
                    (F.col("sx") - F.col("ax")) * (F.col("y") - F.col("ay"))
                    - (F.col("sy") - F.col("ay"))
                    * (F.col("x") - F.col("ax")),
                ).otherwise(
                    (F.col("bx") - F.col("sx")) * (F.col("y") - F.col("sy"))
                    - (F.col("by") - F.col("sy"))
                    * (F.col("x") - F.col("sx"))
                )
            ).alias("cross2"),
        )
    )
    w2 = Window.partitionBy("user_id", "side").orderBy(
        F.desc("cross2"), F.asc("event_id")
    )
    s2 = (
        lvl2.withColumn("r2", F.row_number().over(w2))
        .filter((F.col("r2") == 1) & (F.col("cross2") > 0))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lvl2"),
            F.sum("event_id").cast("long").alias("ev2_sum"),
        )
    )
    return s1.join(s2, "user_id", "left").select(
        "user_id",
        F.col("n").cast("long").alias("n_points"),
        F.col("s_ev").alias("split1_event_id"),
        F.col("cross1").cast("long").alias("max_cross1"),
        (3 + F.coalesce(F.col("n_lvl2"), F.lit(0)))
        .cast("long")
        .alias("n_kept"),
        (
            F.col("a_ev")
            + F.col("b_ev")
            + F.col("s_ev")
            + F.coalesce(F.col("ev2_sum"), F.lit(0))
        )
        .cast("long")
        .alias("kept_checksum"),
    )


# ---------------------------------------------------------------------------
# Round 8: geohash encoding.
# ---------------------------------------------------------------------------

_GH_ALPHABET = "0123456789bcdefghjkmnpqrstuvwxyz"
_GH_CHARS = 5  # 25 bits: 13 longitude + 12 latitude


def _gh_expr(shiftleft) -> str:
    """Build the 25-bit interleaved geohash integer expression from
    quantized `lonq` (13 bits) and `latq` (12 bits). `shiftleft`
    formats a left shift for the target dialect (Spark SQL's
    shiftleft() vs DuckDB's <<); right shifts are integer division by
    a power of two — identical in both."""
    terms = []
    # even bit positions (from the top) take longitude bits, odd take
    # latitude — the geohash standard's alternation, MSB first.
    for i in range(13):  # lon bit i (0 = MSB of the 13)
        bit = f"((lonq // {1 << (12 - i)}) % 2)"
        terms.append(shiftleft(bit, 24 - 2 * i))
    for i in range(12):  # lat bit i (0 = MSB of the 12)
        bit = f"((latq // {1 << (11 - i)}) % 2)"
        terms.append(shiftleft(bit, 23 - 2 * i))
    return " + ".join(terms)


def _gh_chars_expr(g: str) -> str:
    """Base32 characters from the 25-bit integer ``g`` (dialect-
    neutral: substr + integer division)."""
    parts = [
        f"substr('{_GH_ALPHABET}', CAST(({g}) // {1 << (20 - 5 * c)} % 32"
        f" AS INT) + 1, 1)"
        for c in range(_GH_CHARS)
    ]
    return " || ".join(parts)


@query(
    "geo_geohash_encode",
    oracle=f"""
WITH p AS (
  SELECT c_custkey,
         {_SQL_LAT.format(k='c_custkey')} AS lat,
         {_SQL_LON.format(k='c_custkey')} AS lon
  FROM customer
),
q AS (
  SELECT c_custkey,
         CAST(floor((lat + 90.0) / 180.0 * 4096) AS BIGINT) AS latq,
         CAST(floor((lon + 180.0) / 360.0 * 8192) AS BIGINT) AS lonq
  FROM p
),
g AS (SELECT c_custkey, {_gh_expr(lambda b, n: f"({b} * {1 << n})")} AS gh
      FROM q),
h AS (SELECT c_custkey, {_gh_chars_expr('gh')} AS geohash FROM g)
SELECT substr(geohash, 1, 3) AS cell3,
       CAST(COUNT(*) AS BIGINT) AS n_points,
       CAST(COUNT(DISTINCT geohash) AS BIGINT) AS n_cells5,
       MIN(geohash) AS first_hash,
       CAST(MIN(c_custkey) AS BIGINT) AS min_key
FROM h GROUP BY 1
""",
    tags=("geo", "geohash", "encoding", "spatial-index"),
)
def geo_geohash_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GEOHASH ENCODING (Niemeyer's base-32 Z-order curve) — the
    textbook spatial partition key: quantize lon to 13 bits and lat
    to 12, interleave MSB-first starting with longitude, emit 5
    base-32 characters. The PREFIX property is what matters at scale:
    a shared k-char prefix bounds spatial distance, so geohash
    prefixes serve as partition keys, sort keys (spatial locality in
    parquet row groups → zone-map pruning, cf. rel_zorder_clustering
    — a geohash IS a Z-order key), and join-block keys (the grid of
    geo_grid_knn_join, but hierarchical).

    Everything is INTEGER bit arithmetic after one quantization per
    coordinate (floor of the same literal expression both engines);
    the interleave is a sum of shifted bits — no floats cross the
    engine boundary past the deterministic two-decimal synthetic
    coordinates. Output rolls up to the 3-char prefix (the
    hierarchical aggregation every tile service runs), counting
    points and distinct full-resolution cells per coarse cell.

    100 TB shape: encoding is pure map-side codegen; the rollup is
    one map-side-combinable aggregate on the prefix."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    q = c.select(
        "c_custkey",
        F.floor((_lat("c_custkey") + 90.0) / 180.0 * 4096)
        .cast("long").alias("latq"),
        F.floor((_lon("c_custkey") + 180.0) / 360.0 * 8192)
        .cast("long").alias("lonq"),
    )
    g = q.selectExpr(
        "c_custkey",
        # `//` isn't Spark SQL — the fragment builder emits it, swap
        # to DIV (identical BIGINT semantics for non-negative operands).
        f"({_gh_expr(lambda b, n: f'shiftleft({b}, {n})')}) AS gh"
        .replace("//", "DIV"),
    )
    h = g.selectExpr(
        "c_custkey",
        f"({_gh_chars_expr('gh')}) AS geohash".replace("//", "DIV"),
    )
    return h.groupBy(F.substring("geohash", 1, 3).alias("cell3")).agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.countDistinct("geohash").cast("long").alias("n_cells5"),
        F.min("geohash").alias("first_hash"),
        F.min("c_custkey").cast("long").alias("min_key"),
    )


# 3-char geohash = 15 bits: 8 longitude + 7 latitude (lon leads).
_GH3_LON_BITS = 8
_GH3_LAT_BITS = 7


def _gh3_expr(shiftleft) -> str:
    """15-bit interleaved geohash3 integer from lonq3 (8 bits) and
    latq3 (7 bits)."""
    terms = []
    for i in range(_GH3_LON_BITS):
        bit = f"((lonq3 // {1 << (_GH3_LON_BITS - 1 - i)}) % 2)"
        terms.append(shiftleft(bit, 14 - 2 * i))
    for i in range(_GH3_LAT_BITS):
        bit = f"((latq3 // {1 << (_GH3_LAT_BITS - 1 - i)}) % 2)"
        terms.append(shiftleft(bit, 13 - 2 * i))
    return " + ".join(terms)


def _gh3_chars(g: str) -> str:
    parts = [
        f"substr('{_GH_ALPHABET}', CAST(({g}) // {1 << (10 - 5 * c)} % 32"
        f" AS INT) + 1, 1)"
        for c in range(3)
    ]
    return " || ".join(parts)


@query(
    "geo_geohash_neighbors",
    oracle=f"""
WITH p AS (
  SELECT c_custkey,
         {_SQL_LAT.format(k='c_custkey')} AS lat,
         {_SQL_LON.format(k='c_custkey')} AS lon
  FROM customer
),
q AS (
  SELECT c_custkey,
         CAST(floor((lat + 90.0) / 180.0 * {1 << _GH3_LAT_BITS}) AS BIGINT)
           AS latq3,
         CAST(floor((lon + 180.0) / 360.0 * {1 << _GH3_LON_BITS}) AS BIGINT)
           AS lonq3
  FROM p
),
cells AS (
  SELECT latq3, lonq3, CAST(COUNT(*) AS BIGINT) AS n_points
  FROM q GROUP BY 1, 2
),
nb AS (
  SELECT c.latq3, c.lonq3, c.n_points,
         ((c.lonq3 + dx.d + {1 << _GH3_LON_BITS}) % {1 << _GH3_LON_BITS})
           AS nlon,
         c.latq3 + dy.d AS nlat
  FROM cells c,
       (SELECT unnest([-1, 0, 1]) AS d) dx,
       (SELECT unnest([-1, 0, 1]) AS d) dy
  WHERE c.latq3 + dy.d >= 0 AND c.latq3 + dy.d < {1 << _GH3_LAT_BITS}
),
sm AS (
  SELECT nb.latq3, nb.lonq3, nb.n_points,
         CAST(SUM(COALESCE(c2.n_points, 0)) AS BIGINT) AS nbhd_points,
         CAST(COUNT(c2.latq3) AS BIGINT) AS live_neighbors
  FROM nb LEFT JOIN cells c2
    ON c2.latq3 = nb.nlat AND c2.lonq3 = nb.nlon
  GROUP BY nb.latq3, nb.lonq3, nb.n_points
)
SELECT {_gh3_chars(f"(SELECT {_gh3_expr(lambda b, n: f'({b} * {1 << n})')})")}
         AS cell3,
       n_points, nbhd_points, live_neighbors
FROM sm
""",
    tags=("geo", "geohash", "neighbors", "smoothing"),
)
def geo_geohash_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GEOHASH NEIGHBOR EXPANSION + spatial smoothing — the
    de-interleave → ±1 → re-interleave algebra every geohash radius
    query needs (a Z-order cell's 8 neighbors are NOT prefix-adjacent
    — the curve's discontinuity — so neighbor lookup must go through
    coordinate space): per-cell point counts are smoothed over the
    3×3 neighborhood (longitude wraps, latitude clamps at the poles),
    the standard densification pass before hotspot detection. The
    geohash string is emitted by re-interleaving the cell's
    quantized coordinates — pinning that encode(decode(cell)±1)
    round-trips bit-exactly in both engines, all integer arithmetic.

    100 TB shape: smoothing runs on the CELL table (O(occupied
    cells), already aggregated), never points; the 9× neighbor
    fan-out is a constant; the neighbor lookup is an equi-join on
    quantized coordinates."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    q = c.select(
        F.floor((_lat("c_custkey") + 90.0) / 180.0 * (1 << _GH3_LAT_BITS))
        .cast("long").alias("latq3"),
        F.floor((_lon("c_custkey") + 180.0) / 360.0 * (1 << _GH3_LON_BITS))
        .cast("long").alias("lonq3"),
    )
    cells = q.groupBy("latq3", "lonq3").agg(
        F.count(F.lit(1)).cast("long").alias("n_points")
    )
    d = F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1)))
    nb = (
        cells.select("latq3", "lonq3", "n_points", d.alias("dx"))
        .select("latq3", "lonq3", "n_points", "dx",
                F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1)))
                .alias("dy"))
        .filter(
            (F.col("latq3") + F.col("dy") >= 0)
            & (F.col("latq3") + F.col("dy") < (1 << _GH3_LAT_BITS))
        )
        .select(
            "latq3",
            "lonq3",
            "n_points",
            ((F.col("lonq3") + F.col("dx") + (1 << _GH3_LON_BITS))
             % (1 << _GH3_LON_BITS)).alias("nlon"),
            (F.col("latq3") + F.col("dy")).alias("nlat"),
        )
    )
    c2 = cells.select(
        F.col("latq3").alias("nlat"), F.col("lonq3").alias("nlon"),
        F.col("n_points").alias("n2"),
    )
    sm = (
        nb.join(c2, ["nlat", "nlon"], "left")
        .groupBy("latq3", "lonq3", "n_points")
        .agg(
            F.sum(F.coalesce("n2", F.lit(0))).cast("long")
            .alias("nbhd_points"),
            F.count("n2").cast("long").alias("live_neighbors"),
        )
    )
    gh_int = _gh3_expr(lambda b, n: f"shiftleft({b}, {n})")
    return sm.selectExpr(
        f"({_gh3_chars(f'({gh_int})')}) AS cell3".replace("//", "DIV"),
        "n_points",
        "nbhd_points",
        "live_neighbors",
    )


_MORAN_CELL = 10.0  # finer lattice than the join grid: 36 x 18 cells


@query(
    "geo_moran_autocorrelation",
    oracle=f"""
WITH p AS (
  SELECT c_custkey,
         {_SQL_LAT.format(k='c_custkey')} AS lat,
         {_SQL_LON.format(k='c_custkey')} AS lon
  FROM customer
),
cells AS (
  SELECT CAST(floor((lon + 180.0) / {_MORAN_CELL}) AS BIGINT) AS cx,
         CAST(floor((lat + 90.0) / {_MORAN_CELL}) AS BIGINT) AS cy,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM p GROUP BY 1, 2
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS s
        FROM cells),
dev AS (
  SELECT cx, cy, (tot.n * cells.x - tot.s) AS d
  FROM cells, tot
),
pairs AS (
  SELECT a.d AS da, b.d AS db
  FROM dev a JOIN dev b
    ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
   AND NOT (a.cx = b.cx AND a.cy = b.cy)
),
num AS (SELECT CAST(COUNT(*) AS BIGINT) AS w_pairs,
               CAST(SUM(da * db) AS BIGINT) AS cross_sum FROM pairs),
den AS (SELECT CAST(SUM(d * d) AS BIGINT) AS dev_sq FROM dev)
SELECT tot.n AS n_cells, num.w_pairs, num.cross_sum, den.dev_sq,
       CAST(tot.n * num.cross_sum AS DOUBLE)
         / (num.w_pairs * den.dev_sq) AS moran_i
FROM tot, num, den
""",
    tags=("geo", "autocorrelation", "moran", "statistics"),
)
def geo_moran_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MORAN'S I spatial autocorrelation of customer density over the
    occupied 10-degree lattice cells (queen adjacency, binary
    weights) — the first statistic a spatial analyst computes
    (clustered I>0 / dispersed I<0 / random ~ -1/(n-1)). RATIONAL by
    construction: with integer cell counts x_i, the scaled deviation
    d_i = n*x_i - S is an INTEGER, and
    I = (n/W) * sum_w (x_i-mean)(x_j-mean) / sum (x_i-mean)^2
      = n * sum_w d_i d_j / (W * sum d_i^2)
    — every term BIGINT until ONE final double division, so the
    statistic hash-verifies bitwise (the same rationalization
    discipline as text_zipf_fit; a naive mean-centered float sum is
    order-dependent and never would). Defined over OCCUPIED cells
    (the lattice majority is empty ocean in this synthetic geography;
    documented choice, both engines identical).

    Plan shape at 100 TB: point->cell is a map-side projection; cells
    is O(lattice) after one combinable groupBy; the adjacency
    self-join runs on the O(lattice) cell table (648 cells max here —
    broadcastable at any corpus size, because the LATTICE, not the
    data, bounds it); three scalar aggregates broadcast-crossed into
    one row."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    cells = (
        cust.select(
            _cell_lon10(_lon("c_custkey")).alias("cx"),
            _cell_lat10(_lat("c_custkey")).alias("cy"),
        )
        .groupBy("cx", "cy")
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
    )
    tot = cells.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
    )
    dev = cells.crossJoin(F.broadcast(tot)).select(
        "cx", "cy", (F.col("n") * F.col("x") - F.col("s")).alias("d")
    )
    a, b = dev.alias("a"), dev.alias("b")
    pairs = a.join(
        F.broadcast(b),
        (F.abs(F.col("a.cx") - F.col("b.cx")) <= 1)
        & (F.abs(F.col("a.cy") - F.col("b.cy")) <= 1)
        & ~((F.col("a.cx") == F.col("b.cx"))
            & (F.col("a.cy") == F.col("b.cy"))),
    ).select((F.col("a.d") * F.col("b.d")).alias("dd"))
    num = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("w_pairs"),
        F.sum("dd").cast("long").alias("cross_sum"),
    )
    den = dev.agg(F.sum(F.col("d") * F.col("d")).cast("long").alias("dev_sq"))
    return (
        tot.crossJoin(F.broadcast(num))
        .crossJoin(F.broadcast(den))
        .select(
            F.col("n").alias("n_cells"),
            "w_pairs",
            "cross_sum",
            "dev_sq",
            (
                (F.col("n") * F.col("cross_sum")).cast("double")
                / (F.col("w_pairs") * F.col("dev_sq"))
            ).alias("moran_i"),
        )
    )


def _cell_lon10(lon: F.Column) -> F.Column:
    return F.floor((lon + F.lit(180.0)) / F.lit(_MORAN_CELL)).cast("long")


def _cell_lat10(lat: F.Column) -> F.Column:
    return F.floor((lat + F.lit(90.0)) / F.lit(_MORAN_CELL)).cast("long")


_TICK_US = 86_400_000_000  # daily resample grid (epoch-micro ticks)


@query(
    "geo_trajectory_resample",
    oracle=f"""
WITH pos AS (
  SELECT user_id, epoch_us(ts) AS us,
         (user_id * 104729 + event_id * 7919) % 36000 AS x,
         (user_id * 7919 + event_id * 104729) % 18000 AS y
  FROM events
),
rng AS (SELECT user_id, MIN(us) AS mn, MAX(us) AS mx
        FROM pos GROUP BY user_id),
ticks AS (
  SELECT user_id,
         unnest(range((mn + {_TICK_US} - 1) // {_TICK_US},
                      mx // {_TICK_US} + 1)) * {_TICK_US} AS t
  FROM rng
),
u AS (
  SELECT user_id, us AS k, 0 AS is_tick, us, x, y,
         NULL::BIGINT AS t FROM pos
  UNION ALL
  SELECT user_id, t AS k, 1, NULL, NULL, NULL, t FROM ticks
),
m AS (
  SELECT user_id, k, is_tick, t,
         MAX(CASE WHEN is_tick = 0
                  THEN struct_pack(us := us, x := x, y := y) END)
           OVER (PARTITION BY user_id ORDER BY k
                 RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS prev,
         MIN(CASE WHEN is_tick = 0
                  THEN struct_pack(us := us, x := x, y := y) END)
           OVER (PARTITION BY user_id ORDER BY k
                 RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
           AS nxt
  FROM u
)
SELECT user_id, t,
       CASE WHEN nxt.us = prev.us THEN CAST(prev.x AS DOUBLE)
            ELSE prev.x + (nxt.x - prev.x)
                 * (CAST(t - prev.us AS DOUBLE) / (nxt.us - prev.us))
       END AS xi,
       CASE WHEN nxt.us = prev.us THEN CAST(prev.y AS DOUBLE)
            ELSE prev.y + (nxt.y - prev.y)
                 * (CAST(t - prev.us AS DOUBLE) / (nxt.us - prev.us))
       END AS yi
FROM m WHERE is_tick = 1
""",
    tags=("geo", "trajectory", "resample", "asof", "interpolation"),
)
def geo_trajectory_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAJECTORY RESAMPLING to a fixed daily grid — the
    regularization step every telemetry pipeline runs before
    cross-entity comparison (irregular pings -> one position per day
    per user), and the canonical COMPOSITE use of the as-of operator:
    each in-range tick linearly interpolates between the latest ping
    at-or-before it (asof_join backward) and the earliest at-or-after
    (asof_join forward). Interpolation is
    x1 + (x2-x1) * ((t-t1)/(t2-t1)) with integer positions and
    epoch-micro ticks — the identical IEEE expression in both
    engines, with the exact-hit (t2 == t1) guard taking the ping's
    own position. Ticks are generated per user strictly inside
    [min_ts, max_ts], so both neighbors always exist — no
    extrapolation policy to disagree on.

    Plan shape at 100 TB: tick generation is a per-user sequence
    explode off the O(users) min/max aggregate; each asof_join is the
    union-and-window single-shuffle shape (operators/asof.py) keyed
    on user_id — the second join reuses the same key, so AQE sees an
    already-clustered exchange. No row multiplication anywhere (a
    naive tick x ping range join is O(days * pings) per user)."""
    from quick_and_easy_vectordb_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    pos = ev.select(
        "user_id",
        "ts",
        (((F.col("user_id") * 104729) + F.col("event_id") * 7919) % 36000)
        .alias("x"),
        (((F.col("user_id") * 7919) + F.col("event_id") * 104729) % 18000)
        .alias("y"),
    )
    rng = pos.groupBy("user_id").agg(
        F.min(F.unix_micros("ts")).alias("mn"),
        F.max(F.unix_micros("ts")).alias("mx"),
    )
    k0 = F.expr(f"(mn + {_TICK_US} - 1) div {_TICK_US}")
    k1 = F.expr(f"mx div {_TICK_US}")
    ticks = (
        rng.select("user_id", k0.alias("k0"), k1.alias("k1"))
        .filter(F.col("k1") >= F.col("k0"))
        .select(
            "user_id",
            F.explode(F.sequence("k0", "k1")).alias("kk"),
        )
        .select(
            "user_id",
            (F.col("kk") * _TICK_US).alias("t"),
            F.timestamp_micros(F.col("kk") * _TICK_US).alias("ts"),
        )
    )
    prev = asof_join(
        ticks, pos, on="user_id", right_payload=["x", "y"],
        suffix="_prev", direction="backward",
    )
    both = asof_join(
        prev, pos, on="user_id", right_payload=["x", "y"],
        suffix="_next", direction="forward",
    )
    t1 = F.unix_micros("ts_prev")
    t2 = F.unix_micros("ts_next")
    ratio = (F.col("t") - t1).cast("double") / (t2 - t1)

    def interp(c1: str, c2: str) -> F.Column:
        return F.when(
            t2 == t1, F.col(c1).cast("double")
        ).otherwise(F.col(c1) + (F.col(c2) - F.col(c1)) * ratio)

    return both.select(
        "user_id",
        "t",
        interp("x_prev", "x_next").alias("xi"),
        interp("y_prev", "y_next").alias("yi"),
    )


@query(
    "geo_dbscan_clusters",
    oracle=f"""
WITH RECURSIVE p AS (
  SELECT c_custkey AS id,
         (c_custkey * 104729) % 36000 AS x,
         (c_custkey * 7919) % 18000 AS y
  FROM customer
),
pc AS (
  SELECT id, x, y, x // {_EPS} AS cx, y // {_EPS} AS cy FROM p
),
pairs AS (
  SELECT a.id AS pid, b.id AS qid
  FROM pc a JOIN pc b
    ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
   AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= {_EPS2}
),
ncnt AS (SELECT pid, COUNT(*) AS n_nbr FROM pairs GROUP BY pid),
core AS (SELECT pid AS id FROM ncnt WHERE n_nbr >= {_MIN_PTS}),
cedges AS (
  SELECT pr.pid AS u, pr.qid AS v
  FROM pairs pr
  JOIN core a ON a.id = pr.pid
  JOIN core b ON b.id = pr.qid
),
reach(u, v) AS (
  SELECT u, v FROM cedges
  UNION
  SELECT r.u, e.v FROM reach r JOIN cedges e ON e.u = r.v
),
comp AS (SELECT u AS id, MIN(v) AS cluster FROM reach GROUP BY u),
border AS (
  SELECT pr.pid AS id, MIN(c.cluster) AS cluster
  FROM pairs pr
  JOIN comp c ON c.id = pr.qid
  WHERE pr.pid NOT IN (SELECT id FROM core)
  GROUP BY pr.pid
)
SELECT cluster,
       CAST(COUNT(CASE WHEN kind = 'core' THEN 1 END) AS BIGINT)
         AS n_core,
       CAST(COUNT(CASE WHEN kind = 'border' THEN 1 END) AS BIGINT)
         AS n_border,
       CAST(SUM(id) AS BIGINT) AS key_checksum
FROM (
  SELECT id, cluster, 'core' AS kind FROM comp
  UNION ALL
  SELECT id, cluster, 'border' FROM border
) GROUP BY cluster
""",
    tags=("geo", "dbscan", "clustering", "connected-components"),
)
def geo_dbscan_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL DBSCAN cluster extraction — the step geo_dbscan_classify
    stops short of (it labels core/border/noise; this assigns CLUSTER
    IDS): core-core eps-edges collapse into connected components via
    the alternating-star operator (operators/graph.py — the
    SAME operator that resolves dup-clusters, because grid-blocked
    DBSCAN IS candidate-pair dedup over coordinates), and each border
    point attaches to its minimum-labeled core neighbor (the
    deterministic tiebreak for the border-of-two-clusters ambiguity
    the original DBSCAN paper leaves order-dependent). One row per
    cluster: core/border sizes and an id checksum. The oracle
    recomputes components with a recursive-CTE closure — fine at
    oracle scale, quadratic-per-cluster at production scale, which is
    why the Spark side runs star rounds instead.

    Plan shape at 100 TB: the eps-pair join is the one cell-keyed
    shuffle (3x3 block replication); CC runs O(log^2 n) star rounds
    on the core-edge table; border attachment is one more join on the
    pair list. Cluster count and per-cluster rollup are tiny."""
    from quick_and_easy_vectordb_spark.operators.graph import (
        connected_components,
    )

    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        ((F.col("c_custkey") * 104729) % 36000).alias("x"),
        ((F.col("c_custkey") * 7919) % 18000).alias("y"),
    )
    pc = cust.select(
        "id", "x", "y",
        F.expr(f"x div {_EPS}").alias("cx"),
        F.expr(f"y div {_EPS}").alias("cy"),
    )
    a, b = pc.alias("a"), pc.alias("b")
    pairs = a.join(
        b,
        (F.abs(F.col("a.cx") - F.col("b.cx")) <= 1)
        & (F.abs(F.col("a.cy") - F.col("b.cy")) <= 1)
        & (
            (F.col("a.x") - F.col("b.x")) * (F.col("a.x") - F.col("b.x"))
            + (F.col("a.y") - F.col("b.y")) * (F.col("a.y") - F.col("b.y"))
            <= _EPS2
        ),
    ).select(F.col("a.id").alias("pid"), F.col("b.id").alias("qid"))
    pairs = pairs.persist()
    core = (
        pairs.groupBy("pid")
        .agg(F.count(F.lit(1)).alias("n_nbr"))
        .filter(F.col("n_nbr") >= _MIN_PTS)
        .select(F.col("pid").alias("id"))
    )
    cedges = (
        pairs.join(core.select(F.col("id").alias("pid")), "pid")
        .join(core.select(F.col("id").alias("qid")), "qid")
        .select(F.col("pid").alias("id_a"), F.col("qid").alias("id_b"))
    )
    comp = connected_components(cedges).select(
        "id", F.col("component").alias("cluster")
    )
    border = (
        pairs.join(core, pairs["pid"] == core["id"], "left_anti")
        .join(comp.select(F.col("id").alias("qid"), "cluster"), "qid")
        .groupBy("pid")
        .agg(F.min("cluster").alias("cluster"))
        .select(F.col("pid").alias("id"), "cluster")
    )
    members = comp.select("id", "cluster", F.lit("core").alias("kind")).unionAll(
        border.select("id", "cluster", F.lit("border").alias("kind"))
    )
    return members.groupBy("cluster").agg(
        F.count(F.when(F.col("kind") == "core", 1)).cast("long")
        .alias("n_core"),
        F.count(F.when(F.col("kind") == "border", 1)).cast("long")
        .alias("n_border"),
        F.sum("id").cast("long").alias("key_checksum"),
    )


# --------------------------------------------------------------------------
# Round 10: inverse-distance-weighted spatial interpolation
# --------------------------------------------------------------------------

_IDW_CELL = 3000  # integer-domain cell edge (coords span 36000 x 18000)


@query(
    "geo_idw_interpolation",
    oracle=f"""
WITH p AS (
  SELECT c_custkey AS id, c_acctbal AS val,
         (c_custkey * 104729) % 36000 AS x,
         (c_custkey * 7919) % 18000 AS y
  FROM customer
),
pc AS (
  SELECT id, val, x, y,
         x // {_IDW_CELL} AS cx, y // {_IDW_CELL} AS cy
  FROM p
),
cells AS (SELECT DISTINCT cx, cy FROM pc),
nb AS (
  SELECT g.cx, g.cy,
         g.cx * {_IDW_CELL} + {_IDW_CELL // 2} AS px,
         g.cy * {_IDW_CELL} + {_IDW_CELL // 2} AS py,
         p.val, p.x, p.y
  FROM cells g JOIN pc p
    ON abs(p.cx - g.cx) <= 1 AND abs(p.cy - g.cy) <= 1
),
d AS (
  SELECT cx, cy, val,
         (x - px) * (x - px) + (y - py) * (y - py) AS d2
  FROM nb
),
agg AS (
  SELECT cx, cy, COUNT(*) AS n_pts,
         CAST(CAST(SUM(CAST(val / CAST(d2 AS DOUBLE) AS DECIMAL(30,10)))
              AS VARCHAR) AS DOUBLE) AS num,
         CAST(CAST(SUM(CAST(1.0 / CAST(d2 AS DOUBLE) AS DECIMAL(30,10)))
              AS VARCHAR) AS DOUBLE) AS den
  FROM d WHERE d2 > 0 GROUP BY cx, cy
)
SELECT CAST(cx AS BIGINT) AS cx, CAST(cy AS BIGINT) AS cy,
       CAST(n_pts AS BIGINT) AS n_pts,
       num / den AS idw_estimate
FROM agg WHERE n_pts >= 3
""",
    tags=("geo", "interpolation", "idw", "grid"),
)
def geo_idw_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INVERSE-DISTANCE-WEIGHTED interpolation at grid-cell centers —
    the spatial gap-filling primitive (sensor fields, price surfaces):
    est(g) = Σ v/d² / Σ 1/d² over sample points in g's 3×3 cell
    neighborhood. Coordinates live in the repo's deterministic integer
    hash domain (same as geo_dbscan_clusters), so every d² is INTEGER
    and the per-point weights are single exact-rounded double
    divisions; both sums are decimal-exact, making the estimate
    hash-verifiable.

    Scale design: the occupied-cell list is a DISTINCT over cells
    (tiny — bounded by the grid, not the points) and joins the point
    table as a broadcast; per estimate only the 3×3 neighborhood's
    points contribute (never all-pairs), and the weighted sums are one
    map-side-combinable groupBy over O(grid) keys. The same blocked
    shape as the grid kNN join — IDW is its aggregate cousin."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal"
    )
    p = cust.select(
        F.col("c_acctbal").alias("val"),
        ((F.col("c_custkey") * 104729) % 36000).alias("x"),
        ((F.col("c_custkey") * 7919) % 18000).alias("y"),
    ).select(
        "val",
        "x",
        "y",
        F.expr(f"x div {_IDW_CELL}").alias("cx"),
        F.expr(f"y div {_IDW_CELL}").alias("cy"),
    )
    cells = p.select("cx", "cy").distinct()
    nb = F.broadcast(
        cells.select(
            F.col("cx").alias("gcx"),
            F.col("cy").alias("gcy"),
            (F.col("cx") * _IDW_CELL + _IDW_CELL // 2).alias("px"),
            (F.col("cy") * _IDW_CELL + _IDW_CELL // 2).alias("py"),
        )
    ).join(
        p,
        (F.abs(F.col("cx") - F.col("gcx")) <= 1)
        & (F.abs(F.col("cy") - F.col("gcy")) <= 1),
    )
    d = nb.select(
        "gcx",
        "gcy",
        "val",
        (
            (F.col("x") - F.col("px")) * (F.col("x") - F.col("px"))
            + (F.col("y") - F.col("py")) * (F.col("y") - F.col("py"))
        ).alias("d2"),
    ).filter(F.col("d2") > 0)
    agg = d.groupBy("gcx", "gcy").agg(
        F.count(F.lit(1)).alias("n_pts"),
        F.sum(
            (F.col("val") / F.col("d2").cast("double")).cast(
                "decimal(30,10)"
            )
        )
        .cast("double")
        .alias("num"),
        F.sum(
            (F.lit(1.0) / F.col("d2").cast("double")).cast("decimal(30,10)")
        )
        .cast("double")
        .alias("den"),
    )
    return agg.filter(F.col("n_pts") >= 3).select(
        F.col("gcx").cast("long").alias("cx"),
        F.col("gcy").cast("long").alias("cy"),
        F.col("n_pts").cast("long").alias("n_pts"),
        (F.col("num") / F.col("den")).alias("idw_estimate"),
    )


# ---------------------------------------------------------------------------
# Round 11: local hotspot detection, map matching, OD flows
# ---------------------------------------------------------------------------

_GI_CELL = 3000  # integer-domain cell edge, 12 x 6 grid


@query(
    "geo_gi_star_hotspots",
    oracle=f"""
WITH p AS (
  SELECT (c_custkey * 104729) % 36000 AS x,
         (c_custkey * 7919) % 18000 AS y
  FROM customer
),
cells AS (
  SELECT x // {_GI_CELL} AS cx, y // {_GI_CELL} AS cy,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM p GROUP BY 1, 2
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(x * x) AS BIGINT) AS sx2
  FROM cells
),
nbr AS (
  SELECT a.cx, a.cy, a.x,
         CAST(SUM(b.x) AS BIGINT) AS s_nbr,
         CAST(COUNT(*) AS BIGINT) AS w_nbr
  FROM cells a JOIN cells b
    ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
  GROUP BY a.cx, a.cy, a.x
)
SELECT CAST(nbr.cx AS BIGINT) AS cx, CAST(nbr.cy AS BIGINT) AS cy,
       nbr.x AS n_points, s_nbr, w_nbr,
       CAST(tot.n * s_nbr - w_nbr * tot.sx AS DOUBLE)
         / sqrt(CAST(tot.n * tot.sx2 - tot.sx * tot.sx AS DOUBLE)
                * CAST(tot.n * w_nbr - w_nbr * w_nbr AS DOUBLE)
                / CAST(tot.n - 1 AS DOUBLE)) AS gi_z
FROM nbr, tot
WHERE tot.n * tot.sx2 > tot.sx * tot.sx
  AND tot.n * w_nbr > w_nbr * w_nbr
""",
    tags=("geo", "hotspot", "getis-ord", "grid", "statistics"),
)
def geo_gi_star_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GETIS-ORD Gi* LOCAL hotspot z-scores over the occupied cell
    grid — the per-cell complement of geo_moran_autocorrelation's one
    global statistic (Moran answers "is there clustering anywhere?";
    Gi* answers "WHICH cells are the hot/cold spots", the question a
    dispatch or anomaly pipeline actually asks). Per cell i with 3x3
    neighborhood (self included): z_i = (n·S_i − W_i·Σx) /
    sqrt((n·Σx² − (Σx)²)·(n·W_i − W_i²)/(n−1)) — algebraically the
    textbook Gi* with every intermediate kept INTEGER-EXACT until one
    double conversion, one multiply, one divide, one sqrt, one final
    divide, so the score is hash-comparable across engines (sqrt is
    IEEE exact-rounded; no transcendental crosses the boundary).

    Scale design: the point scan collapses map-side to O(grid) cell
    rows; the 1-row global moment aggregate broadcasts; the 3x3
    neighbor sum is the offset-REPLICATION equi-join (each cell
    emitted into its 9 neighbor keys — O(9·cells) rows, broadcast,
    never a theta-join over points). At 100 TB only the first
    aggregate touches data."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    cells = (
        cust.select(
            ((F.col("c_custkey") * 104729) % 36000).alias("x"),
            ((F.col("c_custkey") * 7919) % 18000).alias("y"),
        )
        .select(
            F.expr(f"x div {_GI_CELL}").alias("cx"),
            F.expr(f"y div {_GI_CELL}").alias("cy"),
        )
        .groupBy("cx", "cy")
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
    )
    tot = cells.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sx2"),
    )
    # offset replication: each cell j contributes to the 9 cells whose
    # neighborhood contains it — a plain equi-join on the target key
    offsets = F.expr(
        "explode(array("
        + ",".join(
            f"struct({dx} as dx, {dy} as dy)"
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        )
        + "))"
    )
    repl = cells.select(
        F.col("cx").alias("jcx"), F.col("cy").alias("jcy"),
        F.col("x").alias("jx"), offsets.alias("o"),
    ).select(
        (F.col("jcx") + F.col("o.dx")).alias("tcx"),
        (F.col("jcy") + F.col("o.dy")).alias("tcy"),
        "jx",
    )
    nbr = (
        cells.join(
            F.broadcast(repl),
            (F.col("cx") == F.col("tcx")) & (F.col("cy") == F.col("tcy")),
        )
        .groupBy("cx", "cy", "x")
        .agg(
            F.sum("jx").cast("long").alias("s_nbr"),
            F.count(F.lit(1)).cast("long").alias("w_nbr"),
        )
    )
    j = nbr.crossJoin(F.broadcast(tot))
    num = (F.col("n") * F.col("s_nbr") - F.col("w_nbr") * F.col("sx")).cast(
        "double"
    )
    a = (F.col("n") * F.col("sx2") - F.col("sx") * F.col("sx")).cast("double")
    b = (F.col("n") * F.col("w_nbr") - F.col("w_nbr") * F.col("w_nbr")).cast(
        "double"
    )
    return j.filter(
        (F.col("n") * F.col("sx2") > F.col("sx") * F.col("sx"))
        & (F.col("n") * F.col("w_nbr") > F.col("w_nbr") * F.col("w_nbr"))
    ).select(
        F.col("cx").cast("long").alias("cx"),
        F.col("cy").cast("long").alias("cy"),
        F.col("x").alias("n_points"),
        "s_nbr",
        "w_nbr",
        (num / F.sqrt(a * b / (F.col("n") - 1).cast("double"))).alias("gi_z"),
    )


_MM_NODE = 3000  # grid-graph node spacing in the integer domain


@query(
    "geo_map_matching",
    oracle=f"""
WITH pos AS (
  SELECT user_id, ts, event_id,
         (user_id * 104729 + event_id * 7919) % 36000 AS x,
         (user_id * 7919 + event_id * 104729) % 18000 AS y
  FROM events
),
snap AS (
  SELECT user_id, ts, event_id,
         (x + {_MM_NODE // 2}) // {_MM_NODE} AS nx,
         (y + {_MM_NODE // 2}) // {_MM_NODE} AS ny
  FROM pos
),
step AS (
  SELECT user_id, nx, ny,
         lag(nx) OVER w AS pnx, lag(ny) OVER w AS pny
  FROM snap
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT CAST(pnx AS BIGINT) AS from_x, CAST(pny AS BIGINT) AS from_y,
       CAST(nx AS BIGINT) AS to_x, CAST(ny AS BIGINT) AS to_y,
       CAST(COUNT(*) AS BIGINT) AS n_traversals,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM step
WHERE pnx IS NOT NULL AND NOT (pnx = nx AND pny = ny)
GROUP BY 1, 2, 3, 4
""",
    tags=("geo", "map-matching", "trajectory", "graph", "window"),
)
def geo_map_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAJECTORY MAP-MATCHING to a grid graph — noisy pings snapped
    to their nearest graph node (rounding in the integer coordinate
    domain = nearest node of a {_MM_NODE}-spaced lattice), consecutive
    distinct nodes per user become directed EDGE TRAVERSALS, and the
    output is the edge-load table (traversals + distinct users per
    edge) that feeds congestion modeling and route popularity — the
    aggregate a real HMM matcher (Newson-Krumm) also starts from.
    Self-transitions (consecutive pings snapping to the same node)
    are dwell, not movement, and are excluded.

    Plan shape at 100 TB: ONE shuffle on user_id feeds the lag window
    (snapping is a map-side projection before it), then one
    combinable groupBy on the edge key — same two-exchange skeleton
    as geo_trajectory_stats, with O(1) state per user in the window
    and O(edges) aggregate keys."""
    ev = load_table(spark, sf_dir, "events")
    half = _MM_NODE // 2
    snap = ev.select(
        "user_id", "ts", "event_id",
        ((F.col("user_id") * 104729 + F.col("event_id") * 7919) % 36000).alias("x"),
        ((F.col("user_id") * 7919 + F.col("event_id") * 104729) % 18000).alias("y"),
    ).select(
        "user_id", "ts", "event_id",
        F.expr(f"(x + {half}) div {_MM_NODE}").alias("nx"),
        F.expr(f"(y + {half}) div {_MM_NODE}").alias("ny"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    step = snap.select(
        "user_id", "nx", "ny",
        F.lag("nx").over(w).alias("pnx"),
        F.lag("ny").over(w).alias("pny"),
    )
    return (
        step.filter(
            F.col("pnx").isNotNull()
            & ~((F.col("pnx") == F.col("nx")) & (F.col("pny") == F.col("ny")))
        )
        .groupBy(
            F.col("pnx").cast("long").alias("from_x"),
            F.col("pny").cast("long").alias("from_y"),
            F.col("nx").cast("long").alias("to_x"),
            F.col("ny").cast("long").alias("to_y"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_traversals"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
    )


_OD_CELL = 4500  # coarser cells for the OD matrix (8 x 4 grid)


@query(
    "geo_od_flow_matrix",
    oracle=f"""
WITH pos AS (
  SELECT user_id, CAST(ts AS DATE) AS day, ts, event_id,
         (user_id * 104729 + event_id * 7919) % 36000 AS x,
         (user_id * 7919 + event_id * 104729) % 18000 AS y
  FROM events
),
r AS (
  SELECT user_id, day, x, y,
         row_number() OVER w AS rn,
         count(*) OVER (PARTITION BY user_id, day) AS n
  FROM pos
  WINDOW w AS (PARTITION BY user_id, day ORDER BY ts, event_id)
),
trips AS (
  SELECT user_id, day,
         MAX(CASE WHEN rn = 1 THEN x // {_OD_CELL} END) AS ocx,
         MAX(CASE WHEN rn = 1 THEN y // {_OD_CELL} END) AS ocy,
         MAX(CASE WHEN rn = n THEN x // {_OD_CELL} END) AS dcx,
         MAX(CASE WHEN rn = n THEN y // {_OD_CELL} END) AS dcy
  FROM r GROUP BY user_id, day
)
SELECT CAST(ocx AS BIGINT) AS origin_x, CAST(ocy AS BIGINT) AS origin_y,
       CAST(dcx AS BIGINT) AS dest_x, CAST(dcy AS BIGINT) AS dest_y,
       CAST(COUNT(*) AS BIGINT) AS n_trips,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM trips
GROUP BY 1, 2, 3, 4
""",
    tags=("geo", "od-matrix", "mobility", "window"),
)
def geo_od_flow_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORIGIN-DESTINATION FLOW MATRIX — the mobility-analytics staple
    (commute matrices, zone-to-zone demand): per (user, day) the
    FIRST and LAST position (by ts, event_id) define a trip from the
    origin cell to the destination cell; flows aggregate trips and
    distinct users per directed cell pair. Same-cell flows are kept —
    "stayed within zone" is a real row in a demand matrix.

    Plan shape at 100 TB: one shuffle on (user, day) feeds the
    row_number/count window, one grouped pass per trip endpoint
    extraction (conditional MAX — no second window), then a
    combinable groupBy over O(cells²) flow keys. Events are read
    once."""
    ev = load_table(spark, sf_dir, "events")
    pos = ev.select(
        "user_id",
        F.col("ts").cast("date").alias("day"),
        "ts", "event_id",
        ((F.col("user_id") * 104729 + F.col("event_id") * 7919) % 36000).alias("x"),
        ((F.col("user_id") * 7919 + F.col("event_id") * 104729) % 18000).alias("y"),
    )
    w = Window.partitionBy("user_id", "day").orderBy("ts", "event_id")
    wall = Window.partitionBy("user_id", "day")
    r = pos.select(
        "user_id", "day", "x", "y",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wall).alias("n"),
    )
    trips = r.groupBy("user_id", "day").agg(
        F.max(F.when(F.col("rn") == 1, F.expr(f"x div {_OD_CELL}"))).alias("ocx"),
        F.max(F.when(F.col("rn") == 1, F.expr(f"y div {_OD_CELL}"))).alias("ocy"),
        F.max(
            F.when(F.col("rn") == F.col("n"), F.expr(f"x div {_OD_CELL}"))
        ).alias("dcx"),
        F.max(
            F.when(F.col("rn") == F.col("n"), F.expr(f"y div {_OD_CELL}"))
        ).alias("dcy"),
    )
    return trips.groupBy(
        F.col("ocx").cast("long").alias("origin_x"),
        F.col("ocy").cast("long").alias("origin_y"),
        F.col("dcx").cast("long").alias("dest_x"),
        F.col("dcy").cast("long").alias("dest_y"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_trips"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )


# 8 angularly-ordered unit offsets (a star-convex octagon template):
# scaling by an integer keeps every vertex coordinate — and therefore
# every shoelace cross term — in exact integer arithmetic.
_POLY_OFFS = ((2, 0), (1, 1), (0, 2), (-1, 1), (-2, 0), (-1, -1),
              (0, -2), (1, -1))


@query(
    "geo_polygon_area_shoelace",
    oracle=f"""
WITH n AS (
  SELECT n_nationkey AS nk,
         (n_nationkey * 104729) % 36000 AS cx,
         (n_nationkey * 7919) % 18000 AS cy,
         1 + n_nationkey % 3 AS s
  FROM nation
),
offs AS (
  SELECT unnest(range(8)) AS k,
         unnest([{", ".join(str(dx) for dx, _ in _POLY_OFFS)}]) AS dx,
         unnest([{", ".join(str(dy) for _, dy in _POLY_OFFS)}]) AS dy
),
v AS (
  SELECT nk, k, cx + s * dx AS x, cy + s * dy AS y
  FROM n CROSS JOIN offs
),
e AS (
  SELECT a.nk, a.x AS x1, a.y AS y1, b.x AS x2, b.y AS y2
  FROM v a JOIN v b ON b.nk = a.nk AND b.k = (a.k + 1) % 8
),
agg AS (
  SELECT nk,
         CAST(SUM(x1 * y2 - x2 * y1) AS BIGINT) AS shoelace2,
         CAST(CAST(SUM(CAST(sqrt(CAST((x2 - x1) * (x2 - x1)
              + (y2 - y1) * (y2 - y1) AS DOUBLE)) AS DECIMAL(30,10)))
              AS VARCHAR) AS DOUBLE) AS perimeter
  FROM e GROUP BY nk
)
SELECT CAST(nk AS BIGINT) AS nationkey,
       CAST(abs(shoelace2) AS DOUBLE) / 2.0 AS area,
       perimeter
FROM agg
""",
    tags=("geo", "polygon", "shoelace", "geometry"),
)
def geo_polygon_area_shoelace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POLYGON AREA + PERIMETER by the SHOELACE formula — the vector
    geometry primitive under zone statistics (area-weighted rates,
    density denominators): per nation a deterministic star-convex
    octagon (8 angularly-ordered integer offsets scaled by
    1 + key % 3 around the nation's hash centroid), edges formed by a
    self-join on consecutive vertex index mod n, area = |Σ(x₁y₂ −
    x₂y₁)|/2 with every cross term EXACT INTEGER, perimeter =
    decimal-exact sum of per-edge sqrt (each sqrt is one IEEE
    exact-rounded op on an integer, so even the irrational column
    hash-matches).

    Scale: vertices are a generator cross join (8 rows per polygon,
    map-side); the edge join is an equi-join on (polygon, next-index)
    — state bounded by vertex count; one combinable groupBy per
    polygon. A billion polygons stream through without any
    polygon-sized state."""
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey")
    n = nation.select(
        F.col("n_nationkey").alias("nk"),
        ((F.col("n_nationkey") * 104729) % 36000).alias("cx"),
        ((F.col("n_nationkey") * 7919) % 18000).alias("cy"),
        (1 + F.col("n_nationkey") % 3).alias("s"),
    )
    offs = F.expr(
        "explode(array("
        + ",".join(
            f"struct({k} as k, {dx} as dx, {dy} as dy)"
            for k, (dx, dy) in enumerate(_POLY_OFFS)
        )
        + "))"
    )
    v = n.select("nk", "cx", "cy", "s", offs.alias("o")).select(
        "nk",
        F.col("o.k").alias("k"),
        (F.col("cx") + F.col("s") * F.col("o.dx")).alias("x"),
        (F.col("cy") + F.col("s") * F.col("o.dy")).alias("y"),
    )
    a = v.select("nk", "k", F.col("x").alias("x1"), F.col("y").alias("y1"))
    b = v.select(
        F.col("nk").alias("bnk"),
        F.col("k").alias("bk"),
        F.col("x").alias("x2"),
        F.col("y").alias("y2"),
    )
    e = a.join(
        b,
        (F.col("bnk") == F.col("nk")) & (F.col("bk") == (F.col("k") + 1) % 8),
    )
    seg = F.sqrt(
        (
            (F.col("x2") - F.col("x1")) * (F.col("x2") - F.col("x1"))
            + (F.col("y2") - F.col("y1")) * (F.col("y2") - F.col("y1"))
        ).cast("double")
    )
    agg = e.groupBy("nk").agg(
        F.sum(
            F.col("x1") * F.col("y2") - F.col("x2") * F.col("y1")
        ).cast("long").alias("shoelace2"),
        F.sum(seg.cast("decimal(30,10)")).cast("double").alias("perimeter"),
    )
    return agg.select(
        F.col("nk").cast("long").alias("nationkey"),
        (F.abs(F.col("shoelace2")).cast("double") / 2.0).alias("area"),
        "perimeter",
    )


# ---------------------------------------------------------------------------
# Round 11 (continued): segment-intersection spatial join with
# reference-point dedup, and a distance-threshold spatial ANTI join.
# ---------------------------------------------------------------------------

# Segment synthesis from customer keys: start point on the integer
# grid, extent bounded so every segment's bbox spans <= 2x2 grid cells
# (dx in [100, 1299], dy in [-650, 649], start y >= 700 keeps all
# coordinates non-negative so integer DIV agrees across engines).
# The start point uses a QUADRATIC congruential hash: the linear
# k*104729 % 36000 synthesis used elsewhere is a 1-D lattice whose
# points never land within bbox range of each other (stride gcd
# structure), yielding ZERO candidate pairs; the k^2 term breaks the
# lattice and produces a realistic overlap density (~1.7k candidate
# pairs / ~600 crossings at sf0.01).
_SEG_CELL = 4000
_SQL_SEG = """
  SELECT c_custkey AS id,
         (c_custkey * c_custkey * 7 + c_custkey * 104729) % 36000 AS ax,
         700 + (c_custkey * c_custkey * 13 + c_custkey * 7919) % 16000 AS ay,
         (c_custkey * c_custkey * 7 + c_custkey * 104729) % 36000
             + 100 + (c_custkey * 13) % 1200 AS bx,
         700 + (c_custkey * c_custkey * 13 + c_custkey * 7919) % 16000
             + (c_custkey * 31) % 1300 - 650 AS by
  FROM customer
"""


def _sql_cross(px, py, qx, qy, rx, ry) -> str:
    """Integer cross product (q - p) x (r - p) — orientation sign."""
    return (
        f"(({qx} - {px}) * ({ry} - {py}) - ({qy} - {py}) * ({rx} - {px}))"
    )


@query(
    "geo_segment_intersections",
    oracle=f"""
WITH seg AS ({_SQL_SEG}),
bb AS (
  SELECT id, ax, ay, bx, by,
         ax AS x0, bx AS x1,
         LEAST(ay, by) AS y0, GREATEST(ay, by) AS y1
  FROM seg
),
cand AS (
  SELECT a.id AS a_id, b.id AS b_id,
         a.ax AS aax, a.ay AS aay, a.bx AS abx, a.by AS aby,
         b.ax AS bax, b.ay AS bay, b.bx AS bbx, b.by AS bby
  FROM bb a JOIN bb b
    ON a.id < b.id
   AND a.x0 <= b.x1 AND b.x0 <= a.x1
   AND a.y0 <= b.y1 AND b.y0 <= a.y1
),
hits AS (
  SELECT a_id, b_id,
         CASE WHEN
           {_sql_cross('bax', 'bay', 'bbx', 'bby', 'aax', 'aay')}
             * {_sql_cross('bax', 'bay', 'bbx', 'bby', 'abx', 'aby')} < 0
           AND
           {_sql_cross('aax', 'aay', 'abx', 'aby', 'bax', 'bay')}
             * {_sql_cross('aax', 'aay', 'abx', 'aby', 'bbx', 'bby')} < 0
         THEN 1 ELSE 0 END AS hit
  FROM cand
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates,
       CAST(COALESCE(SUM(hit), 0) AS BIGINT) AS n_intersections,
       CAST(COALESCE(SUM(CASE WHEN hit = 1 THEN a_id * b_id ELSE 0 END), 0)
            AS BIGINT) AS pair_checksum
FROM hits
""",
    tags=("geo", "spatial-join", "segment-intersection", "pbsm",
          "reference-point-dedup"),
)
def geo_segment_intersections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEGMENT-INTERSECTION spatial self-join with REFERENCE-POINT
    deduplication (the PBSM trick, Patel & DeWitt SIGMOD'96) — the
    road-network / cadastral overlay workload: count pairs of line
    segments that properly cross. Candidate generation replicates each
    segment into the <= 2x2 grid cells its bounding box overlaps and
    equi-joins on the cell id, exactly like geo_bbox_range_join — but a
    PAIR of bboxes can share SEVERAL cells, so naive blocking emits
    duplicates that would need a distinct(). Instead each candidate
    pair is evaluated ONLY in its canonical cell — the cell containing
    the min corner of the two bboxes' intersection, a point guaranteed
    to lie in both bboxes — so every bbox-overlapping pair is produced
    EXACTLY once with zero dedup shuffle. n_candidates pins that
    exactly-once property against the oracle's blocking-free count.
    The crossing test is four integer cross-product orientation signs
    (proper crossing: both endpoint pairs strictly straddle), the same
    division-free discipline as geo_point_in_polygon; |cross| < 2^27
    so the sign products stay far inside BIGINT.

    Plan shape at 100 TB: scan -> <=4x explode -> one shuffle on the
    cell key -> hash self-join -> agg; no distinct, no nested loop, no
    second pass. Cell size trades replication (<= 2x2 here because
    extent < cell side) against per-cell pair fan-in, the same dial as
    the LSH band width; skewed cells salt exactly like the dedup band
    join (operators/skew.py)."""
    cust = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    hx = (k * k * 7 + k * 104729) % 36000
    hy = (k * k * 13 + k * 7919) % 16000
    seg = cust.select(
        k.alias("id"),
        hx.alias("ax"),
        (F.lit(700) + hy).alias("ay"),
        (hx + 100 + (k * 13) % 1200).alias("bx"),
        (F.lit(700) + hy + (k * 31) % 1300 - 650).alias("by"),
    ).select(
        "id", "ax", "ay", "bx", "by",
        F.col("ax").alias("x0"),
        F.col("bx").alias("x1"),
        F.least("ay", "by").alias("y0"),
        F.greatest("ay", "by").alias("y1"),
    )
    cells = F.expr(
        f"explode(flatten(transform("
        f"  sequence(x0 div {_SEG_CELL}, x1 div {_SEG_CELL}),"
        f"  gx -> transform("
        f"    sequence(y0 div {_SEG_CELL}, y1 div {_SEG_CELL}),"
        f"    gy -> struct(gx as cx, gy as cy)))))"
    )
    rep = seg.select("*", cells.alias("c")).select(
        "id", "ax", "ay", "bx", "by", "x0", "x1", "y0", "y1",
        F.col("c.cx").alias("cx"), F.col("c.cy").alias("cy"),
    )
    a = rep.select(*[F.col(c).alias(f"a_{c}") for c in
                     ("id", "ax", "ay", "bx", "by", "x0", "x1", "y0", "y1")],
                   "cx", "cy")
    b = rep.select(*[F.col(c).alias(f"b_{c}") for c in
                     ("id", "ax", "ay", "bx", "by", "x0", "x1", "y0", "y1")],
                   "cx", "cy")
    cand = a.join(b, ["cx", "cy"]).filter(
        (F.col("a_id") < F.col("b_id"))
        & (F.col("a_x0") <= F.col("b_x1")) & (F.col("b_x0") <= F.col("a_x1"))
        & (F.col("a_y0") <= F.col("b_y1")) & (F.col("b_y0") <= F.col("a_y1"))
        # reference-point dedup: evaluate the pair only in the cell
        # holding the min corner of the two bboxes' intersection.
        & (F.col("cx")
           == F.floor(F.greatest("a_x0", "b_x0") / _SEG_CELL).cast("long"))
        & (F.col("cy")
           == F.floor(F.greatest("a_y0", "b_y0") / _SEG_CELL).cast("long"))
    )

    def cross(px, py, qx, qy, rx, ry):
        return (F.col(qx) - F.col(px)) * (F.col(ry) - F.col(py)) - (
            F.col(qy) - F.col(py)
        ) * (F.col(rx) - F.col(px))

    d1 = cross("b_ax", "b_ay", "b_bx", "b_by", "a_ax", "a_ay")
    d2 = cross("b_ax", "b_ay", "b_bx", "b_by", "a_bx", "a_by")
    d3 = cross("a_ax", "a_ay", "a_bx", "a_by", "b_ax", "b_ay")
    d4 = cross("a_ax", "a_ay", "a_bx", "a_by", "b_bx", "b_by")
    hit = F.when((d1 * d2 < 0) & (d3 * d4 < 0), 1).otherwise(0)
    return cand.select(hit.alias("hit"), "a_id", "b_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_candidates"),
        F.coalesce(F.sum("hit"), F.lit(0)).cast("long")
        .alias("n_intersections"),
        F.coalesce(
            F.sum(F.when(F.col("hit") == 1,
                         F.col("a_id") * F.col("b_id")).otherwise(0)),
            F.lit(0),
        ).cast("long").alias("pair_checksum"),
    )


_COVER_R = 900
_COVER_R2 = _COVER_R * _COVER_R


@query(
    "geo_distance_anti_join",
    oracle=f"""
WITH p AS (
  SELECT c_custkey,
         (c_custkey * 104729) % 36000 AS px,
         (c_custkey * 7919) % 18000 AS py
  FROM customer
),
s AS (
  SELECT (s_suppkey * 104729) % 36000 AS sx,
         (s_suppkey * 7919) % 18000 AS sy
  FROM supplier
),
un AS (
  SELECT c_custkey FROM p
  WHERE NOT EXISTS (
    SELECT 1 FROM s
    WHERE (p.px - s.sx) * (p.px - s.sx)
        + (p.py - s.sy) * (p.py - s.sy) <= {_COVER_R2}
  )
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_uncovered,
       CAST(COALESCE(SUM(c_custkey), 0) AS BIGINT) AS uncovered_checksum,
       CAST(COALESCE(MIN(c_custkey), -1) AS BIGINT) AS min_uncovered_key
FROM un
""",
    tags=("geo", "anti-join", "coverage", "grid-blocking", "distance"),
)
def geo_distance_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTANCE-THRESHOLD spatial ANTI join — the coverage-gap query
    (customers no depot serves, sensors outside every cell tower's
    radius, addresses beyond any polling station): points with NO site
    within radius r. Naive SQL is a NOT EXISTS with a distance
    predicate — a nested loop per point. Blocked: cell side == r, each
    site replicated into its 3x3 neighbor cells (so every point within
    r of a site shares a cell with one of its replicas — the
    geo_grid_knn_join guarantee), and the whole query becomes ONE
    LEFT ANTI hash join of points against the replicated site table on
    (cell, distance <= r^2). Anti join needs NO dedup of the 9x
    replication — a point is uncovered iff it matches zero replicas —
    so there is no distinct() anywhere.

    Plan shape at 100 TB: BroadcastHashJoin LeftAnti when the site
    table is small (here; plan-pinned in tests), shuffle anti join on
    the cell key when it isn't. The points side — the 100 TB side —
    is scanned once, never replicated, never shuffled in the broadcast
    case. Distance math is division-free integer arithmetic."""
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    p = cust.select(
        "c_custkey",
        ((F.col("c_custkey") * 104729) % 36000).alias("px"),
        ((F.col("c_custkey") * 7919) % 18000).alias("py"),
    ).select(
        "c_custkey", "px", "py",
        (F.col("px") / _COVER_R).cast("long").alias("cx"),
        (F.col("py") / _COVER_R).cast("long").alias("cy"),
    )
    s = supp.select(
        ((F.col("s_suppkey") * 104729) % 36000).alias("sx"),
        ((F.col("s_suppkey") * 7919) % 18000).alias("sy"),
    ).select(
        "sx", "sy",
        (F.col("sx") / _COVER_R).cast("long").alias("scx"),
        (F.col("sy") / _COVER_R).cast("long").alias("scy"),
    )
    offsets = F.expr(
        "explode(transform(sequence(0, 8), "
        "i -> struct(i div 3 - 1 as dx, i % 3 - 1 as dy)))"
    )
    s9 = s.select("*", offsets.alias("o")).select(
        "sx", "sy",
        (F.col("scx") + F.col("o.dx")).alias("kx"),
        (F.col("scy") + F.col("o.dy")).alias("ky"),
    )
    dist2 = (F.col("px") - F.col("sx")) * (F.col("px") - F.col("sx")) + (
        F.col("py") - F.col("sy")
    ) * (F.col("py") - F.col("sy"))
    cond = (
        (F.col("cx") == F.col("kx"))
        & (F.col("cy") == F.col("ky"))
        & (dist2 <= _COVER_R2)
    )
    uncovered = p.join(F.broadcast(s9), cond, "left_anti")
    return uncovered.agg(
        F.count(F.lit(1)).cast("long").alias("n_uncovered"),
        F.coalesce(F.sum("c_custkey"), F.lit(0)).cast("long")
        .alias("uncovered_checksum"),
        F.coalesce(F.min("c_custkey"), F.lit(-1)).cast("long")
        .alias("min_uncovered_key"),
    )


# Hexagonal binning lattice (doubled integer coordinates so odd-row
# offsets stay integral): centers every _HEX_HS horizontally, rows
# every _HEX_VS vertically, odd rows shifted _HEX_HS/2. _HEX_VS ~
# _HEX_HS * sqrt(3)/2 makes the Voronoi cells near-regular hexagons;
# EXACTNESS needs only that both engines use the same integer centers.
_HEX_HS = 2000
_HEX_VS = 1732


# Point synthesis on DOUBLED coordinates (the assignment logic itself
# lives in geo_hex_binning's oracle CTEs / Spark expressions below).
_SQL_HEX_PTS = """
  SELECT c_custkey,
         2 * ((c_custkey * 104729) % 36000) AS x2,
         2 * ((c_custkey * 7919) % 18000) AS y2
  FROM customer
"""


@query(
    "geo_hex_binning",
    oracle=f"""
WITH p AS ({_SQL_HEX_PTS}),
cand AS (
  SELECT c_custkey, x2, y2,
         y2 // {_HEX_VS} AS j1,
         y2 // {_HEX_VS} + 1 AS j2
  FROM p
),
cc AS (
  SELECT c_custkey, x2, y2, j1, j2,
         (x2 - (j1 % 2) * {_HEX_HS // 2} + {_HEX_HS // 2}) // {_HEX_HS}
           AS i1,
         (x2 - (j2 % 2) * {_HEX_HS // 2} + {_HEX_HS // 2}) // {_HEX_HS}
           AS i2
  FROM cand
),
dd AS (
  SELECT c_custkey, j1, j2, i1, i2,
         (x2 - (i1 * {_HEX_HS} + (j1 % 2) * {_HEX_HS // 2}))
           * (x2 - (i1 * {_HEX_HS} + (j1 % 2) * {_HEX_HS // 2}))
           + (y2 - j1 * {_HEX_VS}) * (y2 - j1 * {_HEX_VS}) AS d1,
         (x2 - (i2 * {_HEX_HS} + (j2 % 2) * {_HEX_HS // 2}))
           * (x2 - (i2 * {_HEX_HS} + (j2 % 2) * {_HEX_HS // 2}))
           + (y2 - j2 * {_HEX_VS}) * (y2 - j2 * {_HEX_VS}) AS d2
  FROM cc
),
asg AS (
  SELECT c_custkey,
         CASE WHEN d1 <= d2 THEN i1 ELSE i2 END AS hex_i,
         CASE WHEN d1 <= d2 THEN j1 ELSE j2 END AS hex_j
  FROM dd
)
SELECT hex_i, hex_j,
       CAST(COUNT(*) AS BIGINT) AS n_points,
       CAST(SUM(c_custkey) AS BIGINT) AS key_checksum
FROM asg GROUP BY hex_i, hex_j
""",
    tags=("geo", "hex-binning", "h3", "voronoi", "spatial-index"),
)
def geo_hex_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HEXAGONAL BINNING — the H3/Uber-style spatial aggregation
    (hex cells have uniform neighbor distances, which is why modern
    geospatial stacks bin hexagonally rather than by square or
    geohash): each point is assigned to the NEAREST center of an
    offset lattice (rows every VS, centers every HS, odd rows shifted
    HS/2) — the Voronoi diagram of that lattice IS a hex grid. The
    assignment needs only TWO candidates (nearest in-row center of
    the row below and above), compared by exact integer squared
    distance on DOUBLED coordinates (so the half-spacing odd-row
    offset stays integral): no trigonometry, no floats, no cube
    rounding — the whole hex transform is a handful of integer
    divs and multiplies, unrolled identically in both engines, ties
    broken to the lower row.

    Plan shape at 100 TB: assignment is one codegen projection over
    the point scan; the rollup is one map-side-combined aggregate on
    (hex_i, hex_j) — identical cost to the square-grid geo_tile_pyramid
    with the neighbor-uniformity benefit hex analysts want. Coarser
    hex pyramids reaggregate the cell table (7-child H3-style rollups)
    without re-reading points."""
    cust = load_table(spark, sf_dir, "customer")
    hs, vs, h2 = _HEX_HS, _HEX_VS, _HEX_HS // 2
    p = cust.select(
        "c_custkey",
        (2 * ((F.col("c_custkey") * 104729) % 36000)).alias("x2"),
        (2 * ((F.col("c_custkey") * 7919) % 18000)).alias("y2"),
    )
    j1 = (F.col("y2") / vs).cast("long")
    j2 = j1 + 1
    i1 = ((F.col("x2") - (j1 % 2) * h2 + h2) / hs).cast("long")
    i2 = ((F.col("x2") - (j2 % 2) * h2 + h2) / hs).cast("long")
    cx1 = i1 * hs + (j1 % 2) * h2
    cx2 = i2 * hs + (j2 % 2) * h2
    d1 = (F.col("x2") - cx1) * (F.col("x2") - cx1) + (
        F.col("y2") - j1 * vs
    ) * (F.col("y2") - j1 * vs)
    d2 = (F.col("x2") - cx2) * (F.col("x2") - cx2) + (
        F.col("y2") - j2 * vs
    ) * (F.col("y2") - j2 * vs)
    asg = p.select(
        "c_custkey",
        F.when(d1 <= d2, i1).otherwise(i2).alias("hex_i"),
        F.when(d1 <= d2, j1).otherwise(j2).alias("hex_j"),
    )
    return asg.groupBy("hex_i", "hex_j").agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.sum("c_custkey").cast("long").alias("key_checksum"),
    )


# ---------------------------------------------------------------------------
# Round 12: polygon-polygon overlap join (PBSM), geohash prefix
# pyramid, adaptive quadtree refinement.
# ---------------------------------------------------------------------------

# Triangle synthesis (all coordinates strictly positive; vertex
# extent <= 1300 < cell side so every bbox spans <= 2x2 grid cells).
# Quadratic congruential hash for the anchor vertex — same rationale
# as _SQL_SEG: the linear synthesis is a 1-D lattice with no overlaps.
_TRI_CELL = 4000

_SQL_TRI_A = """
  SELECT s_suppkey AS id,
         700 + (s_suppkey * s_suppkey * 11 + s_suppkey * 104729) % 34000
           AS ax,
         700 + (s_suppkey * s_suppkey * 17 + s_suppkey * 7919) % 16000
           AS ay,
         700 + (s_suppkey * s_suppkey * 11 + s_suppkey * 104729) % 34000
           + 100 + (s_suppkey * 13) % 1200 AS bx,
         700 + (s_suppkey * s_suppkey * 17 + s_suppkey * 7919) % 16000
           + (s_suppkey * 31) % 1300 - 650 AS by,
         700 + (s_suppkey * s_suppkey * 11 + s_suppkey * 104729) % 34000
           + (s_suppkey * 29) % 1300 - 650 AS cx,
         700 + (s_suppkey * s_suppkey * 17 + s_suppkey * 7919) % 16000
           + 100 + (s_suppkey * 41) % 1200 AS cy
  FROM supplier
"""

_SQL_TRI_B = """
  SELECT c_custkey AS id,
         700 + (c_custkey * c_custkey * 7 + c_custkey * 104729) % 34000
           AS ax,
         700 + (c_custkey * c_custkey * 13 + c_custkey * 7919) % 16000
           AS ay,
         700 + (c_custkey * c_custkey * 7 + c_custkey * 104729) % 34000
           + 100 + (c_custkey * 17) % 1200 AS bx,
         700 + (c_custkey * c_custkey * 13 + c_custkey * 7919) % 16000
           + (c_custkey * 37) % 1300 - 650 AS by,
         700 + (c_custkey * c_custkey * 7 + c_custkey * 104729) % 34000
           + (c_custkey * 23) % 1300 - 650 AS cx,
         700 + (c_custkey * c_custkey * 13 + c_custkey * 7919) % 16000
           + 100 + (c_custkey * 43) % 1200 AS cy
  FROM customer
"""


def _sql_pit(px, py, ax, ay, bx, by, cx, cy) -> str:
    """Inclusive point-in-triangle: all three orientation signs agree
    (either orientation — synthesized triangles wind both ways)."""
    s1 = _sql_cross(ax, ay, bx, by, px, py)
    s2 = _sql_cross(bx, by, cx, cy, px, py)
    s3 = _sql_cross(cx, cy, ax, ay, px, py)
    return (
        f"(({s1} >= 0 AND {s2} >= 0 AND {s3} >= 0)"
        f" OR ({s1} <= 0 AND {s2} <= 0 AND {s3} <= 0))"
    )


def _sql_seg_cross(p, q, r, s) -> str:
    """Proper segment crossing (both endpoint pairs strictly
    straddle); p/q/r/s are (x_expr, y_expr) pairs."""
    d1 = _sql_cross(*p, *q, *r)
    d2 = _sql_cross(*p, *q, *s)
    d3 = _sql_cross(*r, *s, *p)
    d4 = _sql_cross(*r, *s, *q)
    return f"({d1} * {d2} < 0 AND {d3} * {d4} < 0)"


def _sql_tri_overlap() -> str:
    """Convex-polygon overlap over prefixed columns a_*/b_*: any of
    the 9 edge pairs properly crosses, OR one triangle's first vertex
    lies in the other (no crossings + overlap => containment for
    convex shapes, and containment puts EVERY vertex inside, so one
    vertex test per direction suffices)."""
    av = [("a_ax", "a_ay"), ("a_bx", "a_by"), ("a_cx", "a_cy")]
    bv = [("b_ax", "b_ay"), ("b_bx", "b_by"), ("b_cx", "b_cy")]
    crossings = [
        _sql_seg_cross(av[i], av[(i + 1) % 3], bv[j], bv[(j + 1) % 3])
        for i in range(3)
        for j in range(3)
    ]
    pit_ab = _sql_pit("a_ax", "a_ay", *bv[0], *bv[1], *bv[2])
    pit_ba = _sql_pit("b_ax", "b_ay", *av[0], *av[1], *av[2])
    return "(" + " OR ".join(crossings + [pit_ab, pit_ba]) + ")"


@query(
    "geo_triangle_overlap_join",
    oracle=f"""
WITH ta AS ({_SQL_TRI_A}),
tb AS ({_SQL_TRI_B}),
ba AS (
  SELECT id AS a_id, ax AS a_ax, ay AS a_ay, bx AS a_bx, by AS a_by,
         cx AS a_cx, cy AS a_cy,
         LEAST(ax, bx, cx) AS a_x0, GREATEST(ax, bx, cx) AS a_x1,
         LEAST(ay, by, cy) AS a_y0, GREATEST(ay, by, cy) AS a_y1
  FROM ta
),
bb AS (
  SELECT id AS b_id, ax AS b_ax, ay AS b_ay, bx AS b_bx, by AS b_by,
         cx AS b_cx, cy AS b_cy,
         LEAST(ax, bx, cx) AS b_x0, GREATEST(ax, bx, cx) AS b_x1,
         LEAST(ay, by, cy) AS b_y0, GREATEST(ay, by, cy) AS b_y1
  FROM bb_src
),
cand AS (
  SELECT *
  FROM ba JOIN bb
    ON a_x0 <= b_x1 AND b_x0 <= a_x1
   AND a_y0 <= b_y1 AND b_y0 <= a_y1
),
hits AS (
  SELECT a_id, b_id,
         CASE WHEN {_sql_tri_overlap()} THEN 1 ELSE 0 END AS hit
  FROM cand
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates,
       CAST(COALESCE(SUM(hit), 0) AS BIGINT) AS n_overlaps,
       CAST(COALESCE(SUM(CASE WHEN hit = 1 THEN a_id * b_id ELSE 0 END),
                     0) AS BIGINT) AS pair_checksum
FROM hits
""".replace("FROM bb_src", f"FROM ({_SQL_TRI_B}) AS tb2"),
    tags=("geo", "spatial-join", "polygon-overlap", "pbsm",
          "reference-point-dedup"),
)
def geo_triangle_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POLYGON-POLYGON OVERLAP JOIN via PBSM grid blocking — the
    cadastral/zoning overlay workload (which parcels intersect which
    flood zones), here with the minimal convex polygon (triangles) so
    the exact predicate stays pure integer arithmetic. Candidate
    generation is the geo_segment_intersections machinery applied
    BIPARTITE: both sides' bounding boxes replicate into their <= 2x2
    grid cells, equi-join on the cell key, and each bbox-overlapping
    pair is evaluated exactly once in the canonical cell holding the
    min corner of the bbox intersection (reference-point dedup — no
    distinct anywhere). The exact test is the convex-shape theorem:
    two convex polygons overlap iff an edge pair properly crosses or
    one's first vertex lies inside the other (9 strict crossing tests
    + 2 inclusive point-in-triangle tests, all integer cross-product
    signs; |cross| < 2^30, products < 2^60 — inside BIGINT).
    n_candidates pins the exactly-once blocking against the oracle's
    blocking-free bbox join.

    Plan shape at 100 TB: two scans -> <= 4x explode each -> ONE
    shuffle on the cell key -> hash join -> agg. Replication factor
    is bounded by extent/cell_side (the PBSM dial); skewed cells salt
    like the dedup band join. Real polygon vertex rings ride along as
    array columns with the same bbox blocking; only the refinement
    predicate grows."""
    sup = load_table(spark, sf_dir, "supplier")
    cust = load_table(spark, sf_dir, "customer")

    def triangles(df, key, m1, m2, e1, e2, e3, e4):
        k = F.col(key)
        hx = F.lit(700) + (k * k * m1 + k * 104729) % 34000
        hy = F.lit(700) + (k * k * m2 + k * 7919) % 16000
        return df.select(
            k.alias("id"),
            hx.alias("ax"), hy.alias("ay"),
            (hx + 100 + (k * e1) % 1200).alias("bx"),
            (hy + (k * e2) % 1300 - 650).alias("by"),
            (hx + (k * e3) % 1300 - 650).alias("cx"),
            (hy + 100 + (k * e4) % 1200).alias("cy"),
        ).select(
            "*",
            F.least("ax", "bx", "cx").alias("x0"),
            F.greatest("ax", "bx", "cx").alias("x1"),
            F.least("ay", "by", "cy").alias("y0"),
            F.greatest("ay", "by", "cy").alias("y1"),
        )

    ta = triangles(sup, "s_suppkey", 11, 17, 13, 31, 29, 41)
    tb = triangles(cust, "c_custkey", 7, 13, 17, 37, 23, 43)

    cells = F.expr(
        f"explode(flatten(transform("
        f"  sequence(x0 div {_TRI_CELL}, x1 div {_TRI_CELL}),"
        f"  gx -> transform("
        f"    sequence(y0 div {_TRI_CELL}, y1 div {_TRI_CELL}),"
        f"    gy -> struct(gx as gcx, gy as gcy)))))"
    )
    vcols = ("id", "ax", "ay", "bx", "by", "cx", "cy",
             "x0", "x1", "y0", "y1")

    def replicate(t, prefix):
        return t.select("*", cells.alias("c")).select(
            *[F.col(c).alias(f"{prefix}_{c}") for c in vcols],
            F.col("c.gcx").alias("gcx"), F.col("c.gcy").alias("gcy"),
        )

    ra = replicate(ta, "a")
    rb = replicate(tb, "b")
    cand = ra.join(rb, ["gcx", "gcy"]).filter(
        (F.col("a_x0") <= F.col("b_x1")) & (F.col("b_x0") <= F.col("a_x1"))
        & (F.col("a_y0") <= F.col("b_y1")) & (F.col("b_y0") <= F.col("a_y1"))
        & (F.col("gcx") == F.floor(
            F.greatest("a_x0", "b_x0") / _TRI_CELL).cast("long"))
        & (F.col("gcy") == F.floor(
            F.greatest("a_y0", "b_y0") / _TRI_CELL).cast("long"))
    )
    hit = F.when(F.expr(_sql_tri_overlap()), 1).otherwise(0)
    return cand.select(hit.alias("hit"), "a_id", "b_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_candidates"),
        F.coalesce(F.sum("hit"), F.lit(0)).cast("long").alias("n_overlaps"),
        F.coalesce(
            F.sum(F.when(F.col("hit") == 1,
                         F.col("a_id") * F.col("b_id")).otherwise(0)),
            F.lit(0),
        ).cast("long").alias("pair_checksum"),
    )


@query(
    "geo_geohash_prefix_agg",
    oracle=f"""
WITH p AS (
  SELECT c_custkey,
         {_SQL_LAT.format(k='c_custkey')} AS lat,
         {_SQL_LON.format(k='c_custkey')} AS lon
  FROM customer
),
q AS (
  SELECT c_custkey,
         CAST(floor((lat + 90.0) / 180.0 * 4096) AS BIGINT) AS latq,
         CAST(floor((lon + 180.0) / 360.0 * 8192) AS BIGINT) AS lonq
  FROM p
),
g AS (SELECT c_custkey, {_gh_expr(lambda b, n: f"({b} * {1 << n})")} AS gh
      FROM q),
h AS (SELECT c_custkey, {_gh_chars_expr('gh')} AS geohash FROM g),
lv AS (
  SELECT CAST(lvl AS BIGINT) AS level, substr(geohash, 1, lvl) AS prefix,
         c_custkey
  FROM h, (SELECT unnest(range(1, 5)) AS lvl)
)
SELECT level, prefix,
       CAST(COUNT(*) AS BIGINT) AS n_points,
       CAST(SUM(c_custkey) AS BIGINT) AS key_checksum
FROM lv GROUP BY level, prefix
""",
    tags=("geo", "geohash", "prefix-rollup", "pyramid", "spatial-index"),
)
def geo_geohash_prefix_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GEOHASH PREFIX PYRAMID — the hierarchical rollup the prefix
    property exists for (VERDICT r11 item 5): counts and key
    checksums at every prefix length 1..4, the multi-resolution cell
    table a tile service / heatmap / spatial-stats layer reads. The
    Spark side demonstrates the SCALE-CORRECT construction: points
    shuffle ONCE into the finest (4-char) cell table, and every
    coarser level re-aggregates the CELL TABLE (O(cells), not
    O(points)) by prefix truncation — a 4x explode of the cell table
    feeding one grouped aggregate, the same pyramid discipline as
    geo_tile_pyramid but over the standard base-32 key. The oracle
    computes each level directly from the points (level x point
    cross-unnest), pinning that cell-table reaggregation is exactly
    point-level aggregation — the algebraic property (SUM/COUNT are
    associative over the prefix partition) that makes pyramid
    maintenance O(delta) under appends.

    100 TB shape: one shuffle on the 4-char key (~1M cells), then
    three aggregations over <= 1M rows each; the pyramid is
    incrementally maintainable by adding per-batch deltas at the
    finest level and re-rolling only touched prefixes."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    q = c.select(
        "c_custkey",
        F.floor((_lat("c_custkey") + 90.0) / 180.0 * 4096)
        .cast("long").alias("latq"),
        F.floor((_lon("c_custkey") + 180.0) / 360.0 * 8192)
        .cast("long").alias("lonq"),
    )
    g = q.selectExpr(
        "c_custkey",
        f"({_gh_expr(lambda b, n: f'shiftleft({b}, {n})')}) AS gh"
        .replace("//", "DIV"),
    )
    h = g.selectExpr(
        "c_custkey",
        f"(substr({_gh_chars_expr('gh')}, 1, 4)) AS p4"
        .replace("//", "DIV"),
    )
    # One point-level shuffle builds the finest cell table; the
    # coarser levels come from EXPLODING each cell row into its 4
    # prefix levels and re-aggregating — one cell-level shuffle for
    # the whole pyramid, one scan of the points, no cache/union fan
    # (a union of per-level aggregates would recompute the point
    # aggregation per branch: 4 scans, 7 shuffles — measured).
    cells4 = h.groupBy("p4").agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.sum("c_custkey").cast("long").alias("key_checksum"),
    )
    lv = cells4.select(
        F.explode(F.expr("sequence(1, 4)")).alias("lvl"),
        "p4", "n_points", "key_checksum",
    )
    return (
        lv.groupBy(
            F.col("lvl").cast("long").alias("level"),
            F.expr("substr(p4, 1, lvl)").alias("prefix"),
        )
        .agg(
            F.sum("n_points").cast("long").alias("n_points"),
            F.sum("key_checksum").cast("long").alias("key_checksum"),
        )
    )


_QT_T = 400  # refinement threshold: split a cell holding > T points
_QT_WX = [36000, 18000, 9000, 4500]  # cell widths, depths 0..3
_QT_WY = [18000, 9000, 4500, 2250]


@query(
    "geo_quadtree_leaf_cells",
    oracle=f"""
WITH pts AS (
  -- squared transform: density ~ 1/sqrt(coord), concentrated near
  -- the origin, so the tree genuinely refines unevenly (uniform
  -- synthesis makes every branch open to the cap - no adaptivity).
  SELECT ((o_orderkey * 104729) % 36000) * ((o_orderkey * 104729) % 36000)
           // 36000 AS x,
         ((o_orderkey * 7919) % 18000) * ((o_orderkey * 7919) % 18000)
           // 18000 AS y
  FROM orders
),
c3 AS (
  SELECT x // {_QT_WX[3]} AS cx, y // {_QT_WY[3]} AS cy,
         COUNT(*) AS n, SUM(x) AS xs
  FROM pts GROUP BY 1, 2
),
c2 AS (SELECT cx // 2 AS cx, cy // 2 AS cy, SUM(n) AS n, SUM(xs) AS xs
       FROM c3 GROUP BY 1, 2),
c1 AS (SELECT cx // 2 AS cx, cy // 2 AS cy, SUM(n) AS n, SUM(xs) AS xs
       FROM c2 GROUP BY 1, 2),
c0 AS (SELECT cx // 2 AS cx, cy // 2 AS cy, SUM(n) AS n, SUM(xs) AS xs
       FROM c1 GROUP BY 1, 2),
open0 AS (SELECT * FROM c0 WHERE n > {_QT_T}),
j1 AS (SELECT c1.* FROM c1
       JOIN open0 p ON c1.cx // 2 = p.cx AND c1.cy // 2 = p.cy),
open1 AS (SELECT * FROM j1 WHERE n > {_QT_T}),
j2 AS (SELECT c2.* FROM c2
       JOIN open1 p ON c2.cx // 2 = p.cx AND c2.cy // 2 = p.cy),
open2 AS (SELECT * FROM j2 WHERE n > {_QT_T}),
j3 AS (SELECT c3.* FROM c3
       JOIN open2 p ON c3.cx // 2 = p.cx AND c3.cy // 2 = p.cy),
leaves AS (
  SELECT 0 AS depth, cx, cy, n, xs FROM c0 WHERE n <= {_QT_T}
  UNION ALL
  SELECT 1, cx, cy, n, xs FROM j1 WHERE n <= {_QT_T}
  UNION ALL
  SELECT 2, cx, cy, n, xs FROM j2 WHERE n <= {_QT_T}
  UNION ALL
  SELECT 3, cx, cy, n, xs FROM j3
)
SELECT CAST(depth AS BIGINT) AS depth, CAST(cx AS BIGINT) AS cell_x,
       CAST(cy AS BIGINT) AS cell_y, CAST(n AS BIGINT) AS n_points,
       CAST(xs AS BIGINT) AS x_checksum
FROM leaves
""",
    tags=("geo", "quadtree", "adaptive-refinement", "spatial-index"),
)
def geo_quadtree_leaf_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADAPTIVE QUADTREE construction as pure aggregation — the
    density-adaptive spatial index (dense regions refine to depth 3,
    sparse regions stay coarse) that backs variable-resolution
    heatmaps and spatial partition sizing. The leaf rule: a node is a
    leaf iff its count <= {_QT_T} (or it sits at the depth cap) and
    every ancestor's count exceeds {_QT_T}. The construction is the
    one that scales: points shuffle ONCE into the finest-depth cell
    table; depths 2,1,0 are rollups of the CELL table (halving
    integer cell coords — parent/child alignment is exact because
    each depth's cell width is exactly twice the next); leaf
    selection is three parent-joins over tables of <= 4^d cells. No
    per-level re-scan of points, no driver-side recursion — the
    'tree' is four relations and the open/closed frontier is a join.

    The oracle rebuilds the same pyramid in SQL (all integer division
    on non-negative coordinates — identical semantics both engines);
    x_checksum pins that refinement reassigns every point to exactly
    one leaf.

    100 TB shape: one point shuffle + O(cells) rollups, exactly like
    geo_tile_pyramid; deeper caps add rollup levels, never point
    passes. Appends maintain it incrementally: add deltas at the
    finest level, re-roll touched parents, re-evaluate the open
    frontier locally."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey")
    # Squared transform (see the oracle comment): non-negative
    # operands, so floor == integer division in both engines.
    u = (F.col("o_orderkey") * 104729) % 36000
    v = (F.col("o_orderkey") * 7919) % 18000
    pts = o.select(
        F.floor(u * u / F.lit(36000)).cast("long").alias("x"),
        F.floor(v * v / F.lit(18000)).cast("long").alias("y"),
    )
    c3 = pts.groupBy(
        F.expr(f"x DIV {_QT_WX[3]}").alias("cx"),
        F.expr(f"y DIV {_QT_WY[3]}").alias("cy"),
    ).agg(F.count(F.lit(1)).alias("n"), F.sum("x").alias("xs"))

    def up(df):
        return df.groupBy(
            F.expr("cx DIV 2").alias("cx"), F.expr("cy DIV 2").alias("cy")
        ).agg(F.sum("n").alias("n"), F.sum("xs").alias("xs"))

    c2 = up(c3)
    c1 = up(c2)
    c0 = up(c1)

    def child_of_open(child, open_parent):
        p = open_parent.select(
            F.col("cx").alias("pcx"), F.col("cy").alias("pcy")
        )
        return child.join(
            F.broadcast(p),
            (F.expr("cx DIV 2") == F.col("pcx"))
            & (F.expr("cy DIV 2") == F.col("pcy")),
        ).drop("pcx", "pcy")

    open0 = c0.filter(F.col("n") > _QT_T)
    j1 = child_of_open(c1, open0)
    open1 = j1.filter(F.col("n") > _QT_T)
    j2 = child_of_open(c2, open1)
    open2 = j2.filter(F.col("n") > _QT_T)
    j3 = child_of_open(c3, open2)

    def leaf(df, depth):
        return df.select(
            F.lit(depth).cast("long").alias("depth"),
            F.col("cx").cast("long").alias("cell_x"),
            F.col("cy").cast("long").alias("cell_y"),
            F.col("n").cast("long").alias("n_points"),
            F.col("xs").cast("long").alias("x_checksum"),
        )

    return (
        leaf(c0.filter(F.col("n") <= _QT_T), 0)
        .unionByName(leaf(j1.filter(F.col("n") <= _QT_T), 1))
        .unionByName(leaf(j2.filter(F.col("n") <= _QT_T), 2))
        .unionByName(leaf(j3, 3))
    )


@query(
    "geo_rect_cover_segments",
    oracle="""
WITH r AS (
  SELECT c_custkey AS id,
         (c_custkey * 104729) % 80 AS cx0,
         (c_custkey * 7919) % 40 AS cy0,
         1 + (c_custkey * 13) % 8 AS w,
         1 + (c_custkey * 17) % 6 AS h
  FROM customer
),
rows_ AS (
  SELECT id, cx0, cx0 + w AS cx1x, unnest(range(cy0, cy0 + h)) AS cy
  FROM r
),
deltas AS (
  SELECT cy, cx, SUM(d) AS d FROM (
    SELECT cy, cx0 AS cx, 1 AS d FROM rows_
    UNION ALL
    SELECT cy, cx1x AS cx, -1 AS d FROM rows_
  ) GROUP BY cy, cx HAVING SUM(d) <> 0
),
sweep AS (
  SELECT cy, cx,
         SUM(d) OVER (PARTITION BY cy ORDER BY cx
                      ROWS UNBOUNDED PRECEDING) AS coverage,
         LEAD(cx) OVER (PARTITION BY cy ORDER BY cx) AS cx_to
  FROM deltas
)
SELECT CAST(cy AS BIGINT) AS cy, CAST(cx AS BIGINT) AS cx_from,
       CAST(cx_to AS BIGINT) AS cx_to, CAST(coverage AS BIGINT) AS coverage
FROM sweep WHERE coverage > 0
""",
    tags=("geo", "interval-sweep", "coverage", "difference-array"),
)
def geo_rect_cover_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RECTANGLE COVERAGE via DIFFERENCE-ARRAY SWEEP — how many
    rectangles (service areas, ad geofences, sensor footprints) cover
    each region of the grid, WITHOUT materializing grid cells or
    joining rect x cell. Each rectangle contributes two deltas per
    covered row (+1 at its left edge, -1 one past its right edge);
    net-zero breakpoints drop (HAVING <> 0, canonical segments); a
    per-row running sum turns deltas into coverage SEGMENTS
    (cy, cx_from, cx_to, coverage). Work is O(rects x height +
    breakpoints) — the 1-D sweep per row — versus O(rects x area) for
    the naive cell join; identical integer construction both engines.

    Plan shape at 100 TB: one explode (bounded height), one
    (cy, cx) aggregate shuffle, one cy-partitioned window — no
    self-join, no dense grid. Rows partition independently, so the
    sweep scales with breakpoints per row (the same reason database
    interval trees sweep, not rasterize). A second sweep over cy on
    the segment table would yield 2-D prefix sums / Klee's-algorithm
    union area with the same discipline."""
    cust = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    r = cust.select(
        k.alias("id"),
        ((k * 104729) % 80).alias("cx0"),
        ((k * 7919) % 40).alias("cy0"),
        (1 + (k * 13) % 8).alias("w"),
        (1 + (k * 17) % 6).alias("h"),
    )
    rows_ = r.select(
        "id", "cx0", (F.col("cx0") + F.col("w")).alias("cx1x"),
        F.explode(
            F.sequence(F.col("cy0"), F.col("cy0") + F.col("h") - 1)
        ).alias("cy"),
    )
    deltas = (
        rows_.select("cy", F.col("cx0").alias("cx"), F.lit(1).alias("d"))
        .unionByName(
            rows_.select("cy", F.col("cx1x").alias("cx"),
                         F.lit(-1).alias("d"))
        )
        .groupBy("cy", "cx")
        .agg(F.sum("d").alias("d"))
        .filter(F.col("d") != 0)
    )
    w_sum = (
        Window.partitionBy("cy").orderBy("cx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_lead = Window.partitionBy("cy").orderBy("cx")
    sweep = deltas.select(
        "cy", "cx",
        F.sum("d").over(w_sum).alias("coverage"),
        F.lead("cx").over(w_lead).alias("cx_to"),
    )
    return sweep.filter(F.col("coverage") > 0).select(
        F.col("cy").cast("long").alias("cy"),
        F.col("cx").cast("long").alias("cx_from"),
        F.col("cx_to").cast("long").alias("cx_to"),
        F.col("coverage").cast("long").alias("coverage"),
    )


@query(
    "geo_rect_union_length",
    # The ORACLE RASTERIZES (explode every covered cell, distinct,
    # islands trick for run counting) while the Spark side SWEEPS
    # (difference array -> segments) — two independent algorithms for
    # the same quantity, so a bug in either construction breaks the
    # hash. Rasterizing is fine for the oracle's toy scale and would
    # be the 100 TB anti-pattern the sweep exists to avoid.
    oracle="""
WITH r AS (
  SELECT c_custkey AS id,
         (c_custkey * 104729) % 80 AS cx0,
         (c_custkey * 7919) % 40 AS cy0,
         1 + (c_custkey * 13) % 8 AS w,
         1 + (c_custkey * 17) % 6 AS h
  FROM customer
),
cov AS (
  -- NB: two unnest() in ONE select zip in parallel in DuckDB; the
  -- cross product needs the two LATERALs.
  SELECT cy, cx, COUNT(*) AS c FROM (
    SELECT t1.cy, t2.cx, id FROM r,
           LATERAL (SELECT unnest(range(cy0, cy0 + h)) AS cy) t1,
           LATERAL (SELECT unnest(range(cx0, cx0 + w)) AS cx) t2
  ) GROUP BY cy, cx
),
runs AS (
  SELECT cy, cx, c,
         cx - DENSE_RANK() OVER (PARTITION BY cy ORDER BY cx) AS grp
  FROM cov
)
SELECT CAST(cy AS BIGINT) AS cy,
       CAST(COUNT(*) AS BIGINT) AS union_cells,
       CAST(COUNT(DISTINCT grp) AS BIGINT) AS n_segments,
       CAST(MAX(c) AS BIGINT) AS max_coverage
FROM runs GROUP BY cy
""",
    tags=("geo", "interval-sweep", "klee", "union-area"),
)
def geo_rect_union_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KLEE'S PROBLEM, per row: total UNION length covered by any
    rectangle, segment count, and peak overlap per grid row — the
    1-D slice of union-area-of-rectangles, the measure an ad-reach /
    sensor-coverage / geofence-dedup pipeline reports. Computed
    ENTIRELY from the difference-array sweep of
    geo_rect_cover_segments: covered segments are disjoint, so union
    length = SUM of segment widths and peak overlap = MAX coverage;
    maximal RUNS (Klee's segments — adjacent sweep pieces with
    different coverage belong to ONE contiguous run) are counted by
    the gaps-and-islands rule on the segment table itself (a run
    starts where the previous segment's cx_to != this cx_from) — one
    window + one tiny aggregate, no second pass over rectangles. The oracle
    computes the same three numbers by RASTERIZING (distinct covered
    cells + the islands trick for run counting) — an independent
    algorithm, so the hash pins sweep-vs-raster equivalence, not a
    mirrored construction.

    100 TB shape: everything downstream of the sweep is O(segments);
    Klee's full union AREA is one more sweep over cy with the same
    discipline. The rasterized oracle shape (explode every covered
    cell) is exactly what this operator exists to avoid at scale."""
    segs = geo_rect_cover_segments(spark, sf_dir)
    w = Window.partitionBy("cy").orderBy("cx_from")
    prev_end = F.lag("cx_to").over(w)
    run_start = F.when(
        prev_end.isNull() | (prev_end != F.col("cx_from")), 1
    ).otherwise(0)
    return (
        segs.withColumn("run_start", run_start)
        .groupBy(F.col("cy"))
        .agg(
            F.sum(F.col("cx_to") - F.col("cx_from")).cast("long")
            .alias("union_cells"),
            F.sum("run_start").cast("long").alias("n_segments"),
            F.max("coverage").cast("long").alias("max_coverage"),
        )
    )


# Octant classification shared VERBATIM by both engines (pure integer
# comparisons on dx/dy — no atan2, which would cross the transcendental
# exactness boundary). Octants 0..7 counter-clockwise from East;
# boundaries (|dx| == |dy|, axes) assigned deterministically by the
# CASE order. -1 = stationary.
_SQL_OCTANT = """CASE
  WHEN dx = 0 AND dy = 0 THEN -1
  WHEN dx > 0 AND dy >= 0 AND dx > dy THEN 0
  WHEN dy > 0 AND dx > 0 AND dy >= dx THEN 1
  WHEN dy > 0 AND dx <= 0 AND dy > -dx THEN 2
  WHEN dx < 0 AND dy > 0 AND -dx >= dy THEN 3
  WHEN dx < 0 AND dy <= 0 AND -dx > -dy THEN 4
  WHEN dy < 0 AND dx < 0 AND -dy >= -dx THEN 5
  WHEN dy < 0 AND dx >= 0 AND -dy > dx THEN 6
  ELSE 7 END"""


@query(
    "geo_direction_rose",
    oracle=f"""
WITH p AS (
  SELECT user_id, event_id,
         (event_id * 104729) % 36000 AS x,
         (event_id * 7919) % 18000 AS y
  FROM events
),
mv AS (
  SELECT user_id, x, y,
         LEAD(x) OVER (PARTITION BY user_id ORDER BY event_id) - x AS dx,
         LEAD(y) OVER (PARTITION BY user_id ORDER BY event_id) - y AS dy
  FROM p
),
oc AS (
  SELECT user_id, dx, dy, {_SQL_OCTANT} AS octant
  FROM mv WHERE dx IS NOT NULL
)
SELECT CAST(octant AS BIGINT) AS octant,
       CAST(COUNT(*) AS BIGINT) AS n_moves,
       CAST(SUM(ABS(dx) + ABS(dy)) AS BIGINT) AS manhattan_total,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM oc GROUP BY octant
""",
    tags=("geo", "trajectory", "direction-rose", "octant"),
)
def geo_direction_rose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOVEMENT DIRECTION ROSE — the bearing histogram every fleet /
    migration / footfall analysis plots, WITHOUT trigonometry: each
    consecutive per-user displacement is classified into one of 8
    octants by pure integer sign/magnitude comparisons (the shared
    CASE fragment runs verbatim in both engines; atan2 would cross
    the transcendental exactness boundary the geo family's header
    documents). Boundaries are deterministic by CASE order; octant
    -1 catches stationary pairs. Output: per-octant move count,
    total Manhattan displacement, distinct movers.

    Plan shape at 100 TB: one per-user window (the trajectory
    family's existing shuffle key — shared with geo_trajectory_stats,
    so a real pipeline computes both in one pass) + a map-side-
    combined 9-group aggregate. No joins, no explode."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id")
    p = ev.select(
        "user_id", "event_id",
        ((F.col("event_id") * 104729) % 36000).alias("x"),
        ((F.col("event_id") * 7919) % 18000).alias("y"),
    )
    w = Window.partitionBy("user_id").orderBy("event_id")
    mv = p.select(
        "user_id",
        (F.lead("x").over(w) - F.col("x")).alias("dx"),
        (F.lead("y").over(w) - F.col("y")).alias("dy"),
    ).filter(F.col("dx").isNotNull())
    oc = mv.select(
        "user_id", "dx", "dy", F.expr(_SQL_OCTANT).alias("octant")
    )
    return oc.groupBy(F.col("octant").cast("long").alias("octant")).agg(
        F.count(F.lit(1)).cast("long").alias("n_moves"),
        F.sum(F.abs(F.col("dx")) + F.abs(F.col("dy"))).cast("long")
        .alias("manhattan_total"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )


@query(
    "geo_grid_boxblur_density",
    oracle="""
WITH p AS (
  -- squared transform (the geo_quadtree_leaf_cells trick): the plain
  -- linear synthesis is a near-perfect lattice whose smoothed density
  -- never exceeds 6 -- no hotspot to find
  SELECT ((c_custkey * 104729) % 36000) * ((c_custkey * 104729) % 36000)
           // 36000 AS x,
         ((c_custkey * 7919) % 18000) * ((c_custkey * 7919) % 18000)
           // 18000 AS y
  FROM customer
),
cells AS (
  SELECT x // 400 AS cx, y // 400 AS cy, COUNT(*) AS n
  FROM p GROUP BY 1, 2
),
spread AS (
  SELECT cells.cx + o.dx AS cx, cells.cy + o.dy AS cy, n
  FROM cells CROSS JOIN (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),
                                (0,1),(1,-1),(1,0),(1,1)) AS o(dx, dy)
),
blur AS (
  SELECT cx, cy, SUM(n) AS density9 FROM spread GROUP BY cx, cy
)
SELECT CAST(b.cx AS BIGINT) AS cx, CAST(b.cy AS BIGINT) AS cy,
       CAST(b.density9 AS BIGINT) AS density9,
       CAST(COALESCE(c.n, 0) AS BIGINT) AS own_count
FROM blur b LEFT JOIN cells c ON b.cx = c.cx AND b.cy = c.cy
WHERE b.density9 >= 20
""",
    tags=("geo", "stencil", "density", "box-blur", "hotspot"),
)
def geo_grid_boxblur_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3x3 BOX-BLUR DENSITY over the point grid — the smoothing pass
    every heatmap/hotspot layer runs before thresholding, computed as
    STENCIL-AS-AGGREGATION: each non-empty cell EXPLODES its count
    into its 9 neighbor positions and one re-aggregation sums the
    contributions — no 9-way self-join, no dense raster, cost
    O(non-empty cells x 9) regardless of grid size. (geo_gi_star
    solves the statistical version of this with weights; this is the
    raw pipeline primitive it and every KDE-lite layer share.)
    Cells with smoothed density >= 20 are reported with their own
    raw count (LEFT join back to the sparse cell table: empty cells
    inside dense neighborhoods appear with own_count 0 — exactly the
    gap-filling a threshold layer needs).

    Plan shape at 100 TB: one point shuffle into cells, a 9x explode
    of the CELL table (tiny), one cell re-aggregation, one broadcast
    join back. Wider kernels grow the explode factor, never a join;
    separable kernels (two 1-D passes) cut even that at k > ~5."""
    cust = load_table(spark, sf_dir, "customer")
    u = (F.col("c_custkey") * 104729) % 36000
    v = (F.col("c_custkey") * 7919) % 18000
    p = cust.select(
        F.floor(u * u / F.lit(36000)).cast("long").alias("x"),
        F.floor(v * v / F.lit(18000)).cast("long").alias("y"),
    )
    cells = p.groupBy(
        F.expr("x DIV 400").alias("cx"), F.expr("y DIV 400").alias("cy")
    ).agg(F.count(F.lit(1)).alias("n"))
    offsets = F.explode(
        F.array(*[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1) for dy in (-1, 0, 1)
        ])
    )
    spread = cells.select("cx", "cy", "n", offsets.alias("o")).select(
        (F.col("cx") + F.col("o.dx")).alias("cx"),
        (F.col("cy") + F.col("o.dy")).alias("cy"),
        "n",
    )
    blur = spread.groupBy("cx", "cy").agg(F.sum("n").alias("density9"))
    own = cells.select(
        F.col("cx").alias("ocx"), F.col("cy").alias("ocy"),
        F.col("n").alias("own"),
    )
    return (
        blur.filter(F.col("density9") >= 20)
        .join(
            F.broadcast(own),
            (F.col("cx") == F.col("ocx")) & (F.col("cy") == F.col("ocy")),
            "left",
        )
        .select(
            F.col("cx").cast("long").alias("cx"),
            F.col("cy").cast("long").alias("cy"),
            F.col("density9").cast("long").alias("density9"),
            F.coalesce(F.col("own"), F.lit(0)).cast("long")
            .alias("own_count"),
        )
    )


# ---------------------------------------------------------------------------
# Round 13: polygon AREA overlay + exact shoelace + STR-packed R-tree.
# ---------------------------------------------------------------------------

# Axis-aligned rectangle synthesis (integer corners; area overlay has
# an exact closed form, so the full overlay — not just the hit test —
# crosses the oracle gate):
_SQL_RECT_A = """
SELECT s_suppkey AS id,
       (s_suppkey * s_suppkey * 11 + s_suppkey * 104729) % 34000 AS x0,
       (s_suppkey * s_suppkey * 17 + s_suppkey * 7919) % 16000 AS y0,
       200 + (s_suppkey * 13) % 1800 AS w,
       200 + (s_suppkey * 31) % 1300 AS h
FROM supplier
"""
_SQL_RECT_B = """
SELECT c_custkey AS id,
       (c_custkey * c_custkey * 7 + c_custkey * 104729) % 34000 AS x0,
       (c_custkey * c_custkey * 13 + c_custkey * 7919) % 16000 AS y0,
       200 + (c_custkey * 17) % 1800 AS w,
       200 + (c_custkey * 37) % 1300 AS h
FROM customer
"""


@query(
    "geo_rect_overlap_area_join",
    oracle=f"""
WITH ra AS (
  SELECT id AS a_id, x0 AS a_x0, y0 AS a_y0,
         x0 + w AS a_x1, y0 + h AS a_y1
  FROM ({_SQL_RECT_A})
),
rb AS (
  SELECT id AS b_id, x0 AS b_x0, y0 AS b_y0,
         x0 + w AS b_x1, y0 + h AS b_y1
  FROM ({_SQL_RECT_B})
),
cand AS (
  SELECT *,
         LEAST(a_x1, b_x1) - GREATEST(a_x0, b_x0) AS ox,
         LEAST(a_y1, b_y1) - GREATEST(a_y0, b_y0) AS oy
  FROM ra JOIN rb
    ON a_x0 <= b_x1 AND b_x0 <= a_x1
   AND a_y0 <= b_y1 AND b_y0 <= a_y1
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates,
       CAST(COALESCE(SUM(CASE WHEN ox > 0 AND oy > 0 THEN 1 ELSE 0 END),
                     0) AS BIGINT) AS n_overlaps,
       CAST(COALESCE(SUM(CASE WHEN ox > 0 AND oy > 0 THEN ox * oy
                          ELSE 0 END), 0) AS BIGINT) AS total_area,
       CAST(COALESCE(SUM(CASE WHEN ox > 0 AND oy > 0
                          THEN ox * oy * (a_id + b_id)
                          ELSE 0 END), 0) AS BIGINT) AS area_checksum
FROM cand
""",
    tags=("geo", "spatial-join", "area-overlay", "pbsm",
          "reference-point-dedup"),
)
def geo_rect_overlap_area_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POLYGON AREA OVERLAY (VERDICT r12 item 4) — the step past
    geo_triangle_overlap_join's boolean hit test: compute the actual
    INTERSECTION AREA of every overlapping pair and integrate. On
    axis-aligned rectangles the clip is exact integer arithmetic
    (ox = min(x1)-max(x0), oy likewise, area = ox*oy when both
    positive), so the FULL overlay — pair detection AND measure —
    crosses the oracle gate bitwise; general convex clipping
    (Sutherland-Hodgman + shoelace) swaps in as the refinement
    expression on the same candidate stream, with rational vertices
    pinned by unit tests rather than the SQL oracle.

    Same PBSM discipline as the triangle join: both rect sets
    replicate into <= 2x2 grid cells, ONE equi-join on the cell key,
    and each bbox-overlapping pair is counted exactly once in the
    canonical cell holding the min corner of the overlap region
    (reference-point dedup, no distinct). Touching rects (zero-area
    overlap) stay candidates but contribute no area — the boundary
    the strict ox/oy > 0 test pins.

    Plan shape at 100 TB: two scans -> <= 4x explode -> ONE cell-key
    shuffle -> hash join -> 1-row agg; replication bounded by
    extent/cell ratio, skewed cells salt like the dedup band join."""
    sup = load_table(spark, sf_dir, "supplier")
    cust = load_table(spark, sf_dir, "customer")

    def rects(df, key, m1, m2, e1, e2):
        k = F.col(key)
        x0 = (k * k * m1 + k * 104729) % 34000
        y0 = (k * k * m2 + k * 7919) % 16000
        return df.select(
            k.alias("id"),
            x0.alias("x0"), y0.alias("y0"),
            (x0 + 200 + (k * e1) % 1800).alias("x1"),
            (y0 + 200 + (k * e2) % 1300).alias("y1"),
        )

    ra = rects(sup, "s_suppkey", 11, 17, 13, 31)
    rb = rects(cust, "c_custkey", 7, 13, 17, 37)

    cells = F.expr(
        f"explode(flatten(transform("
        f"  sequence(x0 div {_TRI_CELL}, x1 div {_TRI_CELL}),"
        f"  gx -> transform("
        f"    sequence(y0 div {_TRI_CELL}, y1 div {_TRI_CELL}),"
        f"    gy -> struct(gx as gcx, gy as gcy)))))"
    )

    def replicate(t, prefix):
        return t.select("*", cells.alias("c")).select(
            *[F.col(c).alias(f"{prefix}_{c}")
              for c in ("id", "x0", "y0", "x1", "y1")],
            F.col("c.gcx").alias("gcx"), F.col("c.gcy").alias("gcy"),
        )

    cand = replicate(ra, "a").join(replicate(rb, "b"), ["gcx", "gcy"]).filter(
        (F.col("a_x0") <= F.col("b_x1")) & (F.col("b_x0") <= F.col("a_x1"))
        & (F.col("a_y0") <= F.col("b_y1")) & (F.col("b_y0") <= F.col("a_y1"))
        & (F.col("gcx") == F.floor(
            F.greatest("a_x0", "b_x0") / _TRI_CELL).cast("long"))
        & (F.col("gcy") == F.floor(
            F.greatest("a_y0", "b_y0") / _TRI_CELL).cast("long"))
    ).select(
        (F.least("a_x1", "b_x1") - F.greatest("a_x0", "b_x0")).alias("ox"),
        (F.least("a_y1", "b_y1") - F.greatest("a_y0", "b_y0")).alias("oy"),
        "a_id", "b_id",
    )
    pos = (F.col("ox") > 0) & (F.col("oy") > 0)
    area = F.col("ox") * F.col("oy")
    return cand.agg(
        F.count(F.lit(1)).cast("long").alias("n_candidates"),
        F.coalesce(F.sum(F.when(pos, 1).otherwise(0)), F.lit(0))
        .cast("long").alias("n_overlaps"),
        F.coalesce(F.sum(F.when(pos, area).otherwise(0)), F.lit(0))
        .cast("long").alias("total_area"),
        F.coalesce(
            F.sum(F.when(pos, area * (F.col("a_id") + F.col("b_id")))
                  .otherwise(0)),
            F.lit(0),
        ).cast("long").alias("area_checksum"),
    )


@query(
    "geo_polygon_shoelace_stats",
    oracle="""
WITH dims AS (
  SELECT c_custkey AS id, 3 + c_custkey % 4 AS m FROM customer
),
idx AS (SELECT id, m, unnest(range(m)) AS i FROM dims),
verts AS (
  SELECT id, 2 * m AS n, i AS pos, i AS x,
         60 + (id * 13 + i * 17) % 50 AS y
  FROM idx
  UNION ALL
  SELECT id, 2 * m AS n, 2 * m - 1 - i AS pos, i AS x,
         (id * 11 + i * 7) % 50 AS y
  FROM idx
),
ring AS (
  SELECT v1.id, v1.n, v1.x AS xa, v1.y AS ya, v2.x AS xb, v2.y AS yb
  FROM verts v1 JOIN verts v2
    ON v1.id = v2.id AND v2.pos = (v1.pos + 1) % v1.n
)
SELECT id, CAST(MAX(n) AS BIGINT) AS n_vertices,
       CAST(SUM(xa * yb - xb * ya) AS BIGINT) AS twice_area,
       CAST(SUM(ABS(xb - xa) + ABS(yb - ya)) AS BIGINT) AS perim_l1,
       CAST(SUM((xa + xb) * (xa * yb - xb * ya)) AS BIGINT)
         AS centroid_num_x
FROM ring GROUP BY id
""",
    tags=("geo", "polygon", "shoelace", "higher-order-functions"),
)
def geo_polygon_shoelace_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT POLYGON MEASURE via the generic shoelace formula over a
    vertex ring held as an ARRAY COLUMN — the representation real
    polygon tables use — evaluated entirely with JVM-side
    higher-order functions (sequence/transform/concat/reverse/
    aggregate): signed doubled area, L1 perimeter, and the x-centroid
    integral numerator sum((x_i+x_{i+1})·cross_i) (centroid =
    num/(6·A), kept integral for the exactness gate). No UDF, no
    explode: the per-polygon fold never leaves whole-stage codegen.

    Polygons are synthesized x-monotone ribbons (top chain (i, f(i))
    left-to-right, bottom chain (i, g(i)) back; f > g by construction
    so they're simple; traversal is clockwise so twice_area < 0 —
    signedness is part of the contract). The oracle builds the SAME
    ring as a position-indexed vertex relation and folds it with a
    next-vertex self-join — two independent constructions of the ring
    must agree bitwise.

    Plan shape at 100 TB: one scan, one codegen projection, zero
    shuffles; per-row cost is O(n_vertices). Real WKT-ish vertex
    arrays slot into the same aggregate expression unchanged."""
    cust = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    df = cust.select(
        k.alias("id"),
        (F.lit(3) + k % 4).alias("m"),
    ).select(
        "id",
        F.expr(
            "concat(sequence(0L, m - 1),"
            " reverse(sequence(0L, m - 1)))"
        ).alias("xs"),
        F.expr(
            "concat("
            " transform(sequence(0L, m - 1),"
            "   i -> 60 + (id * 13 + i * 17) % 50),"
            " reverse(transform(sequence(0L, m - 1),"
            "   i -> (id * 11 + i * 7) % 50)))"
        ).alias("ys"),
    )
    return df.select(
        "id",
        F.expr("size(xs)").cast("long").alias("n_vertices"),
        F.expr(
            "aggregate(sequence(0, size(xs) - 1), 0L, (acc, i) ->"
            " acc + xs[i] * ys[(i + 1) % size(xs)]"
            "     - xs[(i + 1) % size(xs)] * ys[i])"
        ).alias("twice_area"),
        F.expr(
            "aggregate(sequence(0, size(xs) - 1), 0L, (acc, i) ->"
            " acc + abs(xs[(i + 1) % size(xs)] - xs[i])"
            "     + abs(ys[(i + 1) % size(xs)] - ys[i]))"
        ).alias("perim_l1"),
        F.expr(
            "aggregate(sequence(0, size(xs) - 1), 0L, (acc, i) ->"
            " acc + (xs[i] + xs[(i + 1) % size(xs)])"
            "     * (xs[i] * ys[(i + 1) % size(xs)]"
            "        - xs[(i + 1) % size(xs)] * ys[i]))"
        ).alias("centroid_num_x"),
    )


# STR-packed R-tree (Leutenegger et al. '97 "STR: A Simple and
# Efficient Algorithm for R-Tree Packing"): sort by x-center into S
# vertical slices, sort each slice by y-center, cut into leaves of
# capacity B. Fully deterministic given a total order, so the whole
# index BUILD is oracle-checkable as a relation.
_STR_SLICES = 8
_STR_LEAF_CAP = 16
_STR_BAND = 12500  # x-band width for the distributed global rank

_SQL_STR_RECTS = """
SELECT p_partkey AS id,
       (p_partkey * 7919) % 100000 AS cx,
       (p_partkey * 104729) % 100000 AS cy,
       50 + p_partkey % 450 AS wx,
       50 + (p_partkey * 3) % 450 AS wy
FROM part
"""

_SQL_STR_LEAF_ASSIGN = f"""
WITH r AS ({_SQL_STR_RECTS}),
x AS (
  SELECT *, row_number() OVER (ORDER BY cx, id) - 1 AS xr,
         COUNT(*) OVER () AS n
  FROM r
),
s AS (
  SELECT *, xr // ((n + {_STR_SLICES - 1}) // {_STR_SLICES}) AS slice
  FROM x
),
y AS (
  SELECT *, (row_number() OVER (PARTITION BY slice ORDER BY cy, id) - 1)
            // {_STR_LEAF_CAP} AS leaf_idx
  FROM s
)
SELECT id, cx, cy, wx, wy, slice, leaf_idx FROM y
"""

_SQL_STR_QUERY_BOXES = """
SELECT n_nationkey AS qid,
       (n_nationkey * 13177) % 90000 AS qx0,
       (n_nationkey * 29101) % 90000 AS qy0
FROM nation
"""


def _str_rect_leaves(
    spark: SparkSession,
    sf_dir: str,
    n_slices: int = _STR_SLICES,
    leaf_cap: int = _STR_LEAF_CAP,
    band_width: int = _STR_BAND,
) -> DataFrame:
    """Shared STR leaf assignment, distributed-rank flavor: the global
    (cx, id) rank is band-partitioned row_number + broadcast
    cumulative band offsets (band = cx div band_width is monotone in
    cx, so band-major order IS the global order) — no
    single-partition window anywhere. The slice cut needs total N; it
    rides the same O(bands)-row offsets table as a broadcast scalar
    attach.

    SIZING RULE (measured in round 13): the defaults (8 slices,
    12500-unit bands) fit the small oracle fixtures; at scale BOTH
    must follow STR's own rule S = ceil(sqrt(N/B)) with band_width ~
    extent/(4S), or the per-slice/per-band rank windows degenerate
    into a handful of multi-million-row partitions — a 30x synthetic
    rectangle set measured 71x wall with fixed counts vs
    at-worst-linear after scaling them."""
    part = load_table(spark, sf_dir, "part")
    k = F.col("p_partkey")
    r = part.select(
        k.alias("id"),
        ((k * 7919) % 100000).alias("cx"),
        ((k * 104729) % 100000).alias("cy"),
        (F.lit(50) + k % 450).alias("wx"),
        (F.lit(50) + (k * 3) % 450).alias("wy"),
    ).withColumn("band", (F.col("cx") / band_width).cast("long"))

    offs = (
        r.groupBy("band").agg(F.count(F.lit(1)).alias("bc"))
        .select(
            "band",
            (F.sum("bc").over(
                Window.orderBy("band")
                .rowsBetween(Window.unboundedPreceding, -1)
            )).alias("off"),
            F.sum("bc").over(
                Window.orderBy("band").rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ).alias("n"),
        )
        .fillna({"off": 0})
    )
    slice_sz = (F.col("n") + n_slices - 1) / F.lit(n_slices)
    xr = (
        F.row_number().over(
            Window.partitionBy("band").orderBy("cx", "id")
        ) - 1 + F.col("off")
    )
    ranked = r.join(F.broadcast(offs), "band").select(
        "id", "cx", "cy", "wx", "wy",
        F.floor(xr / slice_sz.cast("long")).alias("slice"),
    )
    yr = F.row_number().over(
        Window.partitionBy("slice").orderBy("cy", "id")
    ) - 1
    return ranked.select(
        "id", "cx", "cy", "wx", "wy", "slice",
        F.floor(yr / leaf_cap).alias("leaf_idx"),
    )


@query(
    "geo_str_rtree_pack",
    oracle=f"""
WITH a AS ({_SQL_STR_LEAF_ASSIGN})
SELECT CAST(slice AS BIGINT) AS slice,
       CAST(leaf_idx AS BIGINT) AS leaf_idx,
       CAST(COUNT(*) AS BIGINT) AS n_rects,
       CAST(MIN(cx - wx) AS BIGINT) AS mbr_x0,
       CAST(MIN(cy - wy) AS BIGINT) AS mbr_y0,
       CAST(MAX(cx + wx) AS BIGINT) AS mbr_x1,
       CAST(MAX(cy + wy) AS BIGINT) AS mbr_y1,
       CAST(SUM(id) AS BIGINT) AS id_checksum
FROM a GROUP BY slice, leaf_idx
""",
    tags=("geo", "rtree", "str-packing", "index-build",
          "distributed-rank"),
)
def geo_str_rtree_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R-TREE BULK LOAD via STR packing (Leutenegger '97; VERDICT r12
    item 4's packed-bbox-index ask) — the spatial analogue of the
    lakehouse manifest: sort rectangles by x-center into
    {_STR_SLICES} vertical slices, sort each slice by y-center, cut
    runs of {_STR_LEAF_CAP} into leaf pages, emit each leaf's MBR +
    membership checksum. The ENTIRE build is relational — two sort
    ranks and a grouped aggregate — so the index itself (not a proxy)
    crosses the oracle gate; DuckDB constructs it with plain global
    window functions while the Spark plan uses the scale shape: a
    band-partitioned row_number plus broadcast cumulative band
    offsets reproduces the global (cx, id) rank with NO
    single-partition window (band = cx div {_STR_BAND} is monotone in
    cx), and total-N for the slice cut rides the same 8-row broadcast.

    Plan shape at 100 TB: one scan -> 8-row band-count agg
    (broadcast) -> per-band window -> per-slice window -> grouped MBR
    agg; two bounded shuffles (band, slice), no all-pairs, no driver
    data. Query-side pruning over the packed leaves is
    geo_str_rtree_query."""
    return _str_rect_leaves(spark, sf_dir).groupBy("slice", "leaf_idx").agg(
        F.count(F.lit(1)).cast("long").alias("n_rects"),
        F.min(F.col("cx") - F.col("wx")).cast("long").alias("mbr_x0"),
        F.min(F.col("cy") - F.col("wy")).cast("long").alias("mbr_y0"),
        F.max(F.col("cx") + F.col("wx")).cast("long").alias("mbr_x1"),
        F.max(F.col("cy") + F.col("wy")).cast("long").alias("mbr_y1"),
        F.sum("id").cast("long").alias("id_checksum"),
    ).select(
        F.col("slice").cast("long"), F.col("leaf_idx").cast("long"),
        "n_rects", "mbr_x0", "mbr_y0", "mbr_x1", "mbr_y1", "id_checksum",
    )


@query(
    "geo_str_rtree_query",
    oracle=f"""
WITH a AS ({_SQL_STR_LEAF_ASSIGN}),
leaves AS (
  SELECT slice, leaf_idx,
         COUNT(*) AS n_rects,
         MIN(cx - wx) AS mbr_x0, MIN(cy - wy) AS mbr_y0,
         MAX(cx + wx) AS mbr_x1, MAX(cy + wy) AS mbr_y1
  FROM a GROUP BY slice, leaf_idx
),
q AS (
  SELECT qid, qx0, qy0, qx0 + 4000 + (qid * 7321) % 8000 AS qx1,
         qy0 + 4000 + (qid * 11213) % 8000 AS qy1
  FROM ({_SQL_STR_QUERY_BOXES})
),
visited AS (
  SELECT q.qid, l.slice, l.leaf_idx, l.n_rects, q.qx0, q.qy0, q.qx1, q.qy1
  FROM q JOIN leaves l
    ON l.mbr_x0 <= q.qx1 AND q.qx0 <= l.mbr_x1
   AND l.mbr_y0 <= q.qy1 AND q.qy0 <= l.mbr_y1
),
hits AS (
  SELECT v.qid, r.id
  FROM visited v JOIN a r
    ON r.slice = v.slice AND r.leaf_idx = v.leaf_idx
   AND r.cx - r.wx <= v.qx1 AND v.qx0 <= r.cx + r.wx
   AND r.cy - r.wy <= v.qy1 AND v.qy0 <= r.cy + r.wy
)
SELECT q.qid,
       CAST(COALESCE(v.nl, 0) AS BIGINT) AS n_leaves_visited,
       CAST(COALESCE(v.nc, 0) AS BIGINT) AS n_rects_candidate,
       CAST(COALESCE(h.nh, 0) AS BIGINT) AS n_true_hits,
       CAST(COALESCE(h.cs, 0) AS BIGINT) AS hit_checksum
FROM q
LEFT JOIN (SELECT qid, COUNT(*) AS nl, SUM(n_rects) AS nc
           FROM visited GROUP BY qid) v ON q.qid = v.qid
LEFT JOIN (SELECT qid, COUNT(*) AS nh, SUM(id) AS cs
           FROM hits GROUP BY qid) h ON q.qid = h.qid
""",
    tags=("geo", "rtree", "index-probe", "pruning", "broadcast"),
)
def geo_str_rtree_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INDEX-SCAN SEMANTICS over the STR-packed leaves: each query box
    visits only leaves whose MBR intersects it (n_leaves_visited /
    n_rects_candidate expose the pruning ratio — the quantity an
    index exists for), then refines candidates with the exact rect
    test (n_true_hits + id checksum prove candidates ⊇ hits and the
    refinement agrees with the oracle's independently-built index).
    Zero-visit queries survive via LEFT joins — the empty-result edge
    every index scan has.

    Plan shape at 100 TB: index nodes are ~N/{_STR_LEAF_CAP} rows —
    tiny relative to data — so query-boxes x leaves is a BROADCAST
    bbox join; the candidate fetch is an equi-join on the
    (slice, leaf_idx) page key, i.e. the index points the shuffle at
    pages instead of scanning the corpus. The leaf table would be a
    written artifact in production; building it inline keeps the
    query self-contained."""
    rects = _str_rect_leaves(spark, sf_dir)
    leaves = rects.groupBy("slice", "leaf_idx").agg(
        F.count(F.lit(1)).alias("n_rects"),
        F.min(F.col("cx") - F.col("wx")).alias("mbr_x0"),
        F.min(F.col("cy") - F.col("wy")).alias("mbr_y0"),
        F.max(F.col("cx") + F.col("wx")).alias("mbr_x1"),
        F.max(F.col("cy") + F.col("wy")).alias("mbr_y1"),
    )
    nation = load_table(spark, sf_dir, "nation")
    nk = F.col("n_nationkey")
    qx0 = (nk * 13177) % 90000
    qy0 = (nk * 29101) % 90000
    q = nation.select(
        nk.alias("qid"),
        qx0.alias("qx0"), qy0.alias("qy0"),
        (qx0 + 4000 + (nk * 7321) % 8000).alias("qx1"),
        (qy0 + 4000 + (nk * 11213) % 8000).alias("qy1"),
    )
    visited = q.join(
        F.broadcast(leaves),
        (F.col("mbr_x0") <= F.col("qx1")) & (F.col("qx0") <= F.col("mbr_x1"))
        & (F.col("mbr_y0") <= F.col("qy1"))
        & (F.col("qy0") <= F.col("mbr_y1")),
    )
    vis_agg = visited.groupBy("qid").agg(
        F.count(F.lit(1)).alias("nl"), F.sum("n_rects").alias("nc")
    )
    hits = visited.select(
        "qid", "slice", "leaf_idx", "qx0", "qy0", "qx1", "qy1"
    ).join(rects, ["slice", "leaf_idx"]).filter(
        (F.col("cx") - F.col("wx") <= F.col("qx1"))
        & (F.col("qx0") <= F.col("cx") + F.col("wx"))
        & (F.col("cy") - F.col("wy") <= F.col("qy1"))
        & (F.col("qy0") <= F.col("cy") + F.col("wy"))
    )
    hit_agg = hits.groupBy("qid").agg(
        F.count(F.lit(1)).alias("nh"), F.sum("id").alias("cs")
    )
    return q.select("qid").join(vis_agg, "qid", "left").join(
        hit_agg, "qid", "left"
    ).select(
        "qid",
        F.coalesce("nl", F.lit(0)).cast("long").alias("n_leaves_visited"),
        F.coalesce("nc", F.lit(0)).cast("long").alias("n_rects_candidate"),
        F.coalesce("nh", F.lit(0)).cast("long").alias("n_true_hits"),
        F.coalesce("cs", F.lit(0)).cast("long").alias("hit_checksum"),
    )


_CP_CELL = 12500  # closest-pair cell: 8x8 grid over the 100k extent


@query(
    "geo_closest_pair_blocked",
    oracle=f"""
WITH p AS (
  SELECT c_custkey AS id,
         (c_custkey * 7919) % 100000 AS x,
         (c_custkey * 104729) % 100000 AS y
  FROM customer
),
c AS (
  SELECT id, x, y, x // {_CP_CELL} AS cx, y // {_CP_CELL} AS cy FROM p
),
cand AS (
  SELECT a.id AS id_a, b.id AS id_b,
         (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS dist2
  FROM c a JOIN c b
    ON a.id < b.id
   AND abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
)
SELECT id_a, id_b, CAST(dist2 AS BIGINT) AS dist2
FROM cand
ORDER BY dist2, id_a, id_b
LIMIT 1
""",
    tags=("geo", "closest-pair", "grid-blocking",
          "reference-point-dedup"),
)
def geo_closest_pair_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLOSEST PAIR via grid blocking — the minimal spatial-join
    reduction (collision detection, dedup-by-location, sensor
    cross-validation all bottom out here): candidate pairs are
    points in the same or 8-adjacent cells, globally reduced to the
    single minimum-distance pair with full (dist², id, id) tiebreak.
    Same candidate semantics as geo_grid_knn_join, and the oracle
    applies the IDENTICAL blocking, so the contract — candidates,
    dedup, reduction — is pinned end to end in integers. (Exactness
    beyond the blocking radius follows the pigeonhole argument: with
    n ≫ 64 cells some cell holds ≥ 2 points, so the true minimum is
    far below the {_CP_CELL}-unit cell side; a distance-vs-cell-size
    runtime audit is the production guard.)

    Plan shape at 100 TB: the left side explodes into its 3x3 cell
    neighborhood, then ONE equi-join shuffle on the cell key gives
    each unordered pair exactly once (the id < id guard drops the
    mirror); the final reduce is a 1-row TakeOrdered heap, no global
    sort."""
    cust = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    pts = cust.select(
        k.alias("id"),
        ((k * 7919) % 100000).alias("x"),
        ((k * 104729) % 100000).alias("y"),
    ).select(
        "*",
        (F.col("x") / _CP_CELL).cast("long").alias("cx"),
        (F.col("y") / _CP_CELL).cast("long").alias("cy"),
    )
    # Left side replicates into its 3x3 neighborhood; equi-join on the
    # cell key then gives exactly the same-or-adjacent candidate set.
    probe = pts.select(
        F.col("id").alias("id_a"), F.col("x").alias("xa"),
        F.col("y").alias("ya"),
        F.explode(
            F.expr(
                "flatten(transform(sequence(cx - 1, cx + 1), gx ->"
                " transform(sequence(cy - 1, cy + 1), gy ->"
                " struct(gx as gcx, gy as gcy))))"
            )
        ).alias("c"),
    ).select("id_a", "xa", "ya",
             F.col("c.gcx").alias("cx"), F.col("c.gcy").alias("cy"))
    build = pts.select(
        F.col("id").alias("id_b"), F.col("x").alias("xb"),
        F.col("y").alias("yb"), "cx", "cy",
    )
    cand = probe.join(build, ["cx", "cy"]).filter(
        F.col("id_a") < F.col("id_b")
    )
    dist2 = (
        (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb"))
        + (F.col("ya") - F.col("yb")) * (F.col("ya") - F.col("yb"))
    )
    return (
        cand.select("id_a", "id_b", dist2.cast("long").alias("dist2"))
        .orderBy("dist2", "id_a", "id_b")
        .limit(1)
    )


_STR_FANOUT = 8  # leaves per level-1 internal node


@query(
    "geo_str_rtree_levels",
    oracle=f"""
WITH a AS ({_SQL_STR_LEAF_ASSIGN}),
leaves AS (
  SELECT slice, leaf_idx,
         COUNT(*) AS n_rects, SUM(id) AS id_sum,
         MIN(cx - wx) AS x0, MIN(cy - wy) AS y0,
         MAX(cx + wx) AS x1, MAX(cy + wy) AS y1
  FROM a GROUP BY slice, leaf_idx
)
SELECT CAST(slice AS BIGINT) AS slice,
       CAST(leaf_idx // {_STR_FANOUT} AS BIGINT) AS node_idx,
       CAST(COUNT(*) AS BIGINT) AS n_leaves,
       CAST(SUM(n_rects) AS BIGINT) AS n_rects,
       CAST(MIN(x0) AS BIGINT) AS mbr_x0,
       CAST(MIN(y0) AS BIGINT) AS mbr_y0,
       CAST(MAX(x1) AS BIGINT) AS mbr_x1,
       CAST(MAX(y1) AS BIGINT) AS mbr_y1,
       CAST(SUM(leaf_idx) AS BIGINT) AS leaf_checksum,
       CAST(SUM(id_sum) AS BIGINT) AS id_checksum
FROM leaves
GROUP BY slice, leaf_idx // {_STR_FANOUT}
""",
    tags=("geo", "rtree", "str-packing", "index-build", "hierarchy"),
)
def geo_str_rtree_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SECOND R-TREE LEVEL — STR applied one level up (the recursion
    that terminates in a root): every {_STR_FANOUT} consecutive
    leaves WITHIN a slice roll into a level-1 internal node whose MBR
    unions its children's. Because STR leaves are already laid out in
    the packing order (x-major by slice, y-major within), consecution
    IS the locality ordering — no re-sort, the rollup is a plain
    grouped aggregate keyed (slice, leaf_idx div fanout), exactly the
    cells-not-points discipline of geo_geohash_prefix_agg. A probe
    descends root -> internal MBRs -> leaf MBRs -> pages, pruning at
    each level (the leaf-level probe is geo_str_rtree_query).

    Plan shape at 100 TB: the leaf table is corpus/{_STR_LEAF_CAP}
    rows and each further level shrinks by {_STR_FANOUT}x, so the
    whole upper tree costs a vanishing fraction of the leaf build;
    the node key is derived arithmetic — no window, no global sort,
    one bounded shuffle per level."""
    leaves = _str_rect_leaves(spark, sf_dir).groupBy(
        "slice", "leaf_idx"
    ).agg(
        F.count(F.lit(1)).alias("n_rects"),
        F.sum("id").alias("id_sum"),
        F.min(F.col("cx") - F.col("wx")).alias("x0"),
        F.min(F.col("cy") - F.col("wy")).alias("y0"),
        F.max(F.col("cx") + F.col("wx")).alias("x1"),
        F.max(F.col("cy") + F.col("wy")).alias("y1"),
    )
    return leaves.groupBy(
        "slice",
        F.floor(F.col("leaf_idx") / _STR_FANOUT).alias("node_idx"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_leaves"),
        F.sum("n_rects").cast("long").alias("n_rects"),
        F.min("x0").cast("long").alias("mbr_x0"),
        F.min("y0").cast("long").alias("mbr_y0"),
        F.max("x1").cast("long").alias("mbr_x1"),
        F.max("y1").cast("long").alias("mbr_y1"),
        F.sum("leaf_idx").cast("long").alias("leaf_checksum"),
        F.sum("id_sum").cast("long").alias("id_checksum"),
    ).select(
        F.col("slice").cast("long"), F.col("node_idx").cast("long"),
        "n_leaves", "n_rects", "mbr_x0", "mbr_y0", "mbr_x1", "mbr_y1",
        "leaf_checksum", "id_checksum",
    )


# ---------------------------------------------------------------------------
# R-tree-assisted nearest-neighbor snap + trajectory map-matching
# (round-14, VERDICT r13 item 5: probe the STR skeleton for argmin,
# not just range hits)
# ---------------------------------------------------------------------------

_RT_SNAP_R = 1000  # Chebyshev radius: sized so sf0.01 has BOTH hits and misses
_RT_MM_R = 2000    # tighter radius for map-matching (some pings miss)


def _rtree_nn_candidates(
    points: DataFrame, rects: DataFrame, radius: int
) -> DataFrame:
    """Candidate (point x rect) pairs within Chebyshev ``radius`` of
    each other's CENTERS, found through the STR leaf skeleton: probe
    leaves whose center-MBR intersects the point's expanded box, then
    fetch only those pages. EXACT pruning: every rect center lies
    inside its leaf's center-MBR, so a center within the point's box
    forces that leaf's MBR to intersect the box — no true candidate
    is pruned. Emits dist2 (squared Euclidean center distance,
    integer-exact in int64)."""
    leaves = rects.groupBy("slice", "leaf_idx").agg(
        F.min("cx").alias("cx0"), F.max("cx").alias("cx1"),
        F.min("cy").alias("cy0"), F.max("cy").alias("cy1"),
    )
    return (
        points.join(
            F.broadcast(leaves),
            (F.col("cx0") <= F.col("px") + radius)
            & (F.col("px") - radius <= F.col("cx1"))
            & (F.col("cy0") <= F.col("py") + radius)
            & (F.col("py") - radius <= F.col("cy1")),
        )
        .join(
            F.broadcast(
                rects.select("slice", "leaf_idx", "id", "cx", "cy")
            ),
            ["slice", "leaf_idx"],
        )
        .filter(
            (F.abs(F.col("cx") - F.col("px")) <= radius)
            & (F.abs(F.col("cy") - F.col("py")) <= radius)
        )
        .withColumn(
            "dist2",
            (
                (F.col("cx") - F.col("px")) * (F.col("cx") - F.col("px"))
                + (F.col("cy") - F.col("py")) * (F.col("cy") - F.col("py"))
            ).cast("long"),
        )
    )


_SQL_RT_CAND = """
leaves AS (
  SELECT slice, leaf_idx, MIN(cx) AS cx0, MAX(cx) AS cx1,
         MIN(cy) AS cy0, MAX(cy) AS cy1
  FROM a GROUP BY slice, leaf_idx
),
cand AS (
  SELECT p.*, r.id,
         (r.cx - p.px) * (r.cx - p.px)
         + (r.cy - p.py) * (r.cy - p.py) AS dist2
  FROM p
  JOIN leaves l
    ON l.cx0 <= p.px + {R} AND p.px - {R} <= l.cx1
   AND l.cy0 <= p.py + {R} AND p.py - {R} <= l.cy1
  JOIN a r
    ON r.slice = l.slice AND r.leaf_idx = l.leaf_idx
   AND abs(r.cx - p.px) <= {R} AND abs(r.cy - p.py) <= {R}
)
"""


@query(
    "geo_rtree_nearest_rect_snap",
    oracle=f"""
WITH a AS ({_SQL_STR_LEAF_ASSIGN}),
p AS (
  SELECT s_suppkey AS pid,
         (s_suppkey * 48611) % 100000 AS px,
         (s_suppkey * 80621) % 100000 AS py
  FROM supplier
),
{_SQL_RT_CAND.format(R=_RT_SNAP_R).strip()},
best AS (
  SELECT pid, id, dist2,
         COUNT(*) OVER (PARTITION BY pid) AS n_cand,
         row_number() OVER (PARTITION BY pid ORDER BY dist2, id) AS rn
  FROM cand
)
SELECT p.pid,
       CAST(COALESCE(b.id, -1) AS BIGINT) AS nearest_id,
       CAST(COALESCE(b.dist2, -1) AS BIGINT) AS dist2,
       CAST(COALESCE(b.n_cand, 0) AS BIGINT) AS n_candidates
FROM p LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON p.pid = b.pid
""",
    tags=("geo", "rtree", "nearest-neighbor", "index-probe", "argmin"),
)
def geo_rtree_nearest_rect_snap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-RECT SNAP through the STR R-tree skeleton — the argmin
    probe a range query can't express: each point finds its nearest
    rectangle CENTER (squared-Euclidean, integer-exact) among
    candidates within Chebyshev radius {_RT_SNAP_R}, visiting only
    leaf pages whose center-MBR intersects the point's expanded box.
    The pruning is EXACT (a center inside the point's box forces its
    leaf MBR to intersect the box — see _rtree_nn_candidates), so the
    index probe returns the same nearest as a full scan restricted to
    the radius; points with NO rect in radius survive as misses
    (nearest_id = -1) via the LEFT join.

    Plan shape at 100 TB: the leaf directory is O(N/leaf_cap) and the
    rect pages O(N) but index-small vs the point corpus, so both ride
    BROADCAST joins; the argmin is a map-side-combinable
    min(struct(dist2, id)) groupBy — ONE shuffle on the point key, no
    window over data, no all-pairs (PLANS.md: no CartesianProduct).
    Tiebreak is (dist2, id) lexicographic in both engines."""
    rects = _str_rect_leaves(spark, sf_dir)
    sk = F.col("s_suppkey")
    p = load_table(spark, sf_dir, "supplier").select(
        sk.alias("pid"),
        ((sk * 48611) % 100000).alias("px"),
        ((sk * 80621) % 100000).alias("py"),
    )
    cand = _rtree_nn_candidates(p, rects, _RT_SNAP_R)
    best = cand.groupBy("pid").agg(
        F.min(
            F.struct(F.col("dist2").alias("d"), F.col("id").alias("i"))
        ).alias("b"),
        F.count(F.lit(1)).alias("n_cand"),
    )
    return p.join(best, "pid", "left").select(
        "pid",
        F.coalesce(F.col("b.i"), F.lit(-1)).cast("long").alias("nearest_id"),
        F.coalesce(F.col("b.d"), F.lit(-1)).cast("long").alias("dist2"),
        F.coalesce(F.col("n_cand"), F.lit(0)).cast("long")
        .alias("n_candidates"),
    )


@query(
    "geo_trajectory_rtree_matching",
    oracle=f"""
WITH a AS ({_SQL_STR_LEAF_ASSIGN}),
p AS (
  SELECT user_id, ts, event_id,
         (user_id * 104729 + event_id * 7919) % 100000 AS px,
         (user_id * 7919 + event_id * 104729) % 100000 AS py
  FROM events
),
{_SQL_RT_CAND.format(R=_RT_MM_R).strip()},
best AS (
  SELECT user_id, ts, event_id, id AS rect_id,
         row_number() OVER (PARTITION BY event_id ORDER BY dist2, id)
           AS rn
  FROM cand
),
m AS (SELECT user_id, ts, event_id, rect_id FROM best WHERE rn = 1),
step AS (
  SELECT user_id, rect_id,
         lag(rect_id) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS prev
  FROM m
)
SELECT CAST(prev AS BIGINT) AS from_rect,
       CAST(rect_id AS BIGINT) AS to_rect,
       CAST(COUNT(*) AS BIGINT) AS n_traversals,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM step
WHERE prev IS NOT NULL AND prev <> rect_id
GROUP BY 1, 2
""",
    tags=("geo", "rtree", "map-matching", "trajectory", "window"),
)
def geo_trajectory_rtree_matching(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TRAJECTORY MAP-MATCHING onto the STR RECT SKELETON (round-14 —
    the index-driven upgrade of geo_map_matching's lattice snap):
    every ping snaps to its nearest RECTANGLE (a road-segment proxy)
    through the R-tree probe within Chebyshev radius {_RT_MM_R} —
    pings with no rect in radius are UNMATCHED and drop out before
    sequencing, exactly what a real matcher does with off-network
    GPS noise — then consecutive distinct matched rects per user
    become directed edge traversals, aggregated into the edge-load
    table (traversals + distinct users) that congestion modeling
    consumes.

    Plan shape at 100 TB: leaf directory + rect pages are index-small
    → both BROADCAST; per-ping argmin is a map-side-combinable
    min(struct) groupBy on the ping key; then ONE user_id window for
    the lag and one combinable edge-key groupBy — three bounded
    shuffles, all on ping/edge keys, none all-pairs. Snapping and
    sequencing never shuttle raw coordinates through Python."""
    rects = _str_rect_leaves(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    p = ev.select(
        "user_id", "ts", "event_id",
        ((F.col("user_id") * 104729 + F.col("event_id") * 7919) % 100000)
        .alias("px"),
        ((F.col("user_id") * 7919 + F.col("event_id") * 104729) % 100000)
        .alias("py"),
    )
    cand = _rtree_nn_candidates(p, rects, _RT_MM_R)
    matched = (
        cand.groupBy("user_id", "ts", "event_id")
        .agg(
            F.min(
                F.struct(F.col("dist2").alias("d"), F.col("id").alias("i"))
            ).alias("b")
        )
        .select("user_id", "ts", "event_id", F.col("b.i").alias("rect_id"))
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    step = matched.select(
        "user_id", "rect_id", F.lag("rect_id").over(w).alias("prev")
    )
    return (
        step.filter(
            F.col("prev").isNotNull() & (F.col("prev") != F.col("rect_id"))
        )
        .groupBy(
            F.col("prev").cast("long").alias("from_rect"),
            F.col("rect_id").cast("long").alias("to_rect"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_traversals"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
    )
