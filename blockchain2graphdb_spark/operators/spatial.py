"""Spatial joins via grid bucketing (SURVEY.md §2.13 X16): radius
(distance) self-join and bounded k-nearest-neighbors over a synthetic
integer point cloud — the geohash-cell pattern every spatial engine
(PostGIS ST_DWithin + GiST, Sedona, BigQuery GEO) uses to turn an
O(N²) distance join into cell-local equi-joins.

Points are derived deterministically from the part table (md5-slice
integer coordinates on a 10,000 x 10,000 grid), so both engines build
the identical cloud and every distance is exact 64-bit integer
arithmetic (squared distances — no sqrt anywhere).

Scale notes (100 TB): each point probes its own cell plus the 8
neighbors (a map-side 9-row explode of CELL KEYS, not data copies —
the build side stays 1 row per point), candidates come ONLY from the
cell equi-join, and each (a, b) pair is generated exactly once
(a probes b's unique home cell) so no dedup shuffle is needed. Cell
size = radius, the standard choice: every true neighbor is inside the
3x3 probe window, and expected candidates per point stay O(density).
Skewed cells (urban hotspots) are ordinary AQE skew-join territory —
the join key is the cell id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import table
from ..exact import hex_int
from ..registry import query

_GRID = 10_000  # coordinate space [0, _GRID)
_R = 150  # radius; also the cell size
_R2 = _R * _R

_POINTS_SQL = f"""
      SELECT p_partkey AS id,
             CAST(('0x' || substr(md5(CAST(p_partkey AS VARCHAR)), 1, 8))::BIGINT
                  % {_GRID} AS BIGINT) AS x,
             CAST(('0x' || substr(md5(CAST(p_partkey AS VARCHAR)), 9, 8))::BIGINT
                  % {_GRID} AS BIGINT) AS y
      FROM part
"""


def _points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic integer point cloud from part keys: two md5 hex
    slices of one digest (exact.hex_int ≡ DuckDB '0x…'::BIGINT, the
    pinned portable hex→int equivalence) modulo the grid extent. Positive
    inputs, so % agrees across engines."""
    p = table(spark, sf_dir, "part")
    h = F.md5(F.col("p_partkey").cast("string").cast("binary"))
    return p.select(
        F.col("p_partkey").alias("id"),
        (hex_int(h) % _GRID).alias("x"),
        (hex_int(h, start=9) % _GRID).alias("y"),
    )


def _probe_home(pts: DataFrame):
    """Shared candidate-generation build for both spatial operators:
    (probe, home, d2) — the 3x3 probe-cell key explode, the home-cell
    projection, and the exact int64 squared-distance expression. One
    definition, mirroring _CELL_CTES on the oracle side."""
    off = F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1)))
    probe = (
        pts.select(
            F.col("id").alias("a"), F.col("x").alias("ax"), F.col("y").alias("ay"),
            F.expr(f"x div {_R}").alias("hx"), F.expr(f"y div {_R}").alias("hy"),
        )
        .withColumn("dx", off)
        .withColumn("dy", off)
        .select(
            "a", "ax", "ay",
            (F.col("hx") + F.col("dx")).alias("cx"),
            (F.col("hy") + F.col("dy")).alias("cy"),
        )
    )
    home = pts.select(
        F.col("id").alias("b"), F.col("x").alias("bx"), F.col("y").alias("by"),
        F.expr(f"x div {_R}").alias("cx"), F.expr(f"y div {_R}").alias("cy"),
    )
    d2 = (F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx")) + (
        F.col("ay") - F.col("by")
    ) * (F.col("ay") - F.col("by"))
    return probe, home, d2


# shared candidate-generation CTE prefix: pts -> 3x3 probe cells + home
# cells. ONE definition so the radius and kNN oracles can never diverge
# in cell math (review r8).
_CELL_CTES = f"""pts AS ({_POINTS_SQL}),
    probe AS (
      SELECT id AS a, x AS ax, y AS ay,
             (x // {_R}) + dx.i - 1 AS cx, (y // {_R}) + dy.i - 1 AS cy
      FROM pts, UNNEST(range(3)) AS dx(i), UNNEST(range(3)) AS dy(i)
    ),
    home AS (
      SELECT id AS b, x AS bx, y AS by, x // {_R} AS cx, y // {_R} AS cy FROM pts
    )"""

_RADIUS_ORACLE = f"""
    WITH {_CELL_CTES}
    SELECT p.a, h.b,
           CAST((p.ax - h.bx) * (p.ax - h.bx)
              + (p.ay - h.by) * (p.ay - h.by) AS BIGINT) AS dist2
    FROM probe p JOIN home h ON h.cx = p.cx AND h.cy = p.cy AND p.a < h.b
    WHERE (p.ax - h.bx) * (p.ax - h.bx) + (p.ay - h.by) * (p.ay - h.by) <= {_R2}
    """


@query("spatial_radius_join", oracle=_RADIUS_ORACLE)
def spatial_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius self-join (all pairs within distance 150) via grid-cell
    bucketing: each point expands to its 3x3 probe-cell KEYS (map-side,
    9 rows of ids — payloads don't fan out), the build side keeps one
    home-cell row per point, and candidates come only from the cell
    equi-join — never a cross join (plan-asserted). Exact integer
    squared-distance filter; a < b orientation makes each pair unique
    without a dedup shuffle (a probes b's single home cell once)."""
    probe, home, d2 = _probe_home(_points(spark, sf_dir))
    return (
        probe.join(home, ["cx", "cy"])
        .where(F.col("a") < F.col("b"))
        .where(d2 <= _R2)
        .select("a", "b", d2.cast("long").alias("dist2"))
    )


_KNN_ORACLE = f"""
    WITH {_CELL_CTES},
    cand AS (
      SELECT p.a, h.b,
             (p.ax - h.bx) * (p.ax - h.bx) + (p.ay - h.by) * (p.ay - h.by) AS d2
      FROM probe p JOIN home h ON h.cx = p.cx AND h.cy = p.cy AND p.a <> h.b
      WHERE (p.ax - h.bx) * (p.ax - h.bx) + (p.ay - h.by) * (p.ay - h.by) <= {_R2}
    )
    SELECT a, b, CAST(d2 AS BIGINT) AS dist2, CAST(rn AS BIGINT) AS rank
    FROM (
      SELECT a, b, d2,
             row_number() OVER (PARTITION BY a ORDER BY d2, b) AS rn
      FROM cand
    ) WHERE rn <= 3
    """


@query("spatial_knn", oracle=_KNN_ORACLE)
def spatial_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded k-nearest-neighbors (k=3 within radius 150) — the
    spatial form of similarity top-k: the same 3x3 probe-cell candidate
    join as spatial_radius_join (both directions this time, a ≠ b),
    then a per-point (dist2, b)-ordered top-3 that compiles to
    WindowGroupLimit (the rank cut runs below the shuffle). The radius
    bound is what keeps kNN scale-sane: unbounded exact kNN degenerates
    to all-pairs for isolated points, while bounded kNN is the form
    real pipelines use (match-within-x-meters)."""
    probe, home, d2 = _probe_home(_points(spark, sf_dir))
    cand = (
        probe.join(home, ["cx", "cy"])
        .where(F.col("a") != F.col("b"))
        .select("a", "b", d2.alias("d2"))
        .where(F.col("d2") <= _R2)
    )
    w = W.partitionBy("a").orderBy("d2", "b")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select(
            "a", "b", F.col("d2").cast("long").alias("dist2"),
            F.col("rn").cast("long").alias("rank"),
        )
    )


_MIN_PTS = 4  # DBSCAN minPts, INCLUDING the point itself

_DBSCAN_ORACLE = f"""
    WITH {_CELL_CTES},
    neigh AS (
      SELECT p.a AS id, CAST(COUNT(*) AS BIGINT) AS n_in_eps
      FROM probe p JOIN home h ON h.cx = p.cx AND h.cy = p.cy AND p.a <> h.b
      WHERE (p.ax - h.bx) * (p.ax - h.bx)
          + (p.ay - h.by) * (p.ay - h.by) <= {_R2}
      GROUP BY p.a
    )
    SELECT pts.id, CAST(pts.x AS BIGINT) AS x, CAST(pts.y AS BIGINT) AS y,
           COALESCE(n.n_in_eps, 0) AS n_in_eps,
           CAST(COALESCE(n.n_in_eps, 0) + 1 >= {_MIN_PTS} AS BOOLEAN) AS is_core
    FROM pts LEFT JOIN neigh n ON n.id = pts.id
    """


@query("dbscan_core", oracle=_DBSCAN_ORACLE)
def dbscan_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN core-point identification (eps = 150, minPts = 4
    including self) — the density-classification half of DBSCAN, which
    is where all the data-scale work lives: a point is CORE iff at
    least minPts points (itself included) sit within eps. The cluster-
    expansion half is connected components over core–core eps edges
    (the wallet_components machinery); this operator surfaces the
    density classification every outlier/denoising pipeline consumes
    directly. Isolated points (empty 3x3 neighborhood) survive via the
    left join with count 0 — they are exactly the DBSCAN noise
    candidates.

    Scale shape: identical candidate generation to spatial_radius_join
    (3x3 probe-cell key explode, cell equi-join, exact int64 squared
    distances), one map-side-combinable count per point, one keyed
    left join back to the cloud. Never a cross join; skewed cells are
    AQE skew-join territory on the cell key."""
    pts = _points(spark, sf_dir).localCheckpoint(eager=True)
    probe, home, d2 = _probe_home(pts)
    neigh = (
        probe.join(home, ["cx", "cy"])
        .where(F.col("a") != F.col("b"))
        .where(d2 <= _R2)
        .groupBy(F.col("a").alias("id"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_in_eps"))
    )
    return pts.join(neigh, "id", "left").select(
        "id",
        F.col("x").cast("long").alias("x"),
        F.col("y").cast("long").alias("y"),
        F.coalesce(F.col("n_in_eps"), F.lit(0)).cast("long").alias("n_in_eps"),
        (F.coalesce(F.col("n_in_eps"), F.lit(0)) + 1 >= _MIN_PTS).alias("is_core"),
    )
