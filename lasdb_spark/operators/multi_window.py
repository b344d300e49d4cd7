"""Batch multi-window query: per-window stats for a TABLE of bbox
windows in ONE scan of the cloud.

The reference answers one geometry per run (each scripts/query_*.json
carries a single window; pipeline/retrieve_data.py:33-41 loops
queries as independent jobs). The batch shape — building footprints ×
point cloud, "stats per parcel" — is a spatial join, and the naive
Spark expression (broadcast the windows, join on x/y BETWEEN bounds)
is a BroadcastNestedLoopJoin costing O(rows × windows) comparisons:
exactly the plan that dies at 100 TB.

Spark-first plan here: all windows share one level-L Morton CELL grid
(L chosen so the total covering-cell count fits a broadcast budget).
Driver-side planning maps each window to its covering cells — the same
pure-function decomposition step as single-window planning — and the
points side derives its cell with ONE shift of the stored key
(key >> 2s == morton(x >> s, y >> s), the Morton prefix property). The
join is then CELL EQUALITY: a broadcast hash join, never a nested
loop, followed by the exact bbox refine and one map-side-partial
aggregation on win_id. A coarse global key BETWEEN still reaches the
Parquet scan for row-group and page pruning. Work scales with
|points in covered cells| + |windows|, not |points| × |windows|.

The cell table is built on the driver and shipped as one Arrow table
(:func:`local_frame`), so it plans as a ``LocalRelation``: a list of
tuples would be parallelized as an RDD, and every job over it would
start a Python worker.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from ..functions.geometry import (
    MAX_NATIVE_EDGES,
    point_in_polygon_sql,
    rings_bbox,
    wkt_rings,
)
from ..pcsfc.morton import encode_morton_2d
from ..pcsfc.range_search import planning_grid_bounds
from .ingest import DatasetMeta, stored_points

#: max total covering cells across all windows — bounds the broadcast
#: table (a few MB) and the per-point join fan-out
CELL_BUDGET = 4096

_STATS_SCHEMA = "win_id long, n_points long, z_min double, z_max double"


def local_frame(spark: SparkSession, rows, schema: str) -> DataFrame:
    """``rows`` (tuples in the order of the DDL ``schema``) as a
    DataFrame over a ``LocalRelation``. It ships as one Arrow table
    whatever the session's Arrow setting; a list of tuples, or a pandas
    frame with Arrow off, is parallelized as an RDD instead."""
    struct = StructType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, struct)


def plan_window_cells(windows, meta: DatasetMeta) -> tuple[int, list[tuple]]:
    """Driver-side planning: choose the FINEST shared cell level whose
    total covering-cell count fits ``CELL_BUDGET``, and emit one row
    per (window, covering cell).

    Returns (shift_s, rows) where cell side length is ``2**shift_s``
    grid units and rows are (win_id, cell, x0, x1, y0, y1) with the
    cell id in level-L Morton space (comparable to ``key >> 2s``).
    Windows fully outside the grid plan to nothing, mirroring the
    single-window decomposition's empty result."""
    bits = meta.grid_bits
    sx, sy, _ = meta.scales
    ox, oy, _ = meta.offsets
    grid_max = (1 << bits) - 1
    qwins = []
    for win_id, x0, x1, y0, y1 in windows:
        qx0, qx1 = planning_grid_bounds(float(x0), float(x1), sx, ox)
        qy0, qy1 = planning_grid_bounds(float(y0), float(y1), sy, oy)
        qx0, qy0 = max(qx0, 0), max(qy0, 0)
        qx1, qy1 = min(qx1, grid_max), min(qy1, grid_max)
        if qx0 > qx1 or qy0 > qy1:
            continue  # disjoint from the data grid
        qwins.append(
            (int(win_id), float(x0), float(x1), float(y0), float(y1),
             qx0, qx1, qy0, qy1)
        )
    shift = bits  # coarsest: one whole-grid cell per window
    for s in range(bits + 1):
        total = sum(
            ((qx1 >> s) - (qx0 >> s) + 1) * ((qy1 >> s) - (qy0 >> s) + 1)
            for *_, qx0, qx1, qy0, qy1 in qwins
        )
        if total <= CELL_BUDGET:
            shift = s
            break
    rows = []
    for win_id, x0, x1, y0, y1, qx0, qx1, qy0, qy1 in qwins:
        for cx in range((qx0 >> shift), (qx1 >> shift) + 1):
            for cy in range((qy0 >> shift), (qy1 >> shift) + 1):
                rows.append(
                    (win_id, encode_morton_2d(cx, cy), x0, x1, y0, y1)
                )
    return shift, rows


def _cell_join(
    df: DataFrame, meta: DatasetMeta, layout: str, windows, table, schema: str
) -> DataFrame | None:
    """The stored points of the cells ``windows`` cover, each joined to
    the rows of the windows that cover its cell; None when no window
    meets the data grid.

    ``table`` maps one planned row (win_id, cell, x0, x1, y0, y1) to a
    row of the broadcast cell table, whose ``schema`` names the
    ``cell`` column. The coarse global key range is pushed to the
    Parquet scan, so pages wholly outside the union of windows are
    never read; the cell is one shift of the stored key."""
    shift, rows = plan_window_cells(windows, meta)
    if not rows:
        return None
    cdf = local_frame(df.sparkSession, [table(r) for r in rows], schema)
    lo = min(r[1] for r in rows) << (2 * shift)
    hi = ((max(r[1] for r in rows) + 1) << (2 * shift)) - 1
    return (
        stored_points(df, meta, layout)
        .filter(F.col("sfc_key").between(lo, hi))
        .withColumn("cell", F.shiftright(F.col("sfc_key"), 2 * shift))
        .join(F.broadcast(cdf), "cell")
    )


def multi_bbox_stats(
    df: DataFrame, meta: DatasetMeta, windows, layout: str = "flat"
) -> DataFrame:
    """(win_id, n_points, z_min, z_max) for every window holding at
    least one point — one scan, broadcast cell join, one aggregation.

    ``windows`` is an iterable of (win_id, x_min, x_max, y_min, y_max).
    Windows may overlap (a point then counts toward each); empty
    windows are absent from the result (inner join semantics, matching
    a GROUP BY over the coordinate join)."""
    joined = _cell_join(
        df, meta, layout, windows, lambda r: r,
        "win_id long, cell long, wx0 double, wx1 double, "
        "wy0 double, wy1 double",
    )
    if joined is None:
        return local_frame(df.sparkSession, [], _STATS_SCHEMA)
    return (
        joined.filter(
            F.col("x").between(F.col("wx0"), F.col("wx1"))
            & F.col("y").between(F.col("wy0"), F.col("wy1"))
        )
        .groupBy("win_id")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.min("z").alias("z_min"),
            F.max("z").alias("z_max"),
        )
    )


def point_knn_join(
    df: DataFrame,
    meta: DatasetMeta,
    queries,
    k: int,
    radius: float,
    layout: str = "flat",
) -> DataFrame:
    """Batch spatial kNN join: for EVERY query point, its ``k`` nearest
    cloud points within ``radius`` — "nearest returns per sensor
    pose" — in one scan. The single-query analog is
    :meth:`WindowQuerier.knn`; running that per query is one Spark job
    per row of the query table, which is exactly the per-geometry loop
    the reference runs (pipeline/retrieve_data.py:33-41) and what dies
    at a thousand queries.

    Same shape as :func:`multi_bbox_stats`: each query's radius-bbox
    maps to covering cells of one shared Morton level, the points side
    derives its cell with one shift of the stored key, and the join is
    a broadcast HASH join on cell equality. The exact d2 refine runs
    map-side; the per-query top-k is a q_id-PARTITIONED window over
    only the in-radius candidates (bounded by radius selectivity),
    never a global sort. ``queries`` = iterable of (q_id, qx, qy).

    The radius bound is part of the contract (k nearest WITHIN r): it
    is what keeps the candidate set — and the oracle — finite and
    identical on both engines."""
    r = float(radius)
    if r <= 0 or k < 1:
        raise ValueError(f"need radius > 0 and k >= 1, got {radius}, {k}")
    qrows = [(int(q), float(x), float(y)) for q, x, y in queries]
    windows = [(q, x - r, x + r, y - r, y + r) for q, x, y in qrows]
    centers = {q: (x, y) for q, x, y in qrows}
    cand = _cell_join(
        df, meta, layout, windows, lambda row: (row[0], row[1], *centers[row[0]]),
        "q_id long, cell long, qx double, qy double",
    )
    if cand is None:
        return local_frame(
            df.sparkSession, [], "q_id long, x double, y double, z double, d2 double"
        )
    d2 = (F.col("x") - F.col("qx")) * (F.col("x") - F.col("qx")) + (
        F.col("y") - F.col("qy")
    ) * (F.col("y") - F.col("qy"))
    cand = cand.withColumn("d2", d2).filter(F.col("d2") <= r * r)
    from pyspark.sql import Window

    w = Window.partitionBy("q_id").orderBy("d2", "x", "y", "z")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= int(k))
        .select("q_id", "x", "y", "z", "d2")
    )


def point_knn_join_sql(points_cte: str, queries, k: int, radius: float) -> str:
    """Oracle twin: brute-force distance join + per-query window."""
    r = float(radius)
    vals = ", ".join(
        f"(CAST({int(q)} AS BIGINT), {float(x)!r}, {float(y)!r})"
        for q, x, y in queries
    )
    return f"""
{points_cte},
qs AS (SELECT * FROM (VALUES {vals}) t(q_id, qx, qy)),
cand AS (
  SELECT q_id, x, y, z,
         (x - qx) * (x - qx) + (y - qy) * (y - qy) AS d2
  FROM points p JOIN qs ON
       (x - qx) * (x - qx) + (y - qy) * (y - qy) <= {r!r} * {r!r}),
rk AS (SELECT *, row_number() OVER (
         PARTITION BY q_id ORDER BY d2, x, y, z) AS rn FROM cand)
SELECT q_id, x, y, z, d2 FROM rk WHERE rn <= {int(k)}
""".strip()


def multi_bbox_stats_sql(points_cte: str, windows) -> str:
    """Oracle twin: brute-force coordinate join over a VALUES windows
    table (``points_cte`` supplies the ``points`` relation)."""
    vals = ", ".join(
        f"(CAST({int(w)} AS BIGINT), {float(x0)!r}, {float(x1)!r}, "
        f"{float(y0)!r}, {float(y1)!r})"
        for w, x0, x1, y0, y1 in windows
    )
    return f"""
{points_cte},
wins AS (SELECT * FROM (VALUES {vals}) t(win_id, x0, x1, y0, y1))
SELECT win_id, count(*) AS n_points, min(z) AS z_min, max(z) AS z_max
FROM points p JOIN wins w
  ON p.x BETWEEN w.x0 AND w.x1 AND p.y BETWEEN w.y0 AND w.y1
GROUP BY 1
""".strip()


def zonal_stats(
    df: DataFrame,
    meta: DatasetMeta,
    zones,
    layout: str = "flat",
) -> DataFrame:
    """(zone_id, n_points, z_min, z_max, z_avg) for a TABLE of polygon
    zones — classic GIS zonal statistics ("stats per parcel /
    footprint") in ONE scan of the cloud.

    ``zones`` is an iterable of (zone_id, wkt) where wkt is a POLYGON
    (holes allowed) or MULTIPOLYGON. Plan shape =
    :func:`multi_bbox_stats`: every zone's bbox over all its rings maps
    to covering cells of one shared Morton level (driver-side pure
    planning), the points side derives its cell with one shift of the
    stored key, and the join is a broadcast HASH join on cell
    equality. The EXACT containment test is then a single CASE
    over zone_id dispatching each zone's native even-odd expression,
    parsed from one SQL string — still whole-stage codegen, no Python;
    the combined edge count is capped (``MAX_NATIVE_EDGES`` per zone,
    same contract as the single-polygon window path). z_avg uses exact
    centi-unit integer sums (order-independent, hash-stable).

    Scale: work is |points in covered cells| + |zones|; the zone table
    is bounded by the broadcast budget exactly like windows. Zones may
    overlap (points count toward each); empty zones are absent."""
    rings_by_zone = {}
    windows = []
    for zone_id, wkt in zones:
        rings = wkt_rings(wkt)
        n_edges = sum(len(r) for r in rings)
        if n_edges > MAX_NATIVE_EDGES:
            raise ValueError(
                f"zone {zone_id}: {n_edges} edges exceeds the native "
                f"limit {MAX_NATIVE_EDGES}"
            )
        if int(zone_id) in rings_by_zone:
            # A duplicate id would silently drop all but the last
            # polygon from the containment CASE while its bbox cells
            # still joined (double-counting points) — refuse instead.
            raise ValueError(f"duplicate zone_id {zone_id}")
        rings_by_zone[int(zone_id)] = rings
        windows.append((int(zone_id), *rings_bbox(rings)))
    cand = _cell_join(
        df, meta, layout, windows, lambda r: r[:2], "zone_id long, cell long"
    )
    if cand is None:
        return local_frame(
            df.sparkSession, [], "zone_id long, n_points long, z_min double, "
            "z_max double, z_avg double"
        )
    inside = F.expr(
        "CASE "
        + " ".join(
            f"WHEN zone_id = {z} THEN {point_in_polygon_sql(rings)}"
            for z, rings in rings_by_zone.items()
        )
        + " END"
    )
    joined = cand.filter(inside)
    zq = F.round(F.col("z") * 100).cast("long")
    return (
        joined.select("zone_id", zq.alias("zq"))
        .groupBy("zone_id")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            (F.min("zq") / 100.0).alias("z_min"),
            (F.max("zq") / 100.0).alias("z_max"),
            F.round(F.sum("zq") / (F.count(F.lit(1)) * 100.0), 6).alias(
                "z_avg"
            ),
        )
    )


def zonal_stats_sql(points_cte: str, zones) -> str:
    """Oracle twin: per-zone UNION ALL of brute-force aggregates, each
    zone's containment from the even-odd SQL renderer the engine
    parses too."""
    tiers = []
    for zone_id, wkt in zones:
        pip = point_in_polygon_sql(wkt_rings(wkt))
        tiers.append(f"""
SELECT {int(zone_id)} AS zone_id, count(*) AS n_points,
       min(zq) / 100.0 AS z_min, max(zq) / 100.0 AS z_max,
       round(sum(zq) / (count(*) * 100.0), 6) AS z_avg
FROM (SELECT CAST(round(z * 100) AS BIGINT) AS zq
      FROM points WHERE {pip}) t
HAVING count(*) > 0""".strip())
    union = "\nUNION ALL\n".join(tiers)
    return f"{points_cte}\n{union}".strip()
