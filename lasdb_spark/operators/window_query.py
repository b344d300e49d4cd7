"""Spatial window queries: bbox / circle / polygon / z-slab / kNN.

The reference's filter-refine loop (pipeline/retrieve_data.py:33-153)
re-expressed as ONE lazy DataFrame pipeline per query. Its fixed part
is the querier's point view, built (parsed and analysed) once: the
stored table on the flat layout, the decoded blocks
(``unpack_blocks``) on the block layout. A window request adds three
steps to that view:

    driver: SFC decomposition of the window     (pure function, Q1)
    scan:   key-range predicates → Parquet row-group and page pruning
            (Q2/Q3); on the block layout Catalyst pushes them, and the
            z-slab's block prune, below the unpack into the scan
    refine: ONE predicate — the exact geometry test on original coords
            (Q5-Q9) AND the z-slab, rendered as SQL text
    return: the x/y/z select — a DataFrame, no intermediate
            materialization, no client round-trips, no DELETE-based
            refinement (SURVEY §2.6).

Every window shape (bbox, circle, polygon, polyline buffer) and every
kNN round runs this one loop (``WindowQuerier._pruned``); a shape
supplies only its prune window and its exact predicate's SQL.

At 100 TB the pruning predicate is what matters: the sorted-by-key
layout means a small window reads a handful of Parquet pages; the exact
refine runs only on the surviving rows, JVM-side (whole-stage codegen)
for every shape. The one exception is a polygon with more than
``MAX_NATIVE_EDGES`` edges, whose containment runs in an Arrow-batched
pandas UDF.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.geometry import (
    MAX_NATIVE_EDGES,
    circle_sql,
    parse_wkt_linestring,
    point_in_polygon_sql,
    point_in_polygon_udf,
    polyline_bbox,
    polyline_buffer_sql,
    rings_bbox,
    wkt_rings,
)
from ..pcsfc.range_search import (
    MAX_OR_TERMS,
    apply_key_ranges,
    decompose_bbox,
    key_ranges_to_head_ranges,
    planning_grid_bounds,
)
from ..pcsfc.sqlgen import double_sql as _d
from .ingest import DatasetMeta, unpack_blocks
from .multi_window import local_frame, multi_bbox_stats, point_knn_join, zonal_stats

RESULT_COLS = ("x", "y", "z")
KNN_SCHEMA = "x double, y double, z double, d2 double"
#: key ranges a window plans on the flat store. Its small pages make a
#: coarse range cheap to read, while every OR term adds to the parse,
#: optimisation and codegen each query pays afresh (its literals are
#: new); planning 32 ranges measured ~14 % slower on ``window_mix``. A
#: block store plans up to ``MAX_OR_TERMS`` head ranges instead, since
#: every block it keeps is unpacked whole.
FLAT_RANGES = 16


def head_lookup(df: DataFrame, heads, meta: DatasetMeta, layout: str = "flat") -> DataFrame:
    """Debug lookup of whole SFC blocks by head value (Q12 — the
    reference pokes these with raw SQL via Postgres.execute_query,
    db/__init__.py:109-115; here it is a first-class engine call).

    ``heads`` is a list of sfc_head ints. The heads become merged head
    ranges, applied like a window's key ranges: to the sfc_head column
    on the block layout, and as key ranges [lo << t, (hi+1) << t) on
    the flat layout's SORTED key column, so page stats skip cold
    blocks (an isin() on the derived head, key >> t, would not push)."""
    t = meta.tail_length
    # each head as a one-head range, sorted and merged with its neighbours
    head_ranges = key_ranges_to_head_ranges([(int(h), int(h)) for h in heads], 0)
    if layout == "block":
        return unpack_blocks(apply_key_ranges(df, "sfc_head", head_ranges), meta)
    key_ranges = [(lo << t, ((hi + 1) << t) - 1) for lo, hi in head_ranges]
    return apply_key_ranges(df, "sfc_key", key_ranges)


def _box_sql(x0: float, x1: float, y0: float, y1: float) -> str:
    return f"x BETWEEN {_d(x0)} AND {_d(x1)} AND y BETWEEN {_d(y0)} AND {_d(y1)}"


@dataclass
class WindowQuerier:
    """Query executor over an ingested dataset (flat or block layout).

    ``df`` is the stored table; ``meta`` its DatasetMeta (always read
    from storage — reference hard-codes split params, query.py:27).
    ``view`` is the table as one row per point, which every window
    request filters; on the block layout it is the unpack of ``df``,
    built here once instead of once per request."""

    df: DataFrame
    meta: DatasetMeta
    layout: str = "flat"
    view: DataFrame = field(init=False, repr=False)

    def __post_init__(self):
        self.view = unpack_blocks(self.df, self.meta) if self.layout == "block" else self.df

    # -- planning ---------------------------------------------------------
    def _key_ranges(
        self, x0: float, x1: float, y0: float, y1: float, shift: int, budget: int
    ):
        """At most ``budget`` ranges covering the window, planned on
        cells ``2**shift`` grid units a side: ranges of the key shifted
        right by ``2 * shift`` bits (the Morton prefix)."""
        sx, sy, _ = self.meta.scales
        ox, oy, _ = self.meta.offsets
        qx0, qx1 = planning_grid_bounds(x0, x1, sx, ox)
        qy0, qy1 = planning_grid_bounds(y0, y1, sy, oy)
        return decompose_bbox(
            qx0 >> shift,
            qx1 >> shift,
            qy0 >> shift,
            qy1 >> shift,
            bits=self.meta.grid_bits - shift,
            max_ranges=budget,
        )

    def _pruned(
        self,
        x0: float,
        x1: float,
        y0: float,
        y1: float,
        minz: float | None = None,
        maxz: float | None = None,
        refine: str | None = None,
        udf: Column | None = None,
    ) -> DataFrame:
        """The view's points in the window (x0, x1, y0, y1): the SFC
        key ranges, then ONE filter — the ``refine`` SQL AND the z-slab
        (reference Q9 ran post-hoc DELETEs), with a ``udf`` Column
        ANDed in when the refine cannot be SQL.

        On the block layout the ranges are on ``sfc_head``, and a z-slab
        also tests each block's stored z_min/z_max. Both reference only
        block columns, so Catalyst pushes them below the unpack into
        the scan: whole blocks are skipped before the explode — the
        block-level analog of the row-group stats the flat layout's z
        column gets from Parquet for free."""
        if self.layout == "block":
            # a block is the finest grain the block layout can skip, so
            # the range budget is spent on head cells: plan on cells of
            # half the tail's bits (the grid keeps at least one bit),
            # then drop the key bits left below the head
            t = self.meta.tail_length
            shift = min(t // 2, self.meta.grid_bits - 1)
            head_ranges = key_ranges_to_head_ranges(
                self._key_ranges(x0, x1, y0, y1, shift, MAX_OR_TERMS), t - 2 * shift
            )
            out = apply_key_ranges(self.view, "sfc_head", head_ranges)
        elif "sfc_key" in self.view.columns:
            out = apply_key_ranges(
                self.view, "sfc_key", self._key_ranges(x0, x1, y0, y1, 0, FLAT_RANGES)
            )
        else:
            out = self.view  # raw points: no index available, full scan + refine
        terms = [refine] if refine else []
        if minz is not None:
            terms.append(f"z >= {_d(minz)}")
            if "z_max" in self.view.columns:
                terms.append(f"z_max >= {_d(minz)}")
        if maxz is not None:
            terms.append(f"z <= {_d(maxz)}")
            if "z_min" in self.view.columns:
                terms.append(f"z_min <= {_d(maxz)}")
        if not terms:
            return out
        cond = F.expr(" AND ".join(terms))
        return out.filter(cond if udf is None else cond & udf)

    def _window(self, window, refine: str, minz, maxz, udf=None) -> DataFrame:
        """The filter–refine loop every window shape shares."""
        return self._pruned(*window, minz, maxz, refine, udf).select(*RESULT_COLS)

    # -- query surface (Q6-Q11) -------------------------------------------
    def bbox(self, bbox, minz=None, maxz=None) -> DataFrame:
        """bbox = [x_min, x_max, y_min, y_max] (Q6)."""
        window = tuple(float(v) for v in bbox)
        return self._window(window, _box_sql(*window), minz, maxz)

    def circle(self, center, radius, minz=None, maxz=None) -> DataFrame:
        """center = [cx, cy] (Q7): circumscribing-bbox prune + exact."""
        cx, cy, r = float(center[0]), float(center[1]), float(radius)
        if not r >= 0.0:
            raise ValueError(f"circle radius must be >= 0, got {radius!r}")
        return self._window((cx - r, cx + r, cy - r, cy + r), circle_sql(cx, cy, r), minz, maxz)

    def polygon(self, wkt: str, minz=None, maxz=None) -> DataFrame:
        """WKT POLYGON with holes, or MULTIPOLYGON (Q8): bbox prune +
        cheap bbox refine + exact even-odd containment over the
        combined ring set (disjoint members make the shared even-odd
        test exact — no per-polygon dispatch).

        Containment is native SQL (codegen, no Python) for geometries
        up to MAX_NATIVE_EDGES edges; bigger ones fall back to the
        Arrow-batched pandas UDF."""
        rings = wkt_rings(wkt)
        window = rings_bbox(rings)
        box = _box_sql(*window)
        if sum(len(r) for r in rings) <= MAX_NATIVE_EDGES:
            return self._window(window, f"{box} AND {point_in_polygon_sql(rings)}", minz, maxz)
        udf = point_in_polygon_udf(wkt)(F.col("x"), F.col("y"))
        return self._window(window, box, minz, maxz, udf)

    def polyline_buffer(self, wkt: str, dist: float, minz=None, maxz=None) -> DataFrame:
        """All points within ``dist`` of a WKT LINESTRING (the reference
        benchmark's polyline-buffer shapes, scripts/query_210m.json —
        there pre-buffered to polygons; here exact distance-to-segment,
        fully native: OR over per-segment clamped distance² terms)."""
        pts = parse_wkt_linestring(wkt)
        dist = float(dist)
        if not dist >= 0.0:
            raise ValueError(f"polyline buffer distance must be >= 0, got {dist!r}")
        window = polyline_bbox(pts, dist)
        refine = f"{_box_sql(*window)} AND {polyline_buffer_sql(pts, dist)}"
        return self._window(window, refine, minz, maxz)

    def knn(self, point, k: int, minz=None, maxz=None) -> DataFrame:
        """k nearest neighbours of [px, py] (Q11 — declared but NOT
        implemented by the reference, retrieve_data.py:40-41).

        Expanding-window search: grow a square until it provably holds
        the k nearest (count ≥ k AND kth distance ≤ half-width), then
        top-k via orderBy(...).limit(k) — Spark executes that as a
        distributed TakeOrdered, not a full sort. Ties broken by
        (d2, x, y, z) for determinism. The last round's collected rows
        are the answer, returned as a local DataFrame so the caller's
        action does not run the search again."""
        if k < 1:
            raise ValueError(f"k must be >= 1, got {k!r}")
        px, py = float(point[0]), float(point[1])
        d2 = F.expr(f"(x - {_d(px)}) * (x - {_d(px)}) + (y - {_d(py)}) * (y - {_d(py)}) AS d2")

        # initial half-width from global density (meta bbox is exact)
        x0, x1, y0, y1 = self.meta.bbox[:4]
        area = max((x1 - x0) * (y1 - y0), 1e-9)
        n = max(self.meta.point_count, 1)
        r = max(math.sqrt(area * k / n), 1e-6)

        while True:
            cand = self._pruned(px - r, px + r, py - r, py + r, minz, maxz)
            rows = cand.select(*RESULT_COLS, d2).orderBy("d2", "x", "y", "z").limit(k).collect()
            if len(rows) >= k and rows[-1].d2 <= r * r:
                break
            # Exact-exit: once the window contains the entire data
            # extent the candidate set IS the dataset, so the top-k is
            # the exact global kNN — no fixed iteration cap (a far-away
            # query point needs extra doublings to even reach the data,
            # so counting iterations is the wrong convergence test).
            if px - r <= x0 and px + r >= x1 and py - r <= y0 and py + r >= y1:
                break
            r *= 2.0
        return local_frame(self.df.sparkSession, rows, KNN_SCHEMA)

    def multi_bbox(self, windows) -> DataFrame:
        """Per-window stats for a TABLE of bbox windows in one scan —
        the batch spatial-join shape (see
        :mod:`lasdb_spark.operators.multi_window`). ``windows`` =
        iterable of (win_id, x_min, x_max, y_min, y_max)."""
        return multi_bbox_stats(self.df, self.meta, windows, layout=self.layout)

    def knn_join(self, queries, k: int, radius: float) -> DataFrame:
        """k nearest points within ``radius`` for EVERY (q_id, qx, qy)
        query in one scan (see
        :func:`lasdb_spark.operators.multi_window.point_knn_join`)."""
        return point_knn_join(
            self.df, self.meta, queries, k, radius, layout=self.layout
        )

    def voxel_lod(self, level: int) -> DataFrame:
        """One representative point + occupancy per level-``level``
        Morton cell (see :mod:`lasdb_spark.operators.lod`)."""
        from .lod import voxel_downsample

        return voxel_downsample(self.df, self.meta, level, layout=self.layout)

    def thin(self, denom: int) -> DataFrame:
        """Deterministic 1/``denom`` hash thinning (map-only; see
        :mod:`lasdb_spark.operators.lod`)."""
        from .lod import thin_points

        return thin_points(self.df, self.meta, denom, layout=self.layout)

    def lod_pyramid(self, levels: list[int]) -> DataFrame:
        """Whole LOD pyramid, hierarchically rolled up (see
        :mod:`lasdb_spark.operators.lod`)."""
        from .lod import lod_pyramid

        return lod_pyramid(self.df, self.meta, levels, layout=self.layout)

    def zonal(self, zones) -> DataFrame:
        """Per-polygon-zone stats in one scan (see
        :func:`lasdb_spark.operators.multi_window.zonal_stats`)."""
        return zonal_stats(self.df, self.meta, zones, layout=self.layout)

    def query(
        self, mode: str, geometry, minz=None, maxz=None, k: int | None = None
    ) -> DataFrame:
        """Dispatch on mode ∈ {bbox, circle, polygon, nn} (Q10,
        retrieve_data.py:33-41)."""
        if mode == "bbox":
            return self.bbox(geometry, minz, maxz)
        if mode == "circle":
            center, r = geometry
            return self.circle(center, r, minz, maxz)
        if mode == "polygon":
            return self.polygon(geometry, minz, maxz)
        if mode == "nn":
            return self.knn(geometry, 1000 if k is None else k, minz, maxz)
        if mode == "polyline":
            wkt, dist = geometry
            return self.polyline_buffer(wkt, dist, minz, maxz)
        if mode == "multi_bbox":
            # geometry = [[win_id, x0, x1, y0, y1], ...]
            return self.multi_bbox([tuple(w) for w in geometry])
        if mode == "zonal":
            # geometry = [[zone_id, wkt], ...]
            return self.zonal([tuple(z) for z in geometry])
        raise ValueError(f"unknown query mode {mode!r}")
