"""Planar geometry: WKT parsing + point-in-polygon and buffer predicates.

Replaces the reference's PostGIS dependency (ST_Within / ST_DWithin,
pipeline/retrieve_data.py:58-83) with:
- minimal WKT POLYGON / MULTIPOLYGON / LINESTRING parsers;
- an even-odd ray-casting containment test, rendered as one SQL
  expression that Spark runs in whole-stage codegen and the DuckDB
  oracle runs as is (:func:`point_in_polygon_sql`). Past
  ``MAX_NATIVE_EDGES`` edges the same test runs vectorized with NumPy
  in an Arrow-batched pandas UDF (:func:`point_in_polygon_udf`) — the
  only Python a window query can put on the executor hot path;
- the polyline-buffer and circle predicates, as SQL likewise.

Even-odd rule: including hole rings in the edge set automatically
excludes hole interiors, so polygons with 1..n holes (reference
benchmark B6/B8, scripts/query_210m.json:38,48) need no special-casing.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..pcsfc.sqlgen import double_sql as _d

_NUM = r"[-+]?\d+(?:\.\d+)?(?:[eE][-+]?\d+)?"


def parse_wkt_polygon(wkt: str) -> list[list[tuple[float, float]]]:
    """Parse ``POLYGON ((...), (...))`` → list of rings [(x, y), ...].

    First ring is the exterior, the rest are holes. Raises ValueError
    on anything that is not a single POLYGON."""
    s = wkt.strip()
    m = re.match(r"(?is)^POLYGON\s*\((.*)\)\s*$", s)
    if not m:
        raise ValueError(f"not a WKT POLYGON: {wkt[:60]!r}")
    body = m.group(1)
    rings: list[list[tuple[float, float]]] = []
    for ring_m in re.finditer(r"\(([^()]*)\)", body):
        pts = []
        for pair in ring_m.group(1).split(","):
            nums = re.findall(_NUM, pair)
            if len(nums) < 2:
                raise ValueError(f"bad coordinate pair {pair!r}")
            pts.append((float(nums[0]), float(nums[1])))
        rings.append(pts)
    if not rings:
        raise ValueError(f"empty POLYGON: {wkt[:60]!r}")
    return rings


def parse_wkt_multipolygon(wkt: str) -> list[list[list[tuple[float, float]]]]:
    """Parse ``MULTIPOLYGON (((...)), ((...)))`` → list of polygons
    (each a ring list like :func:`parse_wkt_polygon` returns). A tiny
    depth scanner splits the top-level polygon groups — WKT nests only
    two levels here, no general parser needed."""
    s = wkt.strip()
    m = re.match(r"(?is)^MULTIPOLYGON\s*\((.*)\)\s*$", s)
    if not m:
        raise ValueError(f"not a WKT MULTIPOLYGON: {wkt[:60]!r}")
    body = m.group(1)
    polys, depth, start = [], 0, 0
    for i, ch in enumerate(body):
        if ch == "(":
            if depth == 0:
                start = i
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                polys.append(parse_wkt_polygon("POLYGON " + body[start : i + 1]))
    if depth != 0 or not polys:
        raise ValueError(f"malformed MULTIPOLYGON: {wkt[:60]!r}")
    return polys


def wkt_rings(wkt: str) -> list[list[tuple[float, float]]]:
    """All rings of a POLYGON or MULTIPOLYGON as ONE even-odd edge set.

    MULTIPOLYGON needs no special containment logic: member polygons
    have disjoint interiors (WKT validity rule), so a point inside one
    crosses an odd number of that polygon's edges and an even number
    of every other's — the combined even-odd test is exact."""
    if re.match(r"(?is)^\s*MULTIPOLYGON", wkt):
        return [r for poly in parse_wkt_multipolygon(wkt) for r in poly]
    return parse_wkt_polygon(wkt)


def rings_bbox(rings: list[list[tuple[float, float]]]) -> tuple[float, float, float, float]:
    """(x_min, x_max, y_min, y_max) over ALL rings — the prune window
    for multi-polygon edge sets (holes lie inside exteriors, so this
    equals the exterior union)."""
    xs = [p[0] for ring in rings for p in ring]
    ys = [p[1] for ring in rings for p in ring]
    return min(xs), max(xs), min(ys), max(ys)


def _contains_numpy(
    rings: list[list[tuple[float, float]]], px: np.ndarray, py: np.ndarray
) -> np.ndarray:
    """Vectorized even-odd ray cast: O(edges) passes over the batch."""
    inside = np.zeros(len(px), dtype=bool)
    for ring in rings:
        n = len(ring)
        for i in range(n):
            x1, y1 = ring[i]
            x2, y2 = ring[(i + 1) % n]
            if y1 == y2:
                continue
            crosses = (y1 > py) != (y2 > py)
            with np.errstate(divide="ignore", invalid="ignore"):
                xint = (x2 - x1) * (py - y1) / (y2 - y1) + x1
            inside ^= crosses & (px < xint)
    return inside


def point_in_polygon_udf(wkt: str):
    """Pandas-UDF factory: (x, y) → boolean containment for a fixed WKT
    (POLYGON or MULTIPOLYGON).

    The parsed ring list is captured in the closure (small, pickled once
    per task) — no per-row parsing. The test is ``_contains_numpy``, the
    same even-odd arithmetic as the native expression."""
    rings = wkt_rings(wkt)

    @F.pandas_udf(T.BooleanType())
    def _contains(x: pd.Series, y: pd.Series) -> pd.Series:
        return pd.Series(_contains_numpy(rings, x.values, y.values))

    return _contains


#: edges up to which a window's containment test is the SQL of
#: :func:`point_in_polygon_sql`, inside whole-stage codegen and within
#: the JIT's limits; a bigger polygon runs :func:`point_in_polygon_udf`
MAX_NATIVE_EDGES = 128


def point_in_polygon_sql(
    rings: list[list[tuple[float, float]]], xcol: str = "x", ycol: str = "y"
) -> str:
    """The even-odd XOR chain as SQL that Spark and DuckDB evaluate
    alike: every literal is a DOUBLE (:func:`double_sql`), and the
    operation order matches ``_contains_numpy``. Edges with y1 == y2
    never cross and are skipped."""
    expr = "FALSE"
    for ring in rings:
        n = len(ring)
        for i in range(n):
            x1, y1 = ring[i]
            x2, y2 = ring[(i + 1) % n]
            if y1 == y2:
                continue
            crosses = f"(({_d(y1)} > {ycol}) <> ({_d(y2)} > {ycol}))"
            xint = f"({_d(x2 - x1)} * ({ycol} - {_d(y1)}) / {_d(y2 - y1)} + {_d(x1)})"
            term = f"({crosses} AND ({xcol} < {xint}))"
            expr = f"({expr} <> {term})"
    return expr


def parse_wkt_linestring(wkt: str) -> list[tuple[float, float]]:
    """Parse ``LINESTRING (x y, x y, ...)`` → [(x, y), ...]."""
    s = wkt.strip()
    m = re.match(r"(?is)^LINESTRING\s*\(([^()]*)\)\s*$", s)
    if not m:
        raise ValueError(f"not a WKT LINESTRING: {wkt[:60]!r}")
    pts = []
    for pair in m.group(1).split(","):
        nums = re.findall(_NUM, pair)
        if len(nums) < 2:
            raise ValueError(f"bad coordinate pair {pair!r}")
        pts.append((float(nums[0]), float(nums[1])))
    if len(pts) < 2:
        raise ValueError("LINESTRING needs >= 2 points")
    return pts


def _segments(pts: list[tuple[float, float]]):
    """Per-segment constants (ax, ay, dx, dy, len²), python-float
    precomputed so Spark and the SQL oracle embed IDENTICAL literals."""
    out = []
    for (ax, ay), (bx, by) in zip(pts, pts[1:]):
        dx, dy = bx - ax, by - ay
        out.append((ax, ay, dx, dy, dx * dx + dy * dy))
    return out


def polyline_buffer_col(
    pts: list[tuple[float, float]], dist: float, x: str = "x", y: str = "y"
) -> Column:
    """dist(point, polyline) ≤ dist for columns ``x``, ``y`` as a native
    Column: :func:`polyline_buffer_sql` parsed in one call."""
    return F.expr(polyline_buffer_sql(pts, dist, x, y))


def polyline_buffer_sql(pts: list[tuple[float, float]], dist: float, x: str = "x", y: str = "y") -> str:
    """OR over segments of clamped point-to-segment distance² ≤ dist²,
    as SQL with DOUBLE literals. All constants are precomputed in
    Python, so every engine embeds identical values."""
    d2max = _d(float(dist) * float(dist))
    terms = []
    for ax, ay, dx, dy, l2 in _segments(pts):
        if l2 == 0.0:
            terms.append(
                f"((({x} - {_d(ax)})*({x} - {_d(ax)}) + ({y} - {_d(ay)})*({y} - {_d(ay)})) <= {d2max})"
            )
        else:
            t = f"((({x} - {_d(ax)}) * {_d(dx)} + ({y} - {_d(ay)}) * {_d(dy)}) / {_d(l2)})"
            tc = f"least(greatest({t}, {_d(0.0)}), {_d(1.0)})"
            cx = f"({_d(ax)} + {tc} * {_d(dx)})"
            cy = f"({_d(ay)} + {tc} * {_d(dy)})"
            terms.append(
                f"((({x} - {cx})*({x} - {cx}) + ({y} - {cy})*({y} - {cy})) <= {d2max})"
            )
    return "(" + " OR ".join(terms) + ")"


def polyline_bbox(pts: list[tuple[float, float]], dist: float) -> tuple[float, float, float, float]:
    """Buffer-expanded bounding box of the polyline (prune window)."""
    xs = [p[0] for p in pts]
    ys = [p[1] for p in pts]
    return min(xs) - dist, max(xs) + dist, min(ys) - dist, max(ys) + dist


def circle_sql(cx: float, cy: float, r: float) -> str:
    """(x-cx)² + (y-cy)² ≤ r² over columns ``x``, ``y`` as SQL with
    DOUBLE literals (reference Q7 used PostGIS ST_DWithin + DELETE; we
    filter, retrieve_data.py:46-63). r² is computed in Python, so every
    engine compares against the same value."""
    dx, dy = f"(x - {_d(cx)})", f"(y - {_d(cy)})"
    return f"(({dx} * {dx} + {dy} * {dy}) <= {_d(float(r) * float(r))})"


def _segment_stations(pts: list[tuple[float, float]]):
    """Per-segment constants plus python-float cumulative chainage
    (ax, ay, dx, dy, l2, cum, seg_len) — precomputed so Spark and the
    SQL oracle embed IDENTICAL literals."""
    import math

    out, cum = [], 0.0
    for ax, ay, dx, dy, l2 in _segments(pts):
        seg_len = math.sqrt(l2)
        out.append((ax, ay, dx, dy, l2, cum, seg_len))
        cum = cum + seg_len
    return out


def station_stage_cols(pts: list[tuple[float, float]], x: Column, y: Column):
    """Per-segment (d2_i, st_i) Columns: squared distance to segment i
    and the chainage (distance along the polyline) of the clamped
    projection onto it. Kept as a NAMED projection stage (linear-size
    expressions) so the argmin fold can reference columns instead of
    duplicating subtrees."""
    cols = []
    for i, (ax, ay, dx, dy, l2, cum, seg_len) in enumerate(
        _segment_stations(pts)
    ):
        if l2 == 0.0:
            ddx, ddy = x - F.lit(ax), y - F.lit(ay)
            d2 = ddx * ddx + ddy * ddy
            st = F.lit(cum)
        else:
            t = ((x - F.lit(ax)) * F.lit(dx) + (y - F.lit(ay)) * F.lit(dy)) / F.lit(l2)
            tc = F.least(F.greatest(t, F.lit(0.0)), F.lit(1.0))
            cx = F.lit(ax) + tc * F.lit(dx)
            cy = F.lit(ay) + tc * F.lit(dy)
            d2 = (x - cx) * (x - cx) + (y - cy) * (y - cy)
            st = F.lit(cum) + tc * F.lit(seg_len)
        cols.append(d2.alias(f"d2_{i}"))
        cols.append(st.alias(f"st_{i}"))
    return cols


def station_fold_cols(n_segments: int):
    """(station, d2) argmin over the named stage columns of
    :func:`station_stage_cols`. The min distance is computed with
    ``least`` (exactly one of the d2_i, no rounding), then the station
    is selected by first-match equality — the EARLIEST segment wins
    exact ties, deterministically and dialect-identically."""
    d2s = [F.col(f"d2_{i}") for i in range(n_segments)]
    dmin = d2s[0] if n_segments == 1 else F.least(*d2s)
    st = F.when(d2s[0] == dmin, F.col("st_0"))
    for i in range(1, n_segments):
        st = st.when(d2s[i] == dmin, F.col(f"st_{i}"))
    return st, dmin


def station_stage_sql(
    pts: list[tuple[float, float]], x: str = "x", y: str = "y"
) -> list[str]:
    """SQL twin of :func:`station_stage_cols` — ``d2_i``/``st_i``
    select-list items with the same literals and operation order."""
    items = []
    for i, (ax, ay, dx, dy, l2, cum, seg_len) in enumerate(
        _segment_stations(pts)
    ):
        if l2 == 0.0:
            d2 = f"(({x} - {ax!r})*({x} - {ax!r}) + ({y} - {ay!r})*({y} - {ay!r}))"
            st = repr(cum)
        else:
            t = f"((({x} - {ax!r}) * {dx!r} + ({y} - {ay!r}) * {dy!r}) / {l2!r})"
            tc = f"least(greatest({t}, 0.0), 1.0)"
            cx = f"({ax!r} + {tc} * {dx!r})"
            cy = f"({ay!r} + {tc} * {dy!r})"
            d2 = f"(({x} - {cx})*({x} - {cx}) + ({y} - {cy})*({y} - {cy}))"
            st = f"({cum!r} + {tc} * {seg_len!r})"
        items.append(f"{d2} AS d2_{i}")
        items.append(f"{st} AS st_{i}")
    return items


def station_fold_sql(n_segments: int) -> tuple[str, str]:
    """SQL twin of :func:`station_fold_cols` (station_expr, dmin_expr).
    ``station_expr`` references a column named ``dmin`` — the caller
    materializes ``dmin_expr AS dmin`` in an intermediate stage so the
    text stays linear in the segment count."""
    if n_segments == 1:
        dmin = "d2_0"
    else:
        dmin = "least(" + ", ".join(f"d2_{i}" for i in range(n_segments)) + ")"
    st = "CASE " + " ".join(
        f"WHEN d2_{i} = dmin THEN st_{i}" for i in range(n_segments)
    ) + " END"
    return st, dmin
