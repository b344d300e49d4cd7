"""Geometry predicates: native Column implementations must agree with
the numpy reference (and handle degenerate input)."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from lasdb_spark.functions.geometry import (
    _contains_numpy,
    circle_sql,
    parse_wkt_linestring,
    parse_wkt_polygon,
    point_in_polygon_sql,
    polyline_buffer_col,
)


def _star_wkt(cx=50.0, cy=50.0, r1=40.0, r2=15.0, n=7) -> str:
    pts = []
    for i in range(2 * n):
        r = r1 if i % 2 == 0 else r2
        a = math.pi * i / n
        pts.append((cx + r * math.cos(a), cy + r * math.sin(a)))
    pts.append(pts[0])
    return "POLYGON ((" + ", ".join(f"{x} {y}" for x, y in pts) + "))"


@pytest.mark.spark
def test_native_polygon_matches_numpy(spark):
    """Concave 14-edge star: the SQL expression == numpy ray cast on a
    deterministic point grid."""
    wkt = _star_wkt()
    rings = parse_wkt_polygon(wkt)
    xs = np.linspace(0.3, 99.7, 57)
    ys = np.linspace(0.3, 99.7, 53)
    gx, gy = np.meshgrid(xs, ys)
    px, py = gx.ravel(), gy.ravel()
    expected = _contains_numpy(rings, px, py)

    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(px, py)], "x double, y double"
    )
    got = (
        df.withColumn("inside", F.expr(point_in_polygon_sql(rings)))
        .orderBy("x", "y")
        .collect()
    )
    want = {
        (float(a), float(b)): bool(v) for a, b, v in zip(px, py, expected)
    }
    for r in got:
        assert want[(r.x, r.y)] == r.inside


@pytest.mark.spark
def test_polyline_buffer_matches_numpy(spark):
    """Buffer membership == numpy min-distance-to-segment check."""
    wkt = "LINESTRING (10 10, 40 60, 70 30, 95 80)"
    dist = 12.5
    pts = parse_wkt_linestring(wkt)
    xs = np.linspace(0.0, 100.0, 41)
    ys = np.linspace(0.0, 100.0, 37)
    gx, gy = np.meshgrid(xs, ys)
    px, py = gx.ravel(), gy.ravel()

    def seg_d2(ax, ay, bx, by):
        dx, dy = bx - ax, by - ay
        l2 = dx * dx + dy * dy
        t = np.clip(((px - ax) * dx + (py - ay) * dy) / l2, 0.0, 1.0)
        cx, cy = ax + t * dx, ay + t * dy
        return (px - cx) ** 2 + (py - cy) ** 2

    d2 = np.min([seg_d2(*a, *b) for a, b in zip(pts, pts[1:])], axis=0)
    expected = d2 <= dist * dist

    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(px, py)], "x double, y double"
    )
    got = df.withColumn("inside", polyline_buffer_col(pts, dist)).collect()
    want = {(float(a), float(b)): bool(v) for a, b, v in zip(px, py, expected)}
    for r in got:
        assert want[(r.x, r.y)] == r.inside


@pytest.mark.spark
def test_circle_sql_matches_numpy_on_the_radius(spark):
    """Points on, and one ulp either side of, the circle: the SQL test
    decides each exactly as the NumPy formula (x-cx)² + (y-cy)² ≤ r²
    does, rounding included."""
    cx, cy, r = 85500.25, -446700.75, 0.3
    a = np.linspace(0.0, 2 * np.pi, 64, endpoint=False)
    px = cx + r * np.cos(a)
    py = cy + r * np.sin(a)
    px = np.concatenate([px, np.nextafter(px, np.inf), np.nextafter(px, -np.inf),
                         [cx + r, cx, cx + 0.18]])
    py = np.concatenate([py, py, py, [cy, cy - r, cy + 0.24]])
    expected = (px - cx) * (px - cx) + (py - cy) * (py - cy) <= r * r
    assert 0 < expected.sum() < len(expected)

    df = spark.createDataFrame(
        [(i, float(a), float(b)) for i, (a, b) in enumerate(zip(px, py))],
        "i long, x double, y double",
    )
    got = df.selectExpr("i", f"{circle_sql(cx, cy, r)} AS inside").collect()
    assert len(got) == len(expected)
    for row in got:
        assert row.inside == bool(expected[row.i]), row.i


def test_wkt_parsers_reject_garbage():
    for bad in ["POINT (1 2)", "POLYGON ()", "LINESTRING (1 2)", "nope"]:
        with pytest.raises(ValueError):
            parse_wkt_polygon(bad)
        with pytest.raises(ValueError):
            parse_wkt_linestring(bad)


def test_multipolygon_parse_and_contains():
    from lasdb_spark.functions.geometry import (
        _contains_numpy,
        parse_wkt_multipolygon,
        rings_bbox,
        wkt_rings,
    )
    import numpy as np

    wkt = (
        "MULTIPOLYGON (((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 3 1, 3 3, 1 3, 1 1)), "
        "((10 10, 12 10, 12 12, 10 12, 10 10)))"
    )
    polys = parse_wkt_multipolygon(wkt)
    assert len(polys) == 2 and len(polys[0]) == 2 and len(polys[1]) == 1
    rings = wkt_rings(wkt)
    assert len(rings) == 3
    assert rings_bbox(rings) == (0.0, 12.0, 0.0, 12.0)
    px = np.array([0.5, 2.0, 11.0, 5.0])
    py = np.array([0.5, 2.0, 11.0, 5.0])
    # in first poly, in its hole (excluded), in second poly, in neither
    assert _contains_numpy(rings, px, py).tolist() == [True, False, True, False]


def test_multipolygon_rejects_garbage():
    import pytest as _pytest

    from lasdb_spark.functions.geometry import parse_wkt_multipolygon

    with _pytest.raises(ValueError):
        parse_wkt_multipolygon("POLYGON ((0 0, 1 0, 1 1, 0 0))")
    with _pytest.raises(ValueError):
        parse_wkt_multipolygon("MULTIPOLYGON (((0 0, 1 0)")
