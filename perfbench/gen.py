"""Seeded input generator for the point-cloud store benchmark.

Builds the AHN-shaped clustered cloud of FIXTURES.md §1 (uniform
background over x ∈ [85000, 86000), y ∈ [446000, 447500) plus clustered
hotspots; z a ground/elevated mixture), writes it as LAS tiles through
``lasdb_spark.sources.las.write_las``, writes the streaming append
batches as Parquet, and emits the query, batch and zone streams that
cover every FIXTURES.md §4 shape class.

All coordinates live on the LAS integer grid (scale 0.01), so the
values the engine decodes from the tiles are exactly ``X * 0.01 + 0``
— the oracle computes the same doubles from the same integers.
Geometry literals are rounded to 0.01 and rendered with two decimals,
so the WKT the engine parses and the floats the oracle uses coincide.

The same seed gives byte-identical files.
"""

from __future__ import annotations

import json
import math
import os
from dataclasses import dataclass

import numpy as np

X0, X1 = 85000.0, 86000.0
Y0, Y1 = 446000.0, 447500.0
Z_LO, Z_HI = -5.0, 40.0
LAS_SCALE = 0.01
HOTSPOT_SHARE = 0.10
N_HOTSPOTS = 8
HOTSPOT_SIGMA = 15.0
TILES_X, TILES_Y = 2, 4

#: FIXTURES.md §4 shape classes; every block of the single-window
#: stream holds each class once, in a seeded order.
SHAPE_CLASSES = (
    "small_rect",
    "large_rect",
    "small_circle",
    "medium_circle",
    "polygon",
    "polygon_1hole",
    "polygon_2holes",
    "thin_diagonal",
    "polyline_buffer",
    "narrow_rect",
    "empty_rect",
    "bbox_minz",
    "bbox_maxz",
    "knn",
)
KNN_K = 1000
#: one class of each query mode (bbox, circle, polygon, polyline, nn),
#: the warm-up before measuring: the classes of one mode run the same
#: library calls and Spark operators, and differ in literals, which
#: every query compiles afresh
WARMUP_CLASSES = ("small_rect", "small_circle", "polygon_2holes", "polyline_buffer", "knn")
BATCH_KINDS = ("multi_bbox", "knn_join", "zonal")
BATCH_WINDOWS = 64
BATCH_POSES = 64
BATCH_ZONES = 8
KNN_JOIN_K = 16
KNN_JOIN_RADIUS = 8.0


@dataclass(frozen=True)
class Sizes:
    """Input sizes; see ``run.py`` for the values each workload uses."""

    points: int
    append_batches: int = 0
    append_points: int = 0
    queries: int = 14 * 40
    batches: int = 3 * 40


def _r2(v: float) -> float:
    return float(f"{v:.2f}")


def _fmt(v: float) -> str:
    return f"{v:.2f}"


def _cloud_ints(rng: np.random.Generator, n: int, hotspots: np.ndarray) -> np.ndarray:
    """(n, 3) int64 LAS grid coordinates (X, Y, Z at scale 0.01)."""
    n_hot = int(n * HOTSPOT_SHARE)
    n_bg = n - n_hot
    x = np.empty(n)
    y = np.empty(n)
    x[:n_bg] = rng.uniform(X0, X1, n_bg)
    y[:n_bg] = rng.uniform(Y0, Y1, n_bg)
    which = rng.integers(0, len(hotspots), n_hot)
    x[n_bg:] = hotspots[which, 0] + rng.normal(0.0, HOTSPOT_SIGMA, n_hot)
    y[n_bg:] = hotspots[which, 1] + rng.normal(0.0, HOTSPOT_SIGMA, n_hot)
    ground = rng.random(n) < 0.6
    z = np.where(ground, rng.normal(2.0, 0.5, n), rng.normal(15.0, 5.0, n))
    xi = np.clip(np.floor(x / LAS_SCALE), X0 / LAS_SCALE, X1 / LAS_SCALE - 1)
    yi = np.clip(np.floor(y / LAS_SCALE), Y0 / LAS_SCALE, Y1 / LAS_SCALE - 1)
    zi = np.clip(np.round(z / LAS_SCALE), Z_LO / LAS_SCALE, Z_HI / LAS_SCALE)
    return np.stack([xi, yi, zi], axis=1).astype(np.int64)


def ints_to_xyz(ints: np.ndarray) -> np.ndarray:
    """The doubles the LAS reader produces: ``X * scale + offset``."""
    out = np.empty(ints.shape, dtype=np.float64)
    for i in range(3):
        out[:, i] = ints[:, i] * LAS_SCALE + 0.0
    return out


# -- geometry streams -------------------------------------------------------


def _center(rng, hotspots, margin: float, near: bool | None = None) -> tuple[float, float]:
    """Hotspot-biased window centre: near a hotspot or uniform, as
    ``near`` says, or by a coin flip when it is ``None``."""
    if near is None:
        near = rng.random() < 0.5
    if near:
        h = hotspots[rng.integers(0, len(hotspots))]
        cx, cy = h[0] + rng.normal(0, 2 * HOTSPOT_SIGMA), h[1] + rng.normal(0, 2 * HOTSPOT_SIGMA)
    else:
        cx, cy = rng.uniform(X0, X1), rng.uniform(Y0, Y1)
    cx = min(max(cx, X0 + margin), X1 - margin)
    cy = min(max(cy, Y0 + margin), Y1 - margin)
    return _r2(cx), _r2(cy)


def _star(rng, cx, cy, radius, n_vertices, jitter=0.35):
    """Simple star-shaped ring (counter-clockwise, closed)."""
    step = 2 * math.pi / n_vertices
    angles = (np.arange(n_vertices) + rng.uniform(-0.3, 0.3, n_vertices)) * step
    radii = radius * (1.0 - jitter * rng.random(n_vertices))
    ring = [(_r2(cx + r * math.cos(a)), _r2(cy + r * math.sin(a))) for a, r in zip(angles, radii)]
    return ring + [ring[0]]


def _square(cx, cy, half):
    pts = [(cx - half, cy - half), (cx + half, cy - half), (cx + half, cy + half), (cx - half, cy + half)]
    ring = [(_r2(x), _r2(y)) for x, y in pts]
    return ring + [ring[0]]


def rings_wkt(rings) -> str:
    body = ", ".join("(" + ", ".join(f"{_fmt(x)} {_fmt(y)}" for x, y in ring) + ")" for ring in rings)
    return f"POLYGON ({body})"


def _polygon_with_holes(rng, hotspots, n_holes, near=None):
    radius = rng.uniform(60, 100)
    cx, cy = _center(rng, hotspots, radius + 1, near)
    # holes sit well inside the exterior's minimum radius (1 - jitter)
    ext = _star(rng, cx, cy, radius, 10, jitter=0.3)
    shifts = [0.0] if n_holes == 1 else [-0.3, 0.3]
    return [ext] + [_square(cx + dx * radius, cy, 0.15 * radius) for dx in shifts]


def make_query(rng, cls: str, hotspots, near: bool | None = None) -> dict:
    """One single-window query of shape class ``cls``; ``near`` as for
    ``_center``."""
    q = {"cls": cls, "mode": "bbox", "minz": None, "maxz": None, "k": None}
    if cls in ("small_rect", "large_rect", "bbox_minz", "bbox_maxz"):
        w = rng.uniform(10, 30) if cls == "small_rect" else rng.uniform(100, 200)
        h = w * rng.uniform(0.6, 1.6)
        cx, cy = _center(rng, hotspots, max(w, h) / 2 + 1, near)
        q["geometry"] = [_r2(cx - w / 2), _r2(cx + w / 2), _r2(cy - h / 2), _r2(cy + h / 2)]
        if cls == "bbox_minz":
            q["minz"] = _r2(rng.uniform(8, 20))
        elif cls == "bbox_maxz":
            q["maxz"] = _r2(rng.uniform(1, 4))
    elif cls in ("small_circle", "medium_circle"):
        r = rng.uniform(8, 20) if cls == "small_circle" else rng.uniform(40, 80)
        cx, cy = _center(rng, hotspots, r + 1, near)
        q["mode"], q["geometry"] = "circle", [[cx, cy], _r2(r)]
    elif cls == "polygon":
        radius = rng.uniform(40, 90)
        cx, cy = _center(rng, hotspots, radius + 1, near)
        q["mode"] = "polygon"
        q["geometry"] = rings_wkt([_star(rng, cx, cy, radius, 10)])
    elif cls in ("polygon_1hole", "polygon_2holes"):
        q["mode"] = "polygon"
        q["geometry"] = rings_wkt(_polygon_with_holes(rng, hotspots, 1 if cls == "polygon_1hole" else 2, near))
    elif cls == "thin_diagonal":
        length, width = rng.uniform(300, 600), rng.uniform(1, 3)
        ang = rng.uniform(0.2, 1.3) * (1 if rng.random() < 0.5 else -1)
        cx, cy = _center(rng, hotspots, length / 2 + 5, near)
        ux, uy = math.cos(ang) * length / 2, math.sin(ang) * length / 2
        nx, ny = -math.sin(ang) * width / 2, math.cos(ang) * width / 2
        ring = [
            (_r2(cx - ux - nx), _r2(cy - uy - ny)),
            (_r2(cx + ux - nx), _r2(cy + uy - ny)),
            (_r2(cx + ux + nx), _r2(cy + uy + ny)),
            (_r2(cx - ux + nx), _r2(cy - uy + ny)),
        ]
        q["mode"], q["geometry"] = "polygon", rings_wkt([ring + [ring[0]]])
    elif cls == "polyline_buffer":
        cx, cy = _center(rng, hotspots, 150, near)
        pts = [(cx, cy)]
        for _ in range(4):
            px, py = pts[-1]
            a = rng.uniform(0, 2 * math.pi)
            step = rng.uniform(20, 60)
            pts.append((
                _r2(min(max(px + step * math.cos(a), X0), X1)),
                _r2(min(max(py + step * math.sin(a), Y0), Y1)),
            ))
        wkt = "LINESTRING (" + ", ".join(f"{_fmt(x)} {_fmt(y)}" for x, y in pts) + ")"
        q["mode"], q["geometry"] = "polyline", [wkt, _r2(rng.uniform(2, 5))]
    elif cls == "narrow_rect":
        # 1-unit-wide rectangle spanning the extent (the D21 thin window)
        if rng.random() < 0.5:
            x = _r2(rng.uniform(X0, X1 - 1))
            q["geometry"] = [x, _r2(x + 1), Y0, Y1]
        else:
            y = _r2(rng.uniform(Y0, Y1 - 1))
            q["geometry"] = [X0, X1, y, _r2(y + 1)]
    elif cls == "empty_rect":
        x = _r2(rng.uniform(X0 - 900, X0 - 200))
        y = _r2(rng.uniform(Y0, Y1 - 100))
        q["geometry"] = [x, _r2(x + 100), y, _r2(y + 100)]
    elif cls == "knn":
        cx, cy = _center(rng, hotspots, 1, near)
        q["mode"], q["geometry"], q["k"] = "nn", [cx, cy], KNN_K
    else:
        raise ValueError(f"unknown shape class {cls!r}")
    return q


def query_stream(rng, hotspots, n: int) -> list[dict]:
    """Cycles through the shape classes in a fixed order, so a run cut
    after any number of queries samples the same class mix whatever
    the seed; the seed moves the geometry. Which queries sit near a
    hotspot is fixed too: alternate classes within a cycle, and each
    class in alternate cycles, so that one seed's run does not land
    more of its few queries on the dense clusters than another's."""
    k = len(SHAPE_CLASSES)
    return [make_query(rng, SHAPE_CLASSES[i % k], hotspots, near=(i // k + i % k) % 2 == 0)
            for i in range(n)]


def make_batch(rng, kind: str, hotspots) -> dict:
    """One table-valued request: 64 windows, 64 poses or 8 zones."""
    if kind == "multi_bbox":
        wins = []
        for i in range(BATCH_WINDOWS):
            w = rng.uniform(10, 60)
            cx, cy = _center(rng, hotspots, w / 2 + 1)
            wins.append([i, _r2(cx - w / 2), _r2(cx + w / 2), _r2(cy - w / 2), _r2(cy + w / 2)])
        return {"kind": kind, "windows": wins}
    if kind == "knn_join":
        poses = [[i, *_center(rng, hotspots, 1)] for i in range(BATCH_POSES)]
        return {"kind": kind, "poses": poses, "k": KNN_JOIN_K, "radius": KNN_JOIN_RADIUS}
    if kind == "zonal":
        zones = []
        for i in range(BATCH_ZONES):
            if i % 4 == 3:
                zones.append([i, rings_wkt(_polygon_with_holes(rng, hotspots, 1))])
            else:
                r = rng.uniform(15, 50)
                cx, cy = _center(rng, hotspots, r + 1)
                zones.append([i, rings_wkt([_star(rng, cx, cy, r, 8)])])
        return {"kind": kind, "zones": zones}
    raise ValueError(f"unknown batch kind {kind!r}")


def batch_stream(rng, hotspots, n: int) -> list[dict]:
    return [make_batch(rng, BATCH_KINDS[i % len(BATCH_KINDS)], hotspots) for i in range(n)]


# -- files -----------------------------------------------------------------


def write_tiles(ints: np.ndarray, out_dir: str) -> list[str]:
    """Split the cloud into TILES_X × TILES_Y LAS tiles (pf3, v1.2)."""
    from lasdb_spark.sources.las import write_las

    os.makedirs(out_dir, exist_ok=True)
    tx = np.minimum(((ints[:, 0] * LAS_SCALE - X0) / ((X1 - X0) / TILES_X)).astype(int), TILES_X - 1)
    ty = np.minimum(((ints[:, 1] * LAS_SCALE - Y0) / ((Y1 - Y0) / TILES_Y)).astype(int), TILES_Y - 1)
    paths = []
    for i in range(TILES_X):
        for j in range(TILES_Y):
            sel = ints[(tx == i) & (ty == j)]
            path = os.path.join(out_dir, f"tile_{i}_{j}.las")
            xyz = ints_to_xyz(sel)
            if not np.array_equal(np.round(xyz / LAS_SCALE).astype(np.int64), sel):
                raise AssertionError("LAS grid round trip is not exact")
            write_las(xyz, path, scales=(LAS_SCALE,) * 3, offsets=(0.0, 0.0, 0.0))
            paths.append(path)
    return paths


def write_append_batch(ints: np.ndarray, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    xyz = ints_to_xyz(ints)
    table = pa.table({"x": xyz[:, 0], "y": xyz[:, 1], "z": xyz[:, 2]})
    pq.write_table(table, path, compression="snappy")


def generate(seed: int, sizes: Sizes, out_dir: str) -> dict:
    """Write every input for one seed under ``out_dir``; returns the
    manifest (also written as ``manifest.json``)."""
    rng = np.random.default_rng(seed)
    hotspots = np.column_stack([
        rng.uniform(X0 + 100, X1 - 100, N_HOTSPOTS),
        rng.uniform(Y0 + 100, Y1 - 100, N_HOTSPOTS),
    ])
    ints = _cloud_ints(rng, sizes.points, hotspots)
    tiles = write_tiles(ints, os.path.join(out_dir, "tiles"))
    np.save(os.path.join(out_dir, "cloud_ints.npy"), ints)
    batches = []
    if sizes.append_batches:
        adir = os.path.join(out_dir, "appends")
        os.makedirs(adir, exist_ok=True)
        for b in range(sizes.append_batches):
            path = os.path.join(adir, f"batch_{b:04d}.parquet")
            write_append_batch(_cloud_ints(rng, sizes.append_points, hotspots), path)
            batches.append(path)
    manifest = {
        "seed": seed,
        "points": sizes.points,
        "tiles": [os.path.relpath(p, out_dir) for p in tiles],
        "append_batches": [os.path.relpath(p, out_dir) for p in batches],
        "hotspots": [[_r2(x), _r2(y)] for x, y in hotspots],
        "queries": query_stream(rng, hotspots, sizes.queries),
        "batches": batch_stream(rng, hotspots, sizes.batches),
        # run before measuring
        "warmup": [make_query(rng, c, hotspots) for c in WARMUP_CLASSES],
        "warmup_batches": [make_batch(rng, k, hotspots) for k in BATCH_KINDS],
    }
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, sort_keys=True)
    return manifest


def load_cloud(out_dir: str) -> np.ndarray:
    return ints_to_xyz(np.load(os.path.join(out_dir, "cloud_ints.npy")))
