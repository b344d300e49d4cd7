"""NumPy brute-force oracle for every benchmark operation.

Each predicate repeats the engine's arithmetic in the same order
(``lasdb_spark.functions.geometry``, ``WindowQuerier``), so results
agree bit for bit rather than within a tolerance. An answer is
compared as (row count, order-independent checksum of the (x, y, z)
rows). The block layout is compared after the same quantize → Morton
decode round trip the engine applies (FIXTURES.md §5). A batch request
(``multi_window``) is compared per window, pose or zone.
"""

from __future__ import annotations

import re

import numpy as np

_NUM = r"[-+]?\d+(?:\.\d+)?(?:[eE][-+]?\d+)?"


def _mix(h: np.ndarray) -> np.ndarray:
    """splitmix64 finaliser on uint64 (wrapping arithmetic)."""
    h = (h ^ (h >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    h = (h ^ (h >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return h ^ (h >> np.uint64(31))


def checksum(*columns) -> tuple[int, int]:
    """(count, sum of per-row hashes mod 2^64) over equal-length
    columns — independent of row order."""
    cols = [np.ascontiguousarray(np.asarray(a, dtype=np.float64) + 0.0) for a in columns]
    with np.errstate(over="ignore"):
        h = _mix(cols[0].view(np.uint64))
        for c in cols[1:]:
            h = _mix(h ^ c.view(np.uint64))
        return len(cols[0]), int(np.sum(h, dtype=np.uint64))


def block_roundtrip(xyz: np.ndarray, scales=(1.0, 1.0, 1.0), offsets=(0.0, 0.0, 0.0)) -> np.ndarray:
    """Quantize x/y half-up onto the grid and decode back (z is kept)."""
    out = xyz.copy()
    for i in (0, 1):
        q = np.floor((xyz[:, i] - offsets[i]) / scales[i] + 0.5)
        out[:, i] = q * scales[i] + offsets[i]
    return out


def parse_rings(wkt: str) -> list[list[tuple[float, float]]]:
    body = wkt[wkt.index("(") + 1 : wkt.rindex(")")]
    rings = []
    for ring in re.findall(r"\(([^()]*)\)", body):
        pts = []
        for pair in ring.split(","):
            nums = re.findall(_NUM, pair)
            pts.append((float(nums[0]), float(nums[1])))
        rings.append(pts)
    return rings


def parse_linestring(wkt: str) -> list[tuple[float, float]]:
    body = wkt[wkt.index("(") + 1 : wkt.rindex(")")]
    return [tuple(float(v) for v in re.findall(_NUM, pair)[:2]) for pair in body.split(",")]


def _between(v, lo, hi):
    return (v >= lo) & (v <= hi)


def _even_odd(rings, x, y) -> np.ndarray:
    inside = np.zeros(len(x), dtype=bool)
    for ring in rings:
        n = len(ring)
        for i in range(n):
            x1, y1 = ring[i]
            x2, y2 = ring[(i + 1) % n]
            if y1 == y2:
                continue
            crosses = (y1 > y) != (y2 > y)
            xint = (x2 - x1) * (y - y1) / (y2 - y1) + x1
            inside ^= crosses & (x < xint)
    return inside


def _polyline(pts, dist, x, y) -> np.ndarray:
    d2max = float(dist) * float(dist)
    hit = np.zeros(len(x), dtype=bool)
    for (ax, ay), (bx, by) in zip(pts, pts[1:]):
        dx, dy = bx - ax, by - ay
        l2 = dx * dx + dy * dy
        if l2 == 0.0:
            ddx, ddy = x - ax, y - ay
            hit |= (ddx * ddx + ddy * ddy) <= d2max
            continue
        t = ((x - ax) * dx + (y - ay) * dy) / l2
        tc = np.minimum(np.maximum(t, 0.0), 1.0)
        cx = ax + tc * dx
        cy = ay + tc * dy
        hit |= ((x - cx) * (x - cx) + (y - cy) * (y - cy)) <= d2max
    return hit


def _zslab(z, minz, maxz) -> np.ndarray:
    m = np.ones(len(z), dtype=bool)
    if minz is not None:
        m &= z >= float(minz)
    if maxz is not None:
        m &= z <= float(maxz)
    return m


class Oracle:
    """Brute-force answers over an in-memory (n, 3) cloud."""

    def __init__(self, xyz: np.ndarray):
        self.xyz = np.ascontiguousarray(xyz, dtype=np.float64)

    def _window(self, x0, x1, y0, y1) -> np.ndarray:
        """Row indices inside an inclusive bbox (the engine's refine)."""
        x, y = self.xyz[:, 0], self.xyz[:, 1]
        return np.flatnonzero(_between(x, x0, x1) & _between(y, y0, y1))

    def select(self, q: dict) -> np.ndarray:
        """Rows answering one single-window query (generator dict)."""
        mode, g = q["mode"], q["geometry"]
        if mode == "nn":
            return self.knn(g[0], g[1], q["k"], q["minz"], q["maxz"])
        if mode == "bbox":
            idx = self._window(*(float(v) for v in g))
        elif mode == "circle":
            (cx, cy), r = (float(g[0][0]), float(g[0][1])), float(g[1])
            # a wide prefilter: the exact test alone decides, as in the engine
            idx = self._window(cx - 2 * r, cx + 2 * r, cy - 2 * r, cy + 2 * r)
            dx = self.xyz[idx, 0] - cx
            dy = self.xyz[idx, 1] - cy
            idx = idx[(dx * dx + dy * dy) <= r * r]
        elif mode == "polygon":
            rings = parse_rings(g)
            xs = [p[0] for ring in rings for p in ring]
            ys = [p[1] for ring in rings for p in ring]
            idx = self._window(min(xs), max(xs), min(ys), max(ys))
            idx = idx[_even_odd(rings, self.xyz[idx, 0], self.xyz[idx, 1])]
        elif mode == "polyline":
            pts, dist = parse_linestring(g[0]), float(g[1])
            xs = [p[0] for p in pts]
            ys = [p[1] for p in pts]
            idx = self._window(min(xs) - dist, max(xs) + dist, min(ys) - dist, max(ys) + dist)
            idx = idx[_polyline(pts, dist, self.xyz[idx, 0], self.xyz[idx, 1])]
        else:
            raise ValueError(f"unknown mode {mode!r}")
        return self.xyz[idx[_zslab(self.xyz[idx, 2], q["minz"], q["maxz"])]]

    def knn(self, px, py, k, minz=None, maxz=None) -> np.ndarray:
        px, py = float(px), float(py)
        pts = self.xyz[_zslab(self.xyz[:, 2], minz, maxz)]
        x, y, z = pts[:, 0], pts[:, 1], pts[:, 2]
        d2 = (x - px) * (x - px) + (y - py) * (y - py)
        # keep a generous shortlist before the exact lexicographic sort
        if len(d2) > 4 * k:
            cut = np.partition(d2, k - 1)[k - 1]
            keep = d2 <= cut
            pts, d2 = pts[keep], d2[keep]
            x, y, z = pts[:, 0], pts[:, 1], pts[:, 2]
        order = np.lexsort((z, y, x, d2))[:k]
        return pts[order]

    def expect(self, q: dict) -> tuple[int, int]:
        rows = self.select(q)
        return checksum(rows[:, 0], rows[:, 1], rows[:, 2])

    # -- batch requests (multi_window) -----------------------------------
    def _stats(self, idx: np.ndarray) -> tuple:
        """(n, z_min, z_max, z_avg) as ``zonal_stats`` computes them,
        from exact centi-unit integers."""
        zq = np.rint(self.xyz[idx, 2] * 100).astype(np.int64)
        return len(zq), zq.min() / 100.0, zq.max() / 100.0, int(zq.sum()) / (len(zq) * 100.0)

    def expect_batch(self, b: dict):
        """The answer to one batch request (generator dict): for
        ``multi_bbox`` and ``zonal`` {id: (n, z_min, z_max[, z_avg])} over
        the non-empty windows or zones; for ``knn_join`` the checksum
        of the (q_id, x, y, z) rows."""
        kind = b["kind"]
        if kind == "multi_bbox":
            out = {}
            for win_id, x0, x1, y0, y1 in b["windows"]:
                idx = self._window(float(x0), float(x1), float(y0), float(y1))
                if len(idx):
                    out[int(win_id)] = (len(idx), self.xyz[idx, 2].min(), self.xyz[idx, 2].max())
            return out
        if kind == "zonal":
            out = {}
            for zone_id, wkt in b["zones"]:
                rings = parse_rings(wkt)
                xs = [p[0] for ring in rings for p in ring]
                ys = [p[1] for ring in rings for p in ring]
                idx = self._window(min(xs), max(xs), min(ys), max(ys))
                idx = idx[_even_odd(rings, self.xyz[idx, 0], self.xyz[idx, 1])]
                if len(idx):
                    out[int(zone_id)] = self._stats(idx)
            return out
        if kind == "knn_join":
            r = float(b["radius"])
            parts = []
            for q_id, qx, qy in b["poses"]:
                qx, qy = float(qx), float(qy)
                idx = self._window(qx - r, qx + r, qy - r, qy + r)
                x, y, z = self.xyz[idx, 0], self.xyz[idx, 1], self.xyz[idx, 2]
                d2 = (x - qx) * (x - qx) + (y - qy) * (y - qy)
                keep = d2 <= r * r
                order = np.lexsort((z[keep], y[keep], x[keep], d2[keep]))[: int(b["k"])]
                rows = self.xyz[idx[keep][order]]
                parts.append(np.column_stack([np.full(len(rows), float(q_id)), rows]))
            rows = np.concatenate(parts) if parts else np.empty((0, 4))
            return checksum(*rows.T)
        raise ValueError(f"unknown batch kind {kind!r}")


def batch_answer(kind: str, pdf):
    """An engine batch result (pandas) in the form ``expect_batch`` gives."""
    if kind == "knn_join":
        return checksum(pdf["q_id"], pdf["x"], pdf["y"], pdf["z"])
    key = "win_id" if kind == "multi_bbox" else "zone_id"
    cols = ["n_points", "z_min", "z_max"] + (["z_avg"] if kind == "zonal" else [])
    return {int(row[0]): tuple(row[1:]) for row in pdf[[key, *cols]].itertuples(index=False)}


def same_batch(kind: str, got, want) -> bool:
    """Exact, except ``zonal``'s z_avg, which the engine rounds to six
    decimals."""
    if kind != "zonal":
        return got == want
    return got.keys() == want.keys() and all(
        got[k][:3] == want[k][:3] and abs(got[k][3] - want[k][3]) <= 1e-6 for k in want
    )
