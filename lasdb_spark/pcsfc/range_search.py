"""Driver-side SFC range decomposition (the query planner's filter step).

Re-derivation of the reference's quadtree descent
(pcsfc/range_search.py:4-47) with the defects fixed (SURVEY §2.6):
shallow depths are handled, the output is always bound, and the number
of emitted ranges is CAPPED — an un-refined cell is emitted as one
conservative covering range instead of exploding the range list (the
reference's thin-window queries, e.g. D21's 1m×23km rectangle, have no
such guard).

Output ranges are in FULL Morton-key space; convert to head space with
``key_ranges_to_head_ranges`` for the block layout. Soundness contract:
every grid cell inside the query bbox is covered by some range (points
outside may also be covered — the exact refine filter removes them).
"""

from __future__ import annotations

import math
from typing import Sequence

DEFAULT_MAX_RANGES = 256


def _merge_ranges(ranges: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """Merge sorted, possibly-adjacent key ranges."""
    if not ranges:
        return []
    merged = [ranges[0]]
    for lo, hi in ranges[1:]:
        plo, phi = merged[-1]
        if lo <= phi + 1:
            merged[-1] = (plo, max(phi, hi))
        else:
            merged.append((lo, hi))
    return merged


def decompose_bbox(
    qxmin: int,
    qxmax: int,
    qymin: int,
    qymax: int,
    bits: int,
    max_ranges: int = DEFAULT_MAX_RANGES,
) -> list[tuple[int, int]]:
    """Decompose a quantized bbox into ≤ ``max_ranges`` Morton-key ranges.

    Level-by-level (BFS) quadtree refinement over the 2^bits × 2^bits
    grid. A cell fully inside the window emits its whole contiguous key
    range; a disjoint cell is pruned; an overlapping cell is split —
    while the merged ranges of the next level still fit the budget.
    The first level that does not fit is not taken: the overlap cells
    of the last level are emitted whole, conservatively.
    """
    if bits < 1 or bits > 31:
        raise ValueError(f"bits must be in [1, 31], got {bits}")
    grid_max = (1 << bits) - 1
    qxmin, qymin = max(qxmin, 0), max(qymin, 0)
    qxmax, qymax = min(qxmax, grid_max), min(qymax, grid_max)
    if qxmin > qxmax or qymin > qymax:
        return []

    ranges: list[tuple[int, int]] = []  # merged ranges of inside cells
    # overlap cells as (x0, y0, first key) of size×size Morton-aligned
    # squares, in key order; x is the low bit of each interleaved pair,
    # so quadrant q (x, then y) of a cell starts q quarters into it
    cells: list[tuple[int, int, int]] = [(0, 0, 0)]
    size = 1 << bits
    while cells and size > 1:
        half = size >> 1
        span = half * half
        inside: list[tuple[int, int]] = []
        nxt: list[tuple[int, int, int]] = []
        for x0, y0, base in cells:
            for q, (cx, cy) in enumerate(
                ((x0, y0), (x0 + half, y0), (x0, y0 + half), (x0 + half, y0 + half))
            ):
                if cx > qxmax or cy > qymax or cx + half - 1 < qxmin or cy + half - 1 < qymin:
                    continue  # disjoint
                lo = base + q * span
                if cx >= qxmin and cy >= qymin and cx + half - 1 <= qxmax and cy + half - 1 <= qymax:
                    inside.append((lo, lo + span - 1))
                else:
                    nxt.append((cx, cy, lo))
        refined = _merge_ranges(sorted(ranges + inside))
        partial = [(lo, lo + span - 1) for _, _, lo in nxt]
        if len(_merge_ranges(sorted(refined + partial))) > max_ranges:
            break  # over budget: keep this level's overlap cells whole
        ranges, cells, size = refined, nxt, half
    whole = [(lo, lo + size * size - 1) for _, _, lo in cells]
    return _merge_ranges(sorted(ranges + whole))


def key_ranges_to_head_ranges(
    ranges: Sequence[tuple[int, int]], tail_len: int
) -> list[tuple[int, int]]:
    """Project full-key ranges onto head space (block layout pruning)."""
    return _merge_ranges(sorted((lo >> tail_len, hi >> tail_len) for lo, hi in ranges))


def _ranges_sql(colname: str, ranges: Sequence[tuple[int, int]]) -> str:
    """Balanced OR-of-BETWEENs over ``colname``, rendered as a single
    SQL string for ``F.expr`` — one py4j call instead of O(ranges) Java
    object constructions. Parenthesized recursively so the parser
    builds a balanced tree: a left-deep OR chain makes Catalyst codegen
    build quadratically large strings (JVM OOM observed at ~256
    terms)."""

    def rec(rs) -> str:
        if len(rs) == 1:
            lo, hi = rs[0]
            return f"{colname} BETWEEN {int(lo)} AND {int(hi)}"
        mid = len(rs) // 2
        return f"({rec(rs[:mid])} OR {rec(rs[mid:])})"

    return rec(list(ranges))


# Above this many ranges, OR-of-BETWEENs stops paying for itself
# and a broadcast range semi-join wins; no window plans more ranges
# than this. The cap is set by HotSpot, not Janino: each OR term
# adds ~150 bytes of bytecode to the scan stage's method, and a method
# past HotSpot's 8,000-byte huge-method limit is never JIT-compiled,
# so the filter runs in the bytecode interpreter. With a bbox refine,
# 32 terms compile to a ~5.3 KB method and 64 terms to ~10.1 KB.
MAX_OR_TERMS = 32


def apply_key_ranges(df, colname: str, ranges: Sequence[tuple[int, int]]):
    """Filter ``df`` to rows whose ``colname`` falls in any range.

    Two physical strategies (mirrors reference Q2/Q3,
    pipeline/retrieve_data.py:110-125, Spark-first):

    - few ranges → balanced OR-of-BETWEENs, fully pushed down to the
      Parquet scan (row-group and page skipping) — the Spark analog of the
      reference's B-tree range scan (db/__init__.py:118-126);
    - many ranges → one coarse ``BETWEEN(min, max)`` that IS pushed
      down, then a broadcast LEFT SEMI range join against the tiny
      in-memory range table (the reference's temp RangeTable + EXISTS,
      without the round-trip). No shuffle: ranges are broadcast.
    """
    from pyspark.sql import functions as F

    if not ranges:
        return df.filter(F.lit(False))
    col = F.col(colname)
    if len(ranges) <= MAX_OR_TERMS:
        return df.filter(F.expr(_ranges_sql(colname, ranges)))
    lo_min, hi_max = ranges[0][0], ranges[-1][1]
    spark = df.sparkSession
    rdf = spark.createDataFrame(
        [(int(lo), int(hi)) for lo, hi in ranges], "r_lo long, r_hi long"
    )
    return (
        df.filter(col.between(lo_min, hi_max))
        .join(F.broadcast(rdf), col.between(F.col("r_lo"), F.col("r_hi")), "leftsemi")
    )


def planning_grid_bounds(
    vmin: float, vmax: float, scale: float, offset: float
) -> tuple[int, int]:
    """Conservative quantized bounds for planning: floor the min, ceil the max.

    Wider than round() on both ends, so the decomposition covers every
    point regardless of rounding-mode subtleties at cell boundaries.
    """
    return (
        math.floor((vmin - offset) / scale),
        math.ceil((vmax - offset) / scale),
    )
