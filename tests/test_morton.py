"""Property tests for the pure-Python Morton core (SURVEY §5 strategy 1)."""

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from lasdb_spark.pcsfc import morton

coord = st.integers(min_value=0, max_value=(1 << 31) - 1)


@given(coord, coord)
def test_encode_decode_roundtrip(x, y):
    m = morton.encode_morton_2d(x, y)
    assert morton.decode_morton_2d(m) == (x, y)


@given(coord)
def test_expand_compact_roundtrip(n):
    assert morton.compact2d(morton.expand2d(n)) == n


def test_expand_rejects_negative():
    with pytest.raises(ValueError):
        morton.expand2d(-1)


@given(coord, coord, st.integers(min_value=0, max_value=40))
def test_split_merge_identity(x, y, tail_len):
    m = morton.encode_morton_2d(x, y)
    head, tail = morton.split_key(m, tail_len)
    assert morton.merge_key(head, tail, tail_len) == m
    assert 0 <= tail < (1 << tail_len) or tail_len == 0 and tail == 0


@given(coord, coord)
def test_morton_order_preserves_locality_bits(x, y):
    # interleave: x on even bits, y on odd bits
    m = morton.encode_morton_2d(x, y)
    assert morton.compact2d(m) == x
    assert morton.compact2d(m >> 1) == y


@given(
    st.integers(min_value=1, max_value=(1 << 31) - 1),
    st.integers(min_value=1, max_value=(1 << 31) - 1),
    st.floats(min_value=0.1, max_value=1.0),
)
def test_split_length_even_and_partitions_bits(x, y, ratio):
    head_len, tail_len = morton.compute_split_length(x, y, ratio)
    assert head_len % 2 == 0
    assert head_len >= 0 and tail_len >= 0
    assert head_len + tail_len == morton.encode_morton_2d(x, y).bit_length()


@settings(max_examples=30)
@given(
    st.integers(min_value=0, max_value=255),
    st.integers(min_value=0, max_value=255),
    st.integers(min_value=0, max_value=255),
    st.integers(min_value=0, max_value=255),
)
def test_decomposition_soundness_exhaustive_8bit(x0, x1, y0, y1):
    """Every cell in the bbox is covered by some range; ranges stay sorted."""
    from lasdb_spark.pcsfc import decompose_bbox

    qxmin, qxmax = sorted((x0, x1))
    qymin, qymax = sorted((y0, y1))
    ranges = decompose_bbox(qxmin, qxmax, qymin, qymax, bits=8, max_ranges=64)
    assert all(lo <= hi for lo, hi in ranges)
    assert all(ranges[i][1] + 1 < ranges[i + 1][0] for i in range(len(ranges) - 1))

    def covered(k):
        return any(lo <= k <= hi for lo, hi in ranges)

    # sample the bbox corners + a grid of interior cells
    xs = {qxmin, qxmax, (qxmin + qxmax) // 2}
    ys = {qymin, qymax, (qymin + qymax) // 2}
    for x in xs:
        for y in ys:
            assert covered(morton.encode_morton_2d(x, y)), (x, y)


def test_decomposition_exact_small():
    """3×3 window fully enumerated: ranges ∪ = exactly a superset of the
    window's keys, and with a generous budget, nothing outside."""
    from lasdb_spark.pcsfc import decompose_bbox

    ranges = decompose_bbox(2, 4, 3, 5, bits=4, max_ranges=10_000)
    keys_in_ranges = {k for lo, hi in ranges for k in range(lo, hi + 1)}
    expected = {
        morton.encode_morton_2d(x, y) for x in range(2, 5) for y in range(3, 6)
    }
    assert keys_in_ranges == expected


def test_decomposition_respects_cap():
    from lasdb_spark.pcsfc import decompose_bbox

    # thin 1-cell-wide window spanning the grid (worst case, D21-shaped)
    ranges = decompose_bbox(100, 100, 0, (1 << 16) - 1, bits=16, max_ranges=64)
    assert len(ranges) <= 64
    for y in (0, 1234, 65535):
        k = morton.encode_morton_2d(100, y)
        assert any(lo <= k <= hi for lo, hi in ranges)


def test_decomposition_spends_its_budget():
    """A budget the exact decomposition fits in gets the exact ranges:
    the planner refines while the merged ranges fit, not while a
    worst-case growth estimate does (which stopped this 1-wide column
    at 32 coarse ranges of a 64-range budget)."""
    from lasdb_spark.pcsfc import decompose_bbox

    exact = decompose_bbox(5, 5, 0, 63, bits=6, max_ranges=10_000)
    assert len(exact) == 64
    assert decompose_bbox(5, 5, 0, 63, bits=6, max_ranges=64) == exact
    coarse = decompose_bbox(5, 5, 0, 63, bits=6, max_ranges=63)
    assert len(coarse) <= 63 and coarse != exact


def test_decomposition_empty_and_clamped():
    from lasdb_spark.pcsfc import decompose_bbox

    assert decompose_bbox(10, 5, 0, 3, bits=8) == []
    assert decompose_bbox(300, 400, 300, 400, bits=8) == []  # outside grid
    full = decompose_bbox(0, 255, 0, 255, bits=8)
    assert full == [(0, 65535)]
