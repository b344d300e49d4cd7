"""What the store's scan reads and compiles: page skipping on the
flat store's sorted key, a scan stage small enough for the JIT, block
windows planned on head cells, driver-built tables that plan as
local relations, and window requests built on a point view the
querier builds once — with the block prunes still pushed to the scan
and every shape's answer equal to brute force on both layouts."""

import numpy as np
import pytest
from pyspark.sql import functions as F

POINTS = 100_000
#: HotSpot never JIT-compiles a method past this many bytes of bytecode
#: (-XX:HugeMethodLimit); such a stage runs in the bytecode interpreter
HUGE_METHOD_BYTES = 8000


def _nodes(node):
    """Every physical plan node under ``node`` (a py4j SparkPlan; these
    plans have no exchange, so no adaptive wrapper)."""
    yield node
    children = node.children()
    for i in range(children.size()):
        yield from _nodes(children.apply(i))


def _executed(df):
    return df._jdf.queryExecution().executedPlan()


def _rows_scanned(df) -> int:
    """Rows the Parquet scans of an executed ``df`` returned."""
    return sum(
        n.metrics().apply("numOutputRows").value()
        for n in _nodes(_executed(df))
        if n.getClass().getSimpleName() == "FileSourceScanExec"
    )


@pytest.fixture(scope="module")
def flat_store(spark, tmp_path_factory):
    """One-file flat store of uniform random points on 1000 × 1000."""
    from lasdb_spark.operators.ingest import ingest_points

    pts = spark.range(POINTS).select(
        (F.rand(1) * 1000).alias("x"),
        (F.rand(2) * 1000).alias("y"),
        (F.rand(3) * 50).alias("z"),
    )
    base = str(tmp_path_factory.mktemp("flat_store"))
    ingest_points(pts, "p", base)
    return base


@pytest.mark.spark
def test_small_window_reads_few_pages(spark, flat_store):
    from lasdb_spark.operators.ingest import compact_dataset, load_dataset
    from lasdb_spark.operators.window_query import WindowQuerier

    bbox = [100.0, 110.0, 200.0, 210.0]
    for step in ("ingest", "compact"):
        if step == "compact":
            compact_dataset(spark, flat_store, "p")
        df, meta, layout = load_dataset(spark, flat_store, "p")
        assert len(df.inputFiles()) == 1
        got = WindowQuerier(df, meta, layout).bbox(bbox)
        rows = got.collect()
        want = df.filter(
            F.col("x").between(*bbox[:2]) & F.col("y").between(*bbox[2:])
        ).count()
        assert len(rows) == want > 0
        scanned = _rows_scanned(got)
        assert 0 < scanned < POINTS // 10, (step, scanned)


@pytest.mark.spark
def test_capped_key_ranges_compile_for_the_jit(spark, flat_store):
    """A bbox whose decomposition reaches MAX_OR_TERMS ranges, the
    largest OR ``apply_key_ranges`` pushes, must compile with a bbox
    refine to methods HotSpot JIT-compiles."""
    from lasdb_spark.operators.ingest import load_dataset
    from lasdb_spark.pcsfc.range_search import (
        MAX_OR_TERMS,
        apply_key_ranges,
        decompose_bbox,
    )

    df, meta, _ = load_dataset(spark, flat_store, "p")
    x0, x1, y0, y1 = 100, 103, 0, 1000  # grid units: scale 1, offset 0
    ranges = decompose_bbox(x0, x1, y0, y1, meta.grid_bits, MAX_OR_TERMS)
    assert len(ranges) == MAX_OR_TERMS
    got = apply_key_ranges(df, "sfc_key", ranges).filter(
        F.col("x").between(x0, x1) & F.col("y").between(y0, y1)
    )
    got.collect()
    codegen = spark.sparkContext._jvm.org.apache.spark.sql.catalyst.expressions.codegen
    sizes = [
        codegen.CodeGenerator.compile(n.doCodeGen()._2())._2().maxMethodCodeSize()
        for n in _nodes(_executed(got))
        if n.getClass().getSimpleName() == "WholeStageCodegenExec"
    ]
    assert sizes and max(sizes) < HUGE_METHOD_BYTES, sizes


@pytest.mark.spark
@pytest.mark.parametrize("ratio", [0.7, 0.05])
def test_block_windows_plan_on_head_cells(spark, tmp_path, ratio):
    """Block windows, planned on head cells, answer exactly; at ratio
    0.05 this grid's head has no bits, so the planning grid is capped."""
    from lasdb_spark.operators.ingest import ingest_points, load_dataset
    from lasdb_spark.operators.window_query import WindowQuerier

    pts = spark.range(20_000).select(
        F.floor(F.rand(4) * 1000).cast("double").alias("x"),
        F.floor(F.rand(5) * 1000).cast("double").alias("y"),
        F.floor(F.rand(6) * 50).cast("double").alias("z"),
    )
    meta = ingest_points(pts, "b", str(tmp_path), layout="block", ratio=ratio)
    assert (meta.head_length == 0) == (ratio == 0.05)
    q = WindowQuerier(*load_dataset(spark, str(tmp_path), "b"))
    for bbox in ([100.0, 110.0, 200.0, 210.0], [500.0, 501.0, 0.0, 999.0]):
        got = sorted(q.bbox(bbox).collect())
        want = sorted(
            pts.filter(
                F.col("x").between(*bbox[:2]) & F.col("y").between(*bbox[2:])
            ).collect()
        )
        assert [tuple(r) for r in got] == [tuple(r) for r in want] != []


@pytest.mark.spark
def test_driver_tables_are_local_relations(spark, flat_store):
    """The batch cell tables and kNN's answer ship as Arrow tables, so
    they plan as LocalRelations even with the session's Arrow flag off
    (a pandas frame or a list of tuples then becomes an RDD)."""
    from lasdb_spark.operators.ingest import load_dataset
    from lasdb_spark.operators.window_query import WindowQuerier

    df, meta, layout = load_dataset(spark, flat_store, "p")
    q = WindowQuerier(df, meta, layout)
    key = "spark.sql.execution.arrow.pyspark.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        requests = {
            "multi_bbox": q.multi_bbox(
                [(i, 100.0 + 50 * i, 120.0 + 50 * i, 100.0, 130.0) for i in range(5)]
            ),
            "knn_join": q.knn_join([(i, 200.0 + i, 300.0) for i in range(5)], 5, 10.0),
            "zonal": q.zonal([(1, "POLYGON ((100 100, 200 100, 200 200, 100 100))")]),
            "knn": q.knn([500.0, 500.0], 10),
        }
        for name, got in requests.items():
            plan = got._jdf.queryExecution().optimizedPlan().toString()
            assert "LocalRelation" in plan, name
            assert "LogicalRDD" not in plan, name
            assert got.count() > 0, name
    finally:
        spark.conf.set(key, before)


def _pushed_filters(df) -> str:
    """The PushedFilters of the one Parquet scan of ``df``, untruncated."""
    (scan,) = [
        n for n in _nodes(_executed(df))
        if n.getClass().getSimpleName() == "FileSourceScanExec"
    ]
    return scan.metadata().apply("PushedFilters")


@pytest.fixture(scope="module")
def grid_stores(spark, tmp_path_factory):
    """The same 20k integer-grid points stored in both layouts (scale 1,
    offset 0, so the block layout's quantize round trip is exact), and
    the points as NumPy columns for the brute-force answers."""
    from lasdb_spark.operators.ingest import ingest_points

    pts = spark.range(20_000).select(
        F.floor(F.rand(7) * 1000).cast("double").alias("x"),
        F.floor(F.rand(8) * 1000).cast("double").alias("y"),
        F.floor(F.rand(9) * 50).cast("double").alias("z"),
    )
    base = str(tmp_path_factory.mktemp("grid_stores"))
    for layout in ("flat", "block"):
        ingest_points(pts, layout, base, layout=layout)
    xyz = np.array(pts.collect(), dtype=np.float64)
    return base, xyz


def _querier(spark, grid_stores, layout):
    from lasdb_spark.operators.ingest import load_dataset
    from lasdb_spark.operators.window_query import WindowQuerier

    return WindowQuerier(*load_dataset(spark, grid_stores[0], layout))


POLYGON = (
    "POLYGON ((100 100, 420 140, 380 460, 120 400, 100 100), "
    "(200 200, 300 200, 300 300, 200 300, 200 200))"
)
LINE = "LINESTRING (520 80, 700 400, 900 120)"
#: mode → geometry of every window shape a request can name
SHAPES = {
    "bbox": [100.0, 260.5, 200.0, 330.5],
    "circle": ([600.5, 600.5], 90.0),
    "polygon": POLYGON,
    "polyline": (LINE, 25.5),
    "nn": [500.5, 500.5],
}


def _brute_force(xyz, mode, geometry, minz, maxz):
    """Sorted (x, y, z) rows answering one request, in NumPy."""
    from lasdb_spark.functions.geometry import (
        _contains_numpy,
        _segments,
        parse_wkt_linestring,
        wkt_rings,
    )

    x, y, z = xyz[:, 0], xyz[:, 1], xyz[:, 2]
    keep = np.ones(len(xyz), dtype=bool)
    if minz is not None:
        keep &= z >= minz
    if maxz is not None:
        keep &= z <= maxz
    if mode == "bbox":
        x0, x1, y0, y1 = geometry
        keep &= (x >= x0) & (x <= x1) & (y >= y0) & (y <= y1)
    elif mode == "circle":
        (cx, cy), r = geometry
        keep &= (x - cx) * (x - cx) + (y - cy) * (y - cy) <= r * r
    elif mode == "polygon":
        keep &= _contains_numpy(wkt_rings(geometry), x, y)
    elif mode == "polyline":
        near = np.zeros(len(xyz), dtype=bool)
        for ax, ay, dx, dy, l2 in _segments(parse_wkt_linestring(geometry[0])):
            t = np.clip(((x - ax) * dx + (y - ay) * dy) / l2, 0.0, 1.0)
            cx, cy = ax + t * dx, ay + t * dy
            near |= (x - cx) * (x - cx) + (y - cy) * (y - cy) <= geometry[1] ** 2
        keep &= near
    else:  # nn, k = 25
        px, py = geometry
        d2 = (x - px) * (x - px) + (y - py) * (y - py)
        idx = np.flatnonzero(keep)
        order = np.lexsort((z[idx], y[idx], x[idx], d2[idx]))[:25]
        return sorted(map(tuple, xyz[idx[order]].tolist()))
    return sorted(map(tuple, xyz[keep].tolist()))


@pytest.mark.spark
@pytest.mark.parametrize("layout", ["flat", "block"])
def test_every_shape_matches_brute_force(spark, grid_stores, layout):
    q = _querier(spark, grid_stores, layout)
    for mode, geometry in SHAPES.items():
        for minz, maxz in ((None, None), (5.0, 30.0)):
            got = q.query(mode, geometry, minz, maxz, k=25)
            rows = sorted(tuple(r)[:3] for r in got.collect())
            want = _brute_force(grid_stores[1], mode, geometry, minz, maxz)
            assert rows == want and want, (layout, mode, minz)


@pytest.mark.spark
def test_block_view_keeps_block_prunes_in_the_scan(spark, grid_stores):
    """The window filters the unpacked view, yet Catalyst pushes its
    head ranges, and a z-slab's block z_min/z_max tests, below the
    explode into the Parquet scan."""
    q = _querier(spark, grid_stores, "block")
    pushed = _pushed_filters(q.bbox(SHAPES["bbox"]))
    assert "sfc_head" in pushed and "z_min" not in pushed
    pushed = _pushed_filters(q.bbox(SHAPES["bbox"], minz=5.0, maxz=30.0))
    assert "sfc_head" in pushed
    assert "LessThanOrEqual(z_min,30.0)" in pushed
    assert "GreaterThanOrEqual(z_max,5.0)" in pushed


@pytest.mark.spark
def test_block_querier_unpacks_once(spark, grid_stores, monkeypatch):
    """The block querier builds its unpacked view once; no window
    request or kNN round builds another."""
    import lasdb_spark.operators.window_query as wq

    calls = []
    unpack = wq.unpack_blocks
    monkeypatch.setattr(wq, "unpack_blocks", lambda *a: calls.append(a) or unpack(*a))
    q = _querier(spark, grid_stores, "block")
    assert len(calls) == 1
    for mode, geometry in SHAPES.items():
        for minz in (None, 5.0):
            q.query(mode, geometry, minz, None, k=25).collect()
    assert len(calls) == 1


@pytest.mark.spark
def test_request_arguments_are_checked(spark, grid_stores):
    """k < 1, a negative circle radius and a negative buffer distance
    are errors, not empty or clipped answers; an unset k means 1000."""
    q = _querier(spark, grid_stores, "flat")
    for bad in (
        lambda: q.knn([500.0, 500.0], 0),
        lambda: q.query("nn", [500.0, 500.0], k=0),
        lambda: q.circle([500.0, 500.0], -10.0),
        lambda: q.query("circle", ([500.0, 500.0], -10.0)),
        lambda: q.polyline_buffer(LINE, -1.0),
    ):
        with pytest.raises(ValueError):
            bad()
    assert len(q.query("nn", [500.0, 500.0]).collect()) == 1000
    assert q.circle([500.5, 500.5], 0.0).count() == 0
