"""The oracle must agree with the engine on every shape class, on both
layouts, bit for bit, and on every batch request kind."""

import numpy as np
import pytest

import gen
from oracle import Oracle, batch_answer, block_roundtrip, checksum, same_batch

CONFIG = {"scales": (1.0, 1.0, 1.0), "offsets": (0.0, 0.0, 0.0), "ratio": 0.7}


def test_checksum_ignores_row_order_and_sees_values():
    rng = np.random.default_rng(0)
    xyz = rng.uniform(0, 100, (1000, 3))
    perm = rng.permutation(1000)
    assert checksum(*xyz.T) == checksum(*xyz[perm].T)
    moved = xyz.copy()
    moved[5, 2] = np.nextafter(moved[5, 2], np.inf)
    assert checksum(*moved.T) != checksum(*xyz.T)
    assert checksum(*xyz[:-1].T)[0] == 999


def test_block_roundtrip_rounds_half_up():
    xyz = np.array([[85000.49, 446000.5, 1.25], [85000.5, 446000.51, 2.0]])
    out = block_roundtrip(xyz)
    assert out.tolist() == [[85000.0, 446001.0, 1.25], [85001.0, 446001.0, 2.0]]


@pytest.fixture(scope="module")
def instance(tmp_path_factory):
    root = tmp_path_factory.mktemp("oracle_instance")
    sizes = gen.Sizes(points=20_000, queries=len(gen.SHAPE_CLASSES), batches=len(gen.BATCH_KINDS))
    m = gen.generate(9, sizes, str(root))
    return root, m


@pytest.mark.parametrize("layout", ["flat", "block"])
def test_engine_matches_oracle_on_every_class(spark, instance, layout, tmp_path):
    from lasdb_spark.operators.ingest import ingest_points, load_dataset
    from lasdb_spark.operators.window_query import WindowQuerier
    from lasdb_spark.sources.las import las_to_df

    root, m = instance
    store = str(tmp_path / "store")
    ingest_points(las_to_df(spark, str(root / "tiles" / "*.las")), "c", store,
                  layout=layout, target_partitions=2, **CONFIG)
    q = WindowQuerier(*load_dataset(spark, store, "c"))
    cloud = gen.load_cloud(str(root))
    oracle = Oracle(block_roundtrip(cloud) if layout == "block" else cloud)
    nonempty = 0
    for qd in m["queries"]:
        pdf = q.query(qd["mode"], qd["geometry"], qd["minz"], qd["maxz"], qd["k"]).toPandas()
        got = checksum(pdf["x"], pdf["y"], pdf["z"])
        assert got == oracle.expect(qd), qd["cls"]
        nonempty += got[0] > 0
    assert nonempty >= len(gen.SHAPE_CLASSES) - 1  # only the empty rect is empty


def test_engine_matches_oracle_on_every_batch_kind(spark, instance, tmp_path):
    from lasdb_spark.operators.ingest import ingest_points, load_dataset
    from lasdb_spark.operators.window_query import WindowQuerier
    from lasdb_spark.sources.las import las_to_df
    from run import request

    root, m = instance
    store = str(tmp_path / "store")
    ingest_points(las_to_df(spark, str(root / "tiles" / "*.las")), "c", store,
                  target_partitions=2, **CONFIG)
    q = WindowQuerier(*load_dataset(spark, store, "c"))
    oracle = Oracle(gen.load_cloud(str(root)))
    for b in m["batches"]:
        got = batch_answer(b["kind"], request(q, b).toPandas())
        want = oracle.expect_batch(b)
        assert same_batch(b["kind"], got, want), b["kind"]
        assert want if b["kind"] != "knn_join" else want[0] > 0


def test_same_batch_sees_a_changed_window():
    want = {1: (10, 1.0, 5.0, 2.5), 2: (3, 0.5, 0.75, 0.6)}
    assert same_batch("zonal", {1: (10, 1.0, 5.0, 2.5000004), 2: (3, 0.5, 0.75, 0.6)}, want)
    assert not same_batch("zonal", {1: (10, 1.0, 5.0, 2.5), 2: (4, 0.5, 0.75, 0.6)}, want)
    assert not same_batch("zonal", {1: (10, 1.0, 5.0, 2.5)}, want)
