import hashlib
from pathlib import Path

import gen


def _digests(root: Path) -> dict:
    return {
        str(p.relative_to(root)): hashlib.sha256(p.read_bytes()).hexdigest()
        for p in sorted(root.rglob("*")) if p.is_file()
    }


SIZES = gen.Sizes(points=5_000, append_batches=2, append_points=500, queries=30, batches=6)


def test_same_seed_gives_identical_bytes(tmp_path):
    gen.generate(42, SIZES, str(tmp_path / "a"))
    gen.generate(42, SIZES, str(tmp_path / "b"))
    a, b = _digests(tmp_path / "a"), _digests(tmp_path / "b")
    assert a == b
    assert any(k.endswith(".las") for k in a) and any(k.endswith(".parquet") for k in a)


def test_other_seed_gives_other_inputs(tmp_path):
    gen.generate(1, SIZES, str(tmp_path / "a"))
    gen.generate(2, SIZES, str(tmp_path / "b"))
    a, b = _digests(tmp_path / "a"), _digests(tmp_path / "b")
    assert a.keys() == b.keys()
    assert all(a[k] != b[k] for k in a)


def test_streams_cover_every_shape_class(tmp_path):
    m = gen.generate(3, SIZES, str(tmp_path))
    assert {q["cls"] for q in m["queries"]} == set(gen.SHAPE_CLASSES)
    assert {b["kind"] for b in m["batches"]} == set(gen.BATCH_KINDS)
    assert [q["cls"] for q in m["queries"][:14]] == list(gen.SHAPE_CLASSES)
    assert [q["cls"] for q in m["warmup"]] == list(gen.WARMUP_CLASSES)
    assert {q["mode"] for q in m["warmup"]} == {q["mode"] for q in m["queries"]}
    assert [b["kind"] for b in m["warmup_batches"]] == list(gen.BATCH_KINDS)


def test_tiles_hold_the_cloud_on_the_las_grid(tmp_path):
    from lasdb_spark.sources.las import read_las_file
    import numpy as np

    m = gen.generate(4, SIZES, str(tmp_path))
    read = np.concatenate([read_las_file(str(tmp_path / t)) for t in m["tiles"]])
    cloud = gen.load_cloud(str(tmp_path))
    key = lambda a: a[np.lexsort(a.T[::-1])]  # noqa: E731
    assert np.array_equal(key(read), key(cloud))
