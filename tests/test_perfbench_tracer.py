"""The benchmark's traced run (``perfbench/run.py --trace 1``) swaps
library functions for span-recording wrappers by module attribute
(``Run.install_tracing``). This pins that contract: the swapped names
exist, and the library calls them through their modules at run time,
so an ingest, a window query on each layout and a batch request all
leave their spans."""

import importlib.util
import tempfile
from pathlib import Path

import pytest

PERFBENCH = Path(__file__).resolve().parent.parent / "perfbench"
BBOX = [85200.0, 85400.0, 446300.0, 446800.0]


@pytest.mark.spark
def test_tracer_hooks_record_spans(spark, sf_dir, monkeypatch):
    from lasdb_spark.operators.ingest import ingest_points, load_dataset
    from lasdb_spark.operators.window_query import WindowQuerier
    from lasdb_spark.sources.points import points_df

    monkeypatch.syspath_prepend(str(PERFBENCH))
    spec = importlib.util.spec_from_file_location("perfbench_run", PERFBENCH / "run.py")
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    run = bench.Run("window_mix", seed=0, seconds=0.0, trace=True)
    run.install_tracing()
    try:
        base = tempfile.mkdtemp(prefix="lasdb_tracer_")
        pts = points_df(spark, sf_dir)
        queriers = {}
        for layout in ("flat", "block"):
            ingest_points(pts, layout, base, layout=layout)
            queriers[layout] = WindowQuerier(*load_dataset(spark, base, layout))
            assert queriers[layout].bbox(BBOX).count() > 0
        batch = queriers["flat"].multi_bbox([(1, *BBOX)])
        assert batch.first().n_points > 0
    finally:
        run.tracer.restore()

    t = run.tracer
    decomposed = t.of("pcsfc.decompose_bbox")
    assert len(decomposed) == 2
    assert all(s["ranges"] > 0 and s["covered_cells"] >= s["window_cells"] > 0
               for s in decomposed)
    (cells,) = t.of("multi_window.plan_window_cells")
    assert cells["windows"] == 1 and cells["cells"] > 0
    assert len(t.of("ingest.compute_metadata")) == 2
    assert len(t.of("ingest.attach_sfc")) == 2
    for name in ("pcsfc.key_ranges_to_head_ranges", "ingest.unpack_blocks",
                 "ingest.pack_blocks"):
        assert len(t.of(name)) == 1, name
    assert len(t.of("pcsfc.apply_key_ranges")) == 2
