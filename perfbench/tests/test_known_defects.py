"""Program defects that keep a workload out of the benchmark. Each test
states the correct behaviour and is a strict xfail: once the program
is fixed it XPASSes, the suite fails, and the workload can be added."""

import pytest

import gen


@pytest.mark.xfail(strict=True, reason="a stream append into a bulk-loaded store hides the bulk-loaded points")
def test_stream_append_keeps_bulk_loaded_points(spark, tmp_path):
    from lasdb_spark.operators.ingest import ingest_points, load_dataset, load_metadata
    from lasdb_spark.sources.las import las_to_df
    from lasdb_spark.streaming.ingest import read_point_stream, stream_ingest_points

    sizes = gen.Sizes(points=2_000, append_batches=1, append_points=500, queries=0, batches=0)
    m = gen.generate(5, sizes, str(tmp_path / "in"))
    base = str(tmp_path / "store")
    ingest_points(las_to_df(spark, str(tmp_path / "in" / "tiles" / "*.las")), "c", base,
                  scales=(1.0, 1.0, 1.0), offsets=(0.0, 0.0, 0.0), ratio=0.7)
    incoming = tmp_path / "incoming"
    incoming.mkdir()
    (incoming / "b0.parquet").write_bytes((tmp_path / "in" / m["append_batches"][0]).read_bytes())
    meta, _ = load_metadata(base, "c")
    stream_ingest_points(read_point_stream(spark, str(incoming)), meta, base,
                         checkpoint=str(tmp_path / "ckpt")).awaitTermination()
    df, _, _ = load_dataset(spark, base, "c")
    assert df.count() == 2_500
