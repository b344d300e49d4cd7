"""Streaming ingest + compaction must converge to the batch layout."""

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from lasdb_spark.operators.ingest import (
    compact_dataset,
    compute_metadata,
    ingest_points,
    load_dataset,
    save_metadata,
)
from lasdb_spark.operators.window_query import WindowQuerier
from lasdb_spark.sources.points import points_df
from lasdb_spark.streaming.ingest import read_point_stream, stream_ingest_points

BBOX = [85200.0, 85400.0, 446300.0, 446800.0]


@pytest.mark.spark
def test_stream_ingest_matches_batch(spark, sf_dir):
    pts = points_df(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="lasdb_sing_")
    src = os.path.join(work, "incoming")
    base = os.path.join(work, "store")
    os.makedirs(base)

    # land the points as several files (several micro-batches)
    pts.repartition(4).write.parquet(src)
    meta = compute_metadata(pts, "s")
    save_metadata(meta, base, layout="flat")

    q = stream_ingest_points(
        read_point_stream(spark, src),
        meta,
        base,
        checkpoint=os.path.join(work, "ckpt"),
    )
    q.awaitTermination()

    df, meta2, layout = load_dataset(spark, base, "s")
    assert df.count() == pts.count()

    streamed = WindowQuerier(df, meta2, layout).bbox(BBOX)
    expected = pts.filter(
        F.col("x").between(BBOX[0], BBOX[1]) & F.col("y").between(BBOX[2], BBOX[3])
    )
    assert streamed.count() == expected.count()

    # compaction keeps the same rows, restores global range order
    compact_dataset(spark, base, "s", target_partitions=2)
    df3, meta3, layout3 = load_dataset(spark, base, "s")
    assert df3.count() == pts.count()
    assert WindowQuerier(df3, meta3, layout3).bbox(BBOX).count() == expected.count()
    # after compaction files must be key-disjoint: check global sort by
    # comparing per-partition min/max ranges don't overlap
    parts = (
        df3.select("sfc_key", F.spark_partition_id().alias("pid"))
        .groupBy("pid")
        .agg(F.min("sfc_key").alias("lo"), F.max("sfc_key").alias("hi"))
        .orderBy("lo")
        .collect()
    )
    for prev, cur in zip(parts, parts[1:]):
        assert prev.hi <= cur.lo


@pytest.mark.spark
def test_append_beyond_extent_refreshes_metadata(spark, sf_dir):
    """Streaming appends OUTSIDE the original extent must become fully
    queryable after compaction: the metadata refresh regrows the bbox
    and the planning grid, so window decomposition no longer clamps the
    new territory away and kNN's coverage-exit test uses the true
    extent."""
    pts = points_df(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="lasdb_grow_")
    src = os.path.join(work, "incoming")
    base = os.path.join(work, "store")
    os.makedirs(base)
    pts.repartition(2).write.parquet(src)
    meta = compute_metadata(pts, "g")
    save_metadata(meta, base, layout="flat")
    stream_ingest_points(
        read_point_stream(spark, src), meta, base,
        checkpoint=os.path.join(work, "ckpt"),
    ).awaitTermination()

    # second wave: the same cloud shifted far outside the original bbox
    # lands as NEW FILES in the same watched directory; the resumed
    # stream (same checkpoint) picks up exactly the new offsets. (A
    # separate query with a fresh checkpoint would be deduplicated by
    # the file sink's _spark_metadata batch log — one continuous
    # query per dataset is the contract.)
    shifted = pts.select(
        (F.col("x") + 4000.0).alias("x"),
        (F.col("y") + 4000.0).alias("y"),
        "z",
    )
    shifted.repartition(2).write.mode("append").parquet(src)
    stream_ingest_points(
        read_point_stream(spark, src), meta, base,
        checkpoint=os.path.join(work, "ckpt"),
    ).awaitTermination()

    compact_dataset(spark, base, "g", target_partitions=2)
    df, meta2, layout = load_dataset(spark, base, "g")
    assert meta2.point_count == 2 * pts.count()
    assert meta2.bbox[1] > meta.bbox[1] + 3000  # bbox grew with the data

    # a window entirely inside the NEW territory must find its points
    nbb = [BBOX[0] + 4000.0, BBOX[1] + 4000.0, BBOX[2] + 4000.0, BBOX[3] + 4000.0]
    got = WindowQuerier(df, meta2, layout).bbox(nbb).count()
    want = shifted.filter(
        F.col("x").between(nbb[0], nbb[1]) & F.col("y").between(nbb[2], nbb[3])
    ).count()
    assert got == want > 0


@pytest.mark.spark
def test_layout_report_detects_append_overlap(spark, sf_dir, tmp_path):
    """A freshly-ingested (range-sorted) store reports clustered;
    streaming-style appends overlap; compaction restores it."""
    from lasdb_spark.operators.ingest import (
        compact_dataset,
        ingest_points,
        layout_report,
        load_dataset,
        record_path,
    )
    from lasdb_spark.sources.points import points_df

    base = str(tmp_path / "store")
    pts = points_df(spark, sf_dir)
    ingest_points(pts, "layoutqa", base, target_partitions=4)
    rep = layout_report(spark, base, "layoutqa")
    assert rep["overlap_files"] == 0
    assert rep["n_files"] >= 2
    assert rep["n_rows"] == pts.count()
    # small-file threshold sanity: the tiny test files all flag at a
    # high threshold and the verdict flips
    rep_hi = layout_report(
        spark, base, "layoutqa", small_file_bytes=1 << 30
    )
    assert rep_hi["n_small_files"] == rep_hi["n_files"]
    assert not rep_hi["clustered"]

    # append a second full copy unsorted: every appended file spans
    # the whole key range -> overlaps guaranteed
    df, meta, _ = load_dataset(spark, base, "layoutqa")
    df.limit(0)  # touch
    path = record_path(base, "layoutqa")
    spark.read.parquet(path).repartition(3).write.mode("append").parquet(
        path
    )
    rep2 = layout_report(spark, base, "layoutqa")
    assert rep2["overlap_files"] > 0 and not rep2["clustered"]

    compact_dataset(spark, base, "layoutqa", target_partitions=4)
    rep3 = layout_report(spark, base, "layoutqa")
    assert rep3["overlap_files"] == 0
    assert rep3["n_rows"] == 2 * rep["n_rows"]


@pytest.mark.spark
def test_crashed_compaction_swap_loses_no_rows(spark, tmp_path):
    """The two crash states of compaction's directory swap: a crash
    between its renames leaves only ``<record>_old``, which a read must
    restore; a crash after the second rename leaves a stale
    ``<record>_old`` beside the live store, which the next compaction
    must clear instead of failing on it."""
    from lasdb_spark.operators.ingest import record_path

    pts = spark.createDataFrame(
        [(85000.0 + i, 446000.0 + 2 * i, float(i % 7)) for i in range(300)],
        "x double, y double, z double",
    )
    base = str(tmp_path / "store")
    ingest_points(pts, "crash", base)
    path = record_path(base, "crash")

    # crashed between the renames: only the old copy survives
    os.rename(path, path + "_old")
    df, _, _ = load_dataset(spark, base, "crash")
    assert df.count() == 300
    assert not os.path.exists(path + "_old")

    # crashed after the second rename: a stale old copy stays behind
    spark.read.parquet(path).write.parquet(path + "_old")
    compact_dataset(spark, base, "crash", target_partitions=2)
    df, _, _ = load_dataset(spark, base, "crash")
    assert df.count() == 300
    assert sorted(df.select("x", "y", "z").collect()) == sorted(pts.collect())
    assert not os.path.exists(path + "_old")
