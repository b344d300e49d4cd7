"""Three-way parity: pure-Python morton == Spark Column exprs == DuckDB SQL.

This is the lynchpin of the oracle strategy — the driver's correctness
gate compares Spark results against DuckDB SQL built from the same
generators (SURVEY §5)."""

import duckdb
import pytest

from lasdb_spark.pcsfc import morton, sqlgen

SAMPLES = [
    (0, 0),
    (1, 0),
    (0, 1),
    (85123, 446789),
    (86000, 447500),
    ((1 << 20) - 1, (1 << 19) + 12345),
    ((1 << 31) - 1, (1 << 31) - 1),
]


def test_sql_matches_python():
    con = duckdb.connect()
    for x, y in SAMPLES:
        expr = sqlgen.morton_encode_sql(str(x), str(y))
        (got,) = con.sql(f"SELECT {expr}").fetchone()
        assert got == morton.encode_morton_2d(x, y), (x, y)
        dx = sqlgen.morton_decode_x_sql(str(got))
        dy = sqlgen.morton_decode_y_sql(str(got))
        gx, gy = con.sql(f"SELECT {dx}, {dy}").fetchone()
        assert (gx, gy) == (x, y)


def test_sql_split_merge():
    con = duckdb.connect()
    m = morton.encode_morton_2d(85123, 446789)
    for tail_len in (0, 8, 12, 13, 26):
        h = con.sql(f"SELECT {sqlgen.split_head_sql(str(m), tail_len)}").fetchone()[0]
        t = con.sql(f"SELECT {sqlgen.split_tail_sql(str(m), tail_len)}").fetchone()[0]
        assert (h, t) == morton.split_key(m, tail_len)
        mm = con.sql(
            f"SELECT {sqlgen.merge_key_sql(str(h), str(t), tail_len)}"
        ).fetchone()[0]
        assert mm == m


@pytest.mark.spark
def test_spark_columns_match_python(spark):
    from pyspark.sql import functions as F

    from lasdb_spark.pcsfc.columns import (
        merge_key_col,
        morton_decode_x_col,
        morton_decode_y_col,
        morton_encode_col,
        split_head_col,
        split_tail_col,
    )

    df = spark.createDataFrame([(x, y) for x, y in SAMPLES], "x long, y long")
    out = (
        df.withColumn("m", morton_encode_col(F.col("x"), F.col("y")))
        .withColumn("dx", morton_decode_x_col(F.col("m")))
        .withColumn("dy", morton_decode_y_col(F.col("m")))
        .withColumn("h", split_head_col(F.col("m"), 12))
        .withColumn("t", split_tail_col(F.col("m"), 12))
        .withColumn("mm", merge_key_col(F.col("h"), F.col("t"), 12))
        .collect()
    )
    for r in out:
        assert r.m == morton.encode_morton_2d(r.x, r.y)
        assert (r.dx, r.dy) == (r.x, r.y)
        assert (r.h, r.t) == morton.split_key(r.m, 12)
        assert r.mm == r.m

    # block round trip: pack, then unpack's in-array decode, for an even
    # and an odd tail length (the y lane starts mid-tail when it is odd)
    from lasdb_spark.operators.ingest import (
        DatasetMeta,
        attach_sfc,
        pack_blocks,
        unpack_blocks,
    )

    pts = spark.createDataFrame(
        [(float(x), float(y), float(i)) for i, (x, y) in enumerate(SAMPLES)],
        "x double, y double, z double",
    )
    for tail in (12, 13):
        meta = DatasetMeta("parity", 0, len(SAMPLES), 62 - tail, tail)
        rows = unpack_blocks(pack_blocks(attach_sfc(pts, meta)), meta).collect()
        assert len(rows) == len(SAMPLES)
        for r in rows:
            assert (r.x, r.y) == SAMPLES[int(r.z)], tail
            assert (r.x, r.y) == morton.decode_morton_2d(r.sfc_key)
            assert (r.sfc_head, r.sfc_tail) == morton.split_key(r.sfc_key, tail)


@pytest.mark.spark
def test_points_derivation_matches_duckdb(spark, sf_dir):
    """The derived cloud must be bit-identical between Spark and DuckDB."""
    from lasdb_spark.sources.points import POINTS_SQL, points_df

    sdf = points_df(spark, sf_dir).orderBy("x", "y", "z")
    spark_rows = [(r.x, r.y, r.z) for r in sdf.collect()]

    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW lineitem AS SELECT * FROM '{sf_dir}/lineitem.parquet'"
    )
    duck_rows = con.sql(f"SELECT * FROM ({POINTS_SQL}) ORDER BY x, y, z").fetchall()
    assert len(spark_rows) == len(duck_rows)
    for a, b in zip(spark_rows, duck_rows):
        assert a == b  # exact double equality, not approx


@pytest.mark.spark
def test_ingest_jdbc_sink_validation(spark, sf_dir, tmp_path):
    """The JDBC sink path (north-star 'ETL to PostgreSQL',
    SURVEY.md §2 S6 note): argument validation always runs; the actual
    write needs a JDBC driver jar on the classpath, which this
    container does not ship."""
    from lasdb_spark.operators.ingest import ingest_points
    from lasdb_spark.sources.points import points_df

    pts = points_df(spark, sf_dir)
    with pytest.raises(ValueError, match="jdbc_url"):
        ingest_points(pts, "j", str(tmp_path), sink="jdbc")
    with pytest.raises(ValueError, match="unknown sink"):
        ingest_points(pts, "j", str(tmp_path), sink="csv")
    try:
        spark._jvm.java.lang.Class.forName("org.postgresql.Driver")
    except Exception:
        pytest.skip("no JDBC driver jar in this container — write path "
                    "exercised where a driver is present")
    ingest_points(  # pragma: no cover - driver-present environments
        pts, "j", str(tmp_path), sink="jdbc",
        jdbc_url="jdbc:postgresql://localhost/lasdb",
    )


@pytest.mark.spark
def test_ingest_histogram_side_output(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from lasdb_spark.operators.ingest import ingest_points
    from lasdb_spark.sources.points import points_df

    pts = points_df(spark, sf_dir)
    meta = ingest_points(pts, "h", str(tmp_path), write_histogram=True)
    hist = spark.read.parquet(str(tmp_path / "histogram_h"))
    assert hist.columns == ["sfc_head", "num_tail"]
    total = hist.agg(F.sum("num_tail")).collect()[0][0]
    assert total == meta.point_count
