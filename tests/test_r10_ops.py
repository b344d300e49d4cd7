"""r10 operators: persisted batch kNN-join index (build / append /
stored query / compaction) and dedup-index compaction — the
build-once/query-many + maintenance contracts from the r9 VERDICT
(next-round items #1 and #6)."""

import glob
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def embs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.spark
def test_knn_join_stored_equals_inline(spark, embs):
    """The stored-index batch join must equal the inline trained join
    value-for-value (the build replays the exact inline training),
    and its plan must contain NO training machinery — only scans of
    the persisted assignment."""
    from lasdb_spark.operators.ann_index import (
        build_knn_join_index,
        knn_join_ivf_stored,
    )
    from lasdb_spark.operators.similarity import knn_join_ivf

    path = tempfile.mkdtemp(prefix="lasdb_knnjoin_idx_")
    build_knn_join_index(embs, path)
    stored = knn_join_ivf_stored(spark, path)
    plan = stored._jdf.queryExecution().executedPlan().toString()
    # _lloyd_step's signature op; present in every training chain
    assert "posexplode" not in plan
    assert "FileScan" in plan
    assert _rows(stored) == _rows(knn_join_ivf(embs))


@pytest.mark.spark
def test_knn_join_stored_nprobe_cap(spark, embs):
    from lasdb_spark.operators.ann_index import (
        build_knn_join_index,
        knn_join_ivf_stored,
    )

    path = tempfile.mkdtemp(prefix="lasdb_knnjoin_idx_")
    build_knn_join_index(embs, path, max_nprobe=3)
    with pytest.raises(ValueError, match="max_nprobe"):
        knn_join_ivf_stored(spark, path, nprobe=4)


@pytest.mark.spark
def test_knn_join_index_append_equals_single_shot(spark, embs):
    """Appending assignment rows in two increments (against the same
    stored centroids) equals the single-shot build row-for-row, down
    to query results — ranking is per-row pure."""
    from lasdb_spark.operators.ann_index import (
        append_knn_join_index,
        build_knn_join_index,
        knn_join_ivf_stored,
    )
    from lasdb_spark.operators.similarity import knn_join_ivf

    path = tempfile.mkdtemp(prefix="lasdb_knnjoin_inc_")
    build_knn_join_index(embs, path)
    shutil.rmtree(f"{path}/assign")
    append_knn_join_index(embs.where(F.col("vec_id") % 2 == 0), path)
    append_knn_join_index(embs.where(F.col("vec_id") % 2 == 1), path)
    assert _rows(knn_join_ivf_stored(spark, path)) == _rows(
        knn_join_ivf(embs)
    )


@pytest.mark.spark
def test_compact_ann_index_knn_join_identity(spark, embs):
    """compact(build + append) == build(all): compaction is a layout
    rewrite, so the incrementally-grown index answers identically
    after it — and the per-cell file count shrinks."""
    from lasdb_spark.operators.ann_index import (
        append_knn_join_index,
        build_knn_join_index,
        compact_ann_index,
        knn_join_ivf_stored,
    )
    from lasdb_spark.operators.similarity import knn_join_ivf

    path = tempfile.mkdtemp(prefix="lasdb_knnjoin_cmp_")
    build_knn_join_index(embs, path)
    shutil.rmtree(f"{path}/assign")
    for m in range(4):
        append_knn_join_index(embs.where(F.col("vec_id") % 4 == m), path)
    # r12: the increments live as 4 committed segments (4 files per
    # touched cell across the index); the fold packs them into one
    # base file per cell
    before = len(glob.glob(f"{path}/**/*.parquet", recursive=True))
    compact_ann_index(spark, path)
    after = len(glob.glob(f"{path}/**/*.parquet", recursive=True))
    assert after < before
    assert _rows(knn_join_ivf_stored(spark, path)) == _rows(
        knn_join_ivf(embs)
    )


@pytest.mark.spark
def test_compact_ann_index_ivfpq_identity(spark, embs):
    """Same identity for the IVF-PQ index's codes table."""
    from lasdb_spark.operators.ann_index import (
        append_ann_index,
        build_ann_index,
        compact_ann_index,
        topk_ivfpq_stored,
    )

    path = tempfile.mkdtemp(prefix="lasdb_ivfpq_cmp_")
    build_ann_index(embs, path)
    want = _rows(topk_ivfpq_stored(spark, path, embs))
    shutil.rmtree(f"{path}/codes")
    for m in range(3):
        append_ann_index(embs.where(F.col("vec_id") % 3 == m), path)
    compact_ann_index(spark, path)
    assert _rows(topk_ivfpq_stored(spark, path, embs)) == want


@pytest.mark.spark
def test_compact_dedup_index_identity(spark, sf_dir):
    """Dedup-index compaction: table contents and probe answers are
    unchanged; the file counts shrink after fragmented appends."""
    from lasdb_spark.operators.dedup_index import (
        append_dedup_index,
        build_dedup_index,
        compact_dedup_index,
        probe_dedup_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.where(F.col("doc_id") % 2 == 0)
    inc = docs.where(F.col("doc_id") % 2 == 1)
    path = tempfile.mkdtemp(prefix="lasdb_dedupidx_cmp_")
    from lasdb_spark.operators.dedup_index import _read_table
    from lasdb_spark.operators.text_index import _committed_segments

    build_dedup_index(corpus.where(F.col("doc_id") % 8 == 0), path)
    for m in (2, 4, 6):
        append_dedup_index(corpus.where(F.col("doc_id") % 8 == m), path)
    # r12: appends land as committed segments; logical content =
    # base ∪ segments, which the fold must preserve exactly
    assert len(_committed_segments(path)) == 3
    want_tables = {
        tbl: _rows(_read_table(spark, path, tbl))
        for tbl in ("buckets", "shingles", "sizes")
    }
    want_probe = _rows(probe_dedup_index(inc, spark, path))
    before = len(
        glob.glob(f"{path}/**/*.parquet", recursive=True)
    )
    compact_dedup_index(spark, path)
    after = len(
        glob.glob(f"{path}/**/*.parquet", recursive=True)
    )
    assert after <= before
    assert _committed_segments(path) == []  # folded into the base
    for tbl, want in want_tables.items():
        assert _rows(spark.read.parquet(f"{path}/{tbl}")) == want
    assert _rows(probe_dedup_index(inc, spark, path)) == want_probe


@pytest.mark.spark
def test_recall_report_stored_arm_matches_inline(spark, embs):
    """With index_path the ivf_tr arm answers from the stored index;
    the report (recall ladder included) must be row-identical to the
    inline one."""
    from lasdb_spark.operators.ann_index import build_knn_join_index
    from lasdb_spark.operators.similarity import knn_join_recall_report

    path = tempfile.mkdtemp(prefix="lasdb_knnjoin_rr_")
    build_knn_join_index(embs, path)
    inline = _rows(knn_join_recall_report(embs))
    stored = _rows(knn_join_recall_report(embs, index_path=path))
    assert stored == inline


@pytest.mark.spark
def test_hybrid_multi_per_query_matches_single(spark, sf_dir):
    """hybrid_search_multi restricted to one query equals the
    single-query hybrid_search (same arms, same fusion; the batched
    BM25 arm's micro-unit sums land on the same ranking)."""
    from lasdb_spark.operators.search import (
        hybrid_search,
        hybrid_search_multi,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    multi = sorted(
        (r.doc_id, r.bm25_rank, r.cos_rank, r.rank)
        for r in hybrid_search_multi(docs, embs).collect()
        if r.query_id == 0
    )
    single = sorted(
        (r.doc_id, r.bm25_rank, r.cos_rank, r.rank)
        for r in hybrid_search(docs, embs, "fast hash join vector", 0).collect()
    )
    assert multi == single


@pytest.mark.spark
def test_hybrid_multi_rank_contract(spark, sf_dir):
    """Per-query ranks are contiguous from 1 and rrf is the exact
    two-term reciprocal of the reported ranks."""
    from lasdb_spark.operators.search import hybrid_search_multi

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rows = hybrid_search_multi(docs, embs, k=10).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {0, 1, 2}
    for q, rs in by_q.items():
        assert sorted(r.rank for r in rs) == list(range(1, len(rs) + 1))
        for r in rs:
            want = round(
                (1.0 / (60 + r.bm25_rank) if r.bm25_rank else 0.0)
                + (1.0 / (60 + r.cos_rank) if r.cos_rank else 0.0),
                6,
            )
            assert abs(r.rrf - want) < 1e-9, (q, r)


@pytest.mark.spark
def test_knn_probe_stored_matches_crosscorpus_truth(spark, embs):
    """The increment probe against a stored even-slice index equals
    the same join computed from scratch: rank the odd slice against
    centroids trained on the even slice, join the even assignment."""
    from lasdb_spark.operators.ann_index import (
        build_knn_join_index,
        knn_join_probe_stored,
    )
    from lasdb_spark.operators.similarity import (
        _nearest_cells,
        embs_with_norm,
        knn_join_train_cents,
    )
    from lasdb_spark.functions.hashing import fold_dot_col
    from pyspark.sql.window import Window

    corpus = embs.where(F.col("vec_id") % 2 == 0)
    inc = embs.where(F.col("vec_id") % 2 == 1)
    path = tempfile.mkdtemp(prefix="lasdb_knnprobe_")
    build_knn_join_index(corpus, path)
    got = _rows(knn_join_probe_stored(inc, spark, path))

    cents = knn_join_train_cents(corpus).localCheckpoint()
    probes = (
        _nearest_cells(embs_with_norm(inc), cents)
        .filter(F.col("rk") <= 5)
        .select(
            F.col("cid").alias("cell"),
            F.col("vec_id").alias("vid"),
            F.col("embedding").alias("ea"),
            F.col("nrm").alias("na"),
        )
    )
    build = (
        _nearest_cells(embs_with_norm(corpus), cents)
        .filter(F.col("rk") == 1)
        .select(
            F.col("cid").alias("cell"),
            F.col("vec_id").alias("nbr_id"),
            F.col("embedding").alias("eb"),
            F.col("nrm").alias("nb"),
        )
    )
    j = probes.join(build, "cell")
    dot = fold_dot_col(F.col("ea"), F.col("eb"))
    scored = j.select(
        F.col("vid").alias("vec_id"),
        "nbr_id",
        F.round(dot / (F.col("na") * F.col("nb")), 6).alias("cos"),
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cos").desc(), F.col("nbr_id")
    )
    want = _rows(
        scored.withColumn(
            "rank", F.row_number().over(w).cast("int")
        ).filter(F.col("rank") <= 5)
    )
    assert got == want


@pytest.mark.spark
def test_knn_join_index_stats_totals(spark, embs):
    """Stats rows cover every vector exactly once (Σ n_vecs = corpus),
    shares sum to ~1e6, and skew_ppm is n·n_cells·1e6 div total."""
    from lasdb_spark.operators.ann_index import (
        build_knn_join_index,
        knn_join_index_stats,
    )

    path = tempfile.mkdtemp(prefix="lasdb_knnstats_")
    build_knn_join_index(embs, path)
    rows = knn_join_index_stats(spark, path).collect()
    n = embs.count()
    assert sum(r.n_vecs for r in rows) == n
    assert n * 0.99 <= sum(r.share_ppm for r in rows) / 1e6 * n <= n
    for r in rows:
        assert r.skew_ppm == r.n_vecs * len(rows) * 1_000_000 // n


@pytest.mark.spark
def test_hybrid_multi_shared_query_vec(spark, sf_dir):
    """Two queries sharing one query_vec_id BOTH keep their dense arm
    (r10 ADVICE: the old filter+CASE query selector mapped a shared
    vector to only its first query, silently dropping the second
    query's cosine ranking)."""
    from lasdb_spark.operators.search import hybrid_search_multi

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    shared = (
        (0, "fast hash join vector", 7),
        (1, "stream window agg sort", 7),
    )
    rows = hybrid_search_multi(docs, embs, queries=shared, k=10).collect()
    dense = {q: [r for r in rows if r.query_id == q and r.cos_rank > 0]
             for q in (0, 1)}
    assert dense[0] and dense[1]
    # identical vector => identical dense ranking; fusion may admit
    # different doc subsets per query (BM25 arms differ), but any doc
    # surviving in BOTH outputs must carry the same cos_rank
    r0 = {r.doc_id: r.cos_rank for r in dense[0]}
    r1 = {r.doc_id: r.cos_rank for r in dense[1]}
    common = set(r0) & set(r1)
    assert common and all(r0[d] == r1[d] for d in common)


@pytest.mark.spark
def test_swap_dir_recovery(tmp_path):
    """_recover_swap repairs both interrupted-swap shapes: target
    missing with *_old surviving (restore), and stale side dirs
    (clear so the next compaction's renames can't collide)."""
    import os

    from lasdb_spark.operators.ingest import _recover_swap, _swap_dir

    target = str(tmp_path / "assign")
    os.makedirs(target)
    open(os.path.join(target, "x.parquet"), "w").write("v1")
    # crash window: target renamed away, tmp never promoted
    os.rename(target, target + "_old")
    os.makedirs(target + "_compacting")
    _recover_swap(target)
    assert os.path.exists(target)
    assert open(os.path.join(target, "x.parquet")).read() == "v1"
    assert not os.path.exists(target + "_old")
    assert not os.path.exists(target + "_compacting")
    # normal swap still promotes tmp and clears old
    tmp = target + "_compacting"
    os.makedirs(tmp)
    open(os.path.join(tmp, "x.parquet"), "w").write("v2")
    _swap_dir(tmp, target)
    assert open(os.path.join(target, "x.parquet")).read() == "v2"
    assert not os.path.exists(target + "_old")
