"""Round-14 focused tests: no cache residue from any engine operator,
on the normal and the exception path (``cache_scope``), the PQ
literal-SQL size-cap fallback, and the scale_out rescue guard."""

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _edges(spark):
    rows = [(i, (i * 7) % 40) for i in range(40)] + [(3, 17), (5, 29)]
    return spark.createDataFrame(rows, "src bigint, dst bigint").filter(
        "src <> dst"
    )


def _docs(spark):
    return spark.createDataFrame(
        [(i, ("alpha beta gamma delta epsilon zeta " * 4) + f"w{i % 3}")
         for i in range(30)],
        "doc_id bigint, text string",
    )


def _vecs(spark):
    return spark.createDataFrame(
        [(i, [float((i * (j + 1)) % 5) + 1.0 for j in range(4)])
         for i in range(30)],
        "id bigint, vec array<double>",
    )


def _run_op(spark, op):
    """Run one engine operator on tiny inputs; returns what it returns."""
    from h2h_spark.operators import dedup as D
    from h2h_spark.operators import graph as G
    from h2h_spark.operators import simsearch as S

    e = _edges(spark)
    docs = _docs(spark)
    seeds = e.select(F.col("src").alias("node")).limit(3)
    if op == "pagerank":
        return G.pagerank(e, iterations=2)
    if op == "triangle_count":
        return G.triangle_count(e.toDF("a", "b"))
    if op == "label_propagation":
        return G.label_propagation(e, iterations=2)
    if op == "label_propagation_semisync":
        return G.label_propagation_semisync(e, rounds=2, substeps=2)
    if op == "bfs_distances":
        return G.bfs_distances(e, seeds, max_depth=6)
    if op == "sssp_bounded":
        return G.sssp_bounded(
            e.withColumn("w", F.lit(1.0)), seeds, max_dist=3.5
        )
    if op == "feature_propagation":
        return G.feature_propagation(
            e,
            e.select(F.col("src").alias("node")).distinct().withColumn(
                "feat", (F.col("node") % 9).cast("bigint")
            ),
            rounds=2,
        )
    if op == "resolve_tree":
        from h2h_spark.operators.hierarchy import resolve_tree

        tree = spark.createDataFrame(
            [(i, i // 2) for i in range(1, 20)], "child bigint, parent bigint"
        )
        return resolve_tree(tree)
    if op == "connected_components":
        return D.connected_components(e.toDF("id_a", "id_b"))
    if op == "simhash_near_duplicates":
        return D.simhash_near_duplicates(docs, "doc_id", "text", max_hamming=30)
    if op == "jaccard_pairs":
        return D.jaccard_pairs(docs, "doc_id", "text", threshold=0.1)
    if op == "prefix_filter_pairs":
        return D.prefix_filter_pairs(docs, "doc_id", "text", threshold=0.5)
    if op == "minhash_near_duplicates":
        return D.minhash_near_duplicates(docs, "doc_id", "text")
    if op == "minhash_dedup_against_index":
        entries, sets = D.minhash_index(
            docs.filter("doc_id < 20"), "doc_id", "text"
        )
        return D.minhash_dedup_against_index(
            docs.filter("doc_id >= 20"), entries, sets, "doc_id", "text"
        )
    if op == "dbscan_2d":
        from h2h_spark.operators.spatial import dbscan_2d

        pts = spark.createDataFrame(
            [(i, (i % 7) * 0.01, (i % 5) * 0.01) for i in range(60)],
            "pid bigint, x double, y double",
        )
        return dbscan_2d(pts, "pid", "x", "y", eps=0.02, min_pts=3)
    if op == "kmeans_fit":
        from h2h_spark.operators.cluster import kmeans_fit

        return kmeans_fit(_vecs(spark), "id", "vec", k=2, max_iter=2)
    if op == "pq_train":
        from h2h_spark.operators.pq import pq_train

        return pq_train(_vecs(spark), "id", "vec", m=2, k=2, dim=4, iters=1)
    if op == "opq_train":
        from h2h_spark.operators.opq import opq_train

        return opq_train(_vecs(spark), "id", "vec", m=2, k=2, dim=4, rounds=1)
    if op == "ivf_topk":
        return S.ivf_topk(
            _vecs(spark), "id", "vec", [1.0, 2.0, 3.0, 4.0], k=3, n_centroids=2
        )
    if op == "embedding_near_duplicates":
        return S.embedding_near_duplicates(
            _vecs(spark), "id", "vec", threshold=0.9, nbits=2, bands=2
        )
    if op == "semantic_dedup":
        return S.semantic_dedup(_vecs(spark), "id", "vec", n_clusters=2)
    if op == "kmv_jaccard_pairs":
        from h2h_spark.operators.sketch import kmv_jaccard_pairs

        return kmv_jaccard_pairs(docs, "doc_id", "text", k=16, threshold=0.1)
    if op == "perplexity":
        from h2h_spark.operators.lm import perplexity

        return perplexity(docs, "doc_id", "text")
    if op == "decontaminate":
        from h2h_spark.operators.text import decontaminate

        return decontaminate(
            docs.filter("doc_id >= 5"), docs.filter("doc_id < 5"),
            "doc_id", "text", ngram=3,
        )
    if op == "tfidf_keywords":
        from h2h_spark.operators.text import tfidf_keywords

        return tfidf_keywords(docs, "doc_id", "text")
    if op == "unigram_train":
        from h2h_spark.operators.unigram import unigram_train

        return unigram_train(docs, "text", rounds=1)
    if op == "pack_sequences":
        from h2h_spark.operators.packing import pack_sequences

        lens = spark.createDataFrame(
            [(i, 1 + i % 7) for i in range(40)], "id bigint, n_tokens bigint"
        )
        return pack_sequences(lens, "id", "n_tokens", budget=10)
    if op == "global_rank":
        from h2h_spark.operators.rank import global_rank

        return global_rank(docs, [("doc_id", True)])
    raise AssertionError(op)


#: operators that take a cache (through ``cache_scope``)
_CACHING_OPS = [
    "pagerank", "triangle_count", "label_propagation",
    "label_propagation_semisync", "bfs_distances", "sssp_bounded",
    "feature_propagation", "connected_components",
    "simhash_near_duplicates", "jaccard_pairs", "prefix_filter_pairs",
    "dbscan_2d", "resolve_tree", "kmeans_fit", "pq_train", "opq_train",
    "embedding_near_duplicates", "semantic_dedup", "kmv_jaccard_pairs",
    "perplexity", "tfidf_keywords", "unigram_train", "pack_sequences",
    "global_rank",
]


@pytest.mark.parametrize("op", _CACHING_OPS + [
    "minhash_near_duplicates", "minhash_dedup_against_index", "ivf_topk",
    "decontaminate",
])
def test_no_cache_residue(spark, op):
    """No operator leaves a cache behind once its result is consumed.
    Internal caches are DataFrame persist() entries, which live in the
    CacheManager; checkpoint storage (what a lazily returned result may
    still read) does not register there — so the CacheManager is empty
    after the result's action."""
    spark.catalog.clearCache()
    out = _run_op(spark, op)
    for df in out if isinstance(out, tuple) else (out,):
        if isinstance(df, DataFrame):
            df.write.format("noop").mode("overwrite").save()
    jcm = spark._jsparkSession.sharedState().cacheManager()
    assert jcm.isEmpty(), f"{op}: operator left DataFrame cache residue"


@pytest.mark.parametrize("op", _CACHING_OPS)
def test_operator_releases_caches_on_failure(spark, monkeypatch, op):
    """A sub-step that raises still releases every cache the operator
    took: once a cache is held, the next localCheckpoint, collect or
    count raises, and the CacheManager is empty afterwards."""
    frame = type(_edges(spark))  # the concrete DataFrame class
    held = []
    real_persist = frame.persist

    def persist(self, *args, **kwargs):
        held.append(self)
        return real_persist(self, *args, **kwargs)

    def failing(name):
        real = getattr(frame, name)

        def call(self, *args, **kwargs):
            if held:
                raise RuntimeError("sub-step failed")
            return real(self, *args, **kwargs)

        return call

    spark.catalog.clearCache()
    monkeypatch.setattr(frame, "persist", persist)
    for name in ("localCheckpoint", "collect", "count"):
        monkeypatch.setattr(frame, name, failing(name))
    with pytest.raises(RuntimeError, match="sub-step failed"):
        _run_op(spark, op)
    monkeypatch.undo()
    assert held, f"{op}: took no cache"
    jcm = spark._jsparkSession.sharedState().cacheManager()
    assert jcm.isEmpty(), f"{op}: cache leaked on the exception path"


@pytest.mark.parametrize("name", [
    "q_stream_dedup_index", "q_recursive_cte", "q_mbox_threads",
    "q_top_supplier", "q_json_corrupt", "q_ivf_topk", "q_decontaminate",
    "q_dedup_near_minhash",
])
def test_query_leaves_no_cache(spark, name):
    """Queries whose result reads an intermediate lazily checkpoint it
    instead of caching it, so once the result is collected the
    CacheManager is empty (scripts/oracle_check.py checks all queries)."""
    import __spark_entry__ as entrymod

    from tests.conftest import SF_DIR

    spark.catalog.clearCache()
    entrymod.queries()[name](spark, SF_DIR).collect()
    jcm = spark._jsparkSession.sharedState().cacheManager()
    assert jcm.isEmpty(), f"{name} left a cache behind"


def test_cache_scope_releases_on_exit_and_on_raise(spark):
    """The scope unpersists everything it cached when the body returns
    and when the body raises."""
    from h2h_spark.operators import cache_scope

    jcm = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    with cache_scope() as persist:
        a = persist(spark.range(10).selectExpr("id * 2 AS x"))
        b = persist(a.filter("x > 4"))
        assert a.count() == 10 and b.count() == 7
        assert a.storageLevel.useMemory and not jcm.isEmpty()
    assert jcm.isEmpty()
    with pytest.raises(RuntimeError, match="body failed"):
        with cache_scope() as persist:
            persist(spark.range(5).selectExpr("id + 1 AS y")).count()
            assert not jcm.isEmpty()
            raise RuntimeError("body failed")
    assert jcm.isEmpty()


def test_dbscan_releases_caches_on_failure(spark, monkeypatch):
    """dbscan_2d releases its neighbor-list and core-id caches when the
    connected-components step raises."""
    from h2h_spark.operators import dedup as D
    from h2h_spark.operators.spatial import dbscan_2d

    def failing(*args, **kwargs):
        raise RuntimeError("sub-step failed")

    pts = spark.createDataFrame(
        [(i, (i % 7) * 0.01, (i % 5) * 0.01) for i in range(60)],
        "pid bigint, x double, y double",
    )
    spark.catalog.clearCache()
    monkeypatch.setattr(D, "connected_components_star", failing)
    with pytest.raises(RuntimeError, match="sub-step failed"):
        dbscan_2d(pts, "pid", "x", "y", eps=0.02, min_pts=3)
    jcm = spark._jsparkSession.sharedState().cacheManager()
    assert jcm.isEmpty(), "dbscan_2d leaked a cache on the exception path"


def test_pq_inrow_size_guard_fallback(spark):
    """Oversize codebooks take the broadcast-join fallback and produce
    the identical rows as the literal-SQL in-row path."""
    import h2h_spark.operators.pq as pq

    df = spark.createDataFrame(
        [(i, [float((i * 3 + j) % 7) for j in range(8)]) for i in range(20)],
        "id bigint, vec array<double>",
    )
    books = {
        (j, c): [float((j + c + d) % 5) for d in range(4)]
        for j in range(2) for c in range(4)
    }
    cents = [(0, [0.0] * 8), (1, [3.0] * 8)]

    def rows(d):
        return sorted(tuple(r) for r in d.collect())

    inrow_assign = rows(pq.pq_assign_inrow(df, "id", "vec", books, m=2, dim=8))
    inrow_rec = rows(
        pq.pq_reconstruct_inrow(df, "id", "vec", books, m=2, dim=8)
    )
    inrow_enc = rows(
        pq.pq_encode_assign_inrow(df, "id", "vec", books, cents, m=2, dim=8)
    )
    old_cap = pq._INROW_MAX_LITERALS
    pq._INROW_MAX_LITERALS = 1  # force every call onto the fallback
    try:
        fb_assign = rows(pq.pq_assign_inrow(df, "id", "vec", books, m=2, dim=8))
        fb_rec = rows(
            pq.pq_reconstruct_inrow(df, "id", "vec", books, m=2, dim=8)
        )
        fb_enc = rows(
            pq.pq_encode_assign_inrow(df, "id", "vec", books, cents, m=2, dim=8)
        )
        fb_sv = pq.pq_assign_inrow(
            df, "id", "vec", books, m=2, dim=8, with_sv=True
        )
        assert fb_sv.columns == ["id", "j", "code", "dist_sq", "sv"]
        assert fb_sv.count() == 40
    finally:
        pq._INROW_MAX_LITERALS = old_cap
    assert fb_assign == inrow_assign
    assert fb_rec == inrow_rec
    assert fb_enc == inrow_enc


def test_scale_out_guard(spark):
    from h2h_spark.operators import scale_out

    df = spark.createDataFrame([(i, f"t{i}") for i in range(100)],
                               "id bigint, text string")
    par = spark.sparkContext.defaultParallelism
    small = df.coalesce(1)
    assert scale_out(small, "id").rdd.getNumPartitions() == par
    # round-robin form
    assert scale_out(small, None).rdd.getNumPartitions() == par
    # already-wide input passes through untouched (no extra Exchange)
    wide = df.repartition(par + 4)
    assert scale_out(wide, "id") is wide


def test_deltalog_guard_all_columns(spark, tmp_path):
    """Covered in test_deltalog.py::test_loud_failures (size-only and
    stats-only reads of a corrupt log raise) — this is a pointer test
    so round-14's change set is visible from its own test module."""
    import os

    from h2h_spark.operators.deltalog import read_log, write_commit

    tbl = str(tmp_path / "tbl")
    os.makedirs(os.path.join(tbl, "_log"))
    write_commit(tbl, 0, [{"add": {"path": "p0", "size": 1,
                                   "numRecords": 1, "minKey": 0,
                                   "maxKey": 0}}])
    with open(os.path.join(tbl, "_log", "0000000001.json"), "w") as f:
        f.write('{"bogus": 1}\n')
    with pytest.raises(Exception, match="malformed"):
        read_log(spark, tbl).select("num_records").collect()
