"""Round-14 focused tests: cache-residue pairing for the iterative
operators (VERDICT r13 item 5), the PQ literal-SQL size-cap fallback
(item 8), and the scale_out rescue guard."""

import pytest
from pyspark.sql import functions as F


def _persistent_rdd_ids(spark) -> set:
    jmap = spark.sparkContext._jsc.sc().getPersistentRDDs()
    it = jmap.iterator()
    ids = set()
    while it.hasNext():
        ids.add(it.next()._1())
    return ids


def _edges(spark):
    rows = [(i, (i * 7) % 40) for i in range(40)] + [(3, 17), (5, 29)]
    return spark.createDataFrame(rows, "src bigint, dst bigint").filter(
        "src <> dst"
    )


@pytest.mark.parametrize("op", [
    "pagerank", "label_propagation", "label_propagation_semisync",
    "bfs_distances", "sssp_bounded", "feature_propagation",
    "connected_components", "simhash_near_duplicates", "jaccard_pairs",
    "dbscan_2d", "minhash_dedup_against_index",
])
def test_no_cache_residue(spark, op):
    """Every persist() inside the operator is released by the time the
    result is materialized: the only persistent RDDs left NEW after the
    run are localCheckpoint storage of the RESULT lineage (bounded, and
    owned by the returned DataFrame) — never the operator-internal edge
    /label/fingerprint caches.  Detection: internal caches are DataFrame
    persist() entries, which live in the CacheManager — assert the
    CacheManager is empty after the action (checkpoint RDD storage does
    not register there)."""
    from h2h_spark.operators import dedup as D
    from h2h_spark.operators import graph as G

    e = _edges(spark)
    docs = spark.createDataFrame(
        [(i, ("alpha beta gamma delta epsilon zeta " * 4) + f"w{i % 3}")
         for i in range(30)],
        "doc_id bigint, text string",
    )
    spark.catalog.clearCache()
    if op == "pagerank":
        out = G.pagerank(e, iterations=2)
    elif op == "label_propagation":
        out = G.label_propagation(e, iterations=2)
    elif op == "label_propagation_semisync":
        out = G.label_propagation_semisync(e, rounds=2, substeps=2)
    elif op == "bfs_distances":
        out = G.bfs_distances(
            e, e.select(F.col("src").alias("node")).limit(3), max_depth=6
        )
    elif op == "sssp_bounded":
        out = G.sssp_bounded(
            e.withColumn("w", F.lit(1.0)),
            e.select(F.col("src").alias("node")).limit(3),
            max_dist=3.5,
        )
    elif op == "feature_propagation":
        out = G.feature_propagation(
            e,
            e.select(F.col("src").alias("node")).distinct().withColumn(
                "feat", (F.col("node") % 9).cast("bigint")
            ),
            rounds=2,
        )
    elif op == "connected_components":
        out = D.connected_components(
            e.select(F.col("src").alias("id_a"), F.col("dst").alias("id_b"))
        )
    elif op == "simhash_near_duplicates":
        out = D.simhash_near_duplicates(docs, "doc_id", "text", max_hamming=30)
    elif op == "dbscan_2d":
        from h2h_spark.operators.spatial import dbscan_2d

        pts = spark.createDataFrame(
            [(i, (i % 7) * 0.01, (i % 5) * 0.01) for i in range(60)],
            "pid bigint, x double, y double",
        )
        out = dbscan_2d(pts, "pid", "x", "y", eps=0.02, min_pts=3)
    elif op == "minhash_dedup_against_index":
        entries, sets = D.minhash_index(docs.filter("doc_id < 20"), "doc_id", "text")
        out = D.minhash_dedup_against_index(
            docs.filter("doc_id >= 20"), entries, sets, "doc_id", "text"
        )
        sets.unpersist()  # the index's sets are the caller's to release
    else:
        out = D.jaccard_pairs(docs, "doc_id", "text", threshold=0.1)
    out.write.format("noop").mode("overwrite").save()
    # DataFrame persist() caches register in the CacheManager; a leaked
    # operator-internal cache would still be listed here.
    jcm = spark._jsparkSession.sharedState().cacheManager()
    assert jcm.isEmpty(), f"{op}: operator left DataFrame cache residue"


@pytest.mark.parametrize("op", ["label_propagation", "label_propagation_semisync"])
def test_lpa_releases_edge_cache_on_failure(spark, monkeypatch, op):
    """A sub-step that raises still releases every cache it took: the
    second checkpoint fails while the edge list and one label table are
    cached, and the CacheManager is empty afterwards."""
    from h2h_spark.operators import graph as G

    e = _edges(spark)
    frame = type(e)  # the concrete DataFrame class the session returns
    real = frame.localCheckpoint
    calls = []

    def failing(self, *args, **kwargs):
        calls.append(1)
        if len(calls) == 2:
            raise RuntimeError("sub-step failed")
        return real(self, *args, **kwargs)

    spark.catalog.clearCache()
    monkeypatch.setattr(frame, "localCheckpoint", failing)
    with pytest.raises(RuntimeError, match="sub-step failed"):
        if op == "label_propagation":
            G.label_propagation(e, iterations=3)
        else:
            G.label_propagation_semisync(e, rounds=2, substeps=2)
    assert len(calls) == 2
    jcm = spark._jsparkSession.sharedState().cacheManager()
    assert jcm.isEmpty(), f"{op}: edge cache leaked on the exception path"


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
