"""Reference-parity API surface (PipeIn/PipeOut/PipeOutAndMerge) and
physical-plan hygiene (pushdown, broadcast) — the 100 TB discipline."""
import os
import re

import pytest
from pyspark.sql import types as T

import __spark_entry__ as entrymod
from h2h_spark import Integer, Layout, Real, String, pipe_in, pipe_out, pipe_out_and_merge
from h2h_spark.api import _parse_format
from h2h_spark.sources.transport import hdfs_uri, webhdfs_uri

from tests.conftest import SF_DIR

LAY = Layout(
    [
        ("c_custkey", Integer(8)),
        ("c_name", String(32)),
        ("c_nationkey", Integer(4)),
        ("c_acctbal", Real(8)),
        ("c_mktsegment", String(12)),
    ]
)


def test_parse_format_dispatch():
    assert _parse_format("FLAT") == ("flat", {})
    assert _parse_format("XML('Dataset/Row')") == ("xml", {"row_tag": "Dataset/Row"})
    kind, opts = _parse_format("CSV(SEPARATOR('|'), QUOTE('\\''), TERMINATOR('\\n'))")
    assert kind == "csv"
    assert opts["sep"] == "|"
    assert opts["terminator"] == "\\n"
    with pytest.raises(ValueError):
        _parse_format("AVRO")


def test_pipe_roundtrip_flat(spark, tmp_work):
    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    pipe_out(cust, f"{tmp_work}/pf", LAY, "FLAT")
    back = pipe_in(spark, f"{tmp_work}/pf", LAY, "FLAT")
    assert back.count() == cust.count()


def test_pipe_out_and_merge_csv(spark, tmp_work):
    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    target = f"{tmp_work}/merged.csv"
    pipe_out_and_merge(cust, target, LAY, "CSV(SEPARATOR('|'))")
    assert os.path.isfile(target)
    assert not os.path.exists(target + "-parts")  # cleanmerge semantics
    back = pipe_in(spark, target, LAY, "CSV(SEPARATOR('|'))")
    assert back.count() == cust.count()


def test_pipe_out_rejects_xml(spark, tmp_work):
    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    with pytest.raises(ValueError, match="FLAT and CSV"):
        pipe_out(cust, f"{tmp_work}/px", LAY, "XML('Row')")


def test_transport_uris():
    assert hdfs_uri("nn", 8020, "/a/b") == "hdfs://nn:8020/a/b"
    assert hdfs_uri("nn", None, "a/b") == "hdfs://nn/a/b"
    assert webhdfs_uri("nn", 50070, "/x") == "webhdfs://nn:50070/x"


def test_q1_pushes_filter_to_parquet(spark):
    df = entrymod.q_scan_project_filter(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan or "PushedFilters" in plan
    # column pruning: the scan must not read columns Q1 doesn't touch
    assert "l_suppkey" not in plan


def test_join_agg_broadcasts_dim(spark):
    df = entrymod.q_join_agg(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_topk_is_take_ordered_not_full_sort(spark):
    df = entrymod.q_topk_orders(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_bucketed_join_no_shuffle(spark):
    from h2h_spark.plans.bucketing import bucketed_join, write_bucketed

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    write_bucketed(orders, "t_orders_b", "o_custkey", 8)
    write_bucketed(
        cust.withColumnRenamed("c_custkey", "o_custkey"), "t_cust_b", "o_custkey", 8
    )
    # hint MERGE so AQE doesn't broadcast the (tiny at test SF) dim side —
    # the property under test is that the sort-merge join needs no Exchange
    joined = (
        spark.table("t_orders_b")
        .hint("merge")
        .join(spark.table("t_cust_b"), "o_custkey")
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan  # co-located: the shuffle was paid at write
    assert joined.count() == orders.count()


def test_hash_split_plan_is_narrow(spark):
    """hash_split must stay a per-row projection: no Exchange, no
    aggregation — split assignment cannot cost a shuffle at 100 TB."""
    from h2h_spark.operators.sampling import hash_split

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = hash_split(docs, "doc_id", {"a": 0.5, "b": 0.5}).select("doc_id", "split")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Aggregate" not in plan


def test_sequence_pack_single_range_exchange(spark):
    """The two-pass prefix sum plans exactly one range repartition plus
    the broadcast offsets join — never a single-partition global window
    (`Window [...] ORDER BY` with no partitioning = the serialization
    cliff this operator exists to avoid)."""
    from h2h_spark.operators.packing import pack_sequences

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").selectExpr(
        "doc_id", "n_chars AS n"
    )
    # _materialize=False keeps the lineage visible: the default path ends
    # in an eager localCheckpoint (cache-release discipline, round 14)
    # whose executed plan is just `Scan ExistingRDD`.
    out = pack_sequences(docs, "doc_id", "n", budget=4096, n_parts=8,
                         _materialize=False)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan.lower()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # the window must be partitioned (by the physical partition id), not global
    import re as _re

    for m in _re.finditer(r"Window \[[^\]]*\], \[([^\]]*)\]", plan):
        assert m.group(1).strip(), "global (unpartitioned) window in plan"
    # the production path materializes: its plan is the checkpointed scan
    prod = pack_sequences(docs, "doc_id", "n", budget=4096, n_parts=8)
    plan = prod._jdf.queryExecution().executedPlan().toString()
    assert re.match(r"(\*\(\d+\) )?Scan ExistingRDD", plan), plan


def test_partition_pruning_in_plan(spark):
    df = entrymod.q_partition_pruning(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    # day bounds must appear as partition filters, not data filters
    assert "day" in plan.split("PartitionFilters", 1)[1][:300]


def test_compact_reduces_file_count(spark, tmp_path):
    from h2h_spark.sources.compact import compact, directory_bytes

    src = str(tmp_path / "many")
    spark.range(100000).selectExpr("id", "id * 2 AS v").repartition(40) \
        .write.parquet(src)
    import glob
    n_before = len([p for p in glob.glob(f"{src}/part*") if not p.endswith(".crc")])
    assert n_before == 40
    dst = str(tmp_path / "few")
    n_after = compact(spark, src, dst, target_bytes=directory_bytes(spark, src) // 2)
    assert n_after <= 3
    assert spark.read.parquet(dst).count() == 100000


def test_disjunctive_filter_pushes_derived_predicates(spark):
    """Q19 shape: the cross-table OR can't push, but the derived per-side
    filters (brand IN, quantity <=) must reach both parquet scans."""
    df = entrymod.q_disjunctive_filter(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "In(p_brand" in plan
    assert "LessThanOrEqual(l_quantity" in plan
    assert "BroadcastHashJoin" in plan


def test_volume_shipping_broadcasts_both_nation_chains(spark):
    df = entrymod.q_volume_shipping(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 3  # supplier + two nation dims


def test_zorder_layout_prunes_both_dimensions(spark, tmp_work):
    """A 2-D selective filter over a z-ordered layout touches a small
    fraction of files — and strictly fewer than a 1-D sorted layout does
    for its non-sort dimension."""
    from pyspark.sql import functions as F

    from h2h_spark.plans.zorder import zorder_write

    n = 40_000
    df = spark.range(n).select(
        (F.col("id") % 200).alias("x"),
        (F.floor(F.col("id") / 200) % 200).cast("double").alias("y"),
    )
    zpath = f"{tmp_work}/z"
    lpath = f"{tmp_work}/lin"
    zorder_write(df, zpath, ["x", "y"], bits=8, n_files=16)
    # 1-D baseline: sorted by x only
    df.repartitionByRange(16, "x").sortWithinPartitions("x").write.parquet(lpath)

    def files_touched(path, cond):
        d = spark.read.parquet(path).filter(cond)
        return d.select(F.input_file_name()).distinct().count()

    sel_y = F.col("y").between(10.0, 20.0)  # selective on the NON-sort dim
    z_files = files_touched(zpath, sel_y)
    lin_files = files_touched(lpath, sel_y)
    assert z_files <= 8  # z-order localizes y despite x participating
    assert lin_files >= 15  # x-sorted layout spreads y everywhere
    # and the z layout also stays selective on x
    assert files_touched(zpath, F.col("x").between(10, 20)) <= 8
    # correctness: same rows back from both layouts
    a = spark.read.parquet(zpath).filter(sel_y).agg(F.count("*"), F.sum("x")).collect()
    b = spark.read.parquet(lpath).filter(sel_y).agg(F.count("*"), F.sum("x")).collect()
    assert a == b


# ---------------------------------------------------------------------------
# CLI (__main__): the reference's hdfspipe flag surface
# ---------------------------------------------------------------------------


def test_cli_so_mf_si_roundtrip(spark, tmp_work):
    import pytest

    from h2h_spark.__main__ import main
    from h2h_spark.layout import Layout, String, Unsigned

    lay = Layout([("name", String(12)), ("qty", Unsigned(4))])
    lay_path = f"{tmp_work}/lay.json"
    open(lay_path, "w").write(lay.to_json())
    src = f"{tmp_work}/in_pq"
    spark.createDataFrame(
        [("ab", 5), ("cdef", 9)], "name string, qty long"
    ).write.mode("overwrite").parquet(src)
    target = f"{tmp_work}/wire_file"
    assert main(["-so", "-in", src, "-filename", target,
                 "-format", "FLAT", "-layout", lay_path]) == 0
    assert main(["-mf", "-filename", target, "-cleanmerge", "1"]) == 0
    import os
    assert os.path.isfile(target) and not os.path.exists(target + "-parts")
    out = f"{tmp_work}/back_pq"
    assert main(["-si", "-filename", target, "-format", "FLAT",
                 "-layout", lay_path, "-out", out]) == 0
    back = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    assert back == [("ab", 5), ("cdef", 9)]

    # validateParameters parity: bad topology flags abort
    with pytest.raises(SystemExit):
        main(["-si", "-filename", target, "-layout", lay_path,
              "-out", out, "-clustercount", "0"])
    with pytest.raises(SystemExit):
        main(["-si", "-filename", target, "-layout", lay_path,
              "-out", out, "-clustercount", "2", "-nodeid", "5"])


def test_cli_csv_flag_composition(spark, tmp_work):
    from h2h_spark.__main__ import main
    from h2h_spark.layout import Layout, String, Unsigned

    lay = Layout([("name", String(8)), ("qty", Unsigned(4))])
    lay_path = f"{tmp_work}/lay.json"
    open(lay_path, "w").write(lay.to_json())
    src = f"{tmp_work}/in_pq"
    spark.createDataFrame(
        [("x", 1), ("y", 2)], "name string, qty long"
    ).write.mode("overwrite").parquet(src)
    target = f"{tmp_work}/csv_file"
    assert main(["-sop", "-in", src, "-filename", target, "-format", "CSV",
                 "-separator", "|", "-layout", lay_path]) == 0
    text = open(target).read()
    assert "|" in text
    out = f"{tmp_work}/back_pq"
    assert main(["-si", "-filename", target, "-format", "CSV",
                 "-separator", "|", "-layout", lay_path, "-out", out]) == 0
    back = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    assert back == [("x", 1), ("y", 2)]


def test_cli_xml_pipein(spark, tmp_work):
    from h2h_spark.__main__ import main
    from h2h_spark.layout import Layout, String, Unsigned
    from h2h_spark.sources.xml import write_xml

    lay = Layout([("name", String(8)), ("qty", Unsigned(4))])
    lay_path = f"{tmp_work}/lay.json"
    open(lay_path, "w").write(lay.to_json())
    df = spark.createDataFrame([("x", 1), ("y", 2)], "name string, qty long")
    target = f"{tmp_work}/rows_xml"
    write_xml(df, target, "Dataset/Row")
    out = f"{tmp_work}/back_pq"
    assert main(["-si", "-filename", target, "-format", "XML",
                 "-rowtag", "Row", "-layout", lay_path, "-out", out]) == 0
    back = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    assert back == [("x", 1), ("y", 2)]


def test_ivfpq_store_prunes_and_compacts(spark, tmp_path):
    """The stored ANN index must (a) hold ONE compacted file per cell and
    (b) serve probes through partition pruning — the cell predicate must
    be a PartitionFilter, never a post-scan data filter."""
    import glob

    from pyspark.sql import functions as F

    from h2h_spark.operators.annstore import (
        ivfpq_probe_stored,
        ivfpq_save,
    )
    from h2h_spark.operators.pq import pq_encode, seed_codebooks

    dim, m, k = 8, 2, 4
    emb = spark.range(200).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda i: ((F.col("id") * 7 + i * 3) % 13).cast("double") / 13.0,
        ).alias("embedding"),
    )
    books = seed_codebooks(emb, "vec_id", "embedding", m=m, k=k, dim=dim)
    codes = pq_encode(emb, "vec_id", "embedding", books, m=m, dim=dim)
    # 5 coarse cells by id range; centroids = deterministic fakes
    cw = codes.join(
        emb.select(
            F.col("vec_id").alias("id"), (F.col("vec_id") % 5).cast("int").alias("cell")
        ),
        "id",
    ).repartition(16)  # many upstream tasks -> compaction must collapse them
    cents = spark.createDataFrame(
        [(c, [float(c)] * dim) for c in range(5)], "cell int, cvec array<double>"
    )
    path = str(tmp_path / "annidx")
    ivfpq_save(cw, cents, books, path)
    # (a) one file per cell despite 16 upstream tasks
    for c in range(5):
        files = [
            p
            for p in glob.glob(f"{path}/codes/cell={c}/part-*")
            if not p.endswith(".crc")
        ]
        assert len(files) == 1, (c, files)
    # (b) probe: query nearest to centroid 2 -> cells [2, then next]
    out = ivfpq_probe_stored(
        spark, path, [2.0] * dim, m=m, k=k, dim=dim, n_probe=2, top=5
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "cell" in plan.split("PartitionFilters", 1)[1][:300]
    rows = out.collect()
    assert len(rows) == 5
    # every returned member is from a probed cell
    assert {r["cell"] for r in rows} <= {2, 1, 3}


def test_ivfpq_upsert_rewrites_only_touched_cells(spark, tmp_path):
    """Delta merge must leave untouched cell files byte-identical (same
    path, same mtime), rewrite touched cells as ONE compacted file, and
    resolve id collisions delta-wins."""
    import glob
    import os

    from pyspark.sql import functions as F

    from h2h_spark.operators.annstore import ivfpq_save, ivfpq_upsert
    from h2h_spark.operators.pq import pq_encode, seed_codebooks

    dim, m, k = 8, 2, 4
    emb = spark.range(200).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda i: ((F.col("id") * 7 + i * 3) % 13).cast("double") / 13.0,
        ).alias("embedding"),
    )
    books = seed_codebooks(emb, "vec_id", "embedding", m=m, k=k, dim=dim)
    codes = pq_encode(emb, "vec_id", "embedding", books, m=m, dim=dim)
    cw = codes.join(
        emb.select(
            F.col("vec_id").alias("id"), (F.col("vec_id") % 5).cast("int").alias("cell")
        ),
        "id",
    )
    cents = spark.createDataFrame(
        [(c, [float(c)] * dim) for c in range(5)], "cell int, cvec array<double>"
    )
    path = str(tmp_path / "annidx")
    ivfpq_save(cw, cents, books, path)

    def cell_files():
        out = {}
        for c in range(5):
            fs = [
                p
                for p in glob.glob(f"{path}/codes/cell={c}/part-*")
                if not p.endswith(".crc")
            ]
            out[c] = {(p, os.path.getmtime(p)) for p in fs}
        return out

    before = cell_files()
    # delta: one brand-new id and one collision (id 7 lives in cell 2),
    # all landing in cell 2 with sentinel code 3
    delta = spark.createDataFrame(
        [(1000, 2, j, 3) for j in range(m)] + [(7, 2, j, 3) for j in range(m)],
        "id long, cell int, j int, code int",
    )
    ivfpq_upsert(spark, path, delta)
    after = cell_files()
    for c in (0, 1, 3, 4):
        assert after[c] == before[c], c  # untouched: same file, same mtime
    assert after[2] != before[2]
    assert len(after[2]) == 1  # still one compacted file
    cell2 = spark.read.parquet(f"{path}/codes").filter(F.col("cell") == 2)
    got = {(r["id"], r["j"]): r["code"] for r in cell2.collect()}
    assert got[(1000, 0)] == 3 and got[(1000, 1)] == 3
    assert got[(7, 0)] == 3 and got[(7, 1)] == 3  # delta won the collision
    # old cell-2 members survived the rewrite
    assert (2, 0) in got and (12, 0) in got


def test_parquet_rowgroup_stats_multi_group(spark, tmp_work):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from h2h_spark.sources.meta import parquet_rowgroup_stats

    p = f"{tmp_work}/t.parquet"
    pq.write_table(
        pa.table({"k": pa.array(range(250), pa.int64())}),
        p, row_group_size=100,
    )
    rows = sorted(
        (r["row_group"], r["n_rows"], r["stats_min"], r["stats_max"])
        for r in parquet_rowgroup_stats(spark, p, "k").collect()
    )
    assert rows == [(0, 100, "0", "99"), (1, 100, "100", "199"),
                    (2, 50, "200", "249")]


def _h2h_scan(spark, tmp_work, reader):
    """One h2h reader over an input cut into several splits, and the
    number of splits its driver-side planner makes for that input."""
    from h2h_spark import read_flat, read_xml, write_flat, write_xml
    from h2h_spark.sources.flat import plan_flat_splits
    from h2h_spark.sources.util import list_part_files
    from h2h_spark.sources.xml import plan_xml_splits

    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet").repartition(3)
    path = f"{tmp_work}/{reader}"
    if reader == "flat":
        write_flat(cust, path, LAY)
        splits = plan_flat_splits(list_part_files(path), LAY.record_length, 4096)
        return read_flat(spark, path, LAY, max_partition_bytes=4096), len(splits)
    if reader == "xml":
        write_xml(cust, path)
        splits = plan_xml_splits(list_part_files(path, pattern="*"), 4096)
        return read_xml(spark, path, LAY, max_partition_bytes=4096), len(splits)
    if reader == "csv_quoted":
        return _csv_quoted_scan(spark, path)
    return _container_scan(spark, cust, path, reader)


def _csv_quoted_scan(spark, path):
    from h2h_spark.sources.csv_split import byte_ranges, read_csv_quoted_splits

    text = "".join(f"{i},'line{i}\nnext'\n" for i in range(300))
    with open(path, "w") as f:
        f.write(text)
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("body", T.StringType())]
    )
    df = read_csv_quoted_splits(spark, path, schema, max_partition_bytes=1024)
    return df, len(byte_ranges(len(text), 1024))


def _container_scan(spark, cust, path, reader):
    """The container and Avro readers, one per kind of split descriptor:
    byte range (warc), batch run (arrow), rowid range (sqlite), directory
    slice (zip), npz member rows, zarr chunk rows, Avro sync-realigned
    range."""
    import zipfile

    import numpy as np
    import pyarrow as pa

    from h2h_spark.sources import arrowipc, avro, npy, sqlitesrc, warc, zarr, zipsrc
    from h2h_spark.sources.util import byte_ranges, file_size, list_part_files

    os.makedirs(path)
    if reader == "warc":
        warc.write_warc_records(f"{path}/a.warc", [
            ({"WARC-Type": "response", "WARC-Record-ID": f"<urn:{i}>"}, b"p" * i)
            for i in range(60)
        ])
        splits = warc.plan_warc_splits(list_part_files(path, pattern="*.warc"), 512)
        return warc.read_warc(spark, path, max_partition_bytes=512), len(splits)
    if reader == "arrow":
        arrowipc.write_arrow_ipc(
            pa.table({"id": pa.array(range(100), pa.int64())}), f"{path}/a.arrow",
            chunk_rows=10,
        )
        return arrowipc.read_arrow_ipc(spark, path, batches_per_split=3), 4
    if reader == "sqlite":
        p = f"{path}/a.sqlite"
        sqlitesrc.write_sqlite(p, "t", [("id", "INTEGER")], [(i,) for i in range(100)])
        splits = sqlitesrc.plan_sqlite_splits([p], "t", 30)
        return sqlitesrc.read_sqlite(spark, p, "t", max_rows_per_task=30), len(splits)
    if reader == "zip":
        with zipfile.ZipFile(f"{path}/a.zip", "w", zipfile.ZIP_DEFLATED) as z:
            for i in range(20):
                z.writestr(f"m{i:03d}", b"x" * (i + 1))
        return zipsrc.read_zip(spark, path, members_per_split=7), 3
    if reader == "npz":
        np.savez(f"{path}/a.npz", emb=np.ones((33, 5), dtype="<f4"))
        return npy.read_npz(spark, path, "emb", rows_per_split=10), 4
    if reader == "zarr":
        zarr.write_zarray(path, (8, 4), (2, 4))
        for ci in range(4):
            zarr.write_zarr_chunk(path, ci, 0, np.ones((2, 4), dtype="<f4"))
        return zarr.read_zarr(spark, path), 4
    avro.write_avro(cust, f"{path}/t")
    n_splits = sum(
        len(byte_ranges(file_size(p) - avro._read_header(p)[3], 2048))
        for p in list_part_files(f"{path}/t")
    )
    return avro.read_avro(spark, f"{path}/t", max_partition_bytes=2048), n_splits


def _broadcast_subtrees(plan: str) -> list[str]:
    """The text of every BroadcastExchange subtree of a plan string."""
    lines = plan.splitlines()
    out = []
    for i, line in enumerate(lines):
        at = line.find("BroadcastExchange")
        if at < 0:
            continue
        sub = [line]
        for nxt in lines[i + 1:]:
            if re.match(r"[ :|+\-]*", nxt).end() <= at:
                break
            sub.append(nxt)
        out.append("\n".join(sub))
    return out


@pytest.mark.parametrize(
    "reader",
    ["flat", "xml", "csv_quoted", "warc", "arrow", "sqlite", "zip", "npz", "zarr",
     "avro"],
)
def test_h2h_scan_is_one_map_in_arrow_task_per_split(spark, tmp_work, reader):
    """Every reader plans splits on the driver and scans them as
    MapInArrow over the descriptor RDD: one partition per split, no other
    Python stage, and no size estimate, so a join against a range smaller
    than the broadcast threshold broadcasts the range, never the scan."""
    df, n_splits = _h2h_scan(spark, tmp_work, reader)
    assert n_splits > 1
    assert df.rdd.getNumPartitions() == n_splits
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"MapInArrow [^\n]*\n[ :|+\-]*(\*\(\d+\) )?Scan ExistingRDD", plan), plan
    assert "BatchEvalPython" not in plan

    big = spark.range(5_000_000)
    joined = df.join(big, df[df.columns[0]] == big.id)
    plan = joined._jdf.queryExecution().executedPlan().toString()
    subtrees = _broadcast_subtrees(plan)
    assert subtrees, plan
    assert not any("MapInArrow" in t for t in subtrees), plan
