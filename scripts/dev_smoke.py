"""Dev smoke: layout codec + FLAT/CSV/XML round trips on sf0.001."""
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from h2h_spark import (
    Layout, String, Unsigned, Integer, Real, get_spark,
    read_csv, write_csv, read_flat, write_flat, read_xml, write_xml,
    merge_parts, file_status,
)

t0 = time.time()
spark = get_spark("dev_smoke", cpus=8)
print("session up", time.time() - t0)

SF = "/root/testdata/sf0.001"
WORK = "/tmp/h2h_dev"
os.makedirs(WORK, exist_ok=True)

# --- layout codec pure-python
lay = Layout([
    ("c_custkey", Integer(8)),
    ("c_name", String(32)),
    ("c_nationkey", Integer(4)),
    ("c_acctbal", Real(8)),
    ("c_mktsegment", String(12)),
])
print("reclen", lay.record_length)

cust = spark.read.parquet(f"{SF}/customer.parquet")
print("customer rows", cust.count())

# FLAT round trip
infos = write_flat(cust, f"{WORK}/cust_flat", lay)
print("flat parts", [(i.part_index, i.n_rows, i.n_bytes) for i in infos[:3]], "…", len(infos))
back = read_flat(spark, f"{WORK}/cust_flat", lay, max_partition_bytes=4096)
print("flat back rows", back.count(), "partitions", back.rdd.getNumPartitions())
orig = set(tuple(r) for r in cust.collect())
got = set(tuple(r) for r in back.collect())
assert got == orig, f"flat mismatch: {list(got - orig)[:2]} vs {list(orig - got)[:2]}"
print("FLAT ROUNDTRIP OK")

# column pruning
pruned = read_flat(spark, f"{WORK}/cust_flat", lay, columns=["c_name", "c_acctbal"])
assert pruned.columns == ["c_name", "c_acctbal"]
assert pruned.count() == cust.count()
print("FLAT PRUNED OK")

# CSV round trip (pipe sep, single-quote)
write_csv(cust, f"{WORK}/cust_csv", sep="|", quote="'")
back_csv = read_csv(spark, f"{WORK}/cust_csv", lay, sep="|", quote="'")
got = set(tuple(r) for r in back_csv.collect())
assert got == orig, f"csv mismatch {list(got - orig)[:2]}"
print("CSV ROUNDTRIP OK")

# CSV multi-char terminator
write_csv(cust, f"{WORK}/cust_csv2", sep=",", terminator="~~", quote="'")
back_csv2 = read_csv(spark, f"{WORK}/cust_csv2", lay, sep=",", terminator="~~", quote="'")
got = set(tuple(r) for r in back_csv2.collect())
assert got == orig, f"csv2 mismatch {list(got - orig)[:2]}"
print("CSV MULTI-TERM ROUNDTRIP OK")

# XML round trip with tiny splits to force boundary realignment
sup_lay = Layout([
    ("s_suppkey", Integer(8)),
    ("s_name", String(32)),
    ("s_nationkey", Integer(4)),
    ("s_acctbal", Real(8)),
])
sup = spark.read.parquet(f"{SF}/supplier.parquet")
write_xml(sup, f"{WORK}/sup_xml", row_path="Dataset/Row")
back_xml = read_xml(spark, f"{WORK}/sup_xml", sup_lay, row_tag="Row", max_partition_bytes=2048)
orig_sup = set(tuple(r) for r in sup.collect())
got_sup = set(tuple(r) for r in back_xml.collect())
assert got_sup == orig_sup, f"xml mismatch {list(got_sup - orig_sup)[:2]} / {list(orig_sup - got_sup)[:2]}"
print("XML ROUNDTRIP OK")

# merge
total = merge_parts(f"{WORK}/cust_csv", f"{WORK}/cust_merged.csv")
back_m = read_csv(spark, f"{WORK}/cust_merged.csv", lay, sep="|", quote="'")
assert set(tuple(r) for r in back_m.collect()) == orig
print("MERGE OK", total, "bytes")

st = file_status(spark, f"{WORK}/cust_merged.csv")
print("STATUS", st["type"], st["length"])

# unsigned8 decimal
import decimal
u8lay = Layout([("id", Unsigned(8)), ("v", Unsigned(1))])
pdf = __import__("pandas").DataFrame({"id": [2**63 + 5, 1, 0], "v": [1, 2, 255]})
packed = u8lay.pack(pdf)
un = u8lay.unpack(packed)
assert un["id"].tolist() == [decimal.Decimal(2**63 + 5), 1, 0], un["id"].tolist()
assert un["v"].tolist() == [1, 2, 255]
print("U8 OK")

print("ALL SMOKE OK in", round(time.time() - t0, 1), "s")
