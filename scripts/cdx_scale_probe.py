"""Throughput probe for the round-10 crawl-index tier: index scan
rate, sorted-index production, and — the headline — index-driven fetch
vs full-archive scan on the same selection.

Builds a synthetic archive (default ~200k records across 8 .warc.gz
shards, ~0.5 KB payloads) plus its CDXJ index, then measures:

  1. cdx scan (member-gz)           — lines/s, MB/s
  2. sorted index production        — records/s (range shuffle + sort)
  3. SELECTIVE ACCESS, two ways:
     a. full-archive scan + filter  — what you pay WITHOUT an index
     b. index filter + ranged fetch — seek+read only the survivors
     and reports the bytes-read ratio (the 100 TB argument in one
     number).

Usage: python scripts/cdx_scale_probe.py [n_records] [selectivity_pct] [payload_reps]
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F

from h2h_spark import get_spark
from h2h_spark.sources.cdx import (
    fetch_warc_by_location,
    read_cdx,
    surt_key,
    write_cdx_sharded,
)
from h2h_spark.sources.warc import read_warc_gz, write_warc_gz_records


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    sel_pct = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 50
    spark = get_spark("cdx_scale_probe")
    spark.range(10).mapInArrow(lambda it: it, "id long").collect()

    with tempfile.TemporaryDirectory() as root:
        warc_dir = os.path.join(root, "warc")
        idx_dir = os.path.join(root, "idx")
        os.makedirs(warc_dir)
        n_shards = 8
        per = n // n_shards

        # -- build shards + raw capture table (driver-side build, timed
        #    separately; payloads ~0.5 KB)
        t0 = time.time()
        captures = []
        for s in range(n_shards):
            recs = []
            base = s * per
            for i in range(base, base + per):
                payload = (b"x%07d|" % i) * reps
                recs.append((
                    {
                        "WARC-Type": "response",
                        "WARC-Record-ID": f"<urn:{i}>",
                        "WARC-Target-URI": f"https://h{i % 997}.org/p/{i}",
                    },
                    payload,
                ))
            wpath = os.path.join(warc_dir, f"c{s}.warc.gz")
            for i, (off, ln) in zip(range(base, base + per),
                                    write_warc_gz_records(wpath, recs)):
                captures.append((
                    f"https://h{i % 997}.org/p/{i}",
                    f"20240101{i % 1000000:06d}", wpath, off, ln,
                    200, "text/html",
                ))
        warc_bytes = sum(
            os.path.getsize(os.path.join(warc_dir, f))
            for f in os.listdir(warc_dir)
        )
        print(f"build: {n} records, {warc_bytes/1e6:.1f} MB warc.gz, "
              f"{time.time()-t0:.1f}s")

        cap_df = spark.createDataFrame(
            captures,
            "url string, ts string, warc_file string, offset long, "
            "length long, status long, mime string",
        ).withColumn("surt", surt_key(F.col("url"))).cache()
        cap_df.count()

        # -- 2. sorted index production
        t0 = time.time()
        write_cdx_sharded(cap_df, idx_dir, n_shards=16)
        dt = time.time() - t0
        idx_bytes = sum(
            os.path.getsize(os.path.join(idx_dir, f))
            for f in os.listdir(idx_dir)
        )
        print(f"index production: {n/dt:,.0f} records/s ({dt:.1f}s, "
              f"{idx_bytes/1e6:.1f} MB index)")

        # -- 1. index scan
        for _ in range(2):
            t0 = time.time()
            c = read_cdx(spark, idx_dir).count()
            dt = time.time() - t0
        print(f"index scan: {c} lines, {c/dt:,.0f} lines/s, "
              f"{idx_bytes/1e6/dt:.0f} MB/s compressed ({dt:.2f}s)")

        # -- 3a. full-archive scan + filter (no index)
        mod = 100 // sel_pct
        for _ in range(2):
            t0 = time.time()
            full = read_warc_gz(spark, warc_dir).filter(
                F.regexp_extract("target_uri", r"/p/(\d+)$", 1)
                .cast("long") % mod == 0
            ).agg(F.count(F.lit(1)), F.sum("content_length")).collect()
            dt_full = time.time() - t0
        k = full[0][0]
        print(f"full scan+filter: {k} hits in {dt_full:.2f}s — "
              f"read {warc_bytes/1e6:.1f} MB "
              f"({warc_bytes/1e6/dt_full:.0f} MB/s)")

        # -- 3b. index filter + ranged fetch
        for _ in range(2):
            t0 = time.time()
            picked = read_cdx(spark, idx_dir).filter(
                F.regexp_extract("url", r"/p/(\d+)$", 1)
                .cast("long") % mod == 0
            )
            out = fetch_warc_by_location(picked).agg(
                F.count(F.lit(1)), F.sum(F.col("length"))
            ).collect()
            dt_idx = time.time() - t0
        fetched_bytes = out[0][1]
        print(f"index fetch: {out[0][0]} hits in {dt_idx:.2f}s — "
              f"read {idx_bytes/1e6:.1f} MB index + "
              f"{fetched_bytes/1e6:.1f} MB records")
        print(f"bytes-read ratio (full/indexed): "
              f"{warc_bytes/(idx_bytes+fetched_bytes):.1f}x; "
              f"wall ratio: {dt_full/dt_idx:.1f}x at {sel_pct}% selectivity")


if __name__ == "__main__":
    main()
