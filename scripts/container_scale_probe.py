"""Throughput probe for the crawl/container sources (WARC, gzip-WARC,
TAR, ZIP, Arrow IPC): synthesize a few hundred MB of each, scan with
production-ish split sizes, report MB/s and task counts.

Evidence for SCALE.md — the question is whether the pure-Python split
scanners keep enough per-task throughput that a 100 TB scan is bounded
by cluster I/O, not by the resync/parse logic.
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from h2h_spark import get_spark

OUT = "/tmp/container_probe"
TARGET_MB = 200
PAYLOAD = (b"x" * 900 + b"\n") * 8  # ~7.2 KB per record


def _rnd_payload() -> bytes:
    """Deterministic incompressible ~7.2 KB payload for the gzip-family
    probes: with the repetitive PAYLOAD the whole 200 MB archive deflates
    to ~4 MB → one task, and the probe measures serial per-member
    overhead instead of the splittable scan it exists to measure."""
    import hashlib

    out = bytearray()
    seed = b"probe"
    while len(out) < len(PAYLOAD):
        seed = hashlib.md5(seed).digest()
        out += seed
    return bytes(out[: len(PAYLOAD)])


PAYLOAD_RND = _rnd_payload()


def build_warc(path: str) -> int:
    from h2h_spark.sources.warc import write_warc_records

    recs = []
    i = 0
    size = 0
    per = len(PAYLOAD) + 120
    n = TARGET_MB * 1024 * 1024 // per
    recs = [
        (
            {"WARC-Type": "response", "WARC-Record-ID": f"<urn:p:{i}>"},
            PAYLOAD,
        )
        for i in range(n)
    ]
    write_warc_records(path, recs)
    return n


def build_tar(path: str) -> int:
    import io
    import tarfile

    per = len(PAYLOAD) + 1024
    n = TARGET_MB * 1024 * 1024 // per
    with tarfile.open(path, "w", format=tarfile.USTAR_FORMAT) as tf:
        for i in range(n):
            ti = tarfile.TarInfo(name=f"d/{i:08d}")
            ti.size = len(PAYLOAD)
            tf.addfile(ti, io.BytesIO(PAYLOAD))
    return n


def build_warc_gz(path: str) -> int:
    from h2h_spark.sources.warc import write_warc_gz_records

    per = len(PAYLOAD) + 120
    n = TARGET_MB * 1024 * 1024 // per
    write_warc_gz_records(
        path,
        [(
            {"WARC-Type": "response", "WARC-Record-ID": f"<urn:g:{i}>"},
            PAYLOAD_RND,
        ) for i in range(n)],
    )
    return n


def build_tar_gz(path: str, layout: str) -> int:
    from h2h_spark.sources.tar import write_tar_gz_members, write_tar_gz_stream

    per = len(PAYLOAD) + 1024
    n = TARGET_MB * 1024 * 1024 // per
    members = [(f"d/{i:08d}", 0, PAYLOAD_RND) for i in range(n)]
    (write_tar_gz_members if layout == "member" else write_tar_gz_stream)(
        path, members
    )
    return n


def build_zip(path: str) -> int:
    import zipfile

    per = len(PAYLOAD) // 8 + 120  # deflate shrinks the repetitive payload
    n = TARGET_MB * 1024 * 1024 // (len(PAYLOAD) + 120)
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for i in range(n):
            z.writestr(f"d/{i:08d}", PAYLOAD)
    return n


def main() -> None:
    os.makedirs(OUT, exist_ok=True)
    spark = get_spark("container_probe")
    spark.range(10).collect()  # warm the JVM

    results = []

    warc = f"{OUT}/probe.warc"
    if not os.path.exists(warc):
        build_warc(warc)
    from h2h_spark.sources.warc import read_warc

    # Warm the Python datasource worker pool before timing: the first
    # wide datasource stage pays one-time worker spin-up (~0.25s/worker,
    # measured 8.6s cold vs 0.8s warm on this box) that a long-lived
    # cluster never sees per-scan.
    read_warc(spark, warc, max_partition_bytes=8 << 20).count()

    for split_mb in (8, 32):
        t0 = time.time()
        n = read_warc(spark, warc, max_partition_bytes=split_mb << 20).count()
        dt = time.time() - t0
        mb = os.path.getsize(warc) / 1e6
        results.append(
            f"WARC  {mb:.0f} MB, {split_mb} MiB splits: {n} records in "
            f"{dt:.1f}s = {mb/dt:.0f} MB/s"
        )

    tar = f"{OUT}/probe.tar"
    if not os.path.exists(tar):
        build_tar(tar)
    from h2h_spark.sources.tar import read_tar

    t0 = time.time()
    n = read_tar(spark, tar, max_partition_bytes=8 << 20).count()
    dt = time.time() - t0
    mb = os.path.getsize(tar) / 1e6
    results.append(
        f"TAR   {mb:.0f} MB, 8 MiB splits: {n} members in {dt:.1f}s = "
        f"{mb/dt:.0f} MB/s"
    )

    wgz = f"{OUT}/probe.warc.gz"
    if not os.path.exists(wgz):
        n_wgz = build_warc_gz(wgz)
    from h2h_spark.sources.warc import read_warc_gz

    t0 = time.time()
    n = read_warc_gz(spark, wgz, max_partition_bytes=8 << 20).count()
    dt = time.time() - t0
    mb = os.path.getsize(wgz) / 1e6
    umb = n * (len(PAYLOAD_RND) + 120) / 1e6
    results.append(
        f"WARC.GZ {mb:.0f} MB compressed ({umb:.0f} MB inflated), 8 MiB "
        f"splits: {n} records in {dt:.1f}s = {umb/dt:.0f} MB/s inflated"
    )

    from h2h_spark.sources.tar import read_tar_gz

    for layout in ("member", "stream"):
        tgz = f"{OUT}/probe_{layout}.tar.gz"
        if not os.path.exists(tgz):
            build_tar_gz(tgz, layout)
        t0 = time.time()
        n = read_tar_gz(spark, tgz, max_partition_bytes=8 << 20).count()
        dt = time.time() - t0
        mb = os.path.getsize(tgz) / 1e6
        umb = n * (len(PAYLOAD_RND) + 1024) / 1e6
        results.append(
            f"TAR.GZ/{layout} {mb:.0f} MB compressed ({umb:.0f} MB "
            f"inflated): {n} members in {dt:.1f}s = {umb/dt:.0f} MB/s "
            f"inflated" + (" (single task — unsplittable layout)"
                           if layout == "stream" else "")
        )

    from h2h_spark.sources.tfrecord import read_tfrecord, write_tfrecords

    tfr = f"{OUT}/probe.tfrecord"
    if not os.path.exists(tfr):
        n_tfr = TARGET_MB * 1024 * 1024 // (len(PAYLOAD) + 16)
        write_tfrecords(tfr, [PAYLOAD] * n_tfr)
    for verify in (True, False):
        t0 = time.time()
        n = read_tfrecord(
            spark, tfr, max_partition_bytes=8 << 20, verify_data_crc=verify
        ).count()
        dt = time.time() - t0
        mb = os.path.getsize(tfr) / 1e6
        results.append(
            f"TFRECORD {mb:.0f} MB, 8 MiB splits, dataCrc={verify}: {n} "
            f"records in {dt:.1f}s = {mb/dt:.0f} MB/s"
        )

    # zstd container family + compressed shard formats (round 9)
    from h2h_spark.sources.warc import read_warc_zst, write_warc_zst_records

    wz = f"{OUT}/probe.warc.zst"
    if not os.path.exists(wz):
        per = len(PAYLOAD) + 120
        n_wz = TARGET_MB * 1024 * 1024 // per
        write_warc_zst_records(
            wz,
            [(
                {"WARC-Type": "response", "WARC-Record-ID": f"<urn:z:{i}>"},
                PAYLOAD_RND,
            ) for i in range(n_wz)],
            records_per_frame=4,
        )
    t0 = time.time()
    n = read_warc_zst(spark, wz, max_partition_bytes=8 << 20).count()
    dt = time.time() - t0
    mb = os.path.getsize(wz) / 1e6
    umb = n * (len(PAYLOAD_RND) + 120) / 1e6
    results.append(
        f"WARC.ZST {mb:.0f} MB compressed ({umb:.0f} MB inflated), 8 MiB "
        f"splits: {n} records in {dt:.1f}s = {umb/dt:.0f} MB/s inflated"
    )

    from h2h_spark.sources.tar import write_tar_zst_members

    tz = f"{OUT}/probe_member.tar.zst"
    if not os.path.exists(tz):
        per = len(PAYLOAD) + 1024
        n_tz = TARGET_MB * 1024 * 1024 // per
        write_tar_zst_members(
            tz, [(f"d/{i:08d}", 0, PAYLOAD_RND) for i in range(n_tz)]
        )
    t0 = time.time()
    n = read_tar_gz(spark, tz, max_partition_bytes=8 << 20, codec="zst").count()
    dt = time.time() - t0
    mb = os.path.getsize(tz) / 1e6
    umb = n * (len(PAYLOAD_RND) + 1024) / 1e6
    results.append(
        f"TAR.ZST/member {mb:.0f} MB compressed ({umb:.0f} MB inflated), "
        f"8 MiB splits: {n} members in {dt:.1f}s = {umb/dt:.0f} MB/s inflated"
    )

    from h2h_spark.sources.jsonl import (
        read_jsonl_gz, write_jsonl_gz_members, write_jsonl_zst_members,
    )

    line = '{"t": "' + PAYLOAD_RND[:2048].hex() + '"}'  # ~4.1 KB/line
    n_lines = TARGET_MB * 1024 * 1024 // len(line)
    for codec, writer in (
        ("gz", write_jsonl_gz_members), ("zst", write_jsonl_zst_members),
    ):
        jp = f"{OUT}/probe.jsonl.{codec}"
        if not os.path.exists(jp):
            writer(jp, [line] * n_lines, lines_per_member=16)
        t0 = time.time()
        n = read_jsonl_gz(
            spark, jp, max_partition_bytes=8 << 20, codec=codec
        ).count()
        dt = time.time() - t0
        mb = os.path.getsize(jp) / 1e6
        umb = n * (len(line) + 1) / 1e6
        results.append(
            f"JSONL.{codec.upper()} {mb:.0f} MB compressed ({umb:.0f} MB "
            f"inflated), 8 MiB splits: {n} lines in {dt:.1f}s = "
            f"{umb/dt:.0f} MB/s inflated"
        )

    from h2h_spark.sources.tfrecord import write_tfrecords_gz

    # whole-file gzip cliff: 8 shard files so the scan still parallelizes
    tgz_dir = f"{OUT}/tfrec_gz"
    if not os.path.exists(tgz_dir):
        os.makedirs(tgz_dir)
        n_per = TARGET_MB * 1024 * 1024 // (len(PAYLOAD_RND) + 16) // 8
        for s in range(8):
            write_tfrecords_gz(
                f"{tgz_dir}/part_{s}.tfrecord.gz", [PAYLOAD_RND] * n_per
            )
    for verify in (True, False):
        t0 = time.time()
        n = read_tfrecord(spark, tgz_dir, verify_data_crc=verify).count()
        dt = time.time() - t0
        mb = sum(
            os.path.getsize(f"{tgz_dir}/{f}") for f in os.listdir(tgz_dir)
        ) / 1e6
        umb = n * (len(PAYLOAD_RND) + 16) / 1e6
        results.append(
            f"TFRECORD.GZ {mb:.0f} MB compressed ({umb:.0f} MB inflated), "
            f"8 whole-file tasks, dataCrc={verify}: {n} records in "
            f"{dt:.1f}s = {umb/dt:.0f} MB/s inflated"
        )

    # round-9 sources: mbox (validated From-line resync) and SQLite
    # (rowid-range planning)
    from h2h_spark.sources.mbox import read_mbox, write_mbox

    mb = f"{OUT}/probe.mbox"
    if not os.path.exists(mb):
        per = len(PAYLOAD) + 160
        n_mb = TARGET_MB * 1024 * 1024 // per
        write_mbox(mb, [(
            f"u{i}@ex.org Thu Jan  1 00:00:00 2026",
            {"From": f"u{i}@ex.org", "Subject": f"s{i}",
             "Message-ID": f"<m{i}@ex>"},
            PAYLOAD,
        ) for i in range(n_mb)])
    t0 = time.time()
    n = read_mbox(spark, mb, max_partition_bytes=8 << 20).count()
    dt = time.time() - t0
    mbsz = os.path.getsize(mb) / 1e6
    results.append(
        f"MBOX  {mbsz:.0f} MB, 8 MiB splits: {n} messages in {dt:.1f}s = "
        f"{mbsz/dt:.0f} MB/s"
    )

    from h2h_spark.sources.sqlitesrc import read_sqlite, write_sqlite

    sq = f"{OUT}/probe.sqlite"
    if not os.path.exists(sq):
        per = len(PAYLOAD) + 40
        n_sq = TARGET_MB * 1024 * 1024 // per
        write_sqlite(
            sq, "docs",
            [("id", "INTEGER"), ("payload", "BLOB")],
            ((i, PAYLOAD) for i in range(n_sq)),
        )
    t0 = time.time()
    n = read_sqlite(spark, sq, "docs", max_rows_per_task=2048).count()
    dt = time.time() - t0
    sqsz = os.path.getsize(sq) / 1e6
    results.append(
        f"SQLITE {sqsz:.0f} MB, 2048-row tasks: {n} rows in {dt:.1f}s = "
        f"{sqsz/dt:.0f} MB/s"
    )

    zp = f"{OUT}/probe.zip"
    if not os.path.exists(zp):
        build_zip(zp)
    from h2h_spark.sources.zipsrc import read_zip

    t0 = time.time()
    n = read_zip(spark, zp, members_per_split=2048).count()
    dt = time.time() - t0
    mb = os.path.getsize(zp) / 1e6
    umb = n * len(PAYLOAD) / 1e6
    results.append(
        f"ZIP   {mb:.0f} MB compressed ({umb:.0f} MB inflated), 2048-member "
        f"splits: {n} members in {dt:.1f}s = {umb/dt:.0f} MB/s inflated"
    )

    print("\n".join(results))


if __name__ == "__main__":
    main()
