"""Mimic the driver's t2 correctness gate: run every queries()[name] at
sf0.01 and diff against oracle_sql()[name] via DuckDB — row count, schema
(column names), and an order-insensitive multiset of normalized values.
A query that leaves a cache in the session's CacheManager after its
rows are collected fails as a leak (the cache is then cleared so the
next query starts clean).

Usage: python scripts/oracle_check.py [--json=PATH] [sf_dir] [query ...]

``--json=PATH`` writes a machine-readable per-query result file (the
committed full-registry sweep artifacts, ORACLE_SWEEP_r*.json) so
out-of-window queries carry evidence, not attestation.
"""

from __future__ import annotations

import decimal
import json
import math
import sys
import time

sys.path.insert(0, "/root/repo")

import duckdb

import __spark_entry__ as entrymod
from h2h_spark import get_spark

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm_val(v):
    if v is None:
        return "NULL"
    if isinstance(v, decimal.Decimal):
        return f"dec:{v}"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"f:{v!r}"
    if isinstance(v, bytes):
        return f"b:{v.hex()}"
    return f"{type(v).__name__[:1]}:{v}"


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_val(r[i]) for i in order) for r in rows]
    out.sort()
    return out


def main() -> int:
    args = sys.argv[1:]
    json_path = None
    for a in list(args):
        if a.startswith("--json="):
            json_path = a.split("=", 1)[1]
            args.remove(a)
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    results: dict[str, dict] = {}

    spark = get_spark("oracle_check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {type(e).__name__}: {str(e)[:300]}")
            failures.append(name)
            results[name] = {"ok": False, "err": f"spark: {type(e).__name__}: {str(e)[:300]}"}
            spark.catalog.clearCache()
            continue
        leaked = not cache_manager.isEmpty()
        if leaked:
            spark.catalog.clearCache()
        if name not in oracles:
            print(f"rows  {name}: {len(srows)} rows (rows-only check) "
                  f"[{time.time()-t0:.1f}s]")
            results[name] = {"ok": True, "rows": len(srows), "check": "rows-only"}
            continue
        try:
            # HUGEINT lint: the driver canonicalizes DuckDB output through
            # pandas, which coerces HUGEINT (int128 — what DuckDB types a
            # bare SUM(int) as) to float64, so the value hash compares
            # `5.0` vs Spark's long `5` and fails even when the engine
            # answer is exact.  Fail loudly here so an oracle can never
            # re-trip the r04 q_shipmode_priority/q_profile signature:
            # wrap integer SUMs in CAST(... AS BIGINT).
            rel = con.sql(oracles[name])
            bad = [c for c, t in zip(rel.columns, rel.types)
                   if str(t).upper() in ("HUGEINT", "INT128", "UHUGEINT")]
            if bad:
                raise TypeError(
                    f"oracle emits HUGEINT column(s) {bad} — pandas "
                    f"canonicalization turns these into float64 and breaks "
                    f"the driver hash; CAST(... AS BIGINT) in the oracle SQL"
                )
            cur = con.execute(oracles[name])
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {type(e).__name__}: {str(e)[:300]}")
            failures.append(name)
            results[name] = {"ok": False, "err": f"duckdb: {type(e).__name__}: {str(e)[:300]}"}
            continue
        problems = []
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"columns spark={sorted(scols)} oracle={sorted(ocols)}")
        if not problems:
            ns, no = norm_rows(scols, srows), norm_rows(ocols, orows)
            if ns != no:
                # hoist the sets — a comprehension that rebuilds set(no)
                # per element is quadratic and looks like a hang at 100k rows
                set_no, set_ns = set(no), set(ns)
                diff_s = [r for r in ns if r not in set_no][:3]
                diff_o = [r for r in no if r not in set_ns][:3]
                problems.append(f"values spark-only={diff_s} oracle-only={diff_o}")
        if leaked:
            problems.append("cache leak: CacheManager not empty after the query")
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems))
            failures.append(name)
            results[name] = {"ok": False, "rows": len(srows), "err": "; ".join(problems)}
        else:
            print(f"OK    {name}: {len(srows)} rows match [{time.time()-t0:.1f}s]")
            results[name] = {
                "ok": True, "rows": len(srows), "check": "value-exact",
                "secs": round(time.time() - t0, 1),
            }

    if json_path:
        with open(json_path, "w") as fh:
            json.dump(
                {"sf_dir": sf_dir, "n_queries": len(results),
                 "n_failures": len(failures), "results": results},
                fh, indent=1,
            )
        print(f"wrote {json_path}")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
