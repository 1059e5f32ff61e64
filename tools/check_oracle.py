#!/usr/bin/env python
"""Local replica of the driver's correctness gate: run every registry query
in Spark AND its DuckDB oracle twin, compare row count + column names +
order-insensitive value multiset. Usage:

    python tools/check_oracle.py [sf_dir] [query-id ...]

Isolation rule (round 10): the harness runs 6 queries CONCURRENTLY in
one shared SparkSession (and one shared DuckDB connection), so a FAIL
observed while the machine is under heavy external load is not yet a defect —
re-run the query ISOLATED before believing it. Observed once: a full
sweep running concurrently with a full pytest suite and two other Spark
JVMs produced a single wrong-valued pipe-dedup-eval row that could not
be reproduced in four targeted sequential/isolated attempts (including
the exact preceding query sequences) and vanished in a clean full-sweep
re-run (253/253). The registry itself is deterministic (no rand, no
order-dependent aggregates feeding values); the suspect surface was the
shared-session cache/unpersist race among same-plan cached frames under
memory pressure (pipe-dedup-eval no longer caches a shared shingle
frame; it still caches its candidate pairs). Keep sweeps off a loaded
machine.
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import duckdb

from itdb_spark.catalog import TESTDATA_TABLES
from itdb_spark.queries import load_all
from itdb_spark.session import get_spark


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        return f"{v:.9g}"
    if isinstance(v, bool):
        return str(int(v))
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    out.sort()
    return sorted(c for c in cols), out


def check_one(qid, q, spark, con, sf_dir):
    t0 = time.perf_counter()
    try:
        sdf = q.spark(spark, sf_dir)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
    except Exception as e:
        return ("FAIL", f"{qid}: spark error: {type(e).__name__}: {str(e)[:300]}")
    if q.oracle is None:
        return ("rows", f"{qid}: {len(srows)} rows (no oracle) [{time.perf_counter()-t0:.1f}s]")
    try:
        cur = con.cursor()
        res = cur.execute(q.oracle)
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
    except Exception as e:
        return ("FAIL", f"{qid}: duckdb error: {type(e).__name__}: {str(e)[:300]}")
    sc, sr = normalize(srows, scols)
    oc, orr = normalize(orows, ocols)
    dt = time.perf_counter() - t0
    if sc != oc:
        return ("FAIL", f"{qid}: columns spark={sc} oracle={oc}")
    if len(sr) != len(orr):
        return ("FAIL", f"{qid}: rowcount spark={len(sr)} oracle={len(orr)}")
    if sr != orr:
        oset, sset = set(orr), set(sr)
        diff_s = [r for r in sr if r not in oset][:3]
        diff_o = [r for r in orr if r not in sset][:3]
        return ("FAIL", f"{qid}: values differ; spark-only={diff_s} oracle-only={diff_o}")
    return ("PASS", f"{qid}: {len(sr)} rows [{dt:.1f}s]")


def main() -> None:
    from concurrent.futures import ThreadPoolExecutor

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    registry = load_all()
    if os.environ.get("SPARK_GRAFT_VANILLA"):
        # Replicate the driver's UNTUNED session (200 shuffle partitions,
        # no custom confs) — catches config-dependent bugs the tuned
        # session hides (e.g. an events reader-schema mismatch).
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[16]")
            .appName("oracle_check_vanilla")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
    else:
        spark = get_spark("oracle_check", cpus=16)

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    items = [(qid, q) for qid, q in sorted(registry.items()) if not only or qid in only]
    with ThreadPoolExecutor(max_workers=6) as pool:
        results = list(
            pool.map(lambda iq: check_one(iq[0], iq[1], spark, con, sf_dir), items)
        )
    counts = {"PASS": 0, "FAIL": 0, "rows": 0}
    for status, msg in results:
        counts[status] += 1
        print(f"{status:5s} {msg}")
    print(f"\n{counts['PASS']} pass, {counts['FAIL']} fail, {counts['rows']} rows-only")
    spark.stop()
    sys.exit(1 if counts["FAIL"] else 0)


if __name__ == "__main__":
    main()
