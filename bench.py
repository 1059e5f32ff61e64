#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {id: sec}, "sf": ...}.

Each query is timed over a full action (noop write — computes everything,
collects nothing), after a JVM/reader warmup pass.

Load canary (round-10 VERDICT #5, rebuilt round 13 per r12 #2): this
host carries a measured ±40% same-day wall envelope (BASELINE.md
§Round 8/§Round 10 — uniform inflation with byte-identical plans).
The single-query instrument (dedup-minhash vs its BENCH_r10 idle
wall) failed its one job in BENCH_r12: nearly every untouched plan
read 1.2-1.5× its r11 wall while minhash — the one query that did NOT
slow down — declared the host idle (load_factor 0.994). Ambient load
is evidently non-uniform across query shapes, so the instrument is
now the MEDIAN of five untouched shape-spanning headline plans
(scan-agg, join, window, shuffle+UDF, broadcast-grid eval), each
against its committed BENCH_r10 near-idle wall; the per-query ratio
spread is emitted alongside so a single-plan regression (one outlier,
tight median) is distinguishable from host load (uniform shift).
``load_factor`` scales every wall into ``queries_loadnorm``/
``value_loadnorm``. RAW fields are unchanged and remain the record;
the normalized ones are the adjudication aid — a future drift is a
plan/code regression only if it survives normalization (and the plan
diff agrees).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from itdb_spark.queries import load_all
from itdb_spark.session import default_parallelism, get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Ambient-load canary: committed reference walls from the BENCH_r10
# driver record (near-idle: its 18-query total 24.55 s sits 0.8% over
# the same-day round-close idle reading of 24.36 s, BASELINE.md
# §Round 10). Five untouched plans spanning execution shapes — a
# median over shapes is robust to the non-uniform ambient load that
# blinded the single-query form in BENCH_r12 (r12 VERDICT #2). All
# five plans are stable since r10 (PLANS.md, CI-gated). The refs are
# only meaningful at sf0.1; at any other SF the canary reports raw
# walls with load_factor null.
CANARY_REFS = {  # BENCH_r10 record walls, sf0.1, local[32]
    "agg-hist-genre": 0.332,  # scan-agg (group-by over one table)
    "join-pt": 0.545,  # shuffle join
    "win-topk-group": 0.375,  # window function
    "dedup-minhash": 1.212,  # shuffle + Arrow-UDF mix (deploy twin)
    "eval-chrf": 1.261,  # broadcast grid + higher-order exprs
}
CANARY_REF_RECORD = "BENCH_r10"
CANARY_REF_SF = 0.1

def run_action(df) -> int:
    # noop sink: full computation, zero driver materialization
    df.write.format("noop").mode("overwrite").save()
    return 0


def main() -> None:
    spark = get_spark("itdb_spark_bench", cpus=default_parallelism())
    registry = load_all()
    bench_ids = [qid for qid, q in registry.items() if q.bench]

    # Per-query warmup immediately followed by best-of-3 timed runs: the
    # warmup pays JVM JIT, parquet footer caches, and (for Arrow-UDF
    # queries) Python-worker spawn RIGHT before the timed runs — a global
    # warmup pass lets the worker pool go cold again before the UDF query
    # is finally timed. Min-of-3 is robust to noisy-neighbor CPU.
    #
    # Known residual noise (BENCH_r04): the driver's recorded
    # stream-window/stream-session times occasionally spike 4-6× (0.785 s
    # vs the ~0.15-0.25 s every same-day manual rerun shows, builder's and
    # judge's alike). The warmup + min-of-3 above already runs for those
    # queries, so the spike is not cold-start inside THIS harness — the
    # remaining suspects are host-level scheduling during the driver's
    # window (these two are the shortest queries in the set, so a single
    # descheduled executor thread dominates their min) — see BASELINE.md
    # round-4 narrative. Treat sub-second absolute values with per-query
    # ratios in view, not in isolation.
    timings: dict[str, float] = {}
    paths: dict[str, str] = {}
    for qid in bench_ids:
        # isolate queries: cached frames from prior queries/runs otherwise
        # accumulate in executor storage and perturb later timings
        spark.catalog.clearCache()
        # deploy-grade twin where registered (e.g. xxhash64 shingle hash
        # instead of the DuckDB-portable md5 prefix): the bench measures
        # the plan a cluster would run; CORRECTNESS still grades .spark
        q = registry[qid].bench_spark or registry[qid].spark
        # record WHICH path this timing measured so numbers stay
        # comparable across rounds (the r6 switchover: dedup-minhash /
        # dedup-jaccard / pipe-curate moved from the graded md5-portable
        # form to the xxhash64 deploy twin — round-6 ADVICE)
        paths[qid] = "deploy" if registry[qid].bench_spark else "graded"
        run_action(q(spark, SF_DIR))
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            run_action(q(spark, SF_DIR))
            best = min(best, time.perf_counter() - t0)
        timings[qid] = round(best, 3)

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    out = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "paths": paths,
        "sf": sf_val,
    }

    # Self-adjudicating load canary (module docstring): raw walls above
    # are the record; a UNIFORM ratio shift across the five shapes is
    # the host-load signature (normalize and compare), while a tight
    # median with one outlying ratio fingers that plan specifically.
    ratios = {
        qid: round(timings[qid] / ref, 3)
        for qid, ref in CANARY_REFS.items()
        if timings.get(qid) and sf_val == CANARY_REF_SF
    }
    # load_factor only from the COMPLETE canary set: a canary qid
    # missing or timed 0.0 silently shifts the median (r13 ADVICE: the
    # old upper-middle pick biased it upward on even-sized sets), so a
    # partial set reports raw walls with load_factor null instead
    lf = None
    if ratios and len(ratios) == len(CANARY_REFS):
        lf = round(statistics.median(ratios.values()), 3)
    out["canary"] = {
        "method": f"median-of-{len(CANARY_REFS)}",
        "refs": CANARY_REFS,
        "ref_record": CANARY_REF_RECORD,
        "ratios": ratios,
        "spread": [min(ratios.values()), max(ratios.values())]
        if ratios
        else None,
        "load_factor": lf,
    }
    if lf:
        out["queries_loadnorm"] = {
            qid: round(w / lf, 3) for qid, w in timings.items()
        }
        out["value_loadnorm"] = round(sum(timings.values()) / lf, 3)

    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
