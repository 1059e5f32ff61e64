"""Run-to-run spread of the end-to-end metrics: run one workload under
several seeds and report, per metric, the median and the quartile spread
(Q3 - Q1) / median of the values, as ``statistics.quantiles(n=4)`` gives
the quartiles.

    python3 perfbench/spread.py --workload report --seeds 1-10 --seconds 10

Run from the repository root. Prints one JSON object per workload; with
``--out FILE`` it also writes them there.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.stats import quartile_spread  # noqa: E402


def seeds_arg(text: str) -> list[int]:
    if "-" in text:
        a, b = text.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(x) for x in text.split(",")]


def run_once(workload: str, seed: int, seconds: float, trace: int = 0) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} exited {p.returncode}: {p.stderr[-2000:]}")
    res = json.loads(p.stdout.strip().splitlines()[-1])
    res["run_wall_s"] = time.perf_counter() - t0
    return res


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--out")
    args = ap.parse_args()
    report = []
    for wl in args.workload:
        values: dict[str, list[float]] = {}
        for seed in args.seeds:
            res = run_once(wl, seed, args.seconds)
            if not res["correct"] or res["failed"]:
                raise RuntimeError(f"{wl} seed {seed}: not correct: {res}")
            for k, m in res["metrics"].items():
                values.setdefault(k, []).append(m["value"])
            values.setdefault("run_wall_s", []).append(res["run_wall_s"])
            print(f"{wl} seed={seed} wall={res['run_wall_s']:.1f}s "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), file=sys.stderr, flush=True)
        row = {
            "workload": wl,
            "seeds": args.seeds,
            "median": {k: statistics.median(v) for k, v in values.items()},
            "spread": {k: quartile_spread(v) for k, v in values.items()},
            "values": values,
        }
        report.append(row)
        print(json.dumps({k: row[k] for k in ("workload", "median", "spread")}))
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(report, fh, indent=1)


if __name__ == "__main__":
    main()
