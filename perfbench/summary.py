"""Turn one run's op records, /proc readings, spans and event log into the
metrics of perfbench/metrics.py and the run record."""

from __future__ import annotations

import json
import os
import statistics

from perfbench import probes, stats
from perfbench.metrics import END_TO_END, PER_LAYER, SELF_TIME_LAYERS

OUT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "out")


def per_kind_medians(ops) -> dict[str, float]:
    by: dict[str, list[float]] = {}
    for op in ops:
        by.setdefault(op.kind, []).append(op.wall)
    return {k: statistics.median(v) for k, v in sorted(by.items())}


def _median_or_zero(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def pass_walls(wl, ops) -> list[float]:
    """Wall time of each whole timed pass (a pass with a failed op is left
    out)."""
    k = len(wl.ops_per_pass)
    passes: dict[int, list[float]] = {}
    for op in ops:
        passes.setdefault(int(op.extra["id"][2:]) // k, []).append(op.wall)
    return [sum(v) for v in passes.values() if len(v) == k]


def drift(ops) -> float:
    """drift_ratio over the op walls, each divided by its kind's median so
    that a mix of short and long op kinds compares like for like."""
    med = per_kind_medians(ops)
    return stats.drift_ratio([op.wall / med[op.kind] for op in ops])


def summarize(args, wl, ops, attempted, failures, n_check_failures, env, tracer, log_dir, post_trace) -> dict:
    walls = [op.wall for op in ops]
    passes = pass_walls(wl, ops)
    n = len(passes) if wl.per_pass else len(ops)  # what one "op" of cpu_per_op_s is
    cpu = {k: env["cpu1"][k] - env["cpu0"][k] for k in env["cpu0"]}
    p90 = stats.percentile(walls, 90)
    above = stats.samples_above(walls, p90)
    if wl.tail_rule and above < stats.MIN_ABOVE_P90:
        failures.append(f"op_p90_s rests on {above} samples above it (need {stats.MIN_ABOVE_P90})")
    e2e = {
        "setup_s": env["setup_s"],
        "op_p50_s": statistics.median(walls),
        "op_p90_s": p90,
        "batch_s": _median_or_zero(passes),
        "cpu_per_op_s": sum(cpu.values()) / n,
    }
    docs = sum(op.docs for op in ops)
    if docs:  # ingest: batch docs accepted per second of timed wall, compaction included
        e2e["docs_per_s"] = docs / env["timed_s"]
    steady = {
        "cpus": env["cpus"],
        "samples": len(walls),
        "samples_above_p90": above,
        "load_start": env["load_start"],
        "load_end": env["load_end"],
        "host_other_share": env["host_other_share"],
        "drift_ratio": drift(ops),
        "timed_s": env["timed_s"],
        "warmup_ops": env["warmup_ops"],
        "check_s": env["check_s"],
        "failed_share": (attempted - len(ops)) / attempted,
    }
    layer = {k: 0.0 for k in PER_LAYER}
    if args.trace:
        layer.update(layer_metrics(wl, ops, n, cpu, env, post_trace))
        layer.update(trace_metrics(args, wl, ops, n, tracer, log_dir))
        layer.update({f"run.{k}": float(v) for k, v in steady.items()})
    chosen, units = (layer, PER_LAYER) if args.trace else (e2e, END_TO_END)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "end_to_end": e2e,
        "steadiness": steady,
        "per_layer": layer if args.trace else None,
        "per_kind_median_s": per_kind_medians(ops),
        "ops": [[op.kind, op.wall, op.phases] for op in ops],
        "warmup": env["warm_walls"],
        "session_start_s": env["session_start_s"],
        "setup_runs": env["setup_runs"],
        "failures": failures,
    }
    with open(os.path.join(OUT, f"result-{args.workload}-{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    return {
        "correct": not failures,
        "attempted": attempted,
        # an op fails if it raised or its digest differed from warm-up; a
        # failed post-timing output check counts as one more failed op
        "failed": min(attempted, attempted - len(ops) + n_check_failures),
        "metrics": {k: {"value": float(chosen[k]), "unit": units[k]} for k in units},
        "record": record,
    }


def layer_metrics(wl, ops, n, cpu, env, post_trace) -> dict[str, float]:
    """Per-op figures; ``n`` counts ops as cpu_per_op_s does (passes for a
    per-pass workload)."""
    # Counts rest on a fixed prefix of the timed ops (whole passes, or the
    # ingest batches up to the first fold), so same-seed runs repeat them.
    prefix = ops[: max(len(wl.ops_per_pass), wl.count_prefix)]
    units = 1 if wl.per_pass else len(prefix)
    # Ingest batches: the timed ones of the ingest workload, or the ones the
    # traced curate run ingests after timing; ``counted`` is the fixed set
    # the repeatable counts rest on.
    extra = post_trace.get("ingest_ops", [])
    batches = [op for op in ops if "folds" in op.extra] + extra
    counted = [op for op in prefix if "folds" in op.extra] + extra

    def count(i: int, phase: str | None = None) -> float:
        return sum(
            c[i] for op in prefix for ph, c in zip(op.phases, op.extra["counts"]) if phase in (None, ph)
        ) / units

    def phase_median(ph: str) -> float:
        return _median_or_zero(op.phases[ph] for op in ops + extra if ph in op.phases)

    def setup_median(key: str) -> float:
        return _median_or_zero(r[key] for r in env["setup_runs"] if key in r)

    return {
        "session.start_s": env["session_start_s"],
        "sources.plist_load_s": setup_median("sources.plist_load_s"),
        "plans.playlist_stats_s": setup_median("plans.playlist_stats_s"),
        "plans.page_s": phase_median("page"),
        "queries.construct_s": phase_median("construct"),
        "queries.action_s": phase_median("action"),
        "sinks.html.render_s": phase_median("render"),
        "spark.jobs_per_op": count(0),
        "spark.construct_jobs_per_op": count(0, "construct"),
        "spark.stages_per_op": count(1),
        "spark.tasks_per_op": count(2),
        "dedup.persist_s": post_trace.get("dedup.persist_s") or setup_median("dedup.persist_s"),
        "dedup.screen_s": phase_median("screen"),
        "dedup.probe_s": phase_median("probe"),
        "dedup.accept_s": phase_median("accept"),
        "dedup.candidate_yield": post_trace.get("dedup.candidate_yield", 0.0),
        "versioned.compact_s": sum(op.phases["compact"] for op in batches) / len(batches) if batches else 0.0,
        "versioned.folds": float(sum(op.extra["folds"] for op in counted)),
        "versioned.bytes_written_per_doc": (
            sum(op.extra["bytes_written"] for op in batches) / sum(op.docs for op in batches) if batches else 0.0
        ),
        "versioned.chain_links": _median_or_zero(op.extra["chain_links"] for op in batches),
        "ingest.batch_s": _median_or_zero(op.wall for op in batches),
        "ingest.docs_per_s": sum(op.docs for op in batches) / sum(op.wall for op in batches) if batches else 0.0,
        "ingest.jobs_per_batch": (
            sum(c[0] for op in counted for c in op.extra["counts"]) / len(counted) if counted else 0.0
        ),
        "proc.driver_cpu_s": cpu["driver"] / n,
        "proc.jvm_cpu_s": cpu["jvm"] / n,
        "proc.worker_cpu_s": cpu["worker"] / n,
    }


def trace_metrics(args, wl, ops, n, tracer, log_dir) -> dict[str, float]:
    """Per-layer self time, Spark exec/gap, shuffle and spill, from the
    spans and the event log of the traced run."""
    timed = {op.extra["id"] for op in ops}
    wall = sum(op.wall for op in ops)
    groups = probes.parse_event_log(log_dir)
    names = [f"{op.extra['id']}:{ph}" for op in ops for ph in op.phases]
    exec_s = probes.exec_seconds(groups, names)
    self_t = tracer.layer_self_times(timed)
    out = {f"self.{layer}_s": self_t.get(layer, 0.0) / n for layer in SELF_TIME_LAYERS}
    for name in ("dedup.containment_join", "dedup.minhash_candidates", "dedup.ngram_jaccard_pairs",
                 "clustering.connected_components"):
        out[f"{name}_s"] = tracer.total(name, timed) / n
    # jobs submitted while a connected_components call was on the stack
    starts = [st for g in groups.values() for st, _ in g["jobs"].values()]
    cc_jobs = 0
    for s in tracer.spans:
        if s["name"] == "clustering.connected_components" and s["op"] in timed:
            a, b = tracer.epoch(s["start"]) - 0.002, tracer.epoch(s["end"]) + 0.002
            cc_jobs += sum(1 for st in starts if a <= st <= b)
    out["clustering.connected_components_jobs"] = cc_jobs / n
    out["spark.exec_s"] = exec_s / n
    out["spark.gap_s"] = (wall - exec_s) / n
    out["spark.shuffle_bytes"] = sum(groups[g]["shuffle_bytes"] for g in names if g in groups) / n
    out["spark.spill_bytes"] = sum(groups[g]["spill_bytes"] for g in names if g in groups) / n
    out["trace.accounted_share"] = sum(self_t.values()) / wall
    out["trace.op_p50_s"] = statistics.median(op.wall for op in ops)
    out["trace.batch_s"] = _median_or_zero(pass_walls(wl, ops))
    # tracing overhead against the untraced run of the same seed, when the
    # checkout holds one
    untraced = os.path.join(OUT, f"result-{args.workload}-{args.seed}-trace0.json")
    if os.path.exists(untraced):
        with open(untraced) as fh:
            base = json.load(fh)["end_to_end"]
        out["trace.overhead_op_p50"] = out["trace.op_p50_s"] / base["op_p50_s"]
        out["trace.overhead_batch"] = out["trace.batch_s"] / base["batch_s"]
    tracer.dump(os.path.join(OUT, f"spans-{args.workload}-{args.seed}.json"))
    return out
