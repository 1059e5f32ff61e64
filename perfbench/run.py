"""Benchmark entry point: one seeded workload, one fresh JVM, one JSON result.

    python3 perfbench/run.py --workload report --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. See
perfbench/README.md for the metric and workload definitions.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()  # setup_s counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from types import SimpleNamespace  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
CPUS = 4  # local[N], N <= nproc; BENCHMARK.json's figures were taken at N = 4
DRIVER_MEM = "3g"

# Modules whose public functions the traced run wraps with span recorders,
# with the layer name their spans carry.
TRACED_MODULES = {
    "itdb_spark.operators.dedup": "dedup",
    "itdb_spark.operators.clustering": "clustering",
    "itdb_spark.sinks.versioned": "versioned",
    "itdb_spark.plans.library": "plans",
    "itdb_spark.sources.plist": "sources",
}


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_PROCESS:7.1f}s] {msg}", file=sys.stderr, flush=True)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=["report", "curate", "ingest"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--sf", type=float, default=None, help="override the workload's scale (smoke tests)")
    return p.parse_args(argv)


def configure_env(work: str, trace: bool) -> str | None:
    """Keep every file the run writes inside ``work`` and pin the session
    options the benchmark needs through spark-submit arguments. Returns the
    event-log directory of a traced run."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    log_dir = None
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        confs["spark.eventLog.enabled"] = "true"
        confs["spark.eventLog.dir"] = "file://" + log_dir
        confs["spark.eventLog.compress"] = "false"
    # pyspark splits this with shlex, so quoted paths may hold spaces.
    # -XX:-UsePerfData: a JVM writes its perf-data file under /tmp whatever
    # java.io.tmpdir says; this holds for spark-submit's launcher JVM too.
    args = [f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()]
    args.append(f"--driver-java-options {shlex.quote(f'-Djava.io.tmpdir={tmp} -XX:-UsePerfData')}")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args) + " pyspark-shell"
    return log_dir


def wrap_layers(tracer) -> None:
    """Wrap the traced modules' public functions before the query modules
    import them, then rebind any name an itdb_spark module already bound
    to an original (modules the traced ones import among themselves)."""
    import importlib

    wrapped = {}
    for mod_name, layer in TRACED_MODULES.items():
        mod = importlib.import_module(mod_name)
        before = dict(vars(mod))
        tracer.wrap_module(mod, layer)
        wrapped.update({id(before[k]): v for k, v in vars(mod).items() if before.get(k) is not v})
    from itdb_spark.queries import load_all

    load_all()
    for name, mod in list(sys.modules.items()):
        if name.startswith("itdb_spark") and mod is not None:
            for k, v in list(vars(mod).items()):
                w = wrapped.get(id(v))
                if w is not None and w is not v:
                    setattr(mod, k, w)


def stop_spark(spark) -> None:
    """Stop the session, the JVM and its Python workers; wait for each."""
    from perfbench.probes import descendants

    gw = spark.sparkContext._gateway
    proc = gw.proc
    pids = descendants(proc.pid)
    spark.stop()
    gw.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, 9)


def run_ops(wl, ctx, order, failures, warm_digest=None):
    """Closed loop over ``order``: each op starts when the previous one has
    completed. Returns (ops that passed, ops attempted)."""
    spark, tracer = ctx.spark, ctx.tracer
    ops, attempted = [], 0
    prefix = "op" if warm_digest is not None else "warm"
    for kind in order:
        op_id = f"{prefix}{attempted}"
        attempted += 1
        tracer.op_id = op_id
        t = time.perf_counter()
        try:
            with tracer.span("op." + wl.name):
                op = wl.run_op(op_id, kind)
            op.wall = time.perf_counter() - t
            if warm_digest is not None and op.digest is not None and warm_digest.get(kind) != op.digest:
                failures.append(f"{op_id} {kind}: digest {op.digest} != warm-up {warm_digest.get(kind)}")
                op = None
        except Exception as e:  # an op that raises counts as failed; the run goes on
            log(f"{op_id} {kind} failed:\n{traceback.format_exc()}")
            failures.append(f"{op_id} {kind}: {type(e).__name__}: {str(e)[:300]}")
            op = None
        tracer.op_id = None
        spark.catalog.clearCache()  # isolate ops, as bench.py does
        if op is not None:
            op.extra["id"] = op_id
            op.extra["counts"] = [ctx.jobs.counts(f"{op_id}:{ph}") for ph in op.phases]
            ops.append(op)
        if len(failures) > 10:
            break
    return ops, attempted


def run(args) -> dict:
    from perfbench import gen, probes, workloads
    from perfbench.trace import Tracer

    work = os.path.join(OUT, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    log_dir = configure_env(work, bool(args.trace))
    tracer = Tracer(bool(args.trace))
    if args.trace:
        wrap_layers(tracer)

    from itdb_spark.session import get_spark

    env = {"load_start": probes.loadavg(), "cpus": CPUS}
    t0 = time.perf_counter()
    with tracer.span("session.start"):
        spark = get_spark(f"perfbench-{args.workload}", cpus=CPUS)
    env["session_start_s"] = time.perf_counter() - t0
    log(f"session up in {env['session_start_s']:.1f}s")
    try:
        sc = spark.sparkContext
        ctx = SimpleNamespace(
            spark=spark, seed=args.seed, sf=args.sf, seconds=args.seconds, work=work, tracer=tracer,
            jobs=probes.JobCounter(sc),
        )
        cpu = probes.CpuMeter(sc._gateway.proc.pid)
        wl = {"report": workloads.Report, "curate": workloads.Curate, "ingest": workloads.Ingest}[args.workload](ctx)
        # ---- set-up: inputs, repeated data set-up, fixed warm-up ----
        wl.prepare()
        setup_runs = []
        for rep in range(workloads.SETUP_REPEATS):
            t = time.perf_counter()
            parts = wl.setup_data(rep)
            parts["total"] = time.perf_counter() - t
            setup_runs.append(parts)
            log(f"data set-up {rep}: {parts}")
        env["setup_runs"] = setup_runs
        failures: list[str] = []
        warm_order = gen.request_order(args.seed, wl.ops_per_pass, wl.warmup_passes, "warm")
        warm_ops, env["warmup_ops"] = run_ops(wl, ctx, warm_order, failures)
        env["warm_walls"] = [[op.kind, op.wall] for op in warm_ops]
        warm_digest: dict[str, tuple] = {}
        for op in warm_ops:
            if warm_digest.setdefault(op.kind, op.digest) != op.digest:
                failures.append(f"{op.kind}: warm-up digests differ")
        # one data set-up counted, at its median
        totals = [r["total"] for r in setup_runs]
        env["setup_s"] = time.perf_counter() - T_PROCESS - sum(totals) + statistics.median(totals)
        log(f"warm-up done ({env['warmup_ops']} ops); setup_s={env['setup_s']:.2f}")

        # ---- timed phase: closed loop, seeded interleaved order, a fixed
        # number of whole passes ----
        timed_order = gen.request_order(args.seed, wl.ops_per_pass, wl.timed_passes(args.seconds))
        host = probes.HostMeter(cpu)
        host.start()
        env["cpu0"] = cpu.read()
        t_begin = time.perf_counter()
        ops, attempted = run_ops(wl, ctx, timed_order, failures, warm_digest)
        env["timed_s"] = time.perf_counter() - t_begin
        env["cpu1"] = cpu.read()
        env["host_other_share"] = host.stop()
        env["load_end"] = probes.loadavg()
        log(f"timed phase done: {len(ops)}/{attempted} ops in {env['timed_s']:.1f}s")

        # ---- output checks, outside the timed phase and setup_s ----
        t = time.perf_counter()
        check_failures = wl.post_check(full=bool(args.trace))
        env["check_s"] = time.perf_counter() - t
        log(f"output checks done in {env['check_s']:.1f}s")
        post_trace = wl.post_trace() if args.trace else {}
        check_failures += post_trace.pop("failures", [])
        failures += check_failures
    finally:
        tracer.op_id = None
        stop_spark(spark)
    if not ops:
        raise RuntimeError("no op passed: " + "; ".join(failures[:3]))

    from perfbench.summary import summarize

    return summarize(args, wl, ops, attempted, failures, len(check_failures), env, tracer, log_dir, post_trace)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "itdb_spark", "__init__.py")):
        print(f"perfbench: no itdb_spark package under {ROOT}; run it from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.chdir(ROOT)
    os.makedirs(OUT, exist_ok=True)
    try:
        res = run(args)
    finally:
        shutil.rmtree(os.path.join(OUT, f"work-{args.workload}-{args.seed}-{os.getpid()}"), ignore_errors=True)
    record = res.pop("record")
    print(
        "perfbench %s seed=%d: %s failed_share=%.4f"
        % (args.workload, args.seed, " ".join(f"{k}={v:.4g}" for k, v in record["end_to_end"].items()),
           record["steadiness"]["failed_share"])
    )
    print("steadiness: " + json.dumps(record["steadiness"]))
    for f in record["failures"]:
        print("FAILED: " + f)
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
