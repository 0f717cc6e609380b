"""Benchmark entry point.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 18 --trace 0

Runs one workload (analytics, iterative or publish; see README.md)
from the root of a checkout on local[<cores>], checks every output,
prints each end-to-end metric (``--trace 0``) or per-layer metric
(``--trace 1``) by name with its unit, and ends with one JSON line:
{"correct", "attempted", "failed", "metrics"}.

Everything it writes stays under ``.perfbench/`` in the checkout: the
seeded inputs cached per (sf, seed), the last untraced result per
workload and seed, the traced run's spans, and a per-run scratch
directory that is removed at exit.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import resource
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# One warm-up pass pays the first-time costs (20-30 s of JIT and code
# generation). The JIT is still compiling through the next passes, so
# a run times at least MIN_PASSES passes and reports their median: one
# timed pass after one or two warm-ups left a transient that spread
# analytics wall_s by up to 25 % between runs.
WARMUP_PASSES = 1
MIN_PASSES = 2
ENGINE_FILES = ("bench.py", "hi_csa_db_spark/__init__.py", "tools/datagen_sf.py", "tools/check_oracle.py")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["analytics", "iterative", "publish"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def peak_rss_mb(spark) -> float:
    """JVM high-water RSS (VmHWM) plus this process's max RSS."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        jvm_kb = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024


def stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def emit(values: dict, metrics: list[dict]) -> dict:
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in metrics}


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = [f for f in ENGINE_FILES if not os.path.isfile(os.path.join(ROOT, f))]
    if missing:
        print(f"perfbench: engine sources missing from {ROOT}: {missing}", file=sys.stderr)
        return 2
    process_start = time.perf_counter()
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(work, f"run-{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ.setdefault("SPARK_LAUNCHER_OPTS", "-XX:-UsePerfData")
    for p in (os.path.join(ROOT, "tools"), ROOT):
        sys.path.insert(0, p)
    try:
        return measure(args, cores, work, run_dir, process_start)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def measure(args, cores, work, run_dir, process_start) -> int:
    import tracing

    tracer = None
    if args.trace:
        import layers

        tracer = tracing.Tracer()
        wrapped = tracing.install(tracer, layers.TARGETS)
        print(f"traced: {wrapped} engine functions wrapped")
    # imported after install: the query modules from-import operators
    import bench  # noqa: F401  (bench.HEADLINE; sets the JVM code-cache size)

    import inputs
    import workloads
    from hi_csa_db_spark.operators import _cache_ledger
    from hi_csa_db_spark.session import get_spark

    phases = {"imports": time.perf_counter() - process_start}
    t0 = time.perf_counter()
    data_dir = inputs.generate(work, workloads.SF, args.seed)
    tiny_dir = inputs.generate(work, workloads.TINY_SF, args.seed)
    tables = inputs.table_sizes(data_dir)
    print(f"input sf{workloads.SF:g} seed {args.seed} (warm-up input sf{workloads.TINY_SF:g}):")
    for t, (rows, size) in tables.items():
        print(f"  {t}: {rows} rows, {size} bytes")

    wl = workloads.WORKLOADS[args.workload]()
    ctx = workloads.Ctx(None, tracer, run_dir, data_dir, tiny_dir, args.seed)
    phases["inputs"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    wl.prepare(ctx, tables)
    phases["oracles"] = time.perf_counter() - t0
    tally = inputs.Tally()

    conf = {
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # no hsperfdata files in the system temp directory
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
    }
    if tracer is not None:
        os.makedirs(os.path.join(run_dir, "events"))
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(run_dir, "events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}", extra_conf=conf)
    start_s = time.perf_counter() - t0
    ctx.spark = spark
    try:
        t0 = time.perf_counter()
        for _ in range(WARMUP_PASSES):
            wl.warmup(ctx)
        warmup_s = time.perf_counter() - t0

        walls, passes, extras, runs = [], [], [], []
        while True:
            ctx.set_run("between")
            spark.catalog.clearCache()
            _cache_ledger.release_all()
            ctx.set_run(f"pass{len(runs) + 1}")
            ops: list = []
            t0 = time.perf_counter()
            with ctx.span("bench", "pass"):
                out = wl.pass_(ctx, ops)
            walls.append(time.perf_counter() - t0)
            runs.append(ctx.run)
            ctx.set_run("check")
            t0 = time.perf_counter()
            wl.check(ctx, out, tally)
            extra = wl.extra_metrics(ctx, out)
            phases["checks"] = phases.get("checks", 0.0) + time.perf_counter() - t0
            for kind in ("commit", "read"):
                secs = [o.secs for o in ops if o.kind == kind]
                if secs:
                    extra[f"sources.txlog.{kind}_p50_s"] = statistics.median(secs)
            extras.append(extra)
            passes.append(ops)
            if len(walls) >= MIN_PASSES and sum(walls) >= args.seconds:
                break
            # the budget keeps a run inside its 180 s limit
            if time.perf_counter() - process_start > 120:
                break
        rss = peak_rss_mb(spark)
    finally:
        t0 = time.perf_counter()
        stop_spark(spark)
        phases["shutdown"] = time.perf_counter() - t0

    phases.update(setup=start_s + warmup_s, timed=sum(walls))
    phases["total"] = time.perf_counter() - process_start
    wall = statistics.median(walls)
    op_secs = [o.secs for ops in passes for o in ops]
    values = {
        "setup_s": start_s + warmup_s,
        "wall_s": wall,
        "op_p50_s": statistics.median(op_secs),
        "rows_per_s": wl.rows_per_pass / wall,
    }
    print(f"workload {args.workload}: {len(walls)} timed pass(es), {len(op_secs)} operations, "
          f"closed loop, 1 client, local[{cores}]")
    print("  run phases (s): " + ", ".join(f"{k}={v:.1f}" for k, v in phases.items()))
    print(f"  pass walls (s): {[round(w, 3) for w in walls]}")
    for i, ops in enumerate(passes, 1):
        print(f"  pass {i}, seconds per operation: " + ", ".join(f"{o.name}={o.secs:.3f}" for o in ops))
    report = dict(values)
    # peak RSS varies by more than a tenth between seeds, so it is
    # printed but is not one of the benchmark's metrics
    report["peak_rss_mb"] = rss
    report["failed_frac"] = tally.failed_frac
    if args.workload == "publish":
        report["commit_p50_s"] = statistics.median(e["sources.txlog.commit_p50_s"] for e in extras)
        report["read_p50_s"] = statistics.median(e["sources.txlog.read_p50_s"] for e in extras)
        report["write_amp"] = statistics.median(e["write_amp"] for e in extras)
        report["space_amp"] = statistics.median(e["space_amp"] for e in extras)
    else:
        report["query_p50_s"] = values["op_p50_s"]
    units = {"failed_frac": "ratio", "write_amp": "ratio", "space_amp": "ratio", "peak_rss_mb": "MB"}
    units.update({m["name"]: m["unit"] for m in spec()["end_to_end"]})
    for name, v in report.items():
        print(f"  {name} = {v:.6g} {units.get(name, 's')}")
    for problem in tally.problems:
        print(f"  FAILED {problem}")

    result_dir = os.path.join(work, "results")
    os.makedirs(result_dir, exist_ok=True)
    result_path = os.path.join(result_dir, f"{args.workload}-seed{args.seed}.json")
    if tracer is None:
        with open(result_path, "w") as fh:
            json.dump(values, fh)
        metrics = emit(values, spec()["end_to_end"])
    else:
        metrics = emit(traced(args, cores, tracer, ctx, run_dir, work, runs, extras, wall, start_s, warmup_s, result_path), spec()["per_layer"])
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": metrics,
    }))
    return 0


def traced(args, cores, tracer, ctx, run_dir, work, runs, extras, wall, start_s, warmup_s, result_path) -> dict:
    """Per-layer metrics, the layer self-time split and the tracing
    overhead; spans are written to .perfbench/traces/."""
    import layers
    import tracing

    logs = glob.glob(os.path.join(run_dir, "events", "*"))
    with open(logs[0]) as fh:
        events = tracing.parse_event_log(fh)
    values = layers.per_layer(
        tracer.spans, events, ctx.counters, {"start_s": start_s, "warmup_s": warmup_s},
        extras, runs, cores,
    )
    timed = [i for i, s in enumerate(tracer.spans) if s["run"] in set(runs)]
    split = layers.layer_self(tracer.spans, timed)
    n = len(runs)
    print(f"  layer self time per pass (s), share of wall_s {wall:.3f}:")
    for layer, secs in sorted(split.items(), key=lambda kv: -kv[1]):
        print(f"    {layer:<24} {secs / n:8.3f}  {secs / n / wall:6.1%}")
    print(f"  spans cover {values['trace.attributed_frac']:.1%} of the timed wall "
          "(the rest is the benchmark's own code between calls)")
    if os.path.exists(result_path):
        with open(result_path) as fh:
            base = json.load(fh)["wall_s"]
        print(f"  tracing overhead: {wall - base:+.3f} s on wall_s "
              f"(traced {wall:.3f} s, untraced {base:.3f} s, same seed)")
    else:
        print("  tracing overhead: no untraced run of this workload and seed yet "
              "(run with --trace 0 first)")
    trace_dir = os.path.join(work, "traces")
    os.makedirs(trace_dir, exist_ok=True)
    tracer.dump(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json"))
    for name, v in values.items():
        print(f"  {name} = {v:.6g}")
    return values


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
