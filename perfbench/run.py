"""Benchmark entry point.

    python3 perfbench/run.py --workload project --seed 1 --seconds 8 --trace 0

Runs one workload of the benchmark from the root of a source checkout:
generates the workload's inputs from ``--seed``, starts one local Spark
session, times a cold first pass of the workload's ops, runs the
workload's warm-up passes, then times warm passes in a closed loop (one
client) for ``--seconds``, checks the outputs against the DuckDB
oracles, and prints one JSON object as the last line of standard
output.  ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
alternates traced and untraced warm passes and reports the per-layer
metrics of the traced ones, plus the tracing overhead.
``perfbench/config.json`` pins the session settings, the workload sizes,
the warm-up passes and the lane set, and says which end-to-end metric
each per-layer metric should move.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
# A run measures at least three warm passes, even past --seconds: the
# gated pass_s and pass_cpu_s are medians over warm passes, and a median
# of three keeps a single burst of host CPU steal out of them.  Under
# --trace 1 passes alternate traced and untraced, and one of each keeps
# a traced project run near the length of an untraced one (per-layer
# metrics are not gated).
MIN_WARM_PASSES = 3
MIN_TRACED_RUN_PASSES = 2


def _parse(argv):
    p = argparse.ArgumentParser(prog="perfbench/run.py")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _prepare_env(cfg: dict, work: str) -> None:
    """Apply the pinned session settings through the environment that
    ``session.get_spark`` reads, before pyspark starts a JVM."""
    for d in ("tmp", "cwd"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    os.environ["SPARK_DRIVER_MEM"] = cfg["settings"]["driver_memory"]
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    os.chdir(os.path.join(work, "cwd"))


def _start_spark(cfg: dict, work: str):
    from dataforge_core_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = dict(cfg["settings"]["spark_conf"])
    conf.update(
        {
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.local.dir": tmp,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        }
    )
    return get_spark(app_name="perfbench", extra_conf=conf)


def run(args, cfg: dict, work: str) -> dict:
    from perfbench import host, workloads

    wl_cfg = cfg["workloads"][args.workload]
    t0 = time.perf_counter()
    spark = _start_spark(cfg, work)
    session_s = time.perf_counter() - t0
    wl = workloads.WORKLOADS[args.workload](spark, wl_cfg, args.seed, work)
    prep = [wl.prepare(rep) for rep in range(3)]
    t0 = time.perf_counter()
    wl.setup()
    setup_s = session_s + _median(prep) + time.perf_counter() - t0

    tracer = None
    if args.trace:
        from perfbench import trace

        tracer = trace.Tracer(spark)
        workloads.install_tracing(tracer)
        wl.tracer = tracer

    ticks0 = host.cpu_ticks()
    first = wl.run_pass(traced=False)
    # warm passes keep getting faster while the JIT compiles: over
    # twelve lanes passes the wall fell from 4.1 to 2.6 s and the CPU
    # time from 12 to 5 s; the warm-up passes take the measured ones
    # onto the flatter part of that curve, and count as set-up.  A
    # project pass takes ~10 s, so project runs none: with one, a run
    # would take too long for the benchmark to be repeated
    t0 = time.perf_counter()
    warmup = [wl.run_pass(traced=False) for _ in range(wl_cfg["warmup_passes"])]
    setup_s += time.perf_counter() - t0
    passes = []
    t_end = time.perf_counter() + args.seconds
    min_passes = MIN_TRACED_RUN_PASSES if args.trace else MIN_WARM_PASSES
    while time.perf_counter() < t_end or len(passes) < min_passes:
        traced = bool(args.trace) and len(passes) % 2 == 0
        passes.append(wl.run_pass(traced=traced))
    shares = host.cpu_shares(ticks0, host.cpu_ticks())

    try:
        checks = wl.check()
    except Exception as e:  # a check that cannot run is a failed check
        checks = [f"{args.workload} check raised {str(e)[:500]}"]
    every = [first] + warmup + passes
    failed_ops = sum(p.failed for p in every)
    attempted = sum(len(p.ops) for p in every) + len(checks)
    failures = [c for c in checks if c]
    for msg in failures:
        print(f"CHECK FAILED {msg}", file=sys.stderr)
    failed = failed_ops + len(failures)

    rss = host.peak_rss_mb([os.getpid(), host.jvm_pid(spark)])
    plain = [p for p in passes if not p.traced]
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
    }
    if not args.trace:
        op_walls = [o.wall for p in plain for o in p.ops]
        detail = wl.detail(first, plain)
        t = workloads.tail(op_walls)
        detail.update(
            {
                "op_p50_s": _median(op_walls),
                "error_rate": failed / attempted,
                "warm_ops": len(op_walls),
                "warm_passes": len(plain),
                "op_tail": {"percentile": t[0], "s": t[1]} if t else None,
                "first_pass_s": first.wall,
                "first_pass_op_s": {o.name: o.wall for o in first.ops},
                "host_steal_pct": shares["steal_pct"],
                "host_busy_pct": shares["busy_pct"],
                "peak_rss_mb": rss,
            }
        )
        print(json.dumps({"detail": detail}))
        result["metrics"] = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "first_pass_cpu_s": {"value": first.cpu_s, "unit": "s"},
            "pass_s": {"value": _median([p.wall for p in plain]), "unit": "s"},
            "pass_cpu_s": {"value": _median([p.cpu_s for p in plain]), "unit": "s"},
        }
    else:
        traced = [p for p in passes if p.traced]
        layers = workloads.layer_metrics(wl, first, traced, plain)
        layers["host.steal_pct"] = shares["steal_pct"]
        layers["host.busy_pct"] = shares["busy_pct"]
        layers["host.loadavg"] = host.loadavg()
        layers["host.peak_rss_mb"] = rss
        base = _median([p.wall for p in plain])
        layers["trace.overhead_pct"] = (
            100.0 * (_median([p.wall for p in traced]) - base) / base
        )
        layers["trace.spans"] = float(len(tracer.spans))
        tracer.dump(os.path.join(ROOT, ".perfbench", f"spans-{args.workload}-{args.seed}.jsonl"))
        units = {m["name"]: m["unit"] for m in cfg["per_layer"]}
        result["metrics"] = {
            name: {"value": float(layers.get(name, 0.0)), "unit": unit}
            for name, unit in units.items()
        }
    return result


def _stop_spark() -> None:
    """Stop the session and the driver JVM, and wait for the JVM to exit
    (it exits when its stdin pipe closes)."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is None:
        return
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    sc.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    args = _parse(argv)
    engine = os.path.join(ROOT, "dataforge_core_spark")
    if not (
        os.path.isdir(engine)
        and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
    ):
        print(
            f"perfbench: engine sources not found under {ROOT}; run from the "
            "root of a dataforge-core-spark checkout",
            file=sys.stderr,
        )
        return 2
    with open(os.path.join(BENCH_DIR, "config.json")) as f:
        cfg = json.load(f)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        cfg["per_layer"] = json.load(f)["per_layer"]
    if args.workload not in cfg["workloads"]:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    _prepare_env(cfg, work)
    try:
        result = run(args, cfg, work)
    finally:
        _stop_spark()
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
