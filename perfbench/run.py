"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest_mixed --seed 1 --seconds 4 --trace 0

Run from the root of a checkout. The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). Lines before it name the workload's user-facing figures
with their units. Everything the run writes goes under
``perfbench/_work/``; the run's artifact (all figures, failures, host
probes and spans) is ``perfbench/_work/artifacts/<workload>-seed<n>-trace<t>.json``.

Exit codes: 0 with a result, 2 for bad arguments, 3 when the input
generator no longer reproduces the pinned fingerprints, 1 otherwise.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPS = 2


def parse_args(argv):
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def prepare_env(work: str) -> None:
    """Keep every scratch file of the JVM and the Python workers in ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # spark-submit's launcher JVM, which builds the real JVM's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def stop_spark(spark) -> None:
    """Stop the context, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001 - the JVM must not outlive the run
        proc.kill()
        proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(args, work: str) -> dict:
    from perfbench import inputs
    # the fresh-touch memory probe bench.py records next to its figures
    from bench import _membw_quick_gbps as membw_gbps
    from perfbench.harness import RssSampler, Tally, Tracer, median, span_cost_s
    from perfbench.metrics import END_TO_END, PER_LAYER, emit
    from perfbench.workloads import WORKLOADS, Ctx, start_session, warm_workers

    membw_pre = membw_gbps()
    ctx = Ctx(
        work=work,
        seed=args.seed,
        trace=bool(args.trace),
        tally=Tally(),
        tracer=Tracer(run_id=f"{args.workload}-{args.seed}-{os.getpid()}", enabled=False),
        ncpu=len(os.sched_getaffinity(0)),
    )
    wl = WORKLOADS[args.workload](ctx)
    default_fp = wl.default_fingerprint()
    inputs.check_pinned(wl.name, default_fp)

    starts, spark = [], None
    try:
        # every set-up launches a fresh JVM; the launch is repeated and its
        # median kept. Python workers are warmed, and the workload's own
        # set-up (search: persist + index) runs, once, on the last session
        for rep in range(1 if ctx.trace else SETUP_REPS):
            if spark is not None:
                stop_spark(spark)
            spark, start_s = start_session(ctx)
            starts.append(start_s)
            if rep == 0:
                t0 = time.perf_counter()
                run_fp = wl.generate(spark)  # inputs: not part of set-up
                inputs_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        warm_workers(spark, ctx.ncpu)
        warm_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl_setup = wl.setup(spark)
        wl_setup["total_s"] = time.perf_counter() - t0
        membw_mid = membw_gbps()

        # a traced run times the same operations with spans on
        watch = None
        if ctx.trace:
            from perfbench.sparkobs import SparkWatch

            watch = SparkWatch(spark)
            ex0 = watch.executor_totals()
        walls = []
        ctx.tracer.enabled = ctx.trace
        with RssSampler(spark.sparkContext._gateway.proc.pid) as rss, \
                wl.instrument() if ctx.trace else contextlib.nullcontext(), ctx.tracer.span("loop"):
            deadline = time.perf_counter() + args.seconds
            k = 0
            while True:
                try:
                    walls.append(wl.op(spark, k))
                except Exception as e:  # noqa: BLE001 - an errored action is a failed check
                    ctx.tally.error(f"op {k}", e)
                k += 1
                if time.perf_counter() >= deadline:
                    break
        ctx.tracer.enabled = False
        if not walls:
            raise RuntimeError(f"every operation failed: {ctx.tally.failures[:3]}")
        op_s = median(walls)
        values = {"op_ms_p50": op_s * 1000, "jvm.peak_rss_mb": rss.peak / 2**20,
                  "setup_s": median(starts) + warm_s + wl_setup["total_s"]}
        if ctx.trace:
            ex1 = watch.executor_totals()
            values.update(wl.trace(spark, watch))
            values.update({
                "session.start_s": starts[0],
                "session.worker_warm_s": warm_s,
                "search.ivf.index_build_s": wl_setup.get("ivf_build_s", 0.0),
                "jvm.gc_ms": ex1["gc_ms"] - ex0["gc_ms"],
                "spark.failed_tasks": ex1["failed_tasks"] - ex0["failed_tasks"],
                # time the tracer itself adds inside the timed operations
                "trace.overhead_frac": len(ctx.tracer.spans) * span_cost_s() / sum(walls),
            })
        t0 = time.perf_counter()
        wl.check(spark)
        check_s = time.perf_counter() - t0
        report = {**wl.report(op_s), "failed_frac": ctx.tally.failed_frac,
                  "peak_rss_mb": values["jvm.peak_rss_mb"],
                  **{k: values[k] for k in ("setup_s", "op_ms_p50")}}
    finally:
        if spark is not None:
            stop_spark(spark)
    names = PER_LAYER if ctx.trace else END_TO_END
    return {
        "result": {
            "correct": ctx.tally.failed == 0,
            "attempted": ctx.tally.attempted,
            "failed": ctx.tally.failed,
            "metrics": emit(values, names),
        },
        "report": report,
        "artifact": {
            "workload": wl.name,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "ncpu": ctx.ncpu,
            "ops": len(walls),
            "op_walls_s": walls,
            "session_start_s": starts,
            "worker_warm_s": warm_s,
            "inputs_s": inputs_s,
            "check_s": check_s,
            "workload_setup": wl_setup,
            "inputs": {"run_seed": run_fp, "default_seed": default_fp},
            "membw_gbps": {"pre": membw_pre, "after_setup": membw_mid, "post": membw_gbps()},
            "failures": ctx.tally.failures,
            "values": values,
            "report": report,
            "spans": ctx.tracer.to_json(),
        },
    }


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    from perfbench.metrics import REPORT_UNITS

    args = parse_args(argv)
    bench_dir = os.path.join(ROOT, "perfbench", "_work")
    work = os.path.join(bench_dir, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)
    try:
        out = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    art_dir = os.path.join(bench_dir, "artifacts")
    os.makedirs(art_dir, exist_ok=True)
    art = os.path.join(art_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(art, "w") as f:
        json.dump(out["artifact"], f, indent=1, default=str)
    failures = out["artifact"]["failures"]
    if failures:
        print(f"{len(failures)} failed checks, first: {failures[:10]}", file=sys.stderr)
    for name, value in out["report"].items():
        unit = REPORT_UNITS.get(name, "ms")  # the rest are query_ms_p<N>
        print(f"{args.workload} {name} = {value:.6g} {unit}")
    print(json.dumps(out["result"]), flush=True)
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception as exc:
        from perfbench.inputs import InputDrift

        print(f"perfbench: {type(exc).__name__}: {exc}", file=sys.stderr)
        sys.exit(3 if isinstance(exc, InputDrift) else 1)
