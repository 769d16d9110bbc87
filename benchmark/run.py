"""Benchmark of the engine's public entry points.

    python3 benchmark/run.py --workload recon_serve --seed 1 --seconds 10 --trace 0

Run from the repository root. Every input comes from ``--seed``: the
source tables, the request stream and the CDC batches. Each run bootstraps
a fresh snapshot into a private directory under ``.bench_tmp/``, measures
the workload (recon_serve for ``--seconds``; batch_analytics for one pass
of its queries), checks the outputs against DuckDB references and
prints, last, one JSON line::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, with operation times
corrected for the shared host's speed (``hostspeed.py``) and printed
uncorrected beside them; ``--trace 1`` records spans
around every call into a layer and reports the per-layer metrics, with
the spans written to ``.bench_out/``. ``benchmark/metrics.py`` lists
every metric and what it should move.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import sys
import tempfile
import time

T0 = time.perf_counter()
ROOT = os.getcwd()
sys.path.insert(0, ROOT)


def _log(msg: str) -> None:
    print(f"benchmark: {time.perf_counter() - T0:7.1f}s {msg}", file=sys.stderr, flush=True)


def _fail(msg: str) -> None:
    print(f"benchmark: {msg}", file=sys.stderr)
    sys.exit(2)


def _peak_rss_mb(spark) -> float:
    """Peak RSS of this process plus the JVM it drives."""
    mine = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        hwm = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
    return mine + hwm / 1024


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        from benchmark import checks, metrics, workloads
        from hadoop_ozone_spark import session  # noqa: F401  the engine under test
    except ImportError as e:
        _fail(f"cannot import the engine from {ROOT}: {e}")
    if args.workload not in metrics.WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; one of {sorted(metrics.WORKLOADS)}")

    cores = len(os.sched_getaffinity(0))
    os.makedirs(os.path.join(ROOT, ".bench_tmp"), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-",
                               dir=os.path.join(ROOT, ".bench_tmp"))
    # all writable state stays in the run directory: Spark's scratch space,
    # its warehouse (relative to the working directory) and temp files
    os.environ["SPARK_LOCAL_DIRS"] = os.environ["TMPDIR"] = run_dir
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={run_dir} pyspark-shell")
    os.chdir(run_dir)
    tempfile.tempdir = run_dir

    from benchmark import datagen

    datagen.write_tables(os.path.join(run_dir, "sf"), args.seed)
    ctx = workloads.Context(run_dir, args.seed, args.seconds, bool(args.trace))
    try:
        _log("inputs written")
        setup = workloads.setup(ctx, cores)
        _log("set up")
        measure, check, layers = workloads.WORKLOADS[args.workload]
        res = measure(ctx)
        _log("measured")
        rss = _peak_rss_mb(ctx.spark)
        ctx.tracer.resolve_counts()
        attempted, failed, errors = check(res)
        if args.trace:
            layer = layers(ctx, res)
            os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
            ctx.tracer.dump(os.path.join(
                ROOT, ".bench_out", f"spans-{args.workload}-{args.seed}.json"))
        _log("checked")
    finally:
        if ctx.spark is not None:
            _stop(ctx.spark)
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
        _log("stopped")

    latencies = res["timed"]
    corrected = res["corrected"]
    if args.trace:
        values = {k: 0.0 for k in metrics.PER_LAYER}
        values.update(setup["layer"])
        values.update(layer)
        values["scratch.persisted_rdds_peak"] = max(ctx.persisted, default=0)
        values["scratch.persisted_rdds_end"] = ctx.persisted[-1] if ctx.persisted else 0
        values["process.peak_rss_mb"] = rss
        units = {k: v[0] for k, v in metrics.PER_LAYER.items()}
    else:
        values = {
            "setup_s": setup["setup_s"],
            "snapshot_mb": setup["snapshot_mb"],
            "op_gmean_ms": checks.geomean(corrected) if corrected else 0.0,
            "ops_per_s": len(corrected) / (sum(corrected) / 1000) if corrected else 0.0,
        }
        units = {k: v[0] for k, v in metrics.END_TO_END.items()}

    # the human-readable report, also under each workload's own metric names
    print(f"# workload={args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} cores={cores} samples={len(latencies)}")
    for name, v in values.items():
        print(f"{name} = {v:.6g} {units[name]}")
    if not args.trace:
        # the same operations in wall time, as measured, without the
        # host-speed correction
        p50 = checks.median(latencies) if latencies else 0.0
        p50_name, rate_name = metrics.OWN_NAMES[args.workload]
        print(f"host_reference_op_ms = {checks.median(res['host']):.6g} ms "
              f"(quiet host {res['host_ref']:.3g} ms, n={len(res['host'])})")
        print(f"{p50_name} = {p50:.6g} ms wall (n={len(latencies)})")
        if latencies:
            print(f"{rate_name} = {len(latencies) / (sum(latencies) / 1000):.6g} 1/s wall")
        if args.workload == "recon_serve":
            p95 = checks.percentile(latencies, 0.95)
            print("serve_p95_ms = " + (f"{p95:.6g} ms wall" if p95 is not None else
                  f"not reported: {len(latencies)} samples leave fewer than "
                  f"{checks.MIN_ABOVE} above p95"))
            for op, xs in res["by_op"].items():
                print(f"serve_p50_ms.{op} = {checks.median(xs):.6g} ms wall (n={len(xs)})")
        else:
            print(f"batch_pass_s = {sum(latencies) / 1000:.6g} s wall")
        print(f"peak_rss_mb = {rss:.6g} MB")
    print(f"ops_failed_frac = {failed / max(attempted, 1):.6g} ({failed}/{attempted})")
    for e in errors[:20]:
        print(f"FAILED {e}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in values},
    }), flush=True)


if __name__ == "__main__":
    main()
