#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as JSON.

    python3 perfbench/run.py --workload olap_mix --seed 1 --seconds 15 --trace 0

Run from the repository root. The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1`` (which also
writes the spans to ``.perfbench/trace-<workload>-<seed>.jsonl``). The line
before it records the host, the versions and the sample counts. The
workloads and every metric are described in ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import datetime as dt
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_DIR = os.path.join(ROOT, ".perfbench")

UNITS = {
    "setup_s": "s", "pass_s": "s", "op_geomean_s": "s",
}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=0.01,
                   help="scale factor of the generated inputs")
    p.add_argument("--corrupt", action="store_true",
                   help="tamper with one checked result (smoke test)")
    return p.parse_args(argv)


def _engine_version() -> str:
    """git sha of the checkout, or a digest of the engine sources when
    the checkout is not a git repository."""
    try:
        return subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
            text=True, timeout=10, check=True,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "ecommerce_data_pipeline_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return "src-" + h.hexdigest()[:12]


def _configure_host(work: str) -> dict:
    """Size Spark to the host: local[nproc], shuffle partitions = nproc,
    driver heap a quarter of RAM (<= 4g), scratch dirs inside the checkout."""
    nproc = len(os.sched_getaffinity(0))
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    mem = f"{max(1, min(4, int(ram_gb // 4)))}g"
    local, tmp = os.path.join(work, "spark-local"), os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = mem
    os.environ["SPARK_LOCAL_DIRS"] = local
    # keep Python's and the JVM's scratch files inside the checkout too
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return {"nproc": nproc, "ram_gb": round(ram_gb, 1), "driver_mem": mem}


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = _args(argv)
    sys.path.insert(0, ROOT)
    try:
        import ecommerce_data_pipeline_spark  # noqa: F401
        import tests.oracle_harness  # noqa: F401
        from perfbench import layers, trace, workloads
    except ImportError as e:
        print(f"perfbench: run from a checkout of the engine ({e})", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    work = os.path.join(OUT_DIR, "work-" + run_id)
    host = _configure_host(work)
    tracer = trace.Tracer(run_id, enabled=bool(args.trace))
    ctx = workloads.Context(
        work=work, seed=args.seed, seconds=args.seconds, sf=args.sf,
        nproc=host["nproc"], tracer=tracer, corrupt=args.corrupt,
    )
    t0 = time.perf_counter()
    try:
        ctx.attempt(f"workload {args.workload}", lambda: workloads.WORKLOADS[args.workload](ctx))
        if ctx.spark is not None:
            spark = ctx.spark
            host.update(
                spark=spark.version,
                java=spark.sparkContext._jvm.System.getProperty("java.version"),
            )
            if args.trace:
                metrics = layers.per_layer(ctx)
            else:
                metrics = {
                    "setup_s": workloads.median(ctx.setup_samples),
                    "pass_s": workloads.median(ctx.pass_samples),
                    "op_geomean_s": workloads.op_geomean(ctx.op_samples),
                }
    finally:
        if ctx.spark is not None:
            _stop_spark(ctx.spark)
        if args.trace:
            tracer.write(os.path.join(OUT_DIR, f"trace-{args.workload}-{args.seed}.jsonl"))
        shutil.rmtree(work, ignore_errors=True)

    if ctx.spark is None or not ctx.pass_samples or not ctx.op_samples:
        print("perfbench: the workload produced no timed samples", file=sys.stderr)
        return 1
    units = layers.UNITS if args.trace else UNITS
    info = {
        **host, "engine": _engine_version(), "workload": args.workload,
        "seed": args.seed, "sf": args.sf, "trace": args.trace,
        "wall_s": time.perf_counter() - t0,
        "when": dt.datetime.now(dt.timezone.utc).isoformat(timespec="seconds"),
        "samples": {"setup": len(ctx.setup_samples), "pass": len(ctx.pass_samples),
                    "op": sum(map(len, ctx.op_samples.values()))},
        "pass_walls_s": ctx.pass_samples,
        "error_rate": ctx.failed / ctx.attempted,
        **{k: v for k, v in ctx.info.items() if k.endswith(("_rows", "_s"))},
    }
    print(json.dumps({"info": info}))
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
