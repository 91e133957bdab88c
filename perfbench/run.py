"""Benchmark entry point.

    python3 perfbench/run.py --workload crawl_search --seed 1 --seconds 14 --trace 0

Runs one workload (see ``workloads.py``) in this process against a fresh
temp root under ``.perfbench_runs/`` in the checkout, which holds the
stores, layouts, Spark local dirs and event logs and is removed at the
end. Prints one JSON line last on stdout: ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` turns on span job groups and Spark event
logging and reports the per-layer metrics (see ``layers.py``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

from procs import MemorySampler, stop_spark

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
DRIVER_MEMORY = "2g"


def prepare_env(root: str, trace: bool) -> None:
    """Isolate the run: every path Spark or the package writes points into
    ``root``; configuration reaches Spark through a benchmark-owned
    ``SPARK_CONF_DIR``."""
    conf_dir = os.path.join(root, "conf")
    for d in ("conf", "local", "tmp", "eventlog", "stores", "warehouse"):
        os.makedirs(os.path.join(root, d))
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(root, "warehouse"),
        # no hsperfdata file: the JVM writes it under /tmp whatever
        # java.io.tmpdir says
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(root, 'tmp')} -XX:-UsePerfData",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file:" + os.path.join(root, "eventlog"),
        })
    with open(os.path.join(conf_dir, "spark-defaults.conf"), "w") as f:
        f.writelines(f"{k} {v}\n" for k, v in conf.items())
    os.environ.update({
        "SPARK_CONF_DIR": conf_dir,
        "SPARK_LOCAL_DIRS": os.path.join(root, "local"),
        "SPARK_GRAFT_STORE_DIR": os.path.join(root, "stores"),
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "TMPDIR": os.path.join(root, "tmp"),
    })


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [HERE, CHECKOUT]
    try:
        import workloads
        from layers import end_to_end, per_layer
        from spans import Tracer

        workload = workloads.WORKLOADS[args.workload]
        import code_challenge___data_engineer___machinemax_spark  # noqa: F401
        import tests.oracle_harness  # noqa: F401
    except (ImportError, KeyError) as exc:
        print(f"perfbench: cannot run {args.workload!r}: {type(exc).__name__}: {exc}", file=sys.stderr)
        return 2

    runs = os.path.join(CHECKOUT, ".perfbench_runs")
    os.makedirs(runs, exist_ok=True)
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    root = os.path.join(runs, run_id)
    prepare_env(root, bool(args.trace))
    tracer = Tracer(run_id, enabled=bool(args.trace))
    sampler = MemorySampler()
    ctx = workloads.Ctx(seed=args.seed, seconds=args.seconds, root=root, tracer=tracer, sampler=sampler)
    sampler.start()
    try:
        ctx.attempt("workload", workload, ctx)
        workloads.log("checks done")
        stop_spark(ctx.spark)
        workloads.log("spark stopped")
        sampler.stop()  # if the workload ended before its read phase did
        metrics = end_to_end(ctx, sampler.peak_bytes)
        if args.trace:
            metrics = per_layer(ctx, os.path.join(root, "eventlog"), metrics)
            tracer.dump(os.path.join(runs, f"spans-{run_id}.json"))
    finally:
        shutil.rmtree(root, ignore_errors=True)
    for err in ctx.errors:
        print(f"perfbench: FAILED {err}", file=sys.stderr)
    complete = all(v is not None for v in metrics.values())
    print(json.dumps({
        "correct": not ctx.errors and complete,
        "attempted": ctx.attempted,
        "failed": len(ctx.errors),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
