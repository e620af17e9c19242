"""Benchmark entry point for the plug engine.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. One run: pin the environment,
start one local Spark session, run one workload (see workloads.py) for
``--seconds``, check its outputs, and print as the last stdout line one
JSON object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
per-layer ones from a traced run (spans written to
``.perfbench_out/trace-<workload>-<seed>.jsonl``). Everything the run
writes stays under ``.perfbench_work/`` (removed at exit) and
``.perfbench_out/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("backfill", "api-read")
DRIVER_MEMORY = "4g"


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--cpus", type=int, default=None,
        help="local[N] core count (default: nproc); 1 gives the single-threaded baseline",
    )
    return p.parse_args(argv)


def pin_environment(work: str, cpus: int, trace: bool) -> dict[str, str]:
    """The environment every run uses, set before the JVM starts.

    ``SPARK_GRAFT_CPUS`` and ``SPARK_LOCAL_DIRS`` are set as the tier-1 test
    command sets them, so the session's /dev/shm scratch heuristic never
    engages and results do not flip between boxes with different tmpfs
    sizes. JVM heap, JVM temp files and the warehouse are pinned inside
    the run's work directory. A traced run keeps every job and stage in
    the status tracker, which it reads after the measured loop."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": " ".join(
            [
                "--driver-memory", DRIVER_MEMORY,
                "--driver-java-options", shlex.quote(java_opts),
                "--conf", "spark.ui.showConsoleProgress=false",
                "--conf", shlex.quote(f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"),
                *(["--conf", "spark.ui.retainedJobs=100000", "--conf", "spark.ui.retainedStages=100000"]
                  if trace else []),
                "pyspark-shell",
            ]
        ),
    }
    for var in ("SPARK_GRAFT_LOCAL_DIR", "SPARK_GRAFT_DRIVER_MEMORY", "SPARK_GRAFT_SHUFFLE_PARTITIONS"):
        os.environ.pop(var, None)
    os.environ.update(env)
    return env


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
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
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "haf_plug_play_spark", "__init__.py")):
        print(f"perfbench: no engine source (haf_plug_play_spark/) under {ROOT}", file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    cpus = args.cpus or nproc
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    env = pin_environment(work, cpus, bool(args.trace))
    sys.path.insert(0, ROOT)

    from haf_plug_play_spark.session import get_spark

    import workloads
    from tracing import Tracer

    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}")
    session_start_s = time.perf_counter() - t0
    try:
        tracer = Tracer(spark, enabled=bool(args.trace))
        bench = workloads.Bench(spark, work, args.seed, args.seconds, nproc, tracer)
        result = workloads.WORKLOADS[args.workload](bench)
        tracer.dump(os.path.join(ROOT, ".perfbench_out", f"trace-{args.workload}-{args.seed}.jsonl"))
    finally:
        _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    e2e = result.end_to_end()
    if args.trace:
        layers = {name: (0.0, unit) for name, unit in workloads.layer_names()}
        layers.update(result.layers)
        layers["session.start_s"] = (session_start_s, "s")
        layers["trace.latency_p50_ms"] = e2e["latency_p50_ms"]
        layers["trace.ops_per_s"] = e2e["ops_per_s"]
        metrics = layers
    else:
        metrics = e2e
    print(f"# workload {args.workload} seed {args.seed} seconds {args.seconds} trace {args.trace}")
    print(f"# environment local[{cpus}] nproc {nproc} driver-memory {DRIVER_MEMORY} "
          f"SPARK_GRAFT_CPUS={env['SPARK_GRAFT_CPUS']} SPARK_LOCAL_DIRS=<work>/spark-local")
    print(f"# session start {session_start_s:.3f} s")
    for note in result.notes:
        print(f"# {note}")
    print(f"# failed_frac {result.failed / result.attempted:.6f} ({result.failed}/{result.attempted})")
    for name, (value, unit) in e2e.items():
        print(f"# {name} {value:.6g} {unit}")
    print(
        json.dumps(
            {
                "correct": result.failed == 0,
                "attempted": result.attempted,
                "failed": result.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
