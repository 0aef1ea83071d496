"""Outside-in benchmark for the Hedera ETL path.

    python3 perfbench/run.py --workload tx_ingest --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout.  It drives the engine's public
entry points (``IngestPipeline``, ``DedupeJob``) on ``local[4]`` with
inputs made by the seeded generator (``perfbench/gen.py``) in its own
process, checks every output against the generator's manifest, and
prints, as its last stdout line, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json,
``--trace 1`` the per-layer ones (and writes every span to
``.perfbench_out/``).  Scratch data lives in ``.perfbench_work/`` under
the checkout and is removed at exit.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

CPUS = 4
DRIVER_MEMORY = "1g"


def parse_args(argv):
    p = argparse.ArgumentParser(description="Hedera ETL benchmark")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True, help="length of the measured phase")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    try:
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            bench = json.load(f)
    except FileNotFoundError:
        return fail("run from the checkout root: BENCHMARK.json not found")
    if not os.path.isfile(os.path.join(root, "hedera_etl_spark", "__init__.py")):
        return fail("engine sources (hedera_etl_spark/) not found in the checkout")
    if args.workload not in {w["name"] for w in bench["workloads"]}:
        return fail(f"unknown workload {args.workload!r}")
    sys.path.insert(0, root)

    from perfbench import wl_dedupe, wl_ingest
    from perfbench.harness import Ctx
    from perfbench.tracer import Tracer

    workloads = {"tx_ingest": wl_ingest.run, "dedupe_cycle": wl_dedupe.run}
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "local"))
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # engine code that asks for a temp dir gets one inside the checkout
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY

    tracer = Tracer(enabled=args.trace == 1)
    spark = None
    try:
        from hedera_etl_spark.session import get_spark

        with tracer.span("session.get_spark", new_trace=True):
            t = time.perf_counter()
            spark = get_spark(
                f"perfbench-{args.workload}", cpus=CPUS, shuffle_partitions=CPUS,
                extra_confs={
                    "spark.ui.showConsoleProgress": "false",
                    "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                    "spark.driver.extraJavaOptions":
                        f"-Dderby.system.home={work} -Djava.io.tmpdir={tempfile.tempdir}",
                },
            )
            session_s = time.perf_counter() - t
        tracer.rss.add_pid(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        ctx = Ctx(root, work, args.seed, args.seconds, tracer, spark, session_s)
        with tracer.span(f"workload.{args.workload}", new_trace=True):
            out = workloads[args.workload](ctx)
        out.e2e["peak_rss_mb"] = tracer.rss.peak_kb() / 1024.0
        out.layer["session.get_spark_s"] = session_s
        out.layer["jvm.gc_s"] = tracer.jvm_gc_s(spark)
        out.layer["trace.overhead_s"] = tracer.overhead_s
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    wanted = bench["per_layer"] if args.trace else bench["end_to_end"]
    have = out.layer if args.trace else out.e2e
    missing = [m["name"] for m in wanted if m["name"] not in have]
    if missing:
        return fail(f"workload produced no value for {missing}")
    metrics = {m["name"]: {"value": float(have[m["name"]]), "unit": m["unit"]} for m in wanted}

    if args.trace:
        out_dir = os.path.join(root, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json")
        tracer.write(path, {"end_to_end": out.e2e, "per_layer": out.layer, "notes": out.notes})
        print(f"spans: {path}")
    ratio = out.failed / max(1, out.attempted)
    print(f"ops_failed_ratio: {ratio:.6g} ({out.failed}/{out.attempted})")
    for name, value in sorted(out.e2e.items()):
        print(f"e2e {name}: {value:.6g}")
    if args.trace:
        # a traced run's own end-to-end numbers: minus an untraced run's,
        # they give the tracing overhead
        for name, value in sorted(out.layer.items()):
            print(f"layer {name}: {value:.6g}")
    print(f"notes: {json.dumps(out.notes, default=str)}")
    print(json.dumps({
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
