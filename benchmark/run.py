"""Benchmark entry point.

    python3 benchmark/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. Starts a fresh Spark
session sized to this host, runs one workload through the program's
public functions, checks the outputs, and prints one metric per line
followed, as the last line, by a JSON object with keys ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the metrics
are the end-to-end metrics of ``BENCHMARK.json``; with ``--trace 1`` the
per-layer metrics, attributed from the Spark event log (see spans.py).

Every file the run writes lives under ``.bench_tmp/`` in the checkout and
is removed at exit; traced runs keep their spans and per-layer tables
under ``.bench_out/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import resource
import shutil
import sys
import time
import traceback


def host_env(work_dir: str) -> None:
    """Size the session to this host and keep every scratch file in
    ``work_dir`` (never the repo's own ``spark-warehouse/``)."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_gb = int(f.readline().split()[1]) / 2**20
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # a quarter of host memory, 1-4 GB: the session default (48g) assumes
    # a large dedicated box
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{max(1, min(4, int(total_gb // 4)))}g"
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM for the driver JVM")


def stop_session(spark) -> None:
    """Stop Spark and the gateway JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def run(args, root: str, work_dir: str) -> tuple[dict, object]:
    import workloads

    start_wall, start_cpu = time.perf_counter(), workloads.tree_cpu_s()
    sys.path.insert(0, root)
    import bigdatasearchpro_spark

    if not os.path.abspath(bigdatasearchpro_spark.__file__).startswith(root + os.sep):
        raise RuntimeError("bigdatasearchpro_spark not imported from this checkout")
    import spans as tracing

    tracer = tracing.Tracer(bool(args.trace))
    conf = {"spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            "spark.local.dir": os.path.join(work_dir, "local")}
    if args.trace:
        os.makedirs(os.path.join(work_dir, "events"))
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + os.path.join(work_dir, "events"),
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    from bigdatasearchpro_spark.session import get_spark

    with tracer.span("session.get_spark"):
        spark = get_spark("benchmark", extra_conf=conf)
        spark.range(1).count()  # the session is ready once it has run a job
    try:
        tracer.sc = spark.sparkContext
        from bigdatasearchpro_spark.operators import querystring
        from bigdatasearchpro_spark.sinks import ddl

        tracer.wrap(ddl, "get_mapping", "sinks.ddl.get_mapping")
        tracer.wrap(querystring, "parse_query_string",
                    "operators.querystring.parse_query_string")
        ctx = workloads.Ctx(spark=spark, tracer=tracer, work_dir=work_dir,
                            seed=args.seed, seconds=args.seconds,
                            start_wall=start_wall, start_cpu=start_cpu)
        m = workloads.WORKLOADS[args.workload](ctx)
        m["setup_s"] = ctx.setup_cpu_s
        m["named"].insert(0, ("setup_wall_s", ctx.setup_wall_s, "s"))
        m["peak_rss_mb"] = (jvm_peak_rss_mb(spark)
                            + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024)
    finally:
        stop_session(spark)
    layers = None
    if args.trace:
        log = tracing.read_event_log(os.path.join(work_dir, "events"))
        layers = tracing.attribute(tracer.spans, log)
        out = os.path.join(root, ".bench_out")
        os.makedirs(out, exist_ok=True)
        stem = os.path.join(out, f"{args.workload}-{args.seed}")
        tracer.dump(stem + ".spans.json")
        with open(stem + ".layers.json", "w") as f:
            json.dump(layers, f, indent=1, sort_keys=True)
    return {"metrics": m, "ctx": ctx}, layers


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(root, "bigdatasearchpro_spark")):
        print("no bigdatasearchpro_spark package in the working directory; "
              "run from the root of a checkout", file=sys.stderr)
        return 2
    work_dir = os.path.join(root, ".bench_tmp", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work_dir, ignore_errors=True)
    os.makedirs(work_dir)
    try:
        host_env(work_dir)
        res, layers = run(args, root, work_dir)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
    m, ctx = res["metrics"], res["ctx"]

    for name, value, unit in m["named"]:
        print(f"{name} = {value:.6g} {unit}")
    share = ctx.failed / ctx.attempted if ctx.attempted else math.nan
    print(f"failed_ops_share = {share:.6g} ({ctx.failed}/{ctx.attempted})")
    for e in ctx.errors[:10]:
        print(f"  failure: {e}", file=sys.stderr)
    for name, ok, detail in ctx.checks:
        if not ok:
            print(f"CHECK FAILED: {name}: {detail}", file=sys.stderr)
    print(f"checks: {sum(ok for _, ok, _ in ctx.checks)}/{len(ctx.checks)} passed")

    if args.trace:
        metrics = {}
        for spec_m in spec["per_layer"]:
            name = spec_m["name"]
            if name.startswith("traced."):
                value = m[name[len("traced."):]]
            else:
                span, family = name.rsplit(".", 1)
                value = layers.get(span, {}).get(family, 0.0)
            metrics[name] = {"value": value, "unit": spec_m["unit"]}
    else:
        metrics = {e["name"]: {"value": m[e["name"]], "unit": e["unit"]}
                   for e in spec["end_to_end"]}
    for name, v in metrics.items():
        print(f"{name} = {v['value']:.6g} {v['unit']}")
    correct = bool(ctx.checks) and all(ok for _, ok, _ in ctx.checks)
    print(json.dumps({"correct": correct, "attempted": ctx.attempted,
                      "failed": ctx.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
