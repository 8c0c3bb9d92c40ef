"""Run one benchmark workload and print its metrics as one JSON line.

Usage (from the repository root)::

    python3 perfbench/run.py --workload crm_sync --seed 1 --seconds 10 --trace 0

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the same
workload with spans around each layer and reports the per-layer metrics
instead. Every invocation works in a fresh directory under
``.perfbench_work/`` (session temp files, Spark local dirs, lakes, caches)
and deletes it at exit; spans of a traced run are written to
``.perfbench_out/``. The second-to-last stdout line records the
environment, the last one is the result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "activecampaign_api_data_pipeline_spark"
WORKLOADS = ("crm_sync", "stream_ingest")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def physical_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def pin_env(work: str) -> None:
    """Pin the process environment before any Spark or tempfile use.

    The package keys its ANN, SQ8 and decontamination caches on
    ``tempfile.gettempdir()``, so a per-invocation ``TMPDIR`` starts every
    run cold. The driver heap stays well below physical memory (the
    package default is 24g); the inputs are a few MB."""
    import tempfile

    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    heap = f"{min(1024, physical_mb() // 4)}m"
    env = {
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_GRAFT_DRIVER_MEM": heap,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        # keep the JVM's temp files and the SQL warehouse inside the work
        # dir; a fixed, pre-touched heap keeps the JVM's resident size from
        # following the collector's heap sizing, so peak_rss_mb moves with
        # what the program holds off-heap and in Python workers
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            f"-Xms{heap} -XX:+AlwaysPreTouch' "
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} pyspark-shell"
        ),
    }
    os.environ.update(env)
    tempfile.tempdir = None


def spark_env(spark) -> dict:
    import pyspark

    conf = spark.conf
    return {
        "master": spark.sparkContext.master,
        "defaultParallelism": spark.sparkContext.defaultParallelism,
        "shuffle_partitions": conf.get("spark.sql.shuffle.partitions"),
        "advisory": conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"),
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
        "pyspark": pyspark.__version__,
        "nproc": nproc(),
    }


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait until every
    process this one started (the JVM and its Python workers) has ended."""
    from pyspark import SparkContext

    from perfbench.stats import descendant_pids

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on end of its stdin
        proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while descendant_pids(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


def manifest() -> dict:
    """Metric names and units, from the ``BENCHMARK.json`` beside the
    benchmark."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        doc = json.load(f)
    return {key: {m["name"]: m["unit"] for m in doc[key]} for key in ("end_to_end", "per_layer")}


def report(values: dict[str, float], units: dict[str, str], fill_zero: bool) -> dict:
    """Every metric of ``units`` with its unit. With ``fill_zero``, a metric
    the workload did not produce reports 0: the workload never calls the
    layer it measures."""
    unknown = set(values) - set(units)
    missing = set(units) - set(values)
    if unknown or (missing and not fill_zero):
        raise RuntimeError(f"metrics not in BENCHMARK.json: {sorted(unknown)}; missing: {sorted(missing)}")
    return {name: {"value": float(values.get(name, 0.0)), "unit": unit} for name, unit in units.items()}


def run(args, work: str) -> dict:
    from perfbench.stats import RssSampler

    with RssSampler() as rss:
        t0 = time.perf_counter()
        from activecampaign_api_data_pipeline_spark.session import get_spark

        spark = get_spark(f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        start_s = time.perf_counter() - t0
        print(json.dumps({"env": spark_env(spark)}), flush=True)
        try:
            if args.workload == "crm_sync":
                from perfbench.crm import CrmSync as Workload
            else:
                from perfbench.stream import StreamIngest as Workload
            wl = Workload(spark, work, args.seed)
            try:
                t1 = time.perf_counter()
                wl.setup()
                warm_s = time.perf_counter() - t1
                e2e = wl.measure(args.seconds)
                if args.trace:
                    from perfbench.trace import Tracer

                    tracer = Tracer(spark)
                    layers = wl.traced(tracer)
                    os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
                    tracer.dump(os.path.join(
                        ROOT, ".perfbench_out", f"spans_{args.workload}_seed{args.seed}.json"))
            finally:
                wl.close()
        finally:
            stop_spark(spark)
    units = manifest()
    if args.trace:
        layers.update({
            "session.start_s": start_s,
            "session.warm_s": warm_s,
            "error_rate": wl.failed / wl.attempted,
        })
        metrics = report(layers, units["per_layer"], fill_zero=True)
    else:
        e2e.update({"setup_s": start_s + warm_s, "peak_rss_mb": rss.peak_mb})
        metrics = report(e2e, units["end_to_end"], fill_zero=False)
    return {
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": metrics,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # a TERM unwinds like an error: Spark is stopped and the work dir removed
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    parent = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(parent, f"{args.workload}-{os.getpid()}-{time.time_ns()}")
    os.makedirs(work)
    try:
        pin_env(work)
        result = run(args, work)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(parent)
        except OSError:  # another invocation is still using it
            pass
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
