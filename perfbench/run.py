#!/usr/bin/env python3
"""Benchmark of the engine: closed-loop, single-caller workloads.

    python3 perfbench/run.py --workload catalog_textvec --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. One process with one calling thread issues
each op only after the previous one returned, at ``local[<cores>]``. The
first pass of a session is the cold pass; every later pass is warm. With
``--trace 0`` the end-to-end metrics are printed; with ``--trace 1`` the
layer-boundary spans and Spark's own metrics give the per-layer metrics
(see README.md). The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

Everything the run writes goes under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
SF_DIR = os.path.join(HERE, "data", "sf0.01")

# the traced run compares job counts between warm passes, so needs two
MIN_TRACED_WARM_PASSES = 2
MAX_PASSES = 12
DRIVER_MEMORY = "2g"
# G1 grows its heap when GC takes more than 1/(1 + GCTimeRatio) of the time,
# about 8 % by default, which depends on timing: the JVM's peak RSS over
# four intake seeds was 1.0-1.7 GB, several times the live heap. At 1 (50 %)
# that rarely happens and the heap grows with what stays live, so peak RSS
# follows the program. See "Memory" in README.md.
DRIVER_JAVA_OPTIONS = "-XX:GCTimeRatio=1"
WORKLOADS = ("catalog_textvec", "intake")


def isolate(work: str) -> int:
    """Point every scratch location of Python, Spark and the JVM into
    ``work`` and pin the session to this host's cores."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        _JAVA_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return cores


def setup_session(work: str):
    """Imports, ``session.get_spark`` and the bench.py warm-up (one query
    plus a Python-worker warm). Returns the session and the walls of the
    last two."""
    from vmware_sd_wan_velocloud_bi_intake_spark.queries import all_queries
    from vmware_sd_wan_velocloud_bi_intake_spark.session import get_spark

    t1 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": DRIVER_JAVA_OPTIONS,
        },
    )
    t2 = time.perf_counter()
    all_queries()["a08_pricing_summary"].fn(spark, SF_DIR).write.format(
        "noop"
    ).mode("overwrite").save()
    spark.range(64).repartition(8).mapInPandas(
        lambda it: it, schema="id long"
    ).write.format("noop").mode("overwrite").save()
    t3 = time.perf_counter()
    return spark, {"get_spark_s": t2 - t1, "warm_s": t3 - t2}


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this process plus the session's JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    with open(f"/proc/{spark.sparkContext._gateway.proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024


def teardown(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()  # the JVM exits on EOF of its stdin
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def measure(workload, tracer, seconds: float) -> tuple[list[list[dict]], float]:
    """Closed loop: passes of ops until ``seconds`` of measuring, with at
    least the cold pass and the workload's minimum of warm passes. Returns
    the passes and the set-up wall: process start to the first timed op."""
    min_warm = workload.min_warm_passes
    if tracer.enabled:
        min_warm = max(min_warm, MIN_TRACED_WARM_PASSES)
    passes = []
    start = time.perf_counter()
    setup_s = start - PROCESS_START
    while len(passes) < 1 + min_warm or (
        time.perf_counter() - start < seconds and len(passes) < MAX_PASSES
    ):
        ops = []
        for name, fn in workload.ops(len(passes)):
            rec = {"name": name, "ok": True}
            t0 = time.perf_counter()
            try:
                with tracer.op(name):
                    fn()
            except Exception:
                rec["ok"] = False
                traceback.print_exc()
            rec["wall"] = time.perf_counter() - t0
            if tracer.enabled:
                rec["m"] = tracer.op_metrics()
                workload.extra_metrics(rec["m"])
            ops.append(rec)
        passes.append(ops)
    return passes, setup_s


def end_to_end(workload, passes, setup_s, rss_mb) -> dict:
    walls = [sum(op["wall"] for op in p) for p in passes]
    warm = passes[1:]
    return {
        "setup_s": (setup_s, "s"),
        "cold_pass_s": (walls[0], "s"),
        "warm_pass_s": (statistics.median(walls[1:]), "s"),
        "op_p50_s": (statistics.median(op["wall"] for p in warm for op in p), "s"),
        "rows_per_s": (
            statistics.median(
                workload.records(i) / walls[i] for i in range(1, len(passes))
            ),
            "rows/s",
        ),
        "peak_rss_mb": (rss_mb, "MB"),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    cache = os.path.join(WORK_ROOT, "cache")
    os.makedirs(cache, exist_ok=True)
    try:
        return run(args, work, cache)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str, cache: str) -> int:
    cores = isolate(work)
    spark, phases = setup_session(work)
    try:
        from perfbench.trace import NullTracer, Tracer

        if args.workload == "intake":
            from perfbench.intake import Intake as Workload
        else:
            from perfbench.catalog import CatalogTextvec as Workload

        tracer = Tracer(spark) if args.trace else NullTracer()
        workload = Workload(spark, tracer, args.seed, work, cache)
        if args.trace:
            workload.instrument()
        passes, setup_s = measure(workload, tracer, args.seconds)
        cached_bytes = _cached_bytes(spark)
        rss = peak_rss_mb(spark)
        t_check = time.perf_counter()
        failures = workload.check()
        check_s = time.perf_counter() - t_check
    finally:
        teardown(spark)

    for what, why in failures.items():
        print(f"check failed: {what}: {why}", file=sys.stderr)
    failed_ops = _fail_checked_ops(passes, failures)
    correct = not failures and all(op["ok"] for p in passes for op in p)
    if args.trace:
        from perfbench.layers import layer_metrics

        metrics, problems = layer_metrics(passes, phases, cached_bytes)
        for problem in problems:
            print(f"accounting check failed: {problem}", file=sys.stderr)
        correct = correct and not problems
        tracer.write(os.path.join(WORK_ROOT, f"trace-{args.workload}-{args.seed}.json"))
    else:
        metrics = end_to_end(workload, passes, setup_s, rss)
    attempted = sum(len(p) for p in passes)
    print(
        f"# {args.workload} seed={args.seed} local[{cores}] passes={len(passes)} "
        f"ops={attempted} setup_s={setup_s:.3f} "
        f"pass_walls={[round(sum(op['wall'] for op in p), 3) for p in passes]} "
        f"check_s={check_s:.3f} wall_s={time.perf_counter() - PROCESS_START:.3f}"
    )
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": attempted,
                "failed": failed_ops,
                "metrics": {
                    k: {"value": v, "unit": u} for k, (v, u) in metrics.items()
                },
            }
        ),
        flush=True,
    )
    return 0


def _cached_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)


def _fail_checked_ops(passes, failures) -> int:
    """Ops that raised, plus every op of a name that failed its check."""
    return sum(not op["ok"] or op["name"] in failures for p in passes for op in p)

if __name__ == "__main__":
    sys.exit(main())
