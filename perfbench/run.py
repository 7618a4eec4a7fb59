"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload of the engine in a closed loop with one client on
``local[nproc]``, checks every operation's output, and prints one line per
metric, then a final JSON line::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json. ``--trace 1``
first repeats the untraced loop, then runs the same loop again with spans
around each layer call, and reports the per-layer metrics and the tracing
overhead; spans are written to ``.perfbench_out/``. Workloads are described
in ``perfbench/WORKLOADS.md``.

Exit status: 0 when every output check passed, 1 when one failed, 2 when
the engine package is not present.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("ingest", "analytics")
DRIVER_MEM = "2g"


def _units(kind: str) -> dict[str, str]:
    """Metric name -> unit of ``end_to_end`` or ``per_layer`` in BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


class Ctx:
    def __init__(self, spark, work: str, seed: int, tracer, rec) -> None:
        self.spark, self.work, self.seed, self.tracer, self.rec = spark, work, seed, tracer, rec


def _workload(name: str, ctx: Ctx):
    if name == "analytics":
        from analytics import Analytics

        return Analytics(ctx)
    from ingest import Ingest

    return Ingest(ctx)


def _memory_mb(spark) -> float:
    """JVM heap still live after a full collection, plus JVM non-heap in use
    (metaspace, code cache), plus the peak RSS of this Python client, in MB.
    The JVM's own RSS is left out: it follows when the collector chose to
    grow the heap, not what the engine keeps."""
    from harness import vm_hwm_kb

    mem = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    # Python-side garbage still pins JVM objects through py4j, and Spark's
    # ContextCleaner frees broadcast and shuffle blocks only after a JVM
    # collection has found their handles dead: collect both, then give the
    # cleaner a moment and collect what it released, until a round frees
    # less than 1 MB (at most ten rounds).
    gc.collect()
    mem.gc()
    heap = mem.getHeapMemoryUsage().getUsed()
    for _ in range(10):
        time.sleep(0.5)
        mem.gc()
        heap, before = mem.getHeapMemoryUsage().getUsed(), heap
        if before - heap < 2**20:
            break
    non_heap = mem.getNonHeapMemoryUsage().getUsed()
    py = vm_hwm_kb() * 1024
    print(f"memory: JVM live heap {heap / 2**20:.1f} MB, JVM non-heap {non_heap / 2**20:.1f} MB, "
          f"Python peak RSS {py / 2**20:.1f} MB")
    return (heap + non_heap + py) / 2**20


def _stop_jvm() -> None:
    """Close the py4j gateway and wait for the JVM it launched to exit
    (``SparkSession.stop`` leaves the JVM running until Python exits)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "data_ingestion_pipeline_spark")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cpus = len(os.sched_getaffinity(0))
    # keep every JVM's temp files and perf-data file out of /tmp
    jvm_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.update(
        TZ="UTC",
        TMPDIR=tmp,
        SPARK_LAUNCHER_OPTS=jvm_opts,
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_GRAFT_WAREHOUSE=os.path.join(work, "spark-warehouse"),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        PYSPARK_PYTHON=sys.executable,
    )
    time.tzset()
    # on SIGTERM, unwind through the finally blocks: stop the JVM, delete work
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return _run(args, work, jvm_opts, cpus)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str, jvm_opts: str, cpus: int) -> int:
    from harness import Recorder, Tracer, percentile, process_age_s

    from data_ingestion_pipeline_spark.session import get_spark

    tracer = Tracer(enabled=False)
    rec = Recorder()
    t0 = time.perf_counter()
    spark = get_spark(
        f"perfbench-{args.workload}",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": jvm_opts,
        },
    )
    try:
        session_s = time.perf_counter() - t0
        wl = _workload(args.workload, Ctx(spark, work, args.seed, tracer, rec))
        wl.setup()
        t1 = time.perf_counter()
        inputs_s = t1 - t0 - session_s
        wl.warmup()
        warmup_s = time.perf_counter() - t1
        setup_s = process_age_s()
        t2 = time.perf_counter()

        lat_plain = wl.run(args.seconds, traced=False)
        e2e = {"setup_s": setup_s, **wl.metrics()}
        plain_ops = [o for o in rec.ops if o.kind == "primary"]
        if args.trace:
            tracer.enabled = True
            lat_traced = wl.run(args.seconds, traced=True)
        t3 = time.perf_counter()
        wl.finish()
        finish_s = time.perf_counter() - t3
        e2e["memory_mb"] = _memory_mb(spark)
        layers = wl.layer_metrics() if args.trace else {}
        spark.catalog.clearCache()
        for q in spark.streams.active:
            q.stop()
        # the StateStore maintenance thread otherwise logs past the last line
        spark._jvm.org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    finally:
        spark.stop()
        _stop_jvm()

    print(f"phases: session {session_s:.2f} s, inputs {inputs_s:.2f} s, warmup {warmup_s:.2f} s, "
          f"measured {t3 - t2:.2f} s, final checks {finish_s:.2f} s, to exit {time.perf_counter() - t3:.2f} s")
    print(f"workload {args.workload} seed {args.seed} cpus {cpus} "
          f"attempted {rec.attempted} failed {rec.failed}; untraced loop:")
    for name, unit in _units("end_to_end").items():
        print(f"  {name:<22} {e2e[name]:>14.6f} {unit:<7} n_ops={len(plain_ops)}")
    print(f"  {'failed_frac':<22} {rec.failed / rec.attempted:>14.6f} {'ratio':<7}")
    print("  primary op seconds, in order: " + " ".join(f"{o.name}={o.seconds:.3f}" for o in plain_ops))
    for err in rec.errors[:20]:
        print(f"  FAILED {err}")

    if args.trace:
        plain, traced = percentile(lat_plain, 50), percentile(lat_traced, 50)
        layers.update({
            "session.start_s": session_s,
            "session.warmup_s": warmup_s,
            "trace.overhead_s": traced - plain,
        })
        units = _units("per_layer")
        metrics = {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in units.items()}
        print(f"tracing overhead: traced op p50 {traced:.4f} s - untraced op p50 "
              f"{plain:.4f} s = {traced - plain:.4f} s")
        print("\n".join(tracer.table()))
        for k in units:
            if k in layers:
                print(f"  {k:<52} {layers[k]:>14.6f} {units[k]}")
        tracer.dump(os.path.join(ROOT, ".perfbench_out", f"spans-{args.workload}-{args.seed}.json"))
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in _units("end_to_end").items()}

    correct = rec.failed == 0
    print(json.dumps({"correct": correct, "attempted": rec.attempted, "failed": rec.failed,
                      "metrics": metrics}), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
