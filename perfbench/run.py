"""Benchmark entry point.

    python3 perfbench/run.py --workload org_extract --seed 1 --seconds 8 \
        --trace 0

Generates the workload's inputs from ``--seed`` under ``.perfbench_work/``
in the checkout, starts the session sized to the host, warms up, runs the
workload's closed loop for ``--seconds``, checks the outputs and prints,
as the last line of standard output, one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics; with
``--trace 1`` they are the per-layer metrics, taken from spans recorded
around the package's public calls in every operation; the spans are
written to ``.perfbench_work/<workload>-<seed>-spans.jsonl``. See
README.md.
"""

from __future__ import annotations

import argparse
import itertools
import json
import math
import os
import platform
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {"setup_s": "s", "peak_rss_mb": "MB", "op_p50_s": "s",
              "throughput_per_s": "1/s"}
COMMON_LAYER_UNITS = {
    "session.get_spark_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_run_s": "s", "spark.shuffle_write_bytes": "B",
    "spark.input_bytes": "B", "spark.executor_busy_ratio": "ratio",
    "trace.uncovered_share": "ratio", "trace.overhead_ratio": "ratio",
}


def layer_units(workload_cls) -> dict[str, str]:
    """The per-layer metrics a run prints: the common ones, those of every
    listed workload, and the run's own."""
    from workloads import LISTED, WORKLOADS
    units = dict(COMMON_LAYER_UNITS)
    for name in LISTED:
        units.update(WORKLOADS[name].LAYER_UNITS)
    units.update(workload_cls.LAYER_UNITS)
    return units


def host_sizing() -> tuple[int, str]:
    """CPU count, and a driver heap of a quarter of MemTotal, at most
    1 GiB."""
    cpus = len(os.sched_getaffinity(0))
    heap_mb = max(512, min(1024, _meminfo_kb("MemTotal") // 4096))
    return cpus, f"{heap_mb}m"


def _meminfo_kb(key: str) -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    raise KeyError(key)


def _cpu_ticks() -> list[int]:
    """The host's CPU time counters (user, nice, system, idle, iowait,
    irq, softirq, steal), in ticks since boot."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def _hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


class Record:
    __slots__ = ("start", "end", "ok", "latencies")

    def __init__(self, start, end, ok, latencies):
        self.start, self.end, self.ok = start, end, ok
        self.latencies = latencies


def closed_loop(wl, tracer, seconds: float, trace: bool) -> list[Record]:
    """`wl.clients` clients, each issuing its next operation when the
    previous one returns, until `seconds` have passed and `wl.min_ops`
    operations started, or `wl.max_ops` operations started."""
    from workloads import log_failure
    counter = itertools.count()
    records: list[Record] = []
    deadline = time.perf_counter() + seconds

    def client():
        while True:
            i = next(counter)
            if (i >= wl.min_ops and time.perf_counter() >= deadline
                    or wl.max_ops is not None and i >= wl.max_ops):
                return
            start = time.perf_counter()
            ok, out = True, None
            try:
                with tracer.operation(f"op-{i}", trace):
                    out = wl.op(i)
            except Exception:  # noqa: BLE001 - counted as a failed op
                log_failure(f"operation {i}")
                ok = False
            end = time.perf_counter()
            records.append(Record(start, end, ok, out or [end - start]))

    threads = [threading.Thread(target=client) for _ in range(wl.clients)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    return records


def window_s(records) -> float:
    """Wall time from the first operation's start to the last one's end."""
    return max(r.end for r in records) - min(r.start for r in records)


def end_to_end(wl, records, setup_s: float, rss_mb: float) -> dict:
    """The end-to-end figures; latency and throughput are NaN when no
    operation succeeded, so a broken run cannot read as a gain."""
    ok = [r for r in records if r.ok]
    lat = [x for r in ok for x in r.latencies]
    m = {"setup_s": setup_s, "peak_rss_mb": rss_mb, "samples": len(lat),
         "op_p50_s": math.nan, "op_p75_s": math.nan,
         "throughput_per_s": math.nan}
    if lat:
        m["op_p50_s"] = statistics.median(lat)
        m["op_p75_s"] = (statistics.quantiles(lat, n=4, method="inclusive")[2]
                         if len(lat) > 1 else lat[0])
        m["throughput_per_s"] = wl.work_per_op() * len(ok) / window_s(records)
    return m


def per_layer(wl, tracer, records, cpus: int, get_spark_s: float) -> dict:
    n = len(records)
    m = {k: 0.0 for k in layer_units(type(wl))}
    m["session.get_spark_s"] = get_spark_s
    for name, total in tracer.durations().items():
        if name + "_s" in m:
            m[name + "_s"] = total / n
    for layer, total in tracer.self_times().items():
        if f"layer.{layer}.self_s" in m:
            m[f"layer.{layer}.self_s"] = total / n
    m.update(wl.layer_metrics(n))
    c = tracer.counters
    for key in ("jobs", "stages", "tasks", "task_run_s",
                "shuffle_write_bytes", "input_bytes"):
        m[f"spark.{key}"] = c.get(key, 0) / n
    m["spark.executor_busy_ratio"] = (c.get("task_run_s", 0)
                                      / (window_s(records) * cpus))
    m["trace.uncovered_share"] = tracer.uncovered_share()
    # the counters are read once per operation, on the operation's thread
    m["trace.overhead_ratio"] = (tracer.overhead_s
                                 / sum(r.end - r.start for r in records))
    return m


def provenance(spark, cpus: int, heap: str, ticks0: list[int]) -> dict:
    """The host and versions, with the share of CPU time the hypervisor
    took from this machine (steal) since `ticks0` was read: runs on a
    host whose neighbours are busy read slower."""
    import duckdb
    import pyspark
    with open("/proc/loadavg") as f:
        load = f.read().split()[:3]
    delta = [b - a for a, b in zip(ticks0, _cpu_ticks())]
    return {"nproc": cpus, "mem_total_kb": _meminfo_kb("MemTotal"),
            "loadavg": load, "steal_share": round(delta[7] / sum(delta), 4),
            "driver_heap": heap,
            "python": platform.python_version(),
            "pyspark": pyspark.__version__, "duckdb": duckdb.__version__,
            "java": spark._jvm.System.getProperty("java.version")}


def stop_session(spark) -> None:
    """Stop the session and wait for the JVM (and the Python workers it
    owns) to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def measure(args, work: str) -> dict:
    cpus, heap = host_sizing()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus), "SPARK_GRAFT_DRIVER_MEM": heap,
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"), "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYTHONWARNINGS": "ignore::FutureWarning",
    })
    # imported after the environment is set: session.py reads it
    from g1_etl_spark.session import get_spark
    from pyspark import SparkContext

    from tracing import Tracer, instrument
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload](work, args.seed)
    ticks0 = _cpu_ticks()
    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench_{args.workload}", cpus=cpus,
                      extra_conf={"spark.ui.showConsoleProgress": "false",
                                  "spark.driver.extraJavaOptions":
                                      f"-Djava.io.tmpdir={tmp}"})
    try:
        get_spark_s = time.perf_counter() - t0
        tracer = Tracer(spark.sparkContext)
        wl.bind(spark, tracer)
        wl.warm_up()
        setup_s = time.perf_counter() - t0
        if args.trace:
            import g1_etl_spark.plans  # noqa: F401 - bind every load_table
            instrument(tracer)
        records = closed_loop(wl, tracer, args.seconds, bool(args.trace))
        wl.check()
        rss_mb = _hwm_mb("self") + _hwm_mb(SparkContext._gateway.proc.pid)
        print("provenance " + json.dumps(provenance(spark, cpus, heap,
                                                        ticks0)))
        if args.trace:
            metrics = per_layer(wl, tracer, records, cpus, get_spark_s)
            units = layer_units(type(wl))
            tracer.write(os.path.join(ROOT, ".perfbench_work",
                                      f"{args.workload}-{args.seed}"
                                      "-spans.jsonl"))
        else:
            metrics = end_to_end(wl, records, setup_s, rss_mb)
            units = END_TO_END
    finally:
        stop_session(spark)
    attempted = len(records) + wl.attempted
    failed = sum(not r.ok for r in records) + wl.failed
    if not args.trace:
        for alias, key, unit in wl.ALIASES:
            print(f"{args.workload} {alias} = {metrics[key]:.6g} {unit}")
        print(f"{args.workload} latency samples = {metrics['samples']}")
    print(f"{args.workload} fail_ratio = {failed / attempted:.6g} "
          f"({failed}/{attempted}); operations = {len(records)}")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": u}
                        for k, u in units.items()}}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("org_extract", "analytics_mix", "bulk_export",
                             "stream_ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, HERE]
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        result = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's directory is still there
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
