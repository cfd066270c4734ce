"""Helpers shared by the benchmark's workloads: process environment, Spark
start-up, CPU and memory readings, the per-layer metric names and the
single-core child."""

from __future__ import annotations

import json
import os
import platform
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
PACKAGE = "realtime_log_analytics_flink_kafka_spark"
CORES = 4


def configure_env(run_dir: str, cores: int, event_log: str | None) -> None:
    """Process environment for the Spark driver this process launches.
    Everything is set before the JVM starts: ``get_spark`` uses
    ``getOrCreate``, so configs must reach spark-submit, never a pre-built
    session.  All scratch goes under ``run_dir``."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    submit = [f"--conf spark.sql.warehouse.dir={run_dir}/warehouse",
              "--conf spark.sql.streaming.numRecentProgressUpdates=100000"]
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        submit += ["--conf spark.eventLog.enabled=true",
                   "--conf spark.eventLog.compress=false",
                   f"--conf spark.eventLog.dir={event_log}"]
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": "4g",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": tmp,
        # no hsperfdata: HotSpot writes it under /tmp whatever the tmpdir
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": " ".join(submit + ["pyspark-shell"]),
    })


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def start_spark():
    from realtime_log_analytics_flink_kafka_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session, then close the gateway's stdin and wait for the
    driver JVM to exit (it exits on stdin EOF)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def provenance(spark, args, sizes: dict) -> dict:
    sc = spark.sparkContext
    return {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)), "master": sc.master,
        "spark": spark.version,
        "java": sc._jvm.System.getProperty("java.version"),
        "python": platform.python_version(), "inputs": sizes,
    }


def single_core_pass(args, timeout: float = 170) -> float:
    """Run the workload's baseline pass on local[1] in a child process and
    return its seconds.  The child is waited for; on timeout it is killed
    and waited for again."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--single-core"]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                            stderr=subprocess.DEVNULL, text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        raise
    if proc.returncode != 0:
        raise RuntimeError(f"single-core pass exited {proc.returncode}")
    return json.loads(out.strip().splitlines()[-1])["pass_s"]


def peak_rss_mb(spark) -> float:
    """VmHWM of this process plus the driver JVM."""
    jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    return vm_hwm_mb("self") + vm_hwm_mb(jvm_pid)


def live_heap_mb(spark) -> float:
    """Driver JVM heap in use once collection stops freeing memory: what
    the session still holds (cached and checkpointed blocks, state-store
    versions).  Each round runs Python's collector, so py4j releases the
    JVM objects of dead DataFrames, then a JVM full collection; Spark's
    ContextCleaner drops the blocks of RDDs a collection found dead, which
    the next round frees.  Stops when a round frees under 1 %."""
    import gc

    rt = spark.sparkContext._jvm.Runtime.getRuntime()
    system = spark.sparkContext._jvm.System
    used = float("inf")
    for _ in range(10):
        gc.collect()
        system.gc()
        now = (rt.totalMemory() - rt.freeMemory()) / 2**20
        if now > 0.99 * used:
            return min(now, used)
        used = now
        time.sleep(0.3)
    return used


DEDUP_QUERIES = ("dup_modularity", "dedup_detector_ari", "dup_graph_triangles",
                 "semantic_dup_clusters", "dup_kcore", "dup_clusters",
                 "leakage_safe_split")
STREAM_STAGES = ("detect", "escalate", "metrics")
STREAM_PHASES = ("addBatch", "queryPlanning", "walCommit", "latestOffset",
                 "getBatch")


def per_layer_template() -> dict[str, tuple[float, str]]:
    """Every per-layer metric with its unit, valued 0.  Both workloads emit
    the same names; a layer a workload does not exercise stays 0."""
    names = [("ops.p50_s", "s"),
             ("session.start_s", "s"), ("sources.stage_s", "s"),
             ("sources.producer_s", "s"), ("sources.load_table_s", "s"),
             ("queries.construct_s", "s"), ("queries.action_s", "s")]
    for q in DEDUP_QUERIES:
        names += [(f"queries.construct_s.{q}", "s"),
                  (f"queries.action_s.{q}", "s")]
    names += [("queries.jobs_n", "count"), ("queries.stages_n", "count"),
              ("queries.tasks_n", "count"), ("queries.shuffle_write_mb", "MB"),
              ("queries.spill_mb", "MB"),
              ("scale.checkpoint_n", "count"), ("scale.checkpoint_s", "s"),
              ("scale.persist_n", "count"), ("scale.fan_out_n", "count"),
              ("scale.fan_out_widened_n", "count"),
              ("scale.fan_out_useful_frac", "ratio"), ("scale.fan_out_s", "s"),
              ("scale.par_build_n", "count"), ("scale.par_build_s", "s"),
              ("operators.error_rate_alerts_s", "s"),
              ("operators.latency_p95_s", "s"),
              ("operators.escalate_every_nth_s", "s"),
              ("operators.escalation_metrics_s", "s")]
    for st in STREAM_STAGES:
        names += [(f"stream.{st}.{ph}_p50_s", "s") for ph in STREAM_PHASES]
        names += [(f"stream.{st}.state_rows", "count"),
                  (f"stream.{st}.state_mem_mb", "MB"),
                  (f"stream.{st}.state_commit_ms", "ms"),
                  (f"stream.{st}.nodata_batches_n", "count"),
                  (f"stream.{st}.data_trigger_frac", "ratio"),
                  (f"stream.{st}.rows_dropped_late", "count")]
    names += [("detect_batch.wall_s", "s"),
              ("engine.peak_rss_mb", "MB"), ("engine.pass_4core_s", "s"),
              ("engine.pass_1core_s", "s"),
              ("engine.speedup_vs_1core", "ratio"),
              ("trace.wall_untraced_s", "s"), ("trace.wall_traced_s", "s"),
              ("trace.overhead_s", "s")]
    return {n: (0.0, u) for n, u in names}


def scale_metrics(tracer) -> dict[str, float]:
    return {
        "scale.checkpoint_n": tracer.n("scale.checkpoint"),
        "scale.checkpoint_s": tracer.total("scale.checkpoint"),
        "scale.persist_n": tracer.n("scale.persist"),
        "scale.fan_out_n": tracer.n("scale.fan_out"),
        "scale.fan_out_widened_n": tracer.counts["scale.fan_out_widened"],
        "scale.fan_out_useful_frac": (tracer.counts["scale.fan_out_widened"]
                                      / max(1, tracer.n("scale.fan_out"))),
        "scale.fan_out_s": tracer.total("scale.fan_out"),
        "scale.par_build_n": tracer.n("scale.par_build"),
        "scale.par_build_s": tracer.total("scale.par_build"),
    }


def event_log_files(event_dir: str) -> list[str]:
    """The run's event log files in order.  Spark 4 rolls the log into a
    directory ``eventlog_v2_<app>/events_<n>_<app>[.zstd]``."""
    apps = [os.path.join(event_dir, f) for f in os.listdir(event_dir)
            if not f.startswith(".")]
    if len(apps) != 1:
        raise RuntimeError(f"expected one event log in {event_dir}: {apps}")
    if not os.path.isdir(apps[0]):
        return apps
    parts = [f for f in os.listdir(apps[0]) if f.startswith("events_")]
    parts.sort(key=lambda f: int(f.split("_")[1]))
    return [os.path.join(apps[0], f) for f in parts]


def epoch_ms() -> float:
    return time.time() * 1000.0


def cpu_seconds(pids) -> float:
    """utime + stime of the given processes (``"self"`` allowed)."""
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        total += int(fields[11]) + int(fields[12])
    return total / os.sysconf("SC_CLK_TCK")


def host_steal() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals)


class Meter:
    """CPU seconds of this process plus the driver JVM, and the share of
    machine time stolen by the hypervisor, over a section.  Printed with
    the summary so a slow run can be told apart from a slow program."""

    def __init__(self, spark):
        self.pids = ["self",
                     spark.sparkContext._jvm.ProcessHandle.current().pid()]
        self.cpu0 = cpu_seconds(self.pids)
        self.steal0 = host_steal()

    def read(self) -> dict:
        steal, total = host_steal()
        return {"cpu_s": round(cpu_seconds(self.pids) - self.cpu0, 3),
                "steal_frac": round((steal - self.steal0[0])
                                    / max(1, total - self.steal0[1]), 4)}
