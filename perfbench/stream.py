"""detect_stream: the paper's four-stage incident topology as three chained
streaming queries, replayed from equal-size tick files.

    producer ticks -> [detect] error-rate alerts + latency-p95 SLO breaches
                   -> [escalate] every-3rd escalator (applyInPandasWithState)
                   -> [metrics] windowed escalation metrics

Each stage reads the previous stage's output files with
``maxFilesPerTrigger=1`` and runs to completion before the next starts, as in
tests/test_topology.py.  The seed sets the starting tick.  Every tick file
holds whole one-minute windows, so each window is emitted exactly once.  A
final file holds one tick a day later; it advances the watermark past every
real window, as end of input does in a bounded replay, and its own window
never closes.

The final metrics are checked against the all-batch composition of the same
operators over the same ticks (the stream-equals-batch check of
tests/test_topology.py, at volume), and that batch result is checked against
an independent DuckDB rendering of the whole topology.
"""

from __future__ import annotations

import os
import random
import statistics
import time
from datetime import datetime

from perfbench import common
from perfbench.common import STREAM_PHASES, STREAM_STAGES

TICKS_PER_FILE = 36_000          # 600 one-minute windows of 4 services
WARM_FILES, WARM_TICKS = 1, TICKS_PER_FILE
#: Wall seconds of one tick file through all three stages on the reference
#: box; sets how many files ``--seconds`` buys (fixed work per --seconds).
NOMINAL_FILE_S = 3.0
MIN_SUPPORT = 5
THRESHOLD = 0.01
SLO_P95_MS = 100
WATERMARK = "5 seconds"
BASE_EPOCH = 1_700_000_000       # producer's epoch; tick t is second BASE+t
FLUSH_GAP = 86_400

HOP1 = "service string, event_id long, ts_s long, severity string"
HOP2 = ("service string, event_id long, ts_s long, severity string, "
        "escalation_reason string, alert_seq long")
METRIC_COLS = ("service", "window_start", "window_end", "total_events",
               "escalated", "multiple_incident_escalations",
               "avg_p95_latency", "escalation_ratio")


def start_tick(seed: int) -> int:
    """First tick of the replay: a minute boundary picked by the seed."""
    first_boundary = (60 - BASE_EPOCH % 60) % 60
    return first_boundary + 60 * random.Random(seed).randrange(1_000_000)


def stage_ticks(path: str, start: int, n_files: int, ticks: int) -> int:
    """Write n_files equal tick files plus the flush file; returns the
    number of tick rows written."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path)
    for i in range(n_files):
        lo = start + i * ticks
        pq.write_table(pa.table({"id": pa.array(range(lo, lo + ticks),
                                                pa.int64())}),
                       os.path.join(path, f"{i:05d}.parquet"))
    pq.write_table(pa.table({"id": pa.array(
        [start + n_files * ticks + FLUSH_GAP], pa.int64())}),
        os.path.join(path, f"{n_files:05d}.parquet"))
    return n_files * ticks + 1


# -- the topology, written once for batch and stream ----------------------

def producer_logs(ticks):
    """Producer stage -> the detectors' log shape (as tests/test_topology)."""
    from pyspark.sql import functions as F

    from realtime_log_analytics_flink_kafka_spark.sources import producer

    return producer.ticks_to_logs(ticks).select(
        F.timestamp_seconds("ts_s").alias("ts"), "service",
        (F.col("level") == "ERROR").cast("int").alias("is_error"),
        F.col("latency_ms").cast("double").alias("latency_ms"))


def alerts(logs):
    """Both detectors into one alert stream, projected to the escalator's
    input.  event_id is unique per (service, window, alert type)."""
    from pyspark.sql import functions as F

    from realtime_log_analytics_flink_kafka_spark.operators import detect

    rate = detect.error_rate_alerts(logs, size="1 minute", slide="1 minute",
                                    min_support=MIN_SUPPORT,
                                    threshold=THRESHOLD)
    slo = (detect.latency_p95(logs, size="1 minute")
           .filter(F.col("p95_latency") > SLO_P95_MS)
           .withColumn("type", F.lit("LATENCY_SLO_BREACH"))
           .withColumn("severity", F.lit("CRITICAL")))
    cols = ("service", "window_start", "type", "severity")
    both = rate.select(*cols).unionByName(slo.select(*cols))
    return both.select(
        "service",
        (F.col("window_start") * 2
         + (F.col("type") == "LATENCY_SLO_BREACH").cast("long")).alias("event_id"),
        F.col("window_start").alias("ts_s"), "severity")


def escalator_input(hop1):
    from pyspark.sql import functions as F
    return hop1.select("service", "event_id",
                       F.timestamp_seconds("ts_s").alias("ts"), "severity")


def metrics_input(esc):
    # the escalator carries no p95 (as in tests/test_topology.py)
    from pyspark.sql import functions as F
    return esc.select("service", "event_id", "ts", "severity",
                      "escalation_reason",
                      F.lit(None).cast("double").alias("p95_latency"))


def batch_topology(spark, ticks_dir: str, end_tick: int):
    from pyspark.sql import functions as F

    from realtime_log_analytics_flink_kafka_spark.operators import (
        escalate, metrics)

    ticks = spark.read.parquet(ticks_dir).filter(F.col("id") < end_tick)
    esc = escalate.escalate_every_nth(escalator_input(alerts(producer_logs(ticks))))
    return metrics.escalation_metrics(metrics_input(esc), size="1 minute")


def batch_pass(spark, ticks_dir: str, end_tick: int) -> tuple[set, float, float]:
    """Build and collect the batch topology: (rows, construct_s, action_s)."""
    t0 = time.perf_counter()
    df = batch_topology(spark, ticks_dir, end_tick)
    t1 = time.perf_counter()
    rows = {tuple(r) for r in df.select(*METRIC_COLS).collect()}
    return rows, t1 - t0, time.perf_counter() - t1


# -- streaming chain ------------------------------------------------------

def _hop_writer(path: str, schema: str, written: set):
    """foreachBatch sink standing in for a topic hop: one parquet file per
    non-empty micro-batch, named by batch id so replay order is kept."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    arrow_schema = to_arrow_schema(_parse_datatype_string(schema))
    os.makedirs(path, exist_ok=True)

    def write(batch_df, batch_id):
        pdf = batch_df.toPandas()
        if len(pdf):
            pq.write_table(pa.Table.from_pandas(pdf, schema=arrow_schema,
                                                preserve_index=False),
                           os.path.join(path, f"{batch_id:06d}.parquet"))
            written.add(batch_id)
    return write


def drain(query, expected_rows: int, timeout_s: float = 150.0) -> list[dict]:
    """Wait until the query has consumed ``expected_rows`` input rows and run
    one more trigger (the no-data batch that emits windows the last
    watermark closed), or has gone idle; then stop it and return its
    progress reports."""
    deadline = time.monotonic() + timeout_s
    idle = 0
    while True:
        if query.exception() is not None:
            raise query.exception()
        if time.monotonic() > deadline:
            query.stop()
            raise TimeoutError("streaming stage did not drain")
        prog = query.recentProgress
        if sum(p["numInputRows"] for p in prog) >= expected_rows:
            last_data = max(p["batchId"] for p in prog if p["numInputRows"])
            if any(p["batchId"] > last_data for p in prog):
                break
            st = query.status
            idle = idle + 1 if not (st["isTriggerActive"]
                                    or st["isDataAvailable"]) else 0
            if idle >= 10:
                break
        time.sleep(0.05)
    query.stop()
    return query.recentProgress


def _ts(p: dict) -> float:
    return datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()


def stage_view(prog: list[dict], output_batches: set) -> dict:
    """Restrict a stage's progress to its active span: from the first data
    trigger's start to the end of the last trigger that read input or wrote
    output.  Later no-data triggers (the escalator's timeout evaluations)
    and the drain's idle polls fall outside."""
    useful = [p for p in prog
              if p["numInputRows"] or p["batchId"] in output_batches]
    first = min(p["batchId"] for p in prog if p["numInputRows"])
    last = max(p["batchId"] for p in useful)
    span = [p for p in prog if first <= p["batchId"] <= last]
    start = _ts(span[0])
    end = max(_ts(p) + p["durationMs"]["triggerExecution"] / 1000 for p in span)
    return {"span": span, "data": [p for p in span if p["numInputRows"]],
            "wall_s": end - start, "all": prog}


def run_chain(spark, base: str, ticks_dir: str, n_ticks: int) -> tuple[dict, dict]:
    """The three streaming stages, one after another.  Returns the final
    metrics rows keyed by (service, window_start), and a view per stage."""
    from pyspark.sql import functions as F

    from realtime_log_analytics_flink_kafka_spark.operators import metrics
    from realtime_log_analytics_flink_kafka_spark.streaming import state

    def source(path, schema):
        return (spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1).parquet(path))

    def start(df, mode, sink, name):
        return (df.writeStream.outputMode(mode).foreachBatch(sink)
                .option("checkpointLocation", os.path.join(base, "ck", name))
                .start())

    views = {}
    hop1, hop2 = os.path.join(base, "hop1"), os.path.join(base, "hop2")

    out1: set = set()
    logs = producer_logs(source(ticks_dir, "id long")).withWatermark("ts", WATERMARK)
    q = start(alerts(logs), "append", _hop_writer(hop1, HOP1, out1), "detect")
    views["detect"] = stage_view(drain(q, n_ticks), out1)

    out2: set = set()
    esc = state.escalate_every_n_stateful(escalator_input(source(hop1, HOP1)))
    esc = esc.select("service", "event_id", F.col("ts").cast("long").alias("ts_s"),
                     "severity", "escalation_reason", "alert_seq")
    q = start(esc, "append", _hop_writer(hop2, HOP2, out2), "escalate")
    views["escalate"] = stage_view(drain(q, _rows(hop1)), out2)

    final: dict = {}
    out3: set = set()

    def collect(batch_df, batch_id):
        rows = batch_df.select(*METRIC_COLS).collect()
        for r in rows:  # update mode: the latest version of a window wins
            final[(r[0], r[1])] = tuple(r)
        if rows:
            out3.add(batch_id)

    h2 = source(hop2, HOP2).select(
        "service", "event_id", F.timestamp_seconds("ts_s").alias("ts"),
        "severity", "escalation_reason", "alert_seq")
    m = metrics.escalation_metrics(
        metrics_input(h2).withWatermark("ts", "2 minutes"), size="1 minute")
    q = start(m, "update", collect, "metrics")
    views["metrics"] = stage_view(drain(q, _rows(hop2)), out3)
    return final, views


def _rows(path: str) -> int:
    import pyarrow.parquet as pq
    return sum(pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
               for f in os.listdir(path) if f.endswith(".parquet"))


def stage_metrics(stage: str, v: dict) -> dict[str, float]:
    def ops(p):
        return p.get("stateOperators") or []
    data, span = v["data"], v["span"]
    out = {f"stream.{stage}.{ph}_p50_s":
           statistics.median(p["durationMs"].get(ph, 0) for p in data) / 1000
           for ph in STREAM_PHASES}
    out[f"stream.{stage}.state_rows"] = sum(o["numRowsTotal"] for o in ops(span[-1]))
    out[f"stream.{stage}.state_mem_mb"] = max(
        sum(o["memoryUsedBytes"] for o in ops(p)) for p in span) / 2**20
    out[f"stream.{stage}.state_commit_ms"] = statistics.median(
        sum(o["commitTimeMs"] for o in ops(p)) for p in data)
    out[f"stream.{stage}.nodata_batches_n"] = len(span) - len(data)
    out[f"stream.{stage}.data_trigger_frac"] = len(data) / len(span)
    out[f"stream.{stage}.rows_dropped_late"] = sum(
        o.get("numRowsDroppedByWatermark", 0) for p in v["all"] for o in ops(p))
    return out


# -- independent oracle -----------------------------------------------------

def oracle_rows(start: int, end: int) -> set:
    """The whole batch topology in DuckDB SQL over the same ticks."""
    import duckdb

    from realtime_log_analytics_flink_kafka_spark.functions.detmath import (
        exact_round_div_sql)
    from realtime_log_analytics_flink_kafka_spark.functions.hashing import (
        md5_long_sql)
    from realtime_log_analytics_flink_kafka_spark.functions.percentile import (
        percentile_disc_sql)
    from realtime_log_analytics_flink_kafka_spark.sources.producer import (
        BASE_LATENCY, ERROR_BP, SERVICES, SPIKE_ERROR_X, SPIKE_LATENCY_X)

    def arr(xs):
        return "[" + ", ".join(repr(x) for x in xs) + "]"

    svc = "CAST(v % 4 AS INT) + 1"
    spike = f"(({BASE_EPOCH} + v) % 60 < 5)"
    sql = f"""
WITH t AS (SELECT range AS v FROM range({start}, {end})),
logs AS (
  SELECT {arr(SERVICES)}[{svc}] AS service,
         {BASE_EPOCH} + v - ({BASE_EPOCH} + v) % 60 AS w,
         CASE WHEN {md5_long_sql("CAST(v AS VARCHAR) || ':lvl'")} % 10000
                   < (CASE WHEN {spike} THEN {SPIKE_ERROR_X} ELSE 1 END)
                     * {arr(ERROR_BP)}[{svc}] THEN 1 ELSE 0 END AS is_error,
         CAST(greatest(10, (CASE WHEN {spike} THEN {SPIKE_LATENCY_X} ELSE 1 END)
                 * {arr(BASE_LATENCY)}[{svc}]
                 + {md5_long_sql("CAST(v AS VARCHAR) || ':lat'")} % 61 - 30)
              AS DOUBLE) AS latency_ms
  FROM t),
win AS (
  SELECT service, w, count(*) AS total_logs, sum(is_error) AS error_logs,
         {percentile_disc_sql("latency_ms", 0.95)} AS p95
  FROM logs GROUP BY service, w),
alerts AS (
  SELECT service, w, w * 2 AS event_id, 'HIGH' AS severity FROM win
  WHERE total_logs >= {MIN_SUPPORT}
    AND coalesce({exact_round_div_sql("error_logs", "total_logs", 4)}, 0.0)
        >= {THRESHOLD}
  UNION ALL
  SELECT service, w, w * 2 + 1, 'CRITICAL' FROM win WHERE p95 > {SLO_P95_MS}),
esc AS (
  SELECT service, w,
         row_number() OVER (PARTITION BY service ORDER BY w, event_id) % 3 = 0
           AS escalated
  FROM alerts),
agg AS (
  SELECT service, w, count(*) AS total_events,
         count(*) FILTER (WHERE escalated) AS escalated
  FROM esc GROUP BY service, w)
SELECT service, w, w + 60, total_events, escalated, escalated,
       CAST(NULL AS DOUBLE),
       coalesce({exact_round_div_sql("escalated", "total_events", 4)}, 0.0)
FROM agg"""
    con = duckdb.connect()
    try:
        return {tuple(r) for r in con.execute(sql).fetchall()}
    finally:
        con.close()


# -- workload ---------------------------------------------------------------

def _sink(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def operator_sinks(spark, run_dir: str, ticks_dir: str, end_tick: int) -> dict:
    """Each stage sunk on its own over the replay's ticks: producer, both
    detectors over producer logs, the escalator over materialized alerts,
    the metrics over materialized escalations."""
    from pyspark.sql import functions as F

    from realtime_log_analytics_flink_kafka_spark.operators import (
        detect, escalate, metrics)
    from realtime_log_analytics_flink_kafka_spark.sources import producer

    ticks = spark.read.parquet(ticks_dir).filter(F.col("id") < end_tick)
    logs = producer_logs(ticks)
    alerts_dir = os.path.join(run_dir, "op_alerts")
    esc_dir = os.path.join(run_dir, "op_esc")
    escalator_input(alerts(logs)).write.parquet(alerts_dir)
    escalate.escalate_every_nth(spark.read.parquet(alerts_dir)) \
        .write.parquet(esc_dir)
    return {
        "sources.producer_s": _sink(producer.ticks_to_logs(ticks)),
        "operators.error_rate_alerts_s": _sink(detect.error_rate_alerts(
            logs, size="1 minute", slide="1 minute", min_support=MIN_SUPPORT,
            threshold=THRESHOLD)),
        "operators.latency_p95_s": _sink(detect.latency_p95(logs, size="1 minute")),
        "operators.escalate_every_nth_s": _sink(escalate.escalate_every_nth(
            spark.read.parquet(alerts_dir))),
        "operators.escalation_metrics_s": _sink(metrics.escalation_metrics(
            metrics_input(spark.read.parquet(esc_dir)), size="1 minute")),
    }


def single_core(args, run_dir) -> float:
    """Second of two batch-topology passes on local[1] (the first warms the
    JVM), over the same ticks as the replay."""
    n_files = max(1, round(args.seconds / NOMINAL_FILE_S))
    start = start_tick(args.seed)
    ticks_dir = os.path.join(run_dir, "ticks")
    stage_ticks(ticks_dir, start, n_files, TICKS_PER_FILE)
    spark, _ = common.start_spark()
    try:
        end = start + n_files * TICKS_PER_FILE
        batch_pass(spark, ticks_dir, end)
        _, c, a = batch_pass(spark, ticks_dir, end)
        return c + a
    finally:
        common.stop_spark(spark)


def run(args, run_dir) -> dict:
    from perfbench.tracing import Tracer, event_log_totals

    layer = common.per_layer_template()
    n_files = max(1, round(args.seconds / NOMINAL_FILE_S))
    start = start_tick(args.seed)
    end = start + n_files * TICKS_PER_FILE
    ticks_dir = os.path.join(run_dir, "ticks")
    warm_dir = os.path.join(run_dir, "warm_ticks")

    t0 = time.perf_counter()
    n_rows = stage_ticks(ticks_dir, start, n_files, TICKS_PER_FILE)
    warm_rows = stage_ticks(warm_dir, start - WARM_FILES * WARM_TICKS,
                            WARM_FILES, WARM_TICKS)
    layer["sources.stage_s"] = (time.perf_counter() - t0, "s")

    spark, start_s = common.start_spark()
    layer["session.start_s"] = (start_s, "s")

    # untimed warm-up replay through all three stages
    run_chain(spark, os.path.join(run_dir, "chain-warm"), warm_dir, warm_rows)
    t_setup = time.perf_counter()
    meter = common.Meter(spark)

    final, views = run_chain(spark, os.path.join(run_dir, "chain"),
                             ticks_dir, n_rows)
    wall_s = sum(v["wall_s"] for v in views.values())
    timed_load = meter.read()
    triggers = [p["durationMs"]["triggerExecution"] / 1000
                for v in views.values() for p in v["data"]]
    layer["ops.p50_s"] = (statistics.median(triggers), "s")

    # correctness: stream == batch on the same ticks, batch == DuckDB
    want, c, a = batch_pass(spark, ticks_dir, end)
    failed = 0
    if set(final.values()) != want:
        failed += len(views["metrics"]["data"])
    oracle_ok = oracle_rows(start, end) == want
    failed += not oracle_ok
    attempted = len(triggers) + 1
    escalated = sum(r[4] for r in want)

    tracer = None
    if args.trace:
        tracer = Tracer()
        tracer.install()
        try:
            final_t, views_t = run_chain(
                spark, os.path.join(run_dir, "chain-traced"), ticks_dir, n_rows)
            w0 = common.epoch_ms()
            rows_t, c_t, a_t = batch_pass(spark, ticks_dir, end)
            w1 = common.epoch_ms()
            sinks = operator_sinks(spark, run_dir, ticks_dir, end)
        finally:
            tracer.uninstall()
        failed += (set(final_t.values()) != want) + (rows_t != want)
        attempted += 2
        pass4 = c_t + a_t

    peak = common.peak_rss_mb(spark)
    live = common.live_heap_mb(spark)
    prov = common.provenance(spark, args, {
        "ticks": n_rows - 1, "tick_files": n_files,
        "ticks_per_file": TICKS_PER_FILE, "start_tick": start,
        "metric_rows": len(want), "escalated": escalated})
    common.stop_spark(spark)

    summary = {"stage_wall_s": {k: round(v["wall_s"], 3) for k, v in views.items()},
               "data_triggers": len(triggers),
               "op_p50_s": round(layer["ops.p50_s"][0], 3),
               "detect_batch_pass_s": round(c + a, 3),
               "stream_equals_batch": set(final.values()) == want,
               "batch_equals_duckdb": oracle_ok,
               "timed_section": timed_load,
               "failed_frac (ratio)": failed / attempted}
    if tracer:
        layer["engine.peak_rss_mb"] = (peak, "MB")
        for st in STREAM_STAGES:
            layer.update({k: (x, layer[k][1])
                          for k, x in stage_metrics(st, views_t[st]).items()})
        layer["detect_batch.wall_s"] = (pass4, "s")
        layer["queries.construct_s"] = (c_t, "s")
        layer["queries.action_s"] = (a_t, "s")
        for k, v in event_log_totals(common.event_log_files(
                os.path.join(run_dir, "eventlog")), w0, w1).items():
            layer[f"queries.{k}"] = (v, layer[f"queries.{k}"][1])
        for k, v in {**sinks, **common.scale_metrics(tracer)}.items():
            layer[k] = (v, layer[k][1])
        traced_s = sum(v["wall_s"] for v in views_t.values())
        layer["trace.wall_untraced_s"] = (wall_s, "s")
        layer["trace.wall_traced_s"] = (traced_s, "s")
        layer["trace.overhead_s"] = (traced_s - wall_s, "s")
        pass1 = common.single_core_pass(args)
        layer["engine.pass_4core_s"] = (pass4, "s")
        layer["engine.pass_1core_s"] = (pass1, "s")
        layer["engine.speedup_vs_1core"] = (pass1 / pass4, "ratio")
        tracer.dump(os.path.join(common.WORK,
                                 f"trace-detect_stream-{args.seed}.json"),
                    {"provenance": prov})

    return {
        "provenance": prov, "summary": summary,
        "attempted": attempted, "failed": failed,
        "end_to_end": {
            "setup_s": (t_setup - args.t_process, "s"),
            "wall_s": (wall_s, "s"),
            "events_per_s": ((n_rows - 1) / wall_s, "1/s"),
            "live_heap_mb": (live, "MB"),
        },
        "per_layer": layer,
    }
