"""dedup_batch: the seven barrier-heavy dedup registry queries, one at a time,
each built and then sunk through an order-insensitive hash over all of its
output columns.  The seed permutes the query order; the input tables are the
same for every seed, so each query's hash is checked against
perfbench/expected.json."""

from __future__ import annotations

import contextlib
import json
import os
import random
import statistics
import time

from perfbench import common
from perfbench.common import DEDUP_QUERIES

#: Input shape of the registry's ``documents`` / ``embeddings`` fixtures:
#: 30-word vocabulary, 10-100 words a document, about 5 % exact copies of
#: an earlier document with " dup" appended, random unit 64-d embeddings.
#: Sized so one warm pass of the seven queries takes about 20 s on 4 cores.
N_DOCS = 1000
N_EMBEDDINGS = 400
DATA_SEED = 42
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()
LANGS = ("en",) * 8 + ("zh", "es", "fr", "de") * 3
#: Wall seconds of one warm pass on the reference box; sets how many passes
#: ``--seconds`` buys.  A constant, so the work is fixed for a given
#: ``--seconds`` and a faster program finishes it sooner.
NOMINAL_PASS_S = 20.0
EXPECTED = os.path.join(common.HERE, "expected.json")
#: Queries in the single-core baseline: the first of the seed's order, so
#: the traced run stays well inside its time limit.
BASELINE_QUERIES = 3


def make_inputs(data_dir: str) -> dict:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(data_dir, exist_ok=True)
    rng = random.Random(DATA_SEED)
    texts: list[str] = []
    for i in range(N_DOCS):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[rng.randrange(i)] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB)
                                  for _ in range(rng.randint(10, 100))))
    pq.write_table(pa.table({
        "doc_id": pa.array(range(N_DOCS), pa.int64()),
        "text": texts,
        "lang": [rng.choice(LANGS) for _ in range(N_DOCS)],
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(data_dir, "documents.parquet"))
    state = np.random.RandomState(DATA_SEED)
    emb = state.standard_normal((N_EMBEDDINGS, 64))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    pq.write_table(pa.table({
        "vec_id": pa.array(range(N_EMBEDDINGS), pa.int64()),
        "embedding": pa.array(emb.astype(np.float32).tolist(),
                              pa.list_(pa.float32())),
        "label": pa.array(state.randint(0, 10, N_EMBEDDINGS), pa.int32()),
    }), os.path.join(data_dir, "embeddings.parquet"))
    return {"documents": N_DOCS, "embeddings": N_EMBEDDINGS}


def result_hash(df) -> list[int]:
    """Sink ``df`` through one aggregate that reads every output column:
    (row count, xor of row hashes, sum of the low 32 bits of row hashes).
    Order-insensitive; the sum keeps duplicate rows from cancelling."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    cols = [F.to_json(F.col(f"`{f.name}`")) if isinstance(f.dataType, T.MapType)
            else F.col(f"`{f.name}`") for f in df.schema.fields]
    h = F.xxhash64(*cols)
    row = df.agg(F.count(F.lit(1)), F.bit_xor(h),
                 F.sum(h.bitwiseAND(F.lit(0xFFFFFFFF)))).collect()[0]
    return [int(row[0]), int(row[1] or 0), int(row[2] or 0)]


def run_pass(spark, registry, order, data_dir, tracer=None) -> list[dict]:
    """One pass: each query built (construction, which runs its eager
    barriers) and then sunk.  Returns one record per query."""
    sc = spark.sparkContext
    span = tracer.span if tracer else (lambda name: contextlib.nullcontext())
    out = []
    for q in order:
        sc.setJobGroup(f"perfbench.{q}", q)
        t0 = time.perf_counter()
        with span(f"queries.construct.{q}"):
            df = registry[q].fn(spark, data_dir)
        t1 = time.perf_counter()
        with span(f"queries.action.{q}"):
            h = result_hash(df)
        t2 = time.perf_counter()
        out.append({"query": q, "construct_s": t1 - t0, "action_s": t2 - t1,
                    "hash": h})
    sc.setJobGroup("perfbench", "")
    return out


def _pass_s(records) -> float:
    return sum(r["construct_s"] + r["action_s"] for r in records)


def _check(records, expected) -> int:
    return sum(1 for r in records if expected.get(r["query"]) != r["hash"])


def query_order(seed: int) -> list[str]:
    order = list(DEDUP_QUERIES)
    random.Random(seed).shuffle(order)
    return order


def single_core(args, run_dir) -> float:
    """Cold run of the first BASELINE_QUERIES queries of the seed's order
    on local[1]; the traced run compares it with the same queries of its
    own cold pass on local[4]."""
    from realtime_log_analytics_flink_kafka_spark.queries import all_queries

    data_dir = os.path.join(run_dir, "data")
    make_inputs(data_dir)
    spark, _ = common.start_spark()
    try:
        order = query_order(args.seed)[:BASELINE_QUERIES]
        return _pass_s(run_pass(spark, all_queries(), order, data_dir))
    finally:
        common.stop_spark(spark)


def run(args, run_dir) -> dict:
    from perfbench.tracing import Tracer, event_log_totals
    from realtime_log_analytics_flink_kafka_spark.queries import all_queries

    layer = common.per_layer_template()
    data_dir = os.path.join(run_dir, "data")
    t0 = time.perf_counter()
    sizes = make_inputs(data_dir)
    layer["sources.stage_s"] = (time.perf_counter() - t0, "s")

    spark, start_s = common.start_spark()
    layer["session.start_s"] = (start_s, "s")
    registry = all_queries()
    order = query_order(args.seed)

    if args.record:
        expected = {}
    else:
        with open(EXPECTED) as f:
            expected = json.load(f)["dedup_batch"]

    # untimed warm-up pass: JIT, codegen and parquet footers settle here
    warm = run_pass(spark, registry, order, data_dir)
    if args.record:
        expected = {r["query"]: r["hash"] for r in warm}
    failed = _check(warm, expected)
    attempted = len(warm)
    t_setup = time.perf_counter()

    passes = max(1, round(args.seconds / NOMINAL_PASS_S))
    meter = common.Meter(spark)
    timed = []
    for _ in range(passes):
        timed.append(run_pass(spark, registry, order, data_dir))
    failed += sum(_check(p, expected) for p in timed)
    attempted += sum(len(p) for p in timed)
    pass_s = [_pass_s(p) for p in timed]
    timed_load = meter.read()
    wall_s = statistics.median(pass_s)
    op_p50 = statistics.median(r["construct_s"] + r["action_s"]
                               for p in timed for r in p)
    layer["ops.p50_s"] = (op_p50, "s")

    tracer = None
    if args.trace:
        tracer = Tracer()
        tracer.install()
        try:
            w0 = common.epoch_ms()
            traced = run_pass(spark, registry, order, data_dir, tracer)
            w1 = common.epoch_ms()
            t0 = time.perf_counter()
            from realtime_log_analytics_flink_kafka_spark.sources.batch import (
                load_table)
            for name in ("documents", "embeddings"):
                load_table(spark, data_dir, name).write.format("noop") \
                    .mode("overwrite").save()
            layer["sources.load_table_s"] = (time.perf_counter() - t0, "s")
        finally:
            tracer.uninstall()
        failed += _check(traced, expected)
        attempted += len(traced)

    peak = common.peak_rss_mb(spark)
    live = common.live_heap_mb(spark)
    prov = common.provenance(spark, args, sizes)
    common.stop_spark(spark)

    if args.record:
        with open(EXPECTED, "w") as f:
            json.dump({"dedup_batch": expected}, f, indent=1, sort_keys=True)
            f.write("\n")

    summary = {"passes": passes, "pass_s": [round(x, 3) for x in pass_s],
               "warm_pass_s": round(_pass_s(warm), 3),
               "query_s": {r["query"]: round(r["construct_s"] + r["action_s"], 3)
                           for r in timed[0]},
               "op_p50_s": round(op_p50, 3),
               "timed_section": timed_load,
               "failed_frac (ratio)": failed / attempted}
    if tracer:
        layer["engine.peak_rss_mb"] = (peak, "MB")
        for r in traced:
            q = r["query"]
            layer[f"queries.construct_s.{q}"] = (r["construct_s"], "s")
            layer[f"queries.action_s.{q}"] = (r["action_s"], "s")
        layer["queries.construct_s"] = (sum(r["construct_s"] for r in traced), "s")
        layer["queries.action_s"] = (sum(r["action_s"] for r in traced), "s")
        for k, v in event_log_totals(common.event_log_files(
                os.path.join(run_dir, "eventlog")), w0, w1).items():
            layer[f"queries.{k}"] = (v, layer[f"queries.{k}"][1])
        for k, v in common.scale_metrics(tracer).items():
            layer[k] = (v, layer[k][1])
        traced_s = _pass_s(traced)
        layer["trace.wall_untraced_s"] = (wall_s, "s")
        layer["trace.wall_traced_s"] = (traced_s, "s")
        layer["trace.overhead_s"] = (traced_s - wall_s, "s")
        cold = _pass_s(warm[:BASELINE_QUERIES])
        cold1 = common.single_core_pass(args)
        layer["engine.pass_4core_s"] = (cold, "s")
        layer["engine.pass_1core_s"] = (cold1, "s")
        layer["engine.speedup_vs_1core"] = (cold1 / cold, "ratio")
        tracer.dump(os.path.join(common.WORK,
                                 f"trace-dedup_batch-{args.seed}.json"),
                    {"provenance": prov})

    rows_per_pass = 6 * N_DOCS + N_EMBEDDINGS
    return {
        "provenance": prov, "summary": summary,
        "attempted": attempted, "failed": failed,
        "end_to_end": {
            "setup_s": (t_setup - args.t_process, "s"),
            "wall_s": (wall_s, "s"),
            "events_per_s": (rows_per_pass / wall_s, "1/s"),
            "live_heap_mb": (live, "MB"),
        },
        "per_layer": layer,
    }
