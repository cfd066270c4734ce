"""Spans and counters for the traced run, recorded from the benchmark's own
files around calls into the package's layers.

A span is (id, parent, name, start, end) in ``time.perf_counter`` seconds.
Spans stay in memory and are written out once, at the end of the run.
Wrapping is done by swapping module attributes for wrappers and putting the
originals back afterwards; the package itself is not edited.
"""

from __future__ import annotations

import contextlib
import functools
import json
import sys
import threading
import time
from collections import defaultdict

from perfbench.common import PACKAGE


class Tracer:
    def __init__(self):
        self.spans: list[list] = []
        self.counts: dict[str, int] = defaultdict(int)
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, parent: int | None = None):
        stack = self._stack()
        if parent is None and stack:
            parent = stack[-1]
        rec = [len(self.spans), parent, name, time.perf_counter(), None]
        self.spans.append(rec)  # list.append is atomic under the GIL
        stack.append(rec[0])
        try:
            yield rec
        finally:
            rec[4] = time.perf_counter()
            stack.pop()

    def total(self, name: str) -> float:
        return sum(s[4] - s[3] for s in self.spans
                   if s[2] == name and s[4] is not None)

    def n(self, name: str) -> int:
        return sum(1 for s in self.spans if s[2] == name)

    # -- wrapping ---------------------------------------------------------

    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)
        return wrapper

    def patch_function(self, fn, name: str, wrapper=None) -> None:
        """Replace ``fn`` by a span-recording wrapper in every loaded module
        of the package that has bound it (``from x import fn`` copies the
        reference into the importing module)."""
        wrapper = wrapper or self._wrap(fn, name)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(PACKAGE):
                continue
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    self._patches.append((mod, attr, fn))
                    setattr(mod, attr, wrapper)

    def patch_method(self, cls, attr: str, name: str) -> None:
        orig = getattr(cls, attr)
        self._patches.append((cls, attr, orig))
        setattr(cls, attr, self._wrap(orig, name))

    def install(self) -> None:
        """Wrap the mechanisms of ``functions.scale``, the DataFrame
        materialization calls and the operator functions."""
        from pyspark.sql.classic.dataframe import DataFrame

        from realtime_log_analytics_flink_kafka_spark.functions import scale
        from realtime_log_analytics_flink_kafka_spark.operators import (
            detect, escalate, metrics)
        from realtime_log_analytics_flink_kafka_spark.sources import (
            batch, producer)
        from realtime_log_analytics_flink_kafka_spark.streaming import state

        self.patch_method(DataFrame, "localCheckpoint", "scale.checkpoint")
        self.patch_method(DataFrame, "persist", "scale.persist")
        self.patch_method(DataFrame, "cache", "scale.persist")

        tracer = self
        fan_out = scale.fan_out

        @functools.wraps(fan_out)
        def fan_out_traced(df):
            with tracer.span("scale.fan_out"):
                out = fan_out(df)
            if out is not df:
                tracer.counts["scale.fan_out_widened"] += 1
            return out
        self.patch_function(fan_out, "scale.fan_out", fan_out_traced)

        par_build = scale.par_build

        @functools.wraps(par_build)
        def par_build_traced(*thunks):
            with tracer.span("scale.par_build") as rec:
                # legs run in pool threads; give their spans this parent
                def leg(t):
                    def run():
                        with tracer.span("scale.par_build.leg", parent=rec[0]):
                            return t()
                    return run
                return par_build(*[leg(t) for t in thunks])
        self.patch_function(par_build, "scale.par_build", par_build_traced)

        for mod, fn_name in ((detect, "error_rate_alerts"),
                             (detect, "latency_p95"),
                             (escalate, "escalate_every_nth"),
                             (metrics, "escalation_metrics"),
                             (producer, "ticks_to_logs"),
                             (state, "escalate_every_n_stateful"),
                             (batch, "load_table")):
            self.patch_function(getattr(mod, fn_name),
                                f"construct.{fn_name}")

    def uninstall(self) -> None:
        for obj, attr, orig in reversed(self._patches):
            setattr(obj, attr, orig)
        self._patches.clear()

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": [dict(zip(("id", "parent", "name", "start",
                                           "end"), s)) for s in self.spans],
                       "counts": dict(self.counts), **extra}, f)


def event_log_totals(paths: list[str], t0_ms: float, t1_ms: float) -> dict:
    """Jobs, stages, tasks, shuffle bytes written and bytes spilled from a
    Spark event log, for work that started inside [t0_ms, t1_ms] (epoch
    milliseconds).  The benchmark is the only client, so the time window
    attributes work exactly; job groups are not used for attribution
    because ``par_build`` pool threads do not inherit them."""
    jobs = stages = tasks = 0
    shuffle = spill = 0
    for path in paths:
        with open(path) as f:
            events = [json.loads(line) for line in f]
        for ev in events:
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jobs += t0_ms <= ev["Submission Time"] <= t1_ms
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                stages += t0_ms <= info.get("Submission Time", -1) <= t1_ms
            elif kind == "SparkListenerTaskEnd":
                if not t0_ms <= ev["Task Info"]["Launch Time"] <= t1_ms:
                    continue
                tasks += 1
                m = ev.get("Task Metrics") or {}
                shuffle += m.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0)
                spill += (m.get("Memory Bytes Spilled", 0)
                          + m.get("Disk Bytes Spilled", 0))
    return {"jobs_n": jobs, "stages_n": stages, "tasks_n": tasks,
            "shuffle_write_mb": shuffle / 2**20, "spill_mb": spill / 2**20}
