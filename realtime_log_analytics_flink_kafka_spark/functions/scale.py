"""Driver-side concurrency for query construction.

Several composed queries (the dedup agreement / detector / cluster
family) build two independent legs, each ending in an eager
``localCheckpoint`` barrier.  Built inline, the second leg's jobs wait
for the first leg's to finish; :func:`par_build` builds them from
driver threads so their jobs share the executors.

Scan parallelism is not set here: it comes from the input's splits, and
no operator repartitions its input (``tests/test_plans.py`` rejects any
round-robin exchange in the registry).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def par_build(*thunks):
    """Build independent query legs from driver threads (optimization
    guide §2.6: actions are only sequential because driver code calls
    them sequentially).  Operators that materialize eagerly
    (localCheckpoint barriers, convergence-probe actions) serialize one
    leg behind another when built inline; building each leg in its own
    thread lets their jobs interleave, so one leg's stage tail
    back-fills the cores the other leg is not using.  Returns the
    thunks' results in order; exceptions propagate.

    Measured: building the legs serially instead costs the
    ``dedup_batch`` benchmark workload 11 % ``wall_s`` (median 19.6 ->
    21.7 s, slower on 5 of 5 interleaved seeds, ``local[4]``)."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(t) for t in thunks]
        return [f.result() for f in futures]


def fan_out(df: DataFrame) -> DataFrame:
    """Identity with no callers.  Kept only because the benchmark's
    tracer (``perfbench/tracing.py``) binds ``scale.fan_out`` by name
    when it installs its wrappers; delete it together with that wrapper
    in the next benchmark change."""
    return df
