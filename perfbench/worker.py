"""One benchmark run of one workload, in a fresh process.

Started by ``run.py`` with the generated input directory; writes a JSON
record to ``--out`` and exits. The program is driven only through
``session.get_spark``, ``queries.registry.all_queries``, the registered op
functions and ``oracle_check.duck_connection`` / ``oracle_check.compare``.

- Every op call is timed from the call into its registered function until
  its result is delivered, so plan build and the jobs the build launches
  are inside the timed interval.
- Warm passes deliver to Spark's ``noop`` sink. The cold pass (the first in
  the process) collects each result with ``toPandas()`` instead, and those
  results are compared with the DuckDB oracles after the pass, untimed; the
  outputs are at most a few thousand rows, so the collect costs about what
  the noop write does and the run needs no separate checking pass.
- The first ``WARMUP_PASSES`` warm passes are not measured: while they run
  the JIT is still compiling the planner, and each is faster than the last.
  Measured passes then run for ``--seconds`` (at least
  ``MIN_MEASURED_PASSES``).
- ``spark.catalog.clearCache()`` runs before every pass, outside the timing.
- All times in the record are wall times; ``run.py`` scales them by the
  reference loop's median time (``ref_loop_s``) into the normalized metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

T_START = time.perf_counter()

from sdg_data_catalog_spark.session import get_spark  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
from layers import LayerTrace, plan_fingerprint, ref_loop  # noqa: E402
from workloads import MIN_MEASURED_PASSES, WARMUP_PASSES, WORKLOADS  # noqa: E402


class Collected:
    """Stands in for a DataFrame whose result was already collected:
    ``oracle_check.compare`` only calls ``toPandas()``."""

    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):
        return self.pdf


class Runner:
    def __init__(self, spark, ops: dict, data_dir: str):
        self.spark, self.ops, self.data_dir = spark, ops, data_dir
        self.attempted = 0
        self.failures: list[str] = []
        self.refs: list[float] = []  # every reference-loop time in the run

    def one_pass(self, call) -> tuple[float, list[float]]:
        """Run every op once, back to back. Returns the pass's wall time
        (the sum of its op calls) and the times of the ops that completed.
        A failed op is counted, not fatal. The reference loop is timed
        before each op and after the last, outside the op timings."""
        self.spark.catalog.clearCache()
        wall, ops = 0.0, []
        self.refs.append(ref_loop())
        for name, fn in self.ops.items():
            self.attempted += 1
            t = time.perf_counter()
            try:
                ops.append(call(name, fn))
            except Exception as e:  # noqa: BLE001
                self.failures.append(f"{name}: {type(e).__name__}: {str(e)[:300]}")
            wall += time.perf_counter() - t
            self.refs.append(ref_loop())
        return wall, ops

    def noop(self, name, fn) -> float:
        t = time.perf_counter()
        fn(self.spark, self.data_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t


def check_outputs(collected: dict, data_dir: str) -> dict:
    """Compare each collected result with its DuckDB oracle on the same
    files; also time the q1 oracle as host context."""
    from sdg_data_catalog_spark.oracle_check import compare, duck_connection
    from sdg_data_catalog_spark.queries.registry import all_oracles

    oracles = all_oracles()
    con = duck_connection(data_dir)
    try:
        wrong = {}
        for name, pdf in collected.items():
            try:
                err = compare(name, Collected(pdf), oracles[name], con)
            except Exception as e:  # noqa: BLE001 — reported as a wrong result
                err = f"exception: {type(e).__name__}: {str(e)[:300]}"
            if err:
                wrong[name] = err
        duck = []
        for _ in range(3):
            t = time.perf_counter()
            con.execute(oracles["q1_pricing_summary"]).df()
            duck.append(time.perf_counter() - t)
    finally:
        con.close()
    return {"wrong": wrong, "duckdb_q1_oracle_s": statistics.median(duck)}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--data", required=True)
    ap.add_argument("--root", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", required=True)
    ap.add_argument("--spans", default=None)
    a = ap.parse_args()
    w = WORKLOADS[a.workload]

    spark = get_spark("perfbench")
    t_session = time.perf_counter()
    from sdg_data_catalog_spark.queries.registry import all_queries

    registry = all_queries()
    t_ready = time.perf_counter()
    ready_wall = time.time()
    ops = {name: registry[name] for name in w.ops}
    runner = Runner(spark, ops, a.data)

    collected, plans, rows, cold_ops = {}, {}, {}, {}

    def collect(name, fn):
        t = time.perf_counter()
        df = fn(spark, a.data)
        pdf = df.toPandas()
        dt = cold_ops[name] = time.perf_counter() - t
        collected[name], rows[name] = pdf, len(pdf)
        # the physical plan as Catalyst chose it, before adaptive re-planning
        plans[name] = plan_fingerprint(
            df._jdf.queryExecution().sparkPlan().toString(), a.data, a.root
        )
        return dt

    cold_s, _ = runner.one_pass(collect)
    for _ in range(WARMUP_PASSES):
        runner.one_pass(runner.noop)

    # Measured passes follow the warm-up passes, for --seconds. A traced run
    # brackets each traced pass with untraced ones (untraced, traced, ...,
    # untraced), so that the JIT's remaining progress does not bias the
    # overhead.
    passes, traced = [], []
    tracer = None
    if a.trace:
        tracer = LayerTrace(spark)
        tracer.span("session.start", T_START, t_session)
        tracer.span("registry.import", t_session, t_ready)
    window_end = time.perf_counter() + a.seconds
    while len(passes) < MIN_MEASURED_PASSES or time.perf_counter() < window_end:
        passes.append(runner.one_pass(runner.noop))
        if tracer is not None:
            tracer.start_pass()
            t0 = time.perf_counter()
            root = tracer.span("pass", t0, t0, None, pass_no=len(traced))
            wall, _ = runner.one_pass(
                lambda name, fn: tracer.run_op(name, fn, a.data, len(traced), root)
            )
            tracer.spans[root]["end"] = t0 + wall
            tracer.end_pass()
            traced.append(wall)
    if tracer is not None:
        passes.append(runner.one_pass(runner.noop))

    record = {
        "workload": w.name,
        "ready_wall": ready_wall,
        "session_start_s": t_session - T_START,
        "registry_import_s": t_ready - t_session,
        "cold_pass_s": cold_s,
        "cold_op_times_s": cold_ops,
        "passes_s": [wall for wall, _ in passes],
        "op_times_s": [t for _, ops in passes for t in ops],
        "ref_loop_s": statistics.median(runner.refs),
        "ref_loop_samples": len(runner.refs),
        "attempted": runner.attempted,
        "failures": runner.failures,
        "plans": plans,
        "rows": rows,
    }
    if tracer is not None:
        layers = {
            k: statistics.median(p.get(k, 0.0) for p in tracer.passes)
            for k in sorted({k for p in tracer.passes for k in p})
        }
        layers.update(tracer.storage())
        layers["session.start_s"] = t_session - T_START
        layers["registry.import_s"] = t_ready - t_session
        layers["trace.overhead_s"] = statistics.median(traced) - statistics.median(
            wall for wall, _ in passes
        )
        record["layers"] = layers
        record["traced_passes_s"] = traced
        if a.spans:
            with open(a.spans, "w") as fh:
                json.dump(tracer.spans, fh)
    record["host"] = {
        "nproc": len(os.sched_getaffinity(0)),
        "spark_version": spark.version,
        "jvm_max_heap_mb": spark._jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**20,
    }
    spark.stop()
    check = check_outputs(collected, a.data)
    record["wrong"] = check["wrong"]
    record["host"]["duckdb_q1_oracle_s"] = check["duckdb_q1_oracle_s"]
    with open(a.out, "w") as fh:
        json.dump(record, fh)
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001 — report and fail the run
        traceback.print_exc()
        sys.exit(1)
