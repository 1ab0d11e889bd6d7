"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. It generates the workload's input from the
seed, empties the package's scratch namespace for that input, runs the
workload in a fresh worker process (``worker.py``) and prints every metric
with its unit; the last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer metrics of a traced run.
Full records (per-op times, plan fingerprints, oracle results, host
context, spans) are written under ``perfbench/_work/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
RUN_LIMIT_S = 170  # every run must end within 180 s

sys.path.insert(0, HERE)
import gen  # noqa: E402
from layers import cpu_counters, steal_share  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# Time of the reference loop (``layers.ref_loop``) on a calm 4-vCPU Xeon
# (Sapphire Rapids) virtual machine. A ``*_norm_s`` metric is a wall time
# scaled by REF_S / (the loop's median time over the run): what the op or
# pass would take with the host running at that calm speed.
REF_S = 0.036
END_TO_END = {
    "setup_s": "s",
    "cold_pass_norm_s": "s",
    "pass_norm_s": "s",
    "op_p50_norm_s": "s",
    "op_p90_norm_s": "s",
}
PER_LAYER = (
    ("session.start_s", "s"),
    ("registry.import_s", "s"),
    ("queries.build_s", "s"),
    ("queries.build_jobs", "count"),
    ("queries.build_job_s", "s"),
    ("queries.build_python_s", "s"),
    ("catalyst.analysis_s", "s"),
    ("catalyst.optimization_s", "s"),
    ("catalyst.planning_s", "s"),
    ("exec.s", "s"),
    ("exec.jobs", "count"),
    ("exec.stages", "count"),
    ("exec.tasks", "count"),
    ("exec.cpu_s", "s"),
    ("exec.gc_s", "s"),
    ("catalog.scan_files", "count"),
    ("catalog.scan_bytes", "B"),
    ("catalog.scan_rows", "count"),
    ("catalog.scan_time_s", "s"),
    ("catalog.rows_scanned_per_output_row", "ratio"),
    ("exec.shuffle_write_bytes", "B"),
    ("exec.shuffle_records", "count"),
    ("exec.fetch_wait_s", "s"),
    ("exec.agg_peak_mem_mb", "MiB"),
    ("exec.spill_bytes", "B"),
    ("exec.sort_fallback_tasks", "count"),
    ("exec.broadcast_build_s", "s"),
    ("exec.broadcast_bytes", "B"),
    ("operators.py_start_s", "s"),
    ("operators.py_init_s", "s"),
    ("operators.py_run_s", "s"),
    ("operators.py_bytes_sent", "B"),
    ("operators.py_bytes_returned", "B"),
    ("sources.write_files", "count"),
    ("sources.write_bytes", "B"),
    ("sources.write_rows", "count"),
    ("sources.write_amp", "ratio"),
    ("sources.scratch_mb_after", "MiB"),
    ("storage.persisted_rdds_after", "count"),
    ("storage.mem_mb_after", "MiB"),
    ("storage.heap_after_gc_mb", "MiB"),
    ("trace.overhead_s", "s"),
)


def dir_mb(path: str) -> float:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total / 2**20


def _live_members(pgid: int) -> list[int]:
    """PIDs in process group pgid that have not exited (zombies, which have
    exited and only wait to be reaped by init, are left out)."""
    live = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        state, _ppid, pgrp = stat[stat.rindex(")") + 2 :].split()[:3]
        if int(pgrp) == pgid and state != "Z":
            live.append(int(pid))
    return live


def _stop_group(proc: subprocess.Popen) -> None:
    """Kill whatever is left of the worker's process group (its JVM and
    Python workers; the worker has already stopped Spark when it exits
    normally) and wait until every member has exited."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.monotonic() + 10.0
    while _live_members(proc.pid) and time.monotonic() < deadline:
        time.sleep(0.02)


def worker_env() -> dict[str, str]:
    """Keep every file the run writes inside the checkout and give Spark one
    task slot per core."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        SPARK_SUBMIT_OPTS=f"-Djava.io.tmpdir={tmp}",
        TMPDIR=tmp,
        PYTHONPATH=ROOT,
        PYTHONHASHSEED="0",
    )
    return env


def run_worker(args: list[str], deadline: float) -> tuple[float, float, int]:
    """Start worker.py in its own process group; returns (start wall time,
    CPU steal share while it ran, exit code). Its output goes to our stderr,
    so stdout holds only results."""
    t0, c0 = time.time(), cpu_counters()
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), *args],
        cwd=ROOT,
        env=worker_env(),
        stdout=sys.stderr,
        stderr=sys.stderr,
        start_new_session=True,
    )
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        code = -1
    finally:
        _stop_group(proc)
    return t0, steal_share(c0, cpu_counters()), code


def p50_p90(xs: list[float]) -> tuple[float, float]:
    # p90 is interpolated between order statistics, so not just the slowest call
    return statistics.median(xs), statistics.quantiles(xs, n=10, method="inclusive")[8] if len(xs) > 1 else xs[0]


def end_to_end(
    setup_s: float, cold_s: float, passes: list[float], ops: list[float], ref_s: float
) -> tuple[dict[str, float], dict[str, float]]:
    """The end-to-end metrics, and the same times as plain wall times, which
    are printed and recorded but not gated. ``ref_s`` is the reference
    loop's median time over the run."""
    op_p50, op_p90 = p50_p90(ops)
    wall = {
        "cold_pass_s": cold_s,
        "pass_s": statistics.median(passes),
        "op_p50_s": op_p50,
        "op_p90_s": op_p90,
    }
    metrics = {"setup_s": setup_s}
    metrics.update((f"{name[:-2]}_norm_s", t * REF_S / ref_s) for name, t in wall.items())
    return metrics, {**wall, "ref_loop_s": ref_s}


def per_layer(rec: dict, scratch: str) -> dict[str, float]:
    layers = dict(rec["layers"])
    out_rows = sum(rec["rows"].values())
    layers["catalog.rows_scanned_per_output_row"] = layers.get("catalog.scan_rows", 0.0) / max(1, out_rows)
    scan_bytes = layers.get("catalog.scan_bytes", 0.0)
    layers["sources.write_amp"] = layers.get("sources.write_bytes", 0.0) / scan_bytes if scan_bytes else 0.0
    layers["sources.scratch_mb_after"] = dir_mb(scratch)
    return {name: layers.get(name, 0.0) for name, _ in PER_LAYER}


def main() -> int:
    started = time.monotonic()
    # on SIGTERM, unwind through run_worker's finally, which stops the worker
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "sdg_data_catalog_spark", "session.py")):
        print("perfbench: run from a checkout that holds sdg_data_catalog_spark", file=sys.stderr)
        return 2
    w = WORKLOADS[a.workload]
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    tag = f"{w.name}-seed{a.seed}-trace{a.trace}"

    data_dir = os.path.join(WORK, "inputs", w.basename)
    shutil.rmtree(data_dir, ignore_errors=True)
    t = time.perf_counter()
    rows = gen.write(data_dir, w.sf, a.seed, w.replica)
    gen_s = time.perf_counter() - t
    scratch = os.path.join(ROOT, ".scratch", w.basename)
    shutil.rmtree(scratch, ignore_errors=True)
    shutil.rmtree(os.path.join(WORK, "spark-local"), ignore_errors=True)

    out = os.path.join(results, f"{tag}.json")
    if os.path.exists(out):
        os.remove(out)
    argv = ["--workload", w.name, "--data", data_dir, "--root", ROOT,
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--out", out]
    if a.trace:
        argv += ["--spans", os.path.join(results, f"{tag}-spans.json")]
    t0, steal, code = run_worker(argv, started + RUN_LIMIT_S)
    if code != 0 or not os.path.exists(out):
        print(f"perfbench: worker failed (exit {code})", file=sys.stderr)
        return 1
    with open(out) as fh:
        rec = json.load(fh)

    failed = len(rec["failures"])
    n_ops = len(rec["op_times_s"])
    if not n_ops:
        print("perfbench: every warm op call failed", file=sys.stderr)
        return 1
    rec["host"]["cpu_steal_share"] = steal
    e2e, wall = end_to_end(rec["ready_wall"] - t0, rec["cold_pass_s"], rec["passes_s"],
                           rec["op_times_s"], rec["ref_loop_s"])
    if a.trace:
        units = dict(PER_LAYER)
        metrics = {n: {"value": v, "unit": units[n]} for n, v in per_layer(rec, scratch).items()}
    else:
        metrics = {n: {"value": v, "unit": END_TO_END[n]} for n, v in e2e.items()}
    rec.update(gen_s=gen_s, input_rows=rows, seed=a.seed, metrics=metrics, end_to_end=e2e, wall=wall,
               failed_ops=failed / rec["attempted"], wrong_results=len(rec["wrong"]))
    with open(out, "w") as fh:
        json.dump(rec, fh, indent=1)

    for name, m in metrics.items():
        print(f"{name:40s} {m['value']:14.4f} {m['unit']}")
    for name, v in wall.items():
        print(f"{name:40s} {v:14.4f} s (wall time, not gated)")
    print(f"{'failed_ops':40s} {rec['failed_ops']:14.4f} ratio ({failed}/{rec['attempted']} op calls)")
    print(f"{'wrong_results':40s} {len(rec['wrong']):14d} count (of {len(w.ops)} ops vs DuckDB)")
    print(f"op samples {n_ops}, measured passes {len(rec['passes_s'])}, "
          f"reference loop samples {rec['ref_loop_samples']}, "
          f"input generation {gen_s:.2f} s, host {json.dumps(rec['host'])}")
    for name, err in rec["wrong"].items():
        print(f"wrong: {name}: {err}")
    for err in rec["failures"]:
        print(f"failed: {err}")
    print(json.dumps({"correct": not rec["wrong"], "attempted": rec["attempted"],
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
