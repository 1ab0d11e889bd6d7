"""Tests of the benchmark's own code (no Spark session is started).

Run with ``python3 -m pytest perfbench -q`` from the repository root.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
from layers import _union_s, cpu_counters, parse_metric, plan_fingerprint, steal_share  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def _tables(path):
    return {f[:-8]: pq.read_table(os.path.join(path, f)) for f in sorted(os.listdir(path))}


def test_same_seed_same_inputs(tmp_path):
    gen.write(str(tmp_path / "a"), 0.001, seed=5, replica=2)
    gen.write(str(tmp_path / "b"), 0.001, seed=5, replica=2)
    a, b = _tables(tmp_path / "a"), _tables(tmp_path / "b")
    assert a.keys() == b.keys() and len(a) == 10
    for name in a:
        assert a[name].equals(b[name]), name


def test_seeds_keep_counts_schema_and_distributions(tmp_path):
    gen.write(str(tmp_path / "a"), 0.01, seed=1)
    gen.write(str(tmp_path / "b"), 0.01, seed=2)
    a, b = _tables(tmp_path / "a"), _tables(tmp_path / "b")
    for name in a:
        assert a[name].schema == b[name].schema, name
        assert a[name].num_rows == b[name].num_rows, name
    assert not a["lineitem"].equals(b["lineitem"])
    for t, col in (("lineitem", "l_quantity"), ("events", "value"), ("orders", "o_totalprice")):
        ma, mb = (np.mean(x[t][col].to_numpy()) for x in (a, b))
        assert abs(ma - mb) / ma < 0.05, (t, col)
    for x in (a, b):
        docs = x["documents"].to_pydict()
        assert docs["n_chars"] == [len(s) for s in docs["text"]]
        vecs = np.stack(x["embeddings"]["embedding"].to_numpy(zero_copy_only=False))
        assert np.allclose(np.linalg.norm(vecs, axis=1), 1.0, atol=1e-5)


def test_replica_rotates_each_copy():
    base = gen.base_tables(0.001, seed=3)
    rep = gen.replicate(base, 3)
    n = base["documents"].num_rows
    docs = rep["documents"].to_pydict()
    assert len(docs["doc_id"]) == 3 * n == len(set(docs["doc_id"]))
    words = base["documents"]["text"][0].as_py().split(" ")
    for i in range(3):
        r = i % len(words)
        assert docs["text"][i * n] == " ".join(words[r:] + words[:r])
    vecs = np.stack(rep["embeddings"]["embedding"].to_numpy(zero_copy_only=False))
    m = base["embeddings"].num_rows
    assert np.array_equal(vecs[m], np.roll(vecs[0], -1))
    ev = rep["events"]
    assert ev.num_rows == 3 * base["events"].num_rows
    assert len(set(ev["event_id"].to_pylist())) == ev.num_rows


@pytest.mark.parametrize(
    "kind,text,value",
    [
        ("sum", "6,932", 6932),
        ("size", "1015.0 KiB", 1015 * 1024),
        ("size", "total (min, med, max (stageId: taskId))\n1.5 MiB (1 KiB, 2 KiB, 3 KiB (stage 1.0: task 2))", 1.5 * 2**20),
        ("timing", "267 ms", 0.267),
        ("timing", "total (min, med, max (stageId: taskId))\n1.4 s (298 ms, 324 ms, 419 ms (stage 9.0: task 11))", 1.4),
        ("nsTiming", "2.0 m", 120.0),
    ],
)
def test_parse_metric(kind, text, value):
    assert parse_metric(kind, text) == pytest.approx(value)


def test_union_of_job_intervals():
    assert _union_s([(0, 2), (1, 3), (5, 6)]) == 4
    assert _union_s([]) == 0


def test_plan_fingerprint_ignores_ids_and_paths():
    a = "Project [x#12L, y#13] +- Scan parquet [plan_id=7] /ck1/data/lineitem.parquet"
    b = "Project [x#98L, y#99] +- Scan parquet [plan_id=42] /ck2/data/lineitem.parquet"
    assert plan_fingerprint(a, "/ck1/data") == plan_fingerprint(b, "/ck2/data")
    assert plan_fingerprint(a, "/ck1/data") != plan_fingerprint(a.replace("Project", "Filter"), "/ck1/data")


def test_op_percentiles_interpolate():
    # 12 samples (3 ops x 4 passes): p90 sits between the 2nd and 3rd slowest
    ops = [1.0, 2.0, 3.0] * 3 + [1.5, 2.5, 9.0]
    e2e, wall = run.end_to_end(1.0, 1.0, [6.0], ops, run.REF_S)
    assert e2e["op_p50_norm_s"] == wall["op_p50_s"] == 2.0
    assert e2e["op_p90_norm_s"] == pytest.approx(3.0)
    assert run.end_to_end(1.0, 1.0, [6.0], [4.0], run.REF_S)[0]["op_p90_norm_s"] == 4.0


def test_normalized_times_cancel_host_speed():
    """A run that is twice as slow because the host runs at half speed
    (the reference loop is twice as slow) has the same normalized times;
    set-up time is not normalized."""
    fast = run.end_to_end(8.0, 9.0, [3.0, 4.0], [1.0, 2.0], 0.03)
    slow = run.end_to_end(8.0, 18.0, [6.0, 8.0], [2.0, 4.0], 0.06)
    assert fast[0] == pytest.approx(slow[0])
    assert slow[1]["pass_s"] == 2 * fast[1]["pass_s"]
    assert fast[0]["pass_norm_s"] == pytest.approx(3.5 * run.REF_S / 0.03)


def test_steal_share():
    assert steal_share((100, 10), (500, 110)) == pytest.approx(0.25)
    assert steal_share((5, 0), (5, 0)) == 0.0
    busy, steal = cpu_counters()
    assert busy >= steal >= 0


def test_spec_matches_code():
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)
    assert [m["name"] for m in SPEC["end_to_end"]] == list(run.END_TO_END)
    assert [m["name"] for m in SPEC["per_layer"]] == [n for n, _ in run.PER_LAYER]
    for m in SPEC["end_to_end"]:
        assert run.END_TO_END[m["name"]] == m["unit"]
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])
    for w in WORKLOADS.values():
        assert "." not in w.basename


def test_metrics_from_a_record(tmp_path):
    ref = run.REF_S
    e2e, wall = run.end_to_end(8.0, 9.0, [3.0, 4.0], [1.0, 2.0, 1.5, 2.5], ref)
    assert e2e == pytest.approx(
        {"setup_s": 8.0, "cold_pass_norm_s": 9.0, "pass_norm_s": 3.5, "op_p50_norm_s": 1.75, "op_p90_norm_s": 2.35}
    )
    assert wall == pytest.approx(
        {"cold_pass_s": 9.0, "pass_s": 3.5, "op_p50_s": 1.75, "op_p90_s": 2.35, "ref_loop_s": ref}
    )
    rec = {
        "rows": {"a": 10, "b": 10},
        "layers": {"catalog.scan_rows": 200.0, "catalog.scan_bytes": 100.0, "sources.write_bytes": 50.0},
    }
    layers = run.per_layer(rec, str(tmp_path))
    assert list(layers) == [n for n, _ in run.PER_LAYER]
    assert layers["catalog.rows_scanned_per_output_row"] == 10.0
    assert layers["sources.write_amp"] == 0.5


def test_fails_without_the_program(tmp_path):
    """In a directory holding only the benchmark, it exits non-zero and
    prints no result."""
    root = os.path.dirname(HERE)
    shutil.copy(os.path.join(root, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("_work", "__pycache__"))
    p = subprocess.run(
        [sys.executable, *SPEC["command"][1:], "--workload", "relational", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
