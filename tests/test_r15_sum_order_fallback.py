"""r15 (VERDICT item 6): pin the F.sum order-identity assumption.

lm_kneser_ney_score and curation_ppl_band_select replaced their per-doc
position-ordered folds with plain F.sum("logp"), arguing the explode
emits each doc's bigrams in position order within one partition, the
broadcast model join preserves stream order, and the hash aggregate
accumulates one partial per doc — so the codegen'd sum IS the
pos-ordered fold. The known edge: under memory pressure
HashAggregateExec falls back to SORT-based aggregation, which splits a
group's rows into several partial buffers at spill boundaries and merges
them — re-associating the double additions — and a last-ulp flip could
move a doc across the floor(avg_logp·1e9) band key or the top-25 rank.

This test plants that fallback deliberately via Spark's internal testing
conf `spark.sql.TungstenAggregate.testFallbackStartsAt` ("n1,n2" =
switch partial/final aggregation to sort-based after that many keys):
with "1,1" every aggregate runs essentially sort-based with maximal
buffer splitting. Both ops must produce byte-identical results to their
no-fallback runs on the sf0.001 corpus. If Spark ever changes fallback
semantics in a way that re-orders these sums past the rounding guards,
this test is the tripwire — the fix then is the pre-r14 ordered fold.

Each op runs in a Spark process of its own, with a fixed 2 g heap and a
time bound. With maximal splitting every aggregated row becomes its own
spill, and the final merge opens one buffered reader per spill: that can
exhaust the heap, and a driver JVM that dies must fail this test only,
not every later test that shares the suite's session. The bound turns a
merge that grinds through thousands of spill files into a failure
instead of a hang.
"""

from __future__ import annotations

import contextlib
import json
import os
import signal
import subprocess
import sys
from pathlib import Path

_REPO = Path(__file__).resolve().parent.parent

_CHILD = """
import json, sys
from sdg_data_catalog_spark.queries.registry import all_queries
from sdg_data_catalog_spark.session import get_spark

name, sf_dir = sys.argv[1:3]
spark = get_spark("sum-order-fallback")
fn = all_queries()[name]


def rows():
    return sorted(tuple(r) for r in fn(spark, sf_dir).collect())


baseline = rows()
spark.conf.set("spark.sql.TungstenAggregate.testFallbackStartsAt", "1,1")
print(json.dumps({"baseline": baseline, "fallback": rows()}))
spark.stop()
"""


def _run_with_fallback(name: str, sf_dir: str, timeout: float = 300):
    """(baseline rows, rows with every aggregate sort-based) for one op,
    computed in a child process."""
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="2g")
    proc = subprocess.Popen(
        [sys.executable, "-c", _CHILD, name, sf_dir],
        cwd=_REPO,
        env=env,
        stdout=subprocess.PIPE,
        stderr=subprocess.PIPE,
        text=True,
        start_new_session=True,
    )
    try:
        out, err = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        out = None
    finally:
        # the child's JVM is in its process group: never leave it running
        with contextlib.suppress(ProcessLookupError):
            os.killpg(proc.pid, signal.SIGKILL)
    if out is None:
        proc.communicate()
        raise AssertionError(f"{name}: no result within {timeout:.0f} s")
    assert proc.returncode == 0, f"{name} child failed:\n{err[-3000:]}"
    res = json.loads(out.strip().splitlines()[-1])
    return res["baseline"], res["fallback"]


def test_kneser_ney_sum_survives_sort_agg_fallback(sf_dir):
    baseline, fallback = _run_with_fallback("lm_kneser_ney_score", sf_dir)
    assert len(baseline) == 25
    assert baseline == fallback


def test_ppl_band_select_survives_sort_agg_fallback(sf_dir):
    baseline, fallback = _run_with_fallback("curation_ppl_band_select", sf_dir)
    assert baseline  # non-empty band at sf0.001
    assert baseline == fallback
