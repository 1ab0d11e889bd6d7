"""Full-run steady timing of registered ops (bench `_timed_full_run`
methodology: plan rebuild + noop-write inside the timed region, 1 warmup,
min of N reps, cache cleared and GC barrier per rep, both untimed).

Usage:
    python tools/ab_op.py <sf_dir> <reps> <name> [name ...]
"""

from __future__ import annotations

import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def main() -> None:
    sf_dir, reps = sys.argv[1], int(sys.argv[2])
    names = sys.argv[3:]
    import bench
    from sdg_data_catalog_spark.queries.registry import all_queries
    from sdg_data_catalog_spark.session import get_spark

    spark = get_spark("ab-op")
    bench._apply_runtime_confs(spark)
    qs = all_queries()
    for name in names:
        spark.sparkContext.setJobDescription(f"ab:{name}")
        acc: list[float] = []
        bench._timed_full_run(qs, name, spark, sf_dir, acc, reps=0)  # warm
        for _ in range(reps):
            spark.catalog.clearCache()
            bench._gc_barrier(spark)
            t0 = time.perf_counter()
            df = qs[name](spark, sf_dir)
            bench._execute(df)
            acc.append(time.perf_counter() - t0)
        print(
            f"{name}: min {min(acc):.3f}s  reps {[round(x, 3) for x in acc]}",
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
