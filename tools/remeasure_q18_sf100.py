"""q18_bucketed sf100 re-measurement (r12 verdict #3): the round-12 record
showed q18 27.6 s vs round-11's 18.2 s on the same q18_bucketed plan
(DuckDB 14.6 s, duck reps=1 / spark min-of-2). This reruns BOTH engines
with more reps so run variance can't masquerade as a regression:
spark = 1 warmup + N timed fresh-plan noop-writes with a GC barrier per
rep (bench's heavy-tier discipline), duck = N timed after 1 warmup.

Usage: python tools/remeasure_q18_sf100.py [reps]
"""

from __future__ import annotations

import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)


def main() -> int:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    sf100 = os.path.join(_REPO, ".scratch", "sf100")
    if not os.path.isfile(os.path.join(sf100, "_COMPLETE")):
        print("sf100 replica absent")
        return 1

    import duckdb

    from sdg_data_catalog_spark.queries.registry import all_oracles, all_queries
    from sdg_data_catalog_spark.session import get_spark

    spark = get_spark("remeasure-q18")
    qs, ors = all_queries(), all_oracles()

    def gc():
        spark.sparkContext._jvm.System.gc()
        time.sleep(1)

    def spark_rep() -> float:
        df = qs["q18_bucketed"](spark, sf100)
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    gc()
    warm = spark_rep()
    print(f"spark warmup: {warm:.2f}s", flush=True)
    times = []
    for i in range(reps):
        gc()
        t = spark_rep()
        times.append(t)
        print(f"spark rep {i+1}: {t:.2f}s", flush=True)
    print(f"spark min-of-{reps}: {min(times):.2f}s  all={['%.2f' % t for t in times]}")

    con = duckdb.connect()
    for t in ("customer", "orders", "lineitem", "nation", "region", "supplier", "part"):
        p = os.path.join(sf100, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    sql = ors["q18_large_orders"]
    t0 = time.perf_counter()
    con.execute(sql).fetchall()
    print(f"duck warmup: {time.perf_counter() - t0:.2f}s", flush=True)
    dtimes = []
    for i in range(reps):
        t0 = time.perf_counter()
        con.execute(sql).fetchall()
        t = time.perf_counter() - t0
        dtimes.append(t)
        print(f"duck rep {i+1}: {t:.2f}s", flush=True)
    print(f"duck min-of-{reps}: {min(dtimes):.2f}s  all={['%.2f' % t for t in dtimes]}")
    print(
        f"RESULT spark_min={min(times):.2f} duck_min={min(dtimes):.2f}"
        f" ratio={min(times)/min(dtimes):.2f}"
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
