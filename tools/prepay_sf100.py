"""One-time sf100 layout build + full-headline dry run.

Pre-pays what bench would otherwise pay inside its budget: the bucketed
layout copy under .scratch/sf100 that q18_bucketed reads (ingest-time
cost of the deployment story), and one rehearsal of the full 10-query
headline with the DuckDB baseline so pathological entries surface HERE,
not in the official record.

Usage: python tools/prepay_sf100.py
"""

from __future__ import annotations

import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)


def main() -> int:
    sf100 = os.path.join(_REPO, ".scratch", "sf100")
    if not os.path.isfile(os.path.join(sf100, "_COMPLETE")):
        print("sf100 replica absent; run bench with SPARK_GRAFT_SF100=1 first")
        return 1

    from sdg_data_catalog_spark.queries import scale_ops as sops
    from sdg_data_catalog_spark.queries.registry import all_oracles, all_queries
    from sdg_data_catalog_spark.session import get_spark

    spark = get_spark("prepay-sf100")

    t0 = time.time()
    sops._ensure_bucketed_tables(spark, sf100)
    print(f"bucketed layout: {time.time() - t0:.1f}s", flush=True)

    from bench import HEADLINE, SF1_TABLES, _duckdb_baseline

    qs = all_queries()
    for name in (n for n in HEADLINE if n in qs):
        try:
            df = qs[name](spark, sf100)
            df.collect()  # warm
            reps = []
            for _ in range(2):
                t0 = time.perf_counter()
                df.collect()
                reps.append(time.perf_counter() - t0)
            print(f"spark {name}: {min(reps):.3f}s (reps {[round(r,3) for r in reps]})", flush=True)
        except Exception as e:  # noqa: BLE001
            print(f"spark {name}: ERROR {str(e).splitlines()[0][:160]}", flush=True)

    t0 = time.time()
    base = _duckdb_baseline([n for n in HEADLINE if n in all_oracles()], sf100, tables=SF1_TABLES)
    print(f"duckdb baseline ({time.time() - t0:.1f}s): {base}", flush=True)
    print(f"duckdb total: {sum(base.values()):.2f}s", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
