"""Capture .explain("formatted") for named queries into plans/<tag>/.

Usage:
    python tools/capture_plans.py <tag> <suffix> [name ...]

Writes plans/<tag>/<name>_<suffix>.txt for each query name (default: the
bench HEADLINE set) at the tier $SPARK_GRAFT_SF_DIR (default sf0.1).
"""

from __future__ import annotations

import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r14"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    import bench
    from sdg_data_catalog_spark.queries.registry import all_queries
    from sdg_data_catalog_spark.session import get_spark

    names = sys.argv[3:] or list(bench.HEADLINE)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(_REPO, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark("capture-plans")
    bench._apply_runtime_confs(spark)

    qs = all_queries()
    for name in names:
        df = qs[name](spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(f"# {name} @ {sf_dir} ({suffix})\n\n{plan}")
        print("wrote", path)
    spark.stop()


if __name__ == "__main__":
    main()
