"""Capture .explain('formatted') for named queries into plans/r12/.

Usage: python tools/capture_plans.py <suffix> q268 q277 ...

Writes plans/r12/<full_name>_<suffix>.txt for each query. Explain is
driver-side; builders that run eager jobs during construction (the
iterative graph queries) will execute those jobs, so captures are
cheap but not free.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from movie_data_pipeline_spark.operators.util import query_scope  # noqa: E402
from movie_data_pipeline_spark.plans import REGISTRY  # noqa: E402
from movie_data_pipeline_spark.session import get_spark  # noqa: E402


def main() -> int:
    suffix = sys.argv[1]
    prefixes = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        os.environ.get("SPARK_GRAFT_PLANS_DIR", "r13"),
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="plan-capture")
    spark.sparkContext.setLogLevel("ERROR")
    names = [
        n
        for n in REGISTRY
        if any(n == p or n.startswith(p + "_") for p in prefixes)
    ]
    for name in names:
        with query_scope():
            df = REGISTRY[name].build(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"{name}: {plan.count('Exchange')} Exchange -> {path}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
