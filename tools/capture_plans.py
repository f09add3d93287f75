#!/usr/bin/env python
"""Capture .explain("formatted") for named queries into plans/<dir>/.

Usage: python tools/capture_plans.py <suffix> name [name ...]
Writes plans/<dir>/<name>_<suffix>.txt (suffix: before/after), where
<dir> is ``$SPARK_GRAFT_PLANS_DIR`` (default ``r17``); the tables are
read from ``$SPARK_GRAFT_SF_DIR`` (default sf0.1).
NOTE: for catalog fns that materialize eagerly inside fn(), the
captured plan is the FINAL stage's plan (upstream stages appear as
scans of checkpointed RDDs); that is the honest shape of what the
last job executes.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gomaxscale_spark.plans import all_queries
from gomaxscale_spark.session import get_session


def main() -> None:
    suffix = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", os.environ.get("SPARK_GRAFT_PLANS_DIR", "r17")
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_session("capture_plans")
    registry = all_queries()
    for name in names:
        df = registry[name].fn(spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} chars)", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
