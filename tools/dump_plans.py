"""Dump ``.explain("formatted")`` for registry queries to files.

The optimization rounds commit plans/r<N>/<query>_{before,after}.txt
so plan claims are checkable without running Spark. Usage:

    python tools/dump_plans.py <suffix> <outdir> <query> [<query> ...]

e.g. ``python tools/dump_plans.py after plans/r18 termvectors_docs``
writes ``plans/r18/termvectors_docs_after.txt``. Runs at sf0.01 (plan
shape is scale-independent; AQE initial plans identical across sfs).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def main() -> None:
    suffix, outdir, *names = sys.argv[1:]
    from aws_dms_cdc_data_pipeline_spark.plans.queries import REGISTRY
    from aws_dms_cdc_data_pipeline_spark.session import get_spark

    spark = get_spark("dump_plans")
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        spark.catalog.clearCache()
        df = REGISTRY[name].fn(spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan.splitlines())} lines)")


if __name__ == "__main__":
    main()
