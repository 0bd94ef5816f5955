#!/usr/bin/env python
"""Write .explain("formatted") for catalog queries WITHOUT executing
them (plan-only — cheap enough to run alongside other work).

Usage: python tools/capture_plans.py OUTDIR SUFFIX q1 q2 ...
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from marketingcloud_etl_spark.operators.ranking import release_ranking_caches  # noqa: E402
from marketingcloud_etl_spark.plans.catalog import load_all  # noqa: E402
from marketingcloud_etl_spark.session import get_spark  # noqa: E402


def main() -> None:
    outdir, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    os.makedirs(outdir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    registry = load_all()
    spark = get_spark(app_name="capture-plans", master="local[4]")
    for name in names:
        try:
            df = registry[name].fn(spark, sf_dir)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(outdir, f"{name}_{suffix}.txt"), "w") as fh:
                fh.write(txt)
            print("wrote", name, flush=True)
        except Exception as ex:  # state-building queries may need actions
            print("SKIP", name, str(ex)[:120], flush=True)
        release_ranking_caches()
    spark.stop()


if __name__ == "__main__":
    main()
