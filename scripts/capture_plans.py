#!/usr/bin/env python
"""Capture .explain('formatted') for named headline queries into
plans/r11/<query>_<tag>.txt (judge evidence for the r11 optimization
round). Usage: python scripts/capture_plans.py <tag> [query ...]"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.chdir(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from australia_company_etl_pipeline_spark import plans  # noqa: E402
from australia_company_etl_pipeline_spark.operators import (  # noqa: E402
    staging,
)
from australia_company_etl_pipeline_spark.plancheck import (  # noqa: E402
    formatted_plan,
)
from australia_company_etl_pipeline_spark.session import get_spark  # noqa: E402

TAG = sys.argv[1]
NAMES = sys.argv[2:] or list(plans.REGISTRY)
SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT = os.path.join("plans", os.environ.get("SPARK_GRAFT_PLANS_DIR", "r12"))
os.makedirs(OUT, exist_ok=True)

spark = get_spark("plan-capture")
spark.sparkContext.setLogLevel("ERROR")
for name in NAMES:
    df = plans.REGISTRY[name].builder(spark, SF)
    with open(os.path.join(OUT, f"{name}_{TAG}.txt"), "w") as f:
        f.write(formatted_plan(df))
    print("captured", name, flush=True)
    staging.release()
spark.stop()
