#!/usr/bin/env python
"""Capture .explain('formatted') for every registered gate into
<name>_<tag>.txt next to this script. Usage: capture_plans.py <tag> [name ...]
(default: all gates). Runs each gate function once (fixture work
executes eagerly) and explains the returned DataFrame."""
import os
import sys

sys.path.insert(0, "/root/repo")

TAG = sys.argv[1] if len(sys.argv) > 1 else "before"
ONLY = set(sys.argv[2:])

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT = os.path.dirname(os.path.abspath(__file__))

from pyspark.sql import SparkSession  # noqa: E402

spark = (
    SparkSession.builder.master("local[8]")
    .appName("plan_capture")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.driver.memory", "16g")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

import __spark_entry__ as entry_mod  # noqa: E402

qs = entry_mod.queries()
names = [n for n in sorted(qs) if not ONLY or n in ONLY]
for name in names:
    try:
        df = qs[name](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
    except Exception as ex:  # noqa: BLE001
        plan = f"ERROR: {type(ex).__name__}: {ex}"
    with open(os.path.join(OUT, f"{name}_{TAG}.txt"), "w") as fh:
        fh.write(plan)
    print(name, "ok" if not plan.startswith("ERROR") else plan[:120], flush=True)
spark.stop()
